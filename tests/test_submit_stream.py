"""jobs/submit_stream.py argument contract: combinations that could never
finish are refused before Spark starts."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

JOB = Path(__file__).resolve().parent.parent / "jobs" / "submit_stream.py"


def test_ttl_without_continuous_is_rejected(tmp_path):
    """State TTL keeps timer-driven no-data batches coming, so an
    availableNow run with --ttl-ms > 0 would block in awaitTermination
    forever; the job must exit with a usage error naming --continuous."""
    try:
        out = subprocess.run(
            [
                sys.executable, str(JOB),
                "--input", str(tmp_path / "in"),
                "--output", str(tmp_path / "out"),
                "--checkpoint", str(tmp_path / "ckpt"),
                "--ttl-ms", "1000",
            ],
            capture_output=True,
            text=True,
            timeout=120,
        )
    except subprocess.TimeoutExpired:
        raise AssertionError("submit_stream.py --ttl-ms without --continuous hung")
    assert out.returncode == 2, (out.returncode, out.stderr[-2000:])
    assert "--continuous" in out.stderr, out.stderr[-2000:]
