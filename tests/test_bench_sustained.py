"""bench.py's sustained phase fails soft: when every launch fails, the
headline JSON keeps the already-timed queries, nulls the sustained
fields and records each launch's root cause (not its stderr tail)."""

from __future__ import annotations

import json
import subprocess

import bench

PLAN_TAIL = "\n".join(
    f"+- Project [doc_id#{i}, tokens#{i}, ops#{i}] plan line {i}" for i in range(200)
)
STDERR = (
    "Traceback (most recent call last):\n"
    '  File "bench.py", line 1, in <module>\n'
    "pyspark.errors.exceptions.captured.StreamingQueryException: "
    "[STREAM_FAILED] query terminated\n"
    "org.apache.spark.SparkException: Job aborted.\n"
    "\tat org.apache.spark.Foo.bar(Foo.scala:1)\n"
    "Caused by: java.lang.IllegalStateException: checkpoint dir collision\n"
    "\tat org.apache.spark.Baz.qux(Baz.scala:2)\n"
    "Caused by: java.io.IOException: second cause\n"
    "== Analyzed Logical Plan ==\n" + PLAN_TAIL
)


def test_all_launches_failed_keeps_results_and_root_cause(monkeypatch, tmp_path):
    assert len(PLAN_TAIL) > 2000
    calls = []

    def failing_run(cmd, **kw):
        calls.append(cmd)
        return subprocess.CompletedProcess(cmd, 1, stdout="", stderr=STDERR)

    monkeypatch.setattr(bench.subprocess, "run", failing_run)
    monkeypatch.setattr(bench, "RUNS_DIR", tmp_path)
    monkeypatch.setenv("TOKFORGE_SUSTAINED_LAUNCHES", "3")

    best, launches = bench.bench_stream_sustained("small", "vol")
    assert best is None
    assert len(calls) == len(launches) == 3
    for r in launches:
        err = r["error"]
        assert err["returncode"] == 1
        assert err["caused_by"] == (
            "Caused by: java.lang.IllegalStateException: checkpoint dir collision"
        )
        assert err["traceback"][0].startswith("Traceback (most recent call last)")
        assert "StreamingQueryException" in "\n".join(err["traceback"])
        assert "plan line" not in json.dumps(err)  # no logical-plan dump
    saved = json.loads((tmp_path / "sustained_latest.json").read_text())
    assert saved["best"] is None and len(saved["launches"]) == 3

    fields = bench.sustained_fields(best, launches)
    assert fields["sustained_volume_rows"] is None
    assert fields["sustained_volume_rows_per_sec"] is None
    assert fields["sustained_volume_tokens_per_sec"] is None
    assert fields["sustained_volume_launches"] == ["launch-failed"] * 3
    assert fields["sustained_error"]["failed_launches"] == 3
    assert "checkpoint dir collision" in fields["sustained_error"]["first"]["caused_by"]
    json.dumps(fields)  # the headline line stays printable


def test_successful_launch_fields_unchanged():
    best = {"seconds": 2.0, "rows": 100, "tokens_out": 1000, "tokens_per_sec": 500}
    launches = [
        {"launch": 0, "error": bench.launch_error(1, "boom")},
        dict(best, launch=1, slow_mode=False),
        {"launch": 2, "seconds": 4.0, "tokens_per_sec": 250, "slow_mode": True},
    ]
    fields = bench.sustained_fields(best, launches)
    assert fields == {
        "sustained_volume_rows": 100,
        "sustained_volume_rows_per_sec": 50,
        "sustained_volume_tokens_per_sec": 500,
        "sustained_volume_launches": ["launch-failed", 500, -250],
    }
    assert launches[0]["error"] == {"returncode": 1, "caused_by": None, "traceback": []}
