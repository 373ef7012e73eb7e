"""One workload run in a fresh process (and so a fresh JVM).

``run.py`` starts this module's ``main`` as a child process per workload
run; the child builds the Spark session, derives the seed's inputs, runs
the workload and writes its result as JSON for the parent to print.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

import harness


def process_start_time() -> float:
    """Wall-clock time at which this process was started (from
    /proc/self/stat), so set-up time includes interpreter start-up and
    imports."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = process_start_time()

WORKLOADS = ("transform_signed", "stream_signed", "corpus_queries")


class Context:
    """Everything a workload run needs: its Spark session, paths, seed,
    run length, tracer and operation ledger."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: Path, cores: int, master: str | None = None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cache = work / "cache"
        self.run_dir = work / "runs" / f"{workload}-{seed}-{os.getpid()}"
        self.run_dir.mkdir(parents=True, exist_ok=True)
        self.cores = cores
        self.master = master or f"local[{cores}]"
        self.tracer = harness.Tracer(run_id=self.run_dir.name, enabled=trace)
        self.ledger = harness.Ledger()
        self.layers: dict[str, float] = {}
        self.notes: dict = {}
        self.input_gen_s = 0.0
        self.t_first_timed: float | None = None
        self.spark = None

    # -- inputs ----------------------------------------------------------

    def cache_path(self, name: str, key_files: tuple[str, ...]) -> Path:
        """Directory of a seed-independent cached input, keyed by the
        contents of the files it is derived with, so a change to any of
        them rebuilds it."""
        h = hashlib.sha1(name.encode())
        root = Path(__file__).resolve().parent
        for f in ("data.py", *key_files):
            h.update(((root.parent if f.startswith("tokforge/") else root) / f).read_bytes())
        return self.cache / f"{name}-{h.hexdigest()[:12]}"

    @staticmethod
    def require_cache(path: Path) -> None:
        if not (path / "_READY").exists():
            raise RuntimeError(f"cached inputs missing: {path} (run.py prepares them first)")

    # -- set-up ----------------------------------------------------------

    def start_session(self) -> None:
        from tokforge.engine.session import build_spark

        t0 = time.time()
        with self.tracer.span("engine.session.build_spark"):
            self.spark = build_spark(
                app_name=f"perfbench-{self.workload}",
                master=self.master,
                shuffle_partitions=self.cores,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.time() - t0

    def timed_start(self) -> None:
        """Mark the first timed operation: set-up ends here."""
        if self.t_first_timed is None:
            self.t_first_timed = time.time()

    @property
    def setup_s(self) -> float:
        return (self.t_first_timed - T_PROCESS) - self.input_gen_s

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                if gw.proc is not None:
                    gw.proc.stdin.close()
                    gw.proc.wait(timeout=60)
            self.spark = None


def digest_col(*cols: str):
    """Order-independent row-content digest term: xxhash64 of the row's
    columns folded below 2**40, so a sum over a million rows cannot
    overflow a long."""
    from pyspark.sql import functions as F

    return F.xxhash64(*cols) % F.lit(1 << 40)


def load_expected() -> dict:
    return json.loads((Path(__file__).resolve().parent / "expected.json").read_text())


def main(argv: list[str]) -> int:
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("--child", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--prepare", action="store_true",
                   help="only build the seed-independent cached inputs, if missing")
    a = p.parse_args(argv)

    import importlib

    mod = importlib.import_module(a.child)
    ctx = Context(a.child, a.seed, a.seconds, bool(a.trace), Path(a.work), a.cores, a.master)
    result: dict = {"workload": a.child, "seed": a.seed}
    try:
        if a.prepare:
            t0 = time.time()
            if not (mod.cache_dir(ctx) / "_READY").exists():
                mod.prepare(ctx)
            result["prepare_s"] = time.time() - t0
        else:
            result["metrics"] = mod.run(ctx)
            ctx.layers["peak_rss_mb"] = result["metrics"]["peak_rss_mb"]
    except Exception as exc:  # noqa: BLE001 - the run's boundary: record and report
        traceback.print_exc()
        ctx.ledger.fail(f"{a.child} run", exc)
        result["error"] = harness.root_cause(exc)
    finally:
        try:
            ctx.stop()
        except Exception as exc:  # noqa: BLE001 - teardown must not hide the result
            print(f"session stop failed: {harness.root_cause(exc)}", file=sys.stderr)
    result.update(
        attempted=ctx.ledger.attempted,
        failed=ctx.ledger.failed,
        mismatches=ctx.ledger.mismatches,
        causes=ctx.ledger.causes,
        layers=ctx.layers,
        notes=ctx.notes,
        input_gen_s=ctx.input_gen_s,
    )
    # the run's inputs and sinks are large and used up; the spans stay
    for p in ctx.run_dir.iterdir():
        if p.is_dir():
            shutil.rmtree(p)
        else:
            p.unlink()
    if ctx.trace:
        spans_path = ctx.run_dir / "spans.json"
        spans_path.write_text(json.dumps(ctx.tracer.spans))
        result["spans_path"] = str(spans_path)
        result["span_self_s"] = ctx.tracer.self_times()
    else:
        ctx.run_dir.rmdir()
    Path(a.out).write_text(json.dumps(result))
    return 0 if "error" not in result else 1
