"""Measurement helpers shared by the workloads: spans, failure records,
percentiles, RSS sampling, Spark plan metrics and host hygiene.

Nothing here imports Spark at module level, so the tests and the parent
process (which starts no JVM) can use it.
"""

from __future__ import annotations

import math
import os
import re
import signal
import statistics
import subprocess
import threading
import time
import traceback
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if xs[hi] == xs[lo]:  # also keeps inf (a drop never committed) from becoming nan
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that leaves at least ``beyond`` of
    ``n`` samples above it, or None when ``n`` is too small."""
    for q in range(99, 49, -1):
        if n * (100 - q) / 100.0 >= beyond:
            return q
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def closed_loop_tail(times: list[float]) -> float:
    """A closed loop's tail latency.  A run has far fewer than ten passes
    beyond any high percentile, and its slowest pass is mostly the end of
    warm-up, so the tail is the upper quartile of the passes."""
    return percentile(times, 75)


# ---------------------------------------------------------------------------
# failures
# ---------------------------------------------------------------------------


def root_cause(exc: BaseException | str) -> str:
    """The part of an error that names its cause: the first ``Caused by:``
    line of a JVM trace and the head of the innermost Python traceback (its
    last frame and the exception line).  Logical-plan dumps that Spark
    appends to analysis and streaming errors are dropped."""
    text = exc if isinstance(exc, str) else "".join(
        traceback.format_exception(type(exc), exc, exc.__traceback__)
    )
    lines = text.splitlines()
    out: list[str] = []
    caused = next((ln.strip() for ln in lines if ln.strip().startswith("Caused by:")), None)
    if caused:
        out.append(caused[:300])
    # the innermost Python traceback: "Traceback" header, the last frame and
    # the exception line that follows it
    tb_starts = [i for i, ln in enumerate(lines) if ln.startswith("Traceback (most recent call last)")]
    if tb_starts:
        seg = lines[tb_starts[-1]:]
        frames = [ln.strip() for ln in seg if ln.strip().startswith('File "')]
        exc_line = next(
            (ln.strip() for ln in seg[1:] if re.match(r"^[A-Za-z_][\w.]*(Error|Exception|Exit|Interrupt)\b", ln.strip())),
            None,
        )
        if frames:
            out.append(frames[-1][:300])
        if exc_line:
            out.append(exc_line[:300])
    if not out:
        head = next((ln.strip() for ln in lines if ln.strip()), "unknown error")
        out.append(head[:300])
    return " | ".join(out)


class Mismatch(Exception):
    """An output that differs from its expected value."""

    def __init__(self, what: str, got, want):
        super().__init__(f"{what}: got {got!r}, want {want!r}")
        self.what, self.got, self.want = what, got, want


@dataclass
class Ledger:
    """Operations attempted and failed, with the root cause of each
    failure.  Measured results stay valid when some operations fail."""

    attempted: int = 0
    failed: int = 0
    mismatches: int = 0
    causes: list[dict] = field(default_factory=list)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str, cause: BaseException | str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        self.causes.append({"op": what, "count": n, "cause": root_cause(cause)})

    def mismatch(self, what: str, got, want) -> None:
        self.attempted += 1
        self.failed += 1
        self.mismatches += 1
        self.causes.append({"op": what, "count": 1,
                            "cause": f"correctness mismatch: got {got!r}, want {want!r}"})

    def record(self, what: str, exc: BaseException) -> None:
        """Count a failed operation, as a correctness mismatch when it is
        one."""
        if isinstance(exc, Mismatch):
            self.mismatch(exc.what, exc.got, exc.want)
        else:
            self.fail(what, exc)

    def check(self, what: str, got, want) -> bool:
        if got == want:
            self.ok()
            return True
        self.mismatch(what, got, want)
        return False

    @property
    def error_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def closed_loop(ledger: Ledger, op: str, fn, seconds: float, min_passes: int = 3,
                max_consecutive_failures: int = 3) -> list[float]:
    """Run ``fn`` back to back (one client) until ``seconds`` have passed and
    at least ``min_passes`` passes succeeded; return the successful passes'
    wall times.  A pass that raises is recorded in ``ledger`` and the loop
    goes on, so the passes already timed are kept."""
    times: list[float] = []
    t_end = time.time() + seconds
    streak = 0
    while time.time() < t_end or len(times) < min_passes:
        t0 = time.time()
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - a failed pass is counted, not fatal
            ledger.record(op, exc)
            streak += 1
            if streak >= max_consecutive_failures:
                break
            continue
        times.append(time.time() - t0)
        ledger.ok()
        streak = 0
    return times


def interleaved(ledger: Ledger, tracer, op: str, fn, reps: int):
    """``reps`` pairs of passes, untraced then traced, for the traced run:
    returns the untraced and traced wall times and the spans each traced
    pass recorded.  Failures are recorded in ``ledger``."""
    untraced, traced, spans = [], [], []
    for _ in range(reps):
        for on in (False, True):
            tracer.enabled = on
            n0 = len(tracer.spans)
            t0 = time.time()
            try:
                fn()
            except Exception as exc:  # noqa: BLE001 - a failed pass is counted, not fatal
                ledger.record(op, exc)
                continue
            ledger.ok()
            (traced if on else untraced).append(time.time() - t0)
            if on:
                spans.append(tracer.spans[n0:])
    tracer.enabled = True
    return untraced, traced, spans


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out when
    the run ends.  Disabled, ``span`` is a no-op context manager."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> None:
        """Record a span measured elsewhere (a micro-batch from progress)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id})

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the union of its
        children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cur_s = cur_e = None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            self.idx = len(tr.spans)
            tr.spans.append({"id": self.idx, "name": self.name, "start": time.time(), "end": None,
                             "parent": tr._stack[-1] if tr._stack else None, "run": tr.run_id})
            tr._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        if tr.enabled:
            tr.spans[self.idx]["end"] = time.time()
            tr._stack.pop()
        return False


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


def core_count() -> int:
    return len(os.sched_getaffinity(0))


def kill_orphan_spark_jvms() -> list[int]:
    """SIGKILL SparkSubmit JVMs whose Python driver died (reparented to
    init).  A killed benchmark or test can leave one spinning on every
    core; a JVM that still has its Python parent is left alone."""
    try:
        out = subprocess.run(["pgrep", "-f", "SparkSubmit"], capture_output=True, text=True)
    except OSError:
        return []
    killed = []
    for tok in out.stdout.split():
        try:
            pid = int(tok)
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if pid == os.getpid() or ppid != 1:
            continue
        try:
            os.kill(pid, signal.SIGKILL)
            killed.append(pid)
        except OSError:
            pass
    return killed


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except (OSError, ValueError):
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, following each thread's children list
    (no scan of all of /proc)."""
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


class RssSampler:
    """Peak of the summed RSS of this process's descendants (the driver JVM
    and the Python workers it forks), sampled every ``interval`` seconds
    while active."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        total = sum(_rss_bytes(p) for p in descendants(os.getpid()))
        self.peak = max(self.peak, total)
        return total

    def __enter__(self):
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ---------------------------------------------------------------------------
# Spark plans
# ---------------------------------------------------------------------------

PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
                "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas", "ArrowWindowPython",
                "AggregateInPandas", "PythonMapInArrow")


def plan_nodes(jplan) -> list:
    """Every physical node under ``jplan``, looking through adaptive plans
    and query stages."""
    out, todo = [], [jplan]
    while todo:
        p = todo.pop()
        out.append(p)
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
            continue
        if "QueryStage" in name:
            todo.append(p.plan())
            continue
        it = p.children().iterator()
        while it.hasNext():
            todo.append(it.next())
        try:
            subs = p.subqueries().iterator()
            while subs.hasNext():
                todo.append(subs.next())
        except Exception:  # noqa: BLE001 - nodes without subqueries
            pass
    return out


def node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def plan_summary(df) -> dict:
    """Python crossings, Python SQL metrics and shuffle bytes of a
    DataFrame's last execution."""
    nodes = plan_nodes(df._jdf.queryExecution().executedPlan())
    return summarize_nodes(nodes)


def summarize_nodes(nodes) -> dict:
    s = {"python_crossings": 0, "python_bytes_sent": 0, "python_bytes_returned": 0,
         "python_total_ms": 0, "shuffle_bytes_written": 0}
    seen = set()
    for n in nodes:
        # adaptive plans can hold a node twice (a stage and its reuse); the
        # node's output attributes identify it across copies
        key = (n.nodeName(), str(n.output()))
        if key in seen:
            continue
        seen.add(key)
        name = n.nodeName()
        m = node_metrics(n)
        if name in PYTHON_NODES or "pythonDataSent" in m:
            s["python_crossings"] += 1
            s["python_bytes_sent"] += m.get("pythonDataSent", 0)
            s["python_bytes_returned"] += m.get("pythonDataReceived", 0)
            s["python_total_ms"] += m.get("pythonTotalTime", 0)
        if "shuffleBytesWritten" in m:
            s["shuffle_bytes_written"] += m["shuffleBytesWritten"]
    return s


def merge_summaries(items: list[dict]) -> dict:
    out: dict = {}
    for it in items:
        for k, v in it.items():
            out[k] = out.get(k, 0) + v
    return out


def timed(tracer, name: str, fn, reps: int) -> float:
    """Median wall time of ``reps`` calls of ``fn``, each inside a span."""
    ts = []
    for _ in range(reps):
        with tracer.span(name):
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
    return median(ts)


def identity_layers(tracer, make, reps: int) -> dict:
    """Time identity ``mapInArrow`` DataFrames (a fresh list from ``make``
    per repetition: re-running one DataFrame would reuse its finished
    shuffle stages) to completion with a count over each, so every input
    column still crosses into Python and every output column comes back,
    and sum their Python SQL metrics."""
    from pyspark.sql import functions as F

    last: list = []

    def once():
        last[:] = [m.agg(F.count(F.lit(1))) for m in make()]
        for a in last:
            a.collect()

    dt = timed(tracer, "boundary.identity", once, reps)
    s = merge_summaries([plan_summary(a) for a in last])
    return {"boundary.identity_s": dt, "boundary.bytes_sent": s["python_bytes_sent"],
            "boundary.bytes_returned": s["python_bytes_returned"]}


def stage_shuffle_bytes(spark, after_stage: int) -> tuple[int, int]:
    """(shuffle bytes written by stages after ``after_stage``, the last
    stage id), from the application status store: streaming sink writes
    run as nested executions whose plans we never hold."""
    store = spark.sparkContext._jsc.sc().statusStore()
    total, last = 0, -1
    defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    it = store.stageList(None, *defaults).iterator()
    while it.hasNext():
        st = it.next()
        sid = st.stageId()
        last = max(last, sid)
        if sid > after_stage:
            total += st.shuffleWriteBytes()
    return total, last
