"""stream_signed: the shipped stream, verify on, in one fresh JVM.

``streaming.job.transform_stream`` is called with the arguments
``jobs/submit_stream.py`` passes (verify on, ``ttl_ms=3600000`` and the
default watermark as in its documented example).  Request rows use the
simple chain; about half repeat an earlier key and BAD_SHARE carry a bad
signature.  Two phases share one checkpoint and sink:

* open loop: a generator thread that does nothing but rename pre-written
  parquet drops into the watched directory releases RATE drops per second
  for the run's seconds, under the job's processingTime trigger;
* drain: a fixed backlog of BACKLOG_FILES files is released at once and
  consumed with ``availableNow`` in BACKLOG_BATCHES micro-batches.

Every row's event time is its position in the row plan (microseconds after
EPOCH), so each committed row names its drop, and latency is measured per
drop from the sink ledger's ``committed_at``.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data
import harness
from child import digest_col, load_expected

SIMPLE_CHAIN = "resize:fit:64/crop:48:0:ce/quality:80/format:int16"
UNIVERSE_REPLICAS = 4
TTL_MS = 3_600_000
# 200 rows/s in few files: a batch's cost grows with its file count, and a
# slow batch leaves more files to the next, so many small drops amplify
# run-to-run noise
RATE = 5.0  # open-loop drops per second
DROP_ROWS = 40
BACKLOG_FILES = 12
BACKLOG_ROWS = 1000
BACKLOG_BATCHES = 3
REPEAT_SHARE = 0.5
BAD_SHARE = 0.02
WARMUP_DROPS = 2
WARMUP_ROWS = 200
SETTLE_LIMIT_S = 30.0
DRAIN_LIMIT_S = 60.0
# ledger polling interval; latencies come from the ledger's committed_at,
# so this sets only how soon a phase is seen to be done
POLL_S = 0.25
# while waiting for a micro-batch to end, to stop the query right after it
IDLE_POLL_S = 0.01
OUT_COLS = ("doc_id", "tokens_out", "n_out", "dtype", "error")
KEY_FILES = (
    "stream_signed.py", "tokforge/sources/requests.py", "tokforge/engine/transform.py",
    "tokforge/engine/transform_arrow.py", "tokforge/functions/signing.py",
    "tokforge/engine/config.py", "tokforge/operators/kernel_rect.py",
)


def cache_dir(ctx):
    return ctx.cache_path("stream_signed", KEY_FILES)


def prepare(ctx) -> None:
    """The signed request universe and, per key, the digest of its output
    through the batch transform path (the stream's expected content)."""
    from pyspark.sql import functions as F

    from tokforge.engine.config import EngineConfig
    from tokforge.engine.transform import make_sign_udf
    from tokforge.engine.transform_arrow import transform_requests_arrow
    from tokforge.sources.requests import requests_df

    path = cache_dir(ctx)
    sf = ctx.cache / "sf0.1"
    data.write_corpus(sf)
    tmp = path.with_name(path.name + ".tmp")
    ctx.start_session()
    cfg = EngineConfig()
    uni = requests_df(ctx.spark, str(sf), SIMPLE_CHAIN, replicas=UNIVERSE_REPLICAS)
    uni = uni.withColumn("sig", make_sign_udf(cfg)(F.col("ops"), F.col("doc_id")))
    table = data.utc_micros(pa.Table.from_batches(uni._collect_as_arrow()))
    tmp.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, tmp / "universe.parquet")
    out = transform_requests_arrow(ctx.spark.read.parquet(str(tmp / "universe.parquet")), cfg,
                                   verify=False)
    g = {r["doc_id"]: int(r["g"]) for r in out.select("doc_id", digest_col(*OUT_COLS).alias("g")).collect()}
    digests = np.asarray([g[d] for d in table.column("doc_id").to_pylist()], dtype=np.int64)
    np.save(tmp / "digests.npy", digests)
    (tmp / "_READY").write_text("")
    tmp.rename(path)


class Plan:
    """The seed's row plan and drop files."""

    def __init__(self, ctx, path):
        t0 = time.time()
        self.universe = pq.read_table(path / "universe.parquet")
        self.g = np.load(path / "digests.npy")
        rng = np.random.default_rng(ctx.seed)
        self.n_open = max(1, int(round(ctx.seconds * RATE)))
        sizes = ([WARMUP_ROWS] * WARMUP_DROPS + [DROP_ROWS] * self.n_open
                 + [BACKLOG_ROWS] * BACKLOG_FILES)
        n_rows = sum(sizes)
        self.pick, self.bad = data.stream_rows(self.universe.num_rows, n_rows, REPEAT_SHARE,
                                               BAD_SHARE, rng)
        self.first_ts_us = data.EPOCH_S * 1_000_000
        table = data.request_table(self.universe, self.pick, self.bad, self.first_ts_us)
        # drop d holds rows [bounds[d], bounds[d + 1]): the warm-up drops,
        # then the open-loop drops, then the backlog; the seed picks the
        # release order within each phase
        self.bounds = np.concatenate([[0], np.cumsum(sizes)])
        self.warm = list(range(WARMUP_DROPS))
        self.open_drops = set(range(WARMUP_DROPS, WARMUP_DROPS + self.n_open))
        self.open_order = WARMUP_DROPS + rng.permutation(self.n_open)
        self.backlog_order = WARMUP_DROPS + self.n_open + rng.permutation(BACKLOG_FILES)
        self.drop_of_row = np.repeat(np.arange(len(self.bounds) - 1), np.diff(self.bounds))
        self.stage = ctx.run_dir / "stage"
        self.watched = ctx.run_dir / "in"
        self.stage.mkdir()
        self.watched.mkdir()
        for d in range(len(self.bounds) - 1):
            lo, hi = int(self.bounds[d]), int(self.bounds[d + 1])
            pq.write_table(table.slice(lo, hi - lo), self.stage / f"drop-{d:05d}.parquet")
        self.valid = ~self.bad
        ctx.input_gen_s += time.time() - t0

    def release(self, d: int) -> None:
        os.rename(self.stage / f"drop-{d:05d}.parquet", self.watched / f"drop-{d:05d}.parquet")

    def valid_rows(self, drops) -> int:
        return int(sum(self.valid[self.bounds[d]:self.bounds[d + 1]].sum() for d in drops))


class ProgressListener:
    """Keeps every progress event's full JSON (durationMs, stateOperators,
    sources, observed metrics)."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _L(StreamingQueryListener):
            def __init__(self):
                self.events: list[dict] = []
                self.lock = threading.Lock()

            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                with self.lock:
                    self.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

            def upto(self, batch_id: int, limit_s: float = 5.0) -> list[dict]:
                """The events so far, once the one for ``batch_id`` has
                arrived (the listener bus delivers them asynchronously)."""
                t_end = time.time() + limit_s
                while time.time() < t_end:
                    with self.lock:
                        if any(e["batchId"] >= batch_id for e in self.events):
                            break
                    time.sleep(0.05)
                with self.lock:
                    return list(self.events)

        return _L()


def ledger_rows(out_dir) -> tuple[int, dict[int, float]]:
    """(rows committed, {batch_id: committed_at} of the batches that
    committed rows) from the sink ledger.  The cache's processing-time
    timeout makes the job run no-data batches between data batches; they
    commit nothing and are left out."""
    led = os.path.join(out_dir, "_ledger")
    rows, at = 0, {}
    try:
        names = os.listdir(led)
    except FileNotFoundError:
        return 0, {}
    for name in names:
        try:
            with open(os.path.join(led, name)) as fh:
                m = json.load(fh)
        except (OSError, ValueError):
            continue  # a marker being written right now
        rows += m["rows"]
        if m["rows"]:
            at[m["batch_id"]] = m["committed_at"]
    return rows, at


def ledger_batches(out_dir) -> set[int]:
    """Batch ids with a sink ledger marker, no-data batches included."""
    try:
        names = os.listdir(os.path.join(out_dir, "_ledger"))
    except FileNotFoundError:
        return set()
    return {int(n[len("batch-"):-len(".json")]) for n in names
            if n.startswith("batch-") and n.endswith(".json")}


def commit_log_batches(ckpt_dir) -> set[int]:
    """Batch ids in the checkpoint's commit log."""
    try:
        names = os.listdir(os.path.join(ckpt_dir, "commits"))
    except FileNotFoundError:
        return set()
    return {int(n) for n in names if n.isdigit()}


def query_failure(query) -> str:
    """A failed query's message with its innermost JVM cause as a
    ``Caused by:`` line (the streaming error itself only says
    'Exception thrown in awaitResult')."""
    exc = query._jsq.exception().get()
    cause = exc
    while cause.getCause() is not None:
        cause = cause.getCause()
    first = str(cause.toString()).splitlines()[0]
    return f"{str(query.exception()).splitlines()[0]}\nCaused by: {first}"


class Supervised:
    """One streaming query kept running the way a deployment would: a query
    that fails is counted as a failed operation, with its root cause, and
    restarted from its checkpoint (the sink's ledger keeps the output
    exactly-once).  The timings keep the restart."""

    def __init__(self, ledger, start, max_restarts: int = 2):
        self.ledger = ledger
        self.start = start
        self.max_restarts = max_restarts
        self.restarts = 0
        self.query = start()

    def check(self) -> None:
        if self.query.exception() is None:
            return
        cause = query_failure(self.query)
        self.ledger.fail("stream query", cause)
        self.restarts += 1
        if self.restarts > self.max_restarts:
            raise RuntimeError(cause)
        self.query.stop()
        self.query = self.start()

    def stop(self) -> None:
        self.query.stop()

    def stop_between_batches(self, out_dir, ckpt_dir, limit_s: float) -> bool:
        """Stops the query right after a micro-batch has ended (or while none
        runs), when every batch the sink has committed is in the
        checkpoint's commit log.

        The sink writes its ledger marker before Spark writes the batch to
        the commit log.  A stop between the two makes the restarted query
        replay the batch; the sink skips it as already committed, so no
        state store commits for it and Spark 4.1's commit validation fails
        the query (STATE_STORE_COMMIT_VALIDATION_FAILED, 0 of N commits).
        The phase switch is not meant to test that recovery path, and a stop
        at a random moment lands in the window in some runs only.  Right
        after a commit the next batch is far from its own marker.  False if
        no such moment came within ``limit_s`` (the query is stopped
        anyway)."""
        t_end = time.time() + limit_s
        seen = commit_log_batches(ckpt_dir)
        safe = False
        while time.time() < t_end:
            # the commit log first: a marker written after it was read then
            # shows as not yet committed
            commits = commit_log_batches(ckpt_dir)
            if ledger_batches(out_dir) <= commits and (
                    commits != seen or not self.query.status["isTriggerActive"]):
                safe = True
                break
            seen = commits
            self.check()
            time.sleep(IDLE_POLL_S)
        self.query.stop()
        return safe


def wait_rows(out_dir, want: int, limit_s: float, sup: Supervised) -> bool:
    t_end = time.time() + limit_s
    while time.time() < t_end:
        if ledger_rows(out_dir)[0] >= want:
            return True
        sup.check()
        time.sleep(POLL_S)
    return False


def drop_latencies(batch_of_row: dict[int, int], committed_at: dict[int, float],
                   due: dict[int, float], drop_of_row: np.ndarray) -> dict[int, float]:
    """Per released drop: committed_at of the batch holding the drop's last
    committed row, minus the time the drop was due."""
    last_row: dict[int, int] = {}
    for r in batch_of_row:
        d = int(drop_of_row[r])
        if d in due and r > last_row.get(d, -1):
            last_row[d] = r
    return {d: committed_at[batch_of_row[r]] - due[d] for d, r in last_row.items()
            if batch_of_row[r] in committed_at}


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from tokforge.engine.config import EngineConfig
    from tokforge.streaming.job import read_sink, transform_stream

    path = cache_dir(ctx)
    ctx.require_cache(path)
    ctx.start_session()
    spark = ctx.spark
    cfg = EngineConfig()
    plan = Plan(ctx, path)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    out, ckpt = ctx.run_dir / "out", ctx.run_dir / "ckpt"

    def start(available_now, max_files=None):
        return transform_stream(spark, str(plan.watched), str(out), str(ckpt), cfg, verify=True,
                                ttl_ms=TTL_MS, available_now=available_now,
                                max_files_per_trigger=max_files)[0]

    # warm-up: the first drops through the query the open loop then uses, so
    # its Python workers and state store are loaded before timing starts
    t0 = time.time()
    q = Supervised(ctx.ledger, lambda: start(False))
    for d in plan.warm:
        plan.release(d)
        if not wait_rows(out, plan.valid_rows(plan.warm[:d + 1]), DRAIN_LIMIT_S, q):
            raise RuntimeError("warm-up drop was not committed")
    ctx.layers["session.warmup_s"] = time.time() - t0
    n_warm_events = len(listener.events)
    warm_valid = plan.valid_rows(plan.warm)

    due: dict[int, float] = {}
    lag: list[float] = []

    def generator():
        t_first = time.time() + 1.0
        for k, d in enumerate(plan.open_order):
            when = t_first + k / RATE
            while (now := time.time()) < when:
                time.sleep(min(0.005, when - now))
            plan.release(int(d))
            due[int(d)] = when
            lag.append(time.time() - when)

    ctx.timed_start()
    with harness.RssSampler() as rss:
        gen = threading.Thread(target=generator, daemon=True)
        gen.start()
        gen.join()
        open_valid = warm_valid + plan.valid_rows(plan.open_drops)
        backlog_at_end = plan.n_open - len(committed_drops(out, plan))
        settled = wait_rows(out, open_valid, SETTLE_LIMIT_S, q)
        stopped_safely = q.stop_between_batches(out, ckpt, SETTLE_LIMIT_S)
        last_open_batch = max(ledger_rows(out)[1], default=-1)
        open_events = [e for e in listener.upto(last_open_batch)[n_warm_events:]
                       if e["numInputRows"] > 0]

        for d in plan.backlog_order:
            plan.release(int(d))
        all_valid = open_valid + plan.valid_rows(plan.backlog_order)
        stage_before_drain = harness.stage_shuffle_bytes(spark, -1)[1]
        t_drain = time.time()
        q = Supervised(ctx.ledger, lambda: start(True, BACKLOG_FILES // BACKLOG_BATCHES))
        drained = wait_rows(out, all_valid, DRAIN_LIMIT_S, q)
        q.stop()
    drain_shuffle = harness.stage_shuffle_bytes(spark, stage_before_drain)[0]
    committed_at = ledger_rows(out)[1]
    drain_batches = [b for b in committed_at if b > last_open_batch]
    drain_s = (max(committed_at[b] for b in drain_batches) - t_drain) if drain_batches else None

    # read back what the sink committed
    sunk = read_sink(spark, str(out))
    agg = sunk.agg(F.count(F.lit(1)).alias("rows"),
                   F.sum(digest_col(*OUT_COLS)).alias("digest")).collect()[0]
    rows_tab = pa.Table.from_batches(
        sunk.select(F.unix_micros("ts").alias("ts_us"), "batch_id",
                    (F.col("cache_status") == "HIT").alias("hit"), "n_out")._collect_as_arrow())
    row_idx = rows_tab.column("ts_us").to_numpy() - plan.first_ts_us
    batch_ids = rows_tab.column("batch_id").to_numpy()
    hits = int(np.asarray(rows_tab.column("hit").to_numpy(zero_copy_only=False)).sum())
    n_out = rows_tab.column("n_out").to_numpy()

    L = ctx.ledger
    released = np.concatenate([np.arange(plan.bounds[d], plan.bounds[d + 1])
                               for d in range(len(plan.bounds) - 1)])
    valid_idx = released[plan.valid[released]]
    committed = set(row_idx.tolist())
    # each drop is one operation; drops not committed within the run fail
    for d in range(len(plan.bounds) - 1):
        lo, hi = plan.bounds[d], plan.bounds[d + 1]
        want = {int(r) for r in range(lo, hi) if plan.valid[r]}
        if want <= committed:
            L.ok()
        else:
            L.fail(f"drop {d}", f"{len(want - committed)} of {len(want)} valid rows not committed "
                   f"within the run ({'open loop' if d in plan.open_drops else 'drain'})")
    L.check("exactly-once: committed rows", len(row_idx), len(valid_idx))
    L.check("exactly-once: distinct committed rows", len(committed), len(row_idx))
    L.check("bad-signature rows in sink", int(plan.bad[row_idx].sum()) if len(row_idx) else 0, 0)
    distinct_keys = len(np.unique(plan.pick[valid_idx]))
    L.check("HIT count", hits, len(valid_idx) - distinct_keys)
    exp = load_expected()["stream_signed"]
    L.check("universe digest", int(plan.g.sum()), exp.get("universe_digest"))
    L.check("tokens_out digest", int(agg["digest"] or 0),
            int(sum(int(x) for x in plan.g[plan.pick[valid_idx]])))

    batch_of_row = dict(zip(row_idx.tolist(), batch_ids.tolist()))
    lat = drop_latencies(batch_of_row, committed_at, due, plan.drop_of_row)
    # a drop that misses the run counts as missing every latency limit
    samples = sorted(lat.values()) + [float("inf")] * (plan.n_open - len(lat))
    q_tail = harness.tail_percentile(len(samples)) or 100
    drain_tokens = int(n_out[np.isin(batch_ids, drain_batches)].sum())
    batch_s = [e["durationMs"]["triggerExecution"] / 1000.0 for e in open_events]
    ctx.notes.update(
        latency_samples=len(samples), tail_percentile=q_tail, drain_s=drain_s,
        drain_tokens=drain_tokens, drain_batches=len(drain_batches), open_batches=len(batch_s),
        settled=settled, stopped_safely=stopped_safely, drained=drained, rows_committed=len(row_idx),
        hits=hits,
    )
    ctx.layers.update({
        "harness.generator_lag_s": max(lag) if lag else 0.0,
        "source.backlog_drops": backlog_at_end,
    })
    metrics = {
        "setup_s": ctx.setup_s,
        "tokens_per_s": drain_tokens / drain_s if drain_s else None,
        "pass_s_p50": harness.median(batch_s) if batch_s else None,
        "latency_p50_s": harness.percentile(samples, 50) if samples else None,
        "latency_tail_s": harness.percentile(samples, q_tail) if samples else None,
        "peak_rss_mb": rss.peak_mb,
    }
    drain_events = [e for e in listener.upto(max(committed_at, default=-1))[n_warm_events:]
                    if e["numInputRows"] > 0 and e["batchId"] > last_open_batch]
    t0 = time.time()
    progress_layers(ctx, open_events, drain_events)
    ctx.notes["span_build_s"] = time.time() - t0
    last = q.query._jsq.streamingQuery().lastExecution()
    s = harness.summarize_nodes(harness.plan_nodes(last.executedPlan()))
    ctx.layers.update({
        "engine.python_crossings": s["python_crossings"],
        "shuffle.bytes_written": drain_shuffle,
    })
    if ctx.trace:
        traced_layers(ctx, plan, drain_s, sunk, drain_batches)
    return metrics


def committed_drops(out, plan) -> set:
    """Open-loop drops whose batch is in the sink ledger right now (read from
    the committed rows' event times)."""
    import glob

    files = glob.glob(os.path.join(out, "data", "batch_id=*", "*.parquet"))
    drops = set()
    for f in files:
        try:
            ts = (pq.read_table(f, columns=["ts"]).column("ts")
                  .cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_numpy())
        except (OSError, pa.ArrowInvalid):
            continue
        drops.update(plan.drop_of_row[ts - plan.first_ts_us].tolist())
    return drops & plan.open_drops


def progress_layers(ctx, open_events: list[dict], drain_events: list[dict]) -> None:
    """Micro-batch phases, state operator and observed metrics from the
    progress JSON; each micro-batch becomes a span with its phases as
    children, laid out in the order the engine runs them."""
    L = ctx.layers
    events = open_events + drain_events

    def med(key):
        vals = [e["durationMs"].get(key, 0) for e in events]
        return harness.median(vals) if vals else 0.0

    L.update({
        "job.batches": len(events),
        "job.trigger_ms": med("triggerExecution"),
        "job.planning_ms": med("queryPlanning"),
        "job.wal_commit_ms": med("walCommit"),
        "job.commit_offsets_ms": med("commitOffsets"),
        "source.get_batch_ms": med("getBatch"),
        "sink.add_batch_ms": med("addBatch"),
    })
    st = [e["stateOperators"][0] for e in events if e.get("stateOperators")]
    if st:
        L.update({
            "cache_state.rows_total": st[-1]["numRowsTotal"],
            "cache_state.memory_bytes": st[-1]["memoryUsedBytes"],
            # summed over the operator's partitions, which run side by side
            "cache_state.update_ms": harness.median(
                [s.get("allUpdatesTimeMs", 0) / _parallel(s, ctx.cores) for s in st]),
            "cache_state.commit_ms": harness.median(
                [s.get("commitTimeMs", 0) / _parallel(s, ctx.cores) for s in st]),
        })
    hits = misses = 0
    for e in events:
        m = e.get("observedMetrics", {}).get("request_metrics")
        if m:
            hits += m.get("cache_hits", 0)
            misses += m.get("cache_misses", 0)
    if hits + misses:
        L["cache_state.hit_ratio"] = hits / (hits + misses)
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    drain = {k: sum(e["durationMs"].get(k, 0) for e in drain_events) / 1000.0 for k in order}
    drain["state"] = sum(
        (s.get("allUpdatesTimeMs", 0) + s.get("commitTimeMs", 0)) / _parallel(s, ctx.cores)
        for e in drain_events for s in e.get("stateOperators", [])[:1]) / 1000.0
    ctx.notes["drain_phases_s"] = drain
    from datetime import datetime

    for e in events:
        t0 = datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = e["durationMs"]
        ctx.tracer.add("streaming.job.batch", t0, t0 + dur["triggerExecution"] / 1000.0)
        parent = len(ctx.tracer.spans) - 1
        t = t0
        for k in order:
            if k in dur:
                ctx.tracer.add(f"streaming.job.{k}", t, t + dur[k] / 1000.0, parent)
                t += dur[k] / 1000.0


def _parallel(state_op: dict, cores: int) -> int:
    return max(1, min(state_op.get("numShufflePartitions", cores), cores))


def traced_layers(ctx, plan, drain_s, sunk, drain_batches) -> None:
    """Stream ledger from outside: the pandas verifier on/off over the
    drain's rows, a direct sink commit of one drain-shaped batch, scan and
    identity probes over the drop files."""
    from pyspark.sql import functions as F

    from tokforge.engine.config import EngineConfig
    from tokforge.engine.transform import make_verify_udf
    from tokforge.streaming.cache_state import CACHE_OUTPUT_SCHEMA
    from tokforge.streaming.sink import IdempotentParquetSink
    from tokforge.streaming.source import REQUEST_SCHEMA

    spark = ctx.spark
    L = ctx.layers
    reps = 3

    def timed(name, fn):
        return harness.timed(ctx.tracer, name, fn, reps)

    # the pandas verifier the job runs, over the drain's rows, on minus off
    # (a second drain on fresh state is not an option: see the warm-up note)
    backlog = spark.read.schema(REQUEST_SCHEMA).parquet(
        *[str(plan.watched / f"drop-{int(d):05d}.parquet") for d in plan.backlog_order])
    verify = make_verify_udf(EngineConfig())
    with_sig = backlog.withColumn("sig_valid", verify(F.col("sig"), F.col("ops"), F.col("doc_id")))
    on = timed("signing.pandas_verify_on", lambda: with_sig.filter("sig_valid").agg(
        F.count(F.lit(1))).collect())
    off = timed("signing.pandas_verify_off", lambda: backlog.filter(F.col("sig").isNotNull()).agg(
        F.count(F.lit(1))).collect())
    L["signing.stream_verify_s"] = on - off

    # the sink alone, on a materialized DataFrame shaped like one drain batch
    b0 = drain_batches[0]
    batch = sunk.filter(F.col("batch_id") == b0).select(*[f.name for f in CACHE_OUTPUT_SCHEMA.fields])
    batch = batch.persist()
    batch.count()
    sink = IdempotentParquetSink(str(ctx.run_dir / "sink_probe"))
    batch_ids = iter(range(reps))
    L["sink.commit_s"] = timed("streaming.sink.commit", lambda: sink(batch, next(batch_ids)))
    batch.unpersist()

    def drops():
        return spark.read.schema(REQUEST_SCHEMA).parquet(str(plan.watched))

    L["sources.scan_s"] = timed("sources.scan",
                                lambda: drops().write.format("noop").mode("overwrite").save())
    L.update(harness.identity_layers(
        ctx.tracer, lambda: [drops().mapInArrow(lambda it: it, REQUEST_SCHEMA)], reps))

    # the drain's time, by layer: micro-batch phases summed over its batches;
    # inside addBatch, the verifier, the sink commit and the state operator
    d = ctx.notes["drain_phases_s"]
    parts = {
        "streaming.job (planning + WAL + offsets)": d["queryPlanning"] + d["walCommit"] + d["commitOffsets"],
        "streaming.source (latestOffset + getBatch)": d["latestOffset"] + d["getBatch"],
        "functions.signing (pandas verify on - off)": L["signing.stream_verify_s"],
        "streaming.sink (commit_s x batches)": len(drain_batches) * L["sink.commit_s"],
        "streaming.cache_state (update + commit)": d["state"],
    }
    ctx.notes["ledger"] = {"of": "the availableNow drain", "end_to_end_s": drain_s, "parts": parts}
    L["harness.unattributed_s"] = drain_s - sum(parts.values())
    # tracing is the listener (always on) plus spans built from progress
    # after the run; its cost is the time spent building them
    L["tracing.overhead_share"] = ctx.notes["span_build_s"] / drain_s
