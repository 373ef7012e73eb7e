"""transform_signed: the flagship signed transform, closed loop, one client.

Each pass is one ``transform_requests_arrow(verify=True)`` over a parquet
request table (sf0.1 x REPLICAS rows of the 14-op flagship chain, every row
signed with ``make_sign_udf``, BAD_SHARE of the signatures corrupted by
seed) and ends in one aggregate holding a content digest of every output
column.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data
import harness
from child import digest_col, load_expected

FLAGSHIP_CHAIN = (
    "resize:fill:128:0:1:1/gravity:ce/padding:4/rotate:90/brightness:25/"
    "contrast:1.2/saturation:0.8/blur:1.5/sharpen:0.8/pixelate:4/"
    "watermark:0.6:soea/background:336699/quality:80/format:jpeg"
)
REPLICAS = 24
BAD_SHARE = 0.01
WARMUP_PASSES = 2
TRACE_REPS = 3
# the output columns except sig_valid and status, which the seed decides
CONTENT_COLS = (
    "doc_id", "source", "ts", "ops", "n_tok", "tokens_out", "n_out", "dtype",
    "size_bytes", "quality", "fmt", "content_disposition", "meta_orientation", "error",
)
KEY_FILES = (
    "transform_signed.py", "tokforge/sources/requests.py", "tokforge/engine/transform.py",
    "tokforge/functions/signing.py", "tokforge/engine/config.py",
)


def cache_dir(ctx):
    return ctx.cache_path("transform_signed", KEY_FILES)


def prepare(ctx) -> None:
    """Seed-independent inputs: the corpus and the fully signed request
    table."""
    from pyspark.sql import functions as F

    from tokforge.engine.config import EngineConfig
    from tokforge.engine.transform import make_sign_udf
    from tokforge.sources.requests import requests_df

    path = cache_dir(ctx)
    sf = ctx.cache / "sf0.1"
    data.write_corpus(sf)
    tmp = path.with_name(path.name + ".tmp")
    ctx.start_session()
    req = requests_df(ctx.spark, str(sf), FLAGSHIP_CHAIN, replicas=REPLICAS)
    req = req.withColumn("sig", make_sign_udf(EngineConfig())(F.col("ops"), F.col("doc_id")))
    req.coalesce(1).write.mode("overwrite").parquet(str(tmp / "signed"))
    (tmp / "_READY").write_text("")
    tmp.rename(path)


def derive_inputs(ctx, path) -> dict:
    """Corrupt a seed-chosen BAD_SHARE of the signatures and write the
    table as 2 x cores parquet files.  Returns what the checks need."""
    t0 = time.time()
    table = pq.read_table(path / "signed")
    n = table.num_rows
    rng = np.random.default_rng(ctx.seed)
    bad_idx = np.sort(rng.choice(n, size=int(n * BAD_SHARE), replace=False))
    sig = table.column("sig").to_pylist()
    for i in bad_idx:
        sig[i] = data.corrupt_sig(sig[i])
    table = table.set_column(table.schema.get_field_index("sig"), "sig", pa.array(sig, pa.string()))
    table = data.utc_micros(table)
    out = ctx.run_dir / "requests"
    out.mkdir()
    files = 2 * ctx.cores
    step = -(-n // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), out / f"part-{k:03d}.parquet")
    planted = [table.column("doc_id")[int(i)].as_py() for i in bad_idx]
    ctx.input_gen_s += time.time() - t0
    return {"path": str(out), "rows": n, "planted": planted}


def pass_agg(out):
    from pyspark.sql import functions as F

    from tokforge.engine.transform import STATUS_FORBIDDEN

    return out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(digest_col(*CONTENT_COLS)).alias("digest"),
        F.sum("n_tok").alias("tokens_in"),
        F.sum("status").alias("status_sum"),
        F.sum(F.when(F.col("status") == STATUS_FORBIDDEN, 1).otherwise(0)).alias("rejected"),
        F.sum(F.when(F.col("status") == STATUS_FORBIDDEN, digest_col("doc_id"))
              .otherwise(0)).alias("rejected_digest"),
    )


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from tokforge.engine.config import EngineConfig
    from tokforge.engine.transform import STATUS_FORBIDDEN, STATUS_OK
    from tokforge.engine.transform_arrow import transform_requests_arrow

    path = cache_dir(ctx)
    ctx.require_cache(path)
    ctx.start_session()
    spark = ctx.spark
    cfg = EngineConfig()
    inp = derive_inputs(ctx, path)
    exp = load_expected()["transform_signed"]
    n, k = inp["rows"], len(inp["planted"])
    planted_digest = (
        spark.createDataFrame([(d,) for d in inp["planted"]], "doc_id string")
        .agg(F.sum(digest_col("doc_id"))).collect()[0][0]
    )
    want = {
        "rows": exp["rows"], "digest": exp["digest"], "tokens_in": exp["tokens_in"],
        "status_sum": STATUS_OK * (n - k) + STATUS_FORBIDDEN * k,
        "rejected": k, "rejected_digest": planted_digest,
    }
    last = {}

    def one_pass(verify: bool = True, check: bool = True):
        with ctx.tracer.span("pass"):
            with ctx.tracer.span("engine.transform_arrow.transform_requests_arrow"):
                req = spark.read.parquet(inp["path"])
                agg = pass_agg(transform_requests_arrow(req, cfg, verify=verify))
            with ctx.tracer.span("spark.action"):
                row = agg.collect()[0].asDict()
        last["agg"] = agg
        if check:
            for key, val in want.items():
                if row[key] != val:
                    raise harness.Mismatch(f"transform_signed {key}", row[key], val)
        return row

    # the single-core baseline run takes one warm-up pass and one timed pass
    one_core = ctx.master == "local[1]"
    t0 = time.time()
    for _ in range(1 if one_core else WARMUP_PASSES):
        ctx.notes["observed"] = one_pass(check=False)
    ctx.layers["session.warmup_s"] = time.time() - t0

    ctx.timed_start()
    with harness.RssSampler() as rss:
        if ctx.trace:
            times, traced, _ = harness.interleaved(ctx.ledger, ctx.tracer, "transform pass",
                                                   one_pass, TRACE_REPS)
            ctx.layers["tracing.overhead_share"] = (
                harness.median(traced) / harness.median(times) - 1.0)
        else:
            times = harness.closed_loop(ctx.ledger, "transform pass", one_pass, ctx.seconds,
                                        min_passes=1 if one_core else 3)
    if not times:
        raise RuntimeError("no transform pass succeeded")
    p50 = harness.median(times)
    ctx.notes.update(passes=len(times), rows=n, rejected=k, pass_s=times)
    metrics = {
        "setup_s": ctx.setup_s,
        "tokens_per_s": exp["tokens_in"] / p50,
        "pass_s_p50": p50,
        "latency_p50_s": p50,
        "latency_tail_s": harness.closed_loop_tail(times),
        "peak_rss_mb": rss.peak_mb,
    }
    summary = harness.plan_summary(last["agg"])
    ctx.layers.update({
        "engine.python_crossings": summary["python_crossings"],
        "python.udf_s": summary["python_total_ms"] / 1000.0,
        "shuffle.bytes_written": summary["shuffle_bytes_written"],
    })
    if ctx.trace:
        traced_layers(ctx, inp, cfg, one_pass, p50)
    return metrics


def _identity_fill(batch: pa.RecordBatch) -> pa.RecordBatch:
    n = batch.num_rows
    nulls_i = pa.nulls(n, pa.int32())
    nulls_s = pa.nulls(n, pa.string())
    return pa.RecordBatch.from_arrays(
        [batch.column("doc_id"), batch.column("source"), batch.column("ts"), batch.column("ops"),
         batch.column("n_tok"), pa.array(np.ones(n, dtype=bool)), batch.column("tokens"),
         batch.column("n_tok"), nulls_s, pa.array(np.zeros(n, dtype=np.int64)), nulls_i,
         nulls_s, nulls_s, nulls_i, nulls_s],
        names=["doc_id", "source", "ts", "ops", "n_tok", "sig_valid", "tokens_out", "n_out",
               "dtype", "size_bytes", "quality", "fmt", "content_disposition",
               "meta_orientation", "error"],
    )


def traced_layers(ctx, inp, cfg, one_pass, p50) -> None:
    """The per-layer ledger of one pass, each layer timed from outside
    through public calls, then the corpus layers."""
    import corpus_queries
    from pyspark.sql import functions as F

    from tokforge.engine.transform_arrow import OUTPUT_SCHEMA_DDL

    spark = ctx.spark
    L = ctx.layers

    def req():
        return spark.read.parquet(inp["path"])

    L["sources.scan_s"] = harness.timed(
        ctx.tracer, "sources.scan", lambda: req().write.format("noop").mode("overwrite").save(),
        TRACE_REPS)
    # the columns the transform's mapInArrow receives, returned at its output width
    cols = ["doc_id", "source", "ts", "ops", "n_tok", "tokens", "orientation", "src_dtype", "sig"]
    L.update(harness.identity_layers(ctx.tracer, lambda: [
        req().withColumn("ts_unix", F.unix_timestamp("ts")).select(*cols, "ts_unix")
        .mapInArrow(lambda it: (_identity_fill(b) for b in it), OUTPUT_SCHEMA_DDL)], TRACE_REPS))

    verify_off = harness.timed(ctx.tracer, "signing.verify_off_pass",
                               lambda: one_pass(verify=False, check=False), TRACE_REPS)
    L["signing.verify_s"] = p50 - verify_off
    L["signing.verify_us_per_row"] = L["signing.verify_s"] * ctx.cores / inp["rows"] * 1e6

    with ctx.tracer.span("operators.kernel_1core"):
        kernel_s, bytes_moved, tokens = kernel_1core(inp["path"], cfg)
    L["operators.kernel_s_1core"] = kernel_s
    L["operators.kernel_tokens_per_s_1core"] = tokens / kernel_s
    L["operators.kernel_bytes_moved"] = bytes_moved

    parts = {
        "sources (scan)": L["sources.scan_s"],
        "boundary (identity - scan)": L["boundary.identity_s"] - L["sources.scan_s"],
        "functions.signing (verify on - off)": L["signing.verify_s"],
        "operators (kernel_s_1core / cores)": kernel_s / ctx.cores,
    }
    ctx.notes["ledger"] = {"of": "the untraced pass p50", "end_to_end_s": p50, "parts": parts, "shares": {
        "boundary share of the pass": parts["boundary (identity - scan)"] / p50,
        "kernel + verify share of the pass": (parts["functions.signing (verify on - off)"]
                                              + parts["operators (kernel_s_1core / cores)"]) / p50,
    }}
    L["harness.unattributed_s"] = p50 - sum(parts.values())

    with ctx.tracer.span("corpus_queries"):
        corpus = corpus_queries.ledger_in(ctx)
    L.update(corpus["layers"])
    ctx.notes["corpus_ledger"] = {"of": "one corpus_queries pass run in this traced run",
                                  "end_to_end_s": corpus["pass_s"], "parts": corpus["parts"]}


def kernel_1core(path: str, cfg) -> tuple[float, int, int]:
    """``apply_plan_rect`` in this process, one thread, on the buckets one
    pass forms: 10k-row Arrow batches split by (src_dtype, length)."""
    from tokforge.operators.kernel_rect import apply_plan_rect
    from tokforge.plans.options import parse_chain

    plan = parse_chain(FLAGSHIP_CHAIN, cfg.presets_dict or None, cfg.only_presets)
    table = pq.read_table(path, columns=["tokens", "n_tok", "orientation", "src_dtype"])
    buckets = []
    for batch in table.to_batches(max_chunksize=10_000):
        toks = batch.column("tokens")
        offsets = toks.offsets.to_numpy().astype(np.int64)
        values = toks.values.to_numpy()
        lengths = np.diff(offsets)
        sdt = np.asarray(batch.column("src_dtype").to_pylist(), dtype=object)
        ori = batch.column("orientation").to_numpy().astype(np.int64)
        for d in np.unique(sdt):
            for ln in np.unique(lengths):
                idx = np.nonzero((sdt == d) & (lengths == ln))[0]
                if idx.size:
                    mat = values[offsets[idx][:, None] + np.arange(ln)]
                    buckets.append((mat, ori[idx], str(d)))
    moved = tokens = 0
    t0 = time.time()
    for mat, ori, d in buckets:
        res = apply_plan_rect(mat, plan, orientations=ori, src_dtype=d,
                              default_format=cfg.default_format)
        moved += mat.nbytes + res.tokens.astype(np.int32, copy=False).nbytes
        tokens += mat.size
    return time.time() - t0, moved, tokens
