"""corpus_queries: JVM aggregation, window and self-join shuffle work.

Closed loop, one client.  Each pass runs the six corpus queries at sf0.1,
each forced to completion by an aggregate holding a content digest of all
its output columns.  The LSH signature memo is cleared before every timed
pass, so the pass measures computing the signatures, not reusing them.
"""

from __future__ import annotations

import time

import data
import harness
from child import digest_col, load_expected

WARMUP_PASSES = 1
MIN_PASSES = 1
TRACE_REPS = 2


def query_fns() -> dict:
    from tokforge.engine.queries import q_window_session, q_window_tumbling_sliding
    from tokforge.pipeline.dedup import q_lsh_pairs, q_ngram_jaccard, q_simhash
    from tokforge.pipeline.similarity import q_knn_bruteforce

    return {
        "window_tumbling_sliding": ("queries.windows", q_window_tumbling_sliding),
        "window_session": ("queries.windows", q_window_session),
        "simhash": ("dedup.simhash", q_simhash),
        "lsh_pairs": ("dedup.lsh_pairs", q_lsh_pairs),
        "ngram_jaccard": ("dedup.ngram_jaccard", q_ngram_jaccard),
        "knn_bruteforce": ("similarity.knn", q_knn_bruteforce),
    }


def corpus_tokens() -> int:
    """Tokens of the request rows the dedup queries synthesize, one per
    document (n_tok follows the length ladder by doc_id)."""
    from tokforge.sources.requests import LEN_LADDER

    return sum(LEN_LADDER[d % 4] for d in range(data.N_DOC))


def digest_of(df) -> tuple:
    from pyspark.sql import functions as F

    agg = df.agg(F.count(F.lit(1)).alias("rows"), F.sum(digest_col(*df.columns)).alias("digest"))
    row = agg.collect()[0]
    return agg, [int(row["rows"]), int(row["digest"] or 0)]


def cache_dir(ctx):
    return ctx.cache / "sf0.1"


def prepare(ctx) -> None:
    data.write_corpus(cache_dir(ctx))


def run(ctx) -> dict:
    from tokforge.pipeline.dedup import clear_sig_cache

    sf = ctx.cache / "sf0.1"
    t0 = time.time()
    data.write_corpus(sf)
    ctx.input_gen_s += time.time() - t0
    ctx.start_session()
    spark = ctx.spark
    sf_dir = str(sf)
    fns = query_fns()
    want = load_expected()["corpus_queries"]
    last: dict = {}

    def one_pass(check: bool = True) -> dict:
        clear_sig_cache()
        seen = {}
        with ctx.tracer.span("pass"):
            for name, (layer, fn) in fns.items():
                with ctx.tracer.span(layer):
                    last[name], seen[name] = digest_of(fn(spark, sf_dir))
                if check and seen[name] != want.get(name):
                    raise harness.Mismatch(f"corpus_queries {name}", seen[name], want.get(name))
        return seen

    t0 = time.time()
    for _ in range(WARMUP_PASSES):
        one_pass(check=False)
    ctx.layers["session.warmup_s"] = time.time() - t0

    ctx.timed_start()
    with harness.RssSampler() as rss:
        if ctx.trace:
            times, traced, per_pass = harness.interleaved(ctx.ledger, ctx.tracer, "corpus pass",
                                                          one_pass, TRACE_REPS)
            ctx.layers["tracing.overhead_share"] = (
                harness.median(traced) / harness.median(times) - 1.0)
        else:
            times = harness.closed_loop(ctx.ledger, "corpus pass", one_pass, ctx.seconds,
                                        min_passes=MIN_PASSES)
    if not times:
        raise RuntimeError("no corpus pass succeeded")
    p50 = harness.median(times)
    ctx.notes.update(passes=len(times), pass_s=times)
    metrics = {
        "setup_s": ctx.setup_s,
        "tokens_per_s": corpus_tokens() / p50,
        "pass_s_p50": p50,
        "latency_p50_s": p50,
        "latency_tail_s": harness.closed_loop_tail(times),
        "peak_rss_mb": rss.peak_mb,
    }
    s = harness.merge_summaries([harness.plan_summary(a) for a in last.values()])
    ctx.layers.update({
        "engine.python_crossings": s["python_crossings"],
        "python.udf_s": s["python_total_ms"] / 1000.0,
        "shuffle.bytes_written": s["shuffle_bytes_written"],
    })
    if ctx.trace:
        traced_layers(ctx, per_pass, p50, sf_dir)
    return metrics


def span_parts(per_pass: list[list[dict]]) -> dict[str, float]:
    """Per layer, the median over traced passes of the time its q_* calls
    took (each call timed alone)."""
    by_layer: dict[str, list[float]] = {}
    for spans in per_pass:
        tot: dict[str, float] = {}
        for s in spans:
            if s["name"] != "pass":
                tot[s["name"]] = tot.get(s["name"], 0.0) + s["end"] - s["start"]
        for k, v in tot.items():
            by_layer.setdefault(k, []).append(v)
    return {k: harness.median(v) for k, v in by_layer.items()}


def lsh_memo_s(ctx, sf_dir: str, reps: int) -> float:
    """LSH pairs again with the signature memo warm: the reuse share the
    timed passes exclude by clearing the memo."""
    from tokforge.pipeline.dedup import q_lsh_pairs

    ts = []
    for _ in range(reps):
        q_lsh_pairs(ctx.spark, sf_dir).count()  # fills the memo
        with ctx.tracer.span("dedup.lsh_pairs_memo"):
            t0 = time.time()
            digest_of(q_lsh_pairs(ctx.spark, sf_dir))
            ts.append(time.time() - t0)
    return harness.median(ts)


def ledger_in(ctx) -> dict:
    """The corpus layers measured inside another workload's traced run
    (BENCHMARK.json lists two workloads, so corpus_queries is not one of
    them): a warm-up pass, one traced pass checked against expected.json,
    and the memo-warm LSH pairs."""
    from tokforge.pipeline.dedup import clear_sig_cache

    sf = ctx.cache / "sf0.1"
    data.write_corpus(sf)
    sf_dir = str(sf)
    want = load_expected()["corpus_queries"]
    aggs = []
    for traced in (False, True):
        ctx.tracer.enabled = traced
        clear_sig_cache()
        n0 = len(ctx.tracer.spans)
        t0 = time.time()
        with ctx.tracer.span("pass"):
            for name, (layer, fn) in query_fns().items():
                with ctx.tracer.span(layer):
                    agg, got = digest_of(fn(ctx.spark, sf_dir))
                if traced:
                    aggs.append(agg)
                    ctx.ledger.check(f"corpus_queries {name}", got, want.get(name))
        pass_s = time.time() - t0
    ctx.tracer.enabled = True
    parts = span_parts([ctx.tracer.spans[n0:]])
    layers = {k + "_s": v for k, v in parts.items()}
    layers["dedup.lsh_pairs_memo_s"] = lsh_memo_s(ctx, sf_dir, 1)
    s = harness.merge_summaries([harness.plan_summary(a) for a in aggs])
    layers["corpus.shuffle_bytes_written"] = s["shuffle_bytes_written"]
    layers["corpus.pass_s"] = pass_s
    return {"layers": layers, "parts": parts, "pass_s": pass_s}


def traced_layers(ctx, per_pass, p50, sf_dir) -> None:
    from tokforge.sources.requests import load_documents, load_embeddings, load_events

    spark = ctx.spark
    L = ctx.layers
    parts = span_parts(per_pass)
    for k, v in parts.items():
        L[k + "_s"] = v
    L["dedup.lsh_pairs_memo_s"] = lsh_memo_s(ctx, sf_dir, TRACE_REPS)

    def scan():
        for df in (load_events(spark, sf_dir), load_documents(spark, sf_dir),
                   load_embeddings(spark, sf_dir)):
            df.write.format("noop").mode("overwrite").save()

    L["sources.scan_s"] = harness.timed(ctx.tracer, "sources.scan", scan, TRACE_REPS)
    # the corpus queries' Python crossings receive embeddings (knn) and
    # document ids (dedup); the identity runs over both
    L.update(harness.identity_layers(ctx.tracer, lambda: [
        load_embeddings(spark, sf_dir).select("vec_id", "embedding")
        .mapInArrow(lambda it: it, "vec_id long, embedding array<float>"),
        load_documents(spark, sf_dir).select("doc_id").mapInArrow(lambda it: it, "doc_id long"),
    ], TRACE_REPS))
    ctx.notes["ledger"] = {"of": "the untraced pass p50", "end_to_end_s": p50, "parts": parts}
    L["harness.unattributed_s"] = p50 - sum(parts.values())
