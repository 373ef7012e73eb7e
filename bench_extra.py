"""Per-query isolation harness for the optimization round (bench.py is
FROZEN for measurement; this file hosts the extra instrumentation the
optimization guide §1 calls for).

Usage:
  python bench_extra.py [query ...]          # default: all headline queries
  TOKFORGE_EXTRA_PLANS=plans/r08 TOKFORGE_EXTRA_SUFFIX=_before \
      python bench_extra.py knn              # also dump explain("formatted")

Queries: flagship simple windows dedup knn stream_cache
Each is timed with the SAME warm-up + best-of methodology as bench.py (it
imports bench.py's functions), but runs alone so per-query numbers are not
polluted by neighbors.  Prints one JSON line per query plus a final
summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pyspark.sql.functions as F  # noqa: E402

import bench  # noqa: E402  (the frozen harness; we reuse its per-query fns)
from tokforge.engine.config import EngineConfig  # noqa: E402
from tokforge.engine.session import build_spark, default_cpus  # noqa: E402
from tokforge.sources.requests import requests_df  # noqa: E402


def dump_plan(name: str, df) -> None:
    plans_dir = os.environ.get("TOKFORGE_EXTRA_PLANS")
    if not plans_dir:
        return
    suffix = os.environ.get("TOKFORGE_EXTRA_SUFFIX", "")
    Path(plans_dir).mkdir(parents=True, exist_ok=True)
    txt = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    (Path(plans_dir) / f"{name}{suffix}.txt").write_text(txt)


def main() -> None:
    bench.kill_stray_spark_jvms()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    which = sys.argv[1:] or [
        "flagship", "simple", "windows", "dedup", "knn", "stream_cache"
    ]
    spark = build_spark(
        app_name="tokforge-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig()
    requests_df(spark, sf_dir, bench.SIMPLE_CHAIN).limit(100).count()

    results: dict[str, float] = {}

    def record(name: str, dt: float) -> None:
        results[name] = round(dt, 3)
        print(json.dumps({"query": name, "sec": results[name], "sf": sf_dir}))
        sys.stdout.flush()

    for name in which:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        t_start = time.time()
        if name == "flagship":
            from tokforge.engine.transform_arrow import transform_requests_arrow

            req = bench.materialize_requests(
                spark, sf_dir, cfg, bench.FLAGSHIP_CHAIN, True
            )
            dump_plan(name, transform_requests_arrow(req, cfg, verify=True))
            dt, _, _ = bench.bench_transform(
                spark, sf_dir, cfg, bench.FLAGSHIP_CHAIN, True
            )
            record(name, dt)
        elif name == "simple":
            from tokforge.engine.transform_arrow import transform_requests_arrow

            req = bench.materialize_requests(
                spark, sf_dir, cfg, bench.SIMPLE_CHAIN, False
            )
            dump_plan(name, transform_requests_arrow(req, cfg, verify=False))
            dt, _, _ = bench.bench_transform(
                spark, sf_dir, cfg, bench.SIMPLE_CHAIN, False
            )
            record(name, dt)
        elif name == "windows":
            from tokforge.engine.queries import (
                q_window_session,
                q_window_tumbling_sliding,
            )

            dump_plan("windows_ts", q_window_tumbling_sliding(spark, sf_dir))
            dump_plan("windows_sess", q_window_session(spark, sf_dir))
            record(name, bench.bench_windows(spark, sf_dir))
        elif name == "dedup":
            from tokforge.pipeline.dedup import q_lsh_pairs, q_simhash

            dump_plan("dedup_simhash", q_simhash(spark, sf_dir))
            dump_plan("dedup_lsh", q_lsh_pairs(spark, sf_dir))
            record(name, bench.bench_dedup(spark, sf_dir))
        elif name == "dedup_split":
            # sub-timings: simhash alone, lsh alone (sig cache warm)
            from tokforge.pipeline.dedup import q_lsh_pairs, q_simhash

            sh = bench.best_of(
                lambda: q_simhash(spark, sf_dir).agg(F.sum("simhash16")).collect()
            )
            record("dedup.simhash", sh)
            lp = bench.best_of(lambda: q_lsh_pairs(spark, sf_dir).count())
            record("dedup.lsh_pairs", lp)
        elif name == "knn":
            from tokforge.pipeline.similarity import q_knn_bruteforce

            dump_plan("knn", q_knn_bruteforce(spark, sf_dir))
            record(name, bench.bench_knn(spark, sf_dir))
        elif name == "stream_cache":
            dt, _, _ = bench.bench_stream_cache(spark, sf_dir, cfg)
            record(name, dt)
        else:
            print(f"unknown query: {name}", file=sys.stderr)
        print(
            json.dumps({"query": name, "wall_with_warmups": round(time.time() - t_start, 3)}),
            file=sys.stderr,
        )
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({"metric": "bench_extra", "queries": results, "sf": sf_dir,
                      "value": round(sum(results.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
