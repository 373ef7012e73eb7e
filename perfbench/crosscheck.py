"""One-time cross-check of the benchmark's expected values against the
specification implementations, run when the constants in expected.json are
recorded:

* transform_signed: a sample of the flagship request table through
  ``transform_requests_arrow`` equals the per-row kernel
  ``operators.kernel.apply_plan`` row for row;
* corpus_queries: each of the six queries equals its DuckDB oracle SQL
  over the same parquet tables, row for row.

Run from the repository root after one benchmark run has built the cached
inputs:

    python3 perfbench/crosscheck.py            # check and print
    python3 perfbench/crosscheck.py --record   # also store the result in expected.json
"""

from __future__ import annotations

import glob
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]
os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")])

SAMPLE_ROWS = 400


def canon(rows: list[tuple]) -> list[tuple]:
    return sorted(rows, key=repr)


def check_transform(spark, work: Path) -> dict:
    import numpy as np
    import pyarrow.parquet as pq

    import transform_signed as ts
    from tokforge.engine.config import EngineConfig
    from tokforge.engine.transform_arrow import transform_requests_arrow
    from tokforge.operators.kernel import apply_plan
    from tokforge.plans.options import parse_chain

    cfg = EngineConfig()
    signed = max(glob.glob(str(work / "cache" / "transform_signed-*" / "signed")),
                 key=os.path.getmtime)
    table = pq.read_table(signed)
    idx = np.random.default_rng(0).choice(table.num_rows, SAMPLE_ROWS, replace=False)
    sample = table.take(idx)
    df = spark.createDataFrame(sample.to_pandas())
    got = {r["doc_id"]: r for r in transform_requests_arrow(df, cfg, verify=True).collect()}
    plan = parse_chain(ts.FLAGSHIP_CHAIN, cfg.presets_dict or None, cfg.only_presets)
    bad = 0
    for row in sample.to_pylist():
        ref = apply_plan(np.asarray(row["tokens"]), plan, row["orientation"], row["src_dtype"],
                         cfg.default_format)
        out = got[row["doc_id"]]
        same = (list(out["tokens_out"]) == ref.tokens.tolist() and out["n_out"] == len(ref.tokens)
                and out["dtype"] == ref.dtype and out["size_bytes"] == ref.size_bytes
                and out["quality"] == ref.quality and out["fmt"] == ref.fmt
                and out["sig_valid"] is True and out["error"] is None)
        bad += not same
    return {"rows": SAMPLE_ROWS, "mismatched_rows": bad}


def check_corpus(spark, work: Path) -> dict:
    import duckdb

    import corpus_queries as cq
    from tokforge.engine.queries import SQL_WINDOW_SESSION, SQL_WINDOW_TUMBLING_SLIDING
    from tokforge.pipeline import dedup, similarity

    sf = work / "cache" / "sf0.1"
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    con.execute("SET TimeZone = 'UTC'")
    oracle = {
        "window_tumbling_sliding": SQL_WINDOW_TUMBLING_SLIDING,
        "window_session": SQL_WINDOW_SESSION,
        "simhash": dedup._sql_simhash(),
        "lsh_pairs": dedup._sql_lsh_pairs(),
        "ngram_jaccard": dedup._sql_ngram_jaccard(),
        "knn_bruteforce": similarity._sql_knn_bruteforce(),
    }
    out = {}
    for name, (_layer, fn) in cq.query_fns().items():
        df = fn(spark, str(sf))
        cols = df.columns
        spark_rows = canon([tuple(_py(r[c]) for c in cols) for r in df.collect()])
        duck = con.execute(oracle[name]).df()
        duck_rows = canon([tuple(_py(v) for v in r) for r in duck[cols].itertuples(index=False)])
        out[name] = {"rows": len(spark_rows), "matches_oracle": spark_rows == duck_rows}
    return out


def _py(v):
    """Spark and DuckDB rows in one comparable form (timestamps as epoch
    seconds, numpy scalars as Python numbers)."""
    import datetime

    import numpy as np
    import pandas as pd

    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v)
        return (ts.tz_localize("UTC") if ts.tzinfo is None else ts).timestamp()
    if isinstance(v, np.generic):
        return v.item()
    return v


def main() -> int:
    import harness
    from tokforge.engine.session import build_spark

    work = ROOT / ".perfbench_work"
    cores = harness.core_count()
    spark = build_spark(app_name="perfbench-crosscheck", master=f"local[{cores}]",
                        shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        result = {"transform_signed": check_transform(spark, work),
                  "corpus_queries": check_corpus(spark, work)}
    finally:
        spark.stop()
    print(json.dumps(result, indent=1))
    ok = (result["transform_signed"]["mismatched_rows"] == 0
          and all(v["matches_oracle"] for v in result["corpus_queries"].values()))
    if "--record" in sys.argv[1:]:
        path = HERE / "expected.json"
        exp = json.loads(path.read_text())
        exp["crosscheck"] = result
        path.write_text(json.dumps(exp, indent=2) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
