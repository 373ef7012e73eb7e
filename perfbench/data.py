"""Benchmark inputs, generated inside the checkout.

Two kinds of input:

* The corpus tables (``documents``, ``events``, ``embeddings``) that
  ``tokforge``'s query functions read from an ``sf_dir``.  They are the
  same at every seed (fixed internal seed, sf0.1 shapes: 5000 documents,
  100000 events, 2000 64-dim embeddings), so the output digests of the
  queries over them are constants kept in ``expected.json``.
* The per-seed request inputs: which signatures are corrupted, which keys
  repeat and the order of the stream drops.  They are built from the
  corpus with ``tokforge.sources.requests.requests_df`` and signed with
  ``make_sign_udf``, so the program sees only ordinary request rows.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
N_DOC = 5000
N_EV = 100_000
N_USERS = 1500
N_EMB = 2000
EMBED_DIM = 64
EVENT_SPAN_S = 30 * 86400
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "fr", "de")
WORDS = (
    "batch part spark line column order small sort vector scan fast query "
    "agg filter customer value slow string join window state stream token"
).split()

# 2024-01-01 00:00:00 UTC, the epoch requests_df and the corpus share
EPOCH_S = 1704067200

REQUEST_COLUMNS = (
    "doc_id", "source", "n_tok", "tokens", "ts", "ops", "sig",
    "orientation", "src_dtype",
)


def write_corpus(sf_dir: str | os.PathLike, scale: float = 1.0) -> None:
    """Write the three seed-independent corpus tables (single row group
    each, like the sf0.1 test data; ``scale`` shrinks every table, so the
    benchmark's own tests can run at sf0.001) unless they are already
    there."""
    sf = Path(sf_dir)
    sf.mkdir(parents=True, exist_ok=True)
    done = sf / "_READY"
    if done.exists():
        return
    rng = np.random.default_rng(CORPUS_SEED)
    n_docs, n_events, n_emb = (int(n * scale) for n in (N_DOC, N_EV, N_EMB))

    doc_id = np.arange(n_docs, dtype=np.int64)
    n_words = rng.integers(8, 80, n_docs)
    vocab = np.asarray(WORDS, dtype=object)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    docs = pa.table(
        {
            "doc_id": doc_id,
            "text": text,
            "lang": np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 5}" for i in range(n_docs)],
            "n_chars": np.asarray([len(t) for t in text], dtype=np.int64),
        }
    )
    pq.write_table(docs, sf / "documents.parquet")

    ts_us = np.sort(rng.integers(0, EVENT_SPAN_S * 1_000_000, n_events)) + EPOCH_S * 1_000_000
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, N_USERS, n_events).astype(np.int64),
            "event_type": np.asarray(EVENT_TYPES, dtype=object)[
                rng.integers(0, len(EVENT_TYPES), n_events)
            ],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    pq.write_table(events, sf / "events.parquet")

    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32) * np.float32(0.1)
    offsets = np.arange(0, n_emb * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(emb.reshape(-1), type=pa.float32())
            ),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    pq.write_table(embeddings, sf / "embeddings.parquet")
    done.write_text("")


def utc_micros(table: pa.Table) -> pa.Table:
    """Store every timestamp column as UTC-adjusted microseconds, the
    parquet form Spark reads back as TimestampType."""
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type):
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp("us", tz="UTC")))
    return table


def corrupt_sig(sig: str) -> str:
    """A signature of the right shape that does not verify: the first
    character is replaced by a different base64url character."""
    return ("B" if sig[0] == "A" else "A") + sig[1:]


def stream_rows(n_universe: int, n_rows: int, repeat_share: float, bad_share: float,
                rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """Row plan for a request stream: (universe index per row, bad-signature
    flag per row).  A row repeats a key seen earlier with probability
    ``repeat_share``; otherwise it takes the next unused key."""
    pick = np.empty(n_rows, dtype=np.int64)
    repeat = rng.random(n_rows) < repeat_share
    repeat[0] = False
    fresh = 0
    for i in range(n_rows):
        if repeat[i]:
            pick[i] = pick[rng.integers(0, i)]
        else:
            pick[i] = fresh % n_universe
            fresh += 1
    bad = rng.random(n_rows) < bad_share
    return pick, bad


def request_table(universe: pa.Table, pick: np.ndarray, bad: np.ndarray,
                  first_ts_us: int) -> pa.Table:
    """Materialize a row plan over a signed request universe.  Row ``i``
    gets event time ``first_ts_us + i`` µs: unique, so each committed row
    can be traced back to its drop, and within seconds of the first row,
    so no row ever falls behind the stream's 10-minute watermark."""
    t = universe.take(pa.array(pick))
    sig = t.column("sig").to_pylist()
    for i in np.nonzero(bad)[0]:
        sig[i] = corrupt_sig(sig[i])
    ts = pa.array(first_ts_us + np.arange(len(pick), dtype=np.int64),
                  type=pa.timestamp("us", tz="UTC"))
    cols = {c: t.column(c) for c in REQUEST_COLUMNS}
    cols["sig"] = pa.array(sig, type=pa.string())
    cols["ts"] = ts
    return pa.table(cols)
