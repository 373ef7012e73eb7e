"""The Spark execution of the transform chain: ONE ``mapInArrow`` pass
applies verify -> parse -> validate -> kernel to whole record batches and
never materializes per-row Python objects:

  pa.ListArray  ->  flat values + offsets  ->  bucket gather (one fancy
  index per (ops, n, dtype) bucket)  ->  rect kernel  ->  flat scatter
  ->  pa.ListArray.from_arrays

Strings (ops, src_dtype) are dictionary-encoded so bucketing works on
int codes.  A bucket that fails a gate (parse error, MIME allowlist,
expiry, security caps) or raises in the kernel gets its error text in
the ``error`` column and a null ``tokens_out``; the other buckets of the
batch are unaffected.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tokforge.engine.config import DEFAULT_CONFIG, EngineConfig
from tokforge.engine.transform import _plan_for, admit_bearer, status_code_col
from tokforge.functions.signing import verify_signatures
from tokforge.operators.alloc import tune_allocator  # noqa: F401
from tokforge.operators.kernel import TransformError
from tokforge.operators.kernel_rect import apply_plan_rect
from tokforge.plans.options import OptionParseError, content_disposition, strips_metadata

# kernel-side slice size: each length-ladder bucket of a slice stays
# cache-resident through the op chain (see transform_requests_arrow.fn)
_KERNEL_SLICE_ROWS = 10_000

OUTPUT_SCHEMA_DDL = (
    "doc_id string, source string, ts timestamp, ops string, n_tok int, "
    "sig_valid boolean, tokens_out array<int>, n_out int, dtype string, "
    "size_bytes long, quality int, fmt string, content_disposition string, "
    "meta_orientation int, error string"
)


def _dict_codes(arr: pa.Array) -> tuple[np.ndarray, list]:
    enc = pc.dictionary_encode(arr)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    return enc.indices.to_numpy(zero_copy_only=False), enc.dictionary.to_pylist()


def _transform_record_batch(batch: pa.RecordBatch, config: EngineConfig) -> pa.RecordBatch:
    n = batch.num_rows
    toks = batch.column("tokens")
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    # flatten() drops per-list validity/offset base; use raw buffers
    offsets = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = toks.values.to_numpy(zero_copy_only=False)  # int32, zero-copy
    lengths = np.diff(offsets)

    ops_codes, ops_dict = _dict_codes(batch.column("ops"))
    sdt_codes, sdt_dict = _dict_codes(batch.column("src_dtype"))
    orientations = batch.column("orientation").to_numpy(zero_copy_only=False).astype(np.int64)
    ts_unix = batch.column("ts_unix").to_numpy(zero_copy_only=False).astype(np.int64)

    # composite bucket key -> inverse index (fully vectorized bucketing)
    key = (ops_codes.astype(np.int64) * len(sdt_dict) + sdt_codes) * (
        int(lengths.max(initial=0)) + 1
    ) + lengths
    uniq, inv = np.unique(key, return_inverse=True)

    out_n = np.zeros(n, dtype=np.int32)
    out_dtype = np.empty(n, dtype=object)
    out_size = np.zeros(n, dtype=np.int64)
    out_quality = np.zeros(n, dtype=np.int32)
    out_fmt = np.empty(n, dtype=object)
    out_cd = np.full(n, None, dtype=object)
    out_meta = np.full(n, None, dtype=object)
    out_error = np.full(n, None, dtype=object)
    bucket_results: list[tuple[np.ndarray, np.ndarray]] = []  # (row_idx, matrix)

    for b in range(len(uniq)):
        row_idx = np.nonzero(inv == b)[0]
        i0 = row_idx[0]
        ops_str = ops_dict[ops_codes[i0]]
        sdt = sdt_dict[sdt_codes[i0]]
        length = int(lengths[i0])

        plan = _plan_for(ops_str, config)
        if isinstance(plan, OptionParseError):
            out_error[row_idx] = str(plan)
            continue
        # MIME-allowlist analog (reference: service.rs:500-510).
        if (
            config.allowed_src_dtypes is not None
            and sdt_dict[sdt_codes[i0]].lower() not in config.allowed_src_dtypes
        ):
            out_error[row_idx] = "Source type not allowed"
            continue
        if plan.expires is not None:
            expired = ts_unix[row_idx] > plan.expires
            out_error[row_idx[expired]] = "Request expired"
            row_idx = row_idx[~expired]
            if len(row_idx) == 0:
                continue
        cap_bytes = config.max_src_file_size
        cap_res = config.max_src_resolution
        if config.allow_security_options:
            if plan.max_src_file_size is not None:
                cap_bytes = plan.max_src_file_size
            if plan.max_src_resolution is not None:
                cap_res = plan.max_src_resolution
        if cap_bytes is not None and length * 4 > cap_bytes:
            out_error[row_idx] = "Source image is too large"
            continue
        if cap_res is not None and length > cap_res * 1_000_000:
            out_error[row_idx] = "Source image resolution is too large"
            continue

        if length > 0:
            gather = offsets[row_idx][:, None] + np.arange(length, dtype=np.int64)
            mat = values[gather]
        else:
            mat = np.empty((len(row_idx), 0), dtype=np.int32)
        try:
            result = apply_plan_rect(
                mat,
                plan,
                orientations=orientations[row_idx],
                src_dtype=str(sdt),
                default_format=config.default_format,
            )
        except (TransformError, OptionParseError) as exc:
            out_error[row_idx] = str(exc)
            continue

        out_n[row_idx] = result.tokens.shape[1]
        out_dtype[row_idx] = result.dtype
        out_size[row_idx] = result.size_bytes
        out_quality[row_idx] = result.quality
        out_fmt[row_idx] = result.fmt
        out_cd[row_idx] = content_disposition(plan)
        if not strips_metadata(plan):
            if plan.auto_rotate and not plan.raw:
                out_meta[row_idx] = 1  # EXIF consumed by auto-rotate
            else:
                out_meta[row_idx] = orientations[row_idx]
        bucket_results.append((row_idx, result.tokens))

    # assemble the output list column: flat scatter into one values buffer
    has_error = out_error != None  # noqa: E711 - vectorized comparison
    out_counts = np.where(has_error, 0, out_n).astype(np.int64)
    out_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(out_counts, out=out_offsets[1:])
    flat = np.empty(int(out_offsets[-1]), dtype=np.int32)
    for row_idx, matrix in bucket_results:
        width = matrix.shape[1]
        if width == 0:
            continue
        scatter = out_offsets[row_idx][:, None] + np.arange(width, dtype=np.int64)
        flat[scatter] = matrix.astype(np.int32, copy=False)

    tokens_out = pa.ListArray.from_arrays(
        pa.array(out_offsets, type=pa.int32()), pa.array(flat, type=pa.int32())
    )
    if has_error.any():
        tokens_out = pc.if_else(
            pa.array(has_error), pa.nulls(n, type=tokens_out.type), tokens_out
        )

    if "sig" in batch.schema.names:
        # verified inside the same Arrow pass: a separate UDF stage chained
        # into mapInArrow measured 25x slower — one Python crossing beats two
        sig_col = verify_signatures(
            config.key, config.salt, batch.column("sig"),
            ops=batch.column("ops"), doc_id=batch.column("doc_id"),
            allow_unsigned=config.allow_unsigned,
        )
    else:
        sig_col = pa.array(np.ones(n, dtype=bool))
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            batch.column("source"),
            batch.column("ts"),
            batch.column("ops"),
            batch.column("n_tok"),
            sig_col,
            tokens_out,
            pa.array(out_n, type=pa.int32()),
            pa.array(out_dtype, type=pa.string()),
            pa.array(out_size, type=pa.int64()),
            pa.array(out_quality, type=pa.int32()),
            pa.array(out_fmt, type=pa.string()),
            pa.array(out_cd, type=pa.string()),
            pa.array(out_meta.tolist(), type=pa.int32()),
            pa.array(out_error, type=pa.string()),
        ],
        names=[
            "doc_id",
            "source",
            "ts",
            "ops",
            "n_tok",
            "sig_valid",
            "tokens_out",
            "n_out",
            "dtype",
            "size_bytes",
            "quality",
            "fmt",
            "content_disposition",
            "meta_orientation",
            "error",
        ],
    )


def transform_requests_arrow(
    requests: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    verify: bool = True,
) -> DataFrame:
    """The full per-row pipeline over a request DataFrame, in ONE
    ``mapInArrow`` pass: signature gate -> parse/validate -> vectorized
    kernel -> output columns.  Row-for-row equal to the per-row kernel
    ``apply_plan`` (tests assert parity).  Everything before/after the
    pass is built-in Column algebra, so Catalyst keeps scan pruning and
    whole-stage codegen around the one Arrow exchange (SURVEY.md §3
    entry point 1)."""
    df = admit_bearer(requests, config)
    df = df.withColumn("ts_unix", F.unix_timestamp(F.col("ts")))
    cols = [
        "doc_id", "source", "ts", "ops", "n_tok",
        "tokens", "orientation", "src_dtype", "ts_unix",
    ]
    if verify:
        cols.append("sig")  # verified inside the Arrow pass
    df = df.select(*cols)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # Decouple TRANSFER batch size from KERNEL working-set size: the
        # Arrow boundary amortizes best with large batches while the
        # vectorized kernel wants each length-ladder bucket inside L2/L3
        # (measured: 100k-row kernel buckets blow L3).  Large incoming
        # batches are zero-copy sliced to ~10k rows before bucketing, so
        # both sides sit at their own optimum regardless of
        # spark.sql.execution.arrow.maxRecordsPerBatch.
        for batch in batches:
            n = batch.num_rows
            if n <= _KERNEL_SLICE_ROWS:
                yield _transform_record_batch(batch, config)
            else:
                for s in range(0, n, _KERNEL_SLICE_ROWS):
                    yield _transform_record_batch(
                        batch.slice(s, _KERNEL_SLICE_ROWS), config
                    )

    # status class is derived JVM-side from (sig_valid, error) — zero cost
    # inside the Arrow pass
    return df.mapInArrow(fn, OUTPUT_SCHEMA_DDL).withColumn(
        "status", status_code_col()
    )
