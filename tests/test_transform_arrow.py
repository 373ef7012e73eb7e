"""The Arrow-native transform pass == the per-row kernel (``apply_plan``),
row for row, including signature verification, error channels, and
empty/edge buckets."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from tokforge.engine.config import EngineConfig
from tokforge.engine.transform import make_sign_udf
from tokforge.engine.transform_arrow import transform_requests_arrow
from tokforge.operators.kernel import TransformError, apply_plan
from tokforge.plans.options import OptionParseError, parse_chain
from tokforge.sources.requests import requests_df

CFG = EngineConfig()

CHAINS = [
    "resize:fill:128:0:1:1/gravity:ce/padding:4/rotate:90/brightness:25/"
    "contrast:1.2/saturation:0.8/blur:1.5/sharpen:0.8/pixelate:4/"
    "watermark:0.6:soea/background:336699/quality:80/format:jpeg",
    "crop:50:0:ce",  # default-format fallback per src_dtype
    "raw",
    "rotate:45/format:png",  # parse error channel
    "expires:1704070800/format:png",  # expiry channel (EPOCH+1h)
    "expires:1704067230/format:png",  # EPOCH+30s: doc_id%7200 > 30 expire
    "max_bytes:40/format:jpeg/quality:95",
]


def _rows(df):
    return {
        r["doc_id"]: (
            r["sig_valid"],
            list(r["tokens_out"]) if r["tokens_out"] is not None else None,
            r["n_out"],
            r["dtype"],
            r["size_bytes"],
            r["quality"],
            r["fmt"],
            r["error"],
        )
        for r in df.collect()
    }


def _kernel_row(r, cfg: EngineConfig):
    """One request through parse_chain, the expiry gate and the per-row
    kernel, shaped like a row of :func:`_rows` (error rows carry the
    exception text, null tokens and zeroed numeric columns)."""

    def error(msg):
        return (True, None, 0, None, 0, 0, None, msg)

    try:
        plan = parse_chain(r["ops"], cfg.presets_dict or None, cfg.only_presets)
    except OptionParseError as exc:
        return error(str(exc))
    if plan.expires is not None and r["ts_unix"] > plan.expires:
        return error("Request expired")
    try:
        out = apply_plan(
            np.array(r["tokens"], dtype=np.int64),
            plan,
            orientation=r["orientation"],
            src_dtype=r["src_dtype"],
            default_format=cfg.default_format,
        )
    except (TransformError, OptionParseError) as exc:
        return error(str(exc))
    tokens = [int(t) for t in out.tokens]
    return (True, tokens, len(tokens), out.dtype, out.size_bytes, out.quality, out.fmt, None)


def _kernel_rows(req, cfg: EngineConfig = CFG):
    cols = ["doc_id", "ops", "tokens", "orientation", "src_dtype"]
    return {
        r["doc_id"]: _kernel_row(r, cfg)
        for r in req.select(*cols, F.unix_timestamp("ts").alias("ts_unix")).collect()
    }


def test_arrow_equals_kernel_across_chains(spark):
    errors = set()
    for chain in CHAINS:
        req = requests_df(spark, SF_SMALL, chain).limit(60)
        expect = _kernel_rows(req)
        assert len(expect) == 60, chain
        assert _rows(transform_requests_arrow(req, CFG, verify=False)) == expect, chain
        errors |= {v[-1] for v in expect.values()}
    # the parse-error and expiry channels really fire
    assert {"rotation must be one of: 0, 90, 180, 270", "Request expired"} <= errors


def test_bearer_gate_parity(spark):
    """The bearer-secret admission filter drops unauthorized rows before
    the Arrow pass; the admitted rows equal the per-row kernel."""
    cfg = EngineConfig(bearer_token="s3cret")
    chain = "crop:8:0/format:png"
    req = requests_df(spark, SF_SMALL, chain).limit(30)
    req = req.withColumn(
        "bearer",
        F.when(F.col("doc_id").cast("long") % 2 == 0, F.lit("s3cret")).otherwise(
            F.lit("wrong")
        ),
    )
    a = _rows(transform_requests_arrow(req, cfg, verify=False))
    expect = _kernel_rows(req.filter(F.col("bearer") == "s3cret"), cfg)
    assert a == expect
    assert a, "bearer filter must admit the matching half"
    assert all(int(d) % 2 == 0 for d in a), "only bearer-matching rows admitted"


def test_arrow_verify_in_pass(spark):
    chain = "crop:8:0/format:png"
    req = requests_df(spark, SF_SMALL, chain).limit(20)
    sign = make_sign_udf(CFG)
    req = req.withColumn("sig", sign(F.col("ops"), F.col("doc_id")))
    req = req.withColumn(
        "sig",
        F.when(F.col("doc_id").cast("long") % 3 == 0, F.lit("unsafe")).otherwise(
            F.col("sig")
        ),
    )
    out = transform_requests_arrow(req, CFG, verify=True)
    for r in out.select("doc_id", "sig_valid").collect():
        assert r["sig_valid"] == (int(r["doc_id"]) % 3 != 0)


def test_output_shaping_columns_both_paths(spark):
    """content_disposition + meta_orientation (round-4 real effects) follow
    the reference rules on the Arrow path, whose tokens equal the per-row
    kernel: filename -> header (sanitized), strip -> NULL metadata,
    auto_rotate consumes the EXIF tag (1), auto_rotate:false / raw keep
    the original."""
    cases = {
        'filename:a"b/return_attachment:1/strip_metadata:true/format:jpeg': (
            'attachment; filename="a_b"',
            None,
        ),
        "filename:x.png/auto_rotate:false/format:png": (
            'inline; filename="x.png"',
            "orig",
        ),
        "crop:10:0/format:png": (None, 1),
        "raw": (None, "orig"),
    }
    for chain, (cd, meta) in cases.items():
        req = requests_df(spark, SF_SMALL, chain).limit(24)
        out = transform_requests_arrow(req, CFG, verify=False)
        assert _rows(out) == _kernel_rows(req), chain
        rows = out.collect()
        assert rows, chain
        for r in rows:
            assert r["content_disposition"] == cd, chain
            expect = 1 + int(r["doc_id"]) % 8 if meta == "orig" else meta
            assert r["meta_orientation"] == expect, (chain, r)


def test_status_taxonomy_both_paths(spark):
    """The status column mirrors the reference's error classes
    (service.rs:676-800): 403 bad signature, 404 expired, 400 other
    errors, 200 OK — the Arrow path's errors equal the per-row kernel's
    and its status equals the scalar mapping."""
    from tokforge.engine.transform import status_for_error

    # expires = EPOCH+10s: docs with doc_id%7200 > 10 expire (most of 30)
    chain = "expires:1704067210/crop:10:0/format:int32"
    req = requests_df(spark, SF_SMALL, chain).limit(30)
    sign = make_sign_udf(CFG)
    d = F.col("doc_id").cast("long")
    req = req.withColumn(
        "sig",
        F.when(d % 5 == 0, F.lit("bad-signature")).otherwise(
            sign(F.col("ops"), F.col("doc_id"))
        ),
    )
    expect = _kernel_rows(req)
    rows = transform_requests_arrow(req, CFG, verify=True).collect()
    assert len(rows) == len(expect) == 30
    seen = set()
    for r in rows:
        assert r["sig_valid"] == (int(r["doc_id"]) % 5 != 0), r
        assert r["error"] == expect[r["doc_id"]][-1], r
        assert r["status"] == status_for_error(r["error"], r["sig_valid"]), r
        seen.add(r["status"])
    assert {200, 403, 404} <= seen
