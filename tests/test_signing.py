"""Port of the signature-validation suite (src/url.rs:144-407 tests;
service.rs:448-470 gate): valid / invalid / wrong-path / unsafe, through
the one verifier every entry point shares (functions.signing
.verify_signatures)."""

from __future__ import annotations

import base64

import pyarrow as pa
import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from tokforge.engine.config import EngineConfig
from tokforge.functions.signing import canonical_path, sign_path, verify_signatures

KEY = b"secretkey"
SALT = b"salt"


def _valid(sig, path, key=KEY, salt=SALT):
    return verify_signatures(key, salt, pa.array([sig]), path=pa.array([path]))[0].as_py()


def _noncanonical(sig: str) -> list[str]:
    """The two spellings that decode to the same digest but are not the
    canonical unpadded base64url text: padded, and standard alphabet."""
    padded = sig + "=" * (-len(sig) % 4 or 1)
    std = base64.b64encode(base64.urlsafe_b64decode(sig + "=" * (-len(sig) % 4)))
    return [padded, std.decode().rstrip("=")]


def _signed_with_urlsafe_chars(ops: str) -> tuple[str, str]:
    """(doc_id, signature) for a doc whose signature contains '-' or '_',
    so its standard-alphabet spelling differs from it."""
    for i in range(100):
        sig = sign_path(KEY, SALT, canonical_path(ops, str(i)))
        if "-" in sig or "_" in sig:
            return str(i), sig
    raise AssertionError("no signature with a url-safe character")


def test_sign_verify_roundtrip():
    path = canonical_path("resize:fit:10/format:png", "doc-1")
    sig = sign_path(KEY, SALT, path)
    assert _valid(sig, path)


def test_wrong_path_rejected():
    sig = sign_path(KEY, SALT, "/a/b")
    assert not _valid(sig, "/a/c")


def test_wrong_key_rejected():
    sig = sign_path(KEY, SALT, "/a/b")
    assert not _valid(sig, "/a/b", key=b"otherkey")


def test_wrong_salt_rejected():
    sig = sign_path(KEY, SALT, "/a/b")
    assert not _valid(sig, "/a/b", salt=b"pepper")


def test_malformed_base64_rejected():
    assert not _valid("!!!not-base64!!!", "/a/b")


def test_tampered_signature_rejected():
    sig = sign_path(KEY, SALT, "/a/b")
    assert not _valid(sig + "x", "/a/b")


def test_signature_is_urlsafe_no_pad():
    sig = sign_path(KEY, SALT, "/ops/doc")
    assert "=" not in sig and "+" not in sig and "/" not in sig


def test_verify_unsafe_gate():
    ops = pa.array(["a", "a"])
    doc = pa.array(["1", "2"])
    sig = pa.array(["unsafe", "unsafe"])
    out = verify_signatures(KEY, SALT, sig, ops=ops, doc_id=doc, allow_unsigned=False)
    assert out.to_pylist() == [False, False]
    out = verify_signatures(KEY, SALT, sig, ops=ops, doc_id=doc, allow_unsigned=True)
    assert out.to_pylist() == [True, True]


def test_verify_mixed():
    """Only the exact canonical text verifies.  The right signature on the
    wrong doc, the padded and the standard-alphabet (+/) spellings of a
    valid signature (same digest), and a null in any input all verify
    False, in both message forms (ops + doc_id, and a built path)."""
    ops = "resize:fit:4"
    doc, good = _signed_with_urlsafe_chars(ops)
    padded, std = _noncanonical(good)
    rows = [  # (sig, ops, doc_id, verifies)
        (good, ops, doc, True),
        (good, ops, doc + "0", False),
        (padded, ops, doc, False),
        (std, ops, doc, False),
        (None, ops, doc, False),
        (good, None, doc, False),
        (good, ops, None, False),
    ]
    sig, op, dd, expect = (list(c) for c in zip(*rows))
    out = verify_signatures(
        KEY, SALT, pa.array(sig, pa.string()),
        ops=pa.array(op, pa.string()), doc_id=pa.array(dd, pa.string()),
    )
    assert out.to_pylist() == expect
    paths = [None if o is None or d is None else canonical_path(o, d) for o, d in zip(op, dd)]
    out = verify_signatures(KEY, SALT, pa.array(sig, pa.string()), path=pa.array(paths, pa.string()))
    assert out.to_pylist() == expect


def test_noncanonical_rejected_at_every_entry_point(spark):
    """The batch transform pass (verify=True) and make_verify_udf (the
    streaming gate and sig_validate) agree with the verifier: canonical
    passes, padded / standard-alphabet / null do not."""
    from tokforge.engine.transform import make_verify_udf
    from tokforge.engine.transform_arrow import transform_requests_arrow
    from tokforge.sources.requests import requests_df

    cfg = EngineConfig()
    req = requests_df(spark, SF_SMALL, "crop:8:0/format:png").orderBy("doc_id").limit(40)
    rows = req.select("doc_id", "ops").collect()
    sigs, expect = {}, {}
    for i, r in enumerate(rows):
        good = sign_path(cfg.key, cfg.salt, canonical_path(r["ops"], r["doc_id"]))
        spelled = [good, *_noncanonical(good), None][i % 4]
        sigs[r["doc_id"]] = spelled
        expect[r["doc_id"]] = spelled == good
    assert 0 < sum(expect.values()) < len(expect)
    sig_df = spark.createDataFrame(list(sigs.items()), "doc_id string, sig string")
    req = req.join(sig_df, "doc_id")

    batch = {
        r["doc_id"]: r["sig_valid"]
        for r in transform_requests_arrow(req, cfg, verify=True).collect()
    }
    verify = make_verify_udf(cfg)
    udf = {
        r["doc_id"]: r["ok"]
        for r in req.select(
            "doc_id", verify(F.col("sig"), F.col("ops"), F.col("doc_id")).alias("ok")
        ).collect()
    }
    assert batch == expect
    assert udf == expect


def test_single_verifier_audit():
    """tools/preflight.py's audit holds on this tree: no HMAC is computed
    or compared under tokforge/ outside functions/signing.py."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "tools" / "preflight.py"
    spec = importlib.util.spec_from_file_location("preflight", path)
    preflight = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(preflight)
    assert preflight.audit_hmac_sites() == []
