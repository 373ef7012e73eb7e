"""HMAC-SHA256 request signing (reference: src/url.rs:60-72 signature
check; src/service.rs:448-477 signature gate + path-to-sign).

The signed path is ``"/" + ops_chain + "/" + doc_id`` — the token-domain
canonical form of the imgforge URL path (options + source).  Signatures are
URL-safe base64 without padding, over ``HMAC(key, salt || path)``.

:func:`verify_signatures` is the ONLY verifier: the batch transform pass,
the streaming gate and the path-envelope query all call it, so they accept
exactly the same signatures.
"""

from __future__ import annotations

import base64
import hashlib
import hmac

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc


def canonical_path(ops: str, doc_id: str) -> str:
    return f"/{ops}/{doc_id}"


def sign_path(key: bytes, salt: bytes, path: str) -> str:
    mac = hmac.new(key, salt + path.encode("utf-8"), hashlib.sha256)
    return base64.urlsafe_b64encode(mac.digest()).decode("ascii").rstrip("=")


def sign_series(key: bytes, salt: bytes, ops: pd.Series, doc_id: pd.Series) -> pd.Series:
    """Vectorized (per-Arrow-batch) signing for pandas UDFs."""
    out = np.empty(len(ops), dtype=object)
    ops_vals = ops.to_numpy(dtype=object)
    doc_vals = doc_id.to_numpy(dtype=object)
    for i in range(len(out)):
        out[i] = sign_path(key, salt, canonical_path(ops_vals[i], doc_vals[i]))
    return pd.Series(out)


def sign_path_series(key: bytes, salt: bytes, path: pd.Series) -> pd.Series:
    """Sign ARBITRARY path strings (the full-envelope flow: the message is
    build_path_to_sign's output, service.rs:475-477)."""
    vals = path.to_numpy(dtype=object)
    out = np.empty(len(vals), dtype=object)
    for i in range(len(out)):
        out[i] = sign_path(key, salt, vals[i])
    return pd.Series(out)


def _string_views(arr: pa.Array) -> tuple[list, memoryview]:
    """(offsets, utf-8 data) over a string column's raw Arrow buffers —
    per-row byte access without materializing Python strings."""
    bufs = arr.buffers()  # [validity, offsets, data]
    odt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    return offsets.tolist(), memoryview(bufs[2])


def verify_signatures(
    key: bytes,
    salt: bytes,
    sig,
    *,
    ops=None,
    doc_id=None,
    path=None,
    allow_unsigned: bool = False,
) -> pa.Array:
    """Verify a batch of signatures straight off Arrow string buffers
    (reference: url.rs:60-72).  The signed message is either
    ``"/" + ops + "/" + doc_id`` (pass ``ops`` and ``doc_id``) or an
    already-built ``path`` (build_path_to_sign's output, service.rs:475-477).

    - Only the canonical spelling verifies: the exact unpadded base64url
      text :func:`sign_path` produces.  Padding (``sig + "="``) and the
      standard-alphabet (``+``/``/``) spelling are rejected.
    - The literal ``unsafe`` passes only when ``allow_unsigned``
      (service.rs:453-470).
    - A null in the signature or in any message column is ``False``.

    The HMAC state after ``salt || "/" + ops + "/"`` is computed once per
    distinct ops chain (dictionary-encoded, so repeats are found in C) and
    ``copy()``-ed per row; each row pays only the tail update + digest.
    """
    n = len(sig)
    if path is not None:
        tail = path
        prefix_macs = [hmac.new(key, salt, hashlib.sha256)]
        codes = [0] * n
        null_cols = (sig, tail)
    else:
        tail = doc_id
        enc = pc.dictionary_encode(ops)
        prefix_macs = [
            hmac.new(key, salt + b"/" + o.encode() + b"/", hashlib.sha256)
            for o in enc.dictionary.to_pylist()
        ]
        # plain-int lists: per-row numpy scalar indexing costs ~0.4 us/row
        # on top of a ~2.5 us/row HMAC floor
        codes = pc.fill_null(enc.indices, 0).to_numpy(zero_copy_only=False).tolist()
        null_cols = (sig, ops, tail)
    out = np.zeros(n, dtype=bool)
    if sum(c.null_count for c in null_cols):
        valid = np.ones(n, dtype=bool)
        for c in null_cols:
            valid &= c.is_valid().to_numpy(zero_copy_only=False)
        rows = np.flatnonzero(valid).tolist()
    else:
        rows = range(n)
    t_off, t_mv = _string_views(tail)
    s_off, s_mv = _string_views(sig)
    unsafe = b"unsafe"
    compare = hmac.compare_digest
    b64 = base64.urlsafe_b64encode
    for i in rows:
        s = s_mv[s_off[i] : s_off[i + 1]]
        if s == unsafe:
            out[i] = allow_unsigned
            continue
        mac = prefix_macs[codes[i]].copy()
        mac.update(t_mv[t_off[i] : t_off[i + 1]])
        out[i] = compare(b64(mac.digest()).rstrip(b"="), s)
    return pa.array(out)
