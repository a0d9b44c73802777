"""Compressed block tier: delta-of-delta (integer tokens) and
Gorilla-style XOR (float64 tier values) codecs.

North_rule addition with no reference counterpart (SURVEY.md §2.12):
numpy bit-packing inside scalar pandas UDFs, array<int> → binary, with
the exact round-trip invariant decompress(compress(x)) == x — the
BASELINE per-row invariant.

Codec design (public formats: Facebook Gorilla VLDB'15 §4.1, Parquet
DELTA_BINARY_PACKED):
* ints  — store n, v0, v1 raw; zigzag(delta-of-delta) bit-packed in
  blocks of 256 with a per-block bit width byte. Fully vectorized via
  np.unpackbits/packbits (no per-value Python loop).
* floats — XOR with previous value; per value a control byte encodes
  (first nonzero byte, span length) and only the nonzero byte span is
  stored (byte-aligned simplification of Gorilla's bit-level window).

Everything is per-row (per series) — embarrassingly parallel, no
shuffle; Arrow moves the bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from fforma_spark.functions import dispatch as D

_BLOCK = 256
_MAGIC_INT = 0xD0D1
_MAGIC_FLT = 0x60F1


def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v >> 63) ^ (v << 1)).astype(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ -(u & np.uint64(1)).astype(np.int64).astype(np.uint64)).astype(
        np.int64
    )


def _pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Pack uint64 values into ``width``-bit big-endian fields."""
    if width == 0:
        return b""
    be = vals.astype(">u8").view(np.uint8).reshape(-1, 8)
    bits = np.unpackbits(be, axis=1)[:, 64 - width:]
    return np.packbits(bits.ravel()).tobytes()


def _unpack_bits(buf: np.ndarray, n: int, width: int) -> np.ndarray:
    """Inverse of _pack_bits for n values."""
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(buf)[: n * width].reshape(n, width)
    full = np.zeros((n, 64), dtype=np.uint8)
    full[:, 64 - width:] = bits
    return np.packbits(full, axis=1).view(">u8").ravel().astype(np.uint64)


def dod_encode(arr: np.ndarray) -> bytes:
    """Delta-of-delta encode an int sequence to bytes."""
    v = np.asarray(arr, dtype=np.int64)
    n = len(v)
    head = [np.uint32(_MAGIC_INT).tobytes(), np.int64(n).tobytes()]
    if n == 0:
        return b"".join(head)
    head.append(v[0].tobytes())
    if n == 1:
        return b"".join(head)
    head.append(v[1].tobytes())
    if n == 2:
        return b"".join(head)
    d2 = np.diff(np.diff(v))
    z = _zigzag(d2)
    chunks = []
    for i in range(0, len(z), _BLOCK):
        blk = z[i : i + _BLOCK]
        width = int(blk.max()).bit_length() if blk.any() else 0
        chunks.append(np.uint8(width).tobytes())
        chunks.append(_pack_bits(blk, width))
    return b"".join(head + chunks)


def dod_encode_matrix(X: np.ndarray) -> list[bytes]:
    """Batched :func:`dod_encode` for a ``(B, n)`` int64 matrix with
    n ≥ 3 — BIT-FOR-BIT equal to ``[dod_encode(row) for row in X]``
    (asserted exactly in tests/test_compress.py). Rows are independent;
    the caller sizes B (functions/dispatch.py keeps the unpacked bit
    matrix, rows × 256 × 64 bytes per block, cache-resident).

    The per-series encoder costs ~180 µs/doc, almost all numpy call
    dispatch on ~100-element arrays; batching same-length series
    amortizes that across B rows (measured ~16× per core on the bench
    length distribution). Exactness is structural: diff/zigzag are
    elementwise integer ops, per-block widths are computed row-wise,
    and rows are packed per (block, width) sub-group with
    ``np.packbits(axis=1)``, which byte-aligns each row independently
    — exactly what the scalar ``_pack_bits`` produces per row.
    """
    X = np.ascontiguousarray(X, dtype=np.int64)
    B, n = X.shape
    if n < 3:
        raise ValueError("dod_encode_matrix requires n >= 3")
    # heads: magic(4) | n(8) | v0(8) | v1(8) — byte-identical to the
    # scalar path's np .tobytes() concatenation (native little-endian)
    head = np.empty((B, 28), dtype=np.uint8)
    head[:, :4] = np.frombuffer(np.uint32(_MAGIC_INT).tobytes(), dtype=np.uint8)
    head[:, 4:12] = np.frombuffer(np.int64(n).tobytes(), dtype=np.uint8)
    head[:, 12:20] = X[:, 0:1].copy().view(np.uint8)
    head[:, 20:28] = X[:, 1:2].copy().view(np.uint8)
    z = _zigzag(np.diff(X, n=2, axis=1))
    nz = n - 2
    chunks: list[list[bytes]] = [[h.tobytes()] for h in head]
    pows = np.uint64(1) << np.arange(64, dtype=np.uint64)
    for lo in range(0, nz, _BLOCK):
        hi = min(lo + _BLOCK, nz)
        blk = z[:, lo:hi]
        cnt = hi - lo
        # width = bit_length(row max): count of set thresholds — exact
        # for the full uint64 range (no float log)
        widths = (blk.max(axis=1)[:, None] >= pows[None, :]).sum(axis=1)
        for w in np.unique(widths):
            rows = np.flatnonzero(widths == w)
            w = int(w)
            if w == 0:
                wb = bytes([0])
                for r in rows:
                    chunks[r].append(wb)
                continue
            sub = blk[rows]
            be = sub.astype(">u8").view(np.uint8).reshape(len(rows), cnt, 8)
            bits = np.unpackbits(be, axis=2)[:, :, 64 - w :]
            packed = np.packbits(bits.reshape(len(rows), cnt * w), axis=1)
            nb = packed.shape[1]
            rowbuf = np.empty((len(rows), nb + 1), dtype=np.uint8)
            rowbuf[:, 0] = w
            rowbuf[:, 1:] = packed
            buf = rowbuf.tobytes()
            step = nb + 1
            for j, r in enumerate(rows):
                chunks[r].append(buf[j * step : (j + 1) * step])
    return [b"".join(c) for c in chunks]


def dod_encode_series(tokens: "pd.Series | list") -> list[bytes]:
    """Encode a heterogeneous collection of int sequences, grouping
    same-length series through :func:`dod_encode_matrix` in cache-sized
    blocks (short series n < 3 and lone lengths take the scalar path).
    Output order matches input order; values are bit-for-bit
    :func:`dod_encode`."""
    arrs = [np.asarray(t, dtype=np.int64) for t in tokens]
    out: list[bytes | None] = [None] * len(arrs)
    for (n,), idx in D.groups(D.lengths(arrs)):
        if n < 3 or len(idx) == 1:
            for i in idx:
                out[i] = dod_encode(arrs[i])
            continue
        for sub, X in D.blocks(arrs, idx, n, D.CACHE_ELEMS, np.int64):
            for i, blob in zip(sub, dod_encode_matrix(X)):
                out[i] = blob
    return out  # type: ignore[return-value]


def dod_decode(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    magic = b[:4].view(np.uint32)[0]
    if magic != _MAGIC_INT:
        raise ValueError("not a dod block")
    n = int(b[4:12].view(np.int64)[0])
    if n == 0:
        return np.empty(0, dtype=np.int64)
    v0 = int(b[12:20].view(np.int64)[0])
    if n == 1:
        return np.array([v0], dtype=np.int64)
    v1 = int(b[20:28].view(np.int64)[0])
    if n == 2:
        return np.array([v0, v1], dtype=np.int64)
    off = 28
    z = np.empty(n - 2, dtype=np.uint64)
    got = 0
    while got < n - 2:
        cnt = min(_BLOCK, n - 2 - got)
        width = int(b[off]); off += 1
        nbytes = (cnt * width + 7) // 8
        z[got : got + cnt] = _unpack_bits(b[off : off + nbytes], cnt, width)
        off += nbytes
        got += cnt
    d2 = _unzigzag(z)
    d = np.empty(n - 1, dtype=np.int64)
    d[0] = v1 - v0
    d[1:] = d[0] + np.cumsum(d2)
    out = np.empty(n, dtype=np.int64)
    out[0] = v0
    out[1:] = v0 + np.cumsum(d)
    return out


def xor_encode(arr: np.ndarray) -> bytes:
    """Gorilla-style XOR encode a float64 sequence (byte-aligned)."""
    v = np.asarray(arr, dtype=np.float64)
    n = len(v)
    head = [np.uint32(_MAGIC_FLT).tobytes(), np.int64(n).tobytes()]
    if n == 0:
        return b"".join(head)
    u = v.view(np.uint64)
    x = u.copy()
    x[1:] = u[1:] ^ u[:-1]
    bz = x.view(np.uint8).reshape(n, 8)  # little-endian byte lanes
    nz = bz != 0
    any_nz = nz.any(axis=1)
    first = np.where(any_nz, nz.argmax(axis=1), 0).astype(np.uint8)
    last = np.where(
        any_nz, 7 - nz[:, ::-1].argmax(axis=1), 0
    ).astype(np.uint8)
    span = np.where(any_nz, last - first + 1, 0).astype(np.uint8)
    control = (first << np.uint8(4)) | span
    lane = np.arange(8, dtype=np.uint8)
    keep = (lane >= first[:, None]) & (lane <= last[:, None]) & any_nz[:, None]
    payload = bz[keep]  # row-major → per-value spans in order
    return b"".join(head + [control.tobytes(), payload.tobytes()])


def xor_decode(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    magic = b[:4].view(np.uint32)[0]
    if magic != _MAGIC_FLT:
        raise ValueError("not an xor block")
    n = int(b[4:12].view(np.int64)[0])
    if n == 0:
        return np.empty(0, dtype=np.float64)
    control = b[12 : 12 + n]
    first = (control >> 4).astype(np.int64)
    span = (control & 0x0F).astype(np.int64)
    payload = b[12 + n :]
    lane = np.arange(8, dtype=np.int64)
    keep = (lane >= first[:, None]) & (lane < (first + span)[:, None])
    bz = np.zeros((n, 8), dtype=np.uint8)
    bz[keep] = payload[: keep.sum()]
    x = bz.view(np.uint64).ravel()
    u = np.empty(n, dtype=np.uint64)
    u[0] = x[0]
    for i in range(1, n):  # xor prefix is sequential; n per series is fine
        u[i] = u[i - 1] ^ x[i]
    # vectorized alternative for long series
    return u.view(np.float64).copy()


def _xor_prefix(x: np.ndarray) -> np.ndarray:
    """Vectorized XOR prefix scan (log-steps doubling)."""
    u = x.copy()
    shift = 1
    n = len(u)
    while shift < n:
        u[shift:] ^= u[:-shift]
        shift *= 2
    return u


def xor_decode_fast(buf: bytes) -> np.ndarray:
    """xor_decode with a log-step prefix scan instead of the loop."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b[:4].view(np.uint32)[0] != _MAGIC_FLT:
        raise ValueError("not an xor block")
    n = int(b[4:12].view(np.int64)[0])
    if n == 0:
        return np.empty(0, dtype=np.float64)
    control = b[12 : 12 + n]
    first = (control >> 4).astype(np.int64)
    span = (control & 0x0F).astype(np.int64)
    payload = b[12 + n :]
    lane = np.arange(8, dtype=np.int64)
    keep = (lane >= first[:, None]) & (lane < (first + span)[:, None])
    bz = np.zeros((n, 8), dtype=np.uint8)
    bz[keep] = payload[: keep.sum()]
    return _xor_prefix(bz.view(np.uint64).ravel()).view(np.float64).copy()


# ---------------------------------------------------------------------------
# Spark bindings — scalar pandas UDFs (Arrow-batched, no per-row Python
# in the plan: one numpy call per series inside the batch loop)
# ---------------------------------------------------------------------------


def _compress_tokens(tokens: pd.Series) -> pd.Series:
    # length-grouped matrix encode (bit-for-bit dod_encode per row)
    return pd.Series(dod_encode_series(tokens), index=tokens.index)


def _decompress_tokens(blocks: pd.Series) -> pd.Series:
    return blocks.map(lambda b: dod_decode(b).astype(np.int32))


def _compress_floats(vals: pd.Series) -> pd.Series:
    return vals.map(lambda v: xor_encode(np.asarray(v, dtype=np.float64)))


def _decompress_floats(blocks: pd.Series) -> pd.Series:
    return blocks.map(lambda b: xor_decode_fast(b))


def compress_tokens_udf():
    """Scalar pandas UDF array<int> → binary (lazy: needs a session)."""
    return F.pandas_udf(_compress_tokens, "binary")


def decompress_tokens_udf():
    return F.pandas_udf(_decompress_tokens, "array<int>")


def compress_floats_udf():
    return F.pandas_udf(_compress_floats, "binary")


def decompress_floats_udf():
    return F.pandas_udf(_decompress_floats, "array<double>")


def _cb_batches(it):
    """Pooled mapInPandas body for :func:`compressed_blocks`: pooling
    (functions/dispatch.py) makes the same-length groups feeding
    :func:`dod_encode_matrix` tall enough to amortize dispatch."""
    for pdf in D.pooled(it):
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tok": pdf["n_tok"],
                "block": dod_encode_series(pdf["tokens"]),
            }
        )


def compressed_blocks(seq_df: DataFrame) -> DataFrame:
    """Per-doc compressed block + stats (the CB tier of SURVEY §7.0).

    Arrow-batched mapInPandas with batch pooling + length-grouped
    matrix encoding — no shuffle, no per-row Python in the plan, and
    the numpy dispatch cost is amortized across same-length groups
    (~16×/core vs the per-series encoder on the bench distribution).
    """
    from fforma_spark.util import ensure_parallelism

    src = ensure_parallelism(seq_df.select("doc_id", "n_tok", "tokens"))
    id_type = src.schema["doc_id"].dataType.simpleString()
    nt_type = src.schema["n_tok"].dataType.simpleString()
    schema = f"doc_id {id_type}, n_tok {nt_type}, block binary"
    return (
        src.mapInPandas(_cb_batches, schema)
        .withColumn("comp_bytes", F.length("block"))
        .withColumn("raw_bytes", (F.col("n_tok").cast("long") * 4))
    )


def dod_bytes_sql(seq_sql: str) -> str:
    """DuckDB oracle for the EXACT dod-codec compressed byte count.

    The codec's layout is deterministic: 12-byte header (+8 per stored
    raw head value, up to 2), then per 256-value block of zigzagged
    delta-of-deltas one width byte + ceil(cnt*width/8) payload bytes,
    width = bit_length(max(block)). All of that is pure integer math
    over the token list, so the oracle recomputes it in SQL and the
    driver value-hashes the codec's real output lengths against it."""
    d2 = (
        "CAST(tokens[i] AS BIGINT) + CAST(tokens[i+2] AS BIGINT)"
        " - 2 * CAST(tokens[i+1] AS BIGINT)"
    )
    zz = (
        f"CASE WHEN ({d2}) >= 0 THEN 2 * ({d2})"
        f" ELSE -2 * ({d2}) - 1 END"
    )
    wmax = "list_max(list_slice(z, b * 256 + 1, least((b + 1) * 256, nz)))"
    width = (
        f"len(list_filter(generate_series(0, 39), "
        f"p -> {wmax} >= CAST(pow(2, p) AS BIGINT)))"
    )
    blocks = (
        f"list_sum(list_transform(generate_series(0, (nz + 255) // 256 - 1), "
        f"b -> 1 + (least(256, nz - b * 256) * ({width}) + 7) // 8))"
    )
    return f"""
        SELECT doc_id, n_tok,
               CAST(n_tok AS BIGINT) * 4 AS raw_bytes,
               CAST(CASE WHEN n_tok = 0 THEN 12
                         WHEN n_tok = 1 THEN 20
                         WHEN n_tok = 2 THEN 28
                         ELSE 28 + {blocks} END AS BIGINT) AS comp_bytes
        FROM (
            SELECT doc_id, n_tok, len(z) AS nz, z FROM (
                SELECT doc_id, n_tok,
                       list_transform(
                           generate_series(1, greatest(n_tok - 2, 0)),
                           i -> CAST({zz} AS BIGINT)) AS z
                FROM ({seq_sql}) seqs
            ) zs
        ) b
    """


def roundtrip_check(seq_df: DataFrame) -> DataFrame:
    """decompress(compress(tokens)) == tokens, per doc — the BASELINE
    per-row invariant, evaluated distributed."""
    from fforma_spark.util import ensure_parallelism

    seq_df = ensure_parallelism(seq_df)
    cb = seq_df.select(
        "doc_id",
        "tokens",
        decompress_tokens_udf()(compress_tokens_udf()("tokens")).alias("_rt"),
    )
    return cb.select(
        "doc_id",
        (
            (F.size("tokens") == F.size("_rt"))
            & F.forall(
                F.zip_with("tokens", "_rt", lambda a, b: a.eqNullSafe(b)),
                lambda x: x,
            )
        ).alias("ok"),
    )
