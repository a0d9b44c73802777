"""Codec round-trip invariants (numpy + hypothesis property tests +
distributed Spark check) and compression effectiveness."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fforma_spark.functions.compress import (
    compressed_blocks,
    dod_decode,
    dod_encode,
    dod_encode_matrix,
    dod_encode_series,
    roundtrip_check,
    xor_decode,
    xor_decode_fast,
    xor_encode,
)
from fforma_spark.sources.synth import synth_sequences


@given(
    st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=600
    )
)
@settings(max_examples=200, deadline=None)
def test_dod_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.int64)
    assert np.array_equal(dod_decode(dod_encode(arr)), arr)


@given(
    st.lists(
        st.floats(allow_nan=False, width=64), max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_xor_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.float64)
    got = xor_decode(xor_encode(arr))
    assert np.array_equal(got.view(np.uint64), arr.view(np.uint64))
    got2 = xor_decode_fast(xor_encode(arr))
    assert np.array_equal(got2.view(np.uint64), arr.view(np.uint64))


def test_xor_roundtrip_nan_bits():
    arr = np.array([1.5, np.nan, np.inf, -0.0, 3.7e300], dtype=np.float64)
    got = xor_decode_fast(xor_encode(arr))
    assert np.array_equal(got.view(np.uint64), arr.view(np.uint64))


def test_dod_edges():
    for arr in ([], [5], [5, -7], [5, 5, 5, 5], list(range(1000))):
        a = np.array(arr, dtype=np.int64)
        assert np.array_equal(dod_decode(dod_encode(a)), a)


def test_dod_matrix_bitwise_parity():
    """dod_encode_matrix must equal per-row dod_encode BYTE-FOR-BYTE —
    across block boundaries (255/256/257 d2 values ⇒ n−2), width
    sub-groups, all-zero blocks, and int64-extreme values."""
    rng = np.random.default_rng(7)
    for n in (3, 4, 5, 93, 257, 258, 259, 511, 513, 1000):
        for kind in ("small", "extreme", "zero", "mixed"):
            B = 6
            if kind == "small":
                X = rng.integers(0, 50_000, size=(B, n)).astype(np.int64)
            elif kind == "extreme":
                X = rng.integers(
                    -(2**62), 2**62, size=(B, n), dtype=np.int64
                )
            elif kind == "zero":
                X = np.zeros((B, n), dtype=np.int64)
            else:
                X = rng.integers(0, 50_000, size=(B, n)).astype(np.int64)
                X[0] = 7  # constant row → width-0 blocks
                X[1] = np.arange(n)  # linear row → zero d2
            got = dod_encode_matrix(X)
            assert got == [dod_encode(r) for r in X], (n, kind)
            for r in range(B):
                assert np.array_equal(dod_decode(got[r]), X[r])


def test_dod_matrix_chunking_exact(monkeypatch):
    """Row-blocked encode (the dispatcher's budget forces multiple
    blocks) is identical to one-shot — rows are independent."""
    from fforma_spark.functions import dispatch as D

    rng = np.random.default_rng(11)
    X = rng.integers(0, 1000, size=(64, 40)).astype(np.int64)
    whole = dod_encode_matrix(X)
    monkeypatch.setattr(D, "CACHE_ELEMS", 200)  # 5 rows per block
    chunked = dod_encode_series(list(X))
    assert chunked == whole


def test_dod_encode_series_order_and_parity():
    """Grouped heterogeneous encode preserves input order and matches
    the scalar encoder on every element (incl. n<3 head-only paths)."""
    rng = np.random.default_rng(3)
    arrs = [
        rng.integers(0, 9999, size=n).astype(np.int64)
        for n in (0, 1, 2, 3, 93, 93, 93, 7, 7, 300, 2)
    ]
    got = dod_encode_series(arrs)
    assert got == [dod_encode(a) for a in arrs]


def test_dod_compresses_smooth_series():
    """Linear-trend series → constant delta → d2 all zero → ~n/256
    width bytes; must beat raw massively."""
    arr = (100 + 3 * np.arange(100_000)).astype(np.int64)
    enc = dod_encode(arr)
    assert len(enc) < 100_000 * 4 / 50


def test_xor_compresses_repeated():
    arr = np.full(10_000, 42.5)
    enc = xor_encode(arr)
    assert len(enc) < 10_000 * 8 / 5


def test_spark_roundtrip_invariant(spark):
    seq = synth_sequences(spark, n_docs=40, seed=21)
    res = roundtrip_check(seq)
    assert res.filter("NOT ok").count() == 0
    assert res.count() == 40


def test_spark_compression_ratio(spark):
    seq = synth_sequences(spark, n_docs=40, seed=21)
    from pyspark.sql import functions as F

    row = compressed_blocks(seq).agg(
        F.sum("raw_bytes").alias("raw"), F.sum("comp_bytes").alias("comp")
    ).collect()[0]
    assert row["comp"] < row["raw"]  # synthetic M4-ish data must shrink
