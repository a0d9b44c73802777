"""Bit-for-bit parity of the batched forecast fabric (r6 optimization).

The r6 round vectorized `models._forecast_batches` across docs
(functions/forecast_batch.py). These tests pin the optimization's
correctness contract: the batched path must reproduce the per-doc
`forecast_series` loop EXACTLY (same rows, same order, same float
bits), for every model column, across the shapes that occur in
production (driver digit-prefix docs, seasonality>1 letter prefixes,
zeros/intermittent series that take the scalar fallback, minimum-length
series).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fforma_spark.functions import kernels as K
from fforma_spark.functions.forecast_batch import (
    optimize_alpha_matrix,
    ses_last_matrix,
    ses_mse_matrix,
    tsb_matrix,
)
from fforma_spark.functions.models import (
    FORECAST_COLS,
    HORIZON_BY_PREFIX,
    _forecast_batches,
    _split,
    forecast_series,
)


def _reference_rows(pdf: pd.DataFrame, default_h: int = 8) -> pd.DataFrame:
    """The original per-doc loop, verbatim (the pre-r6 implementation)."""
    from fforma_spark.functions.features import SEASONALITY_BY_PREFIX

    cols = ["doc_id", "pos", *FORECAST_COLS]
    frames = []
    for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
        s = SEASONALITY_BY_PREFIX.get(str(doc_id)[:1], 1)
        h = HORIZON_BY_PREFIX.get(str(doc_id)[:1], default_h)
        y = np.asarray(tokens, dtype=np.float64)
        if len(y) <= h:
            continue
        train, _ = _split(y, h)
        fc = forecast_series(train, h, s)
        frames.append(
            pd.DataFrame(
                {
                    "doc_id": doc_id,
                    "pos": np.arange(h, dtype=np.int64),
                    **{c: fc[c] for c in FORECAST_COLS},
                }
            )
        )
    return (
        pd.concat(frames, ignore_index=True)[cols]
        if frames
        else pd.DataFrame(columns=cols)
    )


def _assert_identical(pdf: pd.DataFrame) -> None:
    got = next(_forecast_batches(iter([pdf]), HORIZON_BY_PREFIX, 8))
    want = _reference_rows(pdf)
    assert got.shape == want.shape
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert np.array_equal(got["pos"].to_numpy(), want["pos"].to_numpy())
    for c in FORECAST_COLS:
        a = got[c].to_numpy()
        b = want[c].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), (
            f"{c}: {np.count_nonzero(~same)} rows differ; first at "
            f"{np.flatnonzero(~same)[:3]}"
        )


def test_driver_shape_strictly_positive():
    """Digit prefixes (seasonality 1, h 8), word-length-like tokens."""
    rng = np.random.default_rng(11)
    ids, toks = [], []
    for i in range(400):
        n = int(rng.integers(9, 101))
        toks.append(rng.integers(1, 15, size=n).astype(np.int32))
        ids.append(f"{rng.integers(0, 10)}{i}")
    _assert_identical(pd.DataFrame({"doc_id": ids, "tokens": toks}))


def test_seasonal_prefixes_and_horizons():
    """Letter prefixes: seasonality>1 (pandas seasonal_indices leg) and
    per-prefix horizons."""
    rng = np.random.default_rng(12)
    ids, toks = [], []
    for i, pfx in enumerate(["H", "D", "W", "M", "Q", "Y", "S"] * 30):
        h = HORIZON_BY_PREFIX[pfx]
        n = int(rng.integers(h + 1, h + 90))
        base = rng.integers(1, 10, size=n).astype(np.float64)
        base += 5 * np.sin(2 * np.pi * np.arange(n) / 12.0) + 6
        toks.append(np.rint(base).astype(np.int32))
        ids.append(f"{pfx}{i}")
    _assert_identical(pd.DataFrame({"doc_id": ids, "tokens": toks}))


def test_zeros_take_scalar_fallback():
    """Series containing zeros (intermittent-demand ragged shapes) must
    match the scalar path exactly too."""
    rng = np.random.default_rng(13)
    ids, toks = [], []
    for i in range(200):
        n = int(rng.integers(9, 80))
        arr = rng.integers(0, 6, size=n).astype(np.int32)
        ids.append(f"{rng.integers(0, 10)}{i}")
        toks.append(arr)
    # make sure both kinds are present
    toks[0] = np.zeros(20, dtype=np.int32)
    toks[1] = np.ones(20, dtype=np.int32)
    _assert_identical(pd.DataFrame({"doc_id": ids, "tokens": toks}))


def test_short_series_skipped_and_min_lengths():
    """len <= h docs are dropped; len == h+1 (train length 1) kept."""
    ids = ["10", "21", "32", "43"]
    toks = [
        np.arange(1, 9, dtype=np.int32),        # len 8 == h -> dropped
        np.arange(1, 10, dtype=np.int32),       # len 9 -> train len 1
        np.arange(1, 11, dtype=np.int32),       # train len 2
        np.array([3], dtype=np.int32),          # dropped
    ]
    pdf = pd.DataFrame({"doc_id": ids, "tokens": toks})
    got = next(_forecast_batches(iter([pdf]), HORIZON_BY_PREFIX, 8))
    assert sorted(set(got["doc_id"])) == ["21", "32"]
    _assert_identical(pdf)


def test_empty_batch():
    pdf = pd.DataFrame({"doc_id": [], "tokens": []})
    got = next(_forecast_batches(iter([pdf]), HORIZON_BY_PREFIX, 8))
    assert got.shape[0] == 0
    assert list(got.columns) == ["doc_id", "pos", *FORECAST_COLS]


def test_model_missing_from_kernel_output_is_nan(monkeypatch):
    """A model the batched kernel does not return comes out NaN, never
    as whatever memory the output column was allocated from."""
    import fforma_spark.functions.forecast_batch as FB

    real = FB.forecast_group_matrix

    def without_tsb(*args, **kwargs):
        out = real(*args, **kwargs)
        del out["tsb"]
        return out

    monkeypatch.setattr(FB, "forecast_group_matrix", without_tsb)
    rng = np.random.default_rng(14)
    ids = [f"{i % 10}{i}" for i in range(64)]
    toks = [rng.integers(1, 15, size=int(rng.integers(9, 40))) for _ in ids]
    pdf = pd.DataFrame({"doc_id": ids, "tokens": toks})
    np.full(64 * 8, 7.0)  # freed at once: non-NaN bytes for reuse
    got = next(_forecast_batches(iter([pdf]), HORIZON_BY_PREFIX, 8))
    assert len(got) == 64 * 8
    assert np.isnan(got["tsb_forec"].to_numpy()).all()
    want = _reference_rows(pdf)
    for c in FORECAST_COLS:
        if c != "tsb_forec":
            assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_optimize_alpha_matrix_matches_scalar():
    rng = np.random.default_rng(14)
    for n in [2, 3, 17, 54, 100]:
        Y = rng.integers(1, 15, size=(64, n)).astype(np.float64)
        got = optimize_alpha_matrix(Y)
        want = np.array([K.optimize_alpha(y) for y in Y])
        assert np.array_equal(got, want), f"n={n}"


def test_ses_matrices_match_scalar():
    rng = np.random.default_rng(15)
    Y = rng.integers(1, 15, size=(32, 54)).astype(np.float64)
    alphas = rng.uniform(0.1, 0.3, size=32)
    got_last = ses_last_matrix(alphas, Y)
    got_mse = ses_mse_matrix(alphas, Y)
    for i in range(32):
        _, last = K.ses_run(float(alphas[i]), Y[i])
        assert got_last[i] == last
        assert got_mse[i] == K.ses_mse(float(alphas[i]), Y[i])


def test_tsb_matrix_matches_scalar():
    rng = np.random.default_rng(16)
    for n in [2, 9, 54]:
        Y = rng.integers(1, 15, size=(48, n)).astype(np.float64)
        got = tsb_matrix(Y, 8)
        for i in range(48):
            want = K.tsb(Y[i], 8)
            assert np.array_equal(got[i], want), f"n={n} row={i}"


def test_tsb_matrix_rejects_non_positive_rows():
    Y = np.ones((3, 5))
    Y[1, 2] = 0.0
    with pytest.raises(ValueError, match="strictly-positive"):
        tsb_matrix(Y, 8)


def test_mean_axis1_pairwise_identity():
    """The bit-identity contract relies on np.mean(axis=1) over a
    C-contiguous matrix matching per-row 1-D np.mean exactly."""
    rng = np.random.default_rng(17)
    for n in [1, 2, 7, 54, 100, 257]:
        X = rng.normal(5, 2, size=(64, n))
        assert np.array_equal(
            np.mean(X, axis=1), np.array([np.mean(x) for x in X])
        )


def test_optimize_alpha_ragged_matches_scalar():
    """The pooled multi-length golden-section must equal per-row scalar
    optimize_alpha exactly (padding must never leak across rows)."""
    from fforma_spark.functions.forecast_batch import optimize_alpha_ragged

    rng = np.random.default_rng(18)
    Ys = [
        rng.integers(1, 15, size=(b, n)).astype(np.float64)
        for b, n in [(1, 2), (7, 3), (33, 54), (5, 100), (2, 17)]
    ]
    got = optimize_alpha_ragged(Ys)
    for Y, al in zip(Ys, got):
        want = np.array([K.optimize_alpha(y) for y in Y])
        assert np.array_equal(al, want), Y.shape


def test_optimize_alpha_ragged_pod_packing_whale():
    """A whale-length group must not change results (pod boundaries are
    invisible), and the padded pods stay bounded: mixed 50k-token whale
    + many short groups equals per-group scalar output exactly."""
    from fforma_spark.functions import forecast_batch as fb

    rng = np.random.default_rng(19)
    Ys = [
        rng.integers(1, 15, size=(40, n)).astype(np.float64)
        for n in (10, 54, 92, 200)
    ] + [rng.integers(1, 15, size=(1, 50_000)).astype(np.float64)]
    got = fb.optimize_alpha_ragged(Ys)
    assert len(got) == len(Ys)
    for Y, al in zip(Ys[:-1], got[:-1]):
        want = np.array([K.optimize_alpha(y) for y in Y])
        assert np.array_equal(al, want), Y.shape
    # whale row: spot-check against the scalar search
    assert got[-1][0] == K.optimize_alpha(Ys[-1][0])


def _frame(it) -> pd.DataFrame:
    return pd.concat(list(it), ignore_index=True)


def test_pooling_is_invisible(monkeypatch):
    """The fabric pools Arrow batches (functions/dispatch.py): the same
    docs fed as two batches or as one give the identical frame — same
    rows, same order, same bits — whether the pools merge the batches
    or split them at other boundaries."""
    from fforma_spark.functions import dispatch as D

    rng = np.random.default_rng(20)
    ids, toks = [], []
    for i, pfx in enumerate((["1", "2", "M", "Q"] * 40)):
        n = int(rng.integers(HORIZON_BY_PREFIX.get(pfx, 8) + 1, 70))
        toks.append(rng.integers(0 if i % 5 == 0 else 1, 9, size=n))
        ids.append(f"{pfx}{i}")
    pdf = pd.DataFrame({"doc_id": ids, "tokens": toks})
    one = _frame(_forecast_batches(iter([pdf]), HORIZON_BY_PREFIX, 8))
    halves = [pdf.iloc[:70], pdf.iloc[70:].reset_index(drop=True)]
    for pool_rows in (D.POOL_ROWS, 45):
        monkeypatch.setattr(D, "POOL_ROWS", pool_rows)
        two = _frame(_forecast_batches(iter(halves), HORIZON_BY_PREFIX, 8))
        pd.testing.assert_frame_equal(two, one, check_exact=True)
    pd.testing.assert_frame_equal(one, _reference_rows(pdf), check_exact=True)


def test_whale_group_memory_bounded(monkeypatch):
    """One strictly-positive group of 200 docs x 10k train points. The
    unbounded TSB kernel built a (200, 7, 10k) cube plus a shifted copy
    in one call: a 515 MiB traced peak. Under the dispatcher's memory
    cap the group runs in 57-row blocks (169 MiB measured), so the
    bound below sits well under the unbounded peak and well over the
    blocked one. Blocking must not change a bit of the output."""
    import tracemalloc

    from fforma_spark.functions import dispatch as D

    rng = np.random.default_rng(21)
    pdf = pd.DataFrame(
        {
            "doc_id": [f"{i % 10}{i}" for i in range(200)],
            "tokens": [
                rng.integers(1, 50, size=10_008).astype(np.int32)
                for _ in range(200)
            ],
        }
    )
    tracemalloc.start()
    try:
        got = _frame(_forecast_batches(iter([pdf]), HORIZON_BY_PREFIX, 8))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 256 * 2**20, f"traced peak {peak / 2**20:.0f} MiB"
    monkeypatch.setattr(D, "MEMORY_ELEMS", 10**12)  # one block
    whole = _frame(_forecast_batches(iter([pdf]), HORIZON_BY_PREFIX, 8))
    assert got["doc_id"].tolist() == whole["doc_id"].tolist()
    for c in ["pos", *FORECAST_COLS]:
        a, b = got[c].to_numpy(), whole[c].to_numpy()
        assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c
