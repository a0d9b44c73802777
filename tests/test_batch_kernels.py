"""Exactness contract of the length-batched feature kernels.

batch_kernels.feature_matrix(X, s) must be BIT-FOR-BIT equal to
stacking kernels.feature_vector(X[i], s) — exact float equality, not
allclose. This is the rule that lets the Arrow fabric batch same-length
series without perturbing a single driver-oracled or
reference-parity-tested numeric.
"""

from __future__ import annotations

import numpy as np
import pytest

from fforma_spark.functions import batch_kernels as BK
from fforma_spark.functions import kernels as K


def _mixed_rows(rng: np.random.Generator, n_rows: int, n: int, s: int) -> np.ndarray:
    """Token-series-shaped rows covering the branchy regimes: noise,
    trend, seasonal, constant, sparse, low-cardinality/tied."""
    X = np.empty((n_rows, n))
    for i in range(n_rows):
        base = rng.integers(0, 50000, size=n).astype(float)
        kind = i % 6
        if kind == 1:
            base = base * 0.1 + np.arange(n) * rng.uniform(1, 100)
        elif kind == 2:
            base = base * 0.1 + 1000 * np.sin(2 * np.pi * np.arange(n) / max(s, 2))
        elif kind == 3:
            base = np.full(n, float(rng.integers(0, 100)))
        elif kind == 4:
            base = base * (rng.random(n) < 0.3)
        elif kind == 5:
            base = np.round(base / 10000)
        X[i] = base
    return X


def _assert_bit_equal(X: np.ndarray, s: int) -> None:
    out = BK.feature_matrix(X, s)
    for i in range(len(X)):
        fv = K.feature_vector(X[i], s)
        for name in K.FEATURE_NAMES:
            a, b = out[name][i], fv[name]
            assert a == b or (np.isnan(a) and np.isnan(b)), (
                f"{name} row {i} (n={X.shape[1]}, s={s}): "
                f"batch={a!r} scalar={b!r}"
            )


@pytest.mark.parametrize(
    "n,s",
    [
        (93, 7),   # p50 of the testdata length distribution
        (200, 7),  # even n: the quirked-MA valid span loses a point
        (24, 12),  # n == 2*ppy boundary
        (25, 12),
        (96, 12),
        (50, 1),   # non-seasonal: width-10 lumpiness blocks
        (21, 7),
        (20, 7),   # MIN_BATCH_LEN edge
        (199, 12),
        (40, 4),
        (1000, 12),  # long: hurst fits 7+ block sizes, where a stacked-RHS
        (5000, 7),  # polyfit drifted from the per-row fit in the last bit
    ],
)
def test_feature_matrix_bit_equal(n: int, s: int) -> None:
    rng = np.random.default_rng(n * 100 + s)
    _assert_bit_equal(_mixed_rows(rng, 24, n, s), s)


def test_even_length_quirk_span() -> None:
    """Regression: for even n the quirked centered MA pair-means
    consecutive values, so the valid span ends at lo+n-w, not
    lo+n-w+1 — the original bug silently zeroed trend strengths."""
    for n in range(20, 60):
        for w in (4, 7, 12, 13):
            if w > n:
                continue
            x = np.random.default_rng(n * 31 + w).random(n) * 10 + 1
            t = K._fast_centered_ma_quirk(x, w)
            a, b = BK._ma_valid_span(n, w)
            valid = np.flatnonzero(~np.isnan(t))
            if len(valid) == 0:
                assert b - a <= 0 or b - a < 3  # degenerate either way
            else:
                assert (a, b) == (valid[0], valid[-1] + 1), (n, w)


def test_chunked_equals_unchunked(monkeypatch) -> None:
    """The feature fabric splits big groups into cache-resident row
    blocks (functions/dispatch.py) — the split must be invisible in the
    values (rows are independent) and must still bit-match the scalar
    path."""
    import pandas as pd

    from fforma_spark.functions import dispatch as D
    from fforma_spark.functions.features import _feature_batches

    rng = np.random.default_rng(42)
    X = _mixed_rows(rng, 25, 80, 7)
    whole = BK.feature_matrix(X, 7)
    monkeypatch.setattr(D, "CACHE_ELEMS", 80 * 7)  # 7-row blocks -> 4
    ids = [f"D{i}" for i in range(25)]  # "D" prefix: seasonality 7
    pdf = pd.DataFrame({"doc_id": ids, "tokens": list(X)})
    chunked = next(_feature_batches(iter([pdf]), 1))
    for name in K.FEATURE_NAMES:
        a, b = chunked[name].to_numpy(), whole[name]
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), name
    _assert_bit_equal(X, 7)


def test_single_row_matches() -> None:
    rng = np.random.default_rng(0)
    x = rng.integers(0, 1000, size=77).astype(float)
    _assert_bit_equal(x[None, :], 7)


def test_all_constant_batch() -> None:
    X = np.full((5, 40), 3.0)
    _assert_bit_equal(X, 7)


def test_zero_rows() -> None:
    X = np.zeros((6, 30))
    _assert_bit_equal(X, 12)


def test_feature_batches_dispatch_parity() -> None:
    """The grouped (seasonality, length) dispatch in features.py must
    produce EXACTLY the all-scalar rows — including the whale-cap
    n_true override, prefix seasonality, zero-length series, and
    below-threshold groups that take the scalar fallback."""
    import pandas as pd

    from fforma_spark.functions import features as FF

    rng = np.random.default_rng(7)
    rows = []
    # prefixes H(24) D(7) M(12) + unknown prefix -> default seasonality;
    # mixed lengths incl. a shared one (batchable), singletons, shorts, empty
    specs = [
        ("D", 93, 8), ("D", 93, 1), ("M", 96, 5), ("H", 48, 4),
        ("X", 93, 3), ("D", 12, 3), ("D", 5, 2), ("D", 0, 1),
        ("M", 200, 2),  # below MIN_BATCH_ROWS -> scalar
    ]
    k = 0
    for prefix, n, cnt in specs:
        for _ in range(cnt):
            rows.append(
                {
                    "doc_id": f"{prefix}{k:04d}",
                    "tokens": rng.integers(0, 5000, size=n).astype(float).tolist(),
                    "n_true": n + 1000,  # distinct from len -> override visible
                }
            )
            k += 1
    pdf = pd.DataFrame(rows)

    got = pd.concat(FF._feature_batches(iter([pdf]), 7), ignore_index=True)

    exp_rows = []
    for r in rows:
        s = FF.SEASONALITY_BY_PREFIX.get(r["doc_id"][:1], 7)
        x = np.asarray(r["tokens"], dtype=np.float64)
        fv = (
            K.feature_vector(x, s)
            if len(x)
            else dict.fromkeys(K.FEATURE_NAMES, 0.0)
        )
        fv["series_length"] = float(r["n_true"])
        fv["doc_id"] = r["doc_id"]
        exp_rows.append(fv)
    exp = pd.DataFrame(exp_rows, columns=["doc_id", *K.FEATURE_NAMES])

    assert list(got.columns) == list(exp.columns)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    for name in K.FEATURE_NAMES:
        a = got[name].to_numpy()
        b = exp[name].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), (name, a[~same][:3], b[~same][:3])


def test_feature_batches_no_true_column() -> None:
    """Without n_true the reported series_length is the token length."""
    import pandas as pd

    from fforma_spark.functions import features as FF

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "doc_id": [f"D{i}" for i in range(6)],
            "tokens": [rng.integers(0, 100, size=40).astype(float).tolist() for _ in range(6)],
        }
    )
    got = pd.concat(FF._feature_batches(iter([pdf]), 7), ignore_index=True)
    assert (got["series_length"] == 40.0).all()
