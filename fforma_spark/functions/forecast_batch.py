"""Length-batched twins of the per-series forecast models.

`models._forecast_batches` used to loop docs in Python, and the
optimized-alpha SES models (croston_opt / adida / imapa, via
``optimize_alpha``'s golden-section over a pure-Python ``ses_run``
recurrence) dominated the whole ensemble_rollup bench query (~5 ms per
doc, 84% inside ses_mse — measured in OPTIMIZATION_r06.md). Here the
same math runs vectorized across all docs of one (train-length,
seasonality, horizon) group: recurrences loop over TIME with numpy
vector ops over the doc axis (guide §4.2 — hand whole batches to
vectorized native code).

Bit-identity contract (tests/test_forecast_batch.py pins exact float
equality vs :func:`models.forecast_series` per doc):

- elementwise float64 numpy ops round identically to the scalar ops
  they replace (IEEE-754, no FMA contraction in numpy ufuncs);
- ``np.mean(..., axis=1)`` over a C-contiguous matrix applies the same
  pairwise summation per row as the 1-D ``np.mean`` the scalar kernels
  use (asserted empirically by the tests);
- the golden-section control flow is replicated per doc with masks:
  each doc takes exactly the bracketing decisions and the early-break
  iteration count it would take scalar;
- Naive2's seasonal indices keep the pandas-rolling ORIGINAL
  (kernels.seasonal_indices) per doc when seasonality > 1 — its fast
  cumsum twin is ulp-different (kernels.py note) and Naive2 is pinned
  bit-for-bit to the reference. At seasonality == 1 (every driver
  dataset: digit doc prefixes) the indices are exactly ones(1) and the
  whole model stays batched.

Docs whose train series contains a non-positive value fall back to the
scalar :func:`models.forecast_series` — the intermittent-demand models
(croston/tsb/adida/imapa) become ragged across docs there (per-doc
demand/interval lengths), and the fallback is the very code the batch
path is pinned against.
"""

from __future__ import annotations

import math

import numpy as np

from fforma_spark.functions import dispatch as D, kernels as K

_INVPHI = (math.sqrt(5) - 1) / 2

#: TSB's beta grid (K.tsb's 9x7 alpha x beta grid collapses to it on
#: strictly-positive rows, see :func:`tsb_matrix`)
TSB_BETAS = np.array([0.01, 0.02, 0.03, 0.05, 0.1, 0.2, 0.3])


def ses_last_matrix(alpha, Y: np.ndarray) -> np.ndarray:
    """Final SES level per row — batched ``K.ses_run(alpha, y)[1]``.

    ``alpha`` broadcasts against (B,): a scalar, (B,) per-doc alphas,
    or a (k, B) stack, which returns (k, B) — k elementwise sweeps in
    one loop (``forecast_group_matrix`` runs alpha 0.1 and the optimal
    alpha this way)."""
    one_m = 1.0 - alpha
    level = Y[:, 0].copy()
    for i in range(Y.shape[1]):
        level = alpha * Y[:, i] + one_m * level
    return level


def ses_mse_matrix(alpha: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Batched ``K.ses_mse`` — in-sample one-step MSE per row, with the
    fitted series materialized so the mean reduction matches the scalar
    ``np.mean((fitted - x) ** 2)`` bit-for-bit."""
    B, n = Y.shape
    one_m = 1.0 - alpha
    fitted = np.empty((B, n))
    level = Y[:, 0].copy()
    for i in range(n):
        fitted[:, i] = level
        level = alpha * Y[:, i] + one_m * level
    return np.mean((fitted - Y) ** 2, axis=1)


def optimize_alpha_matrix(
    Y: np.ndarray, lo: float = 0.1, hi: float = 0.3
) -> np.ndarray:
    """Batched golden-section ``K.optimize_alpha`` (the scipy-less
    branch). Each doc follows its own bracketing decisions and its own
    early-break (b-a < 1e-9) via an active mask, so the returned alpha
    is the scalar function's alpha exactly.

    If scipy is importable the scalar function would use L-BFGS-B
    instead; delegate per doc to keep results identical in that
    environment (not the sandbox: scipy is absent there).
    """
    if K._scipy_minimize is not None:  # pragma: no cover — no scipy here
        return np.array([K.optimize_alpha(y, lo, hi) for y in Y])
    B = Y.shape[0]
    a = np.full(B, float(lo))
    b = np.full(B, float(hi))
    c = b - _INVPHI * (b - a)
    d = a + _INVPHI * (b - a)
    fc = ses_mse_matrix(c, Y)
    fd = ses_mse_matrix(d, Y)
    active = np.ones(B, dtype=bool)
    for _ in range(60):
        idx = np.flatnonzero(active)
        if idx.size == 0:
            break
        cond = fc[idx] < fd[idx]
        i1 = idx[cond]
        i2 = idx[~cond]
        # if fc < fd: b,d,fd = d,c,fc ; c = b - invphi*(b-a); fc = mse(c)
        b[i1] = d[i1]
        d[i1] = c[i1]
        fd[i1] = fc[i1]
        c[i1] = b[i1] - _INVPHI * (b[i1] - a[i1])
        if i1.size:
            fc[i1] = ses_mse_matrix(c[i1], Y[i1])
        # else:     a,c,fc = c,d,fd ; d = a + invphi*(b-a); fd = mse(d)
        a[i2] = c[i2]
        c[i2] = d[i2]
        fc[i2] = fd[i2]
        d[i2] = a[i2] + _INVPHI * (b[i2] - a[i2])
        if i2.size:
            fd[i2] = ses_mse_matrix(d[i2], Y[i2])
        active[idx] = (b[idx] - a[idx]) >= 1e-9
    return (a + b) / 2


def optimize_alpha_ragged(
    Ys: list[np.ndarray], lo: float = 0.1, hi: float = 0.3
) -> list[np.ndarray]:
    """One golden-section pass over MANY length groups at once.

    Per-group :func:`optimize_alpha_matrix` pays ~40 iterations x 2
    recurrence sweeps PER GROUP; at production task shapes (~1.5k docs
    over ~90 distinct train lengths) that is overhead-bound. Here every
    group's rows are packed into one zero-padded matrix: each iteration
    runs ONE recurrence sweep to max(n) (elementwise ops never mix
    rows, so the padded tail of a short row cannot perturb it) and the
    per-row MSE mean reduces over exactly that row's n columns (the
    inner axis of a column slice stays contiguous, so numpy's pairwise
    summation matches the unpadded row bit-for-bit). Returns per-group
    alpha vectors identical to the scalar ``K.optimize_alpha`` per row.
    """
    if K._scipy_minimize is not None:  # pragma: no cover — no scipy here
        return [
            np.array([K.optimize_alpha(y, lo, hi) for y in Y]) for Y in Ys
        ]
    # Pod packing: padding every row to the GLOBAL max length would
    # blow up memory (and waste recurrence steps) when one whale group
    # shares a batch with many short ones — one 56k-token doc next to
    # 1.5k ~50-token docs would pad to ~0.7 GB. Pack length-sorted
    # groups into pods under the dispatcher's memory cap (big enough
    # that the ~90 driver-shaped length groups of a task pool into ONE
    # pod); per-row independence makes pod boundaries invisible.
    if len(Ys) > 1:
        order = sorted(range(len(Ys)), key=lambda i: Ys[i].shape[1])
        pods: list[list[int]] = []
        cur: list[int] = []
        rows = 0
        for i in order:
            b, n = Ys[i].shape
            if cur and (rows + b) * n > D.MEMORY_ELEMS:
                pods.append(cur)
                cur, rows = [], 0
            cur.append(i)
            rows += b
        pods.append(cur)
        if len(pods) > 1:
            out: list[np.ndarray | None] = [None] * len(Ys)
            for pod in pods:
                for i, al in zip(pod, optimize_alpha_ragged([Ys[i] for i in pod], lo, hi)):
                    out[i] = al
            return out  # type: ignore[return-value]
    sizes = [Y.shape[0] for Y in Ys]
    ns = [Y.shape[1] for Y in Ys]
    B = sum(sizes)
    nmax = max(ns)
    P = np.zeros((B, nmax))
    slices: list[tuple[int, int, int]] = []
    off = 0
    for Y, bsz, n in zip(Ys, sizes, ns):
        P[off : off + bsz, :n] = Y
        slices.append((off, off + bsz, n))
        off += bsz
    fitted = np.empty((B, nmax))

    def mse_all(alpha: np.ndarray) -> np.ndarray:
        one_m = 1.0 - alpha
        level = P[:, 0].copy()
        for i in range(nmax):
            fitted[:, i] = level
            level = alpha * P[:, i] + one_m * level
        sq = fitted - P
        np.multiply(sq, sq, out=sq)
        out = np.empty(B)
        for g0, g1, n in slices:
            # np.add.reduce over the row-contiguous slice is exactly
            # np.mean's pairwise umr_sum, then the same /n division —
            # one Python call instead of the _mean machinery per group
            out[g0:g1] = np.add.reduce(sq[g0:g1, :n], axis=1) / n
        return out

    a = np.full(B, float(lo))
    b = np.full(B, float(hi))
    c = b - _INVPHI * (b - a)
    d = a + _INVPHI * (b - a)
    fc = mse_all(c)
    fd = mse_all(d)
    active = np.ones(B, dtype=bool)
    for _ in range(60):
        if not active.any():
            break
        cond = fc < fd
        u1 = active & cond
        u2 = active & ~cond
        # if fc < fd: b,d,fd = d,c,fc ; c = b - invphi*(b-a); fc = mse(c)
        b[u1] = d[u1]
        d[u1] = c[u1]
        fd[u1] = fc[u1]
        c[u1] = b[u1] - _INVPHI * (b[u1] - a[u1])
        # else:       a,c,fc = c,d,fd ; d = a + invphi*(b-a); fd = mse(d)
        a[u2] = c[u2]
        c[u2] = d[u2]
        fc[u2] = fd[u2]
        d[u2] = a[u2] + _INVPHI * (b[u2] - a[u2])
        f_new = mse_all(np.where(cond, c, d))
        fc[u1] = f_new[u1]
        fd[u2] = f_new[u2]
        active &= (b - a) >= 1e-9
    alphas = (a + b) / 2
    return [alphas[g0:g1] for g0, g1, _n in slices]


#: pure-function memo keyed on train length: SES constants of the
#: ALL-ONES interval series that the strictly-positive croston variants
#: divide by. Deterministic in n (no data dependence), so caching them
#: across batches/tasks is a function cache, not a result memo.
_ONES_SES: dict[int, tuple[float, float]] = {}


def _ones_ses_constants(n: int) -> tuple[float, float]:
    """(yip at alpha=0.1, yip at the optimized alpha) for ones(n)."""
    got = _ONES_SES.get(n)
    if got is None:
        ones_n = np.ones(n)
        _, yip_cl = K.ses_run(0.1, ones_n)
        _, yip_opt = K.ses_run(K.optimize_alpha(ones_n), ones_n)
        got = (yip_cl, yip_opt)
        _ONES_SES[n] = got
    return got


def tsb_matrix(Y: np.ndarray, h: int) -> np.ndarray:
    """Batched ``K.tsb`` for strictly-positive rows.

    With every value nonzero, probability(y) is all ones, so the
    scalar's pfit recurrence is exactly 1.0 at every step
    (p0 = 1; 1 + a*(1-1) = 1), yfit = pfit*zfit = zfit exactly, and
    the 9x7 (alpha, beta) grid collapses to the 7 beta columns: mse is
    identical for every alpha at fixed beta, so the scalar's
    first-occurrence argmin lands in the first alpha block at the first
    best beta — reproduced here by argmin over the beta axis alone.
    """
    if not (Y > 0).all():
        raise ValueError("tsb_matrix requires strictly-positive rows")
    B, n = Y.shape
    g = TSB_BETAS.size
    zfit = np.empty((B, g, n))
    zfit[:, :, 0] = Y[:, 0, None]
    for i in range(1, n):
        zfit[:, :, i] = zfit[:, :, i - 1] + TSB_BETAS * (
            Y[:, i, None] - zfit[:, :, i - 1]
        )
    shifted = np.concatenate(
        [np.full((B, g, 1), np.nan), zfit[:, :, :-1]], axis=2
    )
    mse = np.nanmean((shifted - Y[:, None, :]) ** 2, axis=2)
    best = np.argmin(mse, axis=1)
    fc = zfit[np.arange(B), best, -1]
    return np.repeat(fc[:, None], h, axis=1)


def _snaive_matrix(Y: np.ndarray, h: int, s: int) -> np.ndarray:
    """Batched ``K.seasonal_naive`` — tile the last season per row."""
    tail = Y[:, -s:] if s < Y.shape[1] else Y
    reps = int(np.ceil(h / tail.shape[1]))
    return np.tile(tail, (1, reps))[:, :h]


def forecast_group_matrix(
    Y: np.ndarray, h: int, s: int, alpha_opt: np.ndarray | None = None
) -> dict[str, np.ndarray]:
    """All 14 model forecasts for a (train-length, seasonality,
    horizon) group of strictly-positive series — batched twin of
    :func:`models.forecast_series` row by row. Returns model name (no
    ``_forec`` suffix) -> (B, h) float64. ``alpha_opt`` takes the
    group's per-doc optimal SES alphas when the caller already pooled
    them (:func:`optimize_alpha_ragged`)."""
    B, n = Y.shape
    out: dict[str, np.ndarray] = {}
    last = Y[:, -1]

    def _full(v: np.ndarray) -> np.ndarray:
        return np.repeat(v[:, None], h, axis=1)

    out["naive"] = _full(last)
    out["snaive"] = _snaive_matrix(Y, h, s)

    # naive2: deseasonalize -> naive -> reseasonalize. seasonality==1
    # short-circuits to ones(1) exactly (kernels.seasonal_indices);
    # otherwise the pandas-path scalar per doc (see module docstring).
    if s <= 1:
        si = np.ones((B, 1))
    else:
        si = np.stack([K.seasonal_indices(y, s) for y in Y])
    windows = int(np.ceil(n / s))
    s_hat = np.tile(si, (1, windows))[:, :n]
    ts_des = Y / s_hat
    s_fc = _snaive_matrix(s_hat, h, s)
    out["naive2"] = s_fc * ts_des[:, -1][:, None]

    if n > 1:
        drift = (last - Y[:, 0]) / (n - 1)
    else:
        drift = np.zeros(B)
    out["rw_drift"] = last[:, None] + drift[:, None] * np.arange(
        1, h + 1, dtype=np.float64
    )

    out["average"] = _full(np.mean(Y, axis=1))
    n_obs = min(2, n)
    out["mavg"] = _full(np.mean(Y[:, -n_obs:], axis=1))

    if n >= 2 * s:
        tail = Y[:, -(s * 2):]
        season_vals = np.mean(tail.reshape(B, 2, s), axis=1)
        out["smavg"] = season_vals[:, np.arange(h) % s]
    else:
        out["smavg"] = out["average"]

    if alpha_opt is None:
        alpha_opt = optimize_alpha_matrix(Y)
    # one recurrence sweep for both SES levels (alpha 0.1, optimal
    # alpha): elementwise, so each row is its own scalar run
    ses10, ses_opt = ses_last_matrix(np.stack([np.full(B, 0.1), alpha_opt]), Y)
    out["ses"] = _full(ses10)

    # Intermittent-demand family, strictly-positive invariant:
    # demand(y) == y (same floats), intervals(y) == ones(n), so the
    # interval-side SES runs on all-ones series. Those are computed
    # with the SCALAR kernels per group (one call, n steps) and applied
    # as scalar divisors — bit-identical to the per-doc path.
    yip_cl, yip_opt = _ones_ses_constants(n)
    out["croston"] = _full(ses10 / yip_cl * 1.0)
    out["croston_sba"] = _full(ses10 / yip_cl * 0.95)

    out["croston_opt"] = _full(ses_opt / yip_opt * 1.0)

    out["tsb"] = tsb_matrix(Y, h)

    # adida / imapa, strictly-positive: mean interval is exactly 1.0 ->
    # one aggregation level of width 1, whose bucket sums are y itself
    # (single-element reductions), so both reduce to the optimal-alpha
    # SES forecast divided by al == 1 (exact), and imapa's mean over
    # one level is that same value (exact).
    out["adida"] = _full(ses_opt / 1)
    out["imapa"] = out["adida"].copy()
    return out
