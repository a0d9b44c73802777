"""Per-series base forecast models → prediction panel.

The reference fits ~10 univariate models per series inside a dask
process pool (fforma/base/trainer.py:77-146). Here each series' train
split and all model forecasts are produced in ONE Arrow-batched
mapInPandas pass over the wide sequences table — stateless, shuffle-
free, embarrassingly parallel over docs (the dask fan-out collapses
into plain data parallelism).

Output long panel: (doc_id, pos, <model>_forec ...) where pos counts
horizon steps 0..h-1 after the train cutoff — mirrors preds_df
(fforma/base/trainer.py:120-146, fforma/experiments/base/common.py:194-211).

The pure-SQL members (naive/snaive/rw_drift/average/smavg) also have a
Catalyst-only implementation + DuckDB oracle in
fforma_spark.queries (forecast_sql_*), proving the closed forms.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from fforma_spark.functions import dispatch as D, kernels as K
from fforma_spark.functions.features import SEASONALITY_BY_PREFIX

MODELS = [
    "naive",
    "snaive",
    "naive2",
    "rw_drift",
    "average",
    "mavg",
    "smavg",
    "ses",
    "croston",
    "croston_sba",
    "croston_opt",
    "tsb",
    "adida",
    "imapa",
]

FORECAST_COLS = [f"{m}_forec" for m in MODELS]
FORECASTS_SCHEMA = "doc_id string, pos long, " + ", ".join(
    f"{c} double" for c in FORECAST_COLS
)


def forecast_series(
    y: np.ndarray, h: int, seasonality: int
) -> dict[str, np.ndarray]:
    """All model forecasts for one train series (numpy oracle)."""
    y = np.asarray(y, dtype=np.float64)
    _, ses_fc = K.ses_run(0.1, y)
    return {
        "naive_forec": K.naive(y, h),
        "snaive_forec": K.seasonal_naive(y, h, seasonality),
        "naive2_forec": K.naive2(y, h, seasonality),
        "rw_drift_forec": K.rw_drift(y, h),
        "average_forec": K.average(y, h),
        "mavg_forec": K.moving_average(y, h, n_obs=min(2, len(y))),
        "smavg_forec": K.seasonal_moving_average(
            y, h, seasonality, n_seasons=2
        )
        if len(y) >= 2 * seasonality
        else K.average(y, h),
        "ses_forec": np.full(h, ses_fc),
        "croston_forec": K.croston(y, h, "classic"),
        "croston_sba_forec": K.croston(y, h, "sba"),
        "croston_opt_forec": K.croston(y, h, "optimized"),
        "tsb_forec": K.tsb(y, h),
        "adida_forec": K.adida(y, h),
        "imapa_forec": K.imapa(y, h),
    }


def _split(tokens: np.ndarray, h: int) -> tuple[np.ndarray, np.ndarray]:
    """Last-h holdout per series (fforma/fforma_python_futuro.py:83-88)."""
    y = np.asarray(tokens, dtype=np.float64)
    return y[:-h], y[-h:]


def _forecast_batches(
    it: Iterator[pd.DataFrame], h_by_prefix: dict[str, int], default_h: int
) -> Iterator[pd.DataFrame]:
    """Batch engine for :func:`base_forecasts`.

    Pooled docs (functions/dispatch.py) are grouped by (train-length,
    seasonality, horizon) and each group runs through the vectorized
    :func:`forecast_batch.forecast_group_matrix` in blocks under the
    dispatcher's memory cap — bit-identical to the original per-doc
    :func:`forecast_series` loop (pinned by tests/test_forecast_batch.py)
    and ~100x cheaper on the optimized-alpha models. Docs whose train
    series contains a non-positive value keep the per-doc scalar path
    (ragged intermittent-demand shapes). Row order (doc order as
    received, pos ascending within doc) is preserved exactly.
    """
    from fforma_spark.functions.forecast_batch import (
        TSB_BETAS,
        forecast_group_matrix,
        optimize_alpha_ragged,
    )

    # a pool holds a float64 stack and 14 output columns per doc, so it
    # stops at the recurrence memory cap (README "Kernel dispatch")
    for pdf in D.pooled(it, D.MEMORY_ELEMS):
        pfx = [str(d)[:1] for d in pdf["doc_id"]]
        seas = np.array([SEASONALITY_BY_PREFIX.get(p, 1) for p in pfx], np.int64)
        h_all = np.array([h_by_prefix.get(p, default_h) for p in pfx], np.int64)
        # too short to split — skip (min-length filter analog:
        # fforma/utils/utils.py:44-52)
        keep = np.flatnonzero(D.lengths(pdf["tokens"]) > h_all)
        h_arr = h_all[keep]
        # views of the input, not float64 copies of the whole pool:
        # D.blocks stacks them as float64, forecast_series converts its own
        tokens = pdf["tokens"]
        train = [np.asarray(tokens.iat[i])[:-h] for i, h in zip(keep, h_arr)]
        fast = np.array([np.all(y > 0) for y in train], dtype=bool)
        offsets = np.concatenate([[0], np.cumsum(h_arr)])
        total = int(offsets[-1])
        # NaN, not np.empty: a model the kernel does not return stays NaN
        out_cols = {c: np.full(total, np.nan) for c in FORECAST_COLS}
        blocks = []
        for (n, s, h, f), idx in D.groups(D.lengths(train), seas[keep], h_arr, fast):
            if f:
                blocks += [
                    (s, h, sub, Y)
                    for sub, Y in D.blocks(
                        train, idx, n, D.MEMORY_ELEMS, width=TSB_BETAS.size
                    )
                ]
                continue
            for k in idx:  # scalar fallback: non-positive values present
                fc1 = forecast_series(train[k], h, s)
                for c in FORECAST_COLS:
                    out_cols[c][offsets[k] : offsets[k] + h] = fc1[c]
        # one optimized-alpha golden-section over ALL fast blocks (one
        # padded recurrence sweep per iteration, not one per group)
        alphas = optimize_alpha_ragged([b[3] for b in blocks]) if blocks else []
        for (s, h, sub, Y), al in zip(blocks, alphas):
            dest = (offsets[sub][:, None] + np.arange(h)).ravel()
            fc = forecast_group_matrix(Y, h, s, alpha_opt=al)
            for m, mat in fc.items():
                out_cols[f"{m}_forec"][dest] = mat.ravel()
        pos = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], h_arr)
        ids = np.asarray(pdf["doc_id"], dtype=object)[keep]
        # columns in FORECASTS_SCHEMA order already: no reordering copy
        yield pd.DataFrame({"doc_id": np.repeat(ids, h_arr), "pos": pos, **out_cols})


# horizon convention per M4 group (fforma/utils/m4_data.py:14-25)
HORIZON_BY_PREFIX = {"H": 48, "D": 14, "W": 13, "M": 18, "Q": 8, "Y": 6, "S": 8}


def base_forecasts(
    seq_df: DataFrame,
    h_by_prefix: dict[str, int] | None = None,
    default_h: int = 8,
    max_series_len: int | None = None,
) -> DataFrame:
    """Prediction panel for every model over every (long-enough) doc.

    ``max_series_len`` arms whale protection: whale docs enter the
    kernels as their trailing window (plans/skew.cap_whales) — the
    sequential models are tail-dominated, the per-task cost bound is
    what matters at 100 TB, and docs ≤ cap are bit-identical."""
    from fforma_spark.util import ensure_parallelism

    hmap = HORIZON_BY_PREFIX if h_by_prefix is None else h_by_prefix
    gen = lambda it: _forecast_batches(it, hmap, default_h)  # noqa: E731
    if max_series_len is not None:
        from fforma_spark.plans.skew import cap_whales

        seq_df = cap_whales(
            seq_df.select("doc_id", "tokens", "n_tok"), max_series_len
        )
    src = ensure_parallelism(seq_df.select("doc_id", "tokens"))
    return src.mapInPandas(gen, FORECASTS_SCHEMA)


def _horizon(h_by_prefix: dict[str, int] | None, default_h: int):
    """Per-doc horizon from the doc_id prefix, as ONE CASE expression."""
    from pyspark.sql import functions as F

    from fforma_spark.util import sql_str

    hmap = HORIZON_BY_PREFIX if h_by_prefix is None else h_by_prefix
    whens = "".join(
        f" WHEN substring(doc_id, 1, 1) = {sql_str(p)} THEN {h}"
        for p, h in hmap.items()
    )
    return F.expr(f"CASE{whens} ELSE {default_h} END" if whens else str(default_h))


def holdout_truth(seq_df: DataFrame, h_by_prefix: dict[str, int] | None = None,
                  default_h: int = 8) -> DataFrame:
    """The last-h actuals per doc as a long panel (doc_id, pos, y) —
    validation split (fforma/fforma_python_futuro.py:83-88) done with
    pure array ops (slice on the wide table, no window shuffle)."""
    from pyspark.sql import functions as F

    return (
        seq_df.withColumn("_h", _horizon(h_by_prefix, default_h))
        .filter(F.col("n_tok") > F.col("_h"))
        .select(
            "doc_id",
            F.posexplode(
                F.slice(F.col("tokens"), -F.col("_h"), F.col("_h"))
            ).alias("pos", "y"),
        )
        .select("doc_id", F.col("pos").cast("long"), F.col("y").cast("double"))
    )


def train_split(seq_df: DataFrame, h_by_prefix: dict[str, int] | None = None,
                default_h: int = 8) -> DataFrame:
    """All-but-last-h tokens per doc (train side of the holdout), as a
    wide table — slice() on arrays, zero shuffle."""
    from pyspark.sql import functions as F

    return (
        seq_df.withColumn("_h", _horizon(h_by_prefix, default_h))
        .filter(F.col("n_tok") > F.col("_h"))
        .select(
            "doc_id",
            # greatest(...,0) keeps the slice total: Generate/explode
            # downstream can collapse this projection past the filter
            # and evaluate it on pre-filter rows (observed on 4.1)
            F.slice(
                F.col("tokens"),
                F.lit(1),
                F.greatest(F.col("n_tok") - F.col("_h"), F.lit(0)),
            ).alias("tokens"),
            (F.col("n_tok") - F.col("_h")).cast("int").alias("n_tok"),
            "source",
        )
    )
