"""Per-series forecast-accuracy metrics as Catalyst aggregates.

Semantics match fforma/metrics/numpy/metrics.py exactly:
  mse   :15-36   mean((y - y_hat)^2)
  mae   :64-88   mean(|y - y_hat|)
  mape  :90-115  100 * masked-invalid mean(|y-y_hat| / |y|)
  smape :117-148 200 * masked-invalid mean(|y-y_hat| / (|y|+|y_hat|))
  mase  :150-180 100 * mean(|y-y_hat|) / mean(|seasonal diff of train|)
  mini_owa :207-243  (mase/mase_bench + smape/smape_bench) / 2

"masked-invalid mean" (np.ma.masked_invalid) excludes 0/0 and x/0
entries from BOTH numerator and denominator → expressed as
avg(CASE WHEN scale != 0 THEN ratio END) since avg ignores NULLs —
the divide_no_nan discipline (fforma/metrics/utils.py:6-14).

All are plain groupBy aggregates: one shuffle on doc_id, executed
JVM-side with whole-stage codegen (no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from fforma_spark.util import sql_ident as _q

# One SQL text per (metric, model) output column, parsed by ONE F.expr:
# every Column-API call records its Python call site (~1-2 ms of
# driver time each), so a per-model Column tree costs ~10 of them.
# Operand order is the Column API's (``200 * col`` is ``col * 200``).
_AGG_SQL = {
    "mse": "avg((y - {c}) * (y - {c}))",
    "mae": "avg(abs(y - {c}))",
    "mape": "avg(CASE WHEN abs(y) != 0 THEN abs(y - {c}) / abs(y) END) * 100",
    "smape": "avg(CASE WHEN abs(y) + abs({c}) != 0"
    " THEN abs(y - {c}) / (abs(y) + abs({c})) END) * 200",
    "mase": "try_divide(avg(abs(y - {c})) * 100, first(mase_scale))",
}
_MODEL_METRICS = ("mse", "mae", "mape", "smape")


def _agg(metric: str, model_col: str, prefix: str | None = None) -> Column:
    """``<prefix>_<metric>`` of one model column; the prefix defaults to
    the column name minus its ``_forec`` suffix."""
    p = model_col.removesuffix("_forec") if prefix is None else prefix
    sql = _AGG_SQL[metric].format(c=_q(model_col))
    return F.expr(f"{sql} AS {_q(f'{p}_{metric}')}")


def metric_aggs(model_col: str, prefix: str) -> list:
    """mse/mae/mape/smape aggregate expressions for one model column."""
    return [_agg(m, model_col, prefix) for m in _MODEL_METRICS]


def evaluate_models(
    truth: DataFrame, forecasts: DataFrame, model_cols: list[str]
) -> DataFrame:
    """Join truth ⋈ predictions on (doc_id, pos) then aggregate every
    model column in ONE pass (fforma/utils/evaluation.py:89-142 /
    evaluate_panel :42-87, minus the dask fan-out: the join is
    sort-merge on co-partitioned keys, the agg is map-side partial).
    """
    joined = truth.join(forecasts, ["doc_id", "pos"], "left")
    return joined.groupBy("doc_id").agg(
        *[_agg(m, mc) for mc in model_cols for m in _MODEL_METRICS]
    )


def mase_scale(train_panel: DataFrame, seasonality_expr) -> DataFrame:
    """Per-series MASE denominator: mean |seasonal-naive in-sample
    error| over the TRAIN split (fforma/metrics/numpy/metrics.py:177).

    ``seasonality_expr`` is a Column giving the per-doc seasonality.
    Computed with a lag window over the train panel.
    """
    left = train_panel.withColumn("_s", seasonality_expr).select(
        "doc_id", "val", (F.col("pos") - F.col("_s")).alias("_lagpos")
    )
    shifted = train_panel.select(
        "doc_id", F.col("pos").alias("_lagpos"), F.col("val").alias("_sval")
    )
    # pure two-key equi-join (doc_id, pos-s == pos): variable-offset lag
    # without a per-row window; inner join drops the first s positions,
    # exactly y_train[seasonality:] vs y_train[:-seasonality]
    return (
        left.join(shifted, ["doc_id", "_lagpos"])
        .groupBy("doc_id")
        .agg(F.avg(F.abs(F.col("val") - F.col("_sval"))).alias("mase_scale"))
    )


def evaluate_with_owa(
    truth: DataFrame,
    forecasts: DataFrame,
    model_cols: list[str],
    scale_df: DataFrame,
    bench: str | None = "naive2_forec",
) -> DataFrame:
    """Per-series smape + mase (+ OWA vs the Naive2 benchmark) for every
    model — the contribution-to-error matrix the meta-learner consumes
    (fforma/meta_learner/_XGBoost.py:98-119; mini_owa
    fforma/metrics/numpy/metrics.py:207-243). ``bench=None`` skips the
    OWA columns (smape/mase only)."""
    joined = truth.join(forecasts, ["doc_id", "pos"], "left").join(
        scale_df, "doc_id"
    )
    per_series = joined.groupBy("doc_id").agg(
        *[_agg(m, mc) for mc in model_cols for m in ("smape", "mase")]
    )
    if bench is None:
        return per_series
    b = bench.removesuffix("_forec")
    # NULL (0/0, e.g. constant series where every model is exact)
    # mirrors the reference's NaN, handled downstream by the
    # fillna(0) convention (fforma/experiments/base/common.py:139)
    prefixes = [mc.removesuffix("_forec") for mc in model_cols]
    return per_series.selectExpr("*", *[
        f"(try_divide({_q(p + '_mase')}, {_q(b + '_mase')}) + try_divide("
        f"{_q(p + '_smape')}, {_q(b + '_smape')})) / 2 AS {_q(p + '_owa')}"
        for p in prefixes
    ])


def group_weighted_summary(
    per_series: DataFrame,
    group_col: str,
    metric_cols: list[str],
    horizon: int,
) -> DataFrame:
    """Obs-weighted average of per-series losses across groups
    (fforma/experiments/summary/base.py:16-40 `_evaluate_base`): each
    group contributes mean(loss) weighted by obs = n_series * horizon;
    the grand 'Average' row is sum(mean_g * obs_g) / sum(obs_g).

    Output: one row per group + one 'Average' row, columns
    (grp, n_obs, *metric_cols). Two tiny aggregates — the per-group agg
    is map-side partial over the per-series frame; the Average row
    reduces the (n_groups)-row result, so nothing here grows with the
    number of series.
    """
    per = per_series.groupBy(F.col(group_col).alias("grp")).agg(
        (F.count("*") * horizon).cast("long").alias("n_obs"),
        *[F.avg(m).alias(m) for m in metric_cols],
    )
    avg_row = per.agg(
        F.sum("n_obs").cast("long").alias("n_obs"),
        *[
            (F.sum(F.col(m) * F.col("n_obs")) / F.sum("n_obs")).alias(m)
            for m in metric_cols
        ],
    ).select(F.lit("Average").alias("grp"), "n_obs", *metric_cols)
    return per.select("grp", "n_obs", *metric_cols).unionByName(avg_row)


def evaluate_models_per_obs(
    truth: DataFrame, forecasts: DataFrame, model_cols: list[str]
) -> DataFrame:
    """POOLED evaluation: one row, metric over ALL concatenated
    observations — not per-series-then-mean
    (fforma/utils/utils.py:257-294 evaluate_panel_per_obs /
    evaluate_models_per_obs). One global aggregate per model column;
    Catalyst collapses it to a single partial-agg + 1-row final."""
    joined = truth.join(forecasts, ["doc_id", "pos"], "left")
    return joined.agg(*[_agg(m, mc) for mc in model_cols for m in ("smape", "mae")])
