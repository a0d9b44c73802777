"""Ensemble / meta-learner rollup operators — all Catalyst-native.

The reference's closed-form meta-learners (fforma/meta_learner/
_basics.py) and the weight-application step of the trained ones
(fforma/meta_learner/_XGBoost.py:137-163) reduce to:

    y_hat(doc, pos) = Σ_m weight_m(doc) · forecast_m(doc, pos)

Per-series weights are one row per doc_id → the join onto the
prediction panel is broadcast-able at any scale where the weight table
fits (1 row/series; at 10^12 series it becomes a co-partitioned
sort-merge join on doc_id — both sides already hash by doc_id, no
extra shuffle). Row-wise mean/median over model columns use array
expressions (array_sort + element pick = exact median, no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fforma_spark.util import sql_ident as _q


def _arr(cols: list[str]):
    return F.array(*[F.col(c) for c in cols])


def ensemble_mean(
    forecasts: DataFrame, model_cols: list[str], benchmark: str | None = None
) -> DataFrame:
    """Row-mean ensemble, optionally excluding the benchmark column
    (fforma/meta_learner/_basics.py:12-38)."""
    cols = [c for c in model_cols if c != benchmark]
    expr = F.aggregate(
        _arr(cols), F.lit(0.0), lambda acc, x: acc + x
    ) / F.lit(len(cols))
    return forecasts.select("doc_id", "pos", expr.alias("y_hat"))


def ensemble_median(forecasts: DataFrame, model_cols: list[str]) -> DataFrame:
    """Row-median ensemble (fforma/meta_learner/_basics.py:40-64) —
    exact: sort the model array, pick middle element(s)."""
    n = len(model_cols)
    arr = F.array_sort(_arr(model_cols))
    if n % 2 == 1:
        med = F.element_at(arr, (n + 1) // 2)
    else:
        med = (
            F.element_at(arr, n // 2) + F.element_at(arr, n // 2 + 1)
        ) / F.lit(2.0)
    return forecasts.select("doc_id", "pos", med.alias("y_hat"))


def softmin_weights(errors: DataFrame, loss_cols: list[str]) -> DataFrame:
    """Per-series softmax(-loss) weights
    (fforma/meta_learner/_basics.py:66-103). Numerically stabilized by
    subtracting the row max of (-loss) — identical weights.

    Staged as row max, exps, total, weights — one projection each, so
    every term appears once in the plan (O(M) nodes, not O(M²)):
    CollapseProject never inlines a non-cheap expression used twice."""
    q = [_q(c) for c in loss_cols]
    mx = f"greatest({', '.join(f'-{c}' for c in q)})" if len(q) > 1 else f"-{q[0]}"
    exps = [f"_e{i}" for i in range(len(q))]
    return (
        errors.selectExpr("doc_id", *q, f"{mx} AS _mx")
        .selectExpr("doc_id", *[f"exp(-{c} - _mx) AS {e}" for c, e in zip(q, exps)])
        .selectExpr("*", f"{' + '.join(exps)} AS _tot")
        .selectExpr(
            "doc_id",
            *[f"{e} / _tot AS {_q(f'w_{c}')}" for c, e in zip(loss_cols, exps)],
        )
    )


def best_model_weights(errors: DataFrame, loss_cols: list[str]) -> DataFrame:
    """One-hot argmin-loss weights (fforma/meta_learner/_basics.py:105-144).

    Row-wise argmin across columns via struct-sort: array_min over
    (loss, index) structs — ties resolve to the lowest index, matching
    numpy argmin."""
    structs = F.array(
        *[
            F.struct(F.col(c).alias("l"), F.lit(i).alias("i"))
            for i, c in enumerate(loss_cols)
        ]
    )
    best_i = F.array_min(structs)["i"]
    out = errors.withColumn("_best", best_i).select(
        "doc_id",
        *[
            F.when(F.col("_best") == i, 1.0).otherwise(0.0).alias(f"w_{c}")
            for i, c in enumerate(loss_cols)
        ],
    )
    return out


def weighted_rollup(
    forecasts: DataFrame,
    weights: DataFrame,
    model_cols: list[str],
    loss_cols: list[str],
    broadcast_weights: bool = True,
) -> DataFrame:
    """y_hat = Σ w_m · forecast_m — the core OWA-weighted rollup
    (fforma/meta_learner/_XGBoost.py:149-161,
    fforma/fforma_python_futuro.py:247-258).

    ``loss_cols[i]`` names the weight column w_<loss_cols[i]> matching
    ``model_cols[i]``.
    """
    w = F.broadcast(weights) if broadcast_weights else weights
    joined = forecasts.join(w, "doc_id")
    # 0.0D starts the sum as a double; a bare SQL 0.0 is a decimal literal
    terms = [f"{_q(f'w_{lc}')} * {_q(mc)}" for mc, lc in zip(model_cols, loss_cols)]
    y_hat = " + ".join(["0.0D", *terms])
    return joined.selectExpr("doc_id", "pos", f"{y_hat} AS y_hat")


def contribution_to_error(
    errors: DataFrame, loss_cols: list[str], benchmark: str
) -> DataFrame:
    """Benchmark-relative errors: err_m / (err_bench + 1e-3)
    (fforma/meta_learner/_XGBoost.py:100-104). Benchmark column is
    dropped from the output, as the reference drops it from models."""
    denom = F.col(benchmark) + F.lit(1e-3)
    return errors.select(
        "doc_id",
        *[
            (F.col(c) / denom).alias(c)
            for c in loss_cols
            if c != benchmark
        ],
    )


def loser_model_pruning(
    errors: DataFrame, loss_cols: list[str]
) -> list[str]:
    """Names of models that never win (per-series argmin) — dropped
    before meta-training (fforma/fforma_python_futuro.py:193-200,
    fforma/meta_learner/_XGBoost.py:106-116). One tiny agg + collect
    of ≤len(loss_cols) rows."""
    structs = F.array(
        *[
            F.struct(F.col(c).alias("l"), F.lit(i).alias("i"))
            for i, c in enumerate(loss_cols)
        ]
    )
    wins = (
        errors.select(F.array_min(structs)["i"].alias("_best"))
        .groupBy("_best")
        .count()
        .collect()
    )
    winners = {r["_best"] for r in wins}
    return [c for i, c in enumerate(loss_cols) if i not in winners]
