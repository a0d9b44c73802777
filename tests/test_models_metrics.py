"""Forecast models + metrics + ensemble rollup: Spark vs numpy oracle."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from fforma_spark.functions import kernels as K
from fforma_spark.functions.ensemble import (
    best_model_weights,
    contribution_to_error,
    ensemble_mean,
    ensemble_median,
    loser_model_pruning,
    softmin_weights,
    weighted_rollup,
)
from fforma_spark.functions.features import SEASONALITY_BY_PREFIX
from fforma_spark.functions.metrics import (
    evaluate_models,
    evaluate_with_owa,
    mase_scale,
)
from fforma_spark.functions.models import (
    FORECAST_COLS,
    FORECASTS_SCHEMA,
    HORIZON_BY_PREFIX,
    base_forecasts,
    forecast_series,
    holdout_truth,
    train_split,
)
from fforma_spark.operators.reshape import explode_panel
from fforma_spark.sources.synth import synth_sequences, synth_sequences_pandas

N_DOCS, SEED = 28, 13


@pytest.fixture(scope="module")
def seq(spark):
    return synth_sequences(spark, N_DOCS, SEED).cache()


@pytest.fixture(scope="module")
def seq_pd():
    return synth_sequences_pandas(N_DOCS, SEED)


def _h_s(doc_id):
    return (
        HORIZON_BY_PREFIX.get(doc_id[:1], 8),
        SEASONALITY_BY_PREFIX.get(doc_id[:1], 1),
    )


def test_base_forecasts_match_numpy(spark, seq, seq_pd):
    got = {}
    for r in base_forecasts(seq).collect():
        got[(r["doc_id"], r["pos"])] = [r[c] for c in FORECAST_COLS]
    n_checked = 0
    for _, row in seq_pd.iterrows():
        h, s = _h_s(row["doc_id"])
        y = np.asarray(row["tokens"], dtype=np.float64)
        if len(y) <= h:
            assert (row["doc_id"], 0) not in got
            continue
        exp = forecast_series(y[:-h], h, s)
        for p in range(h):
            gv = got[(row["doc_id"], p)]
            ev = [exp[c][p] for c in FORECAST_COLS]
            assert gv == pytest.approx(ev, rel=1e-12, abs=1e-12), (
                row["doc_id"],
                p,
            )
            n_checked += 1
    assert n_checked > 100


def test_holdout_truth_and_train_split(spark, seq, seq_pd):
    truth = {
        (r["doc_id"], r["pos"]): r["y"] for r in holdout_truth(seq).collect()
    }
    tr = {r["doc_id"]: list(r["tokens"]) for r in train_split(seq).collect()}
    for _, row in seq_pd.iterrows():
        h, _ = _h_s(row["doc_id"])
        y = list(row["tokens"])
        if len(y) <= h:
            assert row["doc_id"] not in tr
            continue
        assert tr[row["doc_id"]] == y[:-h]
        for p in range(h):
            assert truth[(row["doc_id"], p)] == float(y[len(y) - h + p])


def test_metrics_match_reference_formulas(spark, seq, seq_pd):
    """smape/mape/mse/mae per series vs the numpy formulas
    (fforma/metrics/numpy/metrics.py:15-148) incl. masked-invalid."""
    fc = base_forecasts(seq)
    truth = holdout_truth(seq)
    res = {
        r["doc_id"]: r.asDict()
        for r in evaluate_models(truth, fc, ["naive_forec", "average_forec"]).collect()
    }
    for _, row in seq_pd.iterrows():
        h, s = _h_s(row["doc_id"])
        y_all = np.asarray(row["tokens"], dtype=np.float64)
        if len(y_all) <= h:
            continue
        y, ytr = y_all[-h:], y_all[:-h]
        for model, fn in [("naive", K.naive), ("average", K.average)]:
            y_hat = fn(ytr, h)
            g = res[row["doc_id"]]
            assert g[f"{model}_mse"] == pytest.approx(
                np.mean((y - y_hat) ** 2), rel=1e-9
            )
            assert g[f"{model}_mae"] == pytest.approx(
                np.mean(np.abs(y - y_hat)), rel=1e-9
            )
            # masked-invalid smape
            delta = np.abs(y - y_hat)
            scale = np.abs(y) + np.abs(y_hat)
            ok = scale != 0
            exp_smape = (
                200 * np.mean(delta[ok] / scale[ok]) if ok.any() else None
            )
            if exp_smape is None:
                assert g[f"{model}_smape"] is None
            else:
                assert g[f"{model}_smape"] == pytest.approx(exp_smape, rel=1e-9)


def test_mase_scale_matches_reference(spark, seq, seq_pd):
    tr_panel = explode_panel(train_split(seq)).withColumnRenamed("y", "val")
    s_expr = F.coalesce(
        *[
            F.when(F.substring("doc_id", 1, 1) == p, F.lit(s))
            for p, s in SEASONALITY_BY_PREFIX.items()
        ],
        F.lit(1),
    )
    got = {r["doc_id"]: r["mase_scale"] for r in mase_scale(tr_panel, s_expr).collect()}
    for _, row in seq_pd.iterrows():
        h, s = _h_s(row["doc_id"])
        y = np.asarray(row["tokens"], dtype=np.float64)
        if len(y) <= h:
            continue
        ytr = y[:-h]
        if len(ytr) <= s:
            continue
        exp = np.mean(np.abs(ytr[s:] - ytr[:-s]))
        assert got[row["doc_id"]] == pytest.approx(exp, rel=1e-9), row["doc_id"]


def test_owa_and_ensembles(spark, seq, seq_pd):
    models = ["naive_forec", "snaive_forec", "average_forec", "naive2_forec"]
    fc = base_forecasts(seq).cache()
    truth = holdout_truth(seq)
    tr_panel = explode_panel(train_split(seq)).withColumnRenamed("y", "val")
    s_expr = F.coalesce(
        *[
            F.when(F.substring("doc_id", 1, 1) == p, F.lit(s))
            for p, s in SEASONALITY_BY_PREFIX.items()
        ],
        F.lit(1),
    )
    scale = mase_scale(tr_panel, s_expr)
    errors = evaluate_with_owa(truth, fc, models, scale).cache()

    owa_cols = [m.removesuffix("_forec") + "_owa" for m in models]
    errors = errors.na.drop(subset=owa_cols)  # constant-series 0/0 → NULL
    errs_pd = errors.select("doc_id", *owa_cols).toPandas().set_index("doc_id")
    assert len(errs_pd) > 10
    assert (errs_pd["naive2_owa"] - 1.0).abs().max() < 1e-9  # benchmark owa==1

    # softmin weights vs numpy softmax(-errors)
    sw = softmin_weights(errors.select("doc_id", *owa_cols), owa_cols)
    sw_pd = sw.toPandas().set_index("doc_id")
    e = errs_pd.to_numpy()
    ex = np.exp(-e - (-e).max(axis=1, keepdims=True))
    exp_w = ex / ex.sum(axis=1, keepdims=True)
    got_w = sw_pd.loc[errs_pd.index, [f"w_{c}" for c in owa_cols]].to_numpy()
    assert np.allclose(got_w, exp_w, rtol=1e-9)

    # best-model one-hot == numpy argmin
    bw = best_model_weights(errors.select("doc_id", *owa_cols), owa_cols)
    bw_pd = bw.toPandas().set_index("doc_id")
    got_b = bw_pd.loc[errs_pd.index, [f"w_{c}" for c in owa_cols]].to_numpy()
    assert (got_b.argmax(axis=1) == e.argmin(axis=1)).all()

    # weighted rollup == Σ w·pred (reference _XGBoost.py:149-161)
    yhat = weighted_rollup(fc, sw, models, owa_cols).toPandas()
    fc_pd = fc.toPandas().set_index(["doc_id", "pos"])
    for _, r in yhat.sample(frac=0.2, random_state=0).iterrows():
        w = sw_pd.loc[r["doc_id"]]
        preds = fc_pd.loc[(r["doc_id"], r["pos"])]
        exp = sum(
            w[f"w_{lc}"] * preds[mc] for mc, lc in zip(models, owa_cols)
        )
        assert r["y_hat"] == pytest.approx(exp, rel=1e-9)

    # mean/median ensembles
    em = ensemble_mean(fc, models).toPandas().set_index(["doc_id", "pos"])
    emed = ensemble_median(fc, models).toPandas().set_index(["doc_id", "pos"])
    sub = fc_pd[models]
    assert np.allclose(
        em.loc[sub.index, "y_hat"], sub.mean(axis=1), rtol=1e-9
    )
    assert np.allclose(
        emed.loc[sub.index, "y_hat"], sub.median(axis=1), rtol=1e-9
    )

    # contribution-to-error drops benchmark and scales
    cte = contribution_to_error(
        errors.select("doc_id", *owa_cols), owa_cols, "naive2_owa"
    )
    assert "naive2_owa" not in cte.columns
    row = cte.filter(F.col("doc_id") == errs_pd.index[0]).collect()[0]
    exp0 = errs_pd.iloc[0]["naive_owa"] / (errs_pd.iloc[0]["naive2_owa"] + 1e-3)
    assert row["naive_owa"] == pytest.approx(exp0, rel=1e-9)

    # loser pruning returns a (possibly empty) subset
    losers = loser_model_pruning(errors.select("doc_id", *owa_cols), owa_cols)
    assert set(losers) <= set(owa_cols)


# --- bit-parity pins for the SQL-text spine --------------------------------
# The Column-API formulation the spine was first written in, kept as the
# oracle: evaluate_with_owa / softmin_weights / weighted_rollup now build
# one SQL expression per output column and must give the same bits.


def _oracle_evaluate_with_owa(truth, forecasts, model_cols, scale_df, bench):
    joined = truth.join(forecasts, ["doc_id", "pos"], "left").join(
        scale_df, "doc_id"
    )
    aggs = []
    for mc in model_cols:
        p = mc.removesuffix("_forec")
        e = F.abs(F.col("y") - F.col(mc))
        scale_smape = F.abs(F.col("y")) + F.abs(F.col(mc))
        aggs.append(
            (200 * F.avg(F.when(scale_smape != 0, e / scale_smape))).alias(
                f"{p}_smape"
            )
        )
        aggs.append(
            F.try_divide(100 * F.avg(e), F.first("mase_scale")).alias(f"{p}_mase")
        )
    per_series = joined.groupBy("doc_id").agg(*aggs)
    bench_p = bench.removesuffix("_forec")
    for mc in model_cols:
        p = mc.removesuffix("_forec")
        per_series = per_series.withColumn(
            f"{p}_owa",
            (
                F.try_divide(F.col(f"{p}_mase"), F.col(f"{bench_p}_mase"))
                + F.try_divide(F.col(f"{p}_smape"), F.col(f"{bench_p}_smape"))
            )
            / 2,
        )
    return per_series


def _oracle_softmin_weights(errors, loss_cols):
    neg = [(-F.col(c)) for c in loss_cols]
    mx = F.greatest(*neg) if len(neg) > 1 else neg[0]
    exps = [F.exp(e - mx) for e in neg]
    tot = exps[0]
    for e in exps[1:]:
        tot = tot + e
    return errors.select(
        "doc_id", *[(e / tot).alias(f"w_{c}") for c, e in zip(loss_cols, exps)]
    )


def _oracle_weighted_rollup(forecasts, weights, model_cols, loss_cols):
    joined = forecasts.join(F.broadcast(weights), "doc_id")
    expr = F.lit(0.0)
    for mc, lc in zip(model_cols, loss_cols):
        expr = expr + F.col(f"w_{lc}") * F.col(mc)
    return joined.select("doc_id", "pos", expr.alias("y_hat"))


def _parity_panel(spark):
    """Seeded truth/forecast/scale panel over all FORECAST_COLS with a
    constant series (every model exact, zero MASE scale: 0/0 → NULL
    OWA), zero actuals (the smape mask, incl. 0/0 where a model also
    predicts 0) and a doc whose smape is fully masked for one model."""
    rng = np.random.default_rng(2024)
    h, m = 6, len(FORECAST_COLS)
    truth, fc, scale = [], [], []
    for d in range(40):
        doc = f"{'HDWMQYS'[d % 7]}{d}"
        y = rng.normal(50, 20, h).round(3)
        P = y[:, None] + rng.normal(0, 8, (h, m))
        s = float(rng.uniform(0.5, 9.0))
        if d == 0:  # constant series
            y, P, s = np.full(h, 5.0), np.full((h, m), 5.0), 0.0
        elif d == 1:  # zero actuals; models 0 and 3 predict 0 there
            y[[1, 4]] = 0.0
            P[[1, 4], 0] = 0.0
            P[1, 3] = 0.0
        elif d == 2:  # all-zero actuals and mavg (model 5) predicts zeros
            y[:] = 0.0
            P[:, 5] = 0.0
        truth += [(doc, p, float(y[p])) for p in range(h)]
        fc += [(doc, p, *map(float, P[p])) for p in range(h)]
        scale.append((doc, s))
    return (
        spark.createDataFrame(truth, "doc_id string, pos long, y double").coalesce(1),
        spark.createDataFrame(fc, FORECASTS_SCHEMA).coalesce(1),
        spark.createDataFrame(scale, "doc_id string, mase_scale double").coalesce(1),
    )


def _rows(df, key):
    return sorted((tuple(r) for r in df.collect()), key=lambda t: t[:key])


def _assert_same_bits(got, want, key):
    assert got.columns == want.columns
    g, w = _rows(got, key), _rows(want, key)
    assert len(g) == len(w) > 0
    for a, b in zip(g, w):
        # exact ==, NULL exactly where the oracle has NULL
        assert a == b, (a, b)


@pytest.fixture
def one_partition(spark):
    """With a doc's rows spread over partitions, avg merges its partial
    sums in no fixed order and two runs of one plan can differ in the
    last bit; one input and one shuffle partition fix that order."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1")
    yield
    spark.conf.set(key, saved)


def test_spine_bit_parity_with_column_api_oracle(spark, one_partition):
    truth, fc, scale = _parity_panel(spark)
    loss = [c.removesuffix("_forec") + "_owa" for c in FORECAST_COLS]
    ev = evaluate_with_owa(truth, fc, FORECAST_COLS, scale, bench="naive2_forec")
    ev_o = _oracle_evaluate_with_owa(truth, fc, FORECAST_COLS, scale, "naive2_forec")
    _assert_same_bits(ev, ev_o, 1)
    errs = {r["doc_id"]: r for r in ev.collect()}
    assert all(errs["H0"][c] is None for c in loss)  # constant series
    assert errs["W2"]["naive_smape"] == 200.0  # y == 0: every term 1
    assert errs["W2"]["mavg_smape"] is None  # every term 0/0, masked

    errors = ev.select("doc_id", *loss).na.fill(0.0)
    w = softmin_weights(errors, loss)
    w_o = _oracle_softmin_weights(errors, loss)
    _assert_same_bits(w, w_o, 1)
    _assert_same_bits(
        weighted_rollup(fc, w, FORECAST_COLS, loss),
        _oracle_weighted_rollup(fc, w_o, FORECAST_COLS, loss),
        2,
    )


def test_softmin_plan_grows_linearly_with_models(spark):
    """Staged softmin: the row max appears once in the optimized plan,
    and doubling the model count less than 2.5x's the plan text (the
    inlined formulation repeated every exp in every weight: O(M²))."""

    def plan(m):
        cols = [f"l{i}" for i in range(m)]
        schema = "doc_id string, " + ", ".join(f"{c} double" for c in cols)
        df = softmin_weights(spark.createDataFrame([], schema), cols)
        return df._jdf.queryExecution().optimizedPlan().toString()

    p14, p28 = plan(14), plan(28)
    assert p14.count("greatest(") == 1
    assert len(p28) < 2.5 * len(p14), (len(p14), len(p28))
