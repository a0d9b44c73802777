"""T0 feature rollups — per-series tsfeatures-style aggregates.

Two physical strategies (SURVEY.md §7.1 step 4):

* ``features_wide`` — ONE narrow mapInPandas pass over the wide
  sequences table. Each series' tokens already live in one Arrow array
  on one row, so this needs NO shuffle at all: it is embarrassingly
  parallel over docs, the ideal 100 TB plan (scan → project). Kernels
  are the numpy library in fforma_spark.functions.kernels.
* ``features_sql`` — the closed-form subset (length/mean/variance/
  trend/acf1/crossing_points) as pure Catalyst expressions over the
  long panel, with a DuckDB-oracle twin (``features_sql_oracle``) for
  the driver's correctness gate. Reference semantics: detrend
  fforma/base/_models.py:22-30 (slope = covar_pop/var_pop), acf
  :136-152 (mean-centered, full-sum denominator).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W, functions as F

from fforma_spark.functions import dispatch as D
from fforma_spark.functions.batch_kernels import (
    BIG_BATCH_ROWS,
    MAX_SMALL_BATCH_LEN,
    MIN_BATCH_LEN,
    MIN_BATCH_ROWS,
    feature_matrix,
)
from fforma_spark.functions.kernels import FEATURE_NAMES, feature_vector

# M4 id convention: first char of doc_id encodes the frequency group
# (fforma/experiments/meta_results_r_data.py:132-137; seas_dict at
# fforma/utils/m4_data.py:14-25).
SEASONALITY_BY_PREFIX = {"H": 24, "D": 7, "W": 52, "M": 12, "Q": 4, "Y": 1, "S": 1}

FEATURES_SCHEMA = "doc_id string, " + ", ".join(f"{n} double" for n in FEATURE_NAMES)


def _feature_batches(
    it: Iterator[pd.DataFrame], default_seasonality: int
) -> Iterator[pd.DataFrame]:
    """Pooled, grouped feature kernel dispatch (functions/dispatch.py).

    Each pool is grouped by (seasonality, length), and each big-enough
    group runs the length-batched ``feature_matrix`` in cache-sized
    blocks — a bit-for-bit twin of per-row ``feature_vector`` (the
    exactness contract tested in tests/test_batch_kernels.py) that
    amortizes the ~3 ms/series numpy dispatch overhead across the
    group. Small groups and short series take the scalar path
    unchanged. Output values are therefore IDENTICAL to the all-scalar
    implementation; only the physical execution differs.
    """
    for pdf in D.pooled(it):
        B = len(pdf)
        doc_ids = pdf["doc_id"].to_numpy()
        tokens = pdf["tokens"].to_numpy()
        seas = np.fromiter(
            (
                SEASONALITY_BY_PREFIX.get(str(d)[:1], default_seasonality)
                for d in doc_ids
            ),
            dtype=np.int64,
            count=B,
        )
        vals = np.empty((B, len(FEATURE_NAMES)), dtype=np.float64)
        for (s, n), idx in D.groups(seas, D.lengths(tokens)):
            if n == 0:
                vals[idx] = 0.0
            elif (
                len(idx) >= MIN_BATCH_ROWS
                and n >= MIN_BATCH_LEN
                and (len(idx) >= BIG_BATCH_ROWS or n <= MAX_SMALL_BATCH_LEN)
            ):
                for sub, X in D.blocks(tokens, idx, n, D.CACHE_ELEMS):
                    fm = feature_matrix(X, s)
                    for c, name in enumerate(FEATURE_NAMES):
                        vals[sub, c] = fm[name]
            else:
                for i in idx:
                    fv = feature_vector(
                        np.asarray(tokens[i], dtype=np.float64), s
                    )
                    vals[i] = [fv[name] for name in FEATURE_NAMES]

        out = pd.DataFrame(vals, columns=list(FEATURE_NAMES))
        if "n_true" in pdf.columns:  # whale cap active: the TRUE length
            out["series_length"] = pdf["n_true"].to_numpy().astype(np.float64)
        out.insert(0, "doc_id", doc_ids)
        yield out


def features_wide(
    seq_df: DataFrame,
    default_seasonality: int = 1,
    max_series_len: int | None = None,
) -> DataFrame:
    """All T0 features from the wide sequences table — shuffle-free
    (the repartition only fires when the scan yielded fewer splits
    than cores; no-op on real multi-file inputs).

    ``max_series_len`` arms whale protection (plans/skew.py): docs
    longer than the cap enter the Python kernels as their trailing
    window (bounded per-task cost), with series_length and the
    associative moments (mean/variance/nonzero_ratio) replaced by
    EXACT full-array values computed JVM-side. Docs ≤ cap are
    bit-identical to the uncapped path.
    """
    from fforma_spark.util import ensure_parallelism

    gen = lambda it: _feature_batches(it, default_seasonality)  # noqa: E731
    if max_series_len is None:
        src = ensure_parallelism(seq_df.select("doc_id", "tokens"))
        return src.mapInPandas(gen, FEATURES_SCHEMA)

    from fforma_spark.plans.skew import cap_whales, whale_exact_moments

    capped = cap_whales(
        seq_df.select("doc_id", "tokens", "n_tok"), max_series_len
    )
    src = ensure_parallelism(capped.select("doc_id", "tokens", "n_true"))
    feats = src.mapInPandas(gen, FEATURES_SCHEMA)
    whales = seq_df.filter(F.col("n_tok") > max_series_len)
    moments = whale_exact_moments(
        whales.select("doc_id", "tokens", "n_tok")
    )
    out = feats.join(F.broadcast(moments), "doc_id", "left")
    for col, wcol in (
        ("mean", "w_mean"),
        ("variance", "w_variance"),
        ("nonzero_ratio", "w_nonzero_ratio"),
    ):
        out = out.withColumn(col, F.coalesce(F.col(wcol), F.col(col)))
    return out.select("doc_id", *FEATURE_NAMES)


def features_sql(panel: DataFrame) -> DataFrame:
    """Closed-form feature subset over the long panel, Catalyst-only.

    One window pass (lag for acf numerator / median crossings) feeding
    one groupBy — two shuffles total on doc_id, both AQE-coalesced.
    """
    w = W.partitionBy("doc_id").orderBy("pos")
    stats = panel.groupBy("doc_id").agg(
        F.count("*").alias("_n"),
        F.avg("val").alias("mean"),
        F.var_samp("val").alias("_var"),
        F.covar_pop("pos", "val").alias("_cov"),
        F.var_pop("pos").alias("_varpos"),
        F.avg("pos").alias("_posmean"),
        F.expr("percentile(val, 0.5)").alias("_median"),
    )
    lagged = panel.withColumn("_prev", F.lag("val").over(w))
    num = (
        lagged.join(stats.select("doc_id", "mean", "_median"), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                (F.col("val") - F.col("mean")) * (F.col("_prev") - F.col("mean"))
            ).alias("_acf_num"),
            F.sum(F.pow(F.col("val") - F.col("mean"), 2)).alias("_acf_den"),
            F.sum(
                F.when(
                    F.col("_prev").isNotNull()
                    & ((F.col("val") > F.col("_median"))
                       != (F.col("_prev") > F.col("_median"))),
                    1,
                ).otherwise(0)
            ).alias("crossing_points"),
        )
    )
    out = stats.join(num, "doc_id").select(
        "doc_id",
        F.col("_n").cast("double").alias("series_length"),
        "mean",
        F.coalesce("_var", F.lit(0.0)).alias("variance"),
        F.when(F.col("_varpos") > 0, F.col("_cov") / F.col("_varpos"))
        .otherwise(F.lit(0.0))
        .alias("trend_slope"),
        F.when(
            F.col("_acf_den") > 0, F.col("_acf_num") / F.col("_acf_den")
        )
        .otherwise(F.lit(0.0))
        .alias("x_acf1"),
        F.col("crossing_points").cast("double").alias("crossing_points"),
    )
    return out


def features_sql_oracle(panel_sql: str) -> str:
    """DuckDB twin of features_sql (identical aliases, 6dp rounding is
    applied by the caller on both sides)."""
    return f"""
        WITH panel AS ({panel_sql}),
        stats AS (
            SELECT doc_id,
                   count(*) AS _n,
                   avg(val) AS mean,
                   coalesce(var_samp(val), 0.0) AS variance,
                   covar_pop(pos, val) AS _cov,
                   var_pop(pos) AS _varpos,
                   quantile_cont(val, 0.5) AS _median
            FROM panel GROUP BY doc_id
        ),
        lagged AS (
            SELECT p.doc_id, p.val,
                   lag(p.val) OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS _prev,
                   s.mean, s._median
            FROM panel p JOIN stats s USING (doc_id)
        ),
        num AS (
            SELECT doc_id,
                   sum((val - mean) * (_prev - mean)) AS _acf_num,
                   sum((val - mean) * (val - mean)) AS _acf_den,
                   sum(CASE WHEN _prev IS NOT NULL
                            AND ((val > _median) <> (_prev > _median))
                       THEN 1 ELSE 0 END) AS crossing_points
            FROM lagged GROUP BY doc_id
        )
        SELECT s.doc_id,
               CAST(s._n AS DOUBLE) AS series_length,
               s.mean AS mean,
               s.variance AS variance,
               CASE WHEN s._varpos > 0 THEN s._cov / s._varpos ELSE 0.0 END AS trend_slope,
               CASE WHEN n._acf_den > 0 THEN n._acf_num / n._acf_den ELSE 0.0 END AS x_acf1,
               CAST(n.crossing_points AS DOUBLE) AS crossing_points
        FROM stats s JOIN num n USING (doc_id)
    """
