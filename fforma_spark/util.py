"""Cross-engine helpers.

stable_round6: 6-dp rounding computed as floor(x*1e6 + 0.5)/1e6 in
IEEE doubles. Spark's round() rounds the shortest-decimal rendering
of the double (HALF_UP on BigDecimal) while DuckDB rounds the binary
value — they disagree whenever the true quotient lands on a
representable half (e.g. 7.6753125). Doing the same float ops on both
engines is bit-stable by construction, which is what the driver's
value-hash comparison needs.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, functions as F


def best_of(reps: int, fn):
    """Run ``fn`` max(reps, 1) times; return (best_sec, rep_times,
    last_result). The ONE timing loop shared by bench.py and the
    spark-submit jobs — best-of-N separates steady-state parallel work
    from first-run warmup (Python-worker fork, shuffle files, JIT)."""
    times: list[float] = []
    out = None
    for _ in range(max(reps, 1)):
        t0 = time.perf_counter()
        out = fn()
        times.append(round(time.perf_counter() - t0, 3))
    return min(times), times, out


def stable_round6(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).cast(
        "double"
    )


def sql_round6(expr: str) -> str:
    """DuckDB twin of stable_round6."""
    return f"(floor(({expr}) * 1000000.0 + 0.5) / 1000000.0)"


def stable_round(col: Column | str, digits: int) -> Column:
    """Lower-precision variant for aggregates whose float reduction
    ORDER differs across engines (e.g. long window frames: DuckDB uses
    segment trees, Spark streams the frame) — the ~1e-13 divergence
    must stay far from the rounding boundary."""
    scale = float(10**digits)
    c = F.col(col) if isinstance(col, str) else col
    return (F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)).cast("double")


def sql_round(expr: str, digits: int) -> str:
    scale = float(10**digits)
    return f"(floor(({expr}) * {scale} + 0.5) / {scale})"


def exact_quantile(arr: Column, n: Column, q: float) -> Column:
    """Exact linear-interpolated quantile from a SORTED array column.

    ``idx = (n-1)*q``; ``lo = arr[floor(idx)]``; ``hi = arr[min(floor(
    idx)+1, n-1)]``; result ``lo + (hi-lo)*frac``. This is numpy's
    'linear' method written as ONE lerp expression shared bit-for-bit
    with the DuckDB twin (:func:`exact_quantile_sql`) — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` use differently
    shaped FP expressions and can land on opposite sides of the 6dp
    rounding boundary (round-1 red CORRECTNESS row).
    """
    idx = (n.cast("double") - F.lit(1.0)) * F.lit(q)
    lo_i = F.floor(idx).cast("int")
    frac = idx - lo_i.cast("double")
    lo = F.element_at(arr, lo_i + F.lit(1))
    hi = F.element_at(arr, F.least(lo_i + F.lit(2), n.cast("int")))
    return lo + (hi - lo) * frac


def exact_quantile_sql(arr: str, n: str, q: float) -> str:
    """DuckDB twin of :func:`exact_quantile` (1-based list indexing)."""
    idx = f"(CAST(({n}) - 1 AS DOUBLE) * {q})"
    lo_i = f"CAST(floor({idx}) AS INT)"
    lo = f"({arr})[{lo_i} + 1]"
    hi = f"({arr})[LEAST({lo_i} + 2, CAST({n} AS INT))]"
    return f"({lo} + ({hi} - {lo}) * ({idx} - floor({idx})))"


def sql_ident(name: str) -> str:
    """Backtick-quoted Spark SQL identifier for a generated column name."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Spark SQL string literal (backslash escapes are on by default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ensure_parallelism(df, min_parts: int | None = None):
    """Repartition up when the scan produced too few splits.

    Pandas-UDF stages are embarrassingly parallel over rows, but a
    small parquet file arrives as ONE split and would pin the whole
    kernel stage to one core. At production scale inputs have
    thousands of splits and this is a no-op (cond false, no shuffle).
    """
    from pyspark.sql import DataFrame

    if not isinstance(df, DataFrame):
        raise TypeError(
            f"ensure_parallelism needs a DataFrame, got {type(df).__name__}"
        )
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
