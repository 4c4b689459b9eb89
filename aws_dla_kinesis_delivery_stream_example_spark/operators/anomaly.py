"""Rolling-statistics anomaly detection over event streams.

Batch face here; the identical milli-unit state (count / sum /
sum-of-squares, all exact BIGINTs) drops into a Welford-style
applyInPandasWithState streaming variant unchanged — the exactness is
what makes batch backfills agree bit-for-bit with the live detector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# The detector's setting, shared with the streaming twin
# (streaming/stateful.py) so batch and stream flag the same rows.
ZS_LOOKBACK = 20
ZS_MIN_N = 10
ZS_THRESHOLD = 3.0


def rolling_zscore(df: DataFrame) -> DataFrame:
    """Per-user rolling z-score outliers: each row's ``v_milli``
    against the mean/stddev of the user's previous <= ``ZS_LOOKBACK``
    rows in (ts, event_id) order (>= ``ZS_MIN_N`` required,
    zero-variance windows excluded); |z| >= ``ZS_THRESHOLD`` flags the
    row. ``v_milli`` is integer milli-units, so the variance arithmetic
    is exact.

    Returns the input columns plus ``z`` (double). Keeps only flagged
    rows.

    Scale shape: one window partitioned by the user — partitions are
    a single user's history (bounded by per-user activity, never
    the corpus). All three frame aggregates (count/sum/sum-of-squares)
    share ONE WindowExec pass. The z arithmetic is exact-integer until
    the last four IEEE ops (div/sub/div/sqrt on identical inputs ->
    bit-identical across engines): milli-unit values keep sum(v^2)
    inside BIGINT for |v| <= ~650k over a 20-row frame.
    """
    v = F.col("v_milli")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZS_LOOKBACK, -1)
    )
    st = df.select(
        "*",
        F.count(v).over(w).alias("_n"),
        F.sum(v).over(w).alias("_s"),
        F.sum(v * v).over(w).alias("_ss"),
    )
    var_num = F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")
    z = (v.cast("double") - F.col("_s").cast("double") / F.col("_n")) / F.sqrt(
        var_num.cast("double") / (F.col("_n") * (F.col("_n") - 1))
    )
    return (
        st.filter((F.col("_n") >= ZS_MIN_N) & (var_num > 0))
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= ZS_THRESHOLD)
        .drop("_n", "_s", "_ss")
    )
