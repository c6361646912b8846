"""Group-wise selection and zonal aggregation operators (SURVEY.md A1-A10).

Reference semantics:
- median-pick (A2): per StemTag, keep the crown whose area CA is closest to
  the group median (batch_sam.py:158-178). Median = interpolated middle
  ((lo+hi)/2 for even groups), like np.median; tie-break (|CA-med|, crown_id).
- zonal lidar stats (A7): per-crown mean of z for points in the crown bbox
  (delineation_utils.py:356-364); height percentiles are the engine's CHM
  generalization. Percentiles here are RANK-BASED (value at ceil(q*n), ties by
  (z, point_id)) so results are exact doubles — reproducible across engines
  with no interpolation drift.
- group-first after multi-key sort (A1): delineation_utils.py:453.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geotreehealth_spark.operators.materialize import cached


def first_by_order(df: DataFrame, key: str, order_cols: list) -> DataFrame:
    """A1: per key, first row under the given explicit total order."""
    w = Window.partitionBy(key).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def median_pick(
    df: DataFrame, key: str, value: str, id_col: str
) -> DataFrame:
    """A2: per key, the row whose `value` is nearest the group median.

    One shuffle on `key`; median computed with two windows (no second shuffle —
    same partitioning reused by Catalyst). r6: the input lineage feeds both
    the median derivation and the final pick join — persist it once.
    """
    df = cached(df)
    w_order = Window.partitionBy(key).orderBy(F.col(value).asc(), F.col(id_col).asc())
    w_all = Window.partitionBy(key)
    ranked = df.withColumn("__rn", F.row_number().over(w_order)).withColumn(
        "__n", F.count("*").over(w_all)
    )
    # interpolated median = mean of the middle one-or-two values
    mid = ranked.where(
        (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
        | (F.col("__rn") == F.ceil((F.col("__n") + 1) / 2))
    )
    med = mid.groupBy(key).agg(((F.min(value) + F.max(value)) / F.lit(2.0)).alias("__med"))
    w_pick = Window.partitionBy(key).orderBy(
        F.abs(F.col(value) - F.col("__med")).asc(), F.col(id_col).asc()
    )
    return (
        df.join(med, key)
        .withColumn("__rn", F.row_number().over(w_pick))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__med")
    )


def rank_percentile(
    df: DataFrame,
    key: str,
    value: str,
    tie_col: str,
    quantiles: dict[str, float],
) -> DataFrame:
    """A7: exact rank-based percentiles per group, one output column per q.

    value at row_number == max(1, ceil(q * n)) under (value, tie_col) order.
    Single shuffle on `key`; both windows share its partitioning.
    """
    w_order = Window.partitionBy(key).orderBy(F.col(value).asc(), F.col(tie_col).asc())
    w_all = Window.partitionBy(key)
    ranked = df.withColumn("__rn", F.row_number().over(w_order)).withColumn(
        "__n", F.count("*").over(w_all)
    )
    aggs = []
    for name, q in quantiles.items():
        target = F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("__n")))
        aggs.append(F.max(F.when(F.col("__rn") == target, F.col(value))).alias(name))
    return ranked.groupBy(key).agg(*aggs)


def _kth_smallest(df: DataFrame, col: str, k: int) -> DataFrame:
    """1-row frame with the k-th smallest value of `col` (multiset rank).

    sort+limit(k)+max — Spark plans this as a TakeOrderedAndProject (per-
    partition top-k then merge of k-row heaps), NOT a global sort: scale-safe
    for any k that fits one executor."""
    return df.select(F.col(col)).orderBy(F.col(col).asc()).limit(k).agg(
        F.max(col).alias("__kth")
    )


def percentile_stretch(
    df: DataFrame,
    cols: list[str],
    lo: float = 0.02,
    hi: float = 0.98,
) -> DataFrame:
    """A8 percentile stretch (main.py:53-61, store_data_structures.py:84-88):
    per column, clip-scale values to [0,1] between the rank-based lo/hi
    percentiles (value at max(1, ceil(q*n)) of the sorted multiset — exact,
    interpolation-free, so the SQL oracle reproduces it bit-for-bit).

    Adds `{col}_stretch` per input column. Degenerate hi == lo → 0.0.
    """
    import math

    n = df.count()
    out = df
    for c in cols:
        k_lo = max(1, math.ceil(lo * n))
        k_hi = max(1, math.ceil(hi * n))
        bounds = (
            _kth_smallest(df, c, k_lo)
            .withColumnRenamed("__kth", "__lo")
            .crossJoin(_kth_smallest(df, c, k_hi).withColumnRenamed("__kth", "__hi"))
        )
        out = out.crossJoin(F.broadcast(bounds)).withColumn(
            f"{c}_stretch",
            F.when(F.col("__hi") == F.col("__lo"), F.lit(0.0)).otherwise(
                F.least(
                    F.greatest(
                        (F.col(c) - F.col("__lo")) / (F.col("__hi") - F.col("__lo")),
                        F.lit(0.0),
                    ),
                    F.lit(1.0),
                )
            ),
        ).drop("__lo", "__hi")
    return out


def drop_smallest_fraction(
    df: DataFrame, key: str, value: str, frac: float = 0.1
) -> DataFrame:
    """§2.6 percent-rank filter: per key, drop rows in the smallest `frac` of
    `value` (reference drops the smallest-10% crown areas). Keeps rows with
    percent_rank >= frac; rank ties share a percent_rank, exactly like SQL
    PERCENT_RANK in both engines."""
    w = Window.partitionBy(key).orderBy(F.col(value).asc())
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .where(F.col("__pr") >= frac)
        .drop("__pr")
    )


def distinct_count(df: DataFrame, key: str, value: str, out_col: str = "n_distinct") -> DataFrame:
    """A9: COUNT(DISTINCT value) per key."""
    return df.groupBy(key).agg(F.countDistinct(value).alias(out_col))
