"""Filter operators: threshold rules, flatline RLE
(SURVEY.md §2.2 P5-P10, §2.5 A5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Physiologic plausibility minimums (P10,
#: ``/root/reference/filtering_data.py:202-205``).
DEFAULT_THRESHOLDS = {
    "hr": (50.0, 1_000_000.0),
    "bp_dia": (60.0, 1_000_000.0),
    "bp_sys": (80.0, 1_000_000.0),
    "spo2": (80.0, 1_000_000.0),
    "st": (30.0, 1_000_000.0),
}


def apply_threshold_rules(
    df: DataFrame,
    rules: dict[str, tuple[float, float]] | None = None,
    kind_col: str = "kind",
    value_col: str = "data",
) -> DataFrame:
    """P5×n fused: the reference chains five ``subset_df(replace=True)``
    passes (``filtering_data.py:214-218``); semantically that is ONE
    predicate — kinds without a rule pass, ruled kinds must be in range.

    Implemented as a broadcast join against a tiny rules table rather
    than a literal CASE chain: at 100 TB the rules live in one place,
    the join is broadcast (no shuffle), and rule changes don't recompile
    the plan.
    """
    rules = rules if rules is not None else DEFAULT_THRESHOLDS
    spark = df.sparkSession
    rules_df = spark.createDataFrame(
        [(k, lo, hi) for k, (lo, hi) in rules.items()],
        f"{kind_col} string, min_val double, max_val double",
    )
    joined = df.join(F.broadcast(rules_df), on=kind_col, how="left")
    keep = (
        F.col("min_val").isNull()
        | F.col(value_col).between(F.col("min_val"), F.col("max_val"))
    )
    return joined.filter(keep).drop("min_val", "max_val")


def flatline_runs(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str = "date_time",
    value_col: str = "data",
    max_run: int = 20,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """A5: run-length encoding of consecutive equal values → include /
    exclude intervals (``t_incl``, ``/root/reference/filtering_data.py:
    88-111``): a stuck sensor reports the same number for a long stretch;
    runs longer than ``max_run`` are flagged ``include=0``.

    Classic gaps-and-islands — two row_numbers, no self-join:
    ``island = rn_global − rn_per_value`` is constant exactly within a
    run of equal consecutive values. Two window passes over the same
    partitioning (one shuffle), then one aggregate.

    Partition by subject/device (``partition_cols``) so no single
    ``Window.orderBy`` spans the whole 100-TB table.

    Divergence from the reference, documented: ``t_incl`` merges
    *consecutive short runs* into one include-interval; this operator
    emits one row per run (finer grain). Consumers that need the
    coarse include-intervals get them via ``include_intervals`` below,
    which reproduces the reference's interval-merging exactly.
    """
    tb = tiebreak_cols or []
    w = Window.partitionBy(*partition_cols).orderBy(order_col, *tb)
    wv = Window.partitionBy(*partition_cols, value_col).orderBy(order_col, *tb)
    runs = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_rnv", F.row_number().over(wv))
        .withColumn("_island", F.col("_rn") - F.col("_rnv"))
    )
    return (
        runs.groupBy(*partition_cols, value_col, "_island")
        .agg(
            F.min(order_col).alias("start_time"),
            F.max(order_col).alias("end_time"),
            F.count("*").alias("run_len"),
        )
        .withColumn(
            "include", (F.col("run_len") <= max_run).cast("int")
        )
        .drop("_island")
    )


def include_intervals(runs: DataFrame, partition_cols: list[str]) -> DataFrame:
    """Collapse per-run rows into the reference's coarse include/exclude
    interval list (``t_incl`` output shape, ``filtering_data.py:98-110``):
    adjacent runs with the same include flag merge into one interval.

    Another islands pass on the (tiny relative to input) runs table.

    The window orders by (start_time, end_time, include): tied
    timestamps in the source stream can yield two same-partition runs
    sharing a boundary start_time (even start AND end, for point runs
    at one tied instant), and start_time alone would leave the lag/sum
    island assignment nondeterministic. With all three keys tied the
    remaining permutation is between identical-flag rows, which cannot
    change the merged intervals — so the OUTPUT is fully pinned.
    """
    w = Window.partitionBy(*partition_cols).orderBy(
        "start_time", "end_time", "include"
    )
    flagged = runs.withColumn(
        "_new", (F.col("include") != F.coalesce(F.lag("include").over(w), F.lit(-1))).cast("int")
    ).withColumn("_grp", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(*partition_cols, "include", "_grp")
        .agg(
            F.min("start_time").alias("start_time"),
            F.max("end_time").alias("end_time"),
        )
        .drop("_grp")
        .select(*partition_cols, "start_time", "end_time", "include")
    )
