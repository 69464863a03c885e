"""The reference's four CLI entry points re-expressed as composed lazy
Spark plans (SURVEY.md §3). Stage hand-offs are DataFrames (one fused
plan per stage run) — the reference's CSV-files-between-processes IR
becomes Parquet only when a caller explicitly persists.

Entry point 0 (organize_raw_files) is subsumed by partitioned writes:
``write_partitioned`` below — filesystem layout is a sink property, not
a pre-processing script.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensomics_data_pipeline_spark.functions.timeops import (
    adjust_clock_skew,
    epoch_ms_to_timestamp,
    with_date_time_columns,
)
from sensomics_data_pipeline_spark.operators import acc as acc_ops
from sensomics_data_pipeline_spark.operators import activity as activity_ops
from sensomics_data_pipeline_spark.operators import filters as filter_ops
from sensomics_data_pipeline_spark.operators import intervals as interval_ops
from sensomics_data_pipeline_spark.operators import unpivot as unpivot_ops
from sensomics_data_pipeline_spark.operators import windows as window_ops


def reformat_raw(
    raw: DataFrame,
    d_time_ms: int | None = None,
    ref_time_s: float | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Entry point 1 (``raw_data_reformat.py main``, ``:204-264``):
    raw JSON records → skew-adjust → timestamp conversion → 3-way split
    (measurements / ppg / accelerometer) with per-kind unpivot.

    Input: DataFrame with (time epoch-ms, kind, data json-text, jname).
    Returns (measurements, ppg, ac, d_time_applied) — one shared scan,
    three filtered projections; cache the source before fanning out to
    three writes.
    """
    adjusted, d_time = adjust_clock_skew(
        raw, "time", d_time_ms=d_time_ms, ref_time_s=ref_time_s
    )
    timed = with_date_time_columns(
        adjusted.withColumn("date_time", epoch_ms_to_timestamp("adj_time")).drop(
            "time", "adj_time"
        )
    )
    measurements = unpivot_ops.normalize_measurements(timed)
    ppg, ac = unpivot_ops.split_ppg_ac(timed)
    return measurements, ppg, ac, d_time


def filter_measurements(
    measurements: DataFrame,
    partition_cols: list[str] | None = None,
    flatline_kind: str = "hr",
    max_run: int = 20,
    rules: dict[str, tuple[float, float]] | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Entry point 2 (``filtering_data.py main``, ``:126-221``):
    flatline-scan the hr stream → keep rows inside include intervals →
    fused physiologic range filters.

    One plan: islands-RLE window (A5) → broadcast interval semijoin (J2)
    → single fused predicate (P5×5 via broadcast rules join).
    ``tiebreak_cols`` pins the flatline window order when the hr stream
    can carry duplicate (partition, date_time) pairs — required for a
    deterministic run segmentation on real (tied) data.
    """
    pc = partition_cols or []
    hr = measurements.filter(F.col("kind") == flatline_kind)
    runs = filter_ops.flatline_runs(
        hr, pc, order_col="date_time", value_col="data", max_run=max_run,
        tiebreak_cols=tiebreak_cols,
    )
    # reference parity: consecutive short runs coalesce into one include
    # interval (t_incl, filtering_data.py:100-106) — without this, each
    # distinct-value run is a degenerate point interval and rows of
    # other kinds between hr reports would be dropped
    keep = filter_ops.include_intervals(runs, pc).filter(
        F.col("include") == 1
    ).select(*pc, "start_time", "end_time")
    kept = interval_ops.interval_semijoin(
        measurements, keep, pc, ts_col="date_time"
    )
    return filter_ops.apply_threshold_rules(kept, rules)


def reformat_acc(
    ac: DataFrame,
    partition_cols: list[str] | None = None,
    tolerance_s: float = 0.5,
    bin_seconds: int = 300,
    greedy_parity: bool = False,
    burst: bool | None = None,
) -> DataFrame:
    """Entry point 3 (``acc_reformat.py main``): align the 3 axis
    streams (J1), fan 5-sample bursts out to smooth 10 Hz timestamps
    (W4+R7), enrich with seconds/bin/g-force.

    ``burst`` (auto-detected from the ``data`` type by default): the
    watch reports 5-sample bursts per record (FIXTURES.md F4); scalar
    streams skip the explode. ``greedy_parity=True`` switches to the
    applyInPandas exact-greedy plan (Plan B).
    """
    import pyspark.sql.types as T

    pc = partition_cols or []
    data_type = ac.schema["data"].dataType
    if isinstance(data_type, T.StringType):
        ac = ac.withColumn("data", F.from_json("data", T.ArrayType(T.DoubleType())))
        data_type = ac.schema["data"].dataType
    if burst is None:
        burst = isinstance(data_type, T.ArrayType)
    if greedy_parity:
        aligned = acc_ops.align_axes_greedy(
            ac, pc, ts_col="date_time", tolerance_s=tolerance_s
        )
    else:
        aligned = acc_ops.align_axes(ac, pc, ts_col="date_time", tolerance_s=tolerance_s)
    if burst:
        aligned = acc_ops.resample_10hz(
            aligned, pc, ts_col="date_time", burst=True
        ).drop("session_id")
    return acc_ops.enrich_acc(aligned, bin_seconds=bin_seconds)


def categorize_activity(
    measurements: DataFrame,
    acc: DataFrame,
    partition_cols: list[str] | None = None,
    step_lookback_min: int = 10,
    reset_gap_hours: int = 12,
    threshold_round_decimals: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Entry point 4 (``activity_categorize.py main``, ``:209-343``):
    sleep intervals from the resetting counter → subtract step windows →
    quantile thresholds from in-sleep accel → 5-min tumbling
    categorization → interval algebra to a final
    (start, end, category) table.

    Returns (final_categorized, categorized_acc, thresholds).

    The composed DAG fans three intermediates out to 2+ consumers each
    (``sleep_minus_step`` → thresholds + final-subtract base;
    ``categorized_acc`` → active + rest; ``sleep_final`` → union +
    wake-rest subtrahend). Without a materialization point Spark
    re-derives each one's full upstream window chain per consumer — a
    ~4× stage multiplier measured at sf0.001-0.1.
    ``localCheckpoint(eager=False)`` truncates the lineage at exactly
    those reuse seams. It is not free at construction: under AQE the
    call plans the frame through ``toRdd``, so building the three
    seams runs their upstream shuffle and broadcast stages before this
    function returns (11 jobs and 5.3–5.8 s of one rebuild on the
    ``pipeline_bench`` ``cohort_extracts`` inputs, 4 CPUs, against 8
    jobs for the writes that follow).
    """
    pc = partition_cols or []

    # sleep intervals: W1 dedup → W2 delta w/ reset → W3 interval → W7 merge
    sleep = window_ops.dedup_consecutive(
        measurements.filter(
            (F.col("kind") == "sleep_total") & F.col("data").isNotNull()
        ),
        pc,
        order_col="date_time",
        value_col="data",
    )
    sleep = window_ops.counter_reset_delta(
        sleep, pc, order_col="date_time", value_col="data",
        reset_gap_hours=reset_gap_hours, out_col="sleep_minutes",
    )
    sleep_iv = sleep.select(
        *pc,
        (
            F.col("date_time")
            - (F.col("sleep_minutes").cast("long") * F.expr("INTERVAL 1 MINUTE"))
        ).alias("start_time"),
        F.col("date_time").alias("end_time"),
    )
    sleep_iv = interval_ops.merge_intervals(sleep_iv, pc)

    # step windows [t-10min, t] for positive step deltas
    step = window_ops.dedup_consecutive(
        measurements.filter(
            (F.col("kind") == "step") & F.col("data").isNotNull()
        ),
        pc,
        order_col="date_time",
        value_col="data",
    ).filter(F.col("data") > 0)
    step_iv = step.select(
        *pc,
        (F.col("date_time") - F.expr(f"INTERVAL {step_lookback_min} MINUTES")).alias(
            "start_time"
        ),
        F.col("date_time").alias("end_time"),
    )

    sleep_minus_step = interval_ops.subtract_intervals(
        sleep_iv, step_iv, pc
    ).localCheckpoint(eager=False)

    thresholds = activity_ops.sleep_acc_thresholds(
        acc, sleep_minus_step, pc, ts_col="date_time",
        round_decimals=threshold_round_decimals,
    )
    categorized_acc = activity_ops.categorize_windows(
        acc, thresholds, pc, ts_col="date_time"
    ).localCheckpoint(eager=False)

    active = categorized_acc.filter(F.col("category") != "rest").select(
        *pc, "start_time", "end_time"
    )
    sleep_final = interval_ops.subtract_intervals(
        sleep_minus_step, active, pc
    ).localCheckpoint(eager=False)
    rest = categorized_acc.filter(F.col("category") == "rest").select(
        *pc, "start_time", "end_time"
    )
    wake_rest = interval_ops.subtract_intervals(rest, sleep_final, pc)

    final = (
        categorized_acc.filter(F.col("category") != "rest")
        .select(*pc, "start_time", "end_time", "category")
        .unionByName(
            sleep_final.select(
                *pc, "start_time", "end_time", F.lit("sleep").alias("category")
            )
        )
        .unionByName(
            wake_rest.select(
                *pc, "start_time", "end_time", F.lit("rest").alias("category")
            )
        )
    )
    return final, categorized_acc, thresholds


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str] = ("date",)
) -> None:
    """Entry point 0 (``organize_raw_files``): per-date/subject layout
    as a property of the sink (S10) — replaces regex/mkdir/mv scripting
    with ``partitionBy``."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
