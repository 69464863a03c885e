"""One pass of the four-stage sensor pipeline, through the program's public
functions, with parquet between stages as the CLI writes it.

``layer`` is a context-manager factory ``layer(name)``; the untimed pass
gets one that does nothing, the traced pass one that opens a job group and
a span per stage (see ``trace.Tracer``).
"""

from __future__ import annotations

import contextlib
import glob
import os

STAGES = {
    "one_subject_raw": ("reformat", "filter", "acc", "activity"),
    "cohort_extracts": ("filter", "acc", "activity"),
}


def no_layer(name: str):
    return contextlib.nullcontext()


def read_sheets(inp: str) -> dict:
    """The vendor workbook as {sheet: all-string frame}, the shape
    ``pd.read_excel(dtype=str)`` gives."""
    import pandas as pd

    return {
        os.path.basename(p)[:-4]: pd.read_csv(p, dtype=str)
        for p in sorted(glob.glob(os.path.join(inp, "computed", "*.csv")))
    }


def workbook_ref_time_s(sheets: dict) -> float:
    """The skew reference a user passes to ``cli reformat -e``: the
    workbook's first timestamp, in epoch seconds."""
    import pandas as pd

    first = min(pd.to_datetime(df["Time"]).min() for df in sheets.values())
    return first.timestamp()


def run_pass(spark, workload: str, inp: str, out: str, layer=no_layer) -> dict:
    """Run every stage of ``workload`` once; outputs land under ``out``.
    Returns {stage: exception or None} plus the applied skew."""
    if workload == "one_subject_raw":
        return _one_subject(spark, inp, out, layer)
    return _cohort(spark, inp, out, layer)


def _guard(result: dict, stage: str, fn) -> None:
    """Run one stage; a stage that raises is a failed operation, and the
    pass goes on with the next stage."""
    try:
        fn()
        result[stage] = None
    except Exception as exc:  # noqa: BLE001 - counted, reported, not hidden
        result[stage] = exc


def _one_subject(spark, inp: str, out: str, layer) -> dict:
    from sensomics_data_pipeline_spark.functions.timeops import (
        adjust_clock_skew,
        epoch_ms_to_timestamp,
        with_date_time_columns,
    )
    from sensomics_data_pipeline_spark.operators.unpivot import melt_computed_wide
    from sensomics_data_pipeline_spark.plans import pipelines
    from sensomics_data_pipeline_spark.sources.readers import (
        computed_sheets_to_df,
        read_raw_json,
    )
    from sensomics_data_pipeline_spark.sources.writers import write_three_way_split

    result: dict = {}

    def reformat():
        with layer("stage.reformat"):
            sheets = read_sheets(inp)
            computed = melt_computed_wide(computed_sheets_to_df(spark, sheets))
            computed.write.mode("overwrite").parquet(f"{out}/computed")
            raw = read_raw_json(spark, f"{inp}/raw", recursive=True)
            adjusted, d_time = adjust_clock_skew(
                raw, "time", ref_time_s=workbook_ref_time_s(sheets)
            )
            timed = with_date_time_columns(
                adjusted.withColumn(
                    "date_time", epoch_ms_to_timestamp("adj_time")
                ).drop("time", "adj_time")
            )
            write_three_way_split(timed, f"{out}/split")
            result["d_time_ms"] = d_time

    def filter_():
        with layer("stage.filter"):
            meas = spark.read.parquet(f"{out}/split/measurements")
            pipelines.filter_measurements(meas).write.mode("overwrite").parquet(
                f"{out}/filtered"
            )

    def acc():
        with layer("stage.acc"):
            ac = spark.read.parquet(f"{out}/split/ac")
            pipelines.reformat_acc(ac).write.mode("overwrite").parquet(f"{out}/acc")

    def activity():
        with layer("stage.activity"):
            meas = spark.read.parquet(f"{out}/computed")
            acc_df = spark.read.parquet(f"{out}/acc")
            final, cat_acc, thresholds = pipelines.categorize_activity(meas, acc_df)
            final.write.mode("overwrite").parquet(f"{out}/activity/activity_categorized")
            cat_acc.write.mode("overwrite").parquet(f"{out}/activity/acc_category")
            thresholds.write.mode("overwrite").parquet(
                f"{out}/activity/sleep_acc_thresholds"
            )

    for stage, fn in zip(STAGES["one_subject_raw"], (reformat, filter_, acc, activity)):
        _guard(result, stage, fn)
    return result


def _cohort(spark, inp: str, out: str, layer) -> dict:
    from sensomics_data_pipeline_spark.plans import pipelines

    pc = ["subject"]
    result: dict = {}

    def filter_():
        with layer("stage.filter"):
            meas = spark.read.parquet(f"{inp}/extracts/measurements")
            pipelines.write_partitioned(
                pipelines.filter_measurements(meas, partition_cols=pc),
                f"{out}/filtered", pc,
            )

    def acc():
        with layer("stage.acc"):
            ac = spark.read.parquet(f"{inp}/extracts/ac")
            pipelines.write_partitioned(
                pipelines.reformat_acc(ac, partition_cols=pc), f"{out}/acc", pc
            )

    def activity():
        with layer("stage.activity"):
            meas = spark.read.parquet(f"{inp}/extracts/measurements")
            acc_df = spark.read.parquet(f"{out}/acc")
            final, cat_acc, thresholds = pipelines.categorize_activity(
                meas, acc_df, partition_cols=pc
            )
            for name, df in (
                ("activity_categorized", final),
                ("acc_category", cat_acc),
                ("sleep_acc_thresholds", thresholds),
            ):
                pipelines.write_partitioned(df, f"{out}/activity/{name}", pc)

    for stage, fn in zip(STAGES["cohort_extracts"], (filter_, acc, activity)):
        _guard(result, stage, fn)
    return result
