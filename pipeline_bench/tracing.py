"""Traced run: spans and job groups around each call into the program's
layers, with the Spark work of each group read back from the status store.

A ``Tracer.layer(name)`` span sets the Spark job group ``name`` for the
calls inside it, so every job those calls start carries the layer's name.
``group_stats`` then sums, over the group's jobs, the stages that ran:
executor time, task count, shuffle bytes, spill and input bytes.

``probe_layers`` calls each layer function on materialised inputs and
forces its output with a ``noop`` write under the function's own group.
"""

from __future__ import annotations

import contextlib
import glob
import os
import time

PIPELINE_FUNCS = ("reformat_raw", "filter_measurements", "reformat_acc",
                  "categorize_activity")
PIPELINE_COUNTERS = ("construction_s", "action_s", "jobs", "stages", "tasks",
                     "executor_s", "shuffle_read_bytes", "shuffle_write_bytes",
                     "spill_bytes", "single_task_stage_s")

#: Every per-layer metric the traced run reports, with its unit.
PER_LAYER = {
    "session.get_spark.wall_s": "s",
    "readers.read_raw_json.wall_s": "s",
    "readers.read_raw_json.jobs": "count",
    "readers.read_raw_json.executor_s": "s",
    "readers.read_raw_json.input_bytes": "bytes",
    "readers.computed_sheets_to_df.wall_s": "s",
    "timeops.adjust_clock_skew.wall_s": "s",
    "timeops.adjust_clock_skew.jobs": "count",
    "unpivot.normalize_measurements.executor_s": "s",
    "unpivot.normalize_measurements.rows_out": "count",
    "unpivot.melt_computed_wide.executor_s": "s",
    "writers.write_three_way_split.wall_s": "s",
    "writers.write_three_way_split.output_bytes": "bytes",
    "writers.write_three_way_split.files": "count",
    "pipelines.write_partitioned.wall_s": "s",
    "pipelines.write_partitioned.output_bytes": "bytes",
    "pipelines.write_partitioned.files": "count",
    "acc.align_axes.executor_s": "s",
    "acc.align_axes.shuffle_write_bytes": "bytes",
    "acc.align_axes.aligned_per_triple": "ratio",
    "acc.resample_10hz.executor_s": "s",
    "acc.resample_10hz.single_task_stage_s": "s",
    "acc.enrich_acc.executor_s": "s",
    "filters.flatline_runs.executor_s": "s",
    "filters.flatline_runs.single_task_stage_s": "s",
    "filters.include_intervals.executor_s": "s",
    "filters.apply_threshold_rules.executor_s": "s",
    "intervals.interval_semijoin.executor_s": "s",
    "intervals.interval_semijoin.shuffle_read_bytes": "bytes",
    "intervals.subtract_intervals.construction_s": "s",
    "intervals.subtract_intervals.jobs": "count",
    "intervals.subtract_intervals.broadcast_joins": "count",
    "intervals.merge_intervals.executor_s": "s",
    "windows.dedup_consecutive.executor_s": "s",
    "windows.counter_reset_delta.executor_s": "s",
    "activity.sleep_acc_thresholds.executor_s": "s",
    "activity.categorize_windows.executor_s": "s",
    "activity.categorize_windows.shuffle_read_bytes": "bytes",
    **{
        f"pipelines.{fn}.{c}": (
            "s" if c.endswith("_s") else "bytes" if c.endswith("_bytes") else "count"
        )
        for fn in PIPELINE_FUNCS
        for c in PIPELINE_COUNTERS
    },
    "trace.first_pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s",
    "trace.unattributed_jobs": "count",
    "jvm.gc.collections": "count",
    "jvm.gc.time_s": "s",
}


class Tracer:
    """Spans (name, start, end, parent) kept in memory, one Spark job group
    per span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def layer(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(name, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": start - self._t0,
                               "end": end - self._t0, "parent": parent})
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def group_stats(self, group: str) -> dict:
        """Sum the stages that ran for the jobs of ``group``."""
        tracker = self.sc.statusTracker()
        jids = tracker.getJobIdsForGroup(group)
        deadline = time.monotonic() + 10
        # the status store is fed by the listener bus: wait until it has
        # seen every job of the group end
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for j in jids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.01)
        stage_ids = sorted({s for i in infos if i is not None for s in i.stageIds})
        out = dict(jobs=len(jids), stages=0, tasks=0, executor_s=0.0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                   single_task_stage_s=0.0, input_bytes=0)
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j NoSuchElement: never ran
                continue
            if str(st.status().toString()) != "COMPLETE":
                continue
            run_s = st.executorRunTime() / 1000.0
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_s"] += run_s
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            if st.numTasks() == 1:
                out["single_task_stage_s"] += run_s
        return out

    def unattributed_jobs(self, first_job: int) -> int:
        """Jobs from ``first_job`` on that ran outside every job group."""
        jobs = self.store.jobsList(None)
        n = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() >= first_job and j.jobGroup().isEmpty():
                n += 1
        return n

    def next_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return 1 + max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _dir_stats(path: str) -> tuple[int, int]:
    files = [p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))]
    return sum(os.path.getsize(p) for p in files), len(files)


def _broadcast_joins(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")


def probe_layers(spark, tr: Tracer, workload: str, inp: str, out: str,
                 truth: dict) -> dict:
    """Call each layer on materialised inputs; return per-layer metrics
    (0 for a layer the workload does not use).

    Each stage-level ``pipelines`` call runs before the operator probes of
    its stage: their persisted outputs would otherwise be substituted into
    the stage's plan by the cache manager."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sensomics_data_pipeline_spark.functions import timeops
    from sensomics_data_pipeline_spark.operators import acc as acc_ops
    from sensomics_data_pipeline_spark.operators import activity as activity_ops
    from sensomics_data_pipeline_spark.operators import filters as filter_ops
    from sensomics_data_pipeline_spark.operators import intervals as interval_ops
    from sensomics_data_pipeline_spark.operators import unpivot as unpivot_ops
    from sensomics_data_pipeline_spark.operators import windows as window_ops
    from sensomics_data_pipeline_spark.plans import pipelines
    from sensomics_data_pipeline_spark.sources import readers, writers

    from stages import read_sheets, workbook_ref_time_s

    m = {k: 0 for k in PER_LAYER}
    probe = os.path.join(out, "probe")
    cached = []

    def force(group: str, build, count: bool = False):
        with tr.layer(group):
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            df = df.persist()
            cached.append(df)
            df.write.format("noop").mode("overwrite").save()
            n = df.count() if count else None
            t2 = time.perf_counter()
        st = tr.group_stats(group)
        st.update(construction_s=t1 - t0, wall_s=t2 - t0, rows=n)
        return df, st

    def stage(fn: str, call):
        with tr.layer(f"pipelines.{fn}"):
            t0 = time.perf_counter()
            outs = call()
            t1 = time.perf_counter()
            for df in outs:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        st = tr.group_stats(f"pipelines.{fn}")
        st.update(construction_s=t1 - t0, action_s=t2 - t1)
        for c in PIPELINE_COUNTERS:
            m[f"pipelines.{fn}.{c}"] = st[c]

    pc = [] if workload == "one_subject_raw" else ["subject"]

    if workload == "one_subject_raw":
        sheets = read_sheets(inp)
        ref = workbook_ref_time_s(sheets)
        with tr.layer("readers.computed_sheets_to_df"):
            sheet_df = readers.computed_sheets_to_df(spark, sheets)
        m["readers.computed_sheets_to_df.wall_s"] = tr.wall("readers.computed_sheets_to_df")
        _, st = force("unpivot.melt_computed_wide",
                      lambda: unpivot_ops.melt_computed_wide(sheet_df))
        m["unpivot.melt_computed_wide.executor_s"] = st["executor_s"]
        raw, st = force("readers.read_raw_json",
                        lambda: readers.read_raw_json(spark, f"{inp}/raw", recursive=True))
        m.update({f"readers.read_raw_json.{k}": st[k]
                  for k in ("wall_s", "jobs", "executor_s", "input_bytes")})
        stage("reformat_raw", lambda: pipelines.reformat_raw(raw, ref_time_s=ref)[:3])
        with tr.layer("timeops.adjust_clock_skew"):
            adjusted, _ = timeops.adjust_clock_skew(raw, "time", ref_time_s=ref)
        m["timeops.adjust_clock_skew.wall_s"] = tr.wall("timeops.adjust_clock_skew")
        m["timeops.adjust_clock_skew.jobs"] = tr.group_stats("timeops.adjust_clock_skew")["jobs"]
        timed, _ = force("timeops.with_date_time_columns", lambda: timeops.with_date_time_columns(
            adjusted.withColumn("date_time", timeops.epoch_ms_to_timestamp("adj_time"))
            .drop("time", "adj_time")))
        _, st = force("unpivot.normalize_measurements",
                      lambda: unpivot_ops.normalize_measurements(timed), count=True)
        m["unpivot.normalize_measurements.executor_s"] = st["executor_s"]
        m["unpivot.normalize_measurements.rows_out"] = st["rows"]
        with tr.layer("writers.write_three_way_split"):
            writers.write_three_way_split(timed, f"{probe}/split")
        m["writers.write_three_way_split.wall_s"] = tr.wall("writers.write_three_way_split")
        (m["writers.write_three_way_split.output_bytes"],
         m["writers.write_three_way_split.files"]) = _dir_stats(f"{probe}/split")
        meas_path, ac_path, act_path = (f"{out}/split/measurements", f"{out}/split/ac",
                                        f"{out}/computed")
    else:
        meas_path = f"{inp}/extracts/measurements"
        ac_path = f"{inp}/extracts/ac"
        act_path = meas_path

    # filter layers
    meas, _ = force("inputs.measurements", lambda: spark.read.parquet(meas_path))
    stage("filter_measurements", lambda: [pipelines.filter_measurements(meas, partition_cols=pc)])
    hr = meas.filter(F.col("kind") == "hr")
    runs, st = force("filters.flatline_runs",
                     lambda: filter_ops.flatline_runs(hr, pc, max_run=20))
    m["filters.flatline_runs.executor_s"] = st["executor_s"]
    m["filters.flatline_runs.single_task_stage_s"] = st["single_task_stage_s"]
    keep, st = force("filters.include_intervals", lambda: filter_ops.include_intervals(runs, pc)
                     .filter(F.col("include") == 1).select(*pc, "start_time", "end_time"))
    m["filters.include_intervals.executor_s"] = st["executor_s"]
    kept, st = force("intervals.interval_semijoin",
                     lambda: interval_ops.interval_semijoin(meas, keep, pc, ts_col="date_time"))
    m["intervals.interval_semijoin.executor_s"] = st["executor_s"]
    m["intervals.interval_semijoin.shuffle_read_bytes"] = st["shuffle_read_bytes"]
    ruled, st = force("filters.apply_threshold_rules",
                      lambda: filter_ops.apply_threshold_rules(kept))
    m["filters.apply_threshold_rules.executor_s"] = st["executor_s"]
    if pc:
        with tr.layer("pipelines.write_partitioned"):
            pipelines.write_partitioned(ruled, f"{probe}/partitioned", pc)
        m["pipelines.write_partitioned.wall_s"] = tr.wall("pipelines.write_partitioned")
        (m["pipelines.write_partitioned.output_bytes"],
         m["pipelines.write_partitioned.files"]) = _dir_stats(f"{probe}/partitioned")

    # accelerometer layers
    ac_in, _ = force("inputs.ac", lambda: spark.read.parquet(ac_path))
    stage("reformat_acc", lambda: [pipelines.reformat_acc(ac_in, partition_cols=pc)])
    if isinstance(ac_in.schema["data"].dataType, T.StringType):
        ac_arr, _ = force("inputs.ac_bursts", lambda: ac_in.withColumn(
            "data", F.from_json("data", T.ArrayType(T.DoubleType()))))
    else:
        ac_arr = ac_in
    aligned, st = force("acc.align_axes",
                        lambda: acc_ops.align_axes(ac_arr, pc, ts_col="date_time"), count=True)
    m["acc.align_axes.executor_s"] = st["executor_s"]
    m["acc.align_axes.shuffle_write_bytes"] = st["shuffle_write_bytes"]
    m["acc.align_axes.aligned_per_triple"] = st["rows"] / truth["acc_triples"]
    resampled, st = force("acc.resample_10hz", lambda: acc_ops.resample_10hz(
        aligned, pc, ts_col="date_time", burst=True).drop("session_id"))
    m["acc.resample_10hz.executor_s"] = st["executor_s"]
    m["acc.resample_10hz.single_task_stage_s"] = st["single_task_stage_s"]
    _, st = force("acc.enrich_acc", lambda: acc_ops.enrich_acc(resampled))
    m["acc.enrich_acc.executor_s"] = st["executor_s"]

    # activity layers
    act, _ = force("inputs.activity_measurements", lambda: spark.read.parquet(act_path))
    acc_df, _ = force("inputs.acc", lambda: spark.read.parquet(f"{out}/acc"))
    stage("categorize_activity",
          lambda: pipelines.categorize_activity(act, acc_df, partition_cols=pc))
    sleep_rows = act.filter((F.col("kind") == "sleep_total") & F.col("data").isNotNull())
    dedup, st = force("windows.dedup_consecutive",
                      lambda: window_ops.dedup_consecutive(sleep_rows, pc))
    m["windows.dedup_consecutive.executor_s"] = st["executor_s"]
    delta, st = force("windows.counter_reset_delta", lambda: window_ops.counter_reset_delta(
        dedup, pc, out_col="sleep_minutes"))
    m["windows.counter_reset_delta.executor_s"] = st["executor_s"]
    sleep_iv = delta.select(
        *pc,
        (F.col("date_time") - F.col("sleep_minutes").cast("long")
         * F.expr("INTERVAL 1 MINUTE")).alias("start_time"),
        F.col("date_time").alias("end_time"))
    merged, st = force("intervals.merge_intervals",
                       lambda: interval_ops.merge_intervals(sleep_iv, pc))
    m["intervals.merge_intervals.executor_s"] = st["executor_s"]
    steps, _ = force("inputs.step_windows", lambda: window_ops.dedup_consecutive(
        act.filter((F.col("kind") == "step") & F.col("data").isNotNull()), pc)
        .filter(F.col("data") > 0).select(
            *pc, (F.col("date_time") - F.expr("INTERVAL 10 MINUTES")).alias("start_time"),
            F.col("date_time").alias("end_time")))
    subtracted, st = force("intervals.subtract_intervals", lambda: interval_ops.subtract_intervals(
        merged, steps, pc, plan="auto"))
    m["intervals.subtract_intervals.construction_s"] = st["construction_s"]
    m["intervals.subtract_intervals.jobs"] = st["jobs"]
    with tr.layer("intervals.subtract_intervals"):
        m["intervals.subtract_intervals.broadcast_joins"] = _broadcast_joins(
            interval_ops.subtract_intervals(merged, steps, pc, plan="auto"))
    thresholds, st = force("activity.sleep_acc_thresholds", lambda: activity_ops.sleep_acc_thresholds(
        acc_df, subtracted, pc, ts_col="date_time"))
    m["activity.sleep_acc_thresholds.executor_s"] = st["executor_s"]
    _, st = force("activity.categorize_windows", lambda: activity_ops.categorize_windows(
        acc_df, thresholds, pc, ts_col="date_time"))
    m["activity.categorize_windows.executor_s"] = st["executor_s"]
    m["activity.categorize_windows.shuffle_read_bytes"] = st["shuffle_read_bytes"]

    for df in cached:
        df.unpersist()
    return m
