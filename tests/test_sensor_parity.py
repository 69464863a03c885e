"""Pandas-parity golden tests for the sensor-pipeline operators
(SURVEY.md §5.2): reference semantics (re-derived from the spec, not
copied) on synthetic FIXTURES.md-shaped data vs the Spark operators.

Pins: 15-min skew quantization, flatline run>20 cutoff, counter-reset
deltas (incl. the total<=prev quirk), interval merge/subtract boundary
handling, tumbling-window cutoffs, burst resampling timestamps.
"""

from __future__ import annotations

import json
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sensomics_data_pipeline_spark.operators import acc as acc_ops
from sensomics_data_pipeline_spark.operators import filters as filter_ops
from sensomics_data_pipeline_spark.operators import intervals as interval_ops
from sensomics_data_pipeline_spark.operators import windows as window_ops
from sensomics_data_pipeline_spark.plans import pipelines

TS0 = pd.Timestamp("2024-03-01 08:00:00")


def ts(minutes: float) -> pd.Timestamp:
    return TS0 + pd.Timedelta(minutes=minutes)


# ---------------------------------------------------------------------------
# Entry point 1: raw reformat (unpivot + time handling)
# ---------------------------------------------------------------------------

def _raw_rows():
    """FIXTURES.md F1-shaped records, epoch-ms times, JSON payloads."""
    base_ms = int(TS0.timestamp() * 1000)
    rows = [
        (base_ms + 0, "hr", "[72.0]"),
        (base_ms + 1000, "hr", "[73.5]"),
        (base_ms + 2000, "spo2", "[97.0]"),
        (base_ms + 3000, "bp", "[120.0, 80.0]"),
        (base_ms + 4000, "activity", "[100.0, 55.0, 30.0, 40.0, 10.0]"),
        (base_ms + 5000, "multi measure", "[70.0, 96.0, [118.0, 79.0], 36.5]"),
        (base_ms + 6000, "ppg", "[1.0, 2.0, 3.0]"),
        (base_ms + 7000, "acx", "[0.1, 0.2, 0.3, 0.4, 0.5]"),
    ]
    return rows


def test_reformat_raw_unpivot(spark):
    raw = spark.createDataFrame(
        [(t, k, d, "2024-03-01 08-00-00") for t, k, d in _raw_rows()],
        "time long, kind string, data string, jname string",
    )
    meas, ppg, ac, d_time = pipelines.reformat_raw(raw)
    assert d_time == 0
    got = {
        (r["kind"], round(r["data"], 3))
        for r in meas.select("kind", "data").collect()
    }
    assert got == {
        ("hr", 72.0), ("hr", 73.5), ("spo2", 97.0),
        ("bp_sys", 120.0), ("bp_dia", 80.0),
        ("step", 100.0), ("Calories", 55.0), ("sleep_light", 30.0),
        ("sleep_deep", 40.0), ("awake", 10.0),
        ("mm_hr", 70.0), ("mm_spo2", 96.0), ("mm_bp_sys", 118.0),
        ("mm_bp_dia", 79.0), ("mm_st", 36.5),
    }
    assert ppg.count() == 1 and ac.count() == 1
    row = meas.filter(F.col("kind") == "hr").orderBy("date_time").first()
    assert row["date"] is not None and row["time"].startswith("08:00:00")


def test_read_raw_json_reads_each_file_as_one_document(spark, tmp_path):
    """An upload is one JSON array however it is laid out, as the
    reference's per-file ``pd.read_json`` reads it: a pretty-printed file
    and a single-line file in one directory give back exactly their
    records."""
    from sensomics_data_pipeline_spark.sources.readers import read_raw_json

    recs = [
        {"time": t, "kind": k, "data": json.loads(d)} for t, k, d in _raw_rows()
    ]
    pretty, flat = recs[:5], recs[5:]
    (tmp_path / "upload 2024-03-01 08-00-00.json").write_text(
        json.dumps(pretty, indent=1)
    )
    (tmp_path / "upload 2024-03-01 09-00-00.json").write_text(json.dumps(flat))
    rows = read_raw_json(spark, str(tmp_path)).collect()
    assert len(rows) == len(recs)
    got = sorted(
        (r["time"], r["kind"], json.loads(r["data"]), r["jname"]) for r in rows
    )
    want = sorted(
        [(r["time"], r["kind"], r["data"], "2024-03-01 08-00-00") for r in pretty]
        + [(r["time"], r["kind"], r["data"], "2024-03-01 09-00-00") for r in flat]
    )
    assert got == want


def test_clock_skew_quantization(spark):
    """Skew = round(Δ/900000)*900000 — 15-minute steps
    (raw_data_reformat.py:47)."""
    base_ms = int(TS0.timestamp() * 1000)
    raw = spark.createDataFrame(
        [(base_ms, "hr", "[70.0]", "")],
        "time long, kind string, data string, jname string",
    )
    # excel ref 29 minutes ahead → nearest multiple of 15 min = 30 min
    ref_s = TS0.timestamp() + 29 * 60
    _, _, _, d_time = pipelines.reformat_raw(raw, ref_time_s=ref_s)
    assert d_time == 30 * 60 * 1000
    # 7 minutes ahead → nearest 15-min multiple = 0
    _, _, _, d_time0 = pipelines.reformat_raw(raw, ref_time_s=TS0.timestamp() + 7 * 60)
    assert d_time0 == 0


# ---------------------------------------------------------------------------
# Entry point 2: flatline + threshold filtering
# ---------------------------------------------------------------------------

def test_flatline_filter_pipeline(spark):
    """hr flatline (>20 identical in a row) rows excluded; range rules
    drop hr<50 etc.; other kinds pass (filtering_data.py:202-218)."""
    rows = []
    # 10 normal hr values
    for i in range(10):
        rows.append((ts(i), "hr", 70.0 + (i % 3)))
    # 25 identical hr values -> flatline, excluded entirely
    for i in range(10, 35):
        rows.append((ts(i), "hr", 80.0))
    # tail normal again, one below physiologic min
    rows.append((ts(35), "hr", 66.0))
    rows.append((ts(36), "hr", 45.0))       # < 50 → dropped by rules
    # other kinds INSIDE the normal hr stretch [0, 9] → pass the semijoin
    rows.append((ts(5.5), "spo2", 75.0))    # < 80 → dropped by rules
    rows.append((ts(6.5), "spo2", 95.0))
    rows.append((ts(7.5), "st", 36.6))
    # and one inside the flatline exclude window [10, 34] → dropped
    rows.append((ts(20.5), "spo2", 96.0))
    pdf = pd.DataFrame(rows, columns=["date_time", "kind", "data"])
    df = spark.createDataFrame(pdf)
    out = pipelines.filter_measurements(df).toPandas()

    hr_vals = sorted(out[out["kind"] == "hr"]["data"])
    assert 80.0 not in hr_vals            # flatline gone
    assert 45.0 not in hr_vals            # below min gone
    assert 66.0 in hr_vals and 70.0 in hr_vals
    assert sorted(out[out["kind"] == "spo2"]["data"]) == [95.0]
    assert sorted(out[out["kind"] == "st"]["data"]) == [36.6]


def test_flatline_runs_exact_boundaries(spark):
    """Run boundaries: start/end at first/last member; include flag on
    run length vs max_run (t_incl semantics)."""
    rows = [(ts(i), "hr", 70.0) for i in range(5)]
    rows += [(ts(i), "hr", 71.0) for i in range(5, 7)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["date_time", "kind", "data"]))
    runs = filter_ops.flatline_runs(df, [], max_run=4).orderBy("start_time").collect()
    assert len(runs) == 2
    assert runs[0]["run_len"] == 5 and runs[0]["include"] == 0
    assert runs[0]["start_time"] == ts(0) and runs[0]["end_time"] == ts(4)
    assert runs[1]["run_len"] == 2 and runs[1]["include"] == 1


# ---------------------------------------------------------------------------
# Interval algebra (W7 merge, J4 subtract)
# ---------------------------------------------------------------------------

def _merge_ref(intervals):
    """Fresh reference implementation: sort, coalesce overlap/touch."""
    out = []
    for s, e in sorted(intervals):
        if out and out[-1][1] >= s:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def _subtract_ref(base, subs):
    """Fresh reference implementation of the sweep semantics (SURVEY.md
    §2.4 J4): per base interval, walk merged overlapping subs left to
    right; emit [cursor, sub_start] whenever cursor <= sub_start, then
    advance the cursor to the sub's end; tail piece if uncovered."""
    subs = _merge_ref(subs)
    out = []
    for bs, be in sorted(base):
        cur = bs
        for ss, se in subs:
            if se < bs or ss > be:
                continue
            if cur <= ss:
                out.append((cur, min(ss, be)))
            cur = max(cur, min(se, be))
        if cur < be or (cur == bs and not any(
            ss <= bs <= se for ss, se in subs
        )):
            if (cur, be) not in out[-1:]:
                out.append((cur, be))
    return [(s, e) for s, e in out if s <= e]


@pytest.mark.parametrize(
    "base,subs",
    [
        ([(0, 100)], [(10, 20), (30, 40)]),
        ([(0, 100)], [(0, 10)]),                 # sub at base start
        ([(0, 100)], [(90, 100)]),               # sub at base end
        ([(0, 100)], [(100, 120)]),              # touching end
        ([(0, 100)], [(-10, 5), (95, 130)]),     # overhanging both sides
        ([(0, 50), (60, 90)], [(40, 70)]),       # spanning two bases
        ([(0, 100)], [(10, 20), (15, 30)]),      # overlapping subs
        ([(0, 10)], [(20, 30)]),                 # disjoint
        ([(0, 10)], [(0, 10)]),                  # full cover
    ],
)
def test_subtract_intervals_matches_reference(spark, base, subs):
    to_df = lambda iv: spark.createDataFrame(
        pd.DataFrame(
            [(ts(s), ts(e)) for s, e in iv], columns=["start_time", "end_time"]
        )
    )
    got = {
        (r["start_time"], r["end_time"])
        for r in interval_ops.subtract_intervals(to_df(base), to_df(subs), []).collect()
    }
    want = {(ts(s), ts(e)) for s, e in _subtract_ref(base, subs)}
    assert got == want, f"base={base} subs={subs}\ngot={sorted(got)}\nwant={sorted(want)}"


@pytest.mark.parametrize("keyed", [True, False], ids=["by_subject", "unpartitioned"])
def test_subtract_intervals_dense_matches_reference(spark, keyed):
    """Hundreds of sub intervals per base list: the one broadcast plan
    matches the sequential reference. Partitioned by subject it is a
    broadcast hash join on the key, one list per subject; without keys
    it is a broadcast nested-loop join with the sub side as build."""
    import random

    rng = random.Random(11)
    ivs = {}
    for subj in ("s1", "s2", "s3") if keyed else (None,):
        base = [(s, s + rng.randint(30, 300)) for s in rng.sample(range(3000), 8)]
        subs = [(s, s + rng.randint(0, 12)) for s in rng.sample(range(-50, 3300), 300)]
        ivs[subj] = (base, subs)
    pc = ["subject"] if keyed else []
    to_df = lambda side: spark.createDataFrame(
        pd.DataFrame(
            [
                (subj, ts(s), ts(e))[1 - len(pc) :]
                for subj, pair in ivs.items()
                for s, e in pair[side]
            ],
            columns=pc + ["start_time", "end_time"],
        )
    )
    out = interval_ops.subtract_intervals(to_df(0), to_df(1), pc)
    plan = out._jdf.queryExecution().executedPlan().toString()
    if keyed:
        assert "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" not in plan
    else:
        assert "BroadcastNestedLoopJoin" in plan and "BuildRight" in plan
    got = {}
    for r in out.collect():
        key = r["subject"] if keyed else None
        got.setdefault(key, set()).add((r["start_time"], r["end_time"]))
    for subj, (base, subs) in ivs.items():
        want = {(ts(s), ts(e)) for s, e in _subtract_ref(base, subs)}
        assert got.get(subj, set()) == want, subj


def test_merge_intervals_properties(spark):
    import random

    rng = random.Random(7)
    iv = [(rng.randint(0, 500), 0) for _ in range(40)]
    iv = [(s, s + rng.randint(0, 40)) for s, _ in iv]
    df = spark.createDataFrame(
        pd.DataFrame([(ts(s), ts(e)) for s, e in iv], columns=["start_time", "end_time"])
    )
    merged = [
        (r["start_time"], r["end_time"])
        for r in interval_ops.merge_intervals(df, []).orderBy("start_time").collect()
    ]
    want = [(ts(s), ts(e)) for s, e in _merge_ref(iv)]
    assert merged == want
    # non-overlapping, sorted
    for (s1, e1), (s2, e2) in zip(merged, merged[1:]):
        assert e1 < s2


# ---------------------------------------------------------------------------
# W2 counter-reset deltas (the total<=prev quirk)
# ---------------------------------------------------------------------------

def test_counter_reset_delta_semantics(spark):
    rows = [
        (ts(0), 30.0),     # first row → delta = total
        (ts(10), 50.0),    # grew → 20
        (ts(20), 45.0),    # shrank, no reset → keeps total (quirk) → 45
        (ts(20 + 13 * 60), 15.0),  # 13h gap → reset → 15
        (ts(20 + 13 * 60 + 10), 15.0),  # equal → quirk → 15
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["date_time", "data"])
    )
    out = (
        window_ops.counter_reset_delta(df, [], reset_gap_hours=12)
        .orderBy("date_time")
        .select("delta")
        .collect()
    )
    assert [r["delta"] for r in out] == [30.0, 20.0, 45.0, 15.0, 15.0]


# ---------------------------------------------------------------------------
# Entry point 3: accelerometer alignment + resampling
# ---------------------------------------------------------------------------

def _axis_rows(offsets, axis, n=30, values=None):
    rows = []
    for i in range(n):
        t = TS0 + pd.Timedelta(seconds=0.5 * i + offsets)
        rows.append((t, axis, float(values[i] if values else i)))
    return rows


def _triple_rows(offsets_ms, n=30, jitter_ms=0, axis_spread_ms=0, drop=(), seed=0):
    """Triple ``i`` at ``TS0 + 0.5 s·i`` (plus up to ±``jitter_ms``), its
    axes at ``offsets_ms`` from there (plus up to ±``axis_spread_ms``),
    every axis valued ``i``; ``drop`` holds (i, axis) records left out."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = 500 * i + rng.randint(-jitter_ms, jitter_ms)
        for axis, off in zip(("acx", "acy", "acz"), offsets_ms):
            if (i, axis) in drop:
                continue
            ms = base + off + rng.randint(-axis_spread_ms, axis_spread_ms)
            rows.append((TS0 + pd.Timedelta(milliseconds=ms), axis, float(i)))
    return rows


@pytest.mark.parametrize(
    "rows, triples",
    [
        # axes 50 ms apart, well inside a 0.5 s grid cell
        (_triple_rows((0, 50, 100)), set(range(30))),
        # axes at t-2 ms, t and t+2 ms with t on the 0.5 s grid: every
        # triple straddles a grid edge
        (_triple_rows((-2, 0, 2)), set(range(30))),
        # real-cadence jitter around the grid edges, one acy record lost:
        # only that triple drops
        (
            _triple_rows((-2, 0, 2), jitter_ms=20, axis_spread_ms=3,
                         drop={(17, "acy")}, seed=5),
            set(range(30)) - {17},
        ),
    ],
    ids=["inside_cell", "grid_edges", "jitter_one_drop"],
)
def test_align_axes_pairs_each_triple(spark, rows, triples):
    """Each output row's three values come from one generated triple,
    and every whole triple gives exactly one row, wherever it falls
    against the 0.5 s grid."""
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["date_time", "kind", "data"])
    )
    got = acc_ops.align_axes(df, [], ts_col="date_time").toPandas()
    assert (got["acx"] == got["acy"]).all() and (got["acx"] == got["acz"]).all()
    assert sorted(got["acx"]) == sorted(triples)
    # stamped with the triple's earliest record
    first = pd.DataFrame(rows, columns=["date_time", "kind", "data"])
    first = first.groupby("data")["date_time"].min()
    assert (got["date_time"].to_numpy() == first[got["acx"]].to_numpy()).all()


def test_align_axes_greedy_drops_unmatched(spark):
    """Drop one acy sample mid-stream: greedy alignment resyncs by
    advancing x one step (min-total-skip candidate). Reference-parity
    detail: because ``xyz_match`` never checks x–z
    (``acc_reformat.py:138-139``, replicated), z stays one sample behind
    from the resync point on — the positional zip then pairs
    (x[i], y[i-1-drop], z[i-1]). This test pins that exact behavior."""
    x = _axis_rows(0.0, "acx", n=30)
    y = _axis_rows(0.02, "acy", n=30)
    z = _axis_rows(0.04, "acz", n=30)
    del y[10]  # device dropped acy sample #10 (value 10)
    df = spark.createDataFrame(
        pd.DataFrame(x + y + z, columns=["date_time", "kind", "data"])
    )
    out = acc_ops.align_axes_greedy(df, [], ts_col="date_time").toPandas()
    assert len(out) >= 15
    pre = out[out["acx"] < 10]
    assert (pre["acx"] == pre["acy"]).all() and (pre["acx"] == pre["acz"]).all()
    resynced = out[out["acx"] >= 11]
    assert (resynced["acx"] == resynced["acy"]).all()
    assert (resynced["acx"] - 1 == resynced["acz"]).all()


def test_resample_10hz_burst_timestamps(spark):
    """smooth_timestamp parity: row k of a session fans to 5 samples at
    session_start − 0.4 + 0.5k + 0.1·pos (acc_reformat.py:218-228)."""
    rows = []
    for i in range(4):
        rows.append(
            (TS0 + pd.Timedelta(seconds=0.5 * i), [float(i)] * 5, 1.0, 2.0)
        )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["date_time", "acx", "acy", "acz"])
    )
    out = (
        acc_ops.resample_10hz(df, [], sample_cols=("acx",), burst=True)
        .orderBy("date_time")
        .toPandas()
    )
    assert len(out) == 20
    t0 = out["date_time"].iloc[0]
    assert t0 == TS0 - pd.Timedelta(seconds=0.4)
    deltas = out["date_time"].diff().dropna().dt.total_seconds().round(3).unique()
    assert set(deltas) == {0.1}
    # burst element pos selected per output row
    k1 = out[out["acx"] == 1.0]
    assert len(k1) == 5


def test_activity_pipeline_end_to_end(spark):
    """Entry-point-3 composition on a synthetic day: sleep with a step
    break + active morning → final intervals carry all categories and
    don't overlap within a category."""
    meas = []
    # cumulative sleep counter reports during the night 00:00-06:00
    night0 = pd.Timestamp("2024-03-01 00:00:00")
    for h in range(1, 7):
        meas.append((night0 + pd.Timedelta(hours=h), "sleep_total", 60.0 * h))
    # steps at 07:00 (wake activity)
    meas.append((pd.Timestamp("2024-03-01 07:00:00"), "step", 500.0))
    meas_df = spark.createDataFrame(
        pd.DataFrame(meas, columns=["date_time", "kind", "data"])
    )
    acc_rows = []
    import random

    rng = random.Random(3)
    for m in range(0, 10 * 60):
        t = night0 + pd.Timedelta(minutes=m)
        if m < 6 * 60:
            g = 1.0 + rng.gauss(0, 0.005)      # still
        elif m < 8 * 60:
            g = 1.0 + rng.gauss(0, 0.5)        # active morning
        else:
            g = 1.0 + rng.gauss(0, 0.003)      # rest
        acc_rows.append((t, g))
    acc_df = spark.createDataFrame(
        pd.DataFrame(acc_rows, columns=["date_time", "g_force"])
    )
    final, cat_acc, thresholds = pipelines.categorize_activity(meas_df, acc_df, [])
    fin = final.toPandas()
    cats = set(fin["category"])
    assert "sleep" in cats and "rest" in cats
    assert cats <= {"sleep", "rest", "low active", "high active"}
    th = thresholds.first()
    assert th["lower_threshold"] < 1.0 < th["upper_threshold"]
    # intervals are well-formed
    assert (fin["start_time"] <= fin["end_time"]).all()


_GOLDEN_DAY = pd.Timestamp("2024-03-02 00:00:00")


def _golden_minute(m: int) -> pd.Timestamp:
    return _GOLDEN_DAY + pd.Timedelta(minutes=m)


#: the golden scenario's final (category, start, end) rows
_GOLDEN_FINAL = {
    ("high active", _golden_minute(180), _golden_minute(240)),
    ("sleep", _golden_minute(0), _golden_minute(140)),
    ("sleep", _golden_minute(150), _golden_minute(180)),
    ("rest", _golden_minute(0), _golden_minute(0)),  # zero-width piece, reference parity
    ("rest", _golden_minute(140), _golden_minute(150)),
    ("rest", _golden_minute(240), _golden_minute(300)),
}


def _golden_activity_frames(spark, subjects=()):
    """(measurements, acc) of the golden scenario, repeated for each of
    ``subjects`` under a ``subject`` column; once, without that column,
    when ``subjects`` is empty."""
    keys = [(subj,) for subj in subjects] or [()]
    meas, acc = [], []
    for key in keys:
        for h, total in ((1, 60.0), (2, 120.0), (3, 180.0)):
            meas.append(key + (_golden_minute(60 * h), "sleep_total", total))
        meas.append(key + (_golden_minute(150), "step", 240.0))
        for m in range(300):
            if m < 180:
                g = [0.99, 1.0, 1.01][m % 3]
            elif m < 240:
                g = 2.0
            else:
                g = 1.0
            acc.append(key + (_golden_minute(m), g))
    pc = ["subject"] if subjects else []
    return (
        spark.createDataFrame(
            pd.DataFrame(meas, columns=pc + ["date_time", "kind", "data"])
        ),
        spark.createDataFrame(pd.DataFrame(acc, columns=pc + ["date_time", "g_force"])),
    )


def test_activity_pipeline_golden(spark):
    """Hand-computed golden run of entry point 4: every interval
    boundary, threshold, and category verified exactly — including the
    reference's zero-width piece emission in interval subtraction.

    Scenario: cumulative sleep counter 60/120/180 min at 01:00/02:00/
    03:00 (sleep [00:00,03:00]); one step report at 02:30 (step window
    [02:20,02:30]); accel: 0.99/1.00/1.01 cycling per minute during
    sleep, 2.0 for [03:00,04:00), 1.0 for [04:00,05:00).

    Expected: thresholds (0.99, 1.01); categorized acc rest/high/rest;
    sleep = [00:00,02:20]+[02:30,03:00]; wake rest = zero-width
    [00:00,00:00] + [02:20,02:30] + [04:00,05:00].
    """
    meas_df, acc_df = _golden_activity_frames(spark)
    final, cat_acc, thresholds = pipelines.categorize_activity(meas_df, acc_df, [])

    th = thresholds.first()
    assert abs(th["lower_threshold"] - 0.99) < 1e-9
    assert abs(th["upper_threshold"] - 1.01) < 1e-9

    cats = {
        (r["start_time"], r["end_time"], r["category"])
        for r in cat_acc.collect()
    }
    t = _golden_minute
    assert cats == {
        (t(0), t(180), "rest"),
        (t(180), t(240), "high active"),
        (t(240), t(300), "rest"),
    }

    got = {
        (r["category"], r["start_time"], r["end_time"])
        for r in final.collect()
    }
    assert got == _GOLDEN_FINAL


@pytest.mark.parametrize("subjects", [(), ("s1", "s2")], ids=["unpartitioned", "by_subject"])
def test_activity_pipeline_runs_no_stats_job(spark, tmp_path, monkeypatch, subjects):
    """Unpartitioned and partitioned by subject, the activity stage
    builds and writes without the interval-side stats job: its three
    subtracts have one plan, so nothing is decided from statistics.
    Each subject gets the golden rows."""

    def no_stats(*_args, **_kwargs):
        raise AssertionError("categorize_activity ran an interval stats job")

    monkeypatch.setattr(interval_ops, "_interval_side_stats", no_stats)
    meas_df, acc_df = _golden_activity_frames(spark, subjects)
    pc = ["subject"] if subjects else []
    outs = pipelines.categorize_activity(meas_df, acc_df, partition_cols=pc)
    for name, df in zip(("final", "categorized", "thresholds"), outs):
        df.write.mode("overwrite").parquet(str(tmp_path / name))
    got = {}
    for r in spark.read.parquet(str(tmp_path / "final")).collect():
        got.setdefault(r["subject"] if subjects else None, set()).add(
            (r["category"], r["start_time"], r["end_time"])
        )
    assert got == {subj: _GOLDEN_FINAL for subj in subjects or (None,)}


def _greedy_ref(tx, vx, ty, vy, tz, vz, tol_us, n):
    """Independent plain-Python walk of the greedy alignment spec
    (SURVEY.md §2.4 J1, incl. the replicated x-z bug): used to parity-
    check the applyInPandas operator's Spark plumbing (grouping, sort,
    Arrow types) on inputs far larger than the golden fixtures."""

    def match3(a, b, c):
        return max(abs(a - b), abs(b - c), abs(b - c)) <= tol_us

    ix = iy = iz = 0
    rows = []
    while ix < len(tx) - n and iy < len(ty) - n and iz < len(tz) - n:
        if not match3(tx[ix], ty[iy], tz[iz]):
            rest = max(len(tx) - ix, len(ty) - iy, len(tz) - iz)
            cand = []
            m = n
            while not cand:
                cand = [
                    (i + j + k, i, j, k)
                    for i in range(min(m, len(tx) - ix))
                    for j in range(min(m, len(ty) - iy))
                    for k in range(min(m, len(tz) - iz))
                    if match3(tx[ix + i], ty[iy + j], tz[iz + k])
                ]
                if m >= rest:
                    break
                m += 2
            if not cand:
                break
            _, di, dj, dk = min(cand)
            ix, iy, iz = ix + di, iy + dj, iz + dk
        rows.append((tx[ix], vx[ix], vy[iy], vz[iz]))
        ix, iy, iz = ix + 1, iy + 1, iz + 1
    return rows


def test_greedy_walk_ends_when_no_triple_matches(spark):
    """acz jumps a minute ahead after its tenth record: from there on no
    triple matches, so both greedy walks (the operator and
    ``_greedy_ref``) must end once their search window covers every
    remaining row, with the ten matched triples, instead of widening the
    window forever. Each walk gets a deadline."""
    import signal
    import threading

    base_us = int(TS0.value // 1000)
    t = [base_us + 500_000 * i for i in range(40)]
    tz = t[:10] + [base_us + 60_000_000 + 500_000 * i for i in range(30)]
    v = [float(i) for i in range(40)]
    rows = [
        (pd.Timestamp(us, unit="us"), axis, val)
        for axis, ts_ in (("acx", t), ("acy", t), ("acz", tz))
        for us, val in zip(ts_, v)
    ]

    def _timeout(*_):
        raise TimeoutError("greedy reference walk did not end")

    old = signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(10)
    try:
        want = _greedy_ref(t, v, t, v, tz, v, 500_000, 6)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)

    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["date_time", "kind", "data"])
    )
    sc = spark.sparkContext
    timer = threading.Timer(120, sc.cancelAllJobs)
    timer.start()
    try:
        got = acc_ops.align_axes_greedy(df, [], ts_col="date_time").toPandas()
    finally:
        timer.cancel()
    assert [(r[1], r[2], r[3]) for r in want] == [(v[i],) * 3 for i in range(10)]
    assert list(zip(got["acx"], got["acy"], got["acz"])) == [
        (r[1], r[2], r[3]) for r in want
    ]


def test_align_greedy_large_randomized_parity(spark):
    """Large randomized stream (2 groups x ~3000 triples, jitter, 2%
    random drops per axis): the distributed ``align_axes_greedy`` must
    reproduce the reference walk exactly, per group, with no state
    crossing groups."""
    import random

    rng = random.Random(17)
    base_us = int(pd.Timestamp("2024-03-01").value // 1000)
    rows = []
    per_group = {}
    for subj in ("s1", "s2"):
        streams = {}
        for axis in ("acx", "acy", "acz"):
            t, v = [], []
            for i in range(3000):
                if rng.random() < 0.02:  # dropped sample
                    continue
                jitter = rng.randint(-50_000, 50_000)
                t.append(base_us + 500_000 * i + jitter)
                v.append(float(i))
            streams[axis] = (t, v)
            rows += [
                (subj, pd.Timestamp(us, unit="us"), axis, val)
                for us, val in zip(t, v)
            ]
        per_group[subj] = streams
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["subject", "date_time", "kind", "data"])
    )
    got = (
        acc_ops.align_axes_greedy(df, ["subject"], ts_col="date_time")
        .toPandas()
        .sort_values(["subject", "date_time"])
        .reset_index(drop=True)
    )
    for subj, streams in per_group.items():
        tx, vx = streams["acx"]
        ty, vy = streams["acy"]
        tz, vz = streams["acz"]
        want = _greedy_ref(tx, vx, ty, vy, tz, vz, 500_000, 6)
        sub = got[got.subject == subj].reset_index(drop=True)
        assert len(sub) == len(want), (subj, len(sub), len(want))
        assert (
            sub.date_time.to_numpy("datetime64[us]").astype("int64")
            == [w[0] for w in want]
        ).all()
        for col, pos in (("acx", 1), ("acy", 2), ("acz", 3)):
            assert (sub[col].to_numpy() == [w[pos] for w in want]).all(), (
                subj,
                col,
            )


def test_align_plans_agree_on_clean_data(spark):
    """On drop-free, well-separated streams whose triples straddle the
    0.5 s grid edges (axes at t-2 ms, t and t+2 ms), ``align_axes`` must
    produce the triples of the greedy reference walk, with the same
    times."""
    df = spark.createDataFrame(
        pd.DataFrame(_triple_rows((-2, 0, 2), n=40),
                     columns=["date_time", "kind", "data"])
    )
    a = (
        acc_ops.align_axes(df, [], ts_col="date_time")
        .select("date_time", "acx", "acy", "acz")
        .toPandas()
        .sort_values("date_time")
        .reset_index(drop=True)
    )
    b = (
        acc_ops.align_axes_greedy(df, [], ts_col="date_time")
        .select("date_time", "acx", "acy", "acz")
        .toPandas()
        .sort_values("date_time")
        .reset_index(drop=True)
    )
    # the greedy loop guard discards the trailing match-range rows
    # (acc_reformat.py:204-210 semantics) — compare the common prefix
    assert len(b) >= len(a) - 7
    common = min(len(a), len(b))
    pd.testing.assert_frame_equal(a.iloc[:common], b.iloc[:common])
