"""Seeded smartwatch input generator for the sensor-pipeline benchmark.

Pure numpy/json/pyarrow: it never imports Spark, so it can run in its own
process before any timing starts. The same (workload, seed) always gives
byte-identical inputs and the same ground truth.

Layout written under ``out``:

one_subject_raw
    raw/<device date>/upload <device YYYY-MM-DD HH-MM-SS>.json  hourly F1 uploads
    computed/<sheet>.csv       vendor workbook sheets (F2), all-string cells
    truth.json, acc_truth.npz  ground truth the checks compare against

cohort_extracts
    extracts/measurements/*.parquet   stage-2 measurement extract (F3)
    extracts/ac/*.parquet             stage-2 accelerometer extract (F4)
    truth.json, acc_truth.npz

Run directly to regenerate one input set:
    python3 pipeline_bench/gen.py --workload one_subject_raw --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
from datetime import datetime, timezone

import numpy as np

WORKLOADS = ("one_subject_raw", "cohort_extracts")

S = 1000
MIN = 60 * S
H = 60 * MIN

#: Skew applied to the device clock is a multiple of this (the 15-minute
#: quantum ``adjust_clock_skew`` recovers).
SKEW_QUANTUM_MS = 900_000

# --- one_subject_raw -------------------------------------------------------
#: Two calendar dates, one night, one late-morning nap.
ONE_START = datetime(2024, 3, 4, 18, 0, 0)
ONE_HOURS = 18
#: Accelerometer bout: 10 s of triples every 2 minutes of continuous wear.
ONE_ACC_BOUT_S = 10
ONE_ACC_EVERY_S = 120

# --- cohort_extracts -------------------------------------------------------
COHORT_SUBJECTS = 6
COHORT_DAY = datetime(2024, 3, 5, 0, 0, 0)
#: Duty-cycled accelerometer: a 10 s bout of triples every 5 minutes.
COHORT_ACC_BOUT_S = 10
COHORT_ACC_EVERY_S = 300

#: Triple cadence and the jitter real uploads carry.
ACC_CADENCE_MS = 500
ACC_TRIPLE_JITTER_MS = 20
ACC_AXIS_SPREAD_MS = 3
ACC_AXIS_DROP_P = 0.004
#: Seed-independent bout of triples placed exactly on 0.5 s bucket edges:
#: axes at t-2 ms, t, t+2 ms. ``align_axes`` splits every such triple.
EDGE_TRIPLES = 40
EDGE_OFFSET_MS = (-2, 0, 2)

#: hr cadence and stuck-sensor runs (the flatline filter's target).
HR_EVERY_MS = 30 * S
STUCK_RUNS_PER_HOUR = 0.5
STUCK_LEN = (21, 45)
SHORT_RUNS_PER_HOUR = 0.5
SHORT_LEN = (3, 20)
MAX_RUN = 20
VIOLATION_P = 0.02

NOISE = {"sleep": 0.01, "rest": 0.03, "light": 0.2, "active": 0.6}


def _ms(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


def _fmt(ms: int, pattern: str) -> str:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime(pattern)


# ---------------------------------------------------------------------------
# subject model: sleep, steps, activity level per minute
# ---------------------------------------------------------------------------

def _subject_day(rng, start_ms: int, minutes: int, nights: list[tuple[int, int]]):
    """Per-minute state of one subject.

    Returns (level[minutes] as str array, sleep windows [(s_ms, e_ms)],
    pedometer[minutes] cumulative per calendar day, sleep_total[minutes]
    minutes-asleep counter or -1 when not reported)."""
    asleep = np.zeros(minutes, bool)
    windows = []
    for s_min, e_min in nights:
        s_min, e_min = max(0, s_min), min(minutes, e_min)
        if e_min > s_min:
            asleep[s_min:e_min] = True
            windows.append((start_ms + s_min * MIN, start_ms + e_min * MIN))
    level = np.where(asleep, "sleep", "rest").astype("<U6")
    m = 0
    while m < minutes:
        length = int(rng.integers(5, 30))
        if not asleep[m]:
            choice = rng.choice(["rest", "light", "active"], p=[0.55, 0.3, 0.15])
            seg = slice(m, min(minutes, m + length))
            level[seg] = np.where(asleep[seg], "sleep", choice)
        m += length
    # pedometer: steps accrue while awake and moving, plus one night-time
    # walk inside each sleep window; resets at midnight
    inc = np.where(level == "active", rng.integers(60, 120, minutes),
                   np.where(level == "light", rng.integers(5, 40, minutes), 0))
    inc = np.where((level == "rest") & (rng.random(minutes) < 0.1), 3, inc)
    for s_ms, e_ms in windows:
        length = (e_ms - s_ms) // MIN
        if length >= 180:
            inc[(s_ms - start_ms) // MIN + int(rng.integers(60, length - 60))] = 25
    ped = np.zeros(minutes, np.int64)
    total = 0
    for i in range(minutes):
        if (start_ms + i * MIN) % (24 * H) == 0:
            total = 0
        total += int(inc[i])
        ped[i] = total
    # sleep counter: reported at the end of each minute asleep, +1 per
    # minute, so a report of m minutes at t covers [t - m, t]; a gap of
    # more than 12 h between nights resets it
    sleep_total = np.full(minutes, -1, np.int64)
    count, last = 0, None
    for i in np.flatnonzero(asleep[:-1]) + 1:
        if last is not None and i - last > 12 * 60:
            count = 0
        count += 1
        sleep_total[i] = count
        last = i
    return level, windows, ped, sleep_total


def _hr_series(rng, start_ms: int, n: int, level_at):
    """hr every 30 s with jitter, stuck runs (> MAX_RUN) and short equal
    runs (<= MAX_RUN), and range violations."""
    t = start_ms + np.arange(n) * HR_EVERY_MS + rng.integers(0, 2000, n)
    lv = level_at(t)
    base = np.where(lv == "sleep", 58.0, np.where(lv == "active", 105.0, 74.0))
    vals = np.round(base + rng.normal(0, 6, n), 1)
    viol = rng.random(n) < VIOLATION_P
    vals[viol] = np.round(rng.uniform(35, 49.9, viol.sum()), 1)
    stuck = []
    hours = n * HR_EVERY_MS / H
    taken = np.zeros(n, bool)
    for lo, hi, rate, record in ((*STUCK_LEN, STUCK_RUNS_PER_HOUR, True),
                                 (*SHORT_LEN, SHORT_RUNS_PER_HOUR, False)):
        for _ in range(max(1, int(round(hours * rate)))):
            length = int(rng.integers(lo, hi + 1))
            i0 = int(rng.integers(1, n - length - 1))
            if taken[i0 - 1:i0 + length + 1].any():
                continue  # runs never touch, so each keeps its length
            taken[i0:i0 + length] = True
            vals[i0:i0 + length] = vals[i0]
            if record:
                stuck.append((int(t[i0]), int(t[i0 + length - 1])))
    return t, vals, stuck


# ---------------------------------------------------------------------------
# accelerometer triples
# ---------------------------------------------------------------------------

class _Acc:
    """Accumulates axis records and the triple each burst belongs to."""

    def __init__(self):
        self.t = {a: [] for a in ("acx", "acy", "acz")}
        self.v = {a: [] for a in ("acx", "acy", "acz")}
        self.tid = {a: [] for a in ("acx", "acy", "acz")}
        self.subject = {a: [] for a in ("acx", "acy", "acz")}
        self.n_triples = 0

    def add(self, subject: int, base_ms: np.ndarray, offs: np.ndarray,
            vals: np.ndarray, keep: np.ndarray):
        """base_ms[k] triple time; offs[k, axis]; vals[k, axis, 5]."""
        k = len(base_ms)
        ids = self.n_triples + np.arange(k)
        self.n_triples += k
        for ai, a in enumerate(("acx", "acy", "acz")):
            m = keep[:, ai]
            self.t[a].append(base_ms[m] + offs[m, ai])
            self.v[a].append(vals[m, ai])
            self.tid[a].append(ids[m])
            self.subject[a].append(np.full(m.sum(), subject, np.int32))

    def bout(self, rng, subject: int, t0_ms: int, seconds: int, level: str,
             edge: bool = False):
        k = seconds * 1000 // ACC_CADENCE_MS
        if edge:
            base = t0_ms + np.arange(k) * ACC_CADENCE_MS
            offs = np.tile(np.array(EDGE_OFFSET_MS), (k, 1))
            vrng = np.random.default_rng(0)
            keep = np.ones((k, 3), bool)
        else:
            phase = int(rng.integers(0, ACC_CADENCE_MS))
            base = (t0_ms + phase + np.arange(k) * ACC_CADENCE_MS
                    + rng.integers(-ACC_TRIPLE_JITTER_MS, ACC_TRIPLE_JITTER_MS + 1, k))
            offs = rng.integers(-ACC_AXIS_SPREAD_MS, ACC_AXIS_SPREAD_MS + 1, (k, 3))
            vrng = rng
            keep = rng.random((k, 3)) >= ACC_AXIS_DROP_P
            # never drop from two neighbouring triples: two missing buckets
            # in a row would split the bout into two sessions
            bad = ~keep.all(axis=1)
            bad[1:] &= ~bad[:-1]
            keep = np.where(bad[:, None], keep, True)
            # keep the first and last triple whole, so bouts stay bounded
            keep[0] = keep[-1] = True
        g = vrng.normal(0, 1, 3)
        g /= np.linalg.norm(g)
        noise = NOISE[level]
        vals = np.round(g[None, :, None] + vrng.normal(0, noise, (k, 3, 5)), 4)
        self.add(subject, base, offs, vals, keep)

    def arrays(self):
        out = {}
        for a in ("acx", "acy", "acz"):
            out[f"{a}_t"] = np.concatenate(self.t[a]).astype(np.int64)
            out[f"{a}_v"] = np.concatenate(self.v[a]).astype(np.float64)
            out[f"{a}_tid"] = np.concatenate(self.tid[a]).astype(np.int64)
            out[f"{a}_subject"] = np.concatenate(self.subject[a])
        return out


def _acc_bouts(rng, acc: _Acc, subject: int, start_ms: int, minutes: int,
               level, bout_s: int, every_s: int, edge_at_ms: int):
    acc.bout(rng, subject, edge_at_ms, EDGE_TRIPLES * ACC_CADENCE_MS // 1000, "sleep", edge=True)
    t = start_ms + every_s * S
    end = start_ms + minutes * MIN - every_s * S
    while t < end:
        lv = level[(t - start_ms) // MIN]
        acc.bout(rng, subject, t, bout_s, lv)
        t += every_s * S


# ---------------------------------------------------------------------------
# one_subject_raw
# ---------------------------------------------------------------------------

def _one_subject(rng, out: str) -> dict:
    start = _ms(ONE_START)
    minutes = ONE_HOURS * 60
    night_s = 5 * 60 + int(rng.integers(-20, 20))  # about 23:00
    night_e = 13 * 60 + int(rng.integers(-20, 20))  # about 07:00
    nap_s = 17 * 60 + int(rng.integers(0, 20))      # about 11:00
    level, windows, ped, sleep_total = _subject_day(
        rng, start, minutes, [(night_s, night_e), (nap_s, nap_s + 40)])

    def level_at(t):
        return level[np.clip((t - start) // MIN, 0, minutes - 1)]

    skew = int(rng.choice([k for k in range(-8, 9) if k]) * SKEW_QUANTUM_MS)
    records = []  # (true_ms, kind, data json text)
    truth_counts: dict[str, int] = {}
    truth_sums: dict[str, float] = {}

    def emit(kind_rows: dict[str, np.ndarray], ts: np.ndarray, raw_kind: str, texts):
        for k, v in kind_rows.items():
            truth_counts[k] = truth_counts.get(k, 0) + len(v)
            truth_sums[k] = truth_sums.get(k, 0.0) + float(np.sum(v))
        records.extend(zip(ts.tolist(), [raw_kind] * len(ts), texts))

    n_hr = minutes * 60 * 1000 // HR_EVERY_MS
    hr_t, hr_v, stuck = _hr_series(rng, start, n_hr, level_at)
    emit({"hr": hr_v}, hr_t, "hr", [f"[{v!r}]" for v in hr_v.tolist()])

    def every(step_ms: int, jitter_ms: int = 3000):
        n = minutes * MIN // step_ms
        return start + np.arange(n) * step_ms + rng.integers(0, jitter_ms, n)

    t = every(60 * S)
    v = np.round(74 + rng.normal(0, 8, len(t)), 1)
    emit({"hr current": v}, t, "hr current", [f"[{x!r}]" for x in v.tolist()])
    t = every(5 * MIN)
    v = np.round(97 + rng.normal(0, 1.2, len(t)))
    v[rng.random(len(t)) < VIOLATION_P] = 75.0
    emit({"spo2": v}, t, "spo2", [f"[{x!r}]" for x in v.tolist()])
    t = every(5 * MIN)
    v = np.round(33.5 + rng.normal(0, 0.6, len(t)), 1)
    v[rng.random(len(t)) < VIOLATION_P] = 29.0
    emit({"st": v}, t, "st", [f"[{x!r}]" for x in v.tolist()])
    t = every(15 * MIN)
    sys_ = np.round(118 + rng.normal(0, 8, len(t)))
    dia = np.round(77 + rng.normal(0, 6, len(t)))
    dia[rng.random(len(t)) < 0.05] = 55.0
    emit({"bp_sys": sys_, "bp_dia": dia}, t, "bp",
         [f"[{a!r}, {b!r}]" for a, b in zip(sys_.tolist(), dia.tolist())])
    t = every(5 * MIN)
    act = np.round(rng.uniform(0, 100, (len(t), 5)))
    emit({k: act[:, i] for i, k in enumerate(
        ["step", "Calories", "sleep_light", "sleep_deep", "awake"])}, t, "activity",
        [json.dumps(r) for r in act.tolist()])
    t = every(30 * MIN)
    mm = np.round(rng.uniform(50, 120, (len(t), 5)))
    emit({"mm_hr": mm[:, 0], "mm_spo2": mm[:, 1], "mm_bp_sys": mm[:, 2],
          "mm_bp_dia": mm[:, 3], "mm_st": mm[:, 4]}, t, "multi measure",
         [f"[{a!r}, {b!r}, [{c!r}, {d!r}], {e!r}]" for a, b, c, d, e in mm.tolist()])
    t = every(60 * S, 500)
    ppg_rows = len(t)
    ppg = rng.integers(1000, 4000, (len(t), 16))
    records.extend(zip(t.tolist(), ["ppg"] * len(t), [json.dumps(r) for r in ppg.tolist()]))

    acc = _Acc()
    # in the gap after a bout, on a bucket edge
    edge_at = start + 30 * MIN + (ONE_ACC_BOUT_S + 5) * S
    _acc_bouts(rng, acc, 0, start, minutes, level, ONE_ACC_BOUT_S,
               ONE_ACC_EVERY_S, edge_at)
    arrs = acc.arrays()
    for a in ("acx", "acy", "acz"):
        records.extend(zip(arrs[f"{a}_t"].tolist(), [a] * len(arrs[f"{a}_t"]),
                           [json.dumps(r) for r in arrs[f"{a}_v"].tolist()]))

    # hourly uploads by device clock (true time - skew), per-date folders
    records.sort(key=lambda r: (r[0], r[1]))
    by_hour: dict[int, list[str]] = {}
    for true_ms, kind, text in records:
        dev = true_ms - skew
        by_hour.setdefault(dev // H, []).append(
            f'{{"time": {dev}, "kind": "{kind}", "data": {text}}}')
    for hour, lines in by_hour.items():
        stamp = hour * H
        d = os.path.join(out, "raw", _fmt(stamp, "%Y-%m-%d"))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"upload {_fmt(stamp, '%Y-%m-%d %H-%M-%S')}.json"), "w") as f:
            # one line, as json.dump writes it: the scan reads JSON lines
            f.write("[" + ", ".join(lines) + "]")

    # vendor workbook: one sheet per date, one row a minute (true clock)
    wb_t = start + np.arange(minutes) * MIN
    hr_wb = np.round(70 + rng.normal(0, 7, minutes))
    cols = {
        "Heart rate (bpm)": [f"{x:.0f}" for x in hr_wb],
        "Diastolic (mmHg)": [f"{x:.0f}" for x in np.round(77 + rng.normal(0, 5, minutes))],
        "Systolic (mmHg)": [f"{x:.0f}" for x in np.round(118 + rng.normal(0, 7, minutes))],
        "SaO2 (%)": [f"{x:.0f}" for x in np.round(97 + rng.normal(0, 1, minutes))],
        "Body temperature (C)": [f"{x:.1f}" for x in np.round(33.5 + rng.normal(0, 0.5, minutes), 1)],
        "Body temperature (F)": [f"{x:.1f}" for x in np.round(92 + rng.normal(0, 1, minutes), 1)],
        "Pedometer": [str(int(x)) for x in ped],
        "Total sleep": ["" if x < 0 else f"{x // 60}h{x % 60}m" for x in sleep_total],
        "Deep sleep": ["" if x < 0 else f"{x // 180}h{(x // 3) % 60}m" for x in sleep_total],
        "Light sleep": ["" if x < 0 else f"{x // 90}h{(x // 1.5) % 60:.0f}m" for x in sleep_total],
        "Event Markers": [""] * minutes,
    }
    times = [_fmt(int(x), "%Y-%m-%d %H:%M:%S") for x in wb_t]
    os.makedirs(os.path.join(out, "computed"), exist_ok=True)
    dates = sorted({x[:10] for x in times})
    names = list(cols)
    for date in dates:
        idx = [i for i, x in enumerate(times) if x.startswith(date)]
        with open(os.path.join(out, "computed", f"{date}.csv"), "w") as f:
            f.write(",".join(["Time", *names]) + "\n")
            for i in idx:
                f.write(",".join([times[i], *(cols[c][i] for c in names)]) + "\n")

    np.savez(os.path.join(out, "acc_truth.npz"), **arrs)
    return {
        "workload": "one_subject_raw",
        "subjects": 1,
        "skew_ms": skew,
        "kind_counts": truth_counts,
        "kind_sums": truth_sums,
        "ppg_rows": ppg_rows,
        "ac_rows": int(sum(len(arrs[f"{a}_t"]) for a in ("acx", "acy", "acz"))),
        "raw_records": len(records),
        "acc_triples": acc.n_triples,
        "stuck_runs": {"0": stuck},
        "sleep_windows": {"0": windows},
    }


# ---------------------------------------------------------------------------
# cohort_extracts
# ---------------------------------------------------------------------------

def _cohort(rng, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    start = _ms(COHORT_DAY)
    minutes = 24 * 60
    meas_parts = []
    acc = _Acc()
    stuck_all, windows_all = {}, {}
    utc = pa.timestamp("us", tz="UTC")
    for subj in range(COHORT_SUBJECTS):
        night_e = 6 * 60 + 30 + int(rng.integers(-40, 40))
        night2_s = 22 * 60 + 30 + int(rng.integers(-40, 40))
        level, windows, ped, sleep_total = _subject_day(
            rng, start, minutes, [(0, night_e), (night2_s, minutes)])

        def level_at(t, level=level):
            return level[np.clip((t - start) // MIN, 0, minutes - 1)]

        n_hr = minutes * MIN // HR_EVERY_MS
        hr_t, hr_v, stuck = _hr_series(rng, start, n_hr, level_at)
        rows_t, rows_k, rows_v = [hr_t], [np.full(n_hr, "hr")], [hr_v]

        def dense(kind, step_ms, vals):
            n = minutes * MIN // step_ms
            rows_t.append(start + np.arange(n) * step_ms + rng.integers(0, 3000, n))
            rows_k.append(np.full(n, kind))
            rows_v.append(vals(n))

        def with_viol(v, bad):
            v[rng.random(len(v)) < VIOLATION_P] = bad
            return v

        dense("spo2", 5 * MIN, lambda n: with_viol(np.round(97 + rng.normal(0, 1.2, n)), 75.0))
        dense("st", 5 * MIN, lambda n: with_viol(np.round(33.5 + rng.normal(0, 0.6, n), 1), 29.0))
        dense("bp_sys", 15 * MIN, lambda n: with_viol(np.round(118 + rng.normal(0, 8, n)), 70.0))
        dense("bp_dia", 15 * MIN, lambda n: with_viol(np.round(77 + rng.normal(0, 6, n)), 55.0))
        wb_t = start + np.arange(minutes) * MIN
        rows_t.append(wb_t)
        rows_k.append(np.full(minutes, "step"))
        rows_v.append(ped.astype(np.float64))
        asleep = sleep_total >= 0
        rows_t.append(wb_t[asleep])
        rows_k.append(np.full(asleep.sum(), "sleep_total"))
        rows_v.append(sleep_total[asleep].astype(np.float64))
        t = np.concatenate(rows_t)
        order = np.argsort(t, kind="stable")
        t = t[order]
        meas_parts.append({
            "subject": np.full(len(t), f"s{subj:03d}"),
            "kind": np.concatenate(rows_k)[order],
            "data": np.concatenate(rows_v)[order],
            "date_time": t,
        })
        stuck_all[f"s{subj:03d}"] = stuck
        windows_all[f"s{subj:03d}"] = windows
        _acc_bouts(rng, acc, subj, start, minutes, level, COHORT_ACC_BOUT_S,
                   COHORT_ACC_EVERY_S, start + 2 * H + 60 * S)

    def table(cols: dict, data) -> "pa.Table":
        t_us = cols["date_time"] * 1000
        hour = ((cols["date_time"] // H) * H).astype("datetime64[ms]")
        stamps = np.char.replace(np.char.replace(
            np.datetime_as_string(hour, unit="s"), "T", " "), ":", "-")
        clock = np.array([s[11:] for s in np.datetime_as_string(
            cols["date_time"].astype("datetime64[ms]"), unit="us")])
        return pa.table({
            "subject": pa.array(cols["subject"], pa.string()),
            "jname": pa.array(stamps, pa.string()),
            "kind": pa.array(cols["kind"], pa.string()),
            "data": data,
            "date_time": pa.array(t_us, pa.timestamp("us")).cast(utc),
            "date": pa.array(t_us // 86_400_000_000, pa.int32()).cast(pa.date32()),
            "time": pa.array(clock, pa.string()),
        })

    mdir = os.path.join(out, "extracts", "measurements")
    adir = os.path.join(out, "extracts", "ac")
    os.makedirs(mdir, exist_ok=True)
    os.makedirs(adir, exist_ok=True)
    for i in range(0, COHORT_SUBJECTS, 8):
        part = {k: np.concatenate([p[k] for p in meas_parts[i:i + 8]]) for k in meas_parts[0]}
        pq.write_table(table(part, pa.array(part["data"], pa.float64())),
                       os.path.join(mdir, f"part-{i // 8:03d}.parquet"))
    arrs = acc.arrays()
    ac_cols = {"subject": [], "kind": [], "data": [], "date_time": []}
    for a in ("acx", "acy", "acz"):
        ac_cols["subject"].append(np.char.add("s", np.char.zfill(arrs[f"{a}_subject"].astype(str), 3)))
        ac_cols["kind"].append(np.full(len(arrs[f"{a}_t"]), a))
        ac_cols["date_time"].append(arrs[f"{a}_t"])
    ac_cols = {k: np.concatenate(v) for k, v in ac_cols.items() if v}
    data = np.concatenate([arrs[f"{a}_v"] for a in ("acx", "acy", "acz")])
    order = np.argsort(ac_cols["date_time"], kind="stable")
    ac_cols = {k: v[order] for k, v in ac_cols.items()}
    bursts = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 5 * (len(order) + 1), 5, dtype=np.int32)),
        pa.array(data[order].reshape(-1), pa.float64()))
    pq.write_table(table(ac_cols, bursts), os.path.join(adir, "part-000.parquet"))

    np.savez(os.path.join(out, "acc_truth.npz"), **arrs)
    return {
        "workload": "cohort_extracts",
        "subjects": COHORT_SUBJECTS,
        "measurement_rows": int(sum(len(p["date_time"]) for p in meas_parts)),
        "ac_rows": int(len(order)),
        "acc_triples": acc.n_triples,
        "stuck_runs": stuck_all,
        "sleep_windows": windows_all,
    }


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out`` and
    return (and save as truth.json) the ground truth."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out, exist_ok=True)
    truth = (_one_subject if workload == "one_subject_raw" else _cohort)(rng, out)
    truth["seed"] = seed
    truth["max_run"] = MAX_RUN
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    generate(args.workload, args.seed, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
