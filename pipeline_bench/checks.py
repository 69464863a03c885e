"""Output checks for each stage, computed apart from the program.

Every check is a pure function over pandas frames and the generator's
ground truth, and returns a list of problems (empty = pass). Nothing here
imports the program: the flatline/include/range filter, the sleep-counter
intervals, the interval subtraction and the quantiles are recomputed from
their specification (FIXTURES.md F1-F6).

Times are compared as int64 microseconds since the epoch.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

MS_US = 1000
S_US = 1_000_000
MIN_US = 60 * S_US

#: Physiologic minimums and the shared maximum (filtering_data.py:202-218).
RANGE_RULES = {
    "hr": (50.0, 1e6),
    "bp_dia": (60.0, 1e6),
    "bp_sys": (80.0, 1e6),
    "spo2": (80.0, 1e6),
    "st": (30.0, 1e6),
}
MAX_RUN = 20
RESET_GAP_S = 12 * 3600
STEP_LOOKBACK_US = 10 * MIN_US
QUANTILES = (2.5, 97.5)

#: The known fault the acc stage is expected to show (see README).
ACC_PAIRING = "acc pairing"
#: Share of the whole generated triples whose every axis record must reach
#: the acc output. Dropped axis records and two triples in one 0.5 s bucket
#: lose a few; an output missing whole bursts or sessions falls below it.
ACC_MIN_KEPT = 0.95

_REL = 1e-9


def read(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """Read a parquet dataset written by Spark (hive partitions become
    columns); timestamps become int64 microseconds."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    cols = {}
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
        elif pa.types.is_dictionary(col.type):
            col = col.cast(col.type.value_type)
        cols[name] = col
    return pa.table(cols).to_pandas()


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= _REL * max(1.0, abs(a), abs(b))


def _subjects(df: pd.DataFrame):
    if "subject" in df.columns:
        return df.groupby("subject", sort=True)
    return [("0", df)]


# ---------------------------------------------------------------------------
# stage 1: reformat
# ---------------------------------------------------------------------------

def check_reformat(meas: pd.DataFrame, ppg_rows: int, ac_rows: int,
                   d_time_ms: int, truth: dict) -> list[str]:
    """Rows per kind = generated records x unlist width, per-kind sums of
    ``data`` match, ppg/ac row counts match, recovered skew = applied."""
    problems = []
    got = meas.groupby("kind")["data"].agg(["count", "sum"])
    kinds = set(truth["kind_counts"]) | set(got.index)
    for k in sorted(kinds):
        n_want = truth["kind_counts"].get(k, 0)
        n_got = int(got["count"].get(k, 0))
        if n_got != n_want:
            problems.append(f"reformat: {k} has {n_got} rows, generated {n_want}")
        elif not _close(float(got["sum"].get(k, 0.0)), truth["kind_sums"].get(k, 0.0)):
            problems.append(f"reformat: {k} sum {got['sum'][k]} != {truth['kind_sums'][k]}")
    if len(meas) != sum(truth["kind_counts"].values()):
        problems.append(f"reformat: {len(meas)} measurement rows")
    if ppg_rows != truth["ppg_rows"]:
        problems.append(f"reformat: {ppg_rows} ppg rows, generated {truth['ppg_rows']}")
    if ac_rows != truth["ac_rows"]:
        problems.append(f"reformat: {ac_rows} ac rows, generated {truth['ac_rows']}")
    if d_time_ms != truth["skew_ms"]:
        problems.append(f"reformat: skew {d_time_ms} ms, applied {truth['skew_ms']} ms")
    return problems


# ---------------------------------------------------------------------------
# stage 2: filter
# ---------------------------------------------------------------------------

def expected_filter(meas: pd.DataFrame) -> pd.DataFrame:
    """Flatline runs of hr -> include intervals -> rows inside them ->
    range rules, recomputed per subject."""
    kept = []
    for _, sub in _subjects(meas):
        hr = sub[sub["kind"] == "hr"].sort_values("date_time", kind="stable")
        t = hr["date_time"].to_numpy()
        v = hr["data"].to_numpy()
        if len(t) == 0:
            continue
        new_run = np.ones(len(v), bool)
        new_run[1:] = v[1:] != v[:-1]
        run_id = np.cumsum(new_run)
        runs = pd.DataFrame({"run": run_id, "t": t}).groupby("run")["t"].agg(["min", "max", "count"])
        include = (runs["count"] <= MAX_RUN).to_numpy()
        # adjacent runs with the same flag merge into one interval
        new_iv = np.ones(len(include), bool)
        new_iv[1:] = include[1:] != include[:-1]
        iv = pd.DataFrame({"iv": np.cumsum(new_iv), "s": runs["min"].to_numpy(),
                           "e": runs["max"].to_numpy(), "inc": include})
        iv = iv.groupby("iv").agg(s=("s", "min"), e=("e", "max"), inc=("inc", "first"))
        iv = iv[iv["inc"]]
        starts, ends = iv["s"].to_numpy(), iv["e"].to_numpy()
        ts = sub["date_time"].to_numpy()
        idx = np.searchsorted(starts, ts, side="right") - 1
        inside = (idx >= 0) & (ts <= ends[np.clip(idx, 0, None)]) if len(starts) else np.zeros(len(ts), bool)
        rows = sub[inside]
        ok = np.ones(len(rows), bool)
        for kind, (lo, hi) in RANGE_RULES.items():
            m = (rows["kind"] == kind).to_numpy()
            d = rows["data"].to_numpy()
            ok &= ~m | ((d >= lo) & (d <= hi))
        kept.append(rows[ok])
    return pd.concat(kept) if kept else meas.iloc[:0]


def _row_keys(df: pd.DataFrame) -> pd.DataFrame:
    cols = [c for c in ("subject", "kind", "date_time", "data") if c in df.columns]
    return df[cols].sort_values(cols, kind="stable").reset_index(drop=True)


def check_filter(inp: pd.DataFrame, out: pd.DataFrame, truth: dict) -> list[str]:
    problems = []
    for subj, sub in _subjects(out):
        hr_t = sub.loc[sub["kind"] == "hr", "date_time"].to_numpy()
        for s_ms, e_ms in truth["stuck_runs"].get(str(subj), []):
            n = int(((hr_t >= s_ms * MS_US) & (hr_t <= e_ms * MS_US)).sum())
            if n:
                problems.append(f"filter: {subj} keeps {n} hr rows of a stuck run at {s_ms}")
    for kind, (lo, hi) in RANGE_RULES.items():
        d = out.loc[out["kind"] == kind, "data"].to_numpy()
        bad = int(((d < lo) | (d > hi) | np.isnan(d)).sum())
        if bad:
            problems.append(f"filter: {bad} kept {kind} rows out of range")
    want = _row_keys(expected_filter(inp))
    got = _row_keys(out)
    if len(want) != len(got) or not want.equals(got[want.columns]):
        problems.append(f"filter: kept {len(got)} rows, recomputation keeps {len(want)}"
                        " (or the rows differ)")
    return problems


# ---------------------------------------------------------------------------
# stage 3: accelerometer
# ---------------------------------------------------------------------------

def _burst_table(acc_truth, axis: str) -> pd.DataFrame:
    v = acc_truth[f"{axis}_v"]
    df = pd.DataFrame(v, columns=[f"v{i}" for i in range(5)])
    df["subject"] = acc_truth[f"{axis}_subject"]
    df["tid"] = acc_truth[f"{axis}_tid"]
    return df


def whole_triples(acc_truth) -> int:
    """Generated triples that kept all three axis records."""
    ids = None
    for a in ("acx", "acy", "acz"):
        k = pd.MultiIndex.from_arrays([acc_truth[f"{a}_subject"], acc_truth[f"{a}_tid"]])
        ids = k if ids is None else ids.intersection(k)
    return len(ids)


def check_acc(out: pd.DataFrame, acc_truth) -> list[str]:
    """g_force = sqrt(acx^2+acy^2+acz^2); timestamps step by exactly
    100 ms within a session and each session is whole 5-sample bursts
    starting 400 ms before a 0.5 s bucket; every output axis burst is a
    generated axis record of its subject; each axis of at least
    ``ACC_MIN_KEPT`` of the whole generated triples reaches the output; and
    each output row's three samples come from one generated triple (the
    reference pairing)."""
    problems = []
    x, y, z = (out[c].to_numpy() for c in ("acx", "acy", "acz"))
    g = np.sqrt(x * x + y * y + z * z)
    bad_g = int((~np.isclose(out["g_force"].to_numpy(), g, rtol=1e-12, atol=0)).sum())
    if bad_g:
        problems.append(f"acc: {bad_g} rows with g_force != |(acx, acy, acz)|")
    whole = True
    bursts = []
    for subj, sub in _subjects(out):
        sub = sub.sort_values("date_time", kind="stable")
        t = sub["date_time"].to_numpy()
        step = np.diff(t)
        start = np.ones(len(t), bool)
        start[1:] = step != 100 * MS_US
        chain = np.cumsum(start)
        lengths = np.bincount(chain)[1:]
        if (lengths % 5).any():
            problems.append(f"acc: {subj}: {int((lengths % 5 != 0).sum())} sessions are not whole bursts")
            whole = False
            continue
        if ((t[start] + 400 * MS_US) % (500 * MS_US)).any():
            problems.append(f"acc: {subj}: a session does not start 400 ms before a 0.5 s bucket")
        code = int(str(subj).lstrip("s") or 0)
        b = {a: sub[a].to_numpy().reshape(-1, 5) for a in ("acx", "acy", "acz")}
        bursts.append((code, b))
    if not whole:
        return problems
    vcols = [f"v{i}" for i in range(5)]
    unknown = mixed = 0
    kept = {a: [] for a in ("acx", "acy", "acz")}  # subject << 32 | tid
    for code, b in bursts:
        n = len(b["acx"])
        tids = {}
        for a in ("acx", "acy", "acz"):
            q = pd.DataFrame(b[a], columns=vcols)
            q["subject"] = code
            q["burst"] = np.arange(n)
            tids[a] = q.merge(_burst_table(acc_truth, a), on=["subject", *vcols])[["burst", "tid"]]
            kept[a].append((code << 32) + tids[a]["tid"].to_numpy())
        matched = set(range(n))
        for m in tids.values():
            matched &= set(m["burst"])
        unknown += n - len(matched)
        same = tids["acx"].merge(tids["acy"], on=["burst", "tid"]).merge(tids["acz"], on=["burst", "tid"])
        mixed += len(matched) - same["burst"].nunique()
    if unknown:
        problems.append(f"acc: {unknown} output bursts hold axis values that no generated "
                        "record of that axis and subject has")
    n_whole = whole_triples(acc_truth)
    n_kept = min(len(np.unique(np.concatenate(v))) if v else 0 for v in kept.values())
    if n_kept < ACC_MIN_KEPT * n_whole:
        problems.append(f"acc: only {n_kept} of {n_whole} whole generated triples reach "
                        f"the output on every axis (at least {ACC_MIN_KEPT:.0%} must)")
    if mixed:
        problems.append(f"{ACC_PAIRING}: {mixed} output bursts mix samples of different generated triples")
    return problems


# ---------------------------------------------------------------------------
# stage 4: activity
# ---------------------------------------------------------------------------

def _dedup(t: np.ndarray, v: np.ndarray):
    keep = np.ones(len(v), bool)
    keep[1:] = v[1:] != v[:-1]
    return t[keep], v[keep]


def _merge(iv: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _subtract(base: list[tuple[int, int]], sub: list[tuple[int, int]]):
    """Temporal EXCEPT with the reference's boundary rules: pieces keep
    touching endpoints, zero-width pieces are kept, and no left piece is
    emitted when a sub interval begins before the remaining base
    (activity_categorize.py:104-143)."""
    sub = _merge(sub)
    out = []
    for a, b in base:
        over = [(ss, se) for ss, se in sub if ss <= b and se >= a]
        if not over:
            out.append((a, b))
            continue
        prev_end = a
        for ss, se in over:
            cs, ce = max(ss, a), min(se, b)
            if prev_end <= ss:
                out.append((prev_end, cs))
            prev_end = max(prev_end, ce)
        if prev_end < b:
            out.append((prev_end, b))
    return out


def sleep_minus_step(act_in: pd.DataFrame) -> tuple[list, list]:
    """Sleep intervals from the resetting ``sleep_total`` counter, merged,
    minus the 10-minute windows before each positive pedometer change.
    Returns (pieces, step windows)."""
    def series(kind):
        s = act_in[(act_in["kind"] == kind) & act_in["data"].notna()]
        s = s.sort_values("date_time", kind="stable")
        return _dedup(s["date_time"].to_numpy(), s["data"].to_numpy())

    t, v = series("sleep_total")
    sleep = []
    for i in range(len(t)):
        reset = i == 0 or (t[i] // S_US - t[i - 1] // S_US) > RESET_GAP_S
        delta = v[i] if reset or not v[i] > v[i - 1] else v[i] - v[i - 1]
        sleep.append((int(t[i] - int(delta) * MIN_US), int(t[i])))
    t, v = series("step")
    steps = [(int(x - STEP_LOOKBACK_US), int(x)) for x in t[v > 0]]
    return _subtract(_merge(sleep), steps), steps


def expected_thresholds(acc_t: np.ndarray, acc_g: np.ndarray, pieces) -> tuple:
    order = np.argsort(acc_t, kind="stable")
    t, g = acc_t[order], acc_g[order]
    mark = np.zeros(len(t) + 1, np.int64)
    for s, e in pieces:
        lo, hi = np.searchsorted(t, s, "left"), np.searchsorted(t, e, "right")
        mark[lo] += 1
        mark[hi] -= 1
    inside = np.cumsum(mark[:-1]) > 0
    if not inside.any():
        return (None, None)
    lo, hi = np.percentile(g[inside], QUANTILES)
    return (float(lo), float(hi))


def check_activity(act_in: pd.DataFrame, acc: pd.DataFrame, final: pd.DataFrame,
                   thresholds: pd.DataFrame, truth: dict) -> list[str]:
    problems = []
    acc_by = dict(list(_subjects(acc)))
    thr_by = dict(list(_subjects(thresholds)))
    fin_by = dict(list(_subjects(final)))
    for subj, sub in _subjects(act_in):
        pieces, steps = sleep_minus_step(sub)
        a = acc_by.get(subj)
        want = expected_thresholds(a["date_time"].to_numpy(), a["g_force"].to_numpy(), pieces) \
            if a is not None else (None, None)
        got_t = thr_by.get(subj, thresholds.iloc[:0])
        if len(got_t) > 1:
            problems.append(f"activity: {subj} has {len(got_t)} threshold rows")
        got = (None, None) if got_t.empty else (
            float(got_t["lower_threshold"].iloc[0]), float(got_t["upper_threshold"].iloc[0]))
        if (None in want) != (None in got) or (
                None not in want and not all(_close(p, q) for p, q in zip(want, got))):
            problems.append(f"activity: {subj} thresholds {got} != recomputed {want}")
        f = fin_by.get(subj)
        if f is None:
            continue
        for cat, rows in f.groupby("category"):
            s = rows.sort_values(["start_time", "end_time"])
            st, en = s["start_time"].to_numpy(), s["end_time"].to_numpy()
            n_over = int((st[1:] < en[:-1]).sum())
            if n_over:
                problems.append(f"activity: {subj} has {n_over} overlapping '{cat}' intervals")
        sl = f[f["category"] == "sleep"]
        windows = [(s * MS_US, e * MS_US) for s, e in truth["sleep_windows"].get(str(subj), [])]
        for s, e in zip(sl["start_time"].to_numpy(), sl["end_time"].to_numpy()):
            if not any(ws <= s and e <= we for ws, we in windows):
                problems.append(f"activity: {subj} sleep [{s}, {e}] outside generated sleep")
                break
            if any(ws < e and s < we for ws, we in steps):
                problems.append(f"activity: {subj} sleep [{s}, {e}] overlaps a step window")
                break
    return problems


# ---------------------------------------------------------------------------
# loading a pass's outputs
# ---------------------------------------------------------------------------

def load_outputs(workload: str, inp: str, out: str) -> dict:
    """Every frame the checks need, read back from a pass's parquet."""
    cols = ["kind", "data", "date_time"]
    frames = {}
    if workload == "one_subject_raw":
        frames["meas"] = read(f"{out}/split/measurements", cols)
        frames["ppg_rows"] = _rows(f"{out}/split/ppg")
        frames["ac_rows"] = _rows(f"{out}/split/ac")
        frames["filter_in"] = frames["meas"]
        frames["act_in"] = read(f"{out}/computed", cols)
    else:
        cols = ["subject", *cols]
        frames["filter_in"] = read(f"{inp}/extracts/measurements", cols)
        frames["act_in"] = frames["filter_in"]
    frames["filtered"] = read(f"{out}/filtered", cols)
    frames["acc"] = read(f"{out}/acc")
    frames["final"] = read(f"{out}/activity/activity_categorized")
    frames["thresholds"] = read(f"{out}/activity/sleep_acc_thresholds")
    return frames


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
