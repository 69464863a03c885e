"""Tests of the benchmark itself: the generator is deterministic, and each
output check passes a correct output and fails on a corrupted copy.

    python3 -m pytest pipeline_bench/test_pipeline_bench.py -q

The check tests run one pass of each workload through the program on a
small local session (about a minute in all).
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402


def _tree_digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from sensomics_data_pipeline_spark.session import get_spark

    local = str(tmp_path_factory.mktemp("spark-local"))
    spark = get_spark("pipeline_bench_tests", cpus=2, extra_conf={
        "spark.driver.memory": "1g", "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false"})
    yield spark
    spark.stop()


@pytest.fixture(scope="module", params=gen.WORKLOADS)
def pass_outputs(request, spark, tmp_path_factory):
    from stages import run_pass

    workload = request.param
    root = tmp_path_factory.mktemp(workload)
    inp, out = str(root / "input"), str(root / "out")
    truth = gen.generate(workload, 3, inp)
    acc_truth = dict(np.load(os.path.join(inp, "acc_truth.npz")))
    result = run_pass(spark, workload, inp, out)
    assert not [s for s, e in result.items() if isinstance(e, Exception)]
    return workload, result, truth, acc_truth, checks.load_outputs(workload, inp, out)


def _drop_row(df, i=None):
    return df.drop(df.index[len(df) // 2 if i is None else i]).reset_index(drop=True)


def test_reformat_check(pass_outputs):
    workload, result, truth, _, f = pass_outputs
    if workload != "one_subject_raw":
        pytest.skip("no reformat stage")
    args = (f["ppg_rows"], f["ac_rows"], result["d_time_ms"], truth)
    assert checks.check_reformat(f["meas"], *args) == []
    assert checks.check_reformat(_drop_row(f["meas"]), *args)
    bumped = f["meas"].copy()
    bumped.loc[bumped.index[0], "data"] += 1.0
    assert checks.check_reformat(bumped, *args)
    assert checks.check_reformat(f["meas"], f["ppg_rows"], f["ac_rows"],
                                 result["d_time_ms"] + 900_000, truth)


def test_filter_check(pass_outputs):
    _, _, truth, _, f = pass_outputs
    assert checks.check_filter(f["filter_in"], f["filtered"], truth) == []
    assert checks.check_filter(f["filter_in"], _drop_row(f["filtered"]), truth)
    # a kept row of an injected stuck run is named as such
    subj, runs = next((s, r) for s, r in truth["stuck_runs"].items() if r)
    inp = f["filter_in"]
    in_run = (inp["kind"] == "hr") & inp["date_time"].between(runs[0][0] * 1000, runs[0][1] * 1000)
    if "subject" in inp.columns:
        in_run &= inp["subject"] == subj
    leaked = pd.concat([f["filtered"], inp[in_run].iloc[:1][f["filtered"].columns]])
    assert any("stuck run" in p for p in checks.check_filter(inp, leaked, truth))


def _correct_acc(acc_truth, workload: str) -> pd.DataFrame:
    """An acc output paired the reference's way: every whole generated
    triple, one 10 Hz session per subject."""
    frames = []
    t0 = 1_709_600_000_000_000 - 400_000
    for subj in sorted(set(acc_truth["acx_subject"].tolist())):
        ids = None
        for a in ("acx", "acy", "acz"):
            tid = acc_truth[f"{a}_tid"][acc_truth[f"{a}_subject"] == subj]
            ids = set(tid) if ids is None else ids & set(tid)
        ids = np.array(sorted(ids))
        cols = {}
        for a in ("acx", "acy", "acz"):
            pos = {t: i for i, t in enumerate(acc_truth[f"{a}_tid"])}
            cols[a] = acc_truth[f"{a}_v"][[pos[t] for t in ids]].reshape(-1)
        df = pd.DataFrame(cols)
        df["date_time"] = t0 + np.arange(len(df)) * 100_000
        df["g_force"] = np.sqrt(df["acx"] ** 2 + df["acy"] ** 2 + df["acz"] ** 2)
        if workload == "cohort_extracts":
            df["subject"] = f"s{subj:03d}"
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def _unexpected(problems: list[str]) -> list[str]:
    """Problems that are not the known pairing fault."""
    return [p for p in problems if not p.startswith(checks.ACC_PAIRING)]


def test_acc_check(pass_outputs):
    workload, _, _, acc_truth, f = pass_outputs
    # the program's output shows only the known pairing fault
    problems = checks.check_acc(f["acc"], acc_truth)
    assert problems and not _unexpected(problems)
    good = _correct_acc(acc_truth, workload)
    assert checks.check_acc(good, acc_truth) == []
    # acx of the next triple paired with acy/acz of this one: the fault
    mixed = good.copy()
    mixed["acx"] = np.roll(mixed["acx"].to_numpy(), -5)
    problems = checks.check_acc(mixed, acc_truth)
    assert any(p.startswith(checks.ACC_PAIRING) for p in problems)
    assert any("g_force" in p for p in problems)
    # an axis shifted by one sample holds values no generated record has
    shifted = good.copy()
    shifted["acx"] = np.roll(shifted["acx"].to_numpy(), 1)
    assert any("no generated record" in p for p in _unexpected(checks.check_acc(shifted, acc_truth)))
    # swapped axes keep g_force, yet are not the pairing fault
    swapped = good.rename(columns={"acx": "acy", "acy": "acx"})
    problems = _unexpected(checks.check_acc(swapped, acc_truth))
    assert problems and not any("g_force" in p for p in problems)
    # an empty output, or one missing whole sessions, is incomplete
    for short in (good.iloc[:0], good.iloc[:5 * (len(good) // 10)]):
        assert any("reach the output" in p for p in _unexpected(checks.check_acc(short, acc_truth)))
    assert any("whole bursts" in p for p in checks.check_acc(_drop_row(good), acc_truth))


def test_activity_check(pass_outputs):
    _, _, truth, _, f = pass_outputs
    args = (f["act_in"], f["acc"], f["final"])
    assert checks.check_activity(*args, f["thresholds"], truth) == []
    nudged = f["thresholds"].copy()
    nudged.loc[nudged.index[0], "lower_threshold"] *= 1 + 1e-6
    assert checks.check_activity(*args, nudged, truth)
    final = f["final"]
    sleep = final[final["category"] == "sleep"].iloc[:1].copy()
    sleep["start_time"] -= 24 * 3600 * 10**6
    assert checks.check_activity(f["act_in"], f["acc"], pd.concat([final, sleep]),
                                 f["thresholds"], truth)


def test_subtract_boundary_rules():
    # [0,10] minus [3,5] and [8,12]: pieces keep touching ends
    assert checks._subtract([(0, 10)], [(3, 5), (8, 12)]) == [(0, 3), (5, 8)]
    # a sub interval starting before the base emits no left piece
    assert checks._subtract([(5, 10)], [(0, 6)]) == [(6, 10)]
    # a sub interval starting at the base start leaves a zero-width piece
    assert checks._subtract([(5, 10)], [(5, 6)]) == [(5, 5), (6, 10)]
