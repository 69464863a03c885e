"""Property-based tests (SURVEY.md §5.3) for the interval algebra and
RLE islands, plus remaining source/composition coverage."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sensomics_data_pipeline_spark.operators import acc as acc_ops
from sensomics_data_pipeline_spark.operators import filters as filter_ops
from sensomics_data_pipeline_spark.operators import intervals as interval_ops
from sensomics_data_pipeline_spark.operators import unpivot as unpivot_ops

TS0 = pd.Timestamp("2024-03-01 00:00:00")

interval_lists = st.lists(
    st.tuples(st.integers(0, 300), st.integers(0, 60)).map(
        lambda t: (t[0], t[0] + t[1])
    ),
    min_size=1,
    max_size=12,
)

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _to_df(spark, iv):
    return spark.createDataFrame(
        pd.DataFrame(
            [(TS0 + pd.Timedelta(minutes=s), TS0 + pd.Timedelta(minutes=e)) for s, e in iv],
            columns=["start_time", "end_time"],
        )
    )


@_slow
@given(iv=interval_lists)
def test_merge_idempotent_sorted_disjoint(spark, iv):
    merged = [
        (r["start_time"], r["end_time"])
        for r in interval_ops.merge_intervals(_to_df(spark, iv), [])
        .orderBy("start_time")
        .collect()
    ]
    # sorted, strictly disjoint (touching intervals coalesce)
    for (s1, e1), (s2, e2) in zip(merged, merged[1:]):
        assert e1 < s2
    # idempotent
    again = [
        (r["start_time"], r["end_time"])
        for r in interval_ops.merge_intervals(
            _to_df(spark, [((t[0] - TS0).total_seconds() / 60, (t[1] - TS0).total_seconds() / 60) for t in merged]),
            [],
        )
        .orderBy("start_time")
        .collect()
    ]
    assert again == merged
    # coverage preserved: every input minute inside some merged interval
    for s, e in iv:
        ts_s = TS0 + pd.Timedelta(minutes=s)
        ts_e = TS0 + pd.Timedelta(minutes=e)
        assert any(ms <= ts_s and ts_e <= me for ms, me in merged)


@_slow
@given(base=interval_lists, sub=interval_lists)
def test_subtract_returns_subsets_outside_sub(spark, base, sub):
    out = interval_ops.subtract_intervals(
        _to_df(spark, base), _to_df(spark, sub), []
    ).collect()
    base_iv = [
        (TS0 + pd.Timedelta(minutes=s), TS0 + pd.Timedelta(minutes=e)) for s, e in base
    ]
    sub_iv = [
        (TS0 + pd.Timedelta(minutes=s), TS0 + pd.Timedelta(minutes=e)) for s, e in sub
    ]
    for r in out:
        s, e = r["start_time"], r["end_time"]
        assert s <= e
        # each piece within some base interval
        assert any(bs <= s and e <= be for bs, be in base_iv)
        # piece interior does not intersect any sub interval interior
        for ss, se in sub_iv:
            lo, hi = max(s, ss), min(e, se)
            if lo < hi:  # positive-length overlap
                pytest.fail(f"piece ({s},{e}) overlaps sub ({ss},{se})")


@_slow
@given(
    vals=st.lists(st.integers(0, 2), min_size=1, max_size=40),
)
def test_rle_islands_lengths_sum(spark, vals):
    rows = [
        (TS0 + pd.Timedelta(minutes=i), "hr", float(v)) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["date_time", "kind", "data"])
    )
    runs = filter_ops.flatline_runs(df, [], max_run=3).collect()
    assert sum(r["run_len"] for r in runs) == len(vals)
    # runs partition the timeline: starts/ends nested, no overlap
    spans = sorted((r["start_time"], r["end_time"]) for r in runs)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 < s2
    # expected number of runs = number of value change points + 1
    changes = sum(1 for a, b in zip(vals, vals[1:]) if a != b)
    assert len(runs) == changes + 1


# ---------------------------------------------------------------------------
# Remaining source / composition coverage
# ---------------------------------------------------------------------------

def test_melt_computed_wide_vendor_shape(spark):
    """S3 reshape half on a vendor-workbook-shaped frame: rename map,
    h/m duration parse, °F drop, empty drop."""
    pdf = pd.DataFrame(
        {
            "Time": ["2024-03-01 08:00:00", "2024-03-01 08:01:00"],
            "Heart rate (bpm)": ["72", ""],
            "Total sleep": ["7h23m", "0h10m"],
            "Body temperature (F)": ["98.6", "98.7"],
            "Body temperature (C)": ["37.0", ""],
        }
    )
    df = spark.createDataFrame(pdf)
    out = unpivot_ops.melt_computed_wide(df).toPandas()
    got = {(r.kind, r.data) for r in out.itertuples()}
    assert ("hr", 72.0) in got
    assert ("sleep_total", 7 * 60 + 23.0) in got
    assert ("sleep_total", 10.0) in got
    assert ("st", 37.0) in got
    assert not any(k == "Body temperature (F)" for k, _ in got)
    assert len(out) == 4  # empties dropped


def test_reformat_acc_composition(spark):
    """Entry point 3 end-to-end: axis rows → aligned wide →
    seconds/bin/g_force enrichment."""
    rows = []
    for i in range(20):
        t = TS0 + pd.Timedelta(seconds=0.5 * i)
        for axis, v in (("acx", 3.0), ("acy", 4.0), ("acz", 0.0)):
            rows.append((t, axis, v))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["date_time", "kind", "data"])
    )
    out = pipelines_reformat(spark, df)
    assert out.count() == 20
    first = out.orderBy("date_time").first()
    assert abs(first["g_force"] - 5.0) < 1e-9
    assert first["bin"] == first["seconds"] // 300


def pipelines_reformat(spark, df):
    from sensomics_data_pipeline_spark.plans.pipelines import reformat_acc

    return reformat_acc(df, [])


def test_excel_source_end_to_end_xlsx(spark, tmp_path):
    """S3 for real: a generated .xlsx workbook (two sheets, shared
    strings absent — inline strings + numeric cells) goes through
    ``read_excel_measurements`` → ``melt_computed_wide``. Runs with or
    without openpyxl: the stdlib SpreadsheetML fallback honors the same
    all-string frame contract ``pd.read_excel(dtype=str)`` provides."""
    from sensomics_data_pipeline_spark.operators.unpivot import melt_computed_wide
    from sensomics_data_pipeline_spark.sources.readers import read_excel_measurements
    from sensomics_data_pipeline_spark.sources.xlsx import write_xlsx

    path = str(tmp_path / "computed.xlsx")
    write_xlsx(
        path,
        {
            "March": [
                ["Time", "Heart rate (bpm)", "SaO2 (%)", "Total sleep",
                 "Body temperature (F)"],
                ["2024-03-01 08:00:00", 72, 98, "7h30m", 98.6],
                ["2024-03-01 08:15:00", 75, None, None, None],
            ],
            "April": [
                ["Time", "Heart rate (bpm)"],
                ["2024-04-01 09:00:00", 64],
            ],
        },
    )
    wide = read_excel_measurements(spark, path)
    assert set(wide.select("_sheet").distinct().toPandas()["_sheet"]) == {
        "March", "April",
    }
    long = melt_computed_wide(wide)
    got = {(r["kind"], r["data"]) for r in long.collect()}
    assert ("hr", 72.0) in got and ("hr", 75.0) in got and ("hr", 64.0) in got
    assert ("spo2", 98.0) in got
    assert ("sleep_total", 450.0) in got  # 7h30m → minutes
    assert not any(k == "Body temperature (F)" for k, _ in got)


def test_xlsx_reader_matches_pandas_contract(tmp_path):
    """Frame-shape parity of the stdlib reader with the
    ``pd.read_excel(dtype=str)`` contract: header row, string values
    (numbers as their literal strings), NaN for missing cells."""
    import numpy as np

    from sensomics_data_pipeline_spark.sources.xlsx import (
        read_xlsx_sheets,
        write_xlsx,
    )

    path = str(tmp_path / "t.xlsx")
    write_xlsx(
        path,
        {"S": [["a", "b"], ["x", 1.5], [None, "y"]]},
    )
    frames = read_xlsx_sheets(path)
    f = frames["S"]
    assert list(f.columns) == ["a", "b"]
    assert f.loc[0, "a"] == "x" and f.loc[0, "b"] == "1.5"
    assert f.loc[1, "b"] == "y" and (f.loc[1, "a"] is np.nan or f.isna().loc[1, "a"])


def test_computed_workbook_path_end_to_end_csv_shaped(spark):
    """Entry point 1's ``-e`` mode end-to-end without openpyxl: a CSV
    read with ``dtype=str`` yields the identical all-string frame shape
    ``pd.read_excel(dtype=str)`` would, so everything downstream of the
    openpyxl parse — ``computed_sheets_to_df`` → ``melt_computed_wide``
    reshape → workbook-min skew reference → ``reformat_raw`` with the
    15-min-quantized correction — runs for real
    (``/root/reference/raw_data_reformat.py:151-185`` + ``:39-56``)."""
    import io as _io
    import json

    import pandas as pd

    from sensomics_data_pipeline_spark.operators.unpivot import melt_computed_wide
    from sensomics_data_pipeline_spark.plans.pipelines import reformat_raw
    from sensomics_data_pipeline_spark.sources.readers import computed_sheets_to_df

    csv_text = (
        "Time,Heart rate (bpm),SaO2 (%),Total sleep,Body temperature (F),"
        "Body temperature (C)\n"
        "2024-03-01 08:00:00,72,98,7h30m,98.6,37.0\n"
        "2024-03-01 08:15:00,75,,,,\n"
    )
    sheets = {"Sheet1": pd.read_csv(_io.StringIO(csv_text), dtype=str)}
    wide = computed_sheets_to_df(spark, sheets)
    assert "_sheet" in wide.columns
    long = melt_computed_wide(wide)
    got = {(r["kind"], r["data"]) for r in long.collect()}
    assert ("hr", 72.0) in got and ("hr", 75.0) in got
    assert ("sleep_total", 450.0) in got  # 7h30m → minutes
    assert not any(k == "Body temperature (F)" for k, _ in got)

    # skew reference = workbook min Time (the reference's excel_ref),
    # raw device clock 20 minutes behind → quantized to +15 min
    ref_s = long.agg(F.min("date_time")).first()[0].timestamp()
    base_ms = int((ref_s - 20 * 60) * 1000)
    raw = spark.createDataFrame(
        [
            (base_ms, "hr current", json.dumps([71.0]), "j1"),
            (base_ms + 1000, "hr current", json.dumps([72.0]), "j1"),
        ],
        "time long, kind string, data string, jname string",
    )
    measurements, _ppg, _ac, d_time = reformat_raw(raw, ref_time_s=ref_s)
    assert d_time == 900_000  # round(20min / 15min) * 15min
    rows = measurements.orderBy("date_time").collect()
    assert [r["kind"] for r in rows] == ["hr current", "hr current"]
    assert rows[0]["date_time"].timestamp() == base_ms / 1000 + 900


# ---------------------------------------------------------------------------
# Round-3 losslessness properties (prefix filter, simhash banding)
# ---------------------------------------------------------------------------

corpus_strategy = st.lists(
    st.lists(
        st.sampled_from([f"w{i}" for i in range(12)]), min_size=5, max_size=14
    ),
    min_size=2,
    max_size=10,
)


@given(docs=corpus_strategy)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_prefix_filter_lossless_property(spark, docs):
    """For any corpus and θ=0.75 > 2/3, prefix-filtered Jaccard pairs
    must equal the unfiltered plan's pairs exactly (ids and values)."""
    from sensomics_data_pipeline_spark.operators import dedup as dedup_ops

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = dedup_ops.ngram_jaccard_pairs(df, threshold=0.75).toPandas()
    pref = dedup_ops.ngram_jaccard_pairs(
        df, threshold=0.75, prefix_filter=True
    ).toPandas()
    key = lambda f: sorted(
        map(tuple, f[["doc_a", "doc_b", "n_common", "jaccard"]].values.tolist())
    )
    assert key(plain) == key(pref)


@given(docs=corpus_strategy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_simhash_banding_lossless_property(spark, docs):
    """Banded Hamming join must find EVERY pair within max_hamming of
    each other (pigeonhole losslessness), for arbitrary corpora."""
    from sensomics_data_pipeline_spark.operators import dedup as dedup_ops

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["doc_id"]: r["simhash"]
        for r in dedup_ops.simhash(df, bits=60).collect()
    }
    want = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for i, a in enumerate(sorted(sig))
        for b in sorted(sig)[i + 1 :]
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup_ops.simhash_pairs(
            df, bits=60, n_bands=4, max_hamming=3
        ).collect()
    }
    assert got == want


@given(docs=corpus_strategy)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_run_stats_fold_matches_counter(spark, docs):
    """The per-row sorted-fold multiplicity stats behind
    repetition_signals must agree with collections.Counter on arbitrary
    token arrays (incl. duplicates-heavy, singleton and short lists)."""
    from collections import Counter

    from sensomics_data_pipeline_spark.operators.text import (
        repetition_signals,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    for i, toks in enumerate(docs):
        n = len(toks)
        c = Counter(toks)
        bi = Counter(" ".join(p) for p in zip(toks, toks[1:]))
        tri = Counter(" ".join(p) for p in zip(toks, toks[1:], toks[2:]))
        r = got[i]
        assert r["n_tokens"] == n
        assert r["top_word_frac"] == round(max(c.values()) / n, 6)
        assert r["unique_word_ratio"] == round(len(c) / n, 6)
        if n >= 2:
            assert r["top_bigram_frac"] == round(max(bi.values()) / (n - 1), 6)
        if n >= 3:
            assert r["dup_trigram_frac"] == round(1 - len(tri) / (n - 2), 6)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee".split()),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(min_value=1, max_value=4),
    min_docs=st.integers(min_value=2, max_value=3),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dedup_paragraphs_vs_python_reference(spark, docs, k, min_docs):
    """For arbitrary corpora / window sizes / thresholds, the Spark
    plan must equal an independent pure-Python walk of the spec:
    split into k-word windows, drop windows occurring in >= min_docs
    distinct docs, reassemble in order."""
    from collections import defaultdict

    from sensomics_data_pipeline_spark.operators import dedup as dedup_ops

    texts = {i: " ".join(toks) for i, toks in enumerate(docs)}

    def windows(text):
        ws = text.split(" ")
        return [
            " ".join(ws[g * k : g * k + k])
            for g in range((len(ws) + k - 1) // k)
        ]

    seen = defaultdict(set)
    for i, t in texts.items():
        for w in windows(t):
            seen[w].add(i)
    boiler = {w for w, d in seen.items() if len(d) >= min_docs}
    expect = {}
    for i, t in texts.items():
        kept = [w for w in windows(t) if w not in boiler]
        expect[i] = (
            " ".join(kept),
            len(windows(t)),
            sum(1 for w in windows(t) if w in boiler),
        )

    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = dedup_ops.dedup_paragraphs(
        df, sep=None, words_per_para=k, min_docs=min_docs
    ).toPandas()
    got = {
        int(r.doc_id): (r.clean_text, int(r.n_paras), int(r.n_removed))
        for r in out.itertuples()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Round-4 operators vs brute-force references
# ---------------------------------------------------------------------------

_two_interval_sets = st.tuples(
    st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 90)).map(
            lambda t: (t[0], t[0] + t[1])
        ),
        min_size=1,
        max_size=10,
    ),
    st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 90)).map(
            lambda t: (t[0], t[0] + t[1])
        ),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([60, 300, 3600, 7200]),
)


@_slow
@given(data=_two_interval_sets)
def test_overlap_join_matches_brute_force(spark, data):
    """The binned equi-join must produce EXACTLY the closed-interval
    overlap set, each pair once, for any bin width."""
    left_iv, right_iv, bin_s = data
    left = spark.createDataFrame(
        pd.DataFrame(
            [
                (i, TS0 + pd.Timedelta(minutes=s), TS0 + pd.Timedelta(minutes=e))
                for i, (s, e) in enumerate(left_iv)
            ],
            columns=["lid", "start_time", "end_time"],
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            [
                (j, TS0 + pd.Timedelta(minutes=s), TS0 + pd.Timedelta(minutes=e))
                for j, (s, e) in enumerate(right_iv)
            ],
            columns=["rid", "r_start", "r_end"],
        )
    )
    got = {
        (r.lid, r.rid)
        for r in interval_ops.overlap_join(
            left,
            right,
            partition_cols=[],
            left_cols=("start_time", "end_time"),
            right_cols=("r_start", "r_end"),
            bin_width_s=bin_s,
        ).collect()
    }
    want = {
        (i, j)
        for i, (ls, le) in enumerate(left_iv)
        for j, (rs, re_) in enumerate(right_iv)
        if ls <= re_ and rs <= le
    }
    assert got == want
    # once per pair: the join emits no duplicates
    n = interval_ops.overlap_join(
        left, right, [], ("start_time", "end_time"), ("r_start", "r_end"),
        bin_width_s=bin_s,
    ).count()
    assert n == len(want)


@_slow
@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(-50, 50, allow_nan=False)),
        min_size=1,
        max_size=30,
    )
)
def test_cusum_changepoint_matches_pandas_reference(spark, vals):
    from sensomics_data_pipeline_spark.operators.analytics import (
        cusum_changepoint,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "g": ["x"] * len(vals),
                "ts": [TS0 + pd.Timedelta(seconds=i) for i in range(len(vals))],
                "event_id": range(len(vals)),
                "value": pd.array(vals, dtype="float64"),
            }
        )
    )
    rows = cusum_changepoint(df, ["g"], tiebreak_cols=["event_id"]).collect()
    clean = [v for v in vals if v is not None]
    if not clean:
        assert rows == []
        return
    s = pd.Series(clean, dtype="float64")
    med = s.median()
    cusum = (s - med).cumsum()
    k = int(cusum.abs().idxmax())  # pandas idxmax returns FIRST max — earliest tie
    assert len(rows) == 1
    assert rows[0].n_points == len(clean)
    assert rows[0].cusum_max == pytest.approx(abs(cusum[k]), abs=1e-6)


@_slow
@given(
    names=st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=6),
        min_size=1,
        max_size=14,
    ),
    maxd=st.sampled_from([1, 2]),
    binw=st.sampled_from([1, 2, 5]),
)
def test_fuzzy_match_matches_brute_force(spark, names, maxd, binw):
    from sensomics_data_pipeline_spark.operators.entity import (
        fuzzy_match_pairs,
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    df = spark.createDataFrame(pd.DataFrame({"name": names}))
    got = {
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_match_pairs(
            df, "name", max_dist=maxd, bin_width=binw
        ).collect()
    }
    uniq = sorted(set(names))
    want = {
        (a, b, lev(a, b))
        for i, a in enumerate(uniq)
        for b in uniq[i + 1:]
        if lev(a, b) <= maxd
    }
    assert got == want


# ---- SCD2 history: random update streams vs a pure-Python fold ----

_scd2_streams = st.lists(
    st.tuples(
        st.integers(0, 3),                      # key
        st.sampled_from(["a", "b", "c", None]),  # attribute (NULLable)
    ),
    min_size=1,
    max_size=40,
)


@_slow
@given(stream=_scd2_streams)
def test_scd2_history_matches_sequential_fold(spark, stream):
    """scd2_history on any random NULLable update stream equals the
    obvious sequential fold: per key, a new version opens exactly
    when the attribute differs (NULL-safe) from the previous event,
    effective_to chains to the next version's start, and exactly one
    current row exists per key."""
    from sensomics_data_pipeline_spark.operators.diff import scd2_history

    rows = [
        (k, float(i), i, a) for i, (k, a) in enumerate(stream)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts double, event_id long, attr string"
    ).repartition(3)
    got = [
        (
            r.user_id,
            None if pd.isna(r.attr) else r.attr,
            r.effective_from,
            None if pd.isna(r.effective_to) else r.effective_to,
            r.version,
            r.is_current,
        )
        for r in scd2_history(
            df, ["user_id"], ["attr"], ts_col="ts",
            tiebreak_cols=["event_id"],
        )
        .toPandas()
        .sort_values(["user_id", "version"])
        .itertuples()
    ]
    # reference fold
    expect = []
    by_key: dict = {}
    for k, ts, _eid, a in rows:
        runs = by_key.setdefault(k, [])
        if not runs or runs[-1][0] != a:
            runs.append([a, ts])
    for k in sorted(by_key):
        runs = by_key[k]
        for v, (a, ts) in enumerate(runs, start=1):
            nxt = runs[v][1] if v < len(runs) else None
            expect.append((k, a, ts, nxt, v, int(nxt is None)))
    assert got == expect
    per_key_current = {}
    for k, *_rest, cur in got:
        per_key_current[k] = per_key_current.get(k, 0) + cur
    assert all(v == 1 for v in per_key_current.values())


@_slow
@given(
    vals=st.lists(st.integers(0, 30), min_size=1, max_size=200),
    width=st.sampled_from([4, 16, 64]),
    depth=st.sampled_from([1, 3]),
)
def test_count_min_upper_bounds_every_count(spark, vals, width, depth):
    """For ANY multiset and ANY table geometry: every point estimate
    upper-bounds the true count, no estimate exceeds n_total, and
    every matrix row conserves total mass."""
    from collections import Counter

    from sensomics_data_pipeline_spark.operators.profile import (
        count_min_build,
        count_min_estimate,
    )

    df = spark.createDataFrame(
        [(int(v),) for v in vals], "v long"
    ).repartition(3)
    mat, n = count_min_build(df, "v", width=width, depth=depth)
    true = Counter(vals)
    assert n == len(vals)
    assert (mat.sum(axis=1) == n).all()
    qdf = spark.createDataFrame([(int(v),) for v in true], "v long")
    est = {
        r["value"]: r["est"]
        for r in count_min_estimate(qdf, "v", mat).collect()
    }
    for v, c in true.items():
        assert c <= est[v] <= n


_edge_lists = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
        lambda t: t[0] != t[1]
    ),
    min_size=1,
    max_size=25,
)

_fast_graph = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_fast_graph
@given(edges=_edge_lists)
def test_pagerank_laws_on_random_graphs(spark, edges):
    """On ANY random undirected multigraph: every iteration's mass is
    1, residuals contract by at least the damping factor, every rank
    respects the teleport floor, and ranks are a valid distribution."""
    from sensomics_data_pipeline_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    ranks, hist = pagerank(df, n_iter=4, damping=0.85)
    got = {r.node: r.rank for r in ranks.collect()}
    n = len(got)
    assert n >= 2
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(v >= (1 - 0.85) / n - 1e-12 for v in got.values())
    for mass, _ in hist:
        assert abs(mass - 1.0) < 1e-9
    for (_, r0), (_, r1) in zip(hist, hist[1:]):
        assert r1 <= 0.85 * r0 + 1e-12


@_fast_graph
@given(edges=_edge_lists)
def test_label_propagation_laws_on_random_graphs(spark, edges):
    """On ANY random undirected multigraph: every node gets exactly
    one label, every label names a node of the SAME connected
    component (labels only travel along edges), and a converged run
    (history ending in 0) is a fixpoint — re-running one more
    iteration changes nothing."""
    from sensomics_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    labels, hist = label_propagation(df, n_iter=5)
    got = {r.node: r.label for r in labels.collect()}
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    assert set(got) == nodes
    # component containment via union-find over the edge list
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    assert all(find(n) == find(l) for n, l in got.items())
    assert all(c >= 0 for c in hist)


@_fast_graph
@given(
    pts=st.lists(
        st.tuples(
            st.floats(-5, 5, allow_nan=False, width=32),
            st.floats(-5, 5, allow_nan=False, width=32),
        ),
        min_size=4,
        max_size=30,
    )
)
def test_kmeans_laws_on_random_points(spark, pts):
    """On ANY random point set: inertia never increases across Lloyd
    iterations, every point is assigned, and cluster sizes sum to n."""
    from sensomics_data_pipeline_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    rows = [
        (i, [float(a), float(b)]) for i, (a, b) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = min(3, len(rows))
    cent, hist = kmeans_fit(df, k=k, n_iter=4)
    assert all(
        b <= a + 1e-9 * max(a, 1.0) for a, b in zip(hist, hist[1:])
    )
    assigned = kmeans_assign(df, cent).toPandas()
    assert len(assigned) == len(rows)
    assert set(assigned["cluster"]) <= set(range(k))


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    sig=st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=130,
        max_size=130,
    ),
    stereo=st.booleans(),
)
def test_adpcm_roundtrip_lockstep_on_any_signal(sig, stereo):
    """On ANY int16 signal (including full-scale jumps that saturate
    the step table): decode_ima_adpcm reproduces the encoder twin's
    lockstep reconstruction EXACTLY, across block boundaries (the
    step index carries, the predictor resets), mono and stereo. ADPCM
    is a delta codec — a single divergent step would compound, so
    exact equality is the strongest possible pin. Pure-Python path,
    no Spark session needed."""
    import numpy as np

    from adpcm_fixture import encode_ima_adpcm_wav
    from sensomics_data_pipeline_spark.operators.multimodal import (
        decode_wav,
    )

    if stereo:
        arr = np.array(
            [sig[:65], sig[65:]], dtype=np.int16
        ).T  # 65 frames x 2ch
        payload, recon = encode_ima_adpcm_wav(
            arr, sample_rate=16000, block_align=72
        )
    else:
        arr = np.array(sig, dtype=np.int16)
        payload, recon = encode_ima_adpcm_wav(
            arr, sample_rate=8000, block_align=36
        )
    rate, nch, x = decode_wav(payload)
    assert nch == (2 if stereo else 1)
    assert np.array_equal(
        np.round(x * 32768.0).astype(np.int64),
        recon.reshape(x.shape).astype(np.int64),
    )


_graph_edges = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_graph_edges)
def test_triangle_counts_on_random_graphs(spark, edges):
    """On ANY random multigraph (self-loops, duplicates, reversed
    edges): degree-ordered triangle counting equals the itertools
    brute force — the degree-ordering must count each triangle
    exactly once regardless of degree ties."""
    import itertools

    from sensomics_data_pipeline_spark.operators.graph import (
        triangle_counts,
    )

    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    if not es:
        return
    ref: dict = {}
    nodes = sorted({n for e in es for n in e})
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in es and (a, c) in es and (b, c) in es:
            for n in (a, b, c):
                ref[n] = ref.get(n, 0) + 1
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: r.n_triangles for r in triangle_counts(df).collect()
    }
    assert got == ref


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_graph_edges, k=st.integers(2, 5))
def test_k_core_on_random_graphs(spark, edges, k):
    """On ANY random multigraph and any k: iterative peeling equals
    the sequential python reference — including the cascade order
    independence (synchronous per-round removal vs one-at-a-time
    peeling reach the same fixpoint, the classic k-core uniqueness
    property)."""
    from sensomics_data_pipeline_spark.operators.graph import k_core

    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    if not es:
        return
    adj: dict = {}
    for x, y in es:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if n in adj and len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    ref = {n: len(vs) for n, vs in adj.items()}
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r.node: r.core_degree for r in k_core(df, k=k).collect()}
    assert got == ref


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.text(
            alphabet="abcdefgh0123456789", min_size=1, max_size=6
        ),
        min_size=1,
        max_size=120,
    )
)
def test_hll_registers_match_python_reference(spark, vals):
    """On ANY value multiset: the Spark register table equals a
    pure-Python HLL built from the same portable hash (md5-prefix
    60-bit, bucket = low 8 bits, rank = 52-bit-suffix leading zeros
    + 1) — the full sketch state, not just the estimate."""
    import hashlib

    from sensomics_data_pipeline_spark.operators.profile import (
        hll_register_table,
    )

    ref: dict = {}
    for v in vals:
        hv = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        bucket = hv % 256
        suffix = hv >> 8
        rank = 53 if suffix == 0 else 52 - suffix.bit_length() + 1
        ref[bucket] = max(ref.get(bucket, 0), rank)
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r.bucket: r.register
        for r in hll_register_table(df, [], "v", p=8).collect()
    }
    assert got == ref


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd", "ee"]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    ),
    terms=st.lists(
        st.sampled_from(["a", "b", "dd"]), min_size=1, max_size=3, unique=True
    ),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_matches_pure_python_on_random_corpora(spark, docs, terms):
    """Property: bm25_scores equals a from-scratch pure-Python Okapi
    BM25 (Lucene idf) on arbitrary tiny corpora — coverage for empty
    docs, tf>1, every-doc-matches, and no-doc-matches cases beyond
    the pinned unit example."""
    import math

    from sensomics_data_pipeline_spark.operators.text import bm25_scores

    texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = bm25_scores(df, terms, round_decimals=6)
    got = {r["doc_id"]: r["bm25"] for r in out.collect()}

    n, k1, b = len(docs), 1.2, 0.75
    dls = {i: len(ws) for i, ws in enumerate(docs)}
    avgdl = sum(dls.values()) / n
    dfreq = {
        t: sum(1 for ws in docs if t in ws) for t in terms
    }
    expect = {}
    for i, ws in enumerate(docs):
        s = 0.0
        hit = False
        for t in terms:
            tf = ws.count(t)
            if not tf:
                continue
            hit = True
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * dls[i] / avgdl)
            )
        if hit:
            expect[i] = round(s, 6)
    assert set(got) == set(expect)
    for i in expect:
        assert abs(got[i] - expect[i]) < 1e-9, (i, got[i], expect[i])
