"""Laws for the scale-path helpers: hot-key salting (operators/skew.py)
and the binned big-big containment semijoin (interval_semijoin_binned).

Every law here is 'the scale plan re-routes rows, never changes
results': salted aggregation ≡ plain aggregation, salted join ≡ plain
join, binned semijoin ≡ broadcast semijoin — asserted on adversarial
inputs (keys containing the separator character, hot keys missing from
one side, intervals spanning many bins, touching bounds).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from sensomics_data_pipeline_spark.operators import intervals as iv_ops
from sensomics_data_pipeline_spark.operators import skew as skew_ops


def _sorted_rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------------
# salted_agg
# ---------------------------------------------------------------------------

def test_salted_agg_matches_plain(spark):
    # one hot key (80% of rows) + a long tail, ints so sums are exact
    rows = [("hot", i % 7, float(i % 100)) for i in range(800)]
    rows += [(f"k{i % 40}", i % 5, float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, sub int, v double")
    got = skew_ops.salted_agg(
        df,
        ["k"],
        {
            "n": ("v", "count"),
            "total": ("v", "sum"),
            "lo": ("v", "min"),
            "hi": ("v", "max"),
        },
        n_salts=16,
    )
    want = df.groupBy("k").agg(
        F.count("v").alias("n"),
        F.sum("v").alias("total"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    assert _sorted_rows(got, ["k", "n", "total", "lo", "hi"]) == _sorted_rows(
        want, ["k", "n", "total", "lo", "hi"]
    )


def test_salted_agg_two_stage_plan(spark):
    """Stage 1 must actually group on the salt (two aggregate layers)."""
    df = spark.range(100).select(
        F.lit("k").alias("k"), F.col("id").cast("double").alias("v")
    )
    plan = skew_ops.salted_agg(
        df, ["k"], {"total": ("v", "sum")}, n_salts=4
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan


# ---------------------------------------------------------------------------
# salted_join
# ---------------------------------------------------------------------------

def _join_fixture(spark):
    # fact: skewed key 1 dominates; include a key with the '#' char and
    # a key missing from the dim
    fact = spark.createDataFrame(
        [(1, i) for i in range(500)]
        + [(k, k * 10) for k in range(2, 30)]
        + [(999, 0)],
        "key int, x int",
    )
    dim = spark.createDataFrame(
        [(k, f"name{k}") for k in range(1, 30)], "key int, name string"
    )
    return fact, dim


def test_salted_join_inner_matches_plain(spark):
    fact, dim = _join_fixture(spark)
    got = skew_ops.salted_join(fact, dim, "key", hot_keys=[1, 2], n_salts=8)
    want = fact.join(dim, on="key", how="inner")
    cols = ["key", "x", "name"]
    assert _sorted_rows(got.select(*cols)) == _sorted_rows(want.select(*cols))


def test_salted_join_left_matches_plain(spark):
    fact, dim = _join_fixture(spark)
    got = skew_ops.salted_join(
        fact, dim, "key", hot_keys=[1, 999], n_salts=4, how="left"
    )
    want = fact.join(dim, on="key", how="left")
    cols = ["key", "x", "name"]
    assert _sorted_rows(got.select(*cols)) == _sorted_rows(want.select(*cols))


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_null_keys_never_match(spark, how):
    # SQL equi-join law: NULL never matches NULL. Struct keys compare
    # null-safely field-wise, so a naive struct(NULL, -1) key would
    # join fact-NULL to dim-NULL; the salted key must be NULL when the
    # key is NULL to preserve plain-join semantics.
    fact = spark.createDataFrame(
        [(1, 10), (None, 20), (None, 21), (2, 30)], "key int, x int"
    )
    dim = spark.createDataFrame(
        [(1, "a"), (None, "null_dim"), (2, "b")], "key int, name string"
    )
    got = skew_ops.salted_join(
        fact, dim, "key", hot_keys=[1], n_salts=4, how=how
    )
    want = fact.join(dim, on="key", how=how)
    cols = ["key", "x", "name"]

    def rows(df):  # None-safe sort (left join emits NULL name rows)
        return sorted(
            (tuple(r[c] for c in cols) for r in df.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    assert rows(got) == rows(want)
    if how == "inner":
        assert got.filter(F.col("key").isNull()).count() == 0


def test_salted_join_separator_cannot_collide(spark):
    # a plain key that LOOKS like a salted variant ("a#1") must not
    # match hot key "a"'s salt-1 replica
    fact = spark.createDataFrame(
        [("a", 1), ("a#1", 2), ("a\x1f1", 3)], "key string, x int"
    )
    dim = spark.createDataFrame(
        [("a", "A"), ("a#1", "HASH"), ("a\x1f1", "US")], "key string, name string"
    )
    got = skew_ops.salted_join(fact, dim, "key", hot_keys=["a"], n_salts=4)
    want = fact.join(dim, on="key", how="inner")
    cols = ["key", "x", "name"]
    # the struct (key, salt) join key makes collision impossible; the
    # original string-concat design failed exactly this case ('a\x1f1'
    # matched hot key 'a' salt 1)
    assert _sorted_rows(got.select(*cols)) == _sorted_rows(want.select(*cols))


def test_salted_join_is_not_broadcast(spark):
    fact, dim = _join_fixture(spark)
    plan = (
        skew_ops.salted_join(fact, dim, "key", hot_keys=[1], n_salts=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_explode_salts_replicates_only_hot_rows(spark):
    _, dim = _join_fixture(spark)
    out = skew_ops.explode_salts(dim, "key", hot_keys=[1, 2, 12345], n_salts=5)
    # 29 dim rows, 2 hot rows present → 27 + 2*5
    assert out.count() == 27 + 2 * 5


def test_top_hot_keys_deterministic(spark):
    df = spark.createDataFrame(
        [("b",)] * 5 + [("a",)] * 5 + [("c",)] * 2, "k string"
    )
    assert skew_ops.top_hot_keys(df, "k", n=2) == ["a", "b"]


# ---------------------------------------------------------------------------
# interval_semijoin_binned
# ---------------------------------------------------------------------------

def _interval_fixture(spark):
    t0 = datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [
            ("u1", t0 + timedelta(seconds=s), s)
            for s in range(0, 50_000, 137)
        ]
        + [("u2", t0 + timedelta(seconds=s), s) for s in range(0, 9_000, 911)],
        "user_id string, ts timestamp, x int",
    )
    ivs = spark.createDataFrame(
        [
            # short interval inside one bin
            ("u1", t0 + timedelta(seconds=100), t0 + timedelta(seconds=300)),
            # interval spanning MANY 600-s bins
            ("u1", t0 + timedelta(seconds=10_000), t0 + timedelta(seconds=20_000)),
            # touching bounds: point at exactly start / end must match
            ("u2", t0 + timedelta(seconds=911), t0 + timedelta(seconds=1822)),
            # interval for a user with no points
            ("u3", t0, t0 + timedelta(seconds=50_000)),
        ],
        "user_id string, start_time timestamp, end_time timestamp",
    )
    return pts, ivs


@pytest.mark.parametrize("anti", [False, True])
def test_binned_semijoin_matches_broadcast(spark, anti):
    pts, ivs = _interval_fixture(spark)
    got = iv_ops.interval_semijoin_binned(
        pts, ivs, ["user_id"], ts_col="ts", bin_width_s=600, anti=anti
    )
    want = iv_ops.interval_semijoin(
        pts, ivs, ["user_id"], ts_col="ts", anti=anti
    )
    cols = ["user_id", "ts", "x"]
    assert _sorted_rows(got.select(*cols)) == _sorted_rows(want.select(*cols))
    # schema law: the helper bin column must not leak
    assert got.columns == pts.columns


def test_binned_semijoin_inclusive_bounds(spark):
    t0 = datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [("u", t0, 0), ("u", t0 + timedelta(seconds=60), 1),
         ("u", t0 + timedelta(seconds=61), 2)],
        "user_id string, ts timestamp, x int",
    )
    ivs = spark.createDataFrame(
        [("u", t0, t0 + timedelta(seconds=60))],
        "user_id string, start_time timestamp, end_time timestamp",
    )
    got = iv_ops.interval_semijoin_binned(
        pts, ivs, ["user_id"], ts_col="ts", bin_width_s=7
    )
    assert sorted(r["x"] for r in got.collect()) == [0, 1]


def test_binned_semijoin_no_broadcast_range_join(spark):
    pts, ivs = _interval_fixture(spark)
    plan = (
        iv_ops.interval_semijoin_binned(
            pts, ivs, ["user_id"], ts_col="ts", bin_width_s=600
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_binned_semijoin_degrades_to_shuffle_join(spark):
    """The whole point of the binned twin: when the interval side is
    too big to broadcast, the plan is a shuffled EQUI join on
    (user, bin) — never a nested-loop. Simulate 'too big' by turning
    the broadcast threshold off."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pts, ivs = _interval_fixture(spark)
        plan = (
            iv_ops.interval_semijoin_binned(
                pts, ivs, ["user_id"], ts_col="ts", bin_width_s=600
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ---------------------------------------------------------------------------
# transition_matrix
# ---------------------------------------------------------------------------

def test_transition_matrix_hand_case(spark):
    from sensomics_data_pipeline_spark.operators.analytics import (
        transition_matrix,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        # u1: a -> b -> a -> c ; u2: b -> b
        ("u1", t0 + timedelta(seconds=1), 1, "a"),
        ("u1", t0 + timedelta(seconds=2), 2, "b"),
        ("u1", t0 + timedelta(seconds=3), 3, "a"),
        ("u1", t0 + timedelta(seconds=4), 4, "c"),
        ("u2", t0 + timedelta(seconds=1), 5, "b"),
        ("u2", t0 + timedelta(seconds=2), 6, "b"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id int, event_type string")
    out = transition_matrix(df, "user_id", "event_type", ["ts", "event_id"])
    got = {
        (r["from_state"], r["to_state"]): (r["n_transitions"], r["p"])
        for r in out.collect()
    }
    assert got == {
        ("a", "b"): (1, 0.5),
        ("a", "c"): (1, 0.5),
        ("b", "a"): (1, 0.5),
        ("b", "b"): (1, 0.5),
    }


def test_transition_matrix_rows_sum_to_one(spark, sf_dir):
    from sensomics_data_pipeline_spark.operators.analytics import (
        transition_matrix,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"])
    sums = (
        out.groupBy("from_state")
        .agg(F.round(F.sum("p"), 4).alias("s"))
        .collect()
    )
    for r in sums:
        assert abs(r["s"] - 1.0) < 2e-3  # rounding of p to 6 dp per cell


# ---------------------------------------------------------------------------
# bloom_prefilter_join
# ---------------------------------------------------------------------------

def _bloom_fixture(spark):
    fact = spark.createDataFrame(
        [(k, k * 2) for k in range(200)], "key int, x int"
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 200, 17)], "key int, name string"
    )
    return fact, dim


def test_bloom_prefilter_join_matches_plain_with_collisions(spark):
    fact, dim = _bloom_fixture(spark)
    # n_buckets=4 forces heavy collisions: false positives MUST flow
    # through to the exact join without changing the result
    got = skew_ops.bloom_prefilter_join(fact, dim, "key", n_buckets=4)
    want = fact.join(dim, on="key", how="inner")
    cols = ["key", "x", "name"]
    assert _sorted_rows(got.select(*cols)) == _sorted_rows(want.select(*cols))


def test_bloom_prefilter_semi_matches_plain(spark):
    fact, dim = _bloom_fixture(spark)
    got = skew_ops.bloom_prefilter_join(
        fact, dim, "key", n_buckets=8, how="left_semi"
    )
    want = fact.join(dim.select("key"), on="key", how="left_semi")
    cols = ["key", "x"]
    assert _sorted_rows(got.select(*cols)) == _sorted_rows(want.select(*cols))


def test_bloom_prefilter_actually_prunes_and_passes_fps(spark):
    fact, dim = _bloom_fixture(spark)
    # with a roomy bucket table the prefilter passes few non-matching
    # rows; with a tiny one it passes many — both end exact
    buckets_tight = skew_ops.bloom_prefilter_join(
        fact, dim.limit(3), "key", n_buckets=1 << 20, how="left_semi"
    ).count()
    n_match = fact.join(dim.limit(3), on="key", how="left_semi").count()
    # k=1 bloom with 2^20 buckets over 3 keys: fp prob ~ 3/2^20
    assert buckets_tight == n_match


def test_bloom_prefilter_key_type_mismatch_is_safe(spark):
    # fact key int, dim key bigint: string canonicalization must make
    # the hashes agree (raw xxhash64(int) != xxhash64(bigint))
    fact = spark.createDataFrame([(7, 1), (8, 2)], "key int, x int")
    dim = spark.createDataFrame([(7, "d7")], "key long, name string")
    got = skew_ops.bloom_prefilter_join(fact, dim, "key", n_buckets=1 << 20)
    assert [(r["key"], r["name"]) for r in got.collect()] == [(7, "d7")]


def test_bloom_prefilter_rejects_outer(spark):
    fact, dim = _bloom_fixture(spark)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        skew_ops.bloom_prefilter_join(fact, dim, "key", how="left")


# ---------------------------------------------------------------------------
# randomized property tests (seeded): the laws must hold on arbitrary
# interval/point layouts and arbitrary hot-key choices, not just the
# hand-built fixtures
# ---------------------------------------------------------------------------

def test_binned_semijoin_random_property(spark):
    import random

    rng = random.Random(20260816)
    t0 = datetime(2024, 3, 1)
    for trial in range(3):
        pts = spark.createDataFrame(
            [
                (f"u{rng.randint(0, 5)}",
                 t0 + timedelta(seconds=rng.randint(0, 100_000)), i)
                for i in range(400)
            ],
            "user_id string, ts timestamp, x int",
        )
        ivs = spark.createDataFrame(
            [
                (
                    f"u{rng.randint(0, 6)}",  # u6 has no points
                    t0 + timedelta(seconds=(s := rng.randint(0, 100_000))),
                    t0 + timedelta(seconds=s + rng.randint(0, 20_000)),
                )
                for _ in range(30)
            ],
            "user_id string, start_time timestamp, end_time timestamp",
        )
        width = rng.choice([60, 600, 7200])
        for anti in (False, True):
            got = iv_ops.interval_semijoin_binned(
                pts, ivs, ["user_id"], ts_col="ts",
                bin_width_s=width, anti=anti,
            )
            want = iv_ops.interval_semijoin(
                pts, ivs, ["user_id"], ts_col="ts", anti=anti
            )
            cols = ["user_id", "ts", "x"]
            assert _sorted_rows(got.select(*cols)) == _sorted_rows(
                want.select(*cols)
            ), f"trial {trial} width {width} anti {anti}"


def test_salted_and_bloom_join_random_property(spark):
    import random

    rng = random.Random(99)
    for trial in range(3):
        fact = spark.createDataFrame(
            [(rng.randint(0, 30), i) for i in range(500)],
            "key int, x int",
        )
        dim = spark.createDataFrame(
            [(k, f"d{k}") for k in rng.sample(range(0, 40), 25)],
            "key int, name string",
        )
        hot = rng.sample(range(0, 40), rng.randint(0, 5))
        n_salts = rng.choice([1, 3, 8])
        cols = ["key", "x", "name"]
        want = _sorted_rows(fact.join(dim, on="key").select(*cols))
        got_salt = _sorted_rows(
            skew_ops.salted_join(
                fact, dim, "key", hot, n_salts=n_salts
            ).select(*cols)
        )
        got_bloom = _sorted_rows(
            skew_ops.bloom_prefilter_join(
                fact, dim, "key", n_buckets=rng.choice([2, 16, 1 << 20])
            ).select(*cols)
        )
        assert got_salt == want, f"salted trial {trial}"
        assert got_bloom == want, f"bloom trial {trial}"


# ---------------------------------------------------------------------------
# interval_semijoin plan="auto" dispatcher
# ---------------------------------------------------------------------------

def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_auto_plan_sparse_regime_broadcasts(spark):
    """Small, sparse-per-key interval side (the reference's regime):
    auto must pick the broadcast range join — probe side unshuffled."""
    pts, ivs = _interval_fixture(spark)
    out = iv_ops.interval_semijoin(
        pts, ivs, ["user_id"], ts_col="ts", plan="auto"
    )
    plan = _executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan
    want = iv_ops.interval_semijoin(pts, ivs, ["user_id"], ts_col="ts")
    assert _sorted_rows(out) == _sorted_rows(want)


def test_auto_plan_dense_regime_goes_binned_shuffle(spark):
    """Per-key multiplicity past the crossover: auto must pick the
    binned twin WITH the shuffle hint (SCALE_r11's fastest regime) —
    an equi join on (user, bin), never a broadcast range join."""
    pts, ivs = _interval_fixture(spark)
    out = iv_ops.interval_semijoin(
        pts, ivs, ["user_id"], ts_col="ts", plan="auto",
        per_key_limit=1,  # force the dense-regime branch on test data
    )
    plan = _executed_plan(out)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    want = iv_ops.interval_semijoin(pts, ivs, ["user_id"], ts_col="ts")
    assert _sorted_rows(out) == _sorted_rows(want)
    assert out.columns == pts.columns


def test_auto_plan_row_limit_regime_goes_binned(spark):
    """Interval side past the broadcast row budget: auto goes binned
    even when per-key multiplicity is low."""
    pts, ivs = _interval_fixture(spark)
    out = iv_ops.interval_semijoin(
        pts, ivs, ["user_id"], ts_col="ts", plan="auto",
        broadcast_row_limit=2,
    )
    assert "ShuffledHashJoin" in _executed_plan(out)
    want = iv_ops.interval_semijoin(pts, ivs, ["user_id"], ts_col="ts")
    assert _sorted_rows(out) == _sorted_rows(want)


@pytest.mark.parametrize("anti", [False, True])
def test_auto_plan_matches_broadcast_both_regimes(spark, anti):
    pts, ivs = _interval_fixture(spark)
    want = iv_ops.interval_semijoin(
        pts, ivs, ["user_id"], ts_col="ts", anti=anti
    )
    for kwargs in ({}, {"per_key_limit": 1}):
        got = iv_ops.interval_semijoin(
            pts, ivs, ["user_id"], ts_col="ts", anti=anti, plan="auto",
            **kwargs,
        )
        assert _sorted_rows(got) == _sorted_rows(want)


def test_interval_semijoin_rejects_unknown_plan(spark):
    pts, ivs = _interval_fixture(spark)
    with pytest.raises(ValueError, match="unknown interval_semijoin plan"):
        iv_ops.interval_semijoin(pts, ivs, ["user_id"], plan="nope")


def test_auto_plan_no_partition_cols(spark):
    """Global intervals (no partition key): the stats fall back to a
    plain count and the dense branch still works."""
    t0 = datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(t0 + timedelta(seconds=s), s) for s in range(0, 1000, 37)],
        "ts timestamp, x int",
    )
    ivs = spark.createDataFrame(
        [(t0 + timedelta(seconds=100), t0 + timedelta(seconds=300))],
        "start_time timestamp, end_time timestamp",
    )
    got = iv_ops.interval_semijoin(pts, ivs, [], ts_col="ts", plan="auto")
    want = iv_ops.interval_semijoin(pts, ivs, [], ts_col="ts")
    assert _sorted_rows(got) == _sorted_rows(want)


def test_auto_plan_stats_memoized_per_plan(spark):
    """Repeated auto calls against the same interval definition pay the
    stats agg once: the memo holds the (total, max-per-key) pair keyed
    by (session, plan, partition cols, input files), and different
    partition keys do not share entries."""
    iv_ops._INTERVAL_STATS_MEMO.clear()
    try:
        pts, ivs = _interval_fixture(spark)
        s1 = iv_ops._interval_side_stats(ivs, ["user_id"])
        assert len(iv_ops._INTERVAL_STATS_MEMO) == 1
        s2 = iv_ops._interval_side_stats(ivs, ["user_id"])
        assert s2 == s1 and len(iv_ops._INTERVAL_STATS_MEMO) == 1
        s3 = iv_ops._interval_side_stats(ivs, [])
        assert s3 == (s1[0], s1[0])  # no key: total doubles as max-per-key
        assert len(iv_ops._INTERVAL_STATS_MEMO) == 2
        # the memoized decision feeds the dispatcher identically
        out = iv_ops.interval_semijoin(pts, ivs, ["user_id"], ts_col="ts",
                                       plan="auto")
        want = iv_ops.interval_semijoin(pts, ivs, ["user_id"], ts_col="ts")
        assert _sorted_rows(out) == _sorted_rows(want)
    finally:
        iv_ops._INTERVAL_STATS_MEMO.clear()


# ---------------------------------------------------------------------------
# subtract_intervals: one plan, the merged sub side broadcast
# ---------------------------------------------------------------------------

def _subtract_fixture(spark):
    t0 = datetime(2024, 1, 1)
    base = spark.createDataFrame(
        [
            ("u1", t0, t0 + timedelta(hours=8)),
            ("u1", t0 + timedelta(hours=10), t0 + timedelta(hours=12)),
            ("u2", t0 + timedelta(hours=1), t0 + timedelta(hours=5)),
        ],
        "user_id string, start_time timestamp, end_time timestamp",
    )
    sub = spark.createDataFrame(
        [
            ("u1", t0 + timedelta(hours=2), t0 + timedelta(hours=3)),
            ("u1", t0 + timedelta(hours=6), t0 + timedelta(hours=7)),
            ("u2", t0 + timedelta(hours=2), t0 + timedelta(hours=9)),
        ],
        "user_id string, start_time timestamp, end_time timestamp",
    )
    return base, sub


def _subtract_want(t0, *pieces):
    return sorted(
        tuple(v if isinstance(v, str) else t0 + timedelta(hours=v) for v in p)
        for p in pieces
    )


def test_subtract_partitioned_plans_broadcast_hash_join(spark):
    """With partition keys the clip join is a broadcast hash join on
    them; ``plan="auto"`` is the same plan."""
    base, sub = _subtract_fixture(spark)
    want = _subtract_want(
        datetime(2024, 1, 1),
        ("u1", 0, 2), ("u1", 3, 6), ("u1", 7, 8), ("u1", 10, 12), ("u2", 1, 2),
    )
    for plan in (None, "auto"):
        out = iv_ops.subtract_intervals(base, sub, ["user_id"], plan=plan)
        executed = _executed_plan(out)
        assert "BroadcastHashJoin" in executed
        assert "BroadcastNestedLoopJoin" not in executed
        assert _sorted_rows(out) == want


def test_subtract_no_partition_cols_plans_broadcast_nested_loop(spark):
    """Empty partition_cols: a range-only clip predicate has no
    equi-key, so the plan is the broadcast nested-loop join with the
    (merged, small) sub side as the build side."""
    base, sub = _subtract_fixture(spark)
    out = iv_ops.subtract_intervals(base.drop("user_id"), sub.drop("user_id"), [])
    executed = _executed_plan(out)
    assert "BroadcastNestedLoopJoin" in executed and "BuildRight" in executed
    assert _sorted_rows(out) == _subtract_want(
        datetime(2024, 1, 1), (0, 2), (1, 2), (10, 12),
    )


def test_subtract_rejects_unknown_plan(spark):
    base, sub = _subtract_fixture(spark)
    for plan in ("broadcast", "shuffle", "nope"):
        with pytest.raises(ValueError, match="unknown subtract_intervals plan"):
            iv_ops.subtract_intervals(base, sub, ["user_id"], plan=plan)


def test_subtract_computes_no_interval_stats(spark, monkeypatch):
    """No plan is chosen from statistics, so neither the default nor
    ``plan="auto"`` runs the interval-side stats job, with or without
    partition keys."""

    def no_stats(*_args, **_kwargs):
        raise AssertionError("subtract_intervals ran an interval stats job")

    monkeypatch.setattr(iv_ops, "_interval_side_stats", no_stats)
    base, sub = _subtract_fixture(spark)
    for plan in (None, "auto"):
        assert iv_ops.subtract_intervals(base, sub, ["user_id"], plan=plan).count() == 5
        unkeyed = iv_ops.subtract_intervals(
            base.drop("user_id"), sub.drop("user_id"), [], plan=plan
        )
        assert unkeyed.count() == 3
