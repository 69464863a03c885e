"""Interval algebra (SURVEY.md §2.4 J2-J4, §2.6 W7): merge, subtract,
containment joins — the reference's two-pointer sweeps re-expressed as
sweep-line window plans that distribute.

Interval tables are ``(partition_cols..., start_time, end_time)``.
All operators assume inclusive bounds, matching the reference
(``check_overlap`` treats touching intervals as overlapping,
``/root/reference/activity_categorize.py:145-149``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_intervals(
    df: DataFrame,
    partition_cols: list[str],
    start_col: str = "start_time",
    end_col: str = "end_time",
) -> DataFrame:
    """W7: coalesce overlapping/touching intervals (``merge_intervals``,
    ``/root/reference/activity_categorize.py:92-102``).

    Sweep: an interval starts a new island iff its start exceeds the
    running max of all previous ends. One window pass + one aggregate.
    """
    w = Window.partitionBy(*partition_cols).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "_new",
        F.when(prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1).otherwise(0),
    ).withColumn(
        "_grp", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy(*partition_cols, "_grp")
        .agg(F.min(start_col).alias(start_col), F.max(end_col).alias(end_col))
        .drop("_grp")
    )


def subtract_intervals(
    base: DataFrame,
    sub: DataFrame,
    partition_cols: list[str],
    start_col: str = "start_time",
    end_col: str = "end_time",
    plan: str | None = None,
) -> DataFrame:
    """J4: temporal EXCEPT — remove from each ``base`` interval every
    region covered by any ``sub`` interval (``subtract_intervals``,
    ``/root/reference/activity_categorize.py:104-143``).

    The reference is a sequential two-pointer generator. Distributed
    plan: boundary sweep-line —
      1. merge ``sub`` (so covered regions are disjoint),
      2. emit +1/−1 boundary events for merged sub-intervals,
      3. for each base interval, clip sub boundaries to it via a range
         join with the merged sub side broadcast,
      4. rebuild the uncovered gaps per base interval with a window scan
         over the clipped sub spans.

    Matches the reference's boundary handling: subtracting [s,e] from
    [a,b] yields [a,s] and [e,b] (touching endpoints retained, zero-width
    pieces included when a==s or e==b — reference emits those via its
    ``a[0] <= b[0]`` branch at ``:127,133-135``; it also emits pieces
    where start == end; we keep zero-width pieces for parity).

    There is one plan. With ``partition_cols`` the clip join is a
    broadcast hash join on the keys with the range predicate as a
    residual; without them it is a broadcast nested-loop join. A
    shuffled twin would hash on the same keys and apply the same
    residual, so per-key multiplicity costs it no less, and no
    measurement shows it winning. ``plan`` accepts only ``None`` and
    ``"auto"``, both meaning this plan; the keyword is kept because
    existing callers pass ``plan="auto"``.
    """
    if plan not in (None, "auto"):
        raise ValueError(f"unknown subtract_intervals plan {plan!r}")
    # deterministic per-base-interval id: row_number over the interval
    # sort keys. monotonically_increasing_id would be re-evaluated
    # independently in the left_pieces and tail branches of the union
    # below (and on stage retry), letting the two branches disagree on
    # which base row owns which id. Identical duplicate rows may swap
    # ids between evaluations, but they are interchangeable — every
    # assignment yields the same output multiset.
    wb = Window.partitionBy(*partition_cols).orderBy(start_col, end_col)
    b = base.withColumn("_bid", F.row_number().over(wb))
    s = merge_intervals(sub, partition_cols, start_col, end_col).select(
        *partition_cols,
        F.col(start_col).alias("_ss"),
        F.col(end_col).alias("_se"),
    )
    # clip sub intervals to each base interval (overlap predicate mirrors
    # check_overlap: touching counts as overlap)
    cond = (F.col("_ss") <= b[end_col]) & (F.col("_se") >= b[start_col])
    for c in partition_cols:
        cond = (b[c] == s[c]) & cond
    clipped = b.join(F.broadcast(s), on=cond, how="left").select(
        *[b[c] for c in partition_cols],
        b["_bid"],
        b[start_col].alias("_bs"),
        b[end_col].alias("_be"),
        F.col("_ss").alias("_ss0"),
        # greatest/least ignore NULLs — keep NULL for unmatched base rows
        # so the no-overlap case falls through to the tail emitter
        F.when(
            F.col("_ss").isNotNull(), F.greatest(F.col("_ss"), b[start_col])
        ).alias("_cs"),
        F.when(
            F.col("_se").isNotNull(), F.least(F.col("_se"), b[end_col])
        ).alias("_ce"),
    )
    # per base interval, walk clipped covered spans in order and emit
    # gaps (_bid is unique only within its partition group, so the
    # window keys include the partition columns)
    w = Window.partitionBy(*partition_cols, "_bid").orderBy("_cs")
    gaps = (
        clipped.withColumn(
            "_prev_end",
            F.coalesce(
                F.max("_ce").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.col("_bs"),
            ),
        )
        .withColumn("_gap_start", F.col("_prev_end"))
        .withColumn("_gap_end", F.col("_cs"))
    )
    # emit a gap piece only when the remaining base start is at or before
    # the UNCLIPPED sub start (reference emits nothing when the sub begins
    # before the base interval, ``activity_categorize.py:127,133-134``)
    left_pieces = gaps.filter(
        F.col("_cs").isNotNull() & (F.col("_gap_start") <= F.col("_ss0"))
    ).select(
        *partition_cols,
        "_bid",
        F.col("_gap_start").alias(start_col),
        F.col("_gap_end").alias(end_col),
    )
    # tail piece after the last covered span (or the whole base interval
    # when nothing overlapped)
    tail = (
        clipped.groupBy(*partition_cols, "_bid", "_bs", "_be")
        .agg(F.max("_ce").alias("_max_ce"))
        .withColumn("_tail_start", F.coalesce(F.col("_max_ce"), F.col("_bs")))
        .filter(
            (F.col("_max_ce").isNull()) | (F.col("_max_ce") < F.col("_be"))
        )
        .select(
            *partition_cols,
            "_bid",
            F.col("_tail_start").alias(start_col),
            F.col("_be").alias(end_col),
        )
    )
    return left_pieces.unionByName(tail).drop("_bid")


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    partition_cols: list[str] | None = None,
    left_cols: tuple[str, str] = ("start_time", "end_time"),
    right_cols: tuple[str, str] = ("start_time", "end_time"),
    bin_width_s: int = 3600,
) -> DataFrame:
    """General interval-overlap join (beyond the reference's containment
    semijoin J2): every (left, right) pair whose closed intervals
    intersect — ``l.start <= r.end AND r.start <= l.end`` (inclusive
    bounds, the repo-wide convention; touching intervals match).

    Scale plan — NO cross join, NO broadcast-nested-loop: both sides
    explode their intervals into epoch bins of ``bin_width_s`` via
    ``sequence()`` and equi-join on ``(partition_cols..., bin)``, which
    shuffles on a bounded key instead of comparing all pairs. A pair
    sharing k bins would match k times; instead of a dedup shuffle the
    join keeps exactly the FIRST common bin — ``bin ==
    floor(unix(greatest(l.start, r.start)) / W)`` — so each matching
    pair survives once, for free. Cost scales with
    Σ interval_length/W per side; pick ``bin_width_s`` near the typical
    interval length (wider → fewer replicas but fuller bins).

    Output: left columns as-is, right columns suffixed ``_r`` where
    they collide, plus ``overlap_seconds`` (0.0 for touching/point
    overlaps).
    """
    partition_cols = partition_cols or []
    ls, le = left_cols
    rs, re_ = right_cols
    w = int(bin_width_s)

    def binned(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(s)) / w),
                    F.floor(F.unix_timestamp(F.col(e)) / w),
                )
            ),
        )

    l = binned(left, ls, le).alias("l")
    r = binned(right, rs, re_).alias("r")
    rename = {
        c: f"{c}_r" for c in right.columns if c in set(left.columns)
    }
    cond = F.col("l._bin") == F.col("r._bin")
    for c in partition_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    # overlap predicate (closed intervals)
    cond = (
        cond
        & (F.col(f"l.{ls}") <= F.col(f"r.{re_}"))
        & (F.col(f"r.{rs}") <= F.col(f"l.{le}"))
        # first-common-bin: dedups multi-bin pairs without a shuffle
        & (
            F.col("l._bin")
            == F.floor(
                F.unix_timestamp(
                    F.greatest(F.col(f"l.{ls}"), F.col(f"r.{rs}"))
                )
                / w
            )
        )
    )
    out_cols = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}").alias(rename.get(c, c))
        for c in right.columns
        if c not in partition_cols
    ]
    overlap = (
        F.unix_micros(F.least(F.col(f"l.{le}"), F.col(f"r.{re_}")))
        - F.unix_micros(F.greatest(F.col(f"l.{ls}"), F.col(f"r.{rs}")))
    ) / 1_000_000.0
    return l.join(r, on=cond, how="inner").select(
        *out_cols, overlap.alias("overlap_seconds")
    )


#: bounded per-session memo for the auto dispatcher's stats job —
#: keyed (application, semanticHash(plan), partition cols, input-file
#: fingerprint) so repeated auto calls against the same interval
#: definition pay the agg once, and an appended/relisted input
#: invalidates (same contract as similarity._n_vectors_cached; a file
#: REWRITTEN in place under an unchanged name is not detected —
#: session-static snapshot inputs assumed)
_INTERVAL_STATS_MEMO: dict = {}
_INTERVAL_STATS_MEMO_MAX = 8


def _interval_side_stats(
    intervals: DataFrame, partition_cols: list[str]
) -> tuple[int, int]:
    """Cheap stats the auto dispatcher decides on: (total interval
    rows, max intervals per partition key). One bounded agg job over
    the interval side only — never touches the probe table; memoized
    per (session, plan, files) so a loop of auto calls prices the
    decision once."""
    try:
        plan_key = intervals.semanticHash()
    except Exception:
        plan_key = None
    key = None
    if plan_key is not None:
        try:
            files_key = hash(tuple(sorted(intervals.inputFiles())))
        except Exception:
            files_key = None
        key = (
            intervals.sparkSession.sparkContext.applicationId,
            plan_key,
            tuple(partition_cols),
            files_key,
        )
        hit = _INTERVAL_STATS_MEMO.get(key)
        if hit is not None:
            _INTERVAL_STATS_MEMO.pop(key)
            _INTERVAL_STATS_MEMO[key] = hit
            return hit
    if partition_cols:
        row = (
            intervals.groupBy(*partition_cols)
            .count()
            .agg(F.sum("count").alias("total"), F.max("count").alias("mx"))
            .first()
        )
        stats = int(row["total"] or 0), int(row["mx"] or 0)
    else:
        n = intervals.count()
        stats = (n, n)
    if key is not None:
        while len(_INTERVAL_STATS_MEMO) >= _INTERVAL_STATS_MEMO_MAX:
            _INTERVAL_STATS_MEMO.pop(next(iter(_INTERVAL_STATS_MEMO)))
        _INTERVAL_STATS_MEMO[key] = stats
    return stats


def interval_semijoin(
    df: DataFrame,
    intervals: DataFrame,
    partition_cols: list[str],
    ts_col: str = "date_time",
    start_col: str = "start_time",
    end_col: str = "end_time",
    anti: bool = False,
    plan: str = "broadcast",
    bin_width_s: int = 3600,
    broadcast_row_limit: int = 2_000_000,
    per_key_limit: int = 100,
) -> DataFrame:
    """J2/J3: keep rows whose timestamp falls inside any interval
    (``df_filter``, ``/root/reference/filtering_data.py:114-124``;
    sleep-mask ``activity_categorize.py:154-158``).

    ``plan="broadcast"`` (default): broadcast left-semi range join —
    the interval side is tiny (hundreds of rows per subject) so the
    build side broadcasts and the probe side streams, no shuffle of
    the big table. ``plan="binned"``: delegate to
    :func:`interval_semijoin_binned` (the big-interval-side twin).

    ``plan="auto"``: pick by the measured SCALE_r11 crossover rule —
    broadcast wins ONLY while the interval side is both small enough
    to broadcast AND sparse per partition key; once per-key
    multiplicity leaves the ~10^2 regime (broadcast probe cost is
    rows × intervals-per-key) or the build side approaches broadcast
    limits, the binned shuffle plan wins at every measured K and the
    broadcast plan eventually DNFs on the build-side materialization
    (``docs/SCALE_r11.md``: 17 vs 34 s at K=256, 55 vs 320 s at
    K=2048, broadcast DNF at K=16384). The decision reads one bounded
    agg over the interval side (total rows + max per-key count — cheap
    relative to the join it sizes); the binned path is taken with the
    shuffle hint, the regime where it measured fastest.
    """
    if plan not in ("broadcast", "binned", "auto"):
        raise ValueError(f"unknown interval_semijoin plan {plan!r}")
    if plan == "auto":
        total, max_per_key = _interval_side_stats(intervals, partition_cols)
        plan = (
            "broadcast"
            if total <= broadcast_row_limit and max_per_key <= per_key_limit
            else "binned"
        )
        if plan == "binned":
            return interval_semijoin_binned(
                df, intervals, partition_cols, ts_col=ts_col,
                start_col=start_col, end_col=end_col,
                bin_width_s=bin_width_s, anti=anti, force_shuffle=True,
            )
    elif plan == "binned":
        return interval_semijoin_binned(
            df, intervals, partition_cols, ts_col=ts_col,
            start_col=start_col, end_col=end_col,
            bin_width_s=bin_width_s, anti=anti,
        )
    cond = (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    for c in partition_cols:
        cond = (df[c] == intervals[c]) & cond
    how = "left_anti" if anti else "left_semi"
    return df.join(F.broadcast(intervals), on=cond, how=how)


def interval_semijoin_binned(
    df: DataFrame,
    intervals: DataFrame,
    partition_cols: list[str],
    ts_col: str = "date_time",
    start_col: str = "start_time",
    end_col: str = "end_time",
    bin_width_s: int = 3600,
    anti: bool = False,
    force_shuffle: bool = False,
) -> DataFrame:
    """J2/J3 at big-big scale: the shuffle-partitioned twin of
    ``interval_semijoin`` for when the interval side is too large to
    broadcast (the scale path that function's docstring promises).

    Plan: the interval side explodes into epoch bins of ``bin_width_s``
    via ``sequence()`` (one row per covered bin); the point side
    computes its single bin with ``floor(unix(ts)/W)``. A LEFT SEMI
    (or LEFT ANTI) hash join on ``(partition_cols..., bin)`` with the
    containment residual replaces the broadcast range join — both
    sides shuffle once on a bounded equi-key, no build-side size
    limit, no BroadcastNestedLoop. Semi/anti semantics absorb the
    one-interval-many-bins replication for free (no dedup pass: a
    probe row matches at most once per semantics, and its bin is
    unique). Cost scales with Σ interval_length / W on the build
    side; pick ``bin_width_s`` near the typical interval length.

    Because the join is a plain equi-join, Catalyst still broadcasts
    the exploded side when it happens to fit (optimal) and falls back
    to a sort-merge/shuffled-hash join when it doesn't — unlike the
    broadcast range join, which hard-fails once the build side
    outgrows memory (degradation plan-asserted in
    ``tests/test_skew_rangejoin.py``). ``force_shuffle=True`` pins the
    SHUFFLE_HASH strategy on the exploded side — the regime
    ``docs/SCALE_r11.md`` measured fastest once per-key multiplicity
    is high (bin replication makes the exploded side big enough that
    even a feasible broadcast loses to the hash shuffle).

    Same inclusive-bounds convention as ``interval_semijoin``
    (touching timestamps match — ``check_overlap``,
    ``/root/reference/activity_categorize.py:145-149``).
    """
    w = int(bin_width_s)
    binned_iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / w),
                F.floor(F.unix_timestamp(F.col(end_col)) / w),
            )
        ),
    )
    if force_shuffle:
        binned_iv = binned_iv.hint("shuffle_hash")
    probe = df.withColumn("_bin", F.floor(F.unix_timestamp(F.col(ts_col)) / w))
    cond = (
        (probe["_bin"] == binned_iv["_bin"])
        & (probe[ts_col] >= binned_iv[start_col])
        & (probe[ts_col] <= binned_iv[end_col])
    )
    for c in partition_cols:
        cond = (probe[c] == binned_iv[c]) & cond
    how = "left_anti" if anti else "left_semi"
    return probe.join(binned_iv, on=cond, how=how).drop("_bin")
