"""Event analytics: funnel conversion, cohort retention, grouped
linear trends (north-star ops, no reference analog — the product-
analytics staples any event table this shape gets asked for).

All three are pure DataFrame plans shuffling only on their natural
keys (user / cohort), engine-reproducible so DuckDB oracles can
certify them bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel(
    df: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Strictly-sequential funnel: a user reaches stage *i* at the
    EARLIEST event of type ``stages[i]`` at-or-after their stage *i-1*
    time (first-touch attribution; ties at the same timestamp count —
    the closed-bound convention used repo-wide).

    Returns one row per stage: ``(stage_index, stage, n_users,
    conversion)`` where conversion is the fraction of stage-0 users
    surviving to stage *i* (round 6).

    Plan: the per-stage times are ``len(stages)`` stacked unbounded
    window aggregates over the SAME user partitioning — one shuffle
    total, each stage's condition referencing the previous stage's
    window column; then a per-user collapse and one tiny 1-row
    aggregate unpivoted with ``stack`` (zero extra shuffles of event
    rows). No self-joins of the event table.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    w = Window.partitionBy(user_col)
    cur = df.select(user_col, type_col, ts_col)
    prev_t: str | None = None
    for i, s in enumerate(stages):
        cond = F.col(type_col) == s
        if prev_t is not None:
            cond = cond & (F.col(ts_col) >= F.col(prev_t))
        cur = cur.withColumn(
            f"_t{i}", F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev_t = f"_t{i}"
    per_user = cur.groupBy(user_col).agg(
        *[F.min(f"_t{i}").alias(f"_t{i}") for i in range(len(stages))]
    )
    one = per_user.agg(
        *[F.count(f"_t{i}").alias(f"_n{i}") for i in range(len(stages))]
    )
    # Unpivot WITHOUT selectExpr: stage names are caller data (reachable
    # from the CLI --stages flag), so they must never be interpolated
    # into SQL text — a quote/comma in a name would break parsing or
    # inject expressions. inline(array(struct...)) with F.lit carries
    # the names as bound literals; the plan is identical to stack().
    long = one.select(
        "_n0",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("stage_index"),
                        F.lit(s).alias("stage"),
                        F.col(f"_n{i}").alias("n_users"),
                    )
                    for i, s in enumerate(stages)
                ]
            )
        ),
    )
    return long.select(
        F.col("stage_index").cast("int"),
        "stage",
        F.col("n_users").cast("long"),
        F.when(
            F.col("_n0") > 0,
            F.round(
                F.col("n_users").cast("double") / F.col("_n0").cast("double"),
                6,
            ),
        ).alias("conversion"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain: str = "week",
) -> DataFrame:
    """Cohort retention triangle: users are cohorted by the ``grain``
    period of their FIRST event; each (cohort, offset) cell counts the
    distinct cohort members active ``offset`` periods later.

    Returns ``(cohort_start, period_offset, n_active, retention)``
    with retention = n_active / cohort size (round 6; offset 0 is 1.0
    by construction).

    Plan: per-user first-event aggregate (shuffle on user), joined back
    on the user key (co-partitioned — AQE reuses the hash layout), then
    one groupBy on (cohort, offset) with a distinct-user count. Offsets
    are exact integer day arithmetic on ``date_trunc`` boundaries, so
    both engines derive identical cells.
    """
    days_per = {"week": 7, "day": 1}[grain]
    first = df.groupBy(user_col).agg(F.min(ts_col).alias("_first_ts"))
    cohorted = df.join(first, user_col)
    cohort = F.date_trunc(grain, F.col("_first_ts"))
    active = F.date_trunc(grain, F.col(ts_col))
    # TIMESTAMP, not DATE: Spark DATE surfaces to pandas/Arrow as
    # python date objects while other engines' DATE surfaces as
    # datetime64 — midnight-aligned TIMESTAMP round-trips identically
    # everywhere (the week boundary is midnight by construction)
    celled = cohorted.select(
        F.col(user_col),
        cohort.alias("cohort_start"),
        (F.datediff(active, cohort) / days_per).cast("int").alias(
            "period_offset"
        ),
    )
    cells = celled.groupBy("cohort_start", "period_offset").agg(
        F.countDistinct(user_col).alias("n_active")
    )
    size = cells.filter(F.col("period_offset") == 0).select(
        "cohort_start", F.col("n_active").alias("_cohort_size")
    )
    return (
        cells.join(F.broadcast(size), "cohort_start")
        .select(
            "cohort_start",
            "period_offset",
            "n_active",
            F.round(
                F.col("n_active").cast("double")
                / F.col("_cohort_size").cast("double"),
                6,
            ).alias("retention"),
        )
    )


def cusum_changepoint(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """CUSUM changepoint score per group: the running sum of deviations
    from the group MEDIAN, reported at its maximum absolute excursion —
    the classic drift detector (a mean-shift at time t makes |CUSUM|
    grow linearly after t, so the argmax localizes the change).

    The reference level is the exact MEDIAN, not the mean, for
    engine-reproducibility: a mean is an unordered float sum whose low
    bits depend on partition order, and it feeds the cusum BEFORE any
    rounding can stabilize it; the median is an exact selection (or one
    midpoint division), so every engine computes the identical prefix
    sequence — the ordered prefix sums themselves are then
    bit-deterministic because both engines add in the same (ts,
    tiebreak) order. Rows with NULL value are excluded up front.

    Output: one row per group — ``(group_cols..., n_points, cusum_max,
    change_ts)`` where ``cusum_max`` is the max |CUSUM| (round 6) and
    ``change_ts`` the timestamp where it occurs (earliest on ties).
    Plan: one tiny median aggregate broadcast back, one window pass,
    one ranked reduction — all on the group key's single shuffle.
    """
    data = df.filter(F.col(value_col).isNotNull())
    med = data.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    joined = data.join(F.broadcast(med), on=group_cols, how="inner")
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    cusum = F.sum(F.col(value_col) - F.col("_med")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = joined.withColumn("_cusum", cusum)
    pick = Window.partitionBy(*group_cols).orderBy(
        F.abs(F.col("_cusum")).desc(), F.col(ts_col).asc(), *order[1:]
    )
    n = F.count("*").over(Window.partitionBy(*group_cols))
    return (
        scored.withColumn("_rn", F.row_number().over(pick))
        .withColumn("_n", n)
        .filter(F.col("_rn") == 1)
        .select(
            *group_cols,
            F.col("_n").alias("n_points"),
            F.round(F.abs(F.col("_cusum")), 6).alias("cusum_max"),
            F.col(ts_col).alias("change_ts"),
        )
    )


def trend_slope(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-group linear trend of ``value`` over time: OLS slope /
    intercept / correlation via the built-in ``regr_*`` aggregates
    (single-pass, map-side-combinable — no per-group collect).

    The regressor is HOURS SINCE THE GROUP'S FIRST EVENT, not raw epoch
    seconds: with epoch-scale x the slope magnitude lands below the
    round-6 oracle precision and every group would flatten to 0.0. The
    offset is derived with one extra window min over the same grouping
    (no second shuffle) and is exact integer-µs arithmetic, so both
    engines regress on identical x. Rows with NULL value are excluded
    pairwise, as ``regr_*`` defines.

    Output: ``(group_cols..., n_points, slope_per_hour, intercept,
    corr_xy)`` — aggregates rounded to 6 (float sums are order-dependent
    in the last bits; the repo-wide rounding convention).

    Degenerate groups return NULL, matching SQL-standard ``regr_*``:
    zero x-variance (or a single valid pair) nulls all three. The
    correlation is covar_pop/(σx·σy) via ``try_divide`` rather than
    ``corr()`` — under Spark 4's default ANSI mode ``corr`` RAISES
    DIVIDE_BY_ZERO on a zero-variance group (measured), while the
    manual form degrades to NULL exactly like other engines' corr.
    """
    w = Window.partitionBy(*group_cols)
    x = (
        (
            F.unix_micros(F.col(ts_col))
            - F.min(F.unix_micros(F.col(ts_col))).over(w)
        ).cast("double")
        / 3.6e9
    )
    based = df.withColumn("_x", x)
    return based.groupBy(*group_cols).agg(
        F.count(value_col).alias("n_points"),
        F.round(F.expr(f"regr_slope({value_col}, _x)"), 6).alias(
            "slope_per_hour"
        ),
        F.round(F.expr(f"regr_intercept({value_col}, _x)"), 6).alias(
            "intercept"
        ),
        # pairwise-complete moments: each stddev only over rows where
        # the OTHER column is also non-null, like corr() would
        F.round(
            F.expr(
                "try_divide("
                f"covar_pop(_x, {value_col}), "
                f"stddev_pop(CASE WHEN {value_col} IS NOT NULL THEN _x END) * "
                f"stddev_pop(CASE WHEN _x IS NOT NULL THEN {value_col} END))"
            ),
            6,
        ).alias("corr_xy"),
    )


def transition_matrix(
    df: DataFrame,
    entity_col: str,
    state_col: str,
    order_cols: list[str],
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences: for each ordered pair of consecutive states within an
    entity's timeline, the transition count and the row-normalized
    probability P(to | from).

    Plan: one ``lead`` window pass partitioned by the entity (the
    natural shuffle key — sequences never cross entities, so this
    distributes evenly at any scale), a (from, to) group-count, and a
    window-normalize over the from-state marginals. ``order_cols``
    must make the per-entity ordering total (include a tie-break id).

    Output: ``from_state, to_state, n_transitions, p`` (p rounded 6).
    """
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    pairs = (
        df.withColumn("_next", F.lead(state_col).over(w))
        .filter(F.col("_next").isNotNull())
        .select(
            F.col(state_col).alias("from_state"),
            F.col("_next").alias("to_state"),
        )
    )
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    marginal = Window.partitionBy("from_state")
    return counts.withColumn(
        "p",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(marginal),
            6,
        ),
    )


def ewma_smooth(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.25,
    tiebreak_cols: list[str] | None = None,
    round_decimals: int | None = 6,
) -> DataFrame:
    """Per-entity exponentially weighted moving average:
    ``y_i = alpha*x_i + (1-alpha)*y_{i-1}`` with ``y_1 = x_1`` — the
    standard smoothing/denoising pass for sensor and metric streams.

    An EWMA is a linear RECURRENCE, not a window aggregate — no
    unbounded-preceding frame expresses it exactly without a
    numerically explosive ``(1-alpha)^-i`` rescale. Plan: per entity,
    ``sort_array(collect_list(struct(ts, tiebreaks..., x)))`` gives a
    deterministic ordered series, one JVM ``aggregate`` fold builds
    the smoothed array left-to-right, and ``posexplode`` of the zipped
    arrays restores one row per input point. One shuffle on the entity
    key; the fold is codegen-free but JVM-side (no Python).

    Scale contract: an entity's FULL series must fit one executor's
    row budget (same bounded-per-entity assumption as the reference's
    per-subject flow and the ``asof`` greedy plan) — entities
    distribute, series length does not. COMPUTE is the tighter bound:
    the fold copies the whole accumulator per element (O(n²) element
    copies per entity — see the measured slope in ``docs/SCALE_r12``),
    so past ~10⁴-10⁵ points per entity use
    :func:`ewma_smooth_blocked`, the O(n) twin (same plan shape,
    ~ulp agreement, its own bit-exact driver oracle). Prefer alpha
    with an exact
    binary representation (0.25, 0.5, 0.125) so the fold arithmetic is
    bit-reproducible across engines; with that and both engines
    folding in the same (ts, tiebreaks) order the smoothed values are
    IDENTICAL, not merely close.

    Output: ``group_cols..., ts, x, ewma`` (rounded to
    ``round_decimals`` for display unless None).
    """
    tb = tiebreak_cols or []
    struct_fields = [F.col(ts_col).alias("_t")] + [
        F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)
    ] + [F.col(value_col).cast("double").alias("_x")]
    grouped = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list(F.struct(*struct_fields))).alias("_s"))
    )
    a, b = float(alpha), 1.0 - float(alpha)
    smoothed = F.aggregate(
        F.col("_s"),
        F.expr("cast(array() as array<double>)"),
        lambda acc, s: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, s["_x"]).otherwise(
                    F.lit(a) * s["_x"] + F.lit(b) * F.element_at(acc, -1)
                )
            ),
        ),
    )
    out = (
        grouped.withColumn("_y", smoothed)
        .select(
            *group_cols,
            F.posexplode(F.arrays_zip(F.col("_s"), F.col("_y"))).alias(
                "_i", "_z"
            ),
        )
        .select(
            *group_cols,
            F.col("_z._s._t").alias(ts_col),
            F.col("_z._s._x").alias("x"),
            F.col("_z._y").alias("ewma"),
        )
    )
    if round_decimals is not None:
        out = out.withColumn("ewma", F.round("ewma", round_decimals))
    return out


def ewma_smooth_blocked(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.25,
    tiebreak_cols: list[str] | None = None,
    block_size: int = 256,
    round_decimals: int | None = 6,
) -> DataFrame:
    """O(n) per-entity EWMA — the LONG-SERIES twin of
    :func:`ewma_smooth`.

    The exact fold in :func:`ewma_smooth` builds its output array with
    one whole-array copy per element (``concat(acc, array(y))`` inside
    ``F.aggregate``), i.e. O(n²) element copies per entity — fine to
    ~10⁴-10⁵ points, hopeless at millions. This variant is linear:

    1. split each entity's sorted series into fixed blocks of
       ``block_size`` (= B);
    2. fold each block ONCE with carry-in 0, producing per-element
       partials ``A_i`` (the fold value ignoring the carry) and decay
       weights ``p_i = (1-α)^i`` — the recurrence is affine in the
       carry, so a block's true values are ``A_i + p_i·c`` for its
       carry-in ``c``. Per-block copy cost O(B²) ⇒ O(n·B) total,
       linear in n at fixed B;
    3. chain the carries across blocks (one tiny fold over n/B block
       summaries: ``c_j = Aend_j + Pend_j·c_{j-1}``);
    4. reconstruct ``y = A + p·c`` per element and re-explode.

    All JVM-side higher-order functions — no Python, one entity-key
    shuffle, same plan shape as the exact fold.

    Numerics: the blocked association is a DIFFERENT (deterministic,
    engine-reproducible) floating-point association than the
    sequential recurrence — agreement with :func:`ewma_smooth` is to
    ~ulp (relative ~1e-15; decays by (1-α)^i from the block boundary),
    NOT bit-identical. For series ≤ B it degenerates to the exact fold
    (block 0 folds the true recurrence), so results there ARE
    bit-identical. The driver oracle for this operator replays the
    SAME blocked association in DuckDB, certifying it raw
    (``__spark_entry__.q_ewma_blocked``). Same bounded-series memory
    contract as the exact fold (an entity's series is collected to one
    row); what this lifts is the quadratic COMPUTE, not the row
    budget.

    Crossover (measured, ``docs/SCALE_r13.md``): this is the fastest
    EWMA plan while series fit comfortably in an executor row — linear
    through 2.56 M points/entity (52 s) — so prefer it below ~2×10⁶
    points/entity; past that (or when series length is
    unbounded/unknown, or the collect_list row would crowd executor
    memory) switch to :func:`ewma_smooth_distributed`, which beat this
    plan outright in the wide-key 64×640k cell (278 vs 319 s) and has
    no per-entity row bound at all. :func:`ewma` with ``plan="auto"``
    applies exactly these boundaries.
    """
    tb = tiebreak_cols or []
    struct_fields = [F.col(ts_col).alias("_t")] + [
        F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)
    ] + [F.col(value_col).cast("double").alias("_x")]
    grouped = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list(F.struct(*struct_fields))).alias("_s"))
    )
    a, b = float(alpha), 1.0 - float(alpha)
    B = int(block_size)
    if B < 1:
        raise ValueError(f"block_size must be >= 1, got {block_size}")

    zero = F.struct(
        F.expr("cast(array() as array<double>)").alias("A"),
        F.expr("cast(array() as array<double>)").alias("p"),
    )

    def fold_block(blk, j):
        # per-block fold with carry-in 0: A = fold values, p = decay
        # weights (0 for block 0 — its fold IS the true recurrence,
        # y_1 = x_1 initial condition included)
        def merge(acc, s):
            first = F.size(acc["A"]) == 0
            new_a = F.when(
                first,
                F.when(j == 0, s["_x"]).otherwise(F.lit(a) * s["_x"]),
            ).otherwise(
                F.lit(a) * s["_x"] + F.lit(b) * F.element_at(acc["A"], -1)
            )
            new_p = F.when(j == 0, F.lit(0.0)).otherwise(
                F.when(first, F.lit(b)).otherwise(
                    F.lit(b) * F.element_at(acc["p"], -1)
                )
            )
            return F.struct(
                F.concat(acc["A"], F.array(new_a)).alias("A"),
                F.concat(acc["p"], F.array(new_p)).alias("p"),
            )

        return F.aggregate(blk, zero, merge)

    n_blocks = F.ceil(F.size("_s") / F.lit(B)).cast("int")
    # block construction via per-index element_at, NOT F.slice: Catalyst
    # Slice copies the ENTIRE parent array (toObjectArray) on every
    # call, turning blocking into O(n²/B) — measured 70× per 4× step at
    # 640k points. element_at is an O(1) indexed read, so this is O(n).
    blocks = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda j: F.transform(
            F.sequence(
                j * B + 1, F.least((j + 1) * B, F.size("_s"))
            ),
            lambda i: F.element_at(F.col("_s"), i),
        ),
    )
    carries = F.aggregate(
        F.col("_f"),
        F.expr("cast(array() as array<double>)"),
        lambda acc, f: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0, F.element_at(f["A"], -1)
                ).otherwise(
                    F.element_at(f["A"], -1)
                    + F.element_at(f["p"], -1) * F.element_at(acc, -1)
                )
            ),
        ),
    )
    # Plan assembly: the posexplode below is a GENERATOR boundary, and
    # that is load-bearing — Catalyst's CollapseProject otherwise fuses
    # everything into one Project and INLINES the carry-chain fold (and
    # through it the block folds) into the per-element reconstruction
    # lambda, re-evaluating O(n·B) of work per element (measured
    # quadratic, same order as the exact fold). Projections cannot
    # collapse through Generate, so _f and _c materialize once per
    # entity row and every lambda above the boundary reads plain
    # attributes: O(1) per element, O(n·B) total.
    staged = (
        grouped.withColumn("_blk", blocks)
        .withColumn("_f", F.transform(F.col("_blk"), fold_block))
        .withColumn("_c", carries)
    )
    per_block = (
        staged.select(
            *group_cols,
            "_c",
            F.posexplode(F.arrays_zip(F.col("_blk"), F.col("_f"))).alias(
                "_j", "_z"
            ),
        )
        .select(
            *group_cols,
            F.col("_z._blk").alias("_b"),
            F.col("_z._f").alias("_fb"),
            F.when(F.col("_j") == 0, F.lit(0.0))
            .otherwise(F.element_at(F.col("_c"), F.col("_j")))
            .alias("_cin"),
        )
        .withColumn(
            "_yb",
            F.zip_with(
                F.col("_fb.A"),
                F.col("_fb.p"),
                lambda A, p: A + p * F.col("_cin"),
            ),
        )
    )
    out = (
        per_block.select(
            *group_cols,
            F.posexplode(F.arrays_zip(F.col("_b"), F.col("_yb"))).alias(
                "_i", "_z2"
            ),
        )
        .select(
            *group_cols,
            F.col("_z2._b._t").alias(ts_col),
            F.col("_z2._b._x").alias("x"),
            F.col("_z2._yb").alias("ewma"),
        )
    )
    if round_decimals is not None:
        out = out.withColumn("ewma", F.round("ewma", round_decimals))
    return out


def ewma_smooth_distributed(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.25,
    tiebreak_cols: list[str] | None = None,
    block_size: int = 4096,
    round_decimals: int | None = 6,
) -> DataFrame:
    """Fully distributed EWMA — the UNBOUNDED-SERIES twin of
    :func:`ewma_smooth_blocked`, for entities whose series do not fit
    one executor row.

    Both other plans collect an entity's whole series into ONE array
    row (`collect_list`), so their memory bound is series length. This
    plan never does: a per-entity `row_number` window (Spark's window
    sort spills to disk, unlike collect_list) assigns each point to a
    SEGMENT of ``block_size`` rows; segments are independent rows of
    bounded width everywhere downstream. Shape:

    1. one window pass assigns ``rn`` (order: ts, tiebreaks, value —
       the value in the key pins segment assignment under full ties,
       matching the struct sort the array plans use) and
       ``seg = (rn-1) div B``;
    2. groupBy (entity, seg): per-segment sorted array (≤ B rows per
       group at ANY series length) folded once with carry-in 0 into
       partials A and decay weights p — the SAME merge, in the SAME
       order, as :func:`ewma_smooth_blocked`'s per-block fold;
    3. groupBy entity: the per-segment (Aend, Pend) summaries (n/B
       rows → one array of n/B doubles per entity — 2 MB at a BILLION
       points with B=4096) chain into the carry array with the same
       fold as the blocked plan;
    4. join carries back on the entity key, reconstruct
       ``y = A + p·c`` per element, re-explode.

    Because every floating-point association is identical to
    :func:`ewma_smooth_blocked` at the same ``block_size``, the two
    plans are BIT-IDENTICAL (law pinned in tests), and the driver
    certifies this plan against the same blocked DuckDB oracle
    (``__spark_entry__.q_ewma_distributed``). Cost: two extra shuffles
    (segment regroup + carry join) buy the removal of the last
    per-entity memory bound — this is the plan to run at 100 TB when
    single entities are huge; prefer :func:`ewma_smooth_blocked` when
    series fit comfortably in an executor row.

    Measured profile (``docs/SCALE_r13.md``): ≈2× blocked's wall at
    equal ``block_size`` in a narrow 4-entity ladder (the shuffle
    constant), inverting to 0.87× in the wide-key 64-entity × 640k
    cell; 10.24 M points/entity in 15 min at B=256. Per entity the
    copy cost is ``n·B`` (segment folds) + ``(n/B)²`` (carry chain —
    single-task per entity), so no fixed B is linear forever: the
    minimizer is ``B* = (2n)^(1/3)`` (:func:`_ewma_dist_block_size`,
    which ``ewma(plan="auto")`` applies automatically). The 4096
    default serves the 10⁹+-points regime where the carry width
    ``n/B`` must stay small; pass ~256 (or use auto) below ~10⁷.
    Two structural traps this plan had to dodge are pinned in
    ``docs/CATALYST_NOTES.md`` (Note 13: generator fence; Note 14,
    found by the r13 slope rehearsal: the carry join must explode the
    carry array to scalars first — joining the array itself
    materializes O((n/B)²) bytes per entity through the exchange,
    measured as a 29.8× step at 2.56 M).
    """
    tb = tiebreak_cols or []
    a, b = float(alpha), 1.0 - float(alpha)
    B = int(block_size)
    if B < 1:
        raise ValueError(f"block_size must be >= 1, got {block_size}")

    w = Window.partitionBy(*group_cols).orderBy(
        ts_col, *tb, F.col(value_col).cast("double")
    )
    struct_fields = [F.col(ts_col).alias("_t")] + [
        F.col(c).alias(f"_tb{i}") for i, c in enumerate(tb)
    ] + [F.col(value_col).cast("double").alias("_x")]
    pts = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_seg", ((F.col("_rn") - 1) / F.lit(B)).cast("int")
        )
        .select(*group_cols, "_seg", F.struct(*struct_fields).alias("_e"))
    )
    segments = pts.groupBy(*group_cols, "_seg").agg(
        F.sort_array(F.collect_list("_e")).alias("_blk")
    )

    zero = F.struct(
        F.expr("cast(array() as array<double>)").alias("A"),
        F.expr("cast(array() as array<double>)").alias("p"),
    )

    def merge(acc, s):
        # identical merge (and therefore identical FP association) to
        # ewma_smooth_blocked's per-block fold, with the block index
        # read from the _seg column instead of a lambda variable
        first = F.size(acc["A"]) == 0
        new_a = F.when(
            first,
            F.when(F.col("_seg") == 0, s["_x"]).otherwise(
                F.lit(a) * s["_x"]
            ),
        ).otherwise(
            F.lit(a) * s["_x"] + F.lit(b) * F.element_at(acc["A"], -1)
        )
        new_p = F.when(F.col("_seg") == 0, F.lit(0.0)).otherwise(
            F.when(first, F.lit(b)).otherwise(
                F.lit(b) * F.element_at(acc["p"], -1)
            )
        )
        return F.struct(
            F.concat(acc["A"], F.array(new_a)).alias("A"),
            F.concat(acc["p"], F.array(new_p)).alias("p"),
        )

    folded = segments.withColumn(
        "_f", F.aggregate(F.col("_blk"), zero, merge)
    )
    summaries = folded.select(
        *group_cols,
        F.struct(
            F.col("_seg").alias("s"),
            F.element_at(F.col("_f.A"), -1).alias("ae"),
            F.element_at(F.col("_f.p"), -1).alias("pe"),
        ).alias("_sm"),
    )
    carries = summaries.groupBy(*group_cols).agg(
        F.aggregate(
            F.sort_array(F.collect_list("_sm")),
            F.expr("cast(array() as array<double>)"),
            lambda acc, s: F.concat(
                acc,
                F.array(
                    F.when(F.size(acc) == 0, s["ae"]).otherwise(
                        s["ae"] + s["pe"] * F.element_at(acc, -1)
                    )
                ),
            ),
        ).alias("_c")
    )
    # one carry SCALAR per segment row, never the whole carry array:
    # joining `carries` on the entity key alone would attach the full
    # n/B-wide array to every one of the n/B segment rows — O((n/B)²)
    # doubles per entity materialized through the join, measured as a
    # 30× per-4×-step blow-up past ~10⁶ points/entity (the r13 slope
    # rehearsal, docs/SCALE_r13.md). Exploding first makes the join a
    # co-partitioned (entity, seg) equi-join carrying one double per
    # row. posexplode is 0-based and _c[i] is the carry OUT of segment
    # i, so segment s reads the row exploded at i = s-1; segment 0 has
    # no such row and coalesces to carry-in 0. The exploded carry value
    # is numerically the SAME element element_at picked before — the
    # FP association (and the bit-identity law vs the blocked plan) is
    # untouched.
    carry_rows = carries.select(
        *group_cols, F.posexplode("_c").alias("_ci", "_cv")
    ).select(*group_cols, (F.col("_ci") + 1).alias("_seg"), "_cv")
    joined = folded.join(
        carry_rows, on=[*group_cols, "_seg"], how="left"
    ).withColumn("_cin", F.coalesce(F.col("_cv"), F.lit(0.0)))
    out = (
        joined.withColumn(
            "_y",
            F.zip_with(
                F.col("_f.A"),
                F.col("_f.p"),
                lambda A, p: A + p * F.col("_cin"),
            ),
        )
        .select(
            *group_cols,
            F.posexplode(F.arrays_zip(F.col("_blk"), F.col("_y"))).alias(
                "_i", "_z"
            ),
        )
        .select(
            *group_cols,
            F.col("_z._blk._t").alias(ts_col),
            F.col("_z._blk._x").alias("x"),
            F.col("_z._y").alias("ewma"),
        )
    )
    if round_decimals is not None:
        out = out.withColumn("ewma", F.round("ewma", round_decimals))
    return out


def _ewma_choose(max_per_entity: int, blocked_point_limit: int) -> str:
    """Pure plan rule for :func:`ewma` — split out so tests can pin the
    regime boundary without running a stats job.

    Only plans that win a measured regime are dispatched
    (``docs/SCALE_r13.md``): the blocked fold beat the exact fold at
    every measured size (1.67 vs 2.77 s at 2.5k points/entity, 1.52 vs
    36.65 s at 40k) and is linear but holds a whole entity in ONE
    collect_list row (measured linear through 2.56 M points/entity; the
    bound is executor row budget, not compute); the distributed plan
    has no per-entity memory bound at the price of two extra shuffles.
    """
    return "blocked" if max_per_entity <= blocked_point_limit else "distributed"


def _ewma_dist_block_size(max_per_entity: int) -> int:
    """Stats-driven segment size for the distributed plan: per entity
    the plan costs ~``n·B`` element copies in the segment folds plus
    ~``(n/B)²`` in the carry chain (both are concat-append
    ``F.aggregate`` folds — Catalyst HOFs have no O(1) append), so the
    copy-count minimizer is ``B* = (2n)^(1/3)``. Clamped to [256,
    4096]: below 256 the per-segment fixed costs (struct sort, group
    overhead) dominate; above 4096 the fold's quadratic-in-B term
    already costs more than the shuffles it saves (measured in
    ``docs/SCALE_r13.md`` — B=4096 ran ~14× slower than B=256 at
    160k-640k points/entity)."""
    return int(min(4096, max(256, round((2 * max(1, max_per_entity)) ** (1.0 / 3.0)))))


def ewma(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.25,
    tiebreak_cols: list[str] | None = None,
    block_size: int | None = None,
    round_decimals: int | None = 6,
    plan: str = "auto",
    blocked_point_limit: int = 2_000_000,
) -> DataFrame:
    """One EWMA entry point over the three certified plans —
    :func:`ewma_smooth` (exact fold), :func:`ewma_smooth_blocked`
    (O(n) long-series twin) and :func:`ewma_smooth_distributed`
    (no per-entity memory bound), chosen by ``plan``:

    - ``"exact"`` / ``"blocked"`` / ``"distributed"``: explicit.
    - ``"auto"`` (default): blocked up to ``blocked_point_limit``
      points per entity, distributed past it. One cheap per-entity
      count agg over ``df`` decides by :func:`_ewma_choose` — the same
      memoized-stats contract as ``interval_semijoin(plan="auto")``
      (the stats job is :func:`operators.intervals._interval_side_stats`,
      shared memo and all: keyed on (session, semantic plan hash,
      group cols, input-file fingerprint), so a loop of auto calls
      against the same table prices the decision once and an appended
      input invalidates it).

    Numeric contract: the exact plan is bit-identical to a sequential
    fold; blocked and distributed are bit-identical to EACH OTHER at
    equal ``block_size`` and within ~1 ulp of exact (identical after
    the default 6-decimal display rounding in every certified case).
    ``block_size=None`` keeps each plan's own default — except when
    AUTO dispatches the distributed plan, where the stats it already
    paid for size the segments via :func:`_ewma_dist_block_size`
    (``B* = (2n)^(1/3)``, the copy-count minimizer of the segment
    folds' n·B plus the carry chain's (n/B)²).
    """
    if plan not in ("auto", "exact", "blocked", "distributed"):
        raise ValueError(f"unknown ewma plan {plan!r}")
    if plan == "auto":
        # shared memoized stats job (see operators.intervals) — counts
        # only non-null values so the decision prices exactly the rows
        # the plans fold
        from .intervals import _interval_side_stats

        _total, max_per_entity = _interval_side_stats(
            df.filter(F.col(value_col).isNotNull()), group_cols
        )
        plan = _ewma_choose(max_per_entity, blocked_point_limit)
        if plan == "distributed" and block_size is None:
            # auto knows the series length — size the segments by the
            # copy-count minimizer instead of the static plan default
            block_size = _ewma_dist_block_size(max_per_entity)
    common = dict(
        group_cols=group_cols,
        ts_col=ts_col,
        value_col=value_col,
        alpha=alpha,
        tiebreak_cols=tiebreak_cols,
        round_decimals=round_decimals,
    )
    if plan == "exact":
        return ewma_smooth(df, **common)
    if plan == "blocked":
        if block_size is not None:
            common["block_size"] = block_size
        return ewma_smooth_blocked(df, **common)
    if block_size is not None:
        common["block_size"] = block_size
    return ewma_smooth_distributed(df, **common)
