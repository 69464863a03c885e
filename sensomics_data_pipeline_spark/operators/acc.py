"""Accelerometer alignment + resampling (SURVEY.md §2.4 J1, §2.6 W4,
§2.3 R6/R7).

The reference aligns the acx/acy/acz streams with an O(n³) greedy
candidate search (``acc_reformat.py:136-215``), then rebuilds rows
one-by-one with O(n²) concat (``:118-131``). Here:

- ``align_axes`` (the pipeline's one plan): a triple is an island of axis
  records. A record more than half the 0.5 s match tolerance after the
  previous record of its partition starts a new triple
  (``windows.sessionize``), so a triple pairs by its own timestamps
  wherever it falls against the clock. One value per axis; islands
  missing an axis drop, mirroring the greedy skip of unmatched samples.
  Built-ins only, no Python.
- ``align_axes_greedy`` (reference parity, for tests): the exact greedy
  drop-order per group via ``applyInPandas``; the tests compare
  ``align_axes`` against it.

NOTE reference bug (documented, SURVEY.md §2.4): ``xyz_match`` computes
the y–z distance twice and never checks x–z (``acc_reformat.py:138-139``).
``align_axes_greedy`` replicates it for golden parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensomics_data_pipeline_spark.functions.scalars import g_force
from sensomics_data_pipeline_spark.functions.timeops import second_of_day
from sensomics_data_pipeline_spark.operators.windows import sessionize

#: The reference's pairwise match tolerance (``acc_reformat.py:136-143``);
#: also the triple cadence and the step of the 10 Hz session grid.
TOLERANCE_S = 0.5
AXES = ("acx", "acy", "acz")


def align_axes(
    ac: DataFrame,
    partition_cols: list[str],
    ts_col: str = "date_time",
    kind_col: str = "kind",
    value_col: str = "data",
) -> DataFrame:
    """J1 + R6: one row per triple, stamped with the triple's earliest
    record time, with the earliest value of each axis (duplicate reports
    inside a triple are dropped). Triples missing an axis are dropped,
    like the reference's greedy skip of unmatched samples.

    A triple is an island of records no more than ``TOLERANCE_S / 2``
    apart: lag + running sum over the partition, then one aggregate
    keyed by the island.
    """
    islands = sessionize(ac, partition_cols, ts_col, TOLERANCE_S / 2, "_triple")
    wide = islands.groupBy(*partition_cols, "_triple").agg(
        F.min(ts_col).alias(ts_col),
        *(
            F.min_by(value_col, F.when(F.col(kind_col) == a, F.col(ts_col))).alias(a)
            for a in AXES
        ),
    )
    return wide.filter(
        F.col("acx").isNotNull() & F.col("acy").isNotNull() & F.col("acz").isNotNull()
    ).drop("_triple")


def resample_10hz(
    aligned: DataFrame,
    partition_cols: list[str],
    ts_col: str = "date_time",
    sample_cols: tuple[str, str, str] = AXES,
    gap_seconds: float = 1.0,
    burst: bool = False,
) -> DataFrame:
    """W4 + R7: sessionize on >1 s gaps, then synthesize smooth 10 Hz
    timestamps (``smooth_timestamp``, ``acc_reformat.py:218-228``).

    Each aligned row fans into 5 output rows with timestamps
    ``start − 0.4 + 0.5·k + 0.1·pos`` (k = row index within session,
    pos = 0..4), where ``start`` is the session's first time floored to
    the 0.5 s grid, so every session starts 400 ms before a grid point.
    The rows themselves keep their own times, so k follows their time
    order even where two rows floor to one grid point. With
    ``burst=True`` the sample columns are 5-element arrays (the watch
    reports 5-sample bursts) and output row ``pos`` takes element
    ``pos`` of each array — the reference achieves this implicitly via
    pandas list-broadcast at ``acc_reformat.py:127``. Here: sessionize
    (lag+cumsum), ``row_number`` for k, ``posexplode`` for the fan-out —
    all built-ins, no Python.
    """
    from pyspark.sql import Window

    step_us = int(TOLERANCE_S * 1_000_000)
    sess = sessionize(aligned, partition_cols, ts_col, gap_seconds)
    w = Window.partitionBy(*partition_cols, "session_id").orderBy(ts_col)
    with_k = sess.withColumn("_k", F.row_number().over(w) - 1).withColumn(
        "_start_us", F.unix_micros(F.first(ts_col).over(w))
    )
    exploded = with_k.select(
        *partition_cols,
        "session_id",
        *sample_cols,
        F.posexplode(F.sequence(F.lit(0), F.lit(4))).alias("_pos", "_sub"),
        (
            F.col("_start_us")
            - F.pmod("_start_us", F.lit(step_us))
            - 400_000
            + F.col("_k") * step_us
        ).alias("_base_us"),
    )
    value_cols = [
        (F.element_at(F.col(c), F.col("_pos") + 1) if burst else F.col(c)).alias(c)
        for c in sample_cols
    ]
    return exploded.select(
        *partition_cols,
        "session_id",
        *value_cols,
        F.timestamp_micros(
            (F.col("_base_us") + F.col("_pos") * 100_000).cast("long")
        ).alias(ts_col),
    )


def enrich_acc(
    wide: DataFrame,
    ts_col: str = "date_time",
    bin_seconds: int = 300,
) -> DataFrame:
    """F5 enrichment (``acc_reformat.py:74-83``): second-of-day, 300-s
    bin, g-force magnitude — the reference's per-row Python loop as three
    codegen'd expressions."""
    return (
        wide.withColumn("seconds", second_of_day(ts_col))
        .withColumn("bin", F.floor(F.col("seconds") / bin_seconds).cast("long"))
        .withColumn("g_force", g_force("acx", "acy", "acz"))
    )


def align_axes_greedy(
    ac: DataFrame,
    partition_cols: list[str],
    ts_col: str = "date_time",
    kind_col: str = "kind",
    value_col: str = "data",
) -> DataFrame:
    """Exact greedy parity via ``applyInPandas`` (J1).

    Re-implements the reference's sequential alignment semantics
    (``match_acc``/``find_match``/``xyz_match``,
    ``acc_reformat.py:136-215``) per group: walk the three sorted
    streams; when the heads don't pairwise match within tolerance,
    search a growing window of upcoming rows for the triple minimizing
    total skipped samples and drop the skipped prefix. The walk ends
    when the window covers every remaining row and holds no match.
    Written fresh from the semantic spec (SURVEY.md §2.4 J1).

    Groups are (subject, day) shaped via ``partition_cols``: state never
    crosses a group, so parallelism = number of groups.
    """
    import pandas as pd

    # axis value type follows the input payload (scalar stream or
    # 5-sample burst arrays)
    vtype = ac.schema[value_col].dataType.simpleString()
    out_fields = ", ".join(f"`{c}` string" for c in partition_cols)
    schema = (
        (out_fields + ", " if out_fields else "")
        + f"`{ts_col}` timestamp, acx {vtype}, acy {vtype}, acz {vtype}"
    )
    tolerance_us = int(TOLERANCE_S * 1_000_000)
    n = 6  # the reference's match range: loop guard and first search window

    def _match(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: pdf[c].iloc[0] for c in partition_cols}
        streams = {}
        for axis in AXES:
            sub = pdf[pdf[kind_col] == axis].sort_values(ts_col)
            # integer microseconds end-to-end: float-seconds round-trips
            # introduce sub-µs noise that Arrow refuses to truncate
            streams[axis] = (
                sub[ts_col].to_numpy("datetime64[us]").astype("int64"),
                sub[value_col].to_numpy(),
            )
        tx, vx = streams["acx"]
        ty, vy = streams["acy"]
        tz, vz = streams["acz"]

        def match3(a: int, b: int, c: int) -> bool:
            # y–z twice, x–z never: the reference's xyz_match
            return max(abs(a - b), abs(b - c), abs(b - c)) <= tolerance_us

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
        out = pd.DataFrame(
            rows, columns=[ts_col, "acx", "acy", "acz"]
        )
        out[ts_col] = pd.to_datetime(out[ts_col], unit="us")
        for c, v in keys.items():
            out[c] = v
        return out[[*partition_cols, ts_col, "acx", "acy", "acz"]]

    return ac.groupBy(*partition_cols).applyInPandas(_match, schema)
