#!/usr/bin/env python3
"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with a noop-format write (full plan execution, no
driver collect overhead, no result materialization skew).

``bench.py --probe <query> [query ...]`` runs only the named queries
with the same full discipline (warm, min-of-N, both calibration pairs,
movers summary) — the one-command drift adjudicator; its artifact is
tagged ``"probe": [...]`` and never selected as a canonical baseline.

Per-query time is the MIN over $SPARK_GRAFT_BENCH_RUNS runs (default 3):
single-run numbers at small scale are dominated by first-execution JIT
and GC noise (observed ±3× swings on identical plans), and min-of-N is
the steady-state plan cost — the thing that actually scales with data.
The per-query MEDIAN rides along under "queries_median" so round-over-
round comparisons can separate plan cost from box-load noise.

Attribution note: corpus_pipeline and corpus_invariants share one
memoized lazy plan (__spark_entry__._prepared_corpus). Because this
harness clears caches after every run, EACH timed run re-executes the
full pipeline with its own stage caches — the two entries' timings are
therefore independent full executions (no cross-entry subsidy); the
sharing only benefits harnesses that do not clear caches between
queries (the driver's correctness pass, check_oracle).
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _calibration_run(spark, n_runs: int) -> float:
    """Fixed-size synthetic aggregate (no file I/O, no Python UDF):
    20M-row codegen range-sum over 32 partitions. Its wall-time is a
    pure function of box/JVM conditions — identical code and data
    every round — so committed artifacts carry an internal drift
    gauge: BENCH_rN.calibration vs BENCH_rM.calibration measures the
    WINDOW, independent of any query plan (r9 verdict ask #2: the
    driver's r9 window read a uniform ~1.14x on untouched plans while
    the local frozen run read 0.896x; reconciliation lived in prose).
    Min-of-N after one unmeasured JIT warm run, same discipline as the
    query rows."""
    def one() -> float:
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .selectExpr("sum(id * 2 + (id % 7)) AS s")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.time() - t0

    one()  # unmeasured: JIT-warm the kernel
    return round(min(one() for _ in range(n_runs)), 3)


def _calibration_shuffle_run(spark, n_runs: int) -> float:
    """Second drift gauge, OTHER workload class: fixed 2M-row job with
    one hash-partitioned SHUFFLE plus one Arrow-batched pandas-UDF
    aggregate — i.e. exchange + python-worker + Arrow serialization,
    the path the codegen calibration row never touches. The r10 driver
    window moved 1.7-3.0x on exactly this class of query (pandas-UDF /
    shuffle-heavy rows, three of them on untouched plans) while the
    codegen calibration stayed flat; with both rows pinned in every
    artifact, window drift can be CLASSIFIED inside the artifact
    instead of reconciled in prose. Same min-of-N + warm discipline."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: the module's `from __future__ import
    # annotations` stringifies type hints, which defeats signature-based
    # eval-type inference
    @pandas_udf("double", functionType=PandasUDFType.GROUPED_AGG)
    def _psum(v):  # grouped-agg: Series -> scalar per group
        return float((v * 1.0000001).sum())

    def one() -> float:
        t0 = time.time()
        (
            spark.range(0, 2_000_000, 1, 32)
            .withColumn("k", F.pmod(F.col("id"), F.lit(64)))
            .repartition(32, "k")
            .groupBy("k")
            .agg(_psum(F.col("id").cast("double")).alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.time() - t0

    one()  # unmeasured: python-worker spawn + Arrow codepath warm
    return round(min(one() for _ in range(n_runs)), 3)


def _scrub_session(spark) -> None:
    """Per-query JVM-state hygiene — the context-debris countermeasure
    (r7 measured the full-bench common rows drifting ~1.15x as the
    registry grew while the same plans stayed flat isolated):

    1. drop the streaming memory-sink views run_bounded registers
       (each pins its FULL result set in the JVM until dropped);
    2. clear any persisted intermediates;
    3. collect PYTHON garbage first — py4j proxies hold the JVM-side
       DataFrames, broadcasts and localCheckpoint RDD blocks, and
       Spark's ContextCleaner can only release those after the Python
       ref dies — then ask the JVM to GC so the cleaner actually runs.
    """
    try:
        for t in spark.catalog.listTables():
            if t.name.startswith("stream_") and t.isTemporary:
                spark.catalog.dropTempView(t.name)
    except Exception:
        pass
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def main() -> None:
    # --probe <query> [query ...]: adjudication mode (r12 verdict ask
    # #6) — run ONLY the named queries with the full discipline of a
    # canonical pass (per-query warm, min-of-N + median, BOTH
    # calibration pairs, movers-vs-canonical summary line), so a
    # "did this row really drift?" question is one command producing
    # one committable artifact instead of a hand-built harness. The
    # output line carries "probe": [names] so a probe artifact can
    # never be mistaken for (or selected as) a canonical baseline —
    # _summary_line's canonical glob only matches BENCH_LOCAL_r<N>.json.
    probe: list[str] = []
    if "--probe" in sys.argv:
        probe = [
            a
            for a in sys.argv[sys.argv.index("--probe") + 1 :]
            if not a.startswith("-")
        ]
        if not probe:
            sys.exit("--probe requires at least one query name")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = None

    import __spark_entry__ as entrymod
    from sensomics_data_pipeline_spark.session import get_spark
    from sensomics_data_pipeline_spark.util import clear_memos

    spark = get_spark("bench")

    qs = entrymod.queries()
    if probe:
        unknown = [q for q in probe if q not in qs]
        if unknown:
            sys.exit(f"unknown probe queries: {unknown}")
        qs = {k: qs[k] for k in probe}
    # Warm EVERY query once at the smallest SF (not counted): whole-stage
    # codegen JIT of the big hash/HOF kernels is a one-time per-JVM cost
    # that is independent of data scale (measured: ngram_jaccard pays
    # ~9s at sf0.001 and ~2.5s at sf0.1 afterwards) — without this,
    # min-of-N at small N reports compiler time, not plan cost. Also
    # covers parquet footers and streaming state-store/micro-batch init.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    warm_budget = float(os.environ.get("SPARK_GRAFT_WARM_BUDGET_S", "300"))
    warm_t0 = time.time()
    n_warmed = 0
    for name, fn in qs.items():
        if time.time() - warm_t0 > warm_budget:
            break
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            n_warmed += 1
        except Exception:
            pass
        finally:
            _scrub_session(spark)
    print(
        f"warm pass: {n_warmed}/{len(qs)} queries in "
        f"{time.time() - warm_t0:.1f}s",
        file=sys.stderr,
    )

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # By default the session memos (util.SessionMemo) persist across
    # runs: a memoized step's first run pays and min-of-N reads the
    # post-memo cost. SPARK_GRAFT_CLEAR_MEMOS=1 empties them after every
    # run, releasing the blocks they pin, to measure whether memo-pinned
    # executor blocks inflate neighbouring rows in a full-registry pass.
    drop_memos = os.environ.get("SPARK_GRAFT_CLEAR_MEMOS", "") == "1"
    calibration_first = _calibration_run(spark, n_runs)
    calibration_shuffle_first = _calibration_shuffle_run(spark, n_runs)
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name, fn in qs.items():
        runs: list[float] = []
        failed = False
        for _ in range(n_runs):
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
            except Exception as exc:  # pragma: no cover
                failed = True
                print(f"bench error {name}: {exc}", file=sys.stderr)
                break
            finally:
                # full scrub BETWEEN RUNS, not just between queries:
                # Spark's ContextCleaner only releases dead broadcasts,
                # shuffle files and localCheckpoint blocks when a driver
                # GC collects their (Python-held) refs; across ~100
                # queries x 3 runs the un-collected debris measurably
                # slows later queries (observed 3x inflation vs
                # standalone runs, and the r7 registry-growth drift).
                if drop_memos:
                    clear_memos()
                _scrub_session(spark)
        if failed or not runs:
            timings[name] = -1.0
            medians[name] = -1.0
        else:
            timings[name] = min(runs)
            medians[name] = round(statistics.median(runs), 3)

    calibration_last = _calibration_run(spark, n_runs)
    calibration_shuffle_last = _calibration_shuffle_run(spark, n_runs)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # stdout line: COMPACT (no spaces, sorted query keys, medians moved
    # to stderr) — the driver's capture truncated the r10 artifact at
    # ~74 of 129 rows; the one line it records must parse whole.
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "queries": dict(sorted(timings.items())),
                "n_runs": n_runs,
                "sf": sf,
                # two fixed synthetic jobs timed before and after the
                # query loop: cross-round drift gauges (compare across
                # BENCH_r* artifacts) and within-run gauges (first vs
                # last) — one per workload class. "calibration_*" is
                # pure whole-stage-codegen (no shuffle, no Python);
                # "calibration_shuffle_*" is exchange + pandas-UDF/Arrow.
                "calibration_first": calibration_first,
                "calibration_last": calibration_last,
                "calibration_shuffle_first": calibration_shuffle_first,
                "calibration_shuffle_last": calibration_shuffle_last,
                "memos_cleared": drop_memos,
                **({"probe": probe} if probe else {}),
            },
            separators=(",", ":"),
        )
    )
    # medians ride along on stderr (full fidelity for local artifacts
    # without doubling the driver-captured line)
    print(
        json.dumps(
            {"queries_median": dict(sorted(medians.items()))},
            separators=(",", ":"),
        ),
        file=sys.stderr,
    )
    # FINAL stdout line: a <=1.5 KB self-adjudicating summary. The
    # driver's artifact keeps only the last ~2000 chars of stdout, and
    # the r10/r11 full lines (~5 KB at 135 queries) lost their head —
    # calibration fields and half the rows — to that truncation, so
    # movers had to be adjudicated from local files. This line repeats
    # everything adjudication needs (row count, total wall, both
    # calibration classes first+last, and the top-3 movers vs the
    # committed canonical artifact as name:ratio) compactly enough to
    # always survive the tail capture. Printed LAST so truncation can
    # only eat the big line above it.
    print(
        json.dumps(
            _summary_line(
                timings,
                total,
                {
                    "cal_first": calibration_first,
                    "cal_last": calibration_last,
                    "cal_shuffle_first": calibration_shuffle_first,
                    "cal_shuffle_last": calibration_shuffle_last,
                },
                sf,
            ),
            separators=(",", ":"),
        )
    )


def _summary_line(
    timings: dict[str, float],
    total: float,
    cal: dict[str, float],
    sf,
) -> dict:
    """Build the final compact summary: counts + calibrations + the
    top-3 |log-ratio| movers vs the newest committed canonical
    docs/BENCH_LOCAL_r*.json (ratio = this_min / canonical_min over
    queries present in both; absent/unreadable canonical → movers []).
    A canonical recorded at a DIFFERENT scale factor is refused
    (vs suffixed "(sf-mismatch)", movers []) — cross-SF ratios would
    read as giant fake movers.

    Counting contract: ``n`` = queries RUN (successes + failures);
    ``n_failed`` of those recorded -1.0 and contribute nothing to
    ``total``, so ``total`` sums only the ``n - n_failed`` successes.

    Canonical selection is strict: only ``BENCH_LOCAL_r<digits>.json``
    qualifies (runB/probe/rerun suffixes are sidecars, not baselines),
    and the whole selection runs inside the try so a malformed docs/
    listing degrades to movers=[] instead of crashing a finished
    bench run."""
    import glob
    import math
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    movers: list = []
    vs = None
    try:
        pat = re.compile(r"^BENCH_LOCAL_r(\d+)\.json$")
        canonical = sorted(
            (
                p
                for p in glob.glob(
                    os.path.join(here, "docs", "BENCH_LOCAL_r*.json")
                )
                if pat.match(os.path.basename(p))
            ),
            key=lambda p: int(pat.match(os.path.basename(p)).group(1)),
        )
    except Exception:
        canonical = []
    if canonical:
        vs = os.path.basename(canonical[-1])
        try:
            with open(canonical[-1]) as fh:
                base_doc = json.load(fh)
            base = base_doc.get("queries", {})
            if base_doc.get("sf") != sf:
                return {
                    "bench_summary": 1,
                    "n": len(timings),
                    "n_failed": sum(1 for t in timings.values() if t < 0),
                    "total": total,
                    **{k: round(v, 3) for k, v in cal.items()},
                    "vs": f"{vs}(sf-mismatch)",
                    "movers": [],
                }
            ratios = [
                (name, round(timings[name] / base[name], 3))
                for name in timings
                if name in base and base[name] > 0 and timings[name] > 0
            ]
            ratios.sort(key=lambda r: abs(math.log(r[1])), reverse=True)
            movers = [[n, r] for n, r in ratios[:3]]
        except Exception:
            vs = f"unreadable:{vs}"
    return {
        "bench_summary": 1,
        "n": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "total": total,
        **{k: round(v, 3) for k, v in cal.items()},
        "vs": vs,
        "movers": movers,
    }


if __name__ == "__main__":
    main()
