"""CLI entry points — parity with the reference's four scripts
(SURVEY.md §3), same stage semantics, Spark execution:

    python -m sensomics_data_pipeline_spark.cli reformat  -d RAW_JSON_DIR -o OUT [-t DIFF_MS | -e EXCEL_EPOCH_S]
    python -m sensomics_data_pipeline_spark.cli filter    -i MEASUREMENTS -o OUT
    python -m sensomics_data_pipeline_spark.cli acc       -i AC_EXTRACT -o OUT
    python -m sensomics_data_pipeline_spark.cli activity  -i MEASUREMENTS -a ACC -o OUT
    python -m sensomics_data_pipeline_spark.cli analytics {funnel,retention,trend,cusum} -i EVENTS -o OUT
    python -m sensomics_data_pipeline_spark.cli diff      -i BASE -b CAND -o OUT --key k1,k2
    python -m sensomics_data_pipeline_spark.cli resolve   -i TABLE -c COLUMN -o OUT

Inputs/outputs are parquet datasets (CSV export via --format csv on
reformat). Idempotency (the reference's skip-if-output-exists,
``raw_data_reformat.py:248``) is ``--skip-existing``.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path


def _spark():
    from sensomics_data_pipeline_spark.session import get_spark

    return get_spark("sensomics-cli")


def cmd_reformat(args) -> int:
    from sensomics_data_pipeline_spark.functions.timeops import (
        adjust_clock_skew,
        epoch_ms_to_timestamp,
        with_date_time_columns,
    )
    from sensomics_data_pipeline_spark.sources.readers import read_raw_json
    from sensomics_data_pipeline_spark.sources.writers import (
        write_scalar_sidecar,
        write_three_way_split,
    )

    if args.skip_existing and Path(args.out, "measurements").exists():
        print("outputs exist, skipping")
        return 0
    spark = _spark()
    raw = read_raw_json(spark, args.dir, recursive=args.recursive)
    adjusted, d_time = adjust_clock_skew(
        raw, "time", d_time_ms=args.tdiff, ref_time_s=args.excel_ref
    )
    timed = with_date_time_columns(
        adjusted.withColumn("date_time", epoch_ms_to_timestamp("adj_time")).drop(
            "time", "adj_time"
        )
    )
    if _apply_dq_gate(timed, getattr(args, "dq_gate", None), spark):
        return 1
    paths = write_three_way_split(timed, args.out, fmt=args.format)
    write_scalar_sidecar(spark, float(d_time), f"{args.out}/timestamp_diff")
    print({"d_time_ms": d_time, **paths})
    return 0


def _parse_check_spec(spec: str, spark) -> dict:
    """One declared-check spec string → a dq check dict. Shared by the
    ``dq`` subcommand's flags and every write path's ``--dq-gate``:
      not_null:COL | range:COL:LO:HI | accepted:COL:v1|v2 |
      unique:C1+C2 | fk:COL:ref_parquet_path:ref_col
    """
    kind, _, rest = spec.partition(":")
    if kind == "not_null":
        return {"type": "not_null", "column": rest}
    if kind == "range":
        col, lo, hi = rest.rsplit(":", 2)
        return {"type": "range", "column": col, "lo": float(lo), "hi": float(hi)}
    if kind == "accepted":
        col, vals = rest.split(":", 1)
        return {"type": "accepted_values", "column": col,
                "values": vals.split("|")}
    if kind == "unique":
        return {"type": "unique", "columns": rest.split("+")}
    if kind == "fk":
        # scheme-aware: the ref PATH may itself contain ':' (s3://,
        # hdfs://, abfss://…), so split the column off from the LEFT
        # and only the ref column off from the RIGHT — everything in
        # between is the path, colons and all
        col, _, path_and_ref = rest.partition(":")
        ref_path, _, ref_col = path_and_ref.rpartition(":")
        if not col or not ref_path or not ref_col:
            raise ValueError(f"malformed fk spec {spec!r}")
        return {"type": "fk", "column": col,
                "ref": spark.read.parquet(ref_path), "ref_column": ref_col}
    raise ValueError(f"unknown dq check spec {spec!r}")


def _apply_dq_gate(df, specs, spark) -> int:
    """Run the declared checks against ``df`` BEFORE any write; returns
    0 to proceed, 1 (after printing the violation report) to refuse.
    The gate is the write-blocking pattern the reference's pipeline
    stages imply but never enforce — a corrupted upstream stage stops
    here instead of poisoning every downstream table."""
    from sensomics_data_pipeline_spark.operators.dq import dq_gate

    if not specs:
        return 0
    checks = [_parse_check_spec(s, spark) for s in specs]
    try:
        dq_gate(df, checks)
    except ValueError as exc:
        print(f"dq gate refused write: {exc}", file=sys.stderr)
        return 1
    return 0


def cmd_filter(args) -> int:
    from sensomics_data_pipeline_spark.plans.pipelines import filter_measurements

    spark = _spark()
    meas = spark.read.parquet(args.input)
    out = filter_measurements(meas)
    if _apply_dq_gate(out, getattr(args, "dq_gate", None), spark):
        return 1
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")
    return 0


def cmd_acc(args) -> int:
    from sensomics_data_pipeline_spark.plans.pipelines import reformat_acc

    spark = _spark()
    ac = spark.read.parquet(args.input)
    out = reformat_acc(ac, bin_seconds=args.binsize)
    if _apply_dq_gate(out, getattr(args, "dq_gate", None), spark):
        return 1
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")
    return 0


def cmd_activity(args) -> int:
    from sensomics_data_pipeline_spark.plans.pipelines import categorize_activity

    spark = _spark()
    meas = spark.read.parquet(args.input)
    acc = spark.read.parquet(args.acc)
    final, cat_acc, thresholds = categorize_activity(meas, acc)
    if _apply_dq_gate(final, getattr(args, "dq_gate", None), spark):
        return 1
    final.write.mode("overwrite").parquet(f"{args.out}/activity_categorized")
    cat_acc.write.mode("overwrite").parquet(f"{args.out}/acc_category")
    thresholds.write.mode("overwrite").parquet(f"{args.out}/sleep_acc_thresholds")
    print(f"wrote {args.out}/{{activity_categorized,acc_category,sleep_acc_thresholds}}")
    return 0


def cmd_corpus(args) -> int:
    from sensomics_data_pipeline_spark.operators.corpus import prepare_corpus

    spark = _spark()
    docs = spark.read.parquet(args.input)
    eval_df = spark.read.parquet(args.eval) if args.eval else None
    mix = None
    if args.mix:
        mix = {
            k: float(v)
            for k, v in (kv.split("=", 1) for kv in args.mix.split(","))
        }
    dedup_kwargs = {}
    if args.dedup_max_bucket is not None:
        if args.dedup not in ("minhash", "simhash"):
            raise SystemExit(
                "--dedup-max-bucket applies to minhash/simhash only "
                "(jaccard bounds fan-out with its document-frequency cap)"
            )
        dedup_kwargs["max_bucket"] = args.dedup_max_bucket
    out = prepare_corpus(
        docs,
        eval_df=eval_df,
        quality_keep_frac=args.keep_frac,
        gate_two_pass=args.gate_two_pass,
        dedup_method=args.dedup,
        dedup_kwargs=dedup_kwargs or None,
        pack_budget=args.budget,
        paragraph_min_docs=args.paragraph_min_docs,
        paragraph_sep=args.paragraph_sep,
        paragraph_join=args.paragraph_join,
        mix_weights=mix,
    )
    out.write.mode("overwrite").parquet(args.out)
    from sensomics_data_pipeline_spark.operators.corpus import (
        release_stage_cache,
    )

    release_stage_cache(out)
    print(f"wrote {args.out}")
    return 0


def cmd_spans(args) -> int:
    from sensomics_data_pipeline_spark.operators.text import duplicate_spans

    spark = _spark()
    docs = spark.read.parquet(args.input)
    out = duplicate_spans(
        docs,
        span_tokens=args.span_tokens,
        min_docs=args.min_docs,
        engine_exact=False,
    )
    if args.min_frac is not None:
        from pyspark.sql import functions as F

        out = out.filter(F.col("dup_span_frac") >= args.min_frac)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")
    return 0


def cmd_analytics(args) -> int:
    from sensomics_data_pipeline_spark.operators.analytics import (
        cohort_retention,
        cusum_changepoint,
        funnel,
        trend_slope,
    )

    spark = _spark()
    ev = spark.read.parquet(args.input)
    if args.op == "funnel":
        out = funnel(
            ev, args.stages.split(","), user_col=args.user_col,
            type_col=args.type_col, ts_col=args.ts_col,
        )
    elif args.op == "retention":
        out = cohort_retention(
            ev, user_col=args.user_col, ts_col=args.ts_col, grain=args.grain
        )
    elif args.op == "trend":
        out = trend_slope(
            ev, [args.user_col], ts_col=args.ts_col, value_col=args.value_col
        )
    else:  # cusum
        out = cusum_changepoint(
            ev, [args.user_col], ts_col=args.ts_col, value_col=args.value_col
        )
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")
    return 0


def cmd_diff(args) -> int:
    from sensomics_data_pipeline_spark.operators.diff import table_diff

    spark = _spark()
    a = spark.read.parquet(args.input)
    b = spark.read.parquet(args.other)
    out = table_diff(
        a, b, args.key.split(","),
        compare_cols=args.compare.split(",") if args.compare else None,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")
    return 0


def cmd_resolve(args) -> int:
    from sensomics_data_pipeline_spark.operators.entity import (
        resolve_entities,
    )

    spark = _spark()
    df = spark.read.parquet(args.input)
    out = resolve_entities(df, args.column, max_dist=args.max_dist)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")
    return 0


def cmd_cluster(args) -> int:
    """Distributed k-means over a vector column: fit on the full
    table, write (key, cluster, dist_sq) assignments."""
    from sensomics_data_pipeline_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    spark = _spark()
    df = spark.read.parquet(args.input)
    cent, hist = kmeans_fit(
        df, key_col=args.key, vec_col=args.column, k=args.k,
        n_iter=args.n_iter,
    )
    out = kmeans_assign(df, cent, key_col=args.key, vec_col=args.column)
    out.write.mode("overwrite").parquet(args.out)
    print(
        f"wrote {args.out} (k={args.k}, {len(hist)} iterations, "
        f"final inertia {hist[-1]:.4f})"
    )
    return 0


def cmd_pagerank(args) -> int:
    """PageRank over an edge-list parquet: write (node, rank), print
    the per-iteration convergence residuals."""
    from sensomics_data_pipeline_spark.operators.graph import pagerank

    spark = _spark()
    edges = spark.read.parquet(args.input)
    ranks, hist = pagerank(
        edges,
        src_col=args.src,
        dst_col=args.dst,
        n_iter=args.n_iter,
        damping=args.damping,
        undirected=not args.directed,
        weight_col=args.weight,
        tol=args.tol,
    )
    ranks.write.mode("overwrite").parquet(args.out)
    res = ", ".join(f"{r:.2e}" for _, r in hist)
    print(f"wrote {args.out} (residuals: {res})")
    return 0


def cmd_lpa(args) -> int:
    """Label propagation over an edge-list parquet: write
    (node, label) communities, print the per-iteration change counts."""
    from sensomics_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    spark = _spark()
    edges = spark.read.parquet(args.input)
    labels, hist = label_propagation(
        edges,
        src_col=args.src,
        dst_col=args.dst,
        n_iter=args.n_iter,
        undirected=not args.directed,
        include_self=not args.no_self_vote,
    )
    labels.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out} (changes/iter: {hist})")
    return 0


def cmd_profile(args) -> int:
    from sensomics_data_pipeline_spark.operators.profile import (
        heavy_hitters,
        numeric_histogram,
        profile_table,
        quantile_sketch,
    )

    spark = _spark()
    df = spark.read.parquet(args.input)
    if args.op == "table":
        out = profile_table(df, exact=args.exact)
    elif args.op == "hh":
        out = heavy_hitters(df, args.column, k=args.k)
    elif args.op == "quantiles":
        out = quantile_sketch(
            df, args.column, buffer_size=args.buffer_size
        )
    elif args.op == "cms":
        # count-min point estimates for every DISTINCT value of the
        # column (build once, probe the distinct set — the estimate
        # column upper-bounds the true count, width trades memory
        # for collision error)
        from pyspark.sql import functions as F

        from sensomics_data_pipeline_spark.operators.profile import (
            count_min_build,
            count_min_estimate,
        )

        mat, _ = count_min_build(df, args.column, width=args.buffer_size)
        out = count_min_estimate(
            df.select(args.column).distinct(), args.column, mat
        )
    else:  # histogram
        out = numeric_histogram(df, args.column, n_buckets=args.k)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")
    return 0


def cmd_bpe(args) -> int:
    from sensomics_data_pipeline_spark.operators.tokenizer import (
        bpe_token_counts,
        bpe_train,
    )

    spark = _spark()
    df = spark.read.parquet(args.input)
    merges, words = bpe_train(
        spark, df, args.text_col, n_merges=args.n_merges
    )
    merges_df = spark.createDataFrame(
        merges,
        "merge_rank int, left_tok string, right_tok string, "
        "merged string, pair_count long",
    )
    merges_df.coalesce(1).write.mode("overwrite").parquet(
        f"{args.out}/merges.parquet"
    )
    if args.counts:
        bpe_token_counts(df, words, args.text_col).write.mode(
            "overwrite"
        ).parquet(f"{args.out}/token_counts.parquet")
    print(f"wrote {args.out} ({len(merges)} merges)")
    return 0


def cmd_dq(args) -> int:
    from sensomics_data_pipeline_spark.operators.dq import dq_report

    spark = _spark()
    df = spark.read.parquet(args.input)
    checks: list[dict] = []
    for c in args.not_null or []:
        checks.append({"type": "not_null", "column": c})
    for spec in args.range or []:
        col, lo, hi = spec.rsplit(":", 2)
        checks.append(
            {"type": "range", "column": col,
             "lo": float(lo), "hi": float(hi)}
        )
    for spec in args.accepted or []:
        col, vals = spec.split(":", 1)
        checks.append(
            {"type": "accepted_values", "column": col,
             "values": vals.split("|")}
        )
    for spec in args.unique or []:
        checks.append({"type": "unique", "columns": spec.split("+")})
    for spec in args.fk or []:
        col, ref_path, ref_col = spec.rsplit(":", 2)
        checks.append(
            {"type": "fk", "column": col,
             "ref": spark.read.parquet(ref_path), "ref_column": ref_col}
        )
    if not checks:
        print("dq: no checks given", file=sys.stderr)
        return 2
    rows = dq_report(df, checks).collect()
    n_bad = 0
    for r in rows:
        status = "FAIL" if r["n_violations"] > 0 else "ok"
        n_bad += r["n_violations"] > 0
        print(
            f"{status} {r['check']}({r['target']}): "
            f"{r['n_violations']}/{r['n_checked']} violations"
        )
    if args.gate and n_bad:
        return 1
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="sensomics-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("reformat", help="raw JSON → 3-way extracts (stage 2)")
    r.add_argument("-d", "--dir", required=True)
    r.add_argument("-o", "--out", required=True)
    r.add_argument("-t", "--tdiff", type=int, default=None, help="clock skew ms")
    r.add_argument("-e", "--excel-ref", type=float, default=None,
                   help="reference epoch seconds for 15-min-quantized skew")
    r.add_argument("-r", "--recursive", action="store_true")
    r.add_argument("--format", default="parquet", choices=["parquet", "csv"])
    r.add_argument("--skip-existing", action="store_true")
    r.add_argument("--dq-gate", action="append", default=None,
                   metavar="CHECK",
                   help="declared check (not_null:COL | range:COL:LO:HI | "
                        "accepted:COL:v1|v2 | unique:C1+C2 | "
                        "fk:COL:ref_path:ref_col); repeatable - refuses "
                        "the write on any violation")
    r.set_defaults(fn=cmd_reformat)

    f = sub.add_parser("filter", help="flatline + range filtering (stage 4)")
    f.add_argument("-i", "--input", required=True)
    f.add_argument("-o", "--out", required=True)
    f.add_argument("--dq-gate", action="append", default=None,
                   metavar="CHECK",
                   help="declared check (not_null:COL | range:COL:LO:HI | "
                        "accepted:COL:v1|v2 | unique:C1+C2 | "
                        "fk:COL:ref_path:ref_col); repeatable - refuses "
                        "the write on any violation")
    f.set_defaults(fn=cmd_filter)

    a = sub.add_parser("acc", help="3-axis alignment + resample (stage 3)")
    a.add_argument("-i", "--input", required=True)
    a.add_argument("-o", "--out", required=True)
    a.add_argument("-b", "--binsize", type=int, default=300)
    a.add_argument("--dq-gate", action="append", default=None,
                   metavar="CHECK",
                   help="declared check (not_null:COL | range:COL:LO:HI | "
                        "accepted:COL:v1|v2 | unique:C1+C2 | "
                        "fk:COL:ref_path:ref_col); repeatable - refuses "
                        "the write on any violation")
    a.set_defaults(fn=cmd_acc)

    c = sub.add_parser("activity", help="sleep/activity categorization (stage 5)")
    c.add_argument("-i", "--input", required=True)
    c.add_argument("-a", "--acc", required=True)
    c.add_argument("-o", "--out", required=True)
    c.add_argument("--dq-gate", action="append", default=None,
                   metavar="CHECK",
                   help="declared check (not_null:COL | range:COL:LO:HI | "
                        "accepted:COL:v1|v2 | unique:C1+C2 | "
                        "fk:COL:ref_path:ref_col); repeatable - refuses "
                        "the write on any violation")
    c.set_defaults(fn=cmd_activity)

    k = sub.add_parser(
        "corpus",
        help="training-corpus prep: scrub -> filter -> dedup -> pack",
    )
    k.add_argument("-i", "--input", required=True, help="documents parquet")
    k.add_argument("-o", "--out", required=True)
    k.add_argument("--eval", default=None, help="benchmark parquet for decontamination")
    k.add_argument("--keep-frac", type=float, default=0.5)
    k.add_argument("--gate-two-pass", action="store_true",
                   help="quality gate via broadcast percentile_approx "
                        "thresholds instead of a per-source window "
                        "(the few-huge-groups 100-TB shape)")
    k.add_argument("--dedup", default="minhash",
                   choices=["exact", "minhash", "jaccard", "simhash"])
    k.add_argument("--dedup-max-bucket", type=int, default=None,
                   help="LSH bucket occupancy cap (degenerate-bucket "
                        "skew guard; 256 is a sane production value)")
    k.add_argument("--budget", type=int, default=2048, help="pack token budget")
    k.add_argument("--paragraph-min-docs", type=int, default=None,
                   help="strip paragraphs appearing in >= N distinct docs")
    k.add_argument("--paragraph-sep", default=None,
                   help="paragraph boundary regex (default: 10-word windows)")
    k.add_argument("--paragraph-join", default=None,
                   help="literal string to rejoin kept paragraphs with "
                        "(required when --paragraph-sep is a non-literal "
                        "regex; default: the sep itself when literal)")
    k.add_argument("--mix", default=None,
                   help="target domain mix, e.g. 'web=3,books=1'")
    k.set_defaults(fn=cmd_corpus)

    sp = sub.add_parser(
        "spans",
        help="cross-document duplicated-span report (substring-grain "
             "dedup signal)",
    )
    sp.add_argument("-i", "--input", required=True, help="documents parquet")
    sp.add_argument("-o", "--out", required=True)
    sp.add_argument("--span-tokens", type=int, default=16,
                    help="span window width in tokens")
    sp.add_argument("--min-docs", type=int, default=2,
                    help="doc frequency at which a span counts as duplicated")
    sp.add_argument("--min-frac", type=float, default=None,
                    help="only emit docs with dup_span_frac >= this")
    sp.set_defaults(fn=cmd_spans)

    an = sub.add_parser(
        "analytics",
        help="event analytics: funnel / retention / trend / cusum",
    )
    an.add_argument("op", choices=["funnel", "retention", "trend", "cusum"])
    an.add_argument("-i", "--input", required=True, help="events parquet")
    an.add_argument("-o", "--out", required=True)
    an.add_argument("--stages", default="view,click,purchase",
                    help="funnel stages, comma-separated event types")
    an.add_argument("--user-col", default="user_id")
    an.add_argument("--type-col", default="event_type")
    an.add_argument("--ts-col", default="ts")
    an.add_argument("--value-col", default="value")
    an.add_argument("--grain", default="week", choices=["week", "day"])
    an.set_defaults(fn=cmd_analytics)

    dd = sub.add_parser(
        "diff", help="row-level table reconciliation (added/removed/changed)"
    )
    dd.add_argument("-i", "--input", required=True, help="baseline parquet")
    dd.add_argument("-b", "--other", required=True, help="candidate parquet")
    dd.add_argument("-o", "--out", required=True)
    dd.add_argument("--key", required=True, help="key columns, comma-separated")
    dd.add_argument("--compare", default=None,
                    help="columns to compare (default: all non-key)")
    dd.set_defaults(fn=cmd_diff)

    re_ = sub.add_parser(
        "resolve", help="entity resolution: fuzzy-canonicalize a column"
    )
    re_.add_argument("-i", "--input", required=True)
    re_.add_argument("-o", "--out", required=True)
    re_.add_argument("-c", "--column", required=True)
    re_.add_argument("--max-dist", type=int, default=2)
    re_.set_defaults(fn=cmd_resolve)

    cl = sub.add_parser(
        "cluster", help="distributed k-means over a vector column"
    )
    cl.add_argument("-i", "--input", required=True)
    cl.add_argument("-o", "--out", required=True)
    cl.add_argument("-c", "--column", default="embedding",
                    help="vector column (array<float|double>)")
    cl.add_argument("--key", default="vec_id", help="row key column")
    cl.add_argument("-k", type=int, default=8, help="cluster count")
    cl.add_argument("--n-iter", type=int, default=8,
                    help="max Lloyd iterations (tol early-exit)")
    cl.set_defaults(fn=cmd_cluster)

    pg = sub.add_parser(
        "pagerank", help="PageRank over an edge-list parquet"
    )
    pg.add_argument("-i", "--input", required=True)
    pg.add_argument("-o", "--out", required=True)
    pg.add_argument("--src", default="src", help="source node column")
    pg.add_argument("--dst", default="dst", help="destination node column")
    pg.add_argument("--n-iter", type=int, default=10)
    pg.add_argument("--damping", type=float, default=0.85)
    pg.add_argument("--weight", default=None,
                    help="positive edge-weight column (out-mass splits "
                         "proportionally)")
    pg.add_argument("--tol", type=float, default=None,
                    help="L1-residual early-exit threshold "
                         "(n-iter becomes a cap)")
    pg.add_argument("--directed", action="store_true",
                    help="treat edges as directed (dangling mass "
                         "re-enters via teleport)")
    pg.set_defaults(fn=cmd_pagerank)

    lp = sub.add_parser(
        "lpa", help="label-propagation communities over an edge list"
    )
    lp.add_argument("-i", "--input", required=True)
    lp.add_argument("-o", "--out", required=True)
    lp.add_argument("--src", default="src")
    lp.add_argument("--dst", default="dst")
    lp.add_argument("--n-iter", type=int, default=5)
    lp.add_argument("--directed", action="store_true")
    lp.add_argument("--no-self-vote", action="store_true",
                    help="pure neighbor voting (can 2-cycle on "
                         "bipartite structures)")
    lp.set_defaults(fn=cmd_lpa)

    pr = sub.add_parser(
        "profile",
        help="data profiling: per-column stats / heavy hitters / "
             "sketched quantiles / histogram / count-min estimates",
    )
    pr.add_argument(
        "op", choices=["table", "hh", "quantiles", "histogram", "cms"]
    )
    pr.add_argument("-i", "--input", required=True)
    pr.add_argument("-o", "--out", required=True)
    pr.add_argument("-c", "--column", default=None,
                    help="value column (hh / quantiles / histogram / cms)")
    pr.add_argument("-k", type=int, default=20,
                    help="top-k for hh, bucket count for histogram")
    pr.add_argument("--buffer-size", type=int, default=4096,
                    help="per-partition sample budget for quantiles; "
                         "table width for cms")
    pr.add_argument("--exact", action="store_true",
                    help="table: exact distinct counts instead of HLL")
    pr.set_defaults(fn=cmd_profile)

    bp = sub.add_parser(
        "bpe",
        help="train BPE merges on a document corpus (writes "
        "merges.parquet, optionally per-doc token counts)",
    )
    bp.add_argument("input", help="parquet with a text column")
    bp.add_argument("out", help="output directory")
    bp.add_argument("--text-col", default="text")
    bp.add_argument("--n-merges", type=int, default=8)
    bp.add_argument(
        "--counts", action="store_true",
        help="also tokenize the corpus and write per-doc BPE token counts",
    )
    bp.set_defaults(fn=cmd_bpe)

    dqp = sub.add_parser(
        "dq",
        help="data-quality checks over a parquet table "
        "(prints per-check violations; --gate exits 1 on any)",
    )
    dqp.add_argument("input", help="parquet table to check")
    dqp.add_argument("--not-null", action="append", metavar="COL")
    dqp.add_argument("--range", action="append", metavar="COL:LO:HI")
    dqp.add_argument("--accepted", action="append", metavar="COL:V1|V2")
    dqp.add_argument("--unique", action="append", metavar="COL[+COL2]")
    dqp.add_argument("--fk", action="append", metavar="COL:REF_PARQUET:REFCOL")
    dqp.add_argument("--gate", action="store_true")
    dqp.set_defaults(fn=cmd_dq)

    args = p.parse_args(argv)
    # argparse-level validation with clear messages (instead of an
    # opaque schema-lookup traceback deep inside Spark)
    if args.cmd == "profile" and args.op != "table" and not args.column:
        p.error(f"profile {args.op} requires -c/--column")
    if args.cmd == "cluster" and args.n_iter < 1:
        p.error("cluster requires --n-iter >= 1")
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
