"""Driver-contract tests: every ``queries()`` entry runs and matches its
DuckDB oracle at sf0.001 (the driver's own gate runs sf0.01; this is the
fast inner loop)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_oracle import compare

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def _driver_checked_queries():
    """Names with a row in any committed ``CORRECTNESS_r*.json``, from the
    same scan that orders ``queries()``: not a hard-coded list, so the
    guard survives a legitimate rotation untouched."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return set(entrymod._driver_last_rounds(root))


def test_every_query_has_oracle_or_is_flagged():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # the rows-only exceptions are a CLOSED, documented set (iterative /
    # stateful ops with no SQL expression) — growing it silently would
    # weaken the correctness gate
    assert set(qs) - set(oracles) == {
        "corpus_pipeline",
        "pack_sequences",
        "embedding_ivf",
        "embedding_pq",
        "embedding_ivf_pq",
    }
    # the driver hashes the FIRST 50 entries; every query that has NEVER
    # had a driver CORRECTNESS row must sit inside that window (rotation
    # policy, see queries()); the checked-set is derived from the committed
    # CORRECTNESS_r*.json artifacts, not a per-round hard-coded list
    first50 = set(list(qs)[:50])
    never_checked = set(qs) - _driver_checked_queries()
    stranded = never_checked - first50
    assert not stranded, (
        f"queries with no driver CORRECTNESS row outside the first-50 "
        f"window: {sorted(stranded)}"
    )


def test_queries_are_the_q_functions():
    import inspect

    q_fns = {
        name[2:]: fn
        for name, fn in inspect.getmembers(entrymod, inspect.isfunction)
        if name.startswith("q_") and fn.__module__ == entrymod.__name__
    }
    assert entrymod.queries() == q_fns


def test_driver_window_order(tmp_path):
    """Never-checked names first, then the oldest latest round, ties by
    name; a name's latest round wins over earlier ones, and a file that
    is unreadable or names no round counts for nothing."""
    import json

    files = {
        "CORRECTNESS_r2.json": {"b": {}, "c": {}, "d": {}},
        "CORRECTNESS_r9.json": {"a": {}, "b": {}},
        "CORRECTNESS_r10.json": {"e": {}},
    }
    for fname, rows in files.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_r11.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r12_extra.json").write_text('{"never_y": {}}')
    names = ["e", "d", "c", "b", "a", "never_z", "never_y"]
    assert entrymod._driver_window_order(names, str(tmp_path)) == [
        # no row in a readable round file: r11 is not JSON, and
        # r12_extra names no round
        "never_y", "never_z",
        "c", "d",  # r2, tie by name
        "a", "b",  # r9 (b's r2 row is superseded)
        "e",  # r10: numeric, not lexical, round order
    ]


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    fn = entrymod.queries()[name]
    spark_pdf = fn(spark, sf_dir).toPandas()
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_pdf) >= 0  # rows-only contract
        return
    duck_pdf = duck.execute(oracle).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


#: documents-family queries — every entry whose input is the documents
#: table and whose oracle must therefore survive degenerate text
_DOC_FAMILY = [
    "repetition_signals", "exact_dedup", "token_stats", "text_quality",
    "lang_id", "doc_fingerprint", "minhash_lsh", "ngram_jaccard",
    "dedup_clusters", "simhash_pairs", "quality_gate", "vocab_topk",
    "chunk_documents", "tfidf_top_terms", "stratified_sample",
    "paragraph_dedup", "domain_mix", "holdout_split",
    "dedup_incremental", "char_diversity", "pack_invariants",
    "corpus_invariants", "decontaminate", "multimodal_frames",
    "simhash", "streaming_corpus", "streaming_ingest",
    "lexical_stats", "weighted_sample", "duplicate_spans",
]

#: the degenerate documents rows a future driver testdata revision
#: could legally contain — imported from the SHARED case table
#: (tests/degenerate_cases.py) so the batch sweep and the streaming
#: twins can never drift
from degenerate_cases import DEGENERATE_DOCS as _DEGENERATE_DOCS


@pytest.fixture(scope="module")
def degenerate_sf(sf_dir, tmp_path_factory):
    """An sf0.001 clone whose documents table is salted with the
    degenerate rows — built as a SINGLE parquet file (the driver's
    layout, and what the DuckDB oracle reads)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("degenerate_sf")
    base = pq.read_table(f"{sf_dir}/documents.parquet")
    ids, texts, langs, srcs, ncs = zip(*_DEGENERATE_DOCS)
    edge = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs),
            "source": pa.array(srcs),
            "n_chars": pa.array(ncs, pa.int64()),
        }
    )
    pq.write_table(
        pa.concat_tables([base.select(edge.column_names), edge]),
        str(out / "documents.parquet"),
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", str(out / f"{t}.parquet"))
    return str(out)


#: events-family queries whose oracle must survive degenerate rows
_EVENT_FAMILY = [
    "counter_reset_delta", "flatline_runs", "tumbling_categorize",
    "merge_windows", "interval_subtract", "sessionization", "lag_dedup",
    "rolling_1h", "interpolate_linear", "asof_join", "interval_semijoin",
    "resample_ffill", "window_analytics", "merge_upsert", "json_extract",
    "map_functions", "scalar_functions", "agg_suite", "quantiles",
    "threshold_rules", "posexplode_resample", "topk_per_group",
    "streaming_tumbling", "streaming_sessions", "streaming_stateful_dedup",
    "overlap_join", "mad_outliers", "funnel", "cohort_retention",
    "trend_slope", "cusum_changepoint", "bitmap_distinct",
    "streaming_anomalies", "feature_scaling", "table_diff",
    "distribution_drift",
]

#: degenerate events a data revision could contain: NULL value, NULL /
#: empty / malformed / non-object-value JSON props, NULL / '' event
#: type, zero and negative values (ts stays valid — the generator
#: always emits timestamps)
def _degenerate_events(base_ts):
    import datetime

    t = lambda s: base_ts + datetime.timedelta(seconds=s)
    return [
        (990001, t(0), 990, "click", None, '{"a": 1}'),
        (990002, t(1), 990, None, 1.5, None),
        (990003, t(2), 991, "", None, "not json"),
        (990004, t(3), 991, "click", 0.0, ""),
        (990005, t(4), 992, "purchase", -3.25, '{"nested": {"b": [1,2]}}'),
    ]


@pytest.fixture(scope="module")
def degenerate_events_sf(sf_dir, tmp_path_factory):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("degenerate_events_sf")
    base = pq.read_table(f"{sf_dir}/events.parquet")
    rows = _degenerate_events(base.column("ts")[0].as_py())
    ids, tss, uids, types, vals, props = zip(*rows)
    edge = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(list(tss), base.schema.field("ts").type),
            "user_id": pa.array(uids, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    pq.write_table(
        pa.concat_tables([base.select(edge.column_names), edge]),
        str(out / "events.parquet"),
    )
    for t in TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", str(out / f"{t}.parquet"))
    return str(out)


#: embeddings-family queries whose oracle must survive degenerate
#: vectors (rows-only embedding_ivf / embedding_pq are covered by the
#: crash-only test below — no oracle to compare)
_EMB_FAMILY = [
    "embedding_topk", "embedding_lsh", "embedding_near_dup",
    "embedding_near_dup_exact", "semantic_dedup", "embedding_centroids",
    "ann_invariants",
]

#: degenerate embedding rows a data revision could contain: the zero
#: vector (cosine denominator 0 — pinned to sim 0.0 on both engines),
#: a NULL vector and an empty vector (dropped at operator entry on
#: both engines), an exact duplicate of another row (cos_sim 1.0), and
#: a tiny-magnitude vector (normalization stress)
def _degenerate_embeddings():
    dup = [0.1 * ((i % 7) - 3) for i in range(64)]
    return [
        (900001, [0.0] * 64, 0),
        (900002, None, 1),
        (900003, [], 2),
        (900004, dup, 3),
        (900005, dup, 3),
        (900006, [1e-20 * (i + 1) for i in range(64)], 4),
    ]


@pytest.fixture(scope="module")
def degenerate_emb_sf(sf_dir, tmp_path_factory):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("degenerate_emb_sf")
    base = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids, vecs, labels = zip(*_degenerate_embeddings())
    edge = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, base.schema.field("embedding").type),
            "label": pa.array(labels, base.schema.field("label").type),
        }
    )
    pq.write_table(
        pa.concat_tables([base.select(edge.column_names), edge]),
        str(out / "embeddings.parquet"),
    )
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{sf_dir}/{t}.parquet", str(out / f"{t}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", _EMB_FAMILY)
def test_emb_family_oracle_survives_degenerate_vectors(
    spark, degenerate_emb_sf, name
):
    """Embeddings-side regen-proofing: a zero vector would make every
    cosine NaN — and NaN ORDERING disagrees between engines (numpy
    lexsort ranks NaN sims last, SQL window DESC ranks NaN first), so
    the operators clamp the norm (sim exactly 0.0) and the oracles pin
    the same via CASE; NULL/empty vectors are dropped at operator entry
    on both engines."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{degenerate_emb_sf}/{t}.parquet')"
            )
        spark_pdf = (
            entrymod.queries()[name](spark, degenerate_emb_sf).toPandas()
        )
        duck_pdf = con.execute(entrymod.oracle_sql()[name]).df()
        problems = compare(name, spark_pdf, duck_pdf)
        assert not problems, f"{name}: {problems}"
    finally:
        con.close()


@pytest.mark.parametrize("name", ["embedding_ivf", "embedding_pq"])
def test_rows_only_emb_queries_survive_degenerate_vectors(
    spark, degenerate_emb_sf, name
):
    """The iterative ANN paths have no SQL oracle; the degenerate sweep
    still must not crash them (NULL vectors would break the numpy batch
    matrix without the entry filter) and every scorable vector must
    get k result rows."""
    out = entrymod.queries()[name](spark, degenerate_emb_sf).toPandas()
    assert len(out) > 0
    assert not out["query_id"].isin([900002, 900003]).any()


@pytest.mark.parametrize("name", _EVENT_FAMILY)
def test_event_family_oracle_survives_degenerate_rows(
    spark, degenerate_events_sf, name
):
    """Events-side regen-proofing (see the documents twin below): this
    sweep caught the two JSON oracles ERRORING on malformed props
    (DuckDB json_* raises where Spark's from_json yields NULL) and the
    map oracle extracting from objects Spark's MAP<STRING,LONG> parse
    nulls out wholesale (one non-integral value nulls the whole map)."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{degenerate_events_sf}/{t}.parquet')"
            )
        spark_pdf = (
            entrymod.queries()[name](spark, degenerate_events_sf).toPandas()
        )
        duck_pdf = con.execute(entrymod.oracle_sql()[name]).df()
        problems = compare(name, spark_pdf, duck_pdf)
        assert not problems, f"{name}: {problems}"
    finally:
        con.close()


@pytest.mark.parametrize("name", _DOC_FAMILY)
def test_doc_family_oracle_survives_degenerate_text(
    spark, degenerate_sf, name
):
    """Regen-proofing: the driver has revised /root/testdata once
    already (ts encoding); a revision that adds empty/NULL/unicode
    text must not flip any driver-checked hash. This sweep caught
    three real divergences when introduced: repetition_signals widened
    n_tokens to float on NULL text, chunk_documents disagreed on
    ''-vs-NULL for zero-token chunks, and the multimodal oracle's
    BLOB cast rejected non-ASCII outright."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{degenerate_sf}/{t}.parquet')"
            )
        spark_pdf = entrymod.queries()[name](spark, degenerate_sf).toPandas()
        duck_pdf = con.execute(entrymod.oracle_sql()[name]).df()
        problems = compare(name, spark_pdf, duck_pdf)
        assert not problems, f"{name}: {problems}"
    finally:
        con.close()


#: part-family queries whose oracle must survive degenerate names
_PART_FAMILY = ["fuzzy_match", "entity_resolution"]

#: degenerate part rows a data revision could contain: NULL name,
#: empty name, single char, unicode, exact-duplicate names, and a
#: name within edit distance 1 of an existing one ("small ring")
_DEGENERATE_PARTS = [
    (990001, None, "Brand#1", "ECONOMY", 1, 1.0),
    (990002, "", "Brand#1", "ECONOMY", 1, 1.0),
    (990003, "x", "Brand#1", "ECONOMY", 1, 1.0),
    (990004, "smáll ríng", "Brand#1", "ECONOMY", 1, 1.0),
    (990005, "small rings", "Brand#1", "ECONOMY", 1, 1.0),
    (990006, "small ring", "Brand#1", "ECONOMY", 1, 1.0),
]


@pytest.fixture(scope="module")
def degenerate_part_sf(sf_dir, tmp_path_factory):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("degenerate_part_sf")
    base = pq.read_table(f"{sf_dir}/part.parquet")
    keys, names, brands, types, sizes, prices = zip(*_DEGENERATE_PARTS)
    edge = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(brands),
            "p_type": pa.array(types),
            "p_size": pa.array(sizes, base.schema.field("p_size").type),
            "p_retailprice": pa.array(prices, pa.float64()),
        }
    )
    pq.write_table(
        pa.concat_tables([base.select(edge.column_names), edge]),
        str(out / "part.parquet"),
    )
    for t in TABLES:
        if t != "part":
            os.symlink(f"{sf_dir}/{t}.parquet", str(out / f"{t}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", _PART_FAMILY)
def test_part_family_oracle_survives_degenerate_names(
    spark, degenerate_part_sf, name
):
    """Part-side regen-proofing for the entity-resolution queries:
    NULL/empty/unicode names and planted fuzzy duplicates must produce
    identical pair sets and canonical maps on both engines (Spark
    levenshtein and DuckDB levenshtein are both codepoint-grained
    unit-cost edit distance — pinned here on non-ASCII)."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{degenerate_part_sf}/{t}.parquet')"
            )
        spark_pdf = (
            entrymod.queries()[name](spark, degenerate_part_sf).toPandas()
        )
        duck_pdf = con.execute(entrymod.oracle_sql()[name]).df()
        problems = compare(name, spark_pdf, duck_pdf)
        assert not problems, f"{name}: {problems}"
    finally:
        con.close()
