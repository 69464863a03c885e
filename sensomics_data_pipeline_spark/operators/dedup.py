"""Deduplication operators for training-data pipelines (north-star ops):
exact hash dedup, n-gram Jaccard, MinHash+LSH, SimHash signatures +
Hamming pairing, transitive duplicate-cluster resolution
(``duplicate_clusters``) and the end-to-end ``dedup_corpus`` composer.

Scale design: every variant avoids the O(n²) all-pairs comparison —
exact dedup is a hash groupBy; Jaccard generates pairs from df-capped
inverted-index posting lists; MinHash/LSH banding and SimHash band
splitting turn near-dup search into bucket-grouped in-list
combinations. The only quadratic step left is *within candidate
buckets*, which banding keeps tiny. All hashes are the portable 60-bit
``md5``-derived hash so results are engine-independent and
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensomics_data_pipeline_spark.operators.text import word_shingles


def _hash_expr(col, seed: int | None = None):
    if seed is not None:
        col = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _hex_hash_expr(col):
    """15-char lowercase hex form of the portable 60-bit hash — same
    identity as ``_hash_expr`` (fixed-length hex is order- and
    equality-isomorphic to the bigint) but skips the conv(16,10) base
    conversion, which dominates hashing cost. Use wherever the hash is
    only a join/group key, never exposed."""
    return F.substring(F.md5(col), 1, 15)


def exact_duplicates(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    only_dups: bool = True,
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one shuffle on the 60-bit
    text hash, groups with >1 member are duplicate clusters
    (``only_dups=False`` returns every cluster — the dedup'd canonical
    mapping)."""
    hashed = df.select(
        F.col(key_col), _hash_expr(F.col(text_col)).alias("content_hash")
    )
    out = hashed.groupBy("content_hash").agg(
        F.count("*").alias("n_docs"),
        F.min(key_col).alias("canonical_id"),
    )
    return out.filter(F.col("n_docs") > 1) if only_dups else out


def hashed_shingle_sets(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    engine_exact: bool = True,
) -> DataFrame:
    """Exploded distinct ``(doc_id, set_size, sh)`` rows, one per
    distinct shingle per doc, with NO shuffle: per-doc dedup happens
    map-side via ``array_distinct`` on the RAW shingles (so ``set_size``
    is a free ``size()`` — distinct raw shingles and distinct hashes
    are the same set), and the md5 hash is applied AFTER the explode in
    a flat codegen'd projection — hashing inside a higher-order
    ``transform`` falls out of whole-stage codegen and was ~2× slower.
    Set sizes ride along through the explode instead of needing a
    groupBy + join-back, which is what let the round-2 plan's
    ``persist()`` (with no unpersist point) be deleted outright.

    The shingle array is materialized as a real attribute through a
    generator barrier (``util.materialize``) BEFORE the shingle
    explode: putting ``size(arr)`` and ``explode(arr)`` in one
    projection over the raw expression lets Catalyst's projection
    collapse substitute the full shingle-HOF tree into every consumer,
    re-tokenizing each document once per EXPLODED ROW (~50× duplicated
    work, measured 8× slower end-to-end). ``size()`` on a materialized
    attribute is O(1), so the barrier makes the collapse harmless."""
    from sensomics_data_pipeline_spark.util import fan_out, materialize

    if not engine_exact:
        # hashlib kernel (``engine_exact=False``): reuse the tested
        # Arrow gram-hash twin — distinct raw shingles and distinct
        # hashes are the same set on both paths, so set_size and the
        # exploded hash rows are identical to the HOF form
        from sensomics_data_pipeline_spark.operators.text import (
            _gram_hashes_arrow,
        )

        g = _gram_hashes_arrow(
            fan_out(df).select(
                F.col(key_col).alias("doc_id"), F.col(text_col)
            ),
            text_col,
            n,
        )
        return g.select(
            "doc_id",
            F.size("_g").alias("set_size"),
            F.explode("_g").alias("sh"),
        )

    raw = F.array_distinct(word_shingles(F.col(text_col), n))
    barrier = materialize(
        fan_out(df).select(F.col(key_col).alias("doc_id"), F.col(text_col)),
        _shs=raw,
    )
    return barrier.select(
        "doc_id",
        F.size("_shs").alias("set_size"),
        F.explode("_shs").alias("_shingle"),
    ).select(
        "doc_id", "set_size", _hex_hash_expr(F.col("_shingle")).alias("sh")
    )


def _pair_combos(ds_col):
    """All ordered combinations (i < j) of a SORTED array of structs —
    the inverted-index pair generator. Emitted as structs so one explode
    yields both pair members with their piggybacked payloads."""
    return F.flatten(
        F.transform(
            ds_col,
            lambda x, i: F.transform(
                F.slice(ds_col, i + F.lit(2), F.size(ds_col)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _packed_pairs_arrow(
    posting: DataFrame, pair_chunk: int = 4_000_000
) -> DataFrame:
    """All (i < j) combinations of each sorted packed-long posting list
    (single ``ds array<bigint>`` column), generated in one Arrow pass.

    The nested-transform HOF (``explode(_pair_combos(ds))``) is
    evaluated interpreted with a suffix-slice allocation per element —
    the measured hot spot of the 10× ngram_jaccard rehearsal (~13 s of
    a 15 s wall for 12.7M pairs). Here lists are grouped BY LENGTH and
    each length's pairs come from one cached ``triu_indices`` gather
    over a stacked (lists × d) matrix — no per-pair or per-list Python
    in the hot path. Output is the same pair SET (a < b holds because
    lists are sorted); the downstream groupBy is order-insensitive.
    Peak memory is BOUNDED regardless of posting-list skew: pairs are
    emitted in ≤ ``pair_chunk`` chunks (default 4M pairs ≈ 64 MB of
    int64 a/b), chunking across same-length lists AND — for one giant
    list whose own pair count exceeds the cap (a hot shingle with
    ``max_df=None``: d = 50k docs means 1.25B pairs) — by walking
    anchor rows and flushing cap-sized buffers, so even the giant-list
    path never allocates an O(d²) index template. The old whole-batch
    concatenation materialized every posting list's full explosion at
    once, an OOM regression vs the interpreted HOF's incremental
    evaluation on skewed corpora. Equivalence pinned by
    tests/test_operators.py."""
    import numpy as np
    import pandas as pd

    def gen(batches: "Iterator[pd.DataFrame]"):
        templates: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            ds = pdf["ds"]
            lens = np.fromiter(
                (len(v) for v in ds), dtype=np.int64, count=len(ds)
            )
            if lens.max(initial=0) < 2:
                continue
            vals = np.concatenate(
                [np.asarray(v, dtype=np.int64) for v in ds]
            )
            ends = np.cumsum(lens)
            starts = ends - lens
            pend_a: list = []
            pend_b: list = []
            pend_n = 0
            for d in np.unique(lens):
                if d < 2:
                    continue
                rows = np.nonzero(lens == d)[0]
                per_list = int(d) * (int(d) - 1) // 2
                if per_list > pair_chunk:
                    # one list alone overflows the cap: walk anchor
                    # rows i, emitting the (d-1-i)-wide tail per anchor
                    # and flushing in cap-sized chunks. This allocates
                    # O(d) per anchor plus the chunk buffers — never
                    # the O(d²) triu index template, which at d = 50k
                    # is ~20 GB of int64 and was itself the memory
                    # hazard the cap exists to prevent.
                    for r in rows:
                        lst = vals[starts[r] : ends[r]]
                        g_a: list = []
                        g_b: list = []
                        g_n = 0
                        for i in range(int(d) - 1):
                            tail = lst[i + 1 :]
                            g_a.append(
                                np.full(len(tail), lst[i], dtype=np.int64)
                            )
                            g_b.append(tail)
                            g_n += len(tail)
                            if g_n >= pair_chunk:
                                yield pd.DataFrame(
                                    {
                                        "a": np.concatenate(g_a),
                                        "b": np.concatenate(g_b),
                                    }
                                )
                                g_a, g_b, g_n = [], [], 0
                        if g_n:
                            yield pd.DataFrame(
                                {
                                    "a": np.concatenate(g_a),
                                    "b": np.concatenate(g_b),
                                }
                            )
                    continue
                if d not in templates:
                    templates[d] = np.triu_indices(int(d), 1)
                ti, tj = templates[d]
                # chunk rows so each emitted frame stays under the cap
                rows_per = max(1, pair_chunk // per_list)
                for c in range(0, len(rows), rows_per):
                    sub = rows[c : c + rows_per]
                    mat = vals[starts[sub][:, None] + np.arange(d)[None, :]]
                    pend_a.append(mat[:, ti].ravel())
                    pend_b.append(mat[:, tj].ravel())
                    pend_n += len(sub) * per_list
                    if pend_n >= pair_chunk:
                        yield pd.DataFrame(
                            {
                                "a": np.concatenate(pend_a),
                                "b": np.concatenate(pend_b),
                            }
                        )
                        pend_a, pend_b, pend_n = [], [], 0
            if pend_n:
                yield pd.DataFrame(
                    {"a": np.concatenate(pend_a), "b": np.concatenate(pend_b)}
                )

    return posting.mapInPandas(gen, "a long, b long")


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    safe_df_cap: bool = False,
    prefix_filter: bool = False,
    engine_exact: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted index.

    Plan (2 shuffles, no persist, no self-join): map-side per-doc
    distinct shingle arrays (``shingle_arrays``) → explode carrying
    ``set_size`` → groupBy shingle collecting the sorted posting list →
    emit all in-list combinations → count per pair → Jaccard from
    |A∪B| = |A|+|B|−|A∩B|. Set sizes piggyback on the posting structs,
    so there is no groupBy-sizes + double join-back, and nothing is
    computed twice — the round-2 ``persist()`` with no unpersist point
    is gone because no branch re-reads the substrate.

    Scale levers, both optional:

    - ``max_df``: drop stop-shingles whose posting list exceeds
      ``max_df`` docs, bounding each shingle's pair fan-out at
      max_df²/2. Sizes are computed before the cap so the denominator
      stays exact; intersection counts become a lower bound for pairs
      dominated by stop-shingles (documented approximation —
      MinHash/LSH is the preferred scale path). By default the cap is
      applied by filtering AFTER the posting list is collected — one
      shuffle, but a pathologically hot shingle materializes its full
      list in one aggregation buffer. ``safe_df_cap=True`` switches to
      the two-phase plan (count df, semi-join rare shingles, then
      collect) that never builds an over-cap buffer — the right setting
      for 100-TB corpora, at the cost of one extra shuffle.

    - ``prefix_filter``: LOSSLESS candidate pruning for
      ``threshold > 2/3``. Each doc drops its ⌊(1−θ)·|set|⌋ globally
      most-frequent shingles before pair generation; a qualifying pair
      (J ≥ θ) shares ≥ θ·(|A|+|B|)/2 shingles of which the two drops
      remove at most (1−θ)·(|A|+|B|), leaving ≥ (3θ/2−1)·(|A|+|B|) > 0
      shared survivors — so every true pair still collides. Exact
      intersection counts are then recomputed from the FULL sets for
      the surviving candidates only. Raises for θ ≤ 2/3 where the
      bound is vacuous.

    ``engine_exact=False`` swaps BOTH interpreted hot spots for
    Arrow/numpy kernels producing identical results (pinned by
    equivalence tests): the shingle HOF for the hashlib gram kernel
    (``hashed_shingle_sets``) and — when the key is integral — the
    pair-combination HOF for :func:`_packed_pairs_arrow`.
    """
    sets = hashed_shingle_sets(
        df, key_col, text_col, n, engine_exact=engine_exact
    )

    if prefix_filter:
        if threshold <= 2.0 / 3.0:
            raise ValueError(
                f"prefix_filter is only lossless for threshold > 2/3, got {threshold}"
            )
        from pyspark.sql import Window

        dfc = sets.groupBy("sh").agg(F.count("*").alias("_df"))
        w = Window.partitionBy("doc_id").orderBy(
            F.col("_df").desc(), F.col("sh")
        )
        kept = (
            sets.join(dfc, "sh")
            .withColumn("_rn", F.row_number().over(w))
            .filter(
                F.col("_rn")
                > F.floor(F.lit(1.0 - threshold) * F.col("set_size"))
            )
            .select("doc_id", "set_size", "sh")
        )
        cand_src = kept
    else:
        cand_src = sets

    if max_df is not None and safe_df_cap:
        rare = (
            cand_src.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("sh")
        )
        cand_src = cand_src.join(rare, "sh")

    # Posting-list element: (doc_id, set_size), packed into ONE long when
    # the key is a non-negative integer — primitive long arrays make the
    # collect_list / array_sort / combination explode allocate flat
    # word-sized cells instead of a struct row per element (~2× faster
    # measured; the combos HOF is interpreted, so allocation dominates).
    # Packing is monotone in doc_id (set_size occupies the low bits), so
    # sorted order and the a<b pair orientation are preserved. Guarded:
    # a doc whose distinct-shingle count exceeds the low-bit capacity
    # raises rather than silently corrupting keys.
    integral_key = dict(df.dtypes)[key_col] in ("tinyint", "smallint", "int", "bigint")
    if integral_key:
        ss_bits = 21  # set_size < 2^21 (≈2M distinct shingles ≈ multi-MB doc)
        cap = 1 << ss_bits
        packed = F.when(
            (F.col("set_size") < cap) & (F.col("doc_id") >= 0),
            F.col("doc_id") * cap + F.col("set_size"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ngram_jaccard_pairs: packed-key overflow for doc "),
                    F.col("doc_id").cast("string"),
                )
            )
        )
        elem = packed
    else:
        elem = F.struct("doc_id", "set_size")

    posting = cand_src.groupBy("sh").agg(
        F.array_sort(F.collect_list(elem.alias("e"))).alias("ds")
    )
    if max_df is not None and not safe_df_cap:
        posting = posting.filter(F.size("ds") <= max_df)
    pair_src = posting.filter(F.size("ds") > 1)
    if integral_key:
        if engine_exact:
            pairs_ab = pair_src.select(
                F.explode(_pair_combos(F.col("ds"))).alias("p")
            ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        else:
            # Arrow kernel for the pair explosion — the interpreted
            # HOF was the measured 10×-rehearsal hot spot
            pairs_ab = _packed_pairs_arrow(pair_src.select("ds"))
        common = (
            pairs_ab.groupBy("a", "b")
            .agg(F.count("*").alias("n_common"))
            .select(
                F.expr(f"a DIV {cap}").alias("doc_a"),
                F.expr(f"b DIV {cap}").alias("doc_b"),
                F.pmod("a", F.lit(cap)).cast("int").alias("size_a"),
                F.pmod("b", F.lit(cap)).cast("int").alias("size_b"),
                "n_common",
            )
        )
    else:
        pairs = pair_src.select(
            F.explode(_pair_combos(F.col("ds"))).alias("p")
        )
        common = pairs.groupBy(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.set_size").alias("size_a"),
            F.col("p.b.set_size").alias("size_b"),
        ).agg(F.count("*").alias("n_common"))

    if prefix_filter:
        # exact recount from FULL sets, restricted to surviving candidates
        cands = common.select("doc_a", "doc_b", "size_a", "size_b")
        ea = sets.select(F.col("doc_id").alias("doc_a"), "sh")
        eb = sets.select(F.col("doc_id").alias("doc_b"), "sh")
        common = (
            cands.join(ea, "doc_a")
            .join(eb, ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b", "size_a", "size_b")
            .agg(F.count("*").alias("n_common"))
        )

    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


#: Mersenne prime 2^31−1 for the universal-hash family below.
MINHASH_P = 2_147_483_647


def minhash_seed_params(seed: int) -> tuple[int, int]:
    """Universal-hash coefficients for seed i: h_i(x) = (a·x + b) mod p
    with a odd and (a, b) < p — one base md5 hash per shingle feeds all
    k hash functions (the standard a·x+b MinHash family), instead of k
    md5 invocations per shingle."""
    return 2 * seed + 1, (104_729 * seed + 12_345) % MINHASH_P


def _minhash_wide_arrow(
    df: DataFrame,
    key_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
) -> DataFrame:
    """Arrow twin of :func:`minhash_wide`: hashlib md5 in C + one numpy
    ``(a·h+b) mod p`` min per batch instead of the interpreted
    md5-HOF / per-seed ``array_min(transform(...))`` chain (HOFs never
    enter whole-stage codegen — the signature projection was the
    dominant cost of the whole minhash family at the 10× rehearsal).
    Bit-identical by construction: the ``_py_tokens`` tokenizer replica
    (Java-``\\s`` semantics, guarded by the fingerprint edge tests),
    the same ``md5[:15] mod p`` base hash, the same integer coefficient
    math — all exact int64 arithmetic. The key column passes through
    with its INPUT type (schema derived from ``df.schema`` like
    ``_gram_hashes_arrow``), so string-keyed callers take this fast
    path too instead of silently coercing to int64."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from sensomics_data_pipeline_spark.operators.text import _py_tokens
    from sensomics_data_pipeline_spark.util import fan_out

    p = MINHASH_P
    coeffs = [minhash_seed_params(s) for s in range(num_hashes)]
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    src = fan_out(df).select(F.col(key_col).alias("doc_id"), text_col)
    out_schema = StructType(
        [
            StructField("doc_id", src.schema["doc_id"].dataType),
            StructField("mhs", ArrayType(LongType())),
        ]
    )

    def run(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            keep: list[int] = []
            sigs: list = []
            for pos, t in enumerate(pdf[text_col]):
                toks = _py_tokens(t)
                if len(toks) < n:
                    continue  # no shingles — dropped, like the HOF form
                hs = np.fromiter(
                    (
                        int(
                            md5(
                                " ".join(toks[i : i + n]).encode("utf-8")
                            ).hexdigest()[:15],
                            16,
                        )
                        % p
                        for i in range(len(toks) - n + 1)
                    ),
                    dtype=np.int64,
                )
                sigs.append((a_vec * hs[None, :] + b_vec) % p)
                keep.append(pos)
            yield pd.DataFrame(
                {
                    # .iloc keeps the key column's incoming dtype —
                    # int64 stays int64, strings stay strings
                    "doc_id": pdf["doc_id"].iloc[keep].reset_index(drop=True),
                    "mhs": pd.Series(
                        [s.min(axis=1) for s in sigs], dtype="object"
                    ),
                }
            )

    return src.mapInPandas(run, out_schema)


def minhash_wide(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    engine_exact: bool = True,
) -> DataFrame:
    """MinHash signature as ONE array column per doc, computed entirely
    inside a codegen'd projection: shingle → one portable base hash
    (mod p) → k universal-hash minima. ZERO shuffles (the naive design
    explodes |shingles|·k rows through a groupBy). min over the shingle
    multiset equals min over the set, so no distinct pass either. Docs
    with < n tokens (no shingles) are dropped.

    The base-hash array is materialized as a real attribute through a
    generator barrier (``util.materialize``): with a plain aliased
    projection, Catalyst's filter-pushdown + projection collapse
    substitutes the md5-HOF expression into ALL k ``array_min``
    consumers, re-hashing every shingle k times (measured ~2× slower at
    k=16; the same pitfall is documented on ``hashed_shingle_sets``).

    ``engine_exact=False`` swaps the interpreted HOF kernel for
    :func:`_minhash_wide_arrow` (hashlib + numpy, bit-identical —
    full-table equivalence test in ``tests/test_operators.py``); used
    by the hot LSH paths."""
    if not engine_exact:
        return _minhash_wide_arrow(df, key_col, text_col, n, num_hashes)
    from sensomics_data_pipeline_spark.util import fan_out, materialize

    base = F.transform(
        word_shingles(F.col(text_col), n),
        lambda s: F.pmod(_hash_expr(s), F.lit(MINHASH_P)),
    )
    barrier = materialize(
        fan_out(df).select(F.col(key_col).alias("doc_id"), F.col(text_col)),
        _base=base,
    )
    minima = []
    for seed in range(num_hashes):
        a, b = minhash_seed_params(seed)
        minima.append(
            F.array_min(
                F.transform(
                    F.col("_base"),
                    lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_P)),
                )
            )
        )
    return (
        barrier.filter(F.size("_base") > 0)
        .select("doc_id", F.array(*minima).alias("mhs"))
    )


def _band_explode(
    signatures: DataFrame,
    band_size: int,
    num_hashes: int,
    carry: list[str],
) -> DataFrame:
    """Slice each wide signature into bands and explode to one row per
    (doc, band, band_sig), carrying any extra columns in ``carry``."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice("mhs", i * band_size + 1, band_size),
                        lambda m: m.cast("string"),
                    ),
                ).alias("band_sig"),
            )
            for i in range(n_bands)
        ]
    )
    return signatures.select(
        "doc_id", *carry, F.explode(bands).alias("b")
    ).select("doc_id", *carry, "b.band", "b.band_sig")


def _capped_bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    payload_col: str,
    max_bucket: int,
) -> DataFrame:
    """Skew-guarded pair generation over LSH-style buckets, bounded in
    BOTH memory and fan-out (the unguarded ``collect_list`` per bucket
    OOMs one executor when a degenerate bucket arrives — e.g. a giant
    exact-duplicate class in crawl data, where every empty/boilerplate
    doc shares one signature and lands on one aggregation key).

    Shape: rank bucket members with one ``row_number`` window (a
    SPILLABLE sort, unlike an aggregation buffer) carrying the bucket's
    smallest-id member as ``hub``. The first ``max_bucket`` members
    form exact in-bucket combinations (agg buffer ≤ max_bucket
    payloads); every OVERFLOW member emits one (hub, member) pair as a
    pure projection — no collect at all. Exact-duplicate classes (the
    skew case that matters) therefore stay FULLY connected through the
    hub with an exact similarity score; what is given up beyond the cap
    is only member↔member pairs among docs that collide WITHOUT being
    hub-similar — a documented approximation that only begins past
    ``max_bucket`` occupancy. Deterministic: ordering is by doc_id.

    Returns (doc_a, doc_b, _pa, _pb) with doc_a < doc_b and the two
    payloads, deduplicated across buckets by the caller's groupBy."""
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols).orderBy("doc_id")
    ranked = banded.select(
        *bucket_cols,
        "doc_id",
        payload_col,
        F.row_number().over(w).alias("_rn"),
        F.first("doc_id").over(w).alias("_hub_id"),
        F.first(payload_col).over(w).alias("_hub_p"),
    )
    head = (
        ranked.filter(F.col("_rn") <= max_bucket)
        .groupBy(*bucket_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", payload_col))
            ).alias("ds")
        )
    )
    head_pairs = (
        head.filter(F.size("ds") > 1)
        .select(F.explode(_pair_combos(F.col("ds"))).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col(f"p.a.{payload_col}").alias("_pa"),
            F.col(f"p.b.{payload_col}").alias("_pb"),
        )
    )
    tail_pairs = ranked.filter(F.col("_rn") > max_bucket).select(
        F.col("_hub_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("_hub_p").alias("_pa"),
        F.col(payload_col).alias("_pb"),
    )
    return head_pairs.unionByName(tail_pairs)


def minhash_lsh_dedup(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: wide signatures → banded
    candidate pairs → estimated Jaccard (fraction of equal minhash
    positions, via one zip_with over the two signature arrays — no
    per-seed join).

    No self-join and no persist: banded rows (carrying their doc's full
    ``mhs``) are grouped by (band, band_sig) into sorted bucket lists,
    and candidate pairs are emitted as in-bucket combinations — the
    same inverted-index pair generation as ``ngram_jaccard_pairs``.
    The round-2 version self-joined the banded table, which forced the
    md5-heavy signature projection to be computed once per join side
    (hence its ``persist()`` with no unpersist point); with bucket
    collection the signatures have exactly ONE consumer, so nothing is
    computed twice and nothing is pinned. LSH buckets are small by
    construction (that is the point of banding), so the per-bucket
    combination fan-out is bounded in the typical case; a degenerate
    bucket (a giant exact-duplicate class — every member shares the
    full signature) is a hot aggregation key that would OOM the
    unguarded collect. ``max_bucket`` is the guard: pass it (256 is a
    sane production value) to switch to :func:`_capped_bucket_pairs` —
    spillable ranked buckets, exact combos for the first ``max_bucket``
    members, hub pairs for the overflow, so exact-dup classes stay
    fully connected at est_jaccard 1.0 under bounded memory. Default
    ``None`` keeps the exact all-combos semantics (the oracle-checked
    path)."""
    sigs = minhash_wide(
        df, key_col, text_col, n, num_hashes, engine_exact=False
    )
    banded = _band_explode(sigs, band_size, num_hashes, ["mhs"])
    if max_bucket is None:
        buckets = banded.groupBy("band", "band_sig").agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "mhs"))).alias(
                "ds"
            )
        )
        pair_src = (
            buckets.filter(F.size("ds") > 1)
            .select(F.explode(_pair_combos(F.col("ds"))).alias("p"))
            .select(
                F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.b.doc_id").alias("doc_b"),
                F.col("p.a.mhs").alias("_ma"),
                F.col("p.b.mhs").alias("_mb"),
            )
        )
    else:
        pair_src = _capped_bucket_pairs(
            banded, ["band", "band_sig"], "mhs", max_bucket
        ).withColumnsRenamed({"_pa": "_ma", "_pb": "_mb"})
    pairs = pair_src.groupBy("doc_a", "doc_b").agg(
        F.first("_ma").alias("_ma"), F.first("_mb").alias("_mb")
    )
    matches = F.size(
        F.filter(
            F.zip_with("_ma", "_mb", lambda x, y: x == y), lambda v: v
        )
    )
    return pairs.withColumn(
        "est_jaccard", F.round(matches / F.lit(num_hashes), 6)
    ).select("doc_a", "doc_b", "est_jaccard")


def _cc_local(edges: DataFrame, stats: dict | None) -> DataFrame:
    """Driver-side connected components for BOUNDED edge sets (the
    ``local_cap`` gate in :func:`duplicate_clusters` guarantees ≤ cap
    edges ≈ tens of MB): vectorized numpy min-label propagation with
    pointer jumping — the same O(log diameter) algorithm as the
    distributed path, minus ~5 scheduler jobs per round. Identical
    output by construction: every vertex's label converges to the
    component minimum.

    Type-generic like the distributed path (entity resolution
    clusters STRING names): vertices are factorized to sorted-unique
    indices, min-propagation runs on the indices (sorted order makes
    index-min ≡ value-min; numpy's code-point string sort matches
    Spark's binary UTF-8 ordering), and the output maps back through
    the id array with the input's own id type."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = edges.sparkSession
    id_type = edges.schema["src"].dataType
    out_schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("canonical_id", id_type),
        ]
    )
    pdf = edges.toPandas()
    if not len(pdf):
        return spark.createDataFrame([], out_schema)
    ids, inv = np.unique(
        np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]),
        return_inverse=True,
    )
    si = inv[: len(pdf)]
    di = inv[len(pdf) :]
    label = np.arange(len(ids), dtype=np.int64)
    for _ in range(64):
        m = np.minimum(label[si], label[di])
        new = label.copy()
        np.minimum.at(new, si, m)
        np.minimum.at(new, di, m)
        # pointer jump: labels are vertex INDICES, so one gather
        # follows label -> label-of-label
        new = np.minimum(new, new[new])
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        if np.array_equal(new, label):
            break
        label = new
    else:
        raise RuntimeError("_cc_local did not converge in 64 passes")
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "canonical_id": ids[label]}),
        schema=out_schema,
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
    stats: dict | None = None,
    local_cap: int | None = 2_000_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components by iterative min-label propagation, returning
    ``(doc_id, canonical_id)`` with ``canonical_id`` = the smallest doc
    id in the component (the same keep-lowest convention as
    ``exact_duplicates``).

    This is the missing last step between any pairwise near-dup
    operator (``ngram_jaccard_pairs`` / ``minhash_lsh_dedup`` /
    ``simhash_pairs`` / ``cosine_near_dup_pairs``) and an actually
    deduplicated corpus: pairs (A,B),(B,C) must collapse to ONE
    canonical survivor even though (A,C) was never emitted.

    Scale shape: each round is (a) label = min(own, direct neighbors')
    — one join + groupBy-min — then (b) one POINTER-JUMPING step
    (label ← label's label, a self-join on the label table): (a) alone
    converges in O(component diameter) rounds, the path-halving in (b)
    brings it to O(log diameter), which matters because per-round fixed
    cost (two jobs: checkpoint + convergence probe) dominates wall time
    for the small-diameter components near-dup data produces.
    ``max_iter`` bounds the worst case. Convergence is detected with a
    changed-label count; every round ends in an EAGER
    ``localCheckpoint`` that truncates lineage (without it the plan
    doubles per round and the driver re-plans O(2^rounds) nodes) and
    lets the previous round's blocks be released. Pass ``stats={}`` to
    read back the executed round count (``stats["rounds"]``) — the
    scale rehearsal uses it to verify the O(log diameter) claim.

    ``local_cap`` (default 2M edges ≈ 32 MB): the dedup edge set is
    orders of magnitude smaller than the corpus (it holds only
    near-dup PAIRS), and below the cap the distributed loop's cost is
    pure scheduling — ~5 jobs per round × O(log d) rounds for a graph
    that fits in one task. Like ``ivf_train``'s bounded sample, a
    size-GATED driver-side solve (:func:`_cc_local` — the same
    vectorized min-label + pointer-jumping algorithm in numpy,
    identical output) replaces ~30 scheduler jobs with one collect;
    the count that guards it reads the already-checkpointed edge
    blocks. Above the cap — the true 100-TB regime — the distributed
    path runs unchanged. ``local_cap=None`` forces distributed (the
    rehearsal uses it to measure the pointer-jumping claim)."""
    # Symmetrize via a single explode, NOT union of two selects: union
    # branches are separate plan subtrees, so an expensive `pairs`
    # (e.g. a banding join + Arrow rescore) would execute once PER
    # BRANCH — exchange reuse does not cover the post-join projection.
    # One explode evaluates the pair source exactly once.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                    F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    if local_cap is not None and edges.count() <= local_cap:
        return _cc_local(edges, stats)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("_nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("_nmin"))
        )
        stepped = labels.join(
            neighbor_min.select(F.col("src").alias("doc_id"), "_nmin"),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("_nmin", F.col("label"))).alias(
                "label"
            ),
            (F.col("_nmin") < F.col("label")).alias("_chg"),
        )
        # pointer jumping: follow the label one hop (label of label) —
        # halves remaining path lengths each round. Exactly ONE jump
        # per round: `stepped` is lazy, so the self-join already
        # evaluates it twice; chaining a second jump would square that
        # (each jump's x/y branches re-run the whole neighbor-min
        # join — measured 4-10x slower at sf0.1), and checkpointing
        # `stepped` first to avoid it costs the extra job the second
        # jump was meant to save.
        jumped = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("doc_id").alias("label"), F.col("label").alias("_ll")
                ).alias("y"),
                "label",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("_ll", F.col("label")).alias("label"),
                F.col("_chg"),
            )
        )
        new_labels = jumped.localCheckpoint(eager=True)
        # Convergence probe: one straight aggregate over the cached
        # blocks (single job, all partitions in parallel). A
        # filter+limit(1).count() probe looks cheaper but CollectLimit
        # scans partitions in escalating waves — on the final
        # (converged) round, where nothing matches, that is several
        # scheduling rounds instead of one.
        changed = new_labels.agg(F.max("_chg")).first()[0]
        labels = new_labels.select("doc_id", "label")
        if stats is not None:  # rehearsal/diagnostic hook: rounds executed
            stats["rounds"] = stats.get("rounds", 0) + 1
        if not changed:
            break
    else:
        # partially-propagated labels are silently WRONG clusters —
        # with path halving max_iter=50 covers diameters ~2^50, so
        # hitting this means something is broken, not slow
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds"
        )
    return labels.select("doc_id", F.col("label").alias("canonical_id"))


def dedup_corpus(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    method: str = "minhash",
    **kwargs,
) -> DataFrame:
    """End-to-end near-dup deduplication: pairs → transitive clusters →
    corpus with only the canonical (smallest-id) doc of every duplicate
    cluster kept. Composes a pairwise detector with
    ``duplicate_clusters``; docs in no pair survive untouched (they are
    their own canonical).

    ``method``: ``"exact"`` (hash groupBy — skips the pair stage
    entirely), ``"minhash"`` (LSH banding, the 100-TB default),
    ``"jaccard"`` (exact n-gram inverted index), or ``"simhash"``
    (Hamming banding). Extra kwargs pass through to the detector."""
    if method == "exact":
        clusters = exact_duplicates(
            df, key_col, text_col, only_dups=False
        ).select("content_hash", "canonical_id")
        hashed = df.withColumn("_ch", _hash_expr(F.col(text_col)))
        return (
            hashed.join(
                clusters.select(
                    F.col("content_hash").alias("_ch"), "canonical_id"
                ),
                "_ch",
            )
            .filter(F.col(key_col) == F.col("canonical_id"))
            .drop("_ch", "canonical_id")
        )
    if method == "minhash":
        pairs = minhash_lsh_dedup(df, key_col, text_col, **kwargs)
    elif method == "jaccard":
        pairs = ngram_jaccard_pairs(df, key_col, text_col, **kwargs)
    elif method == "simhash":
        pairs = simhash_pairs(df, key_col, text_col, **kwargs)
    else:
        raise ValueError(f"unknown method {method!r}")
    clusters = duplicate_clusters(pairs.select("doc_a", "doc_b"))
    losers = clusters.filter(F.col("doc_id") != F.col("canonical_id")).select(
        F.col("doc_id").alias(key_col)
    )
    return df.join(losers, key_col, "left_anti")


def _simhash_arrow(
    df: DataFrame, key_col: str, text_col: str, bits: int
) -> DataFrame:
    """Arrow twin of :func:`simhash`: the whole bit-majority vote runs
    per document in one numpy matrix op inside ``mapInPandas`` — NO
    explode, NO shuffle at all (the builtin form shuffles
    ``bits × n_tokens`` vote rows through two aggregations). Same
    values bit-for-bit: the ``_py_tokens`` replica, the same
    ``md5[:15]`` 60-bit hash, per-OCCURRENCE votes (multiset), bit set
    iff the vote sum is strictly positive; zero-token docs are absent
    from the output on both paths."""
    from pyspark.sql.types import LongType, StructField, StructType

    from sensomics_data_pipeline_spark.operators.text import _py_tokens
    from sensomics_data_pipeline_spark.util import fan_out

    src = fan_out(df).select(F.col(key_col).alias("doc_id"), text_col)
    # key type derived from the input schema (same pattern as
    # _minhash_wide_arrow): string-keyed callers keep their keys
    out_schema = StructType(
        [
            StructField("doc_id", src.schema["doc_id"].dataType),
            StructField("simhash", LongType()),
        ]
    )

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        shifts = np.arange(bits, dtype=np.int64)
        weights = (np.int64(1) << shifts).astype(np.int64)
        for pdf in batches:
            keep: list[int] = []
            sigs: list[int] = []
            for pos, t in enumerate(pdf[text_col]):
                toks = _py_tokens(t)
                if not toks:
                    continue  # no tokens -> no vote rows -> absent
                hs = np.fromiter(
                    (
                        int(md5(w.encode("utf-8")).hexdigest()[:15], 16)
                        for w in toks
                    ),
                    dtype=np.int64,
                )
                ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
                votes = 2 * ones - len(toks)  # (+1/-1 sum)
                keep.append(pos)
                sigs.append(int(weights[votes > 0].sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].iloc[keep].reset_index(drop=True),
                    "simhash": pd.Series(sigs, dtype="int64"),
                }
            )

    return src.mapInPandas(run, out_schema)


def simhash(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    engine_exact: bool = True,
) -> DataFrame:
    """SimHash document signature: per-token 60-bit hash, bit-majority
    vote over the first ``bits`` bits → one integer signature per doc.
    Near-dups differ in few bits (Hamming distance).

    Plan (``engine_exact=True``, the oracle-reference form): explode
    tokens → explode bit positions (``bits``× fan-out, constant) →
    signed vote sum per (doc, bit) → reassemble the integer with a
    bit-shift dot product. All built-ins. ``engine_exact=False`` is
    :func:`_simhash_arrow` — one shuffle-free numpy vote per doc,
    bit-identical (full-table equivalence test); the explode form
    shuffles ``bits × n_tokens`` rows, which dominates the simhash
    family at scale even with map-side combine.
    """
    if not engine_exact:
        return _simhash_arrow(df, key_col, text_col, bits)
    from sensomics_data_pipeline_spark.operators.text import tokens
    from sensomics_data_pipeline_spark.util import fan_out

    tok = fan_out(df).select(
        F.col(key_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    hashed = tok.select("doc_id", _hash_expr(F.col("token")).alias("h"))
    votes = (
        hashed.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
            "h",
        )
        .withColumn(
            "vote",
            F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(1L, bit)")).otherwise(F.lit(0))
        ).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    engine_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs from SimHash signatures: the Hamming-distance join
    that makes ``simhash`` useful as a dedup operator.

    LOSSLESS banding by pigeonhole: split the ``bits``-bit signature
    into ``n_bands`` contiguous bands; two signatures within Hamming
    distance ``max_hamming`` ≤ n_bands − 1 differ in at most
    ``max_hamming`` bands, so at least one band is bit-identical —
    an equi-join on (band index, band value) finds every qualifying
    pair without an all-pairs scan (the standard rotate-and-band
    construction). Candidates are then filtered exactly with
    ``bit_count(a ^ b) <= max_hamming``.

    Like ``minhash_lsh_dedup``, candidate pairs come from in-bucket
    combinations after a groupBy — not a self-join — so the
    shuffle-heavy signature computation (two aggregations) runs ONCE
    and nothing needs a persist. Raises if ``max_hamming`` cannot be
    guaranteed lossless for the chosen band count.

    Sizing at scale: bucket cardinality is ``n_bands · 2^(bits/n_bands)``
    — fixed, so in-bucket candidates grow quadratically with corpus
    size once occupancy passes ~1 (measured: slope 10x at 10x docs
    with the default 4 x 8-bit bands, docs/SCALE_r03.md). For 10⁸+
    corpora use ``bits=60, n_bands=4`` (15-bit bands, 4·32768
    buckets — 60 is the portable-hash width, the ceiling for ``bits``):
    same plan, same losslessness bound, 128x the bucket space.

    ``max_bucket`` (optional) is the degenerate-bucket skew guard —
    identical semantics to :func:`minhash_lsh_dedup`'s: ranked
    spillable buckets, exact combos up to the cap, hub pairs for
    overflow members (exact-dup classes stay fully connected at
    hamming 0 under bounded memory; only beyond-cap member↔member
    pairs that are not hub-similar are approximated away). Default
    ``None`` keeps exact all-combos semantics (the oracle path).
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding is lossless only for max_hamming <= n_bands-1 "
            f"({n_bands - 1}), got {max_hamming}"
        )
    if bits % n_bands:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sigs = simhash(df, key_col, text_col, bits, engine_exact=engine_exact)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"(simhash >> {i * band_bits}) & {mask}").alias("bv"),
            )
            for i in range(n_bands)
        ]
    )
    banded = sigs.select(
        "doc_id", "simhash", F.explode(bands).alias("b")
    ).select("doc_id", "simhash", "b.band", "b.bv")
    if max_bucket is None:
        buckets = banded.groupBy("band", "bv").agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        pair_src = (
            buckets.filter(F.size("ds") > 1)
            .select(F.explode(_pair_combos(F.col("ds"))).alias("p"))
            .select(
                F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.b.doc_id").alias("doc_b"),
                F.col("p.a.simhash").alias("_sa"),
                F.col("p.b.simhash").alias("_sb"),
            )
        )
    else:
        pair_src = _capped_bucket_pairs(
            banded, ["band", "bv"], "simhash", max_bucket
        ).withColumnsRenamed({"_pa": "_sa", "_pb": "_sb"})
    # hamming + threshold BEFORE the (doc_a, doc_b) dedup shuffle:
    # the distance is a function of the pair, so filtering the banded
    # duplicates first is semantically identical — and the shuffle
    # then moves one small int per SURVIVING candidate instead of two
    # 64-bit signatures per candidate (same pre-shuffle collapse the
    # incremental-dedup path uses; first() keeps map-side partials).
    return (
        pair_src.withColumn(
            "hamming", F.bit_count(F.expr("_sa ^ _sb")).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
        .select("doc_a", "doc_b", "hamming")
    )


def split_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    sep: str | None = None,
    words_per_para: int = 10,
) -> DataFrame:
    """Explode documents into ordered paragraph units →
    ``(doc_col, pos, para)``.

    Two splitting strategies:

    - ``sep`` given (e.g. ``"\\n\\n"``): real paragraph boundaries — the
      production path for web/markdown corpora.
    - ``sep=None``: fixed non-overlapping windows of ``words_per_para``
      whitespace words — the boundary-free fallback (and the only
      meaningful unit on the driver's synthetic single-line documents).

    Pure built-ins (``split``/``sequence``/``transform``/``slice`` +
    one ``posexplode``) — per-row work, no UDF, no shuffle.
    """
    if sep is not None:
        # NB: Spark split() treats sep as a Java regex (escape as needed)
        paras = F.split(F.col(text_col), sep)
    else:
        words = F.split(F.col(text_col), " ")
        k = int(words_per_para)
        n_paras = F.ceil(F.size(words) / F.lit(float(k))).cast("int")
        paras = F.transform(
            F.sequence(F.lit(0), n_paras - F.lit(1)),
            lambda g: F.array_join(F.slice(words, g * k + 1, k), " "),
        )
    return df.select(
        doc_col, F.posexplode(paras).alias("pos", "para")
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    sep: str | None = None,
    words_per_para: int = 10,
    min_docs: int = 2,
    join_sep: str | None = None,
) -> DataFrame:
    """Paragraph-level boilerplate removal (CCNet/RefinedWeb-style):
    drop every paragraph that appears verbatim in ≥ ``min_docs``
    DISTINCT documents (navboxes, license headers, repeated chunks),
    keeping each document's remaining paragraphs in order. No reference
    analog (north-star corpus op).

    Returns ``(doc_col, clean_text, n_paras, n_removed)``.

    Plan (3 shuffles, all linear in corpus size — no all-pairs step):

    1. split → paragraph units (per-row, no shuffle);
    2. boilerplate set: groupBy the 15-hex md5 of the paragraph,
       ``count_distinct(doc)`` — hashing first keeps the shuffle rows
       at 15 bytes instead of full paragraph text (the 100-TB lever;
       md5-collision risk is the documented portable-hash contract
       shared by every dedup op here);
    3. left join the flag back (AQE decides broadcast vs shuffle — the
       boilerplate set is usually tiny but unbounded, so it is NOT
       force-broadcast) and re-aggregate per document:
       ``collect_list(when(not boiler, struct(pos, para)))`` skips
       nulls, so kept paragraphs, counts, and removals come out of ONE
       groupBy — no second join against per-doc totals.

    The documents scan runs TWICE (boiler-count pass + reassembly
    pass) — deliberately: fusing them by piggy-backing posting lists
    through a single ``groupBy(_ph)`` would buffer a hot boilerplate
    paragraph's full (doc, pos) posting list in one aggregation buffer
    before its count is known — the unbounded-buffer hazard
    ``ngram_jaccard_pairs(safe_df_cap=True)`` exists to avoid. A
    second columnar scan is linear, spill-free, and parallel at any
    scale; an over-cap buffer is an executor OOM.

    ``sep`` is a REGEX for splitting (it feeds ``F.split``); kept
    paragraphs are reassembled with ``join_sep``, a LITERAL. When
    ``join_sep`` is omitted it defaults to ``sep`` only if ``sep``
    contains no regex metacharacters (a literal like ``"\\n\\n"``);
    a genuine pattern (``"\\n+"``) with no explicit ``join_sep``
    raises rather than silently injecting the pattern text verbatim
    into every document.
    """
    if join_sep is None:
        # regex metacharacters (Java regex, which F.split uses); plain
        # whitespace like "\n\n" is literal and safe to join with
        if sep is not None and any(c in sep for c in "\\.^$|?*+()[]{}"):
            raise ValueError(
                f"dedup_paragraphs: sep {sep!r} is a regex pattern, not a "
                "literal — pass join_sep to say what to reassemble with"
            )
        joiner = " " if sep is None else sep
    else:
        joiner = join_sep
    paras = split_paragraphs(df, text_col, doc_col, sep, words_per_para)
    paras = paras.withColumn("_ph", _hex_hash_expr(F.col("para")))
    boiler = (
        paras.groupBy("_ph")
        .agg(F.count_distinct(F.col(doc_col)).alias("_nd"))
        .filter(F.col("_nd") >= int(min_docs))
        .select("_ph", F.lit(True).alias("_boiler"))
    )
    flagged = paras.join(boiler, "_ph", "left")
    return (
        flagged.groupBy(doc_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_boiler").isNull(),
                                F.struct("pos", "para"),
                            )
                        )
                    ),
                    lambda x: x["para"],
                ),
                joiner,
            ).alias("clean_text"),
            F.count("*").alias("n_paras"),
            F.count("_boiler").alias("n_removed"),
        )
    )


def dedup_incremental(
    new_df: DataFrame,
    seen_df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingest dedup: screen a NEW batch against an existing
    SEEN corpus (the daily-crawl shape — batch-internal duplicates are
    ``dedup_corpus``'s job, this operator's job is "have we already got
    this document?").

    Returns one row per new document:
    ``(key, is_exact_dup, near_dup_of, est_jaccard)`` where
    ``is_exact_dup`` marks a byte-identical text already in the seen
    corpus (portable-hash anti-join), and ``near_dup_of`` is the
    smallest seen key whose MinHash estimate reaches ``threshold``
    (NULL if none) with that pair's estimate — smallest-key choice
    makes the report deterministic under any execution order.

    Plan: exact pass is a distinct-hash left-semi join (15-byte keys);
    near pass is the banded equi-join of ``minhash_lsh_dedup`` but
    TWO-SIDED (new × seen, never seen × seen) — at steady state the
    new batch is a sliver of the corpus, so the join's build side
    stays small while the seen side streams. Two scale guards (both
    LOSSLESS, r5 rehearsal measured slope 7.51 without them):

    * the seen side is collapsed to ONE representative (the smallest
      key) per DISTINCT signature before banding — the estimate is a
      pure function of the two signatures and the report keeps only
      the smallest qualifying seen key, so dropping same-signature
      higher keys cannot change any output row, and it deflates the
      degenerate exact-duplicate band buckets (boilerplate crawl
      classes) that otherwise explode the join quadratically;
    * the Jaccard estimate is computed INSIDE the band join's
      projection (the joined row already holds both signature arrays)
      and sub-threshold candidates are filtered there, so the only
      shuffle after the join is a map-side-combinable
      ``groupBy(new).min(struct)`` over 24-byte survivor rows —
      duplicate (new, seen) hits from multiple bands carry identical
      estimates, so no pair-dedup shuffle is needed at all (the old
      plan shuffled both full signature arrays per candidate pair).
    """
    t = F.col(text_col)
    new_h = new_df.select(
        F.col(key_col).alias("new_id"), _hex_hash_expr(t).alias("_h")
    )
    seen_h = seen_df.select(_hex_hash_expr(t).alias("_h")).distinct()
    exact = (
        new_h.join(seen_h, "_h", "left_semi")
        .select("new_id")
        .withColumn("_exact", F.lit(True))
    )

    sig_new = minhash_wide(
        new_df, key_col, text_col, n, num_hashes, engine_exact=False
    )
    sig_seen = (
        minhash_wide(
            seen_df, key_col, text_col, n, num_hashes, engine_exact=False
        )
        .groupBy("mhs")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    bn = _band_explode(sig_new, band_size, num_hashes, ["mhs"])
    bs = _band_explode(sig_seen, band_size, num_hashes, ["mhs"])
    matches = F.size(
        F.filter(
            F.zip_with("a.mhs", "b.mhs", lambda x, y: x == y), lambda v: v
        )
    )
    near = (
        bn.alias("a")
        .join(bs.alias("b"), ["band", "band_sig"])
        .select(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("seen_id"),
            F.round(matches / F.lit(num_hashes), 6).alias("_est"),
        )
        .filter(F.col("_est") >= float(threshold))
        .groupBy("new_id")
        .agg(F.min(F.struct("seen_id", "_est")).alias("_s"))
        .select(
            "new_id",
            F.col("_s.seen_id").alias("near_dup_of"),
            F.col("_s._est").alias("est_jaccard"),
        )
    )
    return (
        new_df.select(F.col(key_col).alias("new_id"))
        .join(exact, "new_id", "left")
        .join(near, "new_id", "left")
        .select(
            F.col("new_id").alias(key_col),
            F.coalesce(F.col("_exact"), F.lit(False)).alias("is_exact_dup"),
            "near_dup_of",
            "est_jaccard",
        )
    )
