"""Unit tests for north-star operator families: similarity recall,
multimodal binary plumbing, streaming watermark semantics, zip source,
dedup building blocks."""

from __future__ import annotations

import io
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sensomics_data_pipeline_spark.operators import dedup as dedup_ops
from sensomics_data_pipeline_spark.operators import multimodal as mm
from sensomics_data_pipeline_spark.operators import similarity as sim_ops
from sensomics_data_pipeline_spark.sources import readers


# ---------------------------------------------------------------------------
# Similarity
# ---------------------------------------------------------------------------

def test_lsh_and_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = readers.load_table(spark, sf_dir, "embeddings")
    brute = sim_ops.brute_force_topk(emb, k=5).toPandas()
    truth = set(zip(brute.query_id, brute.neighbor_id))

    lsh = sim_ops.lsh_topk(emb, dim=64, k=5, n_planes=6).toPandas()
    lsh_pairs = set(zip(lsh.query_id, lsh.neighbor_id))
    lsh_recall = len(truth & lsh_pairs) / len(truth)

    ivf = sim_ops.ivf_topk(emb, k=5, n_lists=8, n_probe=3).toPandas()
    ivf_pairs = set(zip(ivf.query_id, ivf.neighbor_id))
    ivf_recall = len(truth & ivf_pairs) / len(truth)

    # approximate methods must beat random (5/499≈1%) by a wide margin
    assert lsh_recall > 0.15, f"LSH recall {lsh_recall:.2f}"
    assert ivf_recall > 0.3, f"IVF recall {ivf_recall:.2f}"


def test_pq_recall_vs_brute_force(spark, sf_dir):
    """ADC over 16x32 codebooks on 64-dim vectors must recover a solid
    fraction of the exact top-5 (random would be ~1%; the synthetic
    embeddings are near-isotropic — a hard case for PQ) and recall must
    GROW with codebook capacity — the property that pins the LUT-gather
    scoring as actually ranking by similarity, not noise. Measured on
    this data: m=4->0.20, m=8->0.29, m=16->0.48."""
    emb = readers.load_table(spark, sf_dir, "embeddings")
    brute = sim_ops.brute_force_topk(emb, k=5).toPandas()
    truth = set(zip(brute.query_id, brute.neighbor_id))

    def recall_at(m):
        pq = sim_ops.pq_topk(emb, k=5, m=m, n_codes=32).toPandas()
        return len(truth & set(zip(pq.query_id, pq.neighbor_id))) / len(truth)

    r4, r16 = recall_at(4), recall_at(16)
    assert r16 > 0.35, f"PQ recall {r16:.2f}"
    assert r16 > r4 + 0.1, f"recall not growing with capacity: {r4:.2f}->{r16:.2f}"
    pq = sim_ops.pq_topk(emb, k=5, m=16, n_codes=32).toPandas()
    # exactly k rows per query, ranks 1..k
    per_q = pq.groupby("query_id")["rank"].agg(["size", "min", "max"])
    assert (per_q["size"] == 5).all() and (per_q["min"] == 1).all()


def test_pq_pretrained_codebooks_match_inline_and_chunking_invariant(
    spark, sf_dir
):
    emb = readers.load_table(spark, sf_dir, "embeddings").limit(200)
    books = sim_ops.pq_train(emb, m=4, n_codes=16, train_sample=256)
    assert books.shape == (4, 16, 16)
    inline = sim_ops.pq_topk(
        emb, k=3, m=4, n_codes=16, train_sample=256, n_chunks=1
    ).toPandas()
    pre = sim_ops.pq_topk(
        emb, k=3, m=4, n_codes=16, codebooks=books, n_chunks=7
    ).toPandas()
    key = ["query_id", "rank"]
    a = inline.sort_values(key).reset_index(drop=True)
    b = pre.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    with pytest.raises(ValueError):
        sim_ops.pq_topk(emb, m=8, n_codes=16, codebooks=books)


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    emb = readers.load_table(spark, sf_dir, "embeddings").limit(64)
    books = sim_ops.pq_train(emb, m=4, n_codes=8, train_sample=64)
    enc1 = sim_ops.pq_encode(emb, books).toPandas().sort_values("nid")
    enc2 = sim_ops.pq_encode(emb, books).toPandas().sort_values("nid")
    assert (enc1.codes.apply(len) == 4).all()
    assert all(
        (a == b).all() for a, b in zip(enc1.codes, enc2.codes)
    )
    assert enc1.codes.apply(max).max() < 8


def test_ivf_pq_recall_and_full_probe_equals_pq(spark, sf_dir):
    """IVF-PQ composition: (a) probing ALL lists must reproduce
    pq_topk's ranking EXACTLY (same codebooks => same ADC sims; IVF
    then only partitions the scan), (b) recall at n_probe=3 of 8 stays
    a solid fraction of exact top-5."""
    emb = readers.load_table(spark, sf_dir, "embeddings").limit(300)
    books = sim_ops.pq_train(emb, m=16, n_codes=32, train_sample=300)
    cent = sim_ops.ivf_train(emb, n_lists=8, train_sample=300)
    full = sim_ops.ivf_pq_topk(
        emb, k=5, n_lists=8, n_probe=8, m=16, n_codes=32,
        centroids=cent, codebooks=books,
    ).toPandas()
    flat = sim_ops.pq_topk(
        emb, k=5, m=16, n_codes=32, codebooks=books
    ).toPandas()
    key = ["query_id", "rank"]
    pd.testing.assert_frame_equal(
        full.sort_values(key).reset_index(drop=True),
        flat.sort_values(key).reset_index(drop=True),
    )

    brute = sim_ops.brute_force_topk(emb, k=5).toPandas()
    truth = set(zip(brute.query_id, brute.neighbor_id))
    part = sim_ops.ivf_pq_topk(
        emb, k=5, n_lists=8, n_probe=3, m=16, n_codes=32,
        centroids=cent, codebooks=books,
    ).toPandas()
    recall = len(truth & set(zip(part.query_id, part.neighbor_id))) / len(truth)
    assert recall > 0.2, f"IVF-PQ recall {recall:.2f}"


def test_semantic_dedup_clusters_and_survivors(spark):
    """Two tight clusters + one isolate: every vector gets a row, each
    cluster keeps exactly its lowest id, the isolate keeps itself."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),
        (5, [0.998, 0.002, 0.0, 0.0]),
        (7, [0.0, 1.0, 0.0, 0.0]),
        (9, [0.0, 0.999, 0.001, 0.0]),
        (11, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = (
        sim_ops.semantic_dedup(df, threshold=0.95, dim=4, n_planes=4)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    assert len(out) == 6
    assert out.loc[1, "canonical_id"] == 1 and out.loc[1, "kept"]
    assert out.loc[2, "canonical_id"] == 1 and not out.loc[2, "kept"]
    assert out.loc[5, "canonical_id"] == 1 and not out.loc[5, "kept"]
    assert out.loc[7, "canonical_id"] == 7 and out.loc[7, "kept"]
    assert out.loc[9, "canonical_id"] == 7 and not out.loc[9, "kept"]
    assert out.loc[11, "canonical_id"] == 11 and out.loc[11, "kept"]


def test_brute_force_topk_is_symmetric_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim_ops.brute_force_topk(df, k=1).toPandas().set_index("query_id")
    assert out.loc[1, "neighbor_id"] == 2
    assert out.loc[2, "neighbor_id"] == 1
    assert out.loc[4, "neighbor_id"] == 3  # least-negative cosine


def test_brute_force_topk_chunking_invariant(spark, sf_dir):
    """Exact top-k must not depend on the block count — the chunked
    distributed plan returns identical rows for any n_chunks."""
    emb = readers.load_table(spark, sf_dir, "embeddings").limit(200)
    a = sim_ops.brute_force_topk(emb, k=3, n_chunks=1).toPandas()
    b = sim_ops.brute_force_topk(emb, k=3, n_chunks=7).toPandas()
    key = ["query_id", "rank"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_near_dup_lsh_is_subset_of_exact_with_high_sim_recall(spark, sf_dir):
    """Banded-LSH near-dup candidates rescored exactly: every emitted
    pair must appear in the exact all-pairs result with the same
    cosine, and recall on strongly-similar pairs (≥0.8) must be high
    (OR-amplification: 1-(1-p^6)^3)."""
    emb = readers.load_table(spark, sf_dir, "embeddings")
    exact = sim_ops.cosine_near_dup_pairs(emb, threshold=0.4, method="exact").toPandas()
    lsh = sim_ops.cosine_near_dup_pairs(
        emb, threshold=0.4, method="lsh", dim=64, n_planes=6, n_tables=3
    ).toPandas()

    exact_pairs = {(a, b): s for a, b, s in exact.itertuples(index=False)}
    for a, b, s in lsh.itertuples(index=False):
        assert (a, b) in exact_pairs, f"LSH emitted non-pair ({a},{b})"
        assert s == exact_pairs[(a, b)]

    strong = {(a, b) for (a, b), s in exact_pairs.items() if s >= 0.8}
    if strong:
        got = {(a, b) for a, b, _ in lsh.itertuples(index=False)}
        recall = len(strong & got) / len(strong)
        assert recall >= 0.5, f"high-sim recall {recall:.2f}"


def test_similarity_ops_have_no_eager_collect(spark, sf_dir):
    """Building the similarity DataFrames must not trigger any Spark
    job (the round-1 implementations collected the full table at
    operator-construction time). Allowed exceptions: IVF's
    bounded-sample training (asserted separately by its limit() plan)
    and the knob auto-sizing count when ``n_planes``/``n_lists`` is
    None — explicit knobs here keep construction job-free."""
    emb = readers.load_table(spark, sf_dir, "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    sim_ops.brute_force_topk(emb, k=5)
    sim_ops.cosine_near_dup_pairs(emb, method="lsh", n_planes=6, n_tables=3)
    sim_ops.cosine_near_dup_pairs(emb, method="exact")
    sim_ops.lsh_topk(emb, dim=64, k=5, n_planes=6)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before, "similarity construction launched a Spark job"


def test_block_topk_matches_lexsort_loop():
    """The vectorized composite-key top-k (similarity._block_topk, the
    r6 replacement for the per-query lexsort loop every ANN scoring
    cell ran) must return EXACTLY the loop's (sim desc, id asc) top-k —
    including heavy rounded-sim ties, self-pair exclusion, duplicate
    query ids, rows with < k candidates, and the big-id fallback."""
    import numpy as np

    rng = np.random.default_rng(11)
    for trial in range(60):
        nq = int(rng.integers(1, 20))
        n = int(rng.integers(1, 30))
        k = int(rng.integers(1, 8))
        ids = rng.choice(10**6, size=n, replace=False).astype(np.int64)
        if trial == 0:  # exercise the > 2^36 id fallback path
            ids = ids + (1 << 37)
        if trial == 1:  # negative ids must ALSO take the exact fallback
            # (packed key −id flips direction: a negative id crosses
            # into the adjacent sim bucket and corrupts the ranking)
            ids = ids - 500_000
        qids = rng.choice(
            np.concatenate([ids, rng.choice(10**6, 5)]), size=nq
        ).astype(np.int64)
        if trial % 2:
            sims = np.round(
                rng.choice([0.0, -0.0, 0.5, -0.5, 1.0, -1.0, 0.999999], size=(nq, n)), 6
            )
        else:
            sims = np.round(rng.uniform(-1, 1, size=(nq, n)), 6)
        ref = []
        for row_i, qid in enumerate(qids):
            mask = ids != qid
            ci, cs = ids[mask], sims[row_i][mask]
            for j in np.lexsort((ci, -cs))[:k]:
                ref.append((int(qid), int(ci[j]), float(cs[j])))
        rq, ri, rs = sim_ops._block_topk(qids, ids, sims, k)
        assert list(zip(rq.tolist(), ri.tolist(), rs.tolist())) == ref


def test_ann_auto_capacity_knobs(spark, sf_dir):
    """``n_planes=None`` / ``n_lists=None`` auto-size from the table:
    the formulas track scale (constant LSH bucket occupancy, √n IVF
    lists) and the auto-sized operators still hit the recall bar that
    the pinned-knob tests assert."""
    assert sim_ops.auto_n_planes(1) == 4
    assert sim_ops.auto_n_planes(2_500) == 7
    assert sim_ops.auto_n_planes(25_000) == 10
    assert sim_ops.auto_n_planes(10**9) == 24  # capped
    assert sim_ops.auto_n_lists(1) == 4
    assert sim_ops.auto_n_lists(2_500) == 50
    assert sim_ops.auto_n_lists(10**9) == 4096  # clamped to sample
    # table count grows with plane count to hold recall@0.99 >= 0.9
    assert sim_ops.auto_n_tables(4) == 2
    assert sim_ops.auto_n_tables(11) == 3
    assert sim_ops.auto_n_tables(24) == 6
    import math

    p99 = 1.0 - math.acos(0.99) / math.pi
    for b in range(4, 25):
        L = sim_ops.auto_n_tables(b)
        assert 1.0 - (1.0 - p99**b) ** L >= 0.9 or L == sim_ops._MAX_TABLES
    emb = readers.load_table(spark, sf_dir, "embeddings")
    exact = sim_ops.brute_force_topk(emb, k=1).toPandas()
    truth = dict(zip(exact["query_id"], exact["neighbor_id"]))
    lsh = sim_ops.lsh_topk(emb, dim=64, k=1).toPandas()  # auto planes
    got = dict(zip(lsh["query_id"], lsh["neighbor_id"]))
    hits = sum(got.get(q) == n for q, n in truth.items())
    assert hits / len(truth) >= 0.5, "auto-planes LSH top-1 recall"
    ivf = sim_ops.ivf_topk(emb, k=1).toPandas()  # auto lists AND probes
    got = dict(zip(ivf["query_id"], ivf["neighbor_id"]))
    hits = sum(got.get(q) == n for q, n in truth.items())
    assert hits / len(truth) >= 0.5, "fully-auto IVF top-1 recall"
    # probe count is a constant fraction of the lists (ceil(n_lists/8)),
    # floored at 2 — a pinned absolute would decay recall as √n lists grow
    assert sim_ops.auto_n_probe(4) == 2
    assert sim_ops.auto_n_probe(23) == 3
    assert sim_ops.auto_n_probe(71) == 9
    assert sim_ops.auto_n_probe(4096) == 512


def test_ivf_auto_probe_recall_holds_at_10x(spark, sf_dir):
    """The r7 auto ``n_probe`` contract: with ZERO explicit knobs, IVF
    and IVF-PQ recall must NOT decay when the table grows 10× (500 →
    5000 vectors: auto lists 23 → 71, auto probes 3 → 9 — the probed
    fraction stays ~1/8; a pinned n_probe=2 probes 2/71 ≈ 3% of lists
    at 10× and recall collapses). 10× table = the real embeddings plus
    9 seeded noisy copies each (near-dup structure like the real
    corpus). Measured: recall@1 0.52 (1×) → 0.99 (10×), IVF-PQ
    recall@5 0.35 → 0.74; floors leave slack for arithmetic drift."""
    import numpy as np

    emb = readers.load_table(spark, sf_dir, "embeddings")
    pdf = emb.toPandas()
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    rng = np.random.default_rng(7)
    reps = [mat] + [mat + rng.normal(0, 0.08, mat.shape) for _ in range(9)]
    big = np.concatenate(reps)
    big_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(big)),
                "embedding": [row.astype("float32") for row in big],
            }
        )
    )
    floors = {"1x": (0.45, 0.30), "10x": (0.90, 0.60)}
    for name, df in (("1x", emb), ("10x", big_df)):
        b1 = sim_ops.brute_force_topk(df, k=1).toPandas()
        truth = dict(zip(b1["query_id"], b1["neighbor_id"]))
        ivf = sim_ops.ivf_topk(df, k=1).toPandas()
        got = dict(zip(ivf["query_id"], ivf["neighbor_id"]))
        r1 = sum(got.get(q) == n for q, n in truth.items()) / len(truth)
        b5 = sim_ops.brute_force_topk(df, k=5).toPandas()
        t5 = set(zip(b5.query_id, b5.neighbor_id))
        pq = sim_ops.ivf_pq_topk(df, k=5, m=16, n_codes=32).toPandas()
        r5 = len(t5 & set(zip(pq.query_id, pq.neighbor_id))) / len(t5)
        f1, f5 = floors[name]
        assert r1 >= f1, f"{name} IVF recall@1 {r1:.2f} < {f1}"
        assert r5 >= f5, f"{name} IVF-PQ recall@5 {r5:.2f} < {f5}"
        if name == "10x":
            # IVFADC+R with ZERO knobs: rerank="auto" sizes the
            # nomination depth from the sampled near-tie multiplicity
            # (~10 siblings/group here), and the exact re-rank restores
            # the near-tie resolution m=16 codes lack on noisy siblings
            # (pinned R=25 measured 0.744 -> 0.982; auto must match).
            # score_col makes the schema knob-independent.
            auto_r = sim_ops.auto_rerank(df, k=5)
            assert auto_r >= 10, f"auto_rerank {auto_r} < sibling count"
            rr = sim_ops.ivf_pq_topk(
                df, k=5, m=16, n_codes=32, rerank="auto", score_col="sim"
            ).toPandas()
            r5_rr = len(t5 & set(zip(rr.query_id, rr.neighbor_id))) / len(t5)
            assert r5_rr >= 0.95, f"rerank recall@5 {r5_rr:.2f}"
            assert r5_rr > r5
            assert "sim" in rr.columns and "cos_sim" not in rr.columns


# ---------------------------------------------------------------------------
# Dedup building blocks
# ---------------------------------------------------------------------------

def test_exact_duplicates_finds_planted_dup(spark):
    rows = [(1, "the same exact text"), (2, "the same exact text"), (3, "different")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_ops.exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["canonical_id"] == 1


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "lambda", 1)
    far = "one two three four five six seven eight nine ten " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = dedup_ops.minhash_lsh_dedup(df).toPandas()
    assert {(1, 2)} <= set(zip(pairs.doc_a, pairs.doc_b))
    est = pairs.set_index(["doc_a", "doc_b"]).loc[(1, 2), "est_jaccard"]
    assert est > 0.5
    assert (3 not in set(pairs.doc_a)) and (3 not in set(pairs.doc_b))


def test_minhash_capped_degenerate_bucket_bounded_and_connected(spark):
    """The skew guard for the giant-exact-duplicate-class bucket: 10k
    identical docs all share every band signature (one degenerate LSH
    bucket). With max_bucket=16 the pair fan-out is head-combos +
    hub-overflow (10,104 pairs, vs ~50M unguarded combinations that
    would OOM the per-bucket collect at real scale), every pair scores
    an exact est_jaccard of 1.0, and connected components still
    resolve ALL 10k docs into one cluster with the smallest id as
    canonical — nothing is lost for the class that causes the skew."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    pairs = dedup_ops.minhash_lsh_dedup(df, max_bucket=16)
    pdf = pairs.toPandas()
    # 16 head members -> C(16,2)=120 exact pairs; 9,984 overflow members
    # each pair once with hub doc 0
    assert len(pdf) == 120 + 9_984
    assert (pdf.est_jaccard == 1.0).all()
    assert (pdf.doc_a < pdf.doc_b).all()
    clusters = dedup_ops.duplicate_clusters(
        pairs.select("doc_a", "doc_b")
    ).toPandas()
    assert len(clusters) == 10_000
    assert (clusters.canonical_id == 0).all()


def test_capped_matches_uncapped_clusters_mixed_corpus(spark):
    """On a corpus where only the exact-duplicate class overflows the
    cap, the capped and uncapped modes resolve to IDENTICAL duplicate
    clusters for both minhash and simhash pair generators (the hub
    pairs preserve the overflowing component; every other bucket is
    below the cap so its combos are untouched)."""
    dup_class = [(i, "same boilerplate page text repeated verbatim here")
                 for i in range(40)]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "lambda", 1)
    uniques = [
        (100, base),
        (101, near),
        (102, "one two three four five six seven eight nine ten " * 5),
        (103, "completely different words about weather and sailing boats"),
    ]
    df = spark.createDataFrame(
        dup_class + uniques, "doc_id long, text string"
    )

    def clusters_of(pairs):
        return {
            (r["doc_id"], r["canonical_id"])
            for r in dedup_ops.duplicate_clusters(
                pairs.select("doc_a", "doc_b")
            ).collect()
        }

    mh_exact = clusters_of(dedup_ops.minhash_lsh_dedup(df))
    mh_capped = clusters_of(dedup_ops.minhash_lsh_dedup(df, max_bucket=8))
    assert mh_exact == mh_capped

    sh_exact = clusters_of(dedup_ops.simhash_pairs(df))
    sh_capped = clusters_of(dedup_ops.simhash_pairs(df, max_bucket=8))
    assert sh_exact == sh_capped


def test_simhash_capped_degenerate_bucket(spark):
    """simhash_pairs under the same degenerate-bucket guard: identical
    docs share the full signature, overflow members pair with the hub
    at hamming 0, and the pair set stays bounded."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.range(2_000).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    pdf = dedup_ops.simhash_pairs(df, max_bucket=16).toPandas()
    assert len(pdf) == 120 + (2_000 - 16)
    assert (pdf.hamming == 0).all()
    assert (pdf.doc_a < pdf.doc_b).all()


def test_simhash_near_dup_small_hamming(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "lambda", 1)
    far = "one two three four five six seven eight nine ten " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup_ops.simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])
    assert ham(sh[1], sh[2]) <= 6


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@pytest.fixture()
def media_df(spark):
    rows = [
        (1, "image", b"\x89PNG" + b"a" * 60, {"w": "8", "h": "8"}),
        (2, "video", b"\x00\x00ftyp" + b"b" * 100, {"fps": "30"}),
        (3, "audio", b"RIFF" + b"c" * 30, {"sr": "16000"}),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_media_metadata(media_df):
    out = {r["media_id"]: r for r in mm.with_media_metadata(media_df).collect()}
    assert out[1]["n_bytes"] == 64
    assert out[1]["magic"] == "89504E47"
    assert len(out[2]["payload_md5"]) == 32


def test_extract_features_deterministic(media_df):
    a = mm.extract_features(media_df).toPandas().set_index("media_id")
    b = mm.extract_features(media_df).toPandas().set_index("media_id")
    for i in (1, 2, 3):
        assert list(a.loc[i, "features"]) == list(b.loc[i, "features"])
        assert len(a.loc[i, "features"]) == 8
        assert all(0 <= x < 1 for x in a.loc[i, "features"])


def test_sample_frames_shape(media_df):
    frames = mm.sample_frames(media_df, frame_bytes=16, stride=2).toPandas()
    v = frames[frames["media_id"] == 2]
    # 104 bytes → 7 frames → stride 2 → frames 0,2,4,6
    assert sorted(v["frame_no"]) == [0, 2, 4, 6]
    assert all(len(f) <= 16 for f in v["frame"])
    assert v["frame_md5"].nunique() >= 1


def test_decode_stub_raises():
    """Without Pillow, non-BMP payloads still raise the documented
    NotImplementedError (this container has no PIL; if one appears,
    the Pillow branch takes over and this test is skipped)."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present: decode_image uses the real decoder")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"xx")


def test_decode_image_bmp_fallback_matches_decode_bmp():
    """decode_image routes BM-magic payloads through the stdlib BMP
    decoder even without Pillow — a real decode path, not a stub."""
    import struct

    import numpy as np

    # hand-build a 2x2 uncompressed 24-bit BMP (bottom-up, padded rows)
    w = h = 2
    row = w * 3
    pad = (4 - row % 4) % 4
    pixels = [  # bottom row first: BGR triples
        (255, 0, 0), (0, 255, 0),   # bottom: blue, green
        (0, 0, 255), (255, 255, 255),  # top: red, white
    ]
    body = b""
    for r in range(h):
        for c in range(w):
            body += bytes(pixels[r * w + c])
        body += b"\x00" * pad
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    )
    payload = header + body
    out = mm.decode_image(payload)
    np.testing.assert_array_equal(out, mm.decode_bmp(payload))
    assert out.shape == (2, 2, 3)
    # top-left pixel is red in RGB order after bottom-up + BGR flip
    assert tuple(out[0, 0]) == (255, 0, 0)


# ---------------------------------------------------------------------------
# Zip + partitioned-write sources
# ---------------------------------------------------------------------------

def test_zip_source_distributed_unzip(spark, tmp_path):
    zdir = tmp_path / "zips"
    zdir.mkdir()
    for z in range(2):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for m in range(3):
                zf.writestr(f"data_{z}_{m}.json", b'{"x": %d}' % m)
        (zdir / f"arch{z}.zip").write_bytes(buf.getvalue())
    out = readers.read_zip_members(spark, str(zdir)).toPandas()
    assert len(out) == 6
    assert set(out["size"]) == {8}
    assert all(p.startswith(b'{"x":') for p in out["payload"])


def test_write_partitioned_layout(spark, tmp_path):
    from sensomics_data_pipeline_spark.plans.pipelines import write_partitioned

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "date": ["2024-01-01", "2024-01-02", "2024-01-01"],
                "kind": ["hr", "hr", "st"],
                "data": [70.0, 71.0, 36.5],
            }
        )
    )
    path = str(tmp_path / "out")
    write_partitioned(df, path, ["date"])
    sub = {p.name for p in (tmp_path / "out").iterdir() if p.is_dir()}
    assert sub == {"date=2024-01-01", "date=2024-01-02"}
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning: reading one date only touches that directory
    one = back.filter(F.col("date") == "2024-01-01")
    assert one.count() == 2


# ---------------------------------------------------------------------------
# Streaming watermark semantics
# ---------------------------------------------------------------------------

def test_streaming_append_watermark_holdback(spark, sf_dir):
    """Append mode + watermark: the final (still-open) windows are NOT
    emitted — the streaming analog of the reference's greedy discard of
    trailing unmatched samples (acc_reformat.py:204-210)."""
    from sensomics_data_pipeline_spark.streaming.demo import (
        read_events_stream,
        run_bounded,
    )

    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    appended = run_bounded(agg, "append").toPandas()
    complete = run_bounded(agg, "complete").toPandas()
    assert len(appended) < len(complete)
    # append emitted windows are exactly the closed ones
    max_open = complete["w"].map(lambda w: w["end"]).max()
    assert appended["w"].map(lambda w: w["end"]).max() < max_open


def test_streaming_exact_dedup_within_watermark(spark, sf_dir):
    """Streaming exact dedup surface: dropDuplicatesWithinWatermark on
    a duplicated bounded stream halves the row count."""
    from sensomics_data_pipeline_spark.streaming.demo import (
        read_events_stream,
        run_bounded,
    )

    ev = read_events_stream(spark, sf_dir)
    doubled = ev.union(ev)  # every event twice
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_bounded(deduped, "append")
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_src


# ---------------------------------------------------------------------------
# Organize-stage filename inference
# ---------------------------------------------------------------------------

def test_organize_keys_and_stem_detect(spark):
    from sensomics_data_pipeline_spark.sources import organize

    paths = [
        ("dir/subj%20A_ab-cd-ef-01-02-03_2024-03-01.json",),
        ("dir/subj A_ab-cd-ef-01-02-03_2024-03-02.json",),
        ("dir/noid.json",),
    ]
    df = spark.createDataFrame(paths, "path string")
    out = organize.with_organize_keys(df).collect()
    by_path = {r["path"]: r for r in out}
    r1 = by_path[paths[0][0]]
    assert r1["subject_id"] == "ab-cd-ef-01-02-03"
    assert str(r1["date"]) == "2024-03-01"
    assert (
        organize.subject_id_date(F.lit(paths[1][0]))
        is not None
    )
    row = spark.range(1).select(
        organize.subject_id_date(F.lit(paths[1][0])).alias("k"),
        organize.file_stem(F.lit(paths[0][0])).alias("stem"),
    ).first()
    assert row["k"] == "ab-cd-ef-01-02-03_2024-03-02"
    assert row["stem"] == "subj A_ab-cd-ef-01-02-03_2024-03-01"
    assert by_path[paths[2][0]]["subject_id"] == ""
    assert by_path[paths[2][0]]["date"] is None

    # one unique stem across the listing (date suffix stripped)
    two = spark.createDataFrame(paths[:2], "path string")
    assert organize.auto_stem_detect(two) == ["subj A_ab-cd-ef-01-02-03"]


# ---------------------------------------------------------------------------
# Jaccard / simhash pairing (round-3 additions)
# ---------------------------------------------------------------------------

def _brute_jaccard(docs: dict[int, str], n: int = 3) -> dict[tuple, float]:
    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    out = {}
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = shingles(docs[a]), shingles(docs[b])
            if sa and sb:
                out[(a, b)] = len(sa & sb) / len(sa | sb)
    return out


def test_ngram_jaccard_matches_brute_force(spark):
    docs = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta iota",
        3: "one two three four five six seven eight nine",
        4: "alpha beta gamma delta epsilon zeta eta theta",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = dedup_ops.ngram_jaccard_pairs(df, threshold=0.2).toPandas()
    want = {k: v for k, v in _brute_jaccard(docs).items() if v >= 0.2}
    assert set(zip(got.doc_a, got.doc_b)) == set(want)
    for r in got.itertuples():
        assert abs(r.jaccard - want[(r.doc_a, r.doc_b)]) < 1e-6


def test_ngram_jaccard_prefix_filter_lossless(spark):
    """prefix_filter=True must return EXACTLY the same pairs and values
    as the unfiltered plan for threshold > 2/3 (the lossless bound)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = {}
    for d in range(30):
        base = [rng.choice(vocab) for _ in range(25)]
        docs[2 * d] = " ".join(base)
        mutated = list(base)
        mutated[rng.randrange(25)] = rng.choice(vocab)
        docs[2 * d + 1] = " ".join(mutated)
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    plain = dedup_ops.ngram_jaccard_pairs(df, threshold=0.7).toPandas()
    pref = dedup_ops.ngram_jaccard_pairs(
        df, threshold=0.7, prefix_filter=True
    ).toPandas()
    key = ["doc_a", "doc_b"]
    assert sorted(map(tuple, plain[key].values.tolist())) == sorted(
        map(tuple, pref[key].values.tolist())
    )
    merged = plain.merge(pref, on=key, suffixes=("_p", "_f"))
    assert (merged.jaccard_p - merged.jaccard_f).abs().max() < 1e-9
    assert (merged.n_common_p == merged.n_common_f).all()


def test_ngram_jaccard_prefix_filter_rejects_low_threshold(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="2/3"):
        dedup_ops.ngram_jaccard_pairs(df, threshold=0.5, prefix_filter=True)


def test_duplicate_spans_semantics(spark):
    """A 5-token span shared verbatim by two docs inside otherwise
    unique text is flagged in BOTH; unique docs, short docs (< span
    width), and NULL text pin to zero counts with frac 0.0."""
    from sensomics_data_pipeline_spark.operators.text import duplicate_spans

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight {shared} nine ten eleven twelve"),
        (3, "totally unrelated words that repeat nothing at all here"),
        (4, "tiny doc"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        duplicate_spans(df, span_tokens=5, min_docs=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(out) == 5
    # doc1: 11 tokens -> 7 distinct 5-token windows; exactly one shared
    assert out.loc[1, "n_spans"] == 7 and out.loc[1, "dup_spans"] == 1
    assert abs(out.loc[1, "dup_span_frac"] - round(1 / 7, 6)) < 1e-9
    assert out.loc[2, "dup_spans"] == 1
    assert out.loc[3, "dup_spans"] == 0 and out.loc[3, "n_spans"] > 0
    assert out.loc[4, "n_spans"] == 0 and out.loc[4, "dup_span_frac"] == 0.0
    assert out.loc[5, "n_spans"] == 0 and out.loc[5, "dup_span_frac"] == 0.0


def test_duplicate_spans_kernel_equivalence(spark, sf_dir):
    """HOF chain (engine_exact=True) and hashlib Arrow kernel must
    agree row-for-row on the real documents table."""
    from sensomics_data_pipeline_spark.operators.text import duplicate_spans

    docs = readers.load_table(spark, sf_dir, "documents")
    a = duplicate_spans(docs, engine_exact=True).toPandas()
    b = duplicate_spans(docs, engine_exact=False).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_remove_duplicate_spans_semantics(spark):
    """Tokens covered by any ≥min_docs span window are excised, the
    rest survive in order; token conservation (kept + removed =
    n_tokens) holds for every doc including NULL/empty/short text and
    a fully-boilerplate doc that loses everything."""
    from sensomics_data_pipeline_spark.operators.text import (
        remove_duplicate_spans,
    )

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight {shared} nine ten eleven twelve"),
        (3, "totally unrelated words that repeat nothing at all here"),
        (4, "tiny doc"),
        (5, None),
        (6, ""),
        (7, shared),  # exactly the shared span: all tokens removed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        remove_duplicate_spans(df, span_tokens=5, min_docs=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(out) == 7
    assert (out.kept_tokens + out.removed_tokens == out.n_tokens).all()
    assert out.loc[1, "clean_text"] == "one two three four five six"
    assert out.loc[1, "removed_tokens"] == 5
    assert out.loc[2, "clean_text"] == "seven eight nine ten eleven twelve"
    assert out.loc[3, "removed_tokens"] == 0
    assert (
        out.loc[3, "clean_text"]
        == "totally unrelated words that repeat nothing at all here"
    )
    assert out.loc[4, "n_tokens"] == 2 and out.loc[4, "clean_text"] == "tiny doc"
    for d in (5, 6):
        assert out.loc[d, "n_tokens"] == 0 and out.loc[d, "clean_text"] == ""
    assert out.loc[7, "kept_tokens"] == 0 and out.loc[7, "clean_text"] == ""
    # overlapping windows union their coverage: doc1's span at position
    # 3 covers tokens 3..7 only — neighbors survive even though they
    # sit inside non-duplicated windows that OVERLAP the shared one


def test_remove_duplicate_spans_kernel_equivalence(spark, sf_dir):
    """HOF chain and hashlib Arrow substrate must agree row-for-row
    (full rewritten text included) on the real documents table."""
    from sensomics_data_pipeline_spark.operators.text import (
        remove_duplicate_spans,
    )

    docs = readers.load_table(spark, sf_dir, "documents")
    a = remove_duplicate_spans(docs, engine_exact=True).toPandas()
    b = remove_duplicate_spans(docs, engine_exact=False).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert (a.kept_tokens + a.removed_tokens == a.n_tokens).all()


def test_prepare_corpus_span_removal_stage(spark):
    """``span_min_docs`` excises cross-document boilerplate spans from
    the surviving text before any downstream signal is computed, and
    the pipeline's pack bookkeeping still balances."""
    import random

    from sensomics_data_pipeline_spark.operators.corpus import prepare_corpus

    rng = random.Random(9)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    boiler = " ".join(rng.choice(vocab) for _ in range(8))
    rows = []
    for i in range(20):
        words = [rng.choice(vocab) for _ in range(50)]
        text = " ".join(words) + (f" {boiler} tail{i}" if i % 2 == 0 else "")
        rows.append((i, f"s{i % 2}", text))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = prepare_corpus(
        df,
        quality_keep_frac=1.0,
        dedup_method="exact",
        pack_budget=128,
        pack_groups=4,
        span_min_docs=2,
        span_tokens=8,
    ).toPandas()
    # the 8-token boilerplate window is gone from every surviving text
    assert not out.text.str.contains(boiler, regex=False).any()
    # the unique tails survive the excision
    assert out.text.str.contains("tail0", regex=False).any()
    for _, grp in out.groupby("pack_id"):
        assert (grp.pack_fill == grp.n_tokens.sum()).all()


def test_heavy_hitters_mg_guarantees(spark):
    """Misra-Gries sketch with a TINY capacity (forcing per-batch
    truncation and merge truncation): on a planted Zipf-ish stream the
    worst-case guarantees must hold exactly — no overcounts, undercount
    within the reported mass and within n/(cap+1), and every value
    heavier than kth-est + mass reported — across different partition
    layouts (the estimates may change, the guarantees may not)."""
    from sensomics_data_pipeline_spark.operators.profile import heavy_hitters

    rows = []
    for i in range(40):  # value_i appears 40-i times + light tail
        rows += [(f"v{i:02d}",)] * (40 - i)
    rows += [(f"tail{j}",) for j in range(300)]
    exact = {}
    for (v,) in rows:
        exact[v] = exact.get(v, 0) + 1
    n = len(rows)
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "token string").repartition(parts)
        hh = heavy_hitters(df, "token", k=10, capacity=24).toPandas()
        assert len(hh) == 10
        mu = int(hh.max_undercount.iloc[0])
        assert int(hh.n_total.iloc[0]) == n
        assert mu <= n // 25  # n/(cap+1)
        kth = int(hh.est_count.min())
        reported = set(hh.value)
        for v, c in exact.items():
            if v in reported:
                est = int(hh.set_index("value").loc[v, "est_count"])
                assert est <= c and c - est <= mu, (v, est, c, mu)
            else:
                assert c <= kth + mu, (v, c, kth, mu)
        # the unambiguous top item always surfaces first
        assert hh.value.iloc[0] == "v00"


def test_contamination_probe_matches_join_plan(spark, sf_dir):
    """The fused map-side probe (precomputed eval gram set, broadcast
    variable, zero shuffles) must be VALUE-IDENTICAL to the
    ngram_contamination join plan on the real documents table — per-doc
    n_overlap and contaminated — and prepare_corpus(eval_grams=...)
    must produce exactly the frame prepare_corpus(eval_df=...) does."""
    from sensomics_data_pipeline_spark.operators.corpus import prepare_corpus
    from sensomics_data_pipeline_spark.operators.text import (
        contamination_probe,
        eval_gram_hashes,
        ngram_contamination,
    )

    docs = readers.load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("source") == "src0")
    grams = eval_gram_hashes(eval_df, n=8)
    assert len(grams) > 100

    a = (
        ngram_contamination(docs, eval_df, n=8, engine_exact=False)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    b = (
        contamination_probe(docs, grams, n=8)
        .select("doc_id", "n_overlap", "contaminated")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)

    kwargs = dict(quality_keep_frac=0.6, dedup_method="exact", pack_budget=512)
    via_df = (
        prepare_corpus(docs, eval_df=eval_df, **kwargs)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    via_grams = (
        prepare_corpus(docs, eval_grams=grams, **kwargs)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(via_df, via_grams)


def test_ngram_pair_kernel_equivalence(spark, sf_dir):
    """``engine_exact=False`` (hashlib shingles + Arrow pair kernel)
    must return EXACTLY the HOF path's pairs and values on the real
    documents table — same (doc_a, doc_b) set, same n_common/jaccard."""
    docs = readers.load_table(spark, sf_dir, "documents")
    hof = dedup_ops.ngram_jaccard_pairs(
        docs, n=3, threshold=0.05, max_df=100, engine_exact=True
    ).toPandas()
    arrow = dedup_ops.ngram_jaccard_pairs(
        docs, n=3, threshold=0.05, max_df=100, engine_exact=False
    ).toPandas()
    key = ["doc_a", "doc_b"]
    assert sorted(map(tuple, hof[key].values.tolist())) == sorted(
        map(tuple, arrow[key].values.tolist())
    )
    merged = hof.merge(arrow, on=key, suffixes=("_h", "_a"))
    assert (merged.n_common_h == merged.n_common_a).all()
    assert (merged.jaccard_h - merged.jaccard_a).abs().max() < 1e-12


def test_packed_pairs_arrow_chunked_yields_same_pairs(spark):
    """With a tiny ``pair_chunk`` the kernel must emit the identical
    pair MULTISET through all three chunking regimes: per-list-overflow
    (one list whose own pair count exceeds the cap), row-chunking
    within a length group, and the pending-buffer flush across length
    groups. Pins the bounded-memory rewrite (a hot posting list used to
    materialize its full d²/2 explosion in one frame)."""
    from collections import Counter

    rows = [
        ([1, 2, 3, 4, 5, 6, 7, 8, 9, 10],),  # 45 pairs > chunk: anchor walk
        ([11, 12, 13],),
        ([14, 15, 16],),
        ([17, 18, 19],),  # same-length group row-chunked (3 pairs each)
        ([20, 21],),
        ([22, 23],),
    ]
    posting = spark.createDataFrame(rows, "ds array<bigint>")
    want = Counter()
    for (lst,) in rows:
        for i in range(len(lst)):
            for j in range(i + 1, len(lst)):
                want[(lst[i], lst[j])] += 1
    for chunk in (5, 7, 10**9):
        got = dedup_ops._packed_pairs_arrow(
            posting, pair_chunk=chunk
        ).toPandas()
        assert Counter(zip(got.a, got.b)) == want


def test_ngram_jaccard_string_keys_fall_back_to_struct_path(spark):
    docs = {
        "a": "alpha beta gamma delta epsilon zeta",
        "b": "alpha beta gamma delta epsilon eta",
        "c": "one two three four five six",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id string, text string")
    got = dedup_ops.ngram_jaccard_pairs(df, threshold=0.2).toPandas()
    assert ("a", "b") in set(zip(got.doc_a, got.doc_b))


def test_simhash_pairs_matches_brute_force(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base),
        (2, base.replace("kappa", "lambda", 1)),
        (3, "one two three four five six seven eight nine ten " * 5),
        (4, base),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["doc_id"]: r["simhash"] for r in dedup_ops.simhash(df, bits=60).collect()}
    want = {
        (a, b)
        for i, a in enumerate(sorted(sig))
        for b in sorted(sig)[i + 1 :]
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = dedup_ops.simhash_pairs(df, bits=60, n_bands=4, max_hamming=3).toPandas()
    assert set(zip(got.doc_a, got.doc_b)) == want
    for r in got.itertuples():
        assert r.hamming == bin(sig[r.doc_a] ^ sig[r.doc_b]).count("1")


def test_simhash_pairs_rejects_lossy_banding(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="lossless"):
        dedup_ops.simhash_pairs(df, n_bands=4, max_hamming=4)


def test_merge_adjacent_global_row_guard(spark):
    from sensomics_data_pipeline_spark.operators.windows import (
        merge_adjacent_categorized,
    )

    rows = [(i * 10, i * 10 + 10, "a") for i in range(50)]
    df = spark.createDataFrame(
        rows, "start_time long, end_time long, category string"
    )
    # under the bound: merges into one island
    ok = merge_adjacent_categorized(df, [], global_row_guard=100)
    assert ok.count() == 1
    # over the bound: the documented cardinality argument is enforced
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises(SparkRuntimeException, match="partition_cols"):
        merge_adjacent_categorized(df, [], global_row_guard=10).count()


def test_organize_keys_survive_literal_percent(spark):
    """A raw (non-URI) listing with a literal % must yield keys, not
    fail percent-decoding (CANNOT_DECODE_URL)."""
    from sensomics_data_pipeline_spark.sources.organize import (
        file_date,
        file_stem,
    )

    df = spark.createDataFrame(
        [("raw/SaO2_98%_2024-03-01.json",), ("enc/a%20b_2024-04-02.json",)],
        "path string",
    )
    out = df.select(
        file_stem("path").alias("stem"), file_date("path").alias("d")
    ).collect()
    assert out[0]["stem"] == "SaO2_98%_2024-03-01"
    assert str(out[0]["d"]) == "2024-03-01"
    assert out[1]["stem"] == "a b_2024-04-02"  # valid escape still decodes


def test_duplicate_clusters_transitive_closure(spark):
    """Pairs (1,2),(2,3) must collapse to one cluster with canonical 1
    even though (1,3) was never emitted; components stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    out = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_ops.duplicate_clusters(pairs).collect()
    }
    assert out == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_duplicate_clusters_matches_union_find_random(spark):
    import random

    rng = random.Random(13)
    n = 60
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(45)}
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    nodes = {x for e in edges for x in e}
    for x in nodes:
        want[x] = find(x)

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_ops.duplicate_clusters(pairs).collect()
    }
    assert got == want

    # the distributed pointer-jumping path (what runs above the
    # local_cap gate) must produce identical components
    got_dist = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_ops.duplicate_clusters(pairs, local_cap=None).collect()
    }
    assert got_dist == want


def test_duplicate_clusters_string_ids_both_paths(spark):
    """Entity resolution clusters STRING names — both the gated local
    path and the distributed path must handle non-numeric ids and
    agree (regression: the first local solve assumed int64)."""
    pairs = spark.createDataFrame(
        [("old rod", "olde rod"), ("olde rod", "old rodd"), ("ax", "axe")],
        "doc_a string, doc_b string",
    )
    want = {
        "old rod": "old rod",
        "olde rod": "old rod",
        "old rodd": "old rod",
        "ax": "ax",
        "axe": "ax",
    }
    for cap in (None, 2_000_000):
        got = {
            r["doc_id"]: r["canonical_id"]
            for r in dedup_ops.duplicate_clusters(pairs, local_cap=cap).collect()
        }
        assert got == want, cap


def test_dedup_corpus_exact_and_minhash(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "lambda", 1)
    far = "one two three four five six seven eight nine ten " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)],
        "doc_id long, text string",
    )
    exact = dedup_ops.dedup_corpus(df, method="exact")
    assert sorted(r["doc_id"] for r in exact.collect()) == [1, 3, 4]
    mh = dedup_ops.dedup_corpus(df, method="minhash")
    # 1,2 exact dups and 3 a near dup of 1 → one canonical survivor + far
    assert sorted(r["doc_id"] for r in mh.collect()) == [1, 4]
    with pytest.raises(ValueError, match="unknown method"):
        dedup_ops.dedup_corpus(df, method="nope")


# ---------------------------------------------------------------------------
# PII scrubbing + sequence packing
# ---------------------------------------------------------------------------

def test_scrub_pii_redacts_and_counts(spark):
    from sensomics_data_pipeline_spark.operators.text import scrub_pii

    rows = [
        (1, "mail me at jane.doe+x@corp.example.com or call +1(555)123-4567"),
        (2, "server at 192.168.0.1 served 404s"),
        (3, "clean text with no identifiers"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "@" not in out[1]["scrubbed_text"]
    assert "555" not in out[1]["scrubbed_text"]
    assert out[2]["n_ipv4"] == 1 and "192.168" not in out[2]["scrubbed_text"]
    assert out[3]["scrubbed_text"] == rows[2][1]
    assert out[3]["n_email"] == out[3]["n_ipv4"] == out[3]["n_phone"] == 0


def test_repetition_signals_hand_computed(spark):
    from sensomics_data_pipeline_spark.operators.text import repetition_signals

    rows = [
        (1, "a b a b a b"),          # 6 toks: top word 'a'x3, bigrams
        (2, "x x x x"),              # degenerate repetition
        (3, "one two three four five six seven eight nine ten"),  # distinct
        (4, "solo"),                 # 1 token: no bigrams/trigrams
        (5, "   "),                  # whitespace only: 0 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}

    r1 = out[1]
    # 6 tokens, 'a' and 'b' 3x each -> top_word_frac 0.5, 2 distinct
    assert r1["n_tokens"] == 6
    assert r1["top_word_frac"] == 0.5
    assert abs(r1["unique_word_ratio"] - round(2 / 6, 6)) < 1e-9
    # bigrams: 'a b'x3, 'b a'x2 over 5 -> 0.6; trigrams: 2 distinct / 4
    assert r1["top_bigram_frac"] == 0.6
    assert r1["dup_trigram_frac"] == 0.5
    assert bool(r1["repetitious"])

    r2 = out[2]
    assert r2["top_word_frac"] == 1.0
    assert r2["top_bigram_frac"] == 1.0
    assert abs(r2["dup_trigram_frac"] - round(1 - 1 / 2, 6)) < 1e-9
    assert bool(r2["repetitious"])

    r3 = out[3]
    assert r3["top_word_frac"] == 0.1
    assert r3["unique_word_ratio"] == 1.0
    assert r3["dup_trigram_frac"] == 0.0
    assert not bool(r3["repetitious"])

    r4 = out[4]
    assert r4["n_tokens"] == 1 and r4["top_word_frac"] == 1.0
    assert r4["top_bigram_frac"] == 0.0 and r4["dup_trigram_frac"] == 0.0

    r5 = out[5]
    assert r5["n_tokens"] == 0
    assert r5["top_word_frac"] == 0.0 and r5["unique_word_ratio"] == 0.0


def test_prepare_corpus_end_to_end(spark):
    import random

    from sensomics_data_pipeline_spark.operators.corpus import prepare_corpus

    rng = random.Random(11)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    # 20 normal docs across 2 sources
    for i in range(20):
        words = [rng.choice(vocab) for _ in range(60)]
        rows.append((i, f"s{i % 2}", " ".join(words)))
    # PII doc (otherwise normal)
    rows.append((50, "s0", rows[0][2].replace("alpha", "bob@x.com", 1)))
    # repetitious doc
    rows.append((51, "s0", "spam " * 80))
    # exact near-dup pair (identical text -> any detector catches it)
    dup_text = " ".join(rng.choice(vocab) for _ in range(60))
    rows.append((60, "s1", dup_text))
    rows.append((61, "s1", dup_text))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    eval_df = spark.createDataFrame(
        [(999, rows[5][2])], "doc_id long, text string"
    )  # doc 5's full text is "benchmark" -> doc 5 must be dropped

    out = prepare_corpus(
        df,
        eval_df=eval_df,
        quality_keep_frac=0.9,
        dedup_method="exact",
        pack_budget=128,
        pack_groups=4,
    ).toPandas()

    ids = set(out.doc_id)
    assert ids <= {r[0] for r in rows}          # no invented docs
    assert 51 not in ids                        # repetitious dropped
    assert 5 not in ids                         # contaminated dropped
    assert not (60 in ids and 61 in ids)        # dup pair collapsed
    assert (out.n_tokens > 0).all()
    # PII scrubbed in the surviving text payloads
    assert not out.text.str.contains("@").any()
    # pack bookkeeping: every survivor packed exactly once, fills match
    assert out.doc_id.is_unique
    for _, grp in out.groupby("pack_id"):
        assert (grp.pack_fill == grp.n_tokens.sum()).all()
    # deterministic
    out2 = prepare_corpus(
        df,
        eval_df=eval_df,
        quality_keep_frac=0.9,
        dedup_method="exact",
        pack_budget=128,
        pack_groups=4,
    ).toPandas()
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = out2.sort_values("doc_id").reset_index(drop=True)
    assert (a == b).all().all()


def test_numeric_histogram(spark):
    from sensomics_data_pipeline_spark.operators.profile import (
        numeric_histogram,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)], "v double"
    )
    out = {
        r["bucket"]: r
        for r in numeric_histogram(df, "v", n_buckets=10).collect()
    }
    # bounds 0..99, width 9.9: bucket 0 holds 0..9.9 -> 10 values
    assert len(out) == 10
    assert sum(r["n"] for r in out.values()) == 100  # NULL dropped
    assert out[0]["bucket_min"] == 0.0 and out[0]["bucket_lo"] == 0.0
    # top edge folds into last bucket
    assert out[9]["bucket_max"] == 99.0
    # fixed bounds variant
    fixed = {
        r["bucket"]: r["n"]
        for r in numeric_histogram(df, "v", n_buckets=4, lo=0, hi=100).collect()
    }
    assert fixed == {0: 25, 1: 25, 2: 25, 3: 25}
    # degenerate: all values equal -> single bucket 0
    one = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    got = numeric_histogram(one, "v", n_buckets=8).collect()
    assert len(got) == 1 and got[0]["bucket"] == 0 and got[0]["n"] == 2


def test_embedding_centroids_exact(spark):
    from sensomics_data_pipeline_spark.operators.similarity import (
        embedding_centroids,
    )

    rows = [
        (1, [1.0, 2.0], 0),
        (2, [3.0, 6.0], 0),
        (3, [10.0, -10.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        (r["label"], r["pos"]): r
        for r in embedding_centroids(df, "label", "embedding").collect()
    }
    assert out[(0, 0)]["centroid"] == 2.0 and out[(0, 1)]["centroid"] == 4.0
    assert out[(1, 0)]["centroid"] == 10.0 and out[(1, 1)]["centroid"] == -10.0
    assert out[(0, 0)]["n_vecs"] == 2 and out[(1, 0)]["n_vecs"] == 1
    # assembled form rebuilds position-ordered vectors
    vecs = {
        r["label"]: r["centroid_vec"]
        for r in embedding_centroids(
            df, "label", "embedding", assemble=True
        ).collect()
    }
    assert vecs[0] == [2.0, 4.0] and vecs[1] == [10.0, -10.0]


def test_chunk_documents_grid(spark):
    import pytest as _pytest

    from sensomics_data_pipeline_spark.operators.text import chunk_documents

    def doc(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [(64, doc(64)), (65, doc(65)), (100, doc(100)), (0, "  "), (5, doc(5))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=64, overlap=16).toPandas()
    g = out.groupby("doc_id")

    # exactly-one-chunk cases: short, empty, exact fit
    for did, want_tokens in ((64, 64), (5, 5), (0, 0)):
        grp = g.get_group(did)
        assert len(grp) == 1 and grp.chunk_n_tokens.iloc[0] == want_tokens
    # 65 tokens -> chunks [0:64] and [48:65] (17 tokens, 16 overlapped + 1)
    grp = g.get_group(65).sort_values("chunk_id")
    assert list(grp.chunk_n_tokens) == [64, 17]
    assert grp.chunk_text.iloc[1].split()[0] == "w48"
    # 100 tokens -> [0:64], [48:100]
    grp = g.get_group(100).sort_values("chunk_id")
    assert list(grp.chunk_n_tokens) == [64, 52]
    # overlap reconstruction: stripping the 16-token overlap from every
    # non-first chunk re-yields the original token stream
    toks = []
    for _, r in grp.reset_index().iterrows():
        parts = r.chunk_text.split()
        toks += parts if r.chunk_id == 0 else parts[16:]
    assert toks == doc(100).split()

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=16, overlap=16)


def test_quality_gate_per_group_quota(spark):
    from sensomics_data_pipeline_spark.operators.text import (
        quality_percentile_gate,
    )

    rows = []
    # group A: 10 docs of strictly increasing quality (longer = better)
    for i in range(10):
        rows.append((i, "A", "word " * (10 * (i + 1))))
    rows.append((100, "B", "lonely single document here"))  # 1-doc group
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = quality_percentile_gate(df, keep_frac=0.4).toPandas()
    a = out[out.source == "A"]
    # percent_rank = rank/(n-1): over 10 rows, ranks 0..3 give
    # 0, 1/9, 2/9, 3/9 <= 0.4 while 4/9 > 0.4 -> keeps the 4 longest
    # (highest-quality, = highest doc_id here) docs
    assert sorted(a.doc_id) == [6, 7, 8, 9]
    # single-doc group: percent_rank is 0.0 by convention -> kept
    assert (out[out.source == "B"].doc_id == 100).all()


def test_ngram_contamination_planted_overlap(spark):
    from sensomics_data_pipeline_spark.operators.text import ngram_contamination

    bench = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 toks
    eval_rows = [(100, f"intro words {bench} outro words")]
    corpus_rows = [
        (1, f"prefix {bench} suffix tail"),        # contains the 8-gram
        (2, "totally different content with no shared eight gram run here"),
        (3, f"{bench} {bench}"),                   # contains it + more grams
    ]
    eval_df = spark.createDataFrame(eval_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in ngram_contamination(corpus, eval_df, n=8).collect()
    }
    assert out[1]["n_overlap"] >= 1 and bool(out[1]["contaminated"])
    assert out[2]["n_overlap"] == 0 and not bool(out[2]["contaminated"])
    # doc 3 shares only grams that exist in the eval doc — the planted
    # 8-gram — regardless of how many grams doc 3 itself has
    assert out[3]["n_overlap"] == out[1]["n_overlap"] == 1
    # distinct semantics: doc 3 repeats the benchmark twice but the
    # shared DISTINCT gram count is still 1
    # non-broadcast path agrees
    out2 = {
        r["doc_id"]: r["n_overlap"]
        for r in ngram_contamination(
            corpus, eval_df, n=8, broadcast_eval=False
        ).collect()
    }
    assert out2 == {k: v["n_overlap"] for k, v in out.items()}


def test_pack_sequences_invariants(spark):
    import random

    from sensomics_data_pipeline_spark.operators.packing import pack_sequences

    rng = random.Random(5)
    rows = [(i, rng.randrange(10, 900)) for i in range(300)]
    rows.append((999, 5000))  # oversize doc
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, budget=1024, n_groups=8).toPandas()

    # every doc exactly once
    assert sorted(out.doc_id) == sorted(d for d, _ in rows)
    # per-pack fill = sum of member tokens, and within budget unless a
    # single oversize member
    g = out.groupby("pack_id")
    for pid, grp in g:
        assert (grp.pack_fill == grp.n_tokens.sum()).all()
        if len(grp) > 1 or not grp.oversize.any():
            assert grp.n_tokens.sum() <= 1024
    assert bool(out[out.doc_id == 999].oversize.iloc[0])
    # deterministic across runs
    out2 = pack_sequences(df, budget=1024, n_groups=8).toPandas()
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = out2.sort_values("doc_id").reset_index(drop=True)
    assert (a == b).all().all()
    # packing actually packs: average fill of multi-doc packs > 60%
    multi = g.filter(lambda x: len(x) > 1)
    assert multi.groupby("pack_id").pack_fill.first().mean() > 0.6 * 1024


def _make_wav(freq=440.0, sr=8000, seconds=0.5, amp=0.5):
    import io
    import wave

    import numpy as np

    t = np.arange(int(sr * seconds)) / sr
    x = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def _make_bmp(w=8, h=4, rgb=(10, 200, 30)):
    import struct

    row = (bytes([rgb[2], rgb[1], rgb[0]]) * w + b"\x00" * 3)[
        : (w * 3 + 3) & ~3
    ]
    pixels = row * h
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    )
    return header + pixels


def test_audio_features_real_wav_decode(spark):
    from sensomics_data_pipeline_spark.operators.multimodal import audio_features

    wav = _make_wav(amp=0.5, sr=8000, seconds=0.5)
    df = spark.createDataFrame(
        [(1, wav), (2, b"not audio at all")], "media_id long, payload binary"
    )
    out = {r["media_id"]: r for r in audio_features(df).collect()}
    ok = out[1]
    assert ok["decode_ok"] and ok["sample_rate"] == 8000 and ok["n_channels"] == 1
    assert abs(ok["duration_s"] - 0.5) < 1e-6
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
    assert abs(ok["rms"] - 0.5 / 2**0.5) < 1e-3
    assert 0.49 < ok["peak"] <= 0.5
    assert out[2]["decode_ok"] is False and out[2]["rms"] is None


def test_compressed_wav_external_decoder_or_documented_stub():
    """A non-PCM WAV (format tag 3 = IEEE float) routes through the
    optional soundfile/torchaudio decoders; with neither installed
    (this container) the documented ``NotImplementedError`` must still
    be raised — and when a decoder IS present the payload must decode
    to the same (rate, channels, samples) contract as the PCM path."""
    import struct

    import pytest as _pytest

    from sensomics_data_pipeline_spark.operators import multimodal as mm

    # minimal float32 WAV: fmt tag 3, 1 channel, 8 kHz, 4 samples
    samples = struct.pack("<4f", 0.0, 0.5, -0.5, 0.25)
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body

    have_lib = mm._decode_audio_external(wav) is not None
    if not have_lib:
        with _pytest.raises(NotImplementedError, match="soundfile"):
            mm.decode_wav(wav)
    else:
        rate, nch, x = mm.decode_wav(wav)
        assert rate == 8000 and nch == 1 and x.shape == (4, 1)
        assert abs(x[1, 0] - 0.5) < 1e-6


def test_flac_subset_decode_hermetic(spark):
    """The compressed-audio path decodes FOR REAL with zero external
    libraries: the vendored ~140-byte FLAC fixture (byte-pinned) and a
    fresh stream from the independent spec encoder both decode through
    the public routing (decode_wav → decode_flac_subset), CRCs are
    enforced, unsupported LPC subframes raise the documented
    NotImplementedError, and audio_features handles FLAC payloads
    end-to-end on Spark."""
    import os

    import numpy as np

    from flac_fixture import encode_flac_subset
    from sensomics_data_pipeline_spark.operators import multimodal as mm

    # 1. the vendored fixture decodes and its bytes are pinned to the
    # independent encoder (either side drifting breaks this)
    fix_path = os.path.join(
        os.path.dirname(__file__), "fixtures", "tiny.flac"
    )
    payload = open(fix_path, "rb").read()
    mono = (
        list(range(-8000, 8000, 1000))
        + [((i * 2654435761) % 65536) - 32768 for i in range(8)]
        + [1234] * 16
    )
    assert payload == encode_flac_subset([mono], sample_rate=8000, blocksize=16)
    rate, nch, x = mm.decode_wav(payload)  # public routing, not a skip
    assert rate == 8000 and nch == 1 and x.shape == (40, 1)
    assert np.allclose(x[:, 0] * 32768, mono)

    # 2. stereo + constant-block + short-final-frame roundtrip
    st = [[(i * 37 + c * 11) % 1000 - 500 for i in range(33)] for c in (0, 1)]
    rate2, nch2, x2 = mm.decode_flac_subset(
        encode_flac_subset(st, sample_rate=44100, blocksize=16)
    )
    assert rate2 == 44100 and nch2 == 2 and x2.shape == (33, 2)
    assert np.allclose(x2.T * 32768, st)

    # 3. CRC corruption is caught, not silently decoded
    bad = bytearray(payload)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_flac_subset(bytes(bad))

    # 4. PREDICTED subframes (what a real encoder emits) decode
    # losslessly: the vendored LPC fixture is byte-pinned to the
    # independent spec encoder and roundtrips bit-exact; every FIXED
    # order and the wasted-bits path roundtrip too
    lpc_sig = [int(1200 * np.sin(i / 5)) + (i % 7) for i in range(48)]
    lpc_pred = ("lpc", [205, -102], 7, 12)
    lpc_path = os.path.join(
        os.path.dirname(__file__), "fixtures", "tiny_lpc.flac"
    )
    lpc_payload = open(lpc_path, "rb").read()
    assert lpc_payload == encode_flac_subset(
        [lpc_sig], sample_rate=16000, blocksize=16, predictor=lpc_pred
    )
    rate_l, nch_l, x_l = mm.decode_wav(lpc_payload)  # public routing
    assert rate_l == 16000 and nch_l == 1 and x_l.shape == (48, 1)
    assert np.allclose(x_l[:, 0] * 32768, lpc_sig)
    for order in range(5):  # FIXED orders 0-4
        _, _, xf = mm.decode_flac_subset(
            encode_flac_subset([lpc_sig], predictor=("fixed", order))
        )
        assert np.allclose(xf[:, 0] * 32768, lpc_sig), order
    sig4 = [s * 4 for s in lpc_sig[:32]]  # wasted bits: 2 zero LSBs
    _, _, xw = mm.decode_flac_subset(
        encode_flac_subset([sig4], predictor=lpc_pred, wasted=2)
    )
    assert np.allclose(xw[:, 0] * 32768, sig4)

    # 4b. spec edge laws: STREAMINFO total=0 (legal "unknown") decodes
    # to payload exhaustion, not empty audio; reserved sample-size
    # codes raise ValueError (not a KeyError)
    unk = bytearray(lpc_payload)
    unk[8 + 13] &= 0xF0  # zero the 36-bit total field
    for i in (14, 15, 16, 17):
        unk[8 + i] = 0
    _, _, xu = mm.decode_flac_subset(bytes(unk))
    assert np.allclose(xu[:, 0] * 32768, lpc_sig)
    rsv = bytearray(lpc_payload)
    hdr_at = 4 + 4 + 34  # first frame header
    # byte 3 of the header holds ch_code(4) + ss_code(3) + reserved(1):
    # force ss_code = 3 (reserved) and patch the CRC-8 so only the
    # reserved-code check can fire
    b3 = rsv[hdr_at + 3]
    rsv[hdr_at + 3] = (b3 & 0xF1) | (3 << 1)
    from sensomics_data_pipeline_spark.operators.multimodal import (
        _flac_crc8,
    )

    rsv[hdr_at + 6] = _flac_crc8(bytes(rsv[hdr_at : hdr_at + 6]))
    with pytest.raises(ValueError, match="reserved sample-size"):
        mm.decode_flac_subset(bytes(rsv))

    # 5. end-to-end through the Spark operator: decode_ok=True with
    # the right rate/duration — the compressed path is no longer a
    # guard rail only
    df = spark.createDataFrame(
        [(1, payload), (2, b"junk")], "media_id long, payload binary"
    )
    out = {r["media_id"]: r for r in mm.audio_features(df).collect()}
    assert out[1]["decode_ok"] and out[1]["sample_rate"] == 8000
    assert abs(out[1]["duration_s"] - 40 / 8000) < 1e-9
    assert out[2]["decode_ok"] is False


def test_ima_adpcm_decode_hermetic(spark):
    """The SECOND compressed-audio codec decodes for real with zero
    external libraries (the r8 verdict's torchaudio-class ask, landed
    the FLAC way): IMA/DVI ADPCM (WAV wFormatTag 0x11, public IMA TWG
    spec) through the public routing (decode_wav), byte-pinned vendored
    fixture, encoder/decoder lockstep (exact reconstruction equality —
    ADPCM is a delta codec, one divergent step compounds), multi-block
    state carry, stereo word interleave, and the Spark operator
    end-to-end."""
    import os

    import numpy as np

    from adpcm_fixture import encode_ima_adpcm_wav
    from sensomics_data_pipeline_spark.operators import multimodal as mm

    # 1. vendored fixture bytes pinned to the independent encoder twin
    t = np.arange(130)
    mono = (3000 * np.sin(t / 5.0) + 40 * t).astype(np.int16)
    payload, recon = encode_ima_adpcm_wav(
        mono, sample_rate=8000, block_align=36
    )
    fix_path = os.path.join(
        os.path.dirname(__file__), "fixtures", "tiny_ima.wav"
    )
    assert payload == open(fix_path, "rb").read()

    # 2. decodes through the public routing (format 0x11 branch, not a
    # NotImplementedError guard), in exact lockstep with the encoder's
    # reconstruction across the 2-block boundary (step index carries)
    rate, nch, x = mm.decode_wav(payload)
    assert rate == 8000 and nch == 1 and x.shape == (130, 1)
    assert np.array_equal(
        np.round(x * 32768.0).astype(np.int64).ravel(),
        recon.astype(np.int64).ravel(),
    )
    # lossy-but-close on a smooth signal once the step size adapts
    assert np.abs(x[65:, 0] * 32768.0 - mono[65:]).max() < 1500

    # 3. stereo: per-channel headers + 4-byte word interleave
    st = np.stack([mono[:65], (mono[:65] // 2)], axis=1).astype(np.int16)
    p2, r2 = encode_ima_adpcm_wav(st, sample_rate=16000, block_align=72)
    rate2, nch2, x2 = mm.decode_wav(p2)
    assert rate2 == 16000 and nch2 == 2 and x2.shape == (65, 2)
    assert np.array_equal(
        np.round(x2 * 32768.0).astype(np.int64), r2.astype(np.int64)
    )

    # 4. corrupt step index (> 88) raises, not an IndexError deep in
    # the table walk
    bad = bytearray(payload)
    bad[-34] = 120  # second block's header index byte
    import pytest as _pytest

    with _pytest.raises(ValueError, match="step index"):
        mm.decode_wav(bytes(bad))

    # 5. end-to-end through the Spark operator
    df = spark.createDataFrame(
        [(1, payload), (2, p2)], "media_id long, payload binary"
    )
    out = {r["media_id"]: r for r in mm.audio_features(df).collect()}
    assert out[1]["decode_ok"] and out[1]["sample_rate"] == 8000
    assert abs(out[1]["duration_s"] - 130 / 8000) < 1e-9
    assert out[2]["decode_ok"] and out[2]["n_channels"] == 2


def test_image_stats_and_resize_real_bmp(spark):
    from sensomics_data_pipeline_spark.operators.multimodal import (
        image_stats,
        resize_bmp_nearest,
    )

    bmp = _make_bmp(w=8, h=4, rgb=(10, 200, 30))
    df = spark.createDataFrame(
        [(1, bmp), (2, b"garbage")], "media_id long, payload binary"
    )
    out = {r["media_id"]: r for r in image_stats(df).collect()}
    ok = out[1]
    assert ok["decode_ok"] and ok["width"] == 8 and ok["height"] == 4
    assert ok["mean_rgb"] == [10.0, 200.0, 30.0]
    assert ok["std_rgb"] == [0.0, 0.0, 0.0]
    assert out[2]["decode_ok"] is False

    rs = {r["media_id"]: r for r in resize_bmp_nearest(df, target=(4, 2)).collect()}
    assert rs[1]["out_w"] == 4 and rs[1]["out_h"] == 2
    assert rs[1]["rgb"] == bytes([10, 200, 30]) * 8
    assert rs[2]["rgb"] is None


def test_interpolate_linear_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from sensomics_data_pipeline_spark.operators.resample import (
        interpolate_linear,
    )

    import random

    rng = random.Random(11)
    rows = []
    for dev in ("a", "b"):
        ts = 1_700_000_000
        for _ in range(60):
            ts += rng.randrange(10, 500)
            v = None if rng.random() < 0.4 else round(rng.uniform(-5, 5), 3)
            rows.append((dev, ts, v))
    pdf = pd.DataFrame(rows, columns=["dev", "ts", "v"])
    df = spark.createDataFrame(pdf).withColumn(
        "date_time", F.col("ts").cast("timestamp")
    )
    got = (
        interpolate_linear(df, ["dev"], "date_time", "v")
        .select("dev", "ts", "v_interp")
        .toPandas()
        .sort_values(["dev", "ts"])
        .reset_index(drop=True)
    )
    want = []
    for dev, grp in pdf.groupby("dev"):
        s = grp.set_index("ts")["v"].astype(float)
        want.append(
            s.interpolate(method="index", limit_direction="both").reset_index()
        )
    want = (
        pd.concat(
            [w.assign(dev=d) for w, d in zip(want, sorted(pdf.dev.unique()))]
        )
        .sort_values(["dev", "ts"])
        .reset_index(drop=True)
    )
    assert np.allclose(got["v_interp"].to_numpy(), want["v"].to_numpy(), atol=1e-9)


def test_stratified_sample_exact_counts_and_determinism(spark):
    from sensomics_data_pipeline_spark.operators.sampling import (
        stratified_sample_exact,
    )

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, src string")

    # exact n per stratum, clipped by stratum size
    s = stratified_sample_exact(df, ["src"], "doc_id", n_per_stratum=10)
    got = s.groupBy("src").count().collect()
    assert {r["src"]: r["count"] for r in got} == {"big": 10, "small": 10}

    # exact fractional quota: ceil(0.25*80)=20, ceil(0.25*20)=5
    f = stratified_sample_exact(df, ["src"], "doc_id", fraction=0.25)
    got = {r["src"]: r["count"] for r in f.groupBy("src").count().collect()}
    assert got == {"big": 20, "small": 5}

    # deterministic: same seed → same ids; different seed → different set
    a = sorted(r["doc_id"] for r in stratified_sample_exact(
        df, ["src"], "doc_id", n_per_stratum=10, seed=7).collect())
    b = sorted(r["doc_id"] for r in stratified_sample_exact(
        df, ["src"], "doc_id", n_per_stratum=10, seed=7
    ).repartition(13).collect())
    c = sorted(r["doc_id"] for r in stratified_sample_exact(
        df, ["src"], "doc_id", n_per_stratum=10, seed=8).collect())
    assert a == b
    assert a != c

    # engine-portable: DuckDB reproduces the identical selection
    import duckdb

    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    dd = con.execute(
        """
        SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER (
            PARTITION BY src
            ORDER BY ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                     doc_id
          ) AS rn FROM t
        ) WHERE rn <= 10 ORDER BY doc_id
        """
    ).df()
    assert sorted(dd.doc_id.tolist()) == a
    with pytest.raises(ValueError, match="exactly one"):
        stratified_sample_exact(df, ["src"], "doc_id")


def test_ivf_pretrained_centroids_match_inline(spark):
    import numpy as np

    from sensomics_data_pipeline_spark.operators import similarity as sim_ops

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = sim_ops.ivf_train(emb, n_lists=8, train_sample=256)
    assert cent.shape[0] == 8
    assert np.allclose(np.linalg.norm(cent, axis=1), 1.0)
    inline = sim_ops.ivf_topk(
        emb, k=3, n_lists=8, train_sample=256
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    pre = sim_ops.ivf_topk(
        emb, k=3, n_lists=8, train_sample=256, centroids=cent
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (inline == pre).all().all()
    with pytest.raises(ValueError, match="n_lists"):
        sim_ops.ivf_topk(emb, n_lists=4, centroids=cent)


def test_transform_with_state_high_watermark_matches_batch(spark, sf_dir):
    """Spark 4 v2 stateful API (transformWithStateInPandas): the
    streaming record-high filter over one bounded micro-batch equals
    the batch window form value > max(previous per key)."""
    from pyspark.sql import Window

    from sensomics_data_pipeline_spark.sources.readers import load_table
    from sensomics_data_pipeline_spark.streaming.stateful import (
        HAS_TWS,
        high_watermark_stream,
    )

    if not HAS_TWS:
        # environment gate (protobuf bindings absent in this image):
        # assert the gate raises cleanly instead of crashing a query
        with pytest.raises(NotImplementedError, match="transformWithState"):
            high_watermark_stream(spark, sf_dir)
        return
    got = high_watermark_stream(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = (
        ev.withColumn("_prev_max", F.max("value").over(w))
        .filter(F.col("_prev_max").isNull() | (F.col("value") > F.col("_prev_max")))
        .select("event_id")
        .toPandas()
    )
    assert sorted(got.event_id) == sorted(want.event_id)


# ---------------------------------------------------------------------------
# Paragraph dedup + domain mix
# ---------------------------------------------------------------------------

def test_dedup_paragraphs_separator_path(spark):
    """Real paragraph boundaries: the shared boilerplate paragraph is
    stripped from every doc; unique paragraphs survive in order."""
    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha one\n\n{boiler}\n\nbeta two"),
        (2, f"{boiler}\n\ngamma three"),
        (3, "delta four\n\nepsilon five"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        dedup_ops.dedup_paragraphs(df, sep="\n\n", min_docs=2)
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(out.clean_text) == [
        "alpha one\n\nbeta two",
        "gamma three",
        "delta four\n\nepsilon five",
    ]
    assert list(out.n_paras) == [3, 2, 2]
    assert list(out.n_removed) == [1, 1, 0]


def test_dedup_paragraphs_word_windows(spark):
    """Boundary-free splitter: 3-word windows; a window shared by two
    docs is removed from both, and a doc that is ALL boilerplate
    collapses to the empty string (not NULL, not a dropped row)."""
    shared = "x y z"
    rows = [
        (1, f"a b c {shared}"),
        (2, f"{shared} d e f"),
        (3, shared),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        dedup_ops.dedup_paragraphs(
            df, sep=None, words_per_para=3, min_docs=2
        )
        .orderBy("doc_id")
        .toPandas()
    )
    # windows: doc1 = ["a b c", "x y z"], doc2 = ["x y z", "d e f"],
    # doc3 = ["x y z"]; "x y z" appears in 3 distinct docs -> removed
    assert list(out.clean_text) == ["a b c", "d e f", ""]
    assert list(out.n_removed) == [1, 1, 1]
    assert list(out.n_paras) == [2, 2, 1]


def test_dedup_paragraphs_regex_sep_requires_literal_joiner(spark):
    """A regex `sep` ("\\n+") must not be injected verbatim into the
    reassembled text: without an explicit join_sep it raises; with one,
    splitting happens on the pattern and joining on the literal."""
    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha one\n\n\n{boiler}\nbeta two"),
        (2, f"{boiler}\n\ngamma three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="regex pattern"):
        dedup_ops.dedup_paragraphs(df, sep=r"\n+", min_docs=2)
    out = (
        dedup_ops.dedup_paragraphs(
            df, sep=r"\n+", min_docs=2, join_sep="\n"
        )
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(out.clean_text) == ["alpha one\nbeta two", "gamma three"]
    # literal sep still works with no join_sep (backwards compatible)
    lit = dedup_ops.dedup_paragraphs(
        spark.createDataFrame(rows, "doc_id long, text string"),
        sep="\n\n",
        min_docs=2,
    )
    assert lit.count() == 2


def test_rebalance_sources_raises_when_no_weighted_source_present(spark):
    """Mis-keyed weights must fail loudly at execution, not silently
    return an empty corpus."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from sensomics_data_pipeline_spark.operators.sampling import (
        rebalance_sources,
    )

    df = spark.createDataFrame(
        [(1, "web"), (2, "books")], "doc_id long, source string"
    )
    bad = rebalance_sources(df, {"wweb": 1.0, "bookz": 1.0})
    with pytest.raises(SparkRuntimeException, match="no source named"):
        bad.count()


def test_has_event_time_watermark_walks_plan_nodes(spark, sf_dir):
    """The watermark probe matches actual EventTimeWatermark plan nodes:
    a watermarked streaming agg is detected, and a stream whose plan
    merely CONTAINS the text 'EventTimeWatermark' in a literal column
    does not false-positive."""
    from sensomics_data_pipeline_spark.streaming.demo import (
        _has_event_time_watermark,
        read_events_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    with_wm = ev.withWatermark("ts", "10 minutes").groupBy(
        F.window("ts", "5 minutes")
    ).count()
    assert _has_event_time_watermark(with_wm) is True
    decoy = ev.select(
        "ts", F.lit("EventTimeWatermark").alias("EventTimeWatermark")
    )
    assert _has_event_time_watermark(decoy) is False


def test_rebalance_sources_quota_and_determinism(spark):
    """Quota math: m = min(count/weight); keep floor(m*w) per source —
    the binding source keeps everything; selection is deterministic."""
    from sensomics_data_pipeline_spark.operators.sampling import (
        rebalance_sources,
    )

    rows = [(i, "web" if i < 40 else "books") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # counts: web 40, books 10; weights 1:1 -> m = 10, keep 10 + 10
    out = rebalance_sources(df, {"web": 1.0, "books": 1.0}, seed=3)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"web": 10, "books": 10}
    # weights 3:1 -> m = min(40/3, 10/1) = 10 -> web 30, books 10
    out2 = rebalance_sources(df, {"web": 3.0, "books": 1.0}, seed=3)
    counts2 = {
        r["source"]: r["n"]
        for r in out2.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts2 == {"web": 30, "books": 10}
    # determinism: same (data, weights, seed) -> identical row set
    ids_a = sorted(r.doc_id for r in out2.select("doc_id").collect())
    ids_b = sorted(
        r.doc_id
        for r in rebalance_sources(
            df, {"web": 3.0, "books": 1.0}, seed=3
        ).select("doc_id").collect()
    )
    assert ids_a == ids_b
    # unknown sources are dropped
    df2 = df.union(
        spark.createDataFrame([(99, "spam")], "doc_id long, source string")
    )
    out3 = rebalance_sources(df2, {"web": 3.0, "books": 1.0}, seed=3)
    assert out3.filter(F.col("source") == "spam").count() == 0


def test_prepare_corpus_optional_stages(spark):
    """paragraph_min_docs strips shared boilerplate before signals are
    computed; mix_weights rebalances survivors before packing."""
    import random

    from sensomics_data_pipeline_spark.operators.corpus import prepare_corpus

    rng = random.Random(5)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    boiler = "click here to subscribe now"   # 5 words
    rows = []
    for i in range(24):
        words = [rng.choice(vocab) for _ in range(60)]
        # append the same boilerplate tail to every doc in source s0
        text = " ".join(words) + (f" {boiler}" if i % 2 == 0 else "")
        rows.append((i, f"s{i % 2}", text))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    kwargs = dict(
        quality_keep_frac=1.0,
        dedup_method="exact",
        pack_budget=128,
        pack_groups=4,
        paragraph_min_docs=2,
        paragraph_sep=None,
        paragraph_words=5,
    )
    base = prepare_corpus(df, **kwargs).toPandas()
    out = prepare_corpus(
        df, mix_weights={"s0": 2.0, "s1": 1.0}, **kwargs
    ).toPandas()

    # boilerplate removed from every surviving text
    assert not base.text.str.contains("subscribe").any()
    assert not out.text.str.contains("subscribe").any()
    # quota math over the actual survivor counts: m = min(c0/2, c1/1)
    surv = base.groupby("source").size()
    m = min(surv["s0"] / 2.0, surv["s1"] / 1.0)
    counts = out.groupby("source").size()
    assert counts["s0"] == int(m * 2.0) and counts["s1"] == int(m * 1.0)
    # still packed with consistent bookkeeping
    for _, grp in out.groupby("pack_id"):
        assert (grp.pack_fill == grp.n_tokens.sum()).all()


def test_assign_splits_fractions_and_append_stability(spark):
    from sensomics_data_pipeline_spark.operators.sampling import (
        assign_splits,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    out = assign_splits(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    ).toPandas()
    frac = out.split.value_counts(normalize=True)
    assert abs(frac["train"] - 0.8) < 0.05
    assert abs(frac["val"] - 0.1) < 0.03
    assert abs(frac["test"] - 0.1) < 0.03
    # append stability: adding rows never moves an existing assignment
    bigger = spark.createDataFrame(
        [(i,) for i in range(4000)], "doc_id long"
    )
    out2 = assign_splits(
        bigger, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    ).toPandas()
    merged = out.merge(out2, on="doc_id", suffixes=("_a", "_b"))
    assert (merged.split_a == merged.split_b).all()
    # fractions must sum to 1
    with pytest.raises(ValueError):
        assign_splits(df, {"train": 0.5, "val": 0.1})


def test_dedup_paragraphs_hot_boilerplate(spark):
    """A paragraph shared by ALL docs (worst-case posting list) must be
    removed without blowing an aggregation buffer — the two-scan plan
    never materializes the hot paragraph's posting list."""
    boiler = "all rights reserved contact us"
    rows = [
        (i, f"unique{i} words{i} here{i} {boiler}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_ops.dedup_paragraphs(
        df, sep=None, words_per_para=3, min_docs=2
    ).toPandas()
    assert len(out) == 500
    assert not out.clean_text.str.contains("reserved").any()
    assert (out.n_removed >= 1).all()


# ---------------------------------------------------------------------------
# Driver data-revision robustness
# ---------------------------------------------------------------------------

def test_load_table_normalizes_all_ts_encodings(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (rounds
    1-2) and TIMESTAMP(MICROS)/isAdjustedToUTC=false (round 3). Both
    — plus a plain UTC-adjusted timestamp — must load as identical
    TIMESTAMP values, batch AND stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sensomics_data_pipeline_spark.sources.readers import load_table
    from sensomics_data_pipeline_spark.streaming.demo import (
        read_events_stream,
        run_bounded,
    )

    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
    us = [base_us + i * 1_000_000 for i in range(5)]
    variants = {
        "nanos": pa.array([u * 1000 for u in us], pa.timestamp("ns")),
        "micros_ntz": pa.array(us, pa.timestamp("us")),
        "micros_utc": pa.array(us, pa.timestamp("us", tz="UTC")),
    }
    for name, arr in variants.items():
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array(range(5), pa.int64()),
                "ts": arr,
                "user_id": pa.array([1] * 5, pa.int64()),
                "event_type": pa.array(["x"] * 5),
                "value": pa.array([1.0] * 5),
                "props": pa.array(["{}"] * 5),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))

        batch = load_table(spark, str(d), "events")
        assert batch.schema["ts"].dataType.simpleString() == "timestamp", name
        got = sorted(r[0] for r in batch.select("ts").collect())
        assert [t.isoformat() for t in got] == [
            f"2024-01-01T00:00:{s:02d}" for s in range(5)
        ], name

        stream = read_events_stream(spark, str(d))
        assert stream.schema["ts"].dataType.simpleString() == "timestamp", name
        srows = run_bounded(
            stream.groupBy("ts").count(), "complete"
        ).toPandas()
        assert len(srows) == 5, name


def test_simhash_pairs_60bit_scale_setting(spark):
    """The documented 10^8-corpus setting (bits=60 = portable-hash
    width, 15-bit bands) must find the same planted near-dup pair as
    the 32-bit default."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "lambda", 1)
    far = "one two three four five six seven eight nine ten " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    out = dedup_ops.simhash_pairs(
        df, bits=60, n_bands=4, max_hamming=3
    ).toPandas()
    assert set(zip(out.doc_a, out.doc_b)) == {(1, 2)}


def test_rolling_range_agg_vs_brute_force(spark):
    """RANGE-frame trailing aggregates vs a brute-force python double
    loop, including timestamp ties (peers must be in each other's
    frames) and irregular gaps."""
    import datetime as dt

    from sensomics_data_pipeline_spark.operators.windows import (
        rolling_range_agg,
    )

    t0 = dt.datetime(2024, 1, 1)
    # user 1: irregular offsets in seconds, with a tie at 100
    offs = [0, 30, 100, 100, 3600, 3700, 7300]
    rows = [
        (1, t0 + dt.timedelta(seconds=s), float(i))
        for i, s in enumerate(offs)
    ]
    rows += [(2, t0, 99.0)]  # lone row in its own partition
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = (
        rolling_range_agg(df, ["user_id"], "ts", "value", range_us=60_000_000)
        .orderBy("user_id", "ts", "value")
        .toPandas()
    )

    expect = []
    for uid, ts, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        peers = [
            w
            for u2, ts2, w in rows
            if u2 == uid and ts - dt.timedelta(seconds=60) <= ts2 <= ts
        ]
        expect.append((uid, ts, v, len(peers), min(peers), max(peers)))
    got = list(
        out[
            ["user_id", "ts", "value", "n_trailing", "min_trailing", "max_trailing"]
        ].itertuples(index=False, name=None)
    )
    assert [(u, t.to_pydatetime(), v, n, lo, hi) for u, t, v, n, lo, hi in got] == expect


def test_dedup_incremental_verdicts(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "lambda", 1)
    seen = spark.createDataFrame(
        [(1, base), (2, "totally different content here now " * 8)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),                       # exact dup of seen 1
            (11, near),                       # near dup of seen 1
            (12, "novel words nobody saw before " * 8),
        ],
        "doc_id long, text string",
    )
    out = (
        dedup_ops.dedup_incremental(new, seen, threshold=0.5)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert bool(out.loc[10, "is_exact_dup"])
    assert out.loc[10, "near_dup_of"] == 1       # exact implies near
    assert not bool(out.loc[11, "is_exact_dup"])
    assert out.loc[11, "near_dup_of"] == 1
    assert out.loc[11, "est_jaccard"] > 0.5
    assert not bool(out.loc[12, "is_exact_dup"])
    assert pd.isna(out.loc[12, "near_dup_of"])


def test_char_diversity_vs_counter(spark):
    from collections import Counter

    from sensomics_data_pipeline_spark.operators import text as text_ops

    rows = [
        (1, "aaaaaaaa"),                  # flat filler -> prob 1.0
        (2, "abcdefgh"),                  # all distinct -> prob 1/8
        (3, "the quick brown fox"),
        (4, "ababababab"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        text_ops.char_diversity(df)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    for i, t in rows:
        c = Counter(t)
        sq = sum(v * v for v in c.values())
        assert out.loc[i, "n_chars_exact"] == len(t)
        assert out.loc[i, "n_distinct_chars"] == len(c)
        assert out.loc[i, "char_coll"] == sq
        assert out.loc[i, "collision_prob"] == round(sq / len(t) ** 2, 6)
    assert out.loc[1, "collision_prob"] == 1.0
    assert out.loc[2, "collision_prob"] == round(1 / 8, 6)


def test_quality_gate_two_pass_matches_window_form(spark, sf_dir):
    """The few-huge-groups two-pass gate (percentile_approx threshold
    broadcast back, no window) keeps ~the same top segment as the
    exact percent_rank form: per source, the kept count is within the
    boundary-tie slack, every kept doc's score >= every dropped doc's
    score, and the window form's kept set is contained in it up to
    boundary ties. The physical plan must contain NO Window node."""
    from sensomics_data_pipeline_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = text_ops.quality_percentile_gate(docs, keep_frac=0.4)
    twop = text_ops.quality_percentile_gate(
        docs, keep_frac=0.4, two_pass=True
    )
    plan = twop._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    e = exact.select("doc_id", "source", "quality_score").toPandas()
    t = twop.select("doc_id", "source", "quality_score").toPandas()
    for src, eg in e.groupby("source"):
        tg = t[t.source == src]
        n_src = docs.filter(F.col("source") == src).count()
        # kept counts agree within the tie/boundary slack
        assert abs(len(tg) - len(eg)) <= max(3, int(0.02 * n_src)), src
        # two-pass keeps a clean top segment: min kept > max dropped
        dropped = set(
            r.doc_id
            for r in docs.filter(F.col("source") == src)
            .select("doc_id")
            .collect()
        ) - set(tg.doc_id)
        if dropped and len(tg):
            scored_all = (
                text_ops.quality_score(
                    docs.filter(F.col("source") == src)
                )
                .select("doc_id", "quality_score")
                .toPandas()
                .set_index("doc_id")
            )
            assert (
                tg.quality_score.min()
                >= scored_all.loc[sorted(dropped)].quality_score.max()
            ), src


def test_char_diversity_arrow_matches_fold(spark, sf_dir):
    """The Arrow fast path (numpy codepoint count + shortest-repr
    HALF_UP rounding) is bit-identical to the reference fold on the
    full driver documents table AND on adversarial edge cases (empty,
    NULL, flat filler, non-ASCII/astral chars). Guards the rounding
    replica: Spark's round() is HALF_UP on Double.toString's shortest
    decimal, which Decimal(repr(x)) reproduces — Decimal(x) does NOT
    (it flips the last digit on quotients just below a 6-decimal tie)."""
    import pandas as pd

    from sensomics_data_pipeline_spark.operators import text as text_ops

    cols = [
        "doc_id",
        "n_chars_exact",
        "n_distinct_chars",
        "char_coll",
        "collision_prob",
    ]
    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "abab"),
            (4, "aaaa"),
            (5, "the quick brown fox €漢字 emoji 😀😀"),
            # 0.0784375-class tie: 8 distinct chars, counts 5,1,...,1
            # over n=12 -> sq/n^2 just below a 6-decimal half boundary
            (6, "aaaaabcdefgh"),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (edge, docs):
        a = (
            text_ops.char_diversity(df)
            .select(cols).orderBy("doc_id").toPandas()
        )
        b = (
            text_ops.char_diversity(df, engine_exact=False)
            .select(cols).orderBy("doc_id").toPandas()
        )
        pd.testing.assert_frame_equal(a, b)


def test_gram_hash_arrow_matches_hof(spark, sf_dir):
    """The hashlib Arrow fast paths for doc_fingerprint and
    ngram_contamination are value-identical to the builtin HOF forms on
    the full driver documents table AND adversarial edges: empty, NULL,
    <n tokens, exactly n tokens, Java-\\s-only whitespace mix (tabs /
    CR / VT — Python's Unicode \\s would tokenize NBSP differently,
    the replica must not), non-ASCII/astral tokens, and a 200-token
    single-word doc. Guards the ``_py_tokens`` tokenizer replica."""
    import pandas as pd

    from sensomics_data_pipeline_spark.operators import text as text_ops

    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "a b c d"),
            (4, "a b c d e"),
            (5, " \t lead\ttab  split\ncases \r\x0b mix "),
            (6, "nbsp stays inside one token a b c d e"),
            (7, "€漢字 emoji 😀 a b c d e f"),
            (8, "w " * 200),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp_cols = ["doc_id", "fingerprint_min", "fingerprint_max"]
    for df in (edge, docs):
        a = (
            text_ops.doc_fingerprint(df)
            .select(fp_cols).orderBy("doc_id").toPandas()
            .astype({"fingerprint_min": "Int64", "fingerprint_max": "Int64"})
        )
        b = (
            text_ops.doc_fingerprint(df, engine_exact=False)
            .select(fp_cols).orderBy("doc_id").toPandas()
            .astype({"fingerprint_min": "Int64", "fingerprint_max": "Int64"})
        )
        pd.testing.assert_frame_equal(a, b)
    for corpus, eval_df, n in ((edge, edge, 3), (docs, docs.limit(40), 8)):
        a = text_ops.ngram_contamination(
            corpus, eval_df, n=n
        ).orderBy("doc_id").toPandas()
        b = text_ops.ngram_contamination(
            corpus, eval_df, n=n, engine_exact=False
        ).orderBy("doc_id").toPandas()
        pd.testing.assert_frame_equal(a, b)


def test_simhash_and_lexical_arrow_match_hof(spark, sf_dir):
    """The numpy vote kernel behind ``simhash(..., engine_exact=False)``
    and the ``Counter`` kernel behind ``lexical_stats(...,
    engine_exact=False)`` are value-identical to their builtin
    references on the full driver documents table AND tokenizer edges
    (multiset voting — repeated tokens vote once PER OCCURRENCE — is
    pinned by the repeated-token doc)."""
    import pandas as pd

    from sensomics_data_pipeline_spark.operators import dedup as dd
    from sensomics_data_pipeline_spark.operators import text as text_ops

    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "a"),
            (4, "word word word other"),
            (5, " \t lead\ttab  split\ncases \r\x0b mix x y"),
            (6, "€漢字 emoji 😀 a b c d e f"),
            (7, "w " * 200),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (edge, docs):
        for bits in (32, 60):
            a = (
                dd.simhash(df, bits=bits)
                .orderBy("doc_id").toPandas()
            )
            b = (
                dd.simhash(df, bits=bits, engine_exact=False)
                .orderBy("doc_id").toPandas()
            )
            pd.testing.assert_frame_equal(a, b)
        cols = [
            "doc_id", "n_words", "n_types", "max_freq", "ttr",
            "top_frac", "word_coll_prob",
        ]
        a = (
            text_ops.lexical_stats(df)
            .select(cols).orderBy("doc_id").toPandas()
        )
        b = (
            text_ops.lexical_stats(df, engine_exact=False)
            .select(cols).orderBy("doc_id").toPandas()
        )
        pd.testing.assert_frame_equal(a, b)
    # hashed_shingle_sets: the inverted-index substrate must produce
    # the identical (doc, set_size, hash) row set through both kernels
    for df in (edge, docs):
        a = (
            dd.hashed_shingle_sets(df, n=3)
            .orderBy("doc_id", "sh").toPandas()
        )
        b = (
            dd.hashed_shingle_sets(df, n=3, engine_exact=False)
            .orderBy("doc_id", "sh").toPandas()
        )
        pd.testing.assert_frame_equal(a, b)


def test_minhash_wide_arrow_matches_hof(spark, sf_dir):
    """The hashlib+numpy Arrow kernel behind ``minhash_wide(...,
    engine_exact=False)`` is value-identical to the md5-HOF reference
    on the full driver documents table AND the tokenizer edges: empty,
    NULL, <n tokens (dropped on both paths), exactly n tokens,
    Java-\\s whitespace mix, NBSP-inside-token, non-ASCII/astral, and
    a repeated-token doc (multiset == set minima)."""
    import pandas as pd

    from sensomics_data_pipeline_spark.operators import dedup as dd

    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "a b"),
            (4, "a b c"),
            (5, " \t lead\ttab  split\ncases \r\x0b mix x y"),
            (6, "nbsp stays inside one token a b c d e"),
            (7, "€漢字 emoji 😀 a b c d e f"),
            (8, "w " * 200),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (edge, docs):
        a = (
            dd.minhash_wide(df, n=3, num_hashes=16)
            .orderBy("doc_id").toPandas()
        )
        b = (
            dd.minhash_wide(df, n=3, num_hashes=16, engine_exact=False)
            .orderBy("doc_id").toPandas()
        )
        assert list(a["doc_id"]) == list(b["doc_id"])
        for x, y in zip(a["mhs"], b["mhs"]):
            assert list(x) == list(y)


def test_minhash_string_keys_arrow_and_lsh_and_incremental(spark):
    """String-keyed callers must work on the Arrow minhash kernel (it
    derives the key type from df.schema rather than pinning int64) and
    through the two pipelines that hardcode ``engine_exact=False``:
    ``minhash_lsh_dedup`` and ``dedup_incremental``. Signatures must be
    value-identical to the HOF path, and the planted near-dup must
    surface with its string ids intact."""
    from sensomics_data_pipeline_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        ("doc-a", base),
        ("doc-b", base.replace("kappa", "lambda", 1)),
        ("doc-c", "one two three four five six seven eight nine ten " * 4),
        ("doc-d", "xy"),  # < n tokens — dropped on both paths
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    a = dd.minhash_wide(df, n=3, num_hashes=16).orderBy("doc_id").toPandas()
    b = (
        dd.minhash_wide(df, n=3, num_hashes=16, engine_exact=False)
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(a["doc_id"]) == list(b["doc_id"]) == ["doc-a", "doc-b", "doc-c"]
    for x, y in zip(a["mhs"], b["mhs"]):
        assert list(x) == list(y)

    pairs = dd.minhash_lsh_dedup(df).toPandas()
    assert ("doc-a", "doc-b") in set(zip(pairs.doc_a, pairs.doc_b))

    new_df = spark.createDataFrame(
        [("new-1", base), ("new-2", "totally fresh words never seen before ok")],
        "doc_id string, text string",
    )
    inc = (
        dd.dedup_incremental(new_df, df, threshold=0.5)
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(inc.doc_id) == ["new-1", "new-2"]
    assert bool(inc.is_exact_dup[0]) and inc.near_dup_of[0] == "doc-a"
    assert not bool(inc.is_exact_dup[1]) and inc.near_dup_of[1] is None

    # the simhash Arrow kernel derives its key type the same way
    sa = dd.simhash(df, bits=32).orderBy("doc_id").toPandas()
    sb = (
        dd.simhash(df, bits=32, engine_exact=False)
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(sa.doc_id) == list(sb.doc_id)
    assert list(sa.simhash) == list(sb.simhash)


def test_repetition_counts_arrow_matches_hof(spark, sf_dir):
    """The ``Counter`` Arrow kernel behind ``repetition_signals(...,
    engine_exact=False)`` is value-identical to the sorted-fold HOF
    reference on the full driver documents table AND the same
    adversarial tokenizer edges as the fingerprint test (the ratio /
    round arithmetic is shared Spark expressions — only the integer
    counts differ in provenance, so equality here certifies the whole
    column set including the 6-decimal rounds)."""
    import pandas as pd

    from sensomics_data_pipeline_spark.operators import text as text_ops

    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "a"),
            (4, "a b"),
            (5, "a b c"),
            (6, "word word word word"),
            (7, " \t lead\ttab  split\ncases \r\x0b mix "),
            (8, "nbsp stays inside one token a b c d e"),
            (9, "€漢字 emoji 😀 a b c d e f"),
            (10, "w " * 200),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = [
        "doc_id",
        "n_tokens",
        "top_word_frac",
        "unique_word_ratio",
        "top_bigram_frac",
        "dup_trigram_frac",
        "repetitious",
    ]
    for df in (edge, docs):
        a = (
            text_ops.repetition_signals(df)
            .select(cols).orderBy("doc_id").toPandas()
        )
        b = (
            text_ops.repetition_signals(df, engine_exact=False)
            .select(cols).orderBy("doc_id").toPandas()
        )
        pd.testing.assert_frame_equal(a, b)


def test_char_diversity_empty_and_null_pinned_both_engines(spark):
    """Empty and NULL text are pinned to (0, 0, 0, NULL) — and the
    driver-facing oracle SQL agrees bit-exactly, including keeping the
    NULL-text row (Spark's split(NULL) folds to NULL; DuckDB's
    unnest(NULL) emits no rows; both are overridden explicitly)."""
    import duckdb
    import pandas as pd

    from sensomics_data_pipeline_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "abab")], "doc_id long, text string"
    )
    out = (
        text_ops.char_diversity(df)
        .select(
            "doc_id",
            "n_chars_exact",
            "n_distinct_chars",
            "char_coll",
            "collision_prob",
        )
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    for i in (1, 2):
        assert out.loc[i, "n_chars_exact"] == 0
        assert out.loc[i, "n_distinct_chars"] == 0
        assert out.loc[i, "char_coll"] == 0
        assert pd.isna(out.loc[i, "collision_prob"])
    assert out.loc[3, "char_coll"] == 8

    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["", None, "abab"]}),
    )
    dd = (
        con.execute(entry_mod._SQL_CHAR_DIVERSITY)
        .df()
        .set_index("doc_id")
        .astype(out.dtypes.to_dict())
    )
    pd.testing.assert_frame_equal(out, dd)


# ---------------------------------------------------------------------------
# Round-4: overlap join, weighted sampling, lexical stats, MAD outliers
# ---------------------------------------------------------------------------


def test_overlap_join_hand_cases(spark):
    """Closed-interval semantics (touching matches, overlap 0), exact
    overlap lengths, and multi-bin pairs surviving exactly once."""
    import datetime as dt

    from sensomics_data_pipeline_spark.operators.intervals import overlap_join

    B = dt.datetime(2024, 1, 1)
    T = lambda s: B + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, T(0), T(100)), (2, T(200), T(300)), (3, T(500), T(500))],
        "lid int, start_time timestamp, end_time timestamp",
    )
    right = spark.createDataFrame(
        [(10, T(100), T(110)), (11, T(50), T(260)), (12, T(400), T(450))],
        "rid int, r_start timestamp, r_end timestamp",
    )
    # bin width 10s: pair (1, 11) shares bins 5..10 — must appear ONCE
    out = overlap_join(
        left,
        right,
        partition_cols=[],
        left_cols=("start_time", "end_time"),
        right_cols=("r_start", "r_end"),
        bin_width_s=10,
    )
    rows = {(r.lid, r.rid): r.overlap_seconds for r in out.collect()}
    assert rows == {(1, 10): 0.0, (1, 11): 50.0, (2, 11): 60.0}
    assert out.count() == 3  # no multi-bin duplicates


def test_overlap_join_partition_keys_and_point_intervals(spark):
    import datetime as dt

    from sensomics_data_pipeline_spark.operators.intervals import overlap_join

    B = dt.datetime(2024, 1, 1)
    T = lambda s: B + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [("u1", T(0), T(50)), ("u2", T(0), T(50))],
        "u string, start_time timestamp, end_time timestamp",
    )
    right = spark.createDataFrame(
        [("u1", T(25), T(25)), ("u2", T(60), T(70))],
        "u string, r_start timestamp, r_end timestamp",
    )
    out = overlap_join(
        left,
        right,
        partition_cols=["u"],
        left_cols=("start_time", "end_time"),
        right_cols=("r_start", "r_end"),
        bin_width_s=3600,
    ).collect()
    # point interval inside u1's interval matches; u2's disjoint does not,
    # and cross-key (u1 x u2) pairs never form
    assert len(out) == 1
    assert out[0].u == "u1" and out[0].overlap_seconds == 0.0


def test_weighted_sample_priority_quota_and_determinism(spark):
    from sensomics_data_pipeline_spark.operators.sampling import (
        weighted_sample_priority,
    )

    rows = [(i, "a" if i % 2 else "b", (i % 7) + 1) for i in range(100)]
    rows += [(1000, "a", 0), (1001, "a", -5), (1002, "b", None)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w long")
    out = weighted_sample_priority(
        df, ["g"], "doc_id", "w", n_per_stratum=5, seed=3
    )
    pdf = out.toPandas()
    assert pdf.groupby("g").size().to_dict() == {"a": 5, "b": 5}
    # zero / negative / NULL weights are never sampled
    assert not set(pdf.doc_id) & {1000, 1001, 1002}
    # selection is a pure function of (data, seed): layout-invariant
    again = weighted_sample_priority(
        df.repartition(7), ["g"], "doc_id", "w", n_per_stratum=5, seed=3
    ).toPandas()
    assert set(pdf.doc_id) == set(again.doc_id)
    # a different seed re-rolls the hash draws
    other = weighted_sample_priority(
        df, ["g"], "doc_id", "w", n_per_stratum=5, seed=4
    ).toPandas()
    assert set(pdf.doc_id) != set(other.doc_id)


def test_weighted_sample_priority_fraction_and_weight_bias(spark):
    from sensomics_data_pipeline_spark.operators.sampling import (
        weighted_sample_priority,
    )

    # one row with overwhelming weight: its priority h/w is ~1e9 times
    # smaller than any unit-weight row's — always selected
    rows = [(i, 1) for i in range(40)] + [(999, 10**12)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_sample_priority(
        df, [], "doc_id", "w", fraction=0.1, seed=1
    ).toPandas()
    # ceil(0.1 * 41) = 5 rows, heavy row among them
    assert len(out) == 5
    assert 999 in set(out.doc_id)
    with pytest.raises(ValueError):
        weighted_sample_priority(df, [], "doc_id", "w", seed=1)


def test_lexical_stats_hand_computed(spark):
    from sensomics_data_pipeline_spark.operators.text import lexical_stats

    df = spark.createDataFrame(
        [
            (1, "a a b"),
            (2, ""),
            (3, None),
            (4, "  x  "),
            (5, "w w w w"),
        ],
        "doc_id long, text string",
    )
    out = (
        lexical_stats(df)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "n_words"] == 3
    assert out.loc[1, "n_types"] == 2
    assert out.loc[1, "max_freq"] == 2
    assert out.loc[1, "ttr"] == pytest.approx(0.666667)
    assert out.loc[1, "top_frac"] == pytest.approx(0.666667)
    # counts (2,1): (4+1)/9
    assert out.loc[1, "word_coll_prob"] == pytest.approx(0.555556)
    for i in (2, 3):
        assert out.loc[i, "n_words"] == 0
        assert out.loc[i, "n_types"] == 0
        assert out.loc[i, "max_freq"] == 0
        assert pd.isna(out.loc[i, "ttr"])
    assert out.loc[4, "n_words"] == 1 and out.loc[4, "ttr"] == 1.0
    assert out.loc[5, "n_types"] == 1
    assert out.loc[5, "word_coll_prob"] == 1.0


def test_mad_outliers_hand_computed(spark):
    from sensomics_data_pipeline_spark.operators.profile import mad_outliers

    df = spark.createDataFrame(
        [
            ("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 4.0), ("A", 100.0),
            ("B", 5.0), ("B", 5.0), ("B", 5.0),
            ("A", None),
        ],
        "g string, value double",
    )
    out = mad_outliers(df, "value", ["g"], k=3.0).toPandas()
    a = out[out.g == "A"].set_index("value", drop=False)
    # A: median 3, residuals [2,1,0,1,97] -> MAD 1 -> only 100 flags
    assert bool(a.loc[100.0, "is_outlier"]) is True
    assert not a.loc[[1.0, 2.0, 3.0, 4.0], "is_outlier"].any()
    assert float(a.loc[100.0, "group_median"]) == 3.0
    assert float(a.loc[100.0, "group_mad"]) == 1.0
    # NULL value -> false (never-NULL flag)
    assert (a[a.value.isna()].is_outlier == False).all()  # noqa: E712
    # constant group: MAD 0, nothing flags
    b = out[out.g == "B"]
    assert not b.is_outlier.any() and (b.group_mad == 0).all()
    # global (no-group) path: median 4.5, MAD 1.0 -> 1.0 and 100.0 flag
    g = mad_outliers(df.select("value"), "value", [], k=3.0).toPandas()
    assert set(g[g.is_outlier == True].value) == {1.0, 100.0}  # noqa: E712


def test_funnel_hand_computed(spark):
    import datetime as dt

    from sensomics_data_pipeline_spark.operators.analytics import funnel

    B = dt.datetime(2024, 1, 1)
    T = lambda s: B + dt.timedelta(seconds=s)
    rows = [
        # u1 completes in order
        (1, "view", T(0)), (1, "click", T(10)), (1, "purchase", T(20)),
        # u2 clicks BEFORE viewing -> stalls at view
        (2, "click", T(0)), (2, "view", T(10)),
        # u3 views only
        (3, "view", T(0)),
        # u4 same-timestamp view+click (ties count), no purchase
        (4, "view", T(5)), (4, "click", T(5)),
        # u5 never views (purchase alone does not count)
        (5, "purchase", T(0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.stage: r for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert out["view"].n_users == 4
    assert out["click"].n_users == 2        # u1, u4
    assert out["purchase"].n_users == 1     # u1
    assert out["view"].conversion == 1.0
    assert out["click"].conversion == 0.5
    assert out["purchase"].conversion == 0.25
    with pytest.raises(ValueError):
        funnel(df, [])


def test_cohort_retention_hand_computed(spark):
    import datetime as dt

    from sensomics_data_pipeline_spark.operators.analytics import (
        cohort_retention,
    )

    # Mondays: 2024-01-01 and 2024-01-08
    rows = [
        (1, dt.datetime(2024, 1, 2)),   # cohort w1
        (1, dt.datetime(2024, 1, 10)),  # active w2 -> offset 1
        (2, dt.datetime(2024, 1, 3)),   # cohort w1, never returns
        (3, dt.datetime(2024, 1, 9)),   # cohort w2
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r.cohort_start, r.period_offset): r
        for r in cohort_retention(df, grain="week").collect()
    }
    w1 = dt.datetime(2024, 1, 1)
    w2 = dt.datetime(2024, 1, 8)
    assert out[(w1, 0)].n_active == 2 and out[(w1, 0)].retention == 1.0
    assert out[(w1, 1)].n_active == 1 and out[(w1, 1)].retention == 0.5
    assert out[(w2, 0)].n_active == 1
    assert len(out) == 3


def test_trend_slope_hand_computed(spark):
    import datetime as dt

    from sensomics_data_pipeline_spark.operators.analytics import trend_slope

    B = dt.datetime(2024, 1, 1)
    H = lambda h: B + dt.timedelta(hours=h)
    rows = [
        # g "up": y = 2x + 1 exactly
        ("up", H(0), 1.0), ("up", H(1), 3.0), ("up", H(2), 5.0),
        # g "one": single point -> NULL slope
        ("one", H(0), 7.0),
        # g "nulls": one valid pair after NULL exclusion -> NULL slope
        ("nulls", H(0), None), ("nulls", H(1), 4.0),
        # g "flat": zero y variance -> slope 0, corr NULL
        ("flat", H(0), 2.0), ("flat", H(5), 2.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = {r.g: r for r in trend_slope(df, ["g"]).collect()}
    assert out["up"].slope_per_hour == 2.0
    assert out["up"].intercept == 1.0
    assert out["up"].corr_xy == 1.0
    assert out["up"].n_points == 3
    assert out["one"].slope_per_hour is None
    assert out["nulls"].slope_per_hour is None
    assert out["flat"].slope_per_hour == 0.0
    assert out["flat"].corr_xy is None


def test_cusum_changepoint_hand_computed(spark):
    import datetime as dt

    from sensomics_data_pipeline_spark.operators.analytics import (
        cusum_changepoint,
    )

    B = dt.datetime(2024, 1, 1)
    T = lambda s: B + dt.timedelta(seconds=s)
    rows = [
        # g1: level shift at t3 — median 0, cusum 0,0,0,10,20 -> max 20 @ t4
        ("g1", T(0), 1, 0.0), ("g1", T(1), 2, 0.0), ("g1", T(2), 3, 0.0),
        ("g1", T(3), 4, 10.0), ("g1", T(4), 5, 10.0),
        # g2: downward drift, NULL excluded — values 4,NULL,2,0; med of
        # (4,2,0)=2; cusum 2,2,-2 -> max 2 at EARLIEST tie t0
        ("g2", T(0), 1, 4.0), ("g2", T(1), 2, None),
        ("g2", T(2), 3, 2.0), ("g2", T(3), 4, 0.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, event_id long, value double")
    out = {r.g: r for r in cusum_changepoint(df, ["g"], tiebreak_cols=["event_id"]).collect()}
    assert out["g1"].cusum_max == 20.0
    assert out["g1"].change_ts == T(4)
    assert out["g1"].n_points == 5
    assert out["g2"].cusum_max == 2.0
    assert out["g2"].change_ts == T(0)  # tie with t2 resolves earliest
    assert out["g2"].n_points == 3


def test_write_sorted_dataset_files_own_disjoint_ranges(spark, tmp_path):
    import glob as globmod

    import pyarrow.parquet as pq

    from sensomics_data_pipeline_spark.sources import writers

    df = spark.range(0, 10000).withColumn("v", F.col("id") % 7)
    path = writers.write_sorted_dataset(
        df.repartition(8), str(tmp_path / "srt"), ["id"], n_files=4
    )
    spans = []
    for f in globmod.glob(f"{path}/part-*.parquet"):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    assert len(spans) == 4
    # each file owns a disjoint key range -> min/max pruning can skip
    # whole files for a point/range predicate
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2
    # and the scan prunes row groups: a point filter reads << all rows
    got = spark.read.parquet(path).filter(F.col("id") == 1234).collect()
    assert len(got) == 1


def test_fuzzy_match_pairs_hand_cases(spark):
    from sensomics_data_pipeline_spark.operators.entity import (
        fuzzy_match_pairs,
    )

    df = spark.createDataFrame(
        [
            ("kitten",), ("sitten",), ("sittin",),   # chain: dist 1 links
            ("kitten",),                               # duplicate row
            ("banana",), ("bananas",),                 # dist 1, len +1
            ("zzz",), (None,), ("",),                  # isolated / null / empty
            ("ab",), ("abcd",),                        # dist 2, len +2 (bin boundary)
        ],
        "name string",
    )
    # tiny bin width forces multi-bin candidates -> first-common-bin dedup
    pairs = {
        (r.name_a, r.name_b): r.dist
        for r in fuzzy_match_pairs(df, "name", max_dist=2, bin_width=2).collect()
    }
    assert pairs[("kitten", "sitten")] == 1
    assert pairs[("sitten", "sittin")] == 1
    assert pairs[("kitten", "sittin")] == 2
    assert pairs[("banana", "bananas")] == 1
    assert pairs[("ab", "abcd")] == 2
    assert ("", "ab") in pairs  # dist 2 via two inserts
    assert all(a < b for a, b in pairs)
    assert not any("zzz" in p for p in pairs)
    # exactly once each (no multi-bin duplicates)
    out = fuzzy_match_pairs(df, "name", max_dist=2, bin_width=2)
    assert out.count() == out.distinct().count() == len(pairs)


def test_resolve_entities_transitive_and_singletons(spark):
    from sensomics_data_pipeline_spark.operators.entity import (
        resolve_entities,
    )

    df = spark.createDataFrame(
        [("kitten",), ("sitten",), ("sittin",), ("isolated-name",), (None,)],
        "name string",
    )
    out = {r.name: r.canonical_name for r in resolve_entities(df, "name").collect()}
    # the chain collapses to the lexicographic minimum
    assert out == {
        "kitten": "kitten",
        "sitten": "kitten",
        "sittin": "kitten",
        "isolated-name": "isolated-name",
    }


def test_feature_scaling_hand_computed(spark):
    from sensomics_data_pipeline_spark.operators.features import (
        minmax_scale,
        quantile_bins,
        standardize,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, 0.0), ("a", 2, 10.0), ("a", 3, 20.0), ("a", 4, None),
            ("b", 5, 7.0), ("b", 6, 7.0),      # constant group
        ],
        "g string, k long, value double",
    )
    mm = {
        (r.g, r.k): r.minmax
        for r in minmax_scale(df, "value", ["g"]).collect()
    }
    assert mm[("a", 1)] == 0.0 and mm[("a", 2)] == 0.5 and mm[("a", 3)] == 1.0
    assert mm[("a", 4)] is None          # NULL value
    assert mm[("b", 5)] is None          # constant group
    z = {
        (r.g, r.k): r.zscore
        for r in standardize(df, "value", ["g"]).collect()
    }
    assert z[("a", 2)] == 0.0
    assert z[("a", 3)] == 1.0            # (20-10)/10
    assert z[("b", 5)] is None           # zero variance
    b = {
        (r.g, r.k): r.bin
        for r in quantile_bins(
            df, "value", n_bins=2, group_cols=["g"], tiebreak_cols=["k"]
        ).collect()
    }
    assert b[("a", 1)] == 1 and b[("a", 2)] == 1 and b[("a", 3)] == 2
    assert b[("a", 4)] is None
    # ties split deterministically by the tiebreak key
    assert b[("b", 5)] == 1 and b[("b", 6)] == 2


def test_table_diff_hand_computed(spark):
    from sensomics_data_pipeline_spark.operators.diff import table_diff

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", None), (4, "w", 4.0)],
        "k long, s string, v double",
    )
    b = spark.createDataFrame(
        [(1, "x", 1.0),          # unchanged
         (2, "y", 99.0),         # changed value
         (3, "z", None),         # unchanged incl. NULL (null-safe)
         (5, "new", 5.0)],       # added; 4 removed
        "k long, s string, v double",
    )
    out = {r.k: r.change_type for r in table_diff(a, b, ["k"]).collect()}
    assert out == {2: "changed", 4: "removed", 5: "added"}
    # compare_cols restriction: ignoring v, row 2 is unchanged
    out2 = {
        r.k: r.change_type
        for r in table_diff(a, b, ["k"], compare_cols=["s"]).collect()
    }
    assert out2 == {4: "removed", 5: "added"}


def test_distribution_drift_hand_computed(spark):
    from sensomics_data_pipeline_spark.operators.diff import (
        distribution_drift,
    )

    # baseline uniform over [0,10); candidate shifted into top half
    rows = [("g", float(i % 10), False) for i in range(100)]
    rows += [("g", 5.0 + (i % 5), True) for i in range(50)]
    rows += [("empty", 1.0, False)]  # no candidate rows -> NULL scores
    df = spark.createDataFrame(rows, "g string, value double, cand boolean")
    out = {
        r.g: r
        for r in distribution_drift(
            df, "value", F.col("cand"), n_bins=10, group_cols=["g"]
        ).collect()
    }
    g = out["g"]
    assert g.n_base == 100 and g.n_cand == 50
    # baseline p_i = .1 everywhere; candidate q = .2 on bins 5..9, 0 below
    # TV = 0.5 * (5*.1 + 5*.1) = 0.5
    assert g.tv_distance == pytest.approx(0.5)
    # chi2 = sum over bins: o_base>0 all; e_i = .1*50 = 5;
    # bins 0-4: (0-5)^2/5 = 5 each; bins 5-9: (10-5)^2/5 = 5 each -> 50
    assert g.chi_square == pytest.approx(50.0)
    e = out["empty"]
    assert e.tv_distance is None and e.chi_square is None


def test_fuzzy_match_unicode_codepoints(spark):
    """Spark's levenshtein is codepoint-grained: one accented
    substitution costs 1, not the UTF-8 byte count — pinned here
    because byte-grained engines (DuckDB) diverge on non-ASCII, which
    is why the driver queries certify the ASCII subset."""
    from sensomics_data_pipeline_spark.operators.entity import (
        fuzzy_match_pairs,
    )

    df = spark.createDataFrame(
        [("small ring",), ("smáll ríng",)], "name string"
    )
    out = fuzzy_match_pairs(df, "name", max_dist=2).collect()
    assert len(out) == 1 and out[0].dist == 2


def test_resample_ffill_drops_null_timestamp_rows(spark):
    """A NULL timestamp has no grid cell: its row must be dropped, not
    sorted first in the ffill window where its value could seed the
    first observed cell (the pre-rewrite impl and the DuckDB oracle
    both drop such rows; the degenerate-events sweep can't see this
    because the driver generator always emits valid ts)."""
    import datetime

    from sensomics_data_pipeline_spark.operators.resample import (
        resample_ffill,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            (1, None, 99.0),  # NULL ts: must not seed anything
            (1, t0, None),  # first observed cell has NULL value
            (1, t0 + datetime.timedelta(seconds=120), 7.0),
        ],
        "uid long, date_time timestamp, data double",
    )
    out = {
        r.grid_ts: (r.value, r.is_observed)
        for r in resample_ffill(
            df, ["uid"], ts_col="date_time", value_col="data",
            step_seconds=60,
        ).collect()
    }
    assert len(out) == 3  # cells 0,60,120 — nothing from the NULL ts
    # first cell: its only observation's VALUE is NULL, so 99.0 must
    # NOT leak in and is_observed is False (oracle contract:
    # is_observed := winning value IS NOT NULL)
    assert out[t0] == (None, False)
    assert out[t0 + datetime.timedelta(seconds=60)] == (None, False)
    assert out[t0 + datetime.timedelta(seconds=120)] == (7.0, True)


def test_quantile_sketch_exact_when_partitions_fit(spark):
    """Partitions holding <= buffer_size values are kept raw, so the
    sketch's weighted CDF is the exact empirical CDF: every estimate
    must be an exact order statistic at the target rank."""
    from sensomics_data_pipeline_spark.operators.profile import (
        quantile_sketch,
    )

    vals = list(range(1, 1001))  # 1..1000
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    out = {
        r["q"]: r
        for r in quantile_sketch(df, "x", buffer_size=4096).collect()
    }
    assert len(out) == 7
    for q, r in out.items():
        # first value whose rank >= q*n on exact data
        import math

        want = vals[max(0, math.ceil(q * 1000) - 1)]
        assert r["est"] == float(want), (q, r["est"], want)
        assert r["n_total"] == 1000


def test_quantile_sketch_bound_holds_under_compression(spark):
    """Force compression (buffer_size << partition sizes) on a skewed
    distribution and verify the deterministic rank-error contract
    against exact numpy ranks."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators.profile import (
        quantile_sketch,
    )

    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [rng.lognormal(0, 2, 20000), np.full(5000, 3.25)]
    )
    df = spark.createDataFrame(
        [(float(v),) for v in vals], "x double"
    ).repartition(8)
    rows = quantile_sketch(df, "x", buffer_size=64).collect()
    n = vals.size
    s = np.sort(vals)
    for r in rows:
        lt = int(np.searchsorted(s, r["est"], side="left"))
        le = int(np.searchsorted(s, r["est"], side="right"))
        lo, hi = r["q"] * n - r["max_rank_err"], r["q"] * n + r["max_rank_err"]
        assert le >= lo and lt <= hi, (r, lt, le, lo, hi)
        assert r["n_total"] == n
        # the bound itself must be non-trivial: far below a full sort's
        # "anything goes" slack
        assert r["max_rank_err"] < n / 4


def test_quantile_sketch_nulls_and_empty(spark):
    from sensomics_data_pipeline_spark.operators.profile import (
        quantile_sketch,
    )

    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (3.0,)], "x double"
    )
    rows = quantile_sketch(df, "x").collect()
    assert all(r["n_total"] == 3 for r in rows)
    assert {r["est"] for r in rows} <= {1.0, 2.0, 3.0}
    empty = spark.createDataFrame([], "x double")
    assert quantile_sketch(empty, "x").count() == 0


def test_gram_bloom_no_false_negatives(spark):
    """Every gram inserted into the Bloom filter must pass its own
    probe (zero false negatives — the one-sided guarantee the
    bloom_decon_invariants oracle pins), and the per-doc Bloom overlap
    can never undercount the exact overlap."""
    from sensomics_data_pipeline_spark.operators.text import (
        bloom_contamination_probe,
        build_gram_bloom,
        contamination_probe,
        eval_gram_hashes,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank "
    rows = [
        (1, base * 3),
        (2, base + "totally different words in this document body here now"),
        (3, "unrelated text with no overlap at all whatsoever in any gram"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    eval_df = spark.createDataFrame([(99, base * 2)], "doc_id long, text string")
    grams = eval_gram_hashes(eval_df, n=4)
    assert grams
    bloom = build_gram_bloom(grams, bits_per_gram=16)
    flagged = {
        r["doc_id"]: r
        for r in bloom_contamination_probe(corpus, bloom, n=4).collect()
    }
    exact = {
        r["doc_id"]: r
        for r in contamination_probe(corpus, grams, n=4).collect()
    }
    for d in (1, 2, 3):
        assert flagged[d]["n_bloom_overlap"] >= exact[d]["n_overlap"]
        if exact[d]["contaminated"]:
            assert flagged[d]["bloom_contaminated"]
    assert exact[1]["contaminated"] and flagged[1]["bloom_contaminated"]
    assert exact[3]["n_overlap"] == 0


def test_gram_bloom_empty_eval_set(spark):
    from sensomics_data_pipeline_spark.operators.text import (
        bloom_contamination_probe,
        build_gram_bloom,
    )

    corpus = spark.createDataFrame(
        [(1, "some words that should never match anything")],
        "doc_id long, text string",
    )
    out = bloom_contamination_probe(
        corpus, build_gram_bloom([]), n=4
    ).collect()
    assert out[0]["n_bloom_overlap"] == 0
    assert not out[0]["bloom_contaminated"]


def test_bloom_probe_fused_exact_matches_contamination_probe(spark):
    """The fused exact columns (exact_gram_hashes=) must be
    value-identical to the standalone contamination_probe pass."""
    from sensomics_data_pipeline_spark.operators.text import (
        bloom_contamination_probe,
        build_gram_bloom,
        contamination_probe,
        eval_gram_hashes,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    corpus = spark.createDataFrame(
        [(1, base * 2), (2, "nothing shared here at all in any way"),
         (3, base + "tail words beyond the shared prefix region")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame([(9, base)], "doc_id long, text string")
    grams = eval_gram_hashes(eval_df, n=4)
    fused = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in bloom_contamination_probe(
            corpus, build_gram_bloom(grams), n=4, exact_gram_hashes=grams
        ).collect()
    }
    ref = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in contamination_probe(corpus, grams, n=4).collect()
    }
    assert fused == ref


def test_hll_registers_merge_and_estimate(spark):
    """Portable-HLL laws on synthetic data: the register table is
    bounded by 2^p rows per group, registers merge under per-bucket
    MAX exactly (arbitrary row split — duplicates hash identically so
    MAX absorbs them), the raw estimate lands within the sketch's
    ~3σ band (σ ≈ 1.04/√m) of the exact distinct count when zero
    registers are scarce, and duplicates do not move a single
    register (HLL state is a function of the distinct SET)."""
    from sensomics_data_pipeline_spark.operators.profile import (
        hll_estimate_from_registers,
        hll_register_table,
    )

    vals = [(f"g{ i % 2 }", f"v{i}") for i in range(4000)]
    df = spark.createDataFrame(vals, "g string, v string").repartition(8)
    regs = hll_register_table(df, ["g"], "v", p=8)
    rp = regs.toPandas()
    assert rp.groupby("g").size().max() <= 256
    assert rp["register"].min() >= 1 and rp["register"].max() <= 53

    # estimate within 3*1.04/sqrt(256) = ~19.5% of the true 2000
    est = hll_estimate_from_registers(regs, ["g"], p=8).toPandas()
    for _, row in est.iterrows():
        assert abs(row["hll_estimate"] / 2000.0 - 1.0) < 0.195, row

    # merge law: any split of the rows max-merges to the full build
    a = hll_register_table(df.filter(F.length("v") <= 3), ["g"], "v", p=8)
    b = hll_register_table(df.filter(F.length("v") > 3), ["g"], "v", p=8)
    merged = (
        a.unionByName(b)
        .groupBy("g", "bucket")
        .agg(F.max("register").alias("register"))
    )
    assert merged.exceptAll(regs).count() == 0
    assert regs.exceptAll(merged).count() == 0

    # duplicate invariance: tripling every row leaves the state fixed
    trip = df.unionByName(df).unionByName(df)
    regs3 = hll_register_table(trip, ["g"], "v", p=8)
    assert regs3.exceptAll(regs).count() == 0
    assert regs.exceptAll(regs3).count() == 0


def test_count_min_never_undercounts_and_conserves_mass(spark):
    """CMS deterministic guarantees on a skewed corpus with a table
    narrow enough (w=8) to force collisions: est >= true for every
    value, every matrix row sums to n_total, and estimates on a
    wide table (no collisions among 3 values) are exact."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators.profile import (
        count_min_build,
        count_min_estimate,
    )

    vals = ["a"] * 500 + ["b"] * 90 + [f"t{i}" for i in range(40)] + [None]
    df = spark.createDataFrame([(v,) for v in vals], "v string").repartition(6)
    mat, n = count_min_build(df, "v", width=8, depth=4)
    assert n == len(vals) - 1  # NULL dropped
    assert (mat.sum(axis=1) == n).all()  # mass conservation per row
    exact = {"a": 500, "b": 90, **{f"t{i}": 1 for i in range(40)}}
    qdf = spark.createDataFrame([(v,) for v in exact], "v string")
    est = {
        r["value"]: r["est"]
        for r in count_min_estimate(qdf, "v", mat).collect()
    }
    assert all(est[v] >= c for v, c in exact.items())  # never undercount
    assert any(est[v] > c for v, c in exact.items())  # collisions real at w=8
    # wide table: 3 distinct values cannot collide in expectation-free
    # terms only probabilistically — assert exactness for the heavy
    # hitter whose estimate a single collision would visibly inflate
    mat2, _ = count_min_build(df, "v", width=4096, depth=4)
    est2 = {
        r["value"]: r["est"]
        for r in count_min_estimate(qdf, "v", mat2).collect()
    }
    assert est2["a"] == 500 and est2["b"] == 90


def test_count_min_is_linear_under_repartitioning(spark):
    """The sketch is a linear transform of the multiset: rebuilding
    under any partitioning yields the bit-identical matrix."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators.profile import (
        count_min_build,
    )

    rows = [(f"v{i % 37}",) for i in range(400)]
    df = spark.createDataFrame(rows, "v string")
    m1, n1 = count_min_build(df.coalesce(1), "v", width=32, depth=3)
    m2, n2 = count_min_build(df.repartition(7), "v", width=32, depth=3)
    assert n1 == n2 == 400
    assert np.array_equal(m1, m2)


def test_kmeans_inertia_monotone_and_assignment_optimal(spark):
    """Lloyd's guarantee on three well-separated blobs: inertia never
    increases, every point lands with its blob, and kmeans_assign
    agrees with an exhaustive numpy argmin."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    rng = np.random.RandomState(7)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    blobs = np.stack([c + 0.1 * rng.randn(40, 4) for c in centers])
    # interleave blobs so the deterministic lowest-key seeding picks
    # one seed per blob (seeding quality is the caller's knob; the
    # operator's contract is the Lloyd guarantees, not global optima)
    pts = blobs.transpose(1, 0, 2).reshape(-1, 4)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(5)
    cent, hist = kmeans_fit(df, k=3, n_iter=10)
    assert all(b <= a + 1e-9 * max(a, 1.0) for a, b in zip(hist, hist[1:]))
    assigned = kmeans_assign(df, cent).toPandas().sort_values("vec_id")
    d2 = ((pts[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    expect = d2.argmin(axis=1)
    assert (assigned["cluster"].to_numpy() == expect).all()
    # blob purity: each blob maps to exactly one cluster (rows are
    # interleaved blob0,blob1,blob2,blob0,... so stride-3 slices
    # recover the blobs)
    labels = assigned["cluster"].to_numpy().reshape(40, 3).T
    assert all(len(set(row)) == 1 for row in labels)
    assert len({row[0] for row in labels}) == 3
    # persist=True is a pure execution hint: bit-identical fit, and
    # its OWN pin is released before returning (other suites sharing
    # this session may hold pins — compare against the baseline set,
    # not zero)
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    cent_p, hist_p = kmeans_fit(df, k=3, n_iter=10, persist=True)
    assert (cent_p == cent).all() and hist_p == hist
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before


def test_kmeans_empty_cluster_and_early_exit(spark):
    """An emptied cluster keeps its previous centroid (no NaNs), and
    identical consecutive inertias trigger the tol early exit."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators.similarity import (
        kmeans_fit,
    )

    # k=3 on 2 distinct points: one centroid must starve
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [9.0, 9.0]),
            (3, [9.0, 9.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent, hist = kmeans_fit(df, k=3, n_iter=8)
    assert np.isfinite(cent).all()
    assert len(hist) < 8  # converged (identical inertia) well before cap
    assert hist[-1] <= hist[0] + 1e-12


def test_scd2_history_runs_versions_and_nulls(spark):
    """Run-collapse semantics against a hand-built stream: NULL-safe
    attribute compares (NULL->NULL does not open a run, NULL->value
    does), effective_to chains to the next run's start, version
    counts runs from 1, and the tie-break column orders same-ts
    rows."""
    from sensomics_data_pipeline_spark.operators.diff import scd2_history

    rows = [
        # user 1: a, a, b, b, a  -> 3 runs
        (1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "b"),
        (1, 50, "a"),
        # user 2: NULL, NULL, x  -> 2 runs (first run all-NULL attr)
        (2, 10, None), (2, 20, None), (2, 30, "x"),
        # user 3: same-ts pair ordered by the tiebreak id: y then z
        (3, 10, "y"), (3, 10, "z"),
    ]
    df = spark.createDataFrame(
        [(u, float(t), i, a) for i, (u, t, a) in enumerate(rows)],
        "user_id long, ts double, event_id long, attr string",
    ).repartition(4)
    out = (
        scd2_history(
            df, ["user_id"], ["attr"], ts_col="ts",
            tiebreak_cols=["event_id"],
        )
        .toPandas()
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )
    import pandas as pd

    got = [
        (
            r.user_id,
            None if pd.isna(r.attr) else r.attr,
            r.effective_from,
            None if pd.isna(r.effective_to) else r.effective_to,
            r.version,
            r.is_current,
        )
        for r in out.itertuples()
    ]
    assert got == [
        (1, "a", 10.0, 30.0, 1, 0),
        (1, "b", 30.0, 50.0, 2, 0),
        (1, "a", 50.0, None, 3, 1),
        (2, None, 10.0, 30.0, 1, 0),
        (2, "x", 30.0, None, 2, 1),
        (3, "y", 10.0, 10.0, 1, 0),
        (3, "z", 10.0, None, 2, 1),
    ]


def test_scd2_history_single_exchange(spark):
    """Both window passes partition by the same keys, so the whole
    operator plans exactly ONE hash exchange (the run-start filter
    and the lead/version windows reuse the partitioning)."""
    from sensomics_data_pipeline_spark.operators.diff import scd2_history

    df = spark.createDataFrame(
        [(i % 5, float(i), i, "t") for i in range(100)],
        "user_id long, ts double, event_id long, attr string",
    )
    plan = (
        scd2_history(
            df, ["user_id"], ["attr"], ts_col="ts",
            tiebreak_cols=["event_id"],
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pagerank_matches_numpy_power_iteration(spark):
    """Distributed PageRank equals the dense numpy power iteration on
    a small undirected graph, mass stays 1 every iteration, and
    residuals contract by at least the damping factor."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(3)
    ranks, hist = pagerank(df, n_iter=12, damping=0.85)
    got = {r.node: r.rank for r in ranks.collect()}

    n, d = 5, 0.85
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1.0
    p = adj / adj.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        r = (1 - d) / n + d * (p.T @ r)
    assert all(abs(got[i] - r[i]) < 1e-9 for i in range(n))
    for mass, _res in hist:
        assert abs(mass - 1.0) < 1e-9
    for (_, r0), (_, r1) in zip(hist[1:], hist[2:]):
        assert r1 <= d * r0 + 1e-12
    # floor: every node keeps at least the teleport mass
    assert all(v >= (1 - d) / n - 1e-12 for v in got.values())


def test_pagerank_weighted_matches_numpy(spark):
    """``weight_col``: out-mass splits proportionally to edge weight.
    Equals the dense numpy power iteration with the weighted
    row-normalized transition matrix; mass and the teleport floor
    hold unchanged (the matrix stays column-stochastic)."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators.graph import pagerank

    edges = [(0, 1, 1.0), (1, 2, 3.0), (2, 0, 0.5), (2, 3, 2.0), (3, 4, 1.0)]
    df = spark.createDataFrame(
        edges, "src long, dst long, wt double"
    ).repartition(3)
    ranks, hist = pagerank(df, n_iter=10, damping=0.85, weight_col="wt")
    got = {r.node: r.rank for r in ranks.collect()}

    n, d = 5, 0.85
    adj = np.zeros((n, n))
    for a, b, w in edges:
        adj[a, b] += w
        adj[b, a] += w
    p = adj / adj.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        r = (1 - d) / n + d * (p.T @ r)
    assert all(abs(got[i] - r[i]) < 1e-9 for i in range(n))
    for mass, _res in hist:
        assert abs(mass - 1.0) < 1e-9
    assert all(v >= (1 - d) / n - 1e-12 for v in got.values())
    # weights matter: node 2 (fed by the weight-3 edge) outranks the
    # unweighted solution's symmetric counterpart
    ranks_u, _ = pagerank(
        df.select("src", "dst"), n_iter=10, damping=0.85
    )
    got_u = {r.node: r.rank for r in ranks_u.collect()}
    assert abs(got[2] - got_u[2]) > 1e-6


def test_pagerank_tol_early_exit(spark):
    """``tol`` turns n_iter into a cap: the loop stops at the FIRST
    residual ≤ tol, so history holds exactly one at-or-below-tol
    entry and it is the last; a huge tol stops after one iteration."""
    from sensomics_data_pipeline_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    _, full = pagerank(df, n_iter=8, damping=0.85)
    tol = 1.01 * full[3][1]
    _, hist = pagerank(df, n_iter=8, damping=0.85, tol=tol)
    assert len(hist) == 4
    assert hist[-1][1] <= tol
    assert all(res > tol for _, res in hist[:-1])
    _, one = pagerank(df, n_iter=8, damping=0.85, tol=10.0)
    assert len(one) == 1


def test_pagerank_directed_dangling_conserves_mass(spark):
    """Directed chain with a dangling sink: leaked mass re-enters via
    the teleport renormalization, so total mass stays exactly 1."""
    from sensomics_data_pipeline_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(0, 1), (1, 2)], "src long, dst long"
    )  # node 2 dangles
    ranks, hist = pagerank(df, n_iter=6, undirected=False)
    assert all(abs(mass - 1.0) < 1e-9 for mass, _ in hist)
    got = {r.node: r.rank for r in ranks.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[2] > got[1] > got[0]  # rank flows down the chain


def test_personalized_pagerank_matches_numpy(spark):
    """PPR equals the dense numpy iteration with the seed-teleport
    distribution; mass stays 1, seeds keep their (1-d)/|seeds| floor,
    and proximity ordering holds (nodes near the seed outrank far
    ones)."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]  # path graph
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    ranks, hist = personalized_pagerank(df, seeds, n_iter=15, damping=0.85)
    got = {r.node: r.rank for r in ranks.collect()}

    n, d = 5, 0.85
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1.0
    pmat = adj / adj.sum(axis=1, keepdims=True)
    pvec = np.zeros(n)
    pvec[0] = 1.0
    r = pvec.copy()
    for _ in range(15):
        r = (1 - d) * pvec + d * (pmat.T @ r)
    assert all(abs(got[i] - r[i]) < 1e-9 for i in range(n))
    for mass, _res in hist:
        assert abs(mass - 1.0) < 1e-9
    assert got[0] >= (1 - d) / 1 - 1e-12  # seed floor
    assert got[1] > got[3] > got[4]  # proximity to the seed decays


def test_label_propagation_cliques_and_laws(spark):
    """Disjoint cliques — including the size-2 edge case — converge to
    each clique's min id with the default self-vote (history ends at
    0 changes); labels always name a node of the same component; the
    pure-neighbor variant's documented 2-cycle is bounded by n_iter."""
    from sensomics_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    cl1 = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
    cl2 = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
    k2 = [(20, 21)]  # the bipartite case pure neighbor-voting 2-cycles on
    df = spark.createDataFrame(cl1 + cl2 + k2, "src long, dst long")
    labels, hist = label_propagation(df, n_iter=6)
    got = {r.node: r.label for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}
    assert hist[-1] == 0 and len(hist) <= 3  # converged, early exit
    # containment: a label never crosses a component boundary
    comp = lambda x: 0 if x < 10 else (1 if x < 20 else 2)
    assert all(comp(n) == comp(l) for n, l in got.items())
    # pure neighbor voting: capped on the 2-cycle, still contained
    path = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    lab2, hist2 = label_propagation(path, n_iter=4, include_self=False)
    assert len(hist2) == 4  # cap reached (2-cycle), not an error
    assert set(r.label for r in lab2.collect()) <= {0, 1, 2}
    # self-vote converges the same path
    lab3, hist3 = label_propagation(path, n_iter=6)
    assert hist3[-1] == 0
    assert {r.node: r.label for r in lab3.collect()} == {0: 0, 1: 0, 2: 0}


def test_bfs_distances_matches_reference(spark):
    """Multi-source BFS equals a deque reference on a mixed graph
    (chain + branch + disconnected component); unreachable nodes are
    absent; max_iter caps depth; seeds outside the node set are
    ignored."""
    from collections import deque

    from sensomics_data_pipeline_spark.operators.graph import bfs_distances

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (1, 5), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (99,)], "node long")  # 99 absent
    labels, hist = bfs_distances(df, seeds, max_iter=20)
    got = {r.node: r.dist for r in labels.collect()}

    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    ref = {0: 0}
    dq = deque([0])
    while dq:
        u = dq.popleft()
        for v in adj[u]:
            if v not in ref:
                ref[v] = ref[u] + 1
                dq.append(v)
    assert got == ref  # 10, 11 unreachable -> absent
    assert hist[-1] == 0  # converged, not capped
    # depth cap: max_iter=2 reaches only dist <= 2
    lab2, hist2 = bfs_distances(df, seeds, max_iter=2)
    got2 = {r.node: r.dist for r in lab2.collect()}
    assert got2 == {n: d for n, d in ref.items() if d <= 2}


def test_triangle_counts_matches_bruteforce(spark):
    """Degree-ordered triangle counting equals an itertools brute
    force on a mixed graph (K4 + pendant + triangle sharing a vertex
    + triangle-free path + duplicate/reversed edge noise); nodes in
    no triangle are absent; a seeded random graph pins the general
    case (every triangle counted once regardless of degree ties)."""
    import itertools
    import random

    from sensomics_data_pipeline_spark.operators.graph import (
        triangle_counts,
    )

    def brute(edge_list):
        es = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
        nodes = sorted({n for e in es for n in e})
        cnt: dict = {}
        for a, b, c in itertools.combinations(nodes, 3):
            if (
                (a, b) in es and (a, c) in es and (b, c) in es
            ):
                for n in (a, b, c):
                    cnt[n] = cnt.get(n, 0) + 1
        return cnt

    # K4 on 0-3, pendant 4, triangle (3,5,6) sharing vertex 3,
    # path 7-8-9, plus duplicate and reversed edges (must not
    # double-count)
    edges = (
        list(itertools.combinations(range(4), 2))
        + [(0, 4), (3, 5), (5, 6), (6, 3), (7, 8), (8, 9)]
        + [(1, 0), (2, 3), (2, 3)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == brute(edges)
    assert 4 not in got and 7 not in got  # triangle-free -> absent

    rng = random.Random(7)
    redges = [
        (rng.randrange(30), rng.randrange(30)) for _ in range(120)
    ]
    rdf = spark.createDataFrame(
        [e for e in redges if e[0] != e[1]], "src long, dst long"
    )
    got_r = {
        r.node: r.n_triangles for r in triangle_counts(rdf).collect()
    }
    assert got_r == brute(redges)


def test_k_core_matches_peeling_reference(spark):
    """k-core extraction equals a python peeling reference on a mixed
    graph where the peel CASCADES (removing one node drags another
    under k): K4 + a tail 4-5-6 hanging off it, plus a triangle and a
    pendant; k=2 and k=3 cores differ; empty core when k exceeds the
    max coreness; duplicate/reversed edges don't inflate degrees."""
    from sensomics_data_pipeline_spark.operators.graph import k_core

    def ref(edge_list, k):
        es = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
        adj: dict = {}
        for x, y in es:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        changed = True
        while changed:
            changed = False
            for n in list(adj):
                if len(adj[n]) < k:
                    for m in adj.pop(n):
                        adj[m].discard(n)
                    changed = True
        return {n: len(vs) for n, vs in adj.items()}

    import itertools

    edges = (
        list(itertools.combinations(range(4), 2))  # K4
        + [(3, 4), (4, 5), (5, 6)]  # cascading tail
        + [(7, 8), (8, 9), (9, 7)]  # triangle (2-core, not 3-core)
        + [(0, 10)]  # pendant
        + [(1, 0), (2, 3)]  # reversed/duplicate noise
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3, 5):
        got = {
            r.node: r.core_degree for r in k_core(df, k=k).collect()
        }
        assert got == ref(edges, k), k
    # k=3: the tail 4-5-6 and pendant cascade away, triangle dies,
    # K4 survives with degree 3 each
    assert {r.node for r in k_core(df, k=3).collect()} == {0, 1, 2, 3}


def test_sssp_distances_matches_dijkstra(spark):
    """Weighted multi-source shortest paths equal a heapq Dijkstra
    reference on a graph where the shortest route is NOT the fewest
    hops; unreachable nodes are absent; negative weights rejected."""
    import heapq

    import pytest as _pytest

    from sensomics_data_pipeline_spark.operators.graph import sssp_distances

    edges = [
        (0, 1, 10.0),  # direct but expensive
        (0, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0),  # 3 hops, cost 3
        (1, 4, 2.0),
        (7, 8, 1.0),  # disconnected
    ]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    seeds = spark.createDataFrame([(0,)], "node long")
    labels, hist = sssp_distances(df, seeds, max_iter=10)
    got = {r.node: r.dist for r in labels.collect()}

    adj: dict = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    ref = {0: 0.0}
    pq = [(0.0, 0)]
    while pq:
        dd, u = heapq.heappop(pq)
        if dd > ref.get(u, float("inf")):
            continue
        for v, w in adj[u]:
            nd = dd + w
            if nd < ref.get(v, float("inf")):
                ref[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == ref  # 1 reached at cost 3, not 10; 7/8 absent
    assert hist[-1] == 0
    with _pytest.raises(ValueError, match="non-negative"):
        sssp_distances(
            spark.createDataFrame(
                [(0, 1, -1.0)], "src long, dst long, weight double"
            ),
            seeds,
        )


def test_top_ranked_per_group_picks_canonical(spark):
    """Representative selection: each cluster keeps its top-ranked
    member, ties break on the smaller node id."""
    from sensomics_data_pipeline_spark.operators.graph import (
        top_ranked_per_group,
    )

    ranks = spark.createDataFrame(
        [(1, 0.4), (2, 0.1), (3, 0.25), (4, 0.25)], "node long, rank double"
    )
    members = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20)], "node long, cluster long"
    )
    got = {
        r.cluster: r.node
        for r in top_ranked_per_group(ranks, members).collect()
    }
    assert got == {10: 1, 20: 3}  # cluster 20 ties 0.25/0.25 -> node 3


def test_auto_rerank_edges_and_sizing(spark):
    """auto_rerank edge cases: empty / single-vector tables fall back
    to the 4k floor; a duplicate-free corpus stays at the floor; a
    corpus of near-identical siblings sizes R to cover the sibling
    multiplicity; explicit garbage strings raise."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(11)
    base = rng.normal(0, 1, (40, 16))
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    assert sim_ops.auto_rerank(empty, k=5) == 20
    one = spark.createDataFrame(
        [(0, [float(x) for x in base[0]])],
        "vec_id long, embedding array<float>",
    )
    assert sim_ops.auto_rerank(one, k=5) == 20

    # duplicate-free random vectors: near-tie estimate ~1 -> floor
    free = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    assert sim_ops.auto_rerank(free, k=5) == 20

    # 20 siblings per base vector (tiny noise): R must cover them
    sib = np.concatenate(
        [base + rng.normal(0, 0.01, base.shape) for _ in range(20)]
    )
    sdf = spark.createDataFrame(
        [(i, [float(x) for x in sib[i]]) for i in range(len(sib))],
        "vec_id long, embedding array<float>",
    )
    r = sim_ops.auto_rerank(sdf, k=5)
    assert r >= 20, r

    with _pytest.raises(ValueError, match="rerank"):
        sim_ops.pq_topk(free, k=2, m=8, n_codes=4, rerank="bogus")


def test_pagerank_n_iter_zero_batched_path(spark):
    """r9-ADVICE regression: the batched-stats path (tol=None,
    undirected=True — the default) must handle n_iter=0 without
    reduce()-ing an empty iterable; both pagerank and
    personalized_pagerank return (uniform/seed ranks, []) cleanly."""
    from sensomics_data_pipeline_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    ranks, hist = pagerank(df, n_iter=0)
    assert hist == []
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    assert len(got) == 3
    assert abs(sum(got.values()) - 1.0) < 1e-9

    seeds = spark.createDataFrame([(1,)], "node long")
    ranks_p, hist_p = personalized_pagerank(df, seeds, n_iter=0)
    assert hist_p == []
    assert ranks_p.count() == 3


def test_pagerank_rejects_nan_weights(spark):
    """r9-ADVICE regression: Spark's min() sorts NaN above every
    number, so NaN weights used to sail past the positivity guard and
    silently produce NaN ranks — they must raise loudly instead."""
    import pytest as _pytest

    from sensomics_data_pipeline_spark.operators.graph import pagerank

    all_nan = spark.createDataFrame(
        [(1, 2, float("nan")), (2, 3, float("nan"))],
        "src long, dst long, wt double",
    )
    # undirected default doubles each edge, so 2 NaN edges -> 4
    with _pytest.raises(ValueError, match="nans=4"):
        pagerank(all_nan, n_iter=2, weight_col="wt")

    mixed = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, float("nan"))],
        "src long, dst long, wt double",
    )
    with _pytest.raises(ValueError, match="nans=2"):
        pagerank(mixed, n_iter=2, weight_col="wt")

    # sanity: valid weights still pass the tightened guard
    ok = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0)], "src long, dst long, wt double"
    )
    ranks, _ = pagerank(ok, n_iter=2, weight_col="wt")
    assert ranks.count() == 3


def test_ima_adpcm_short_trailing_block_and_fact_truncation(spark):
    """r9-ADVICE regression: real-world IMA WAVs may carry a short
    trailing block (data not a multiple of block_align) and declare
    their true frame count via the fact chunk / wSamplesPerBlock —
    the decoder must decode the nibbles that fit and truncate padded
    final blocks to the declared count instead of raising."""
    import struct

    import numpy as np

    from adpcm_fixture import encode_ima_adpcm_wav
    from sensomics_data_pipeline_spark.operators import multimodal as mm_ops

    t = np.arange(130)
    mono = (3000 * np.sin(t / 5.0) + 40 * t).astype(np.int16)
    payload, recon = encode_ima_adpcm_wav(
        mono, sample_rate=8000, block_align=36
    )

    # 1. truncate the data chunk mid-block: decode what fits, no raise
    data_pos = payload.rindex(b"data")
    data_size = struct.unpack_from("<I", payload, data_pos + 4)[0]
    cut = 12  # drop 12 bytes -> short trailing block (3 words fewer)
    short = bytearray(payload[: len(payload) - cut])
    struct.pack_into("<I", short, data_pos + 4, data_size - cut)
    struct.pack_into("<I", short, 4, len(short) - 8)
    rate, nch, x = mm_ops.decode_wav(bytes(short))
    # full first block (65 frames) + partial second: 1 header frame +
    # (5 remaining words x 8 nibbles) = 106 total
    assert x.shape == (106, 1)
    assert np.array_equal(
        np.round(x * 32768.0).astype(np.int64).ravel(),
        recon[:106].astype(np.int64).ravel(),
    )

    # 2. fact chunk: declared frame count truncates padded output
    fact = b"fact" + struct.pack("<I", 4) + struct.pack("<I", 100)
    with_fact = bytearray(payload[:12] + fact + payload[12:])
    struct.pack_into("<I", with_fact, 4, len(with_fact) - 8)
    _, _, xf = mm_ops.decode_wav(bytes(with_fact))
    assert xf.shape == (100, 1)
    assert np.array_equal(
        np.round(xf * 32768.0).astype(np.int64).ravel(),
        recon[:100].astype(np.int64).ravel(),
    )


def test_auto_rerank_memoizes_per_dataset(spark):
    """r9-verdict item: rerank='auto' must pay the count + sample jobs
    once per (application, dataset plan) — the second call on a
    semantically identical DataFrame is a pure memo hit."""
    import numpy as np

    from sensomics_data_pipeline_spark.operators import (
        similarity as sim_mod,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, (30, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    schema = "vec_id long, embedding array<float>"
    memo = sim_mod._AUTO_RERANK_MEMO
    memo.clear()
    try:
        df1 = spark.createDataFrame(rows, schema)
        r1 = sim_mod.auto_rerank(df1, k=5)
        assert len(memo) == 1
        (n_memo, _mult) = memo.values()[0]
        assert n_memo == 30
        # same plan -> same semanticHash -> memo hit, no new entry, same R
        r2 = sim_mod.auto_rerank(df1, k=5)
        assert r2 == r1 and len(memo) == 1
        # different k reuses the SAME estimate (k only moves the floor)
        r3 = sim_mod.auto_rerank(df1, k=7)
        assert r3 >= 28 and len(memo) == 1
        # a different dataset definition gets its own entry
        df2 = spark.createDataFrame(rows[:20], schema)
        sim_mod.auto_rerank(df2, k=5)
        assert len(memo) == 2
        # bounded: eviction keeps the memo at its cap
        for j in range(memo.max_entries + 2):
            sim_mod.auto_rerank(
                spark.createDataFrame(rows[: 5 + j], schema), k=5
            )
        assert len(memo) <= memo.max_entries
    finally:
        memo.clear()


def test_ivf_assign_matches_numpy_argmax(spark):
    """ivf_assign (the index-building half of ivf_topk, public since
    r10 for the ivf_invariants law) reproduces a direct numpy argmax
    of normalized-vector x centroid cosine, keeps one row per valid
    vector, and drops NULL/empty vectors."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.normal(0, 1, (40, 8))
    cent = rng.normal(0, 1, (6, 8))
    cent = cent / np.linalg.norm(cent, axis=1)[:, None]
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows += [(100, None), (101, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim_ops.ivf_assign(df, cent)
    got = {r["nid"]: r["list_id"] for r in out.collect()}
    assert len(got) == 40 and 100 not in got and 101 not in got
    # float32 storage: recompute expectation from the float32 rounding
    v32 = vecs.astype(np.float32).astype(np.float64)
    vn = v32 / np.maximum(np.linalg.norm(v32, axis=1), 1e-30)[:, None]
    expect = np.argmax(vn @ cent.T, axis=1)
    assert got == {i: int(expect[i]) for i in range(40)}


def test_bm25_scores_matches_reference_formula(spark):
    """bm25_scores reproduces a hand-computed Okapi BM25 (Lucene
    non-negative idf) on a tiny corpus, only emits docs hitting >= 1
    query term, and respects the rounding knob."""
    import math

    from sensomics_data_pipeline_spark.operators.text import bm25_scores

    texts = {
        1: "a b a c",
        2: "b b d",
        3: "a",
        4: "x y z",   # no query term: absent from output
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = bm25_scores(df, ["a", "b"], round_decimals=6)
    got = {r["doc_id"]: (r["bm25"], r["n_terms_hit"]) for r in out.collect()}
    assert set(got) == {1, 2, 3}

    n, k1, b = 4, 1.2, 0.75
    dls = {k: len(v.split()) for k, v in texts.items()}
    avgdl = sum(dls.values()) / n
    dfreq = {"a": 2, "b": 2}
    tfs = {1: {"a": 2, "b": 1}, 2: {"b": 2}, 3: {"a": 1}}

    def score(doc):
        s = 0.0
        for t, tf in tfs[doc].items():
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * dls[doc] / avgdl)
            )
        return round(s, 6)

    for doc in (1, 2, 3):
        assert abs(got[doc][0] - score(doc)) < 1e-9, (doc, got[doc])
        assert got[doc][1] == len(tfs[doc])


def test_ewma_smooth_hand_computed(spark):
    from sensomics_data_pipeline_spark.operators.analytics import ewma_smooth

    df = spark.createDataFrame(
        [(1, 1, 10, 10.0), (1, 2, 20, 20.0), (1, 3, 30, 30.0),
         (2, 1, 40, 5.0), (1, 4, 35, None)],
        "u int, t int, eid int, v double",
    )
    got = {
        (r["u"], r["t"]): r["ewma"]
        for r in ewma_smooth(
            df, ["u"], ts_col="t", value_col="v",
            alpha=0.25, tiebreak_cols=["eid"],
        ).collect()
    }
    # y1=x1; y2=.25*20+.75*10=12.5; y3=.25*30+.75*12.5=16.875;
    # NULL value rows are excluded entirely
    assert got == {(1, 1): 10.0, (1, 2): 12.5, (1, 3): 16.875, (2, 1): 5.0}


def test_ewma_smooth_tiebreak_deterministic(spark):
    from sensomics_data_pipeline_spark.operators.analytics import ewma_smooth

    # two rows share (u, t): the eid tiebreak pins the fold order
    df = spark.createDataFrame(
        [(1, 1, 2, 100.0), (1, 1, 1, 0.0)], "u int, t int, eid int, v double"
    )
    rows = sorted(
        (r["x"], r["ewma"])
        for r in ewma_smooth(
            df, ["u"], ts_col="t", value_col="v",
            alpha=0.25, tiebreak_cols=["eid"],
        ).collect()
    )
    # eid=1 (x=0) folds first: y = [0, .25*100 + .75*0] = [0, 25]
    assert rows == [(0.0, 0.0), (100.0, 25.0)]


def test_ewma_blocked_matches_exact_within_ulp(spark):
    """The O(n) blocked plan must agree with the exact fold to ~ulp at
    every block size, and be BIT-identical when a series fits one
    block (block 0 folds the true recurrence) or when B=1 (the carry
    chain IS the recurrence)."""
    import random

    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma_smooth,
        ewma_smooth_blocked,
    )

    random.seed(11)
    rows = [
        (f"u{i % 4}", i, i, random.uniform(-100, 100)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "u string, t int, eid int, v double")
    kw = dict(ts_col="t", value_col="v", alpha=0.25,
              tiebreak_cols=["eid"], round_decimals=None)
    exact = {
        (r["u"], r["t"]): r["ewma"]
        for r in ewma_smooth(df, ["u"], **kw).collect()
    }
    for B, must_be_identical in ((1, True), (7, False), (16, False),
                                 (1000, True)):
        got = {
            (r["u"], r["t"]): r["ewma"]
            for r in ewma_smooth_blocked(
                df, ["u"], block_size=B, **kw
            ).collect()
        }
        assert set(got) == set(exact)
        if must_be_identical:
            assert got == exact, f"B={B} must be bit-identical"
        else:
            worst = max(
                abs(got[k] - exact[k]) / max(1e-30, abs(exact[k]))
                for k in exact
            )
            assert worst < 1e-12, f"B={B} rel diff {worst}"


def test_ewma_blocked_hand_computed_and_null_policy(spark):
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma_smooth_blocked,
    )

    df = spark.createDataFrame(
        [(1, 1, 10, 10.0), (1, 2, 20, 20.0), (1, 3, 30, 30.0),
         (2, 1, 40, 5.0), (1, 4, 35, None)],
        "u int, t int, eid int, v double",
    )
    got = {
        (r["u"], r["t"]): r["ewma"]
        for r in ewma_smooth_blocked(
            df, ["u"], ts_col="t", value_col="v",
            alpha=0.25, tiebreak_cols=["eid"], block_size=2,
        ).collect()
    }
    assert got == {(1, 1): 10.0, (1, 2): 12.5, (1, 3): 16.875, (2, 1): 5.0}


def test_ewma_blocked_rejects_bad_block_size(spark):
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma_smooth_blocked,
    )

    df = spark.createDataFrame([(1, 1, 1.0)], "u int, t int, v double")
    with pytest.raises(ValueError, match="block_size"):
        ewma_smooth_blocked(df, ["u"], ts_col="t", value_col="v",
                            block_size=0)


def test_ewma_distributed_bit_identical_to_blocked(spark):
    """The segment-partitioned plan (no whole-series collect anywhere)
    must be BIT-identical to the blocked array plan at every block
    size — same per-segment fold, same carry chain, same
    reconstruction, element for element."""
    import random

    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma_smooth_blocked,
        ewma_smooth_distributed,
    )

    random.seed(5)
    rows = [
        (f"u{i % 3}", i, i, random.uniform(-50, 50)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "u string, t int, eid int, v double")
    kw = dict(ts_col="t", value_col="v", alpha=0.25,
              tiebreak_cols=["eid"], round_decimals=None)
    for B in (1, 16, 64, 1000):
        blk = {
            (r["u"], r["t"]): r["ewma"]
            for r in ewma_smooth_blocked(df, ["u"], block_size=B, **kw)
            .collect()
        }
        dst = {
            (r["u"], r["t"]): r["ewma"]
            for r in ewma_smooth_distributed(
                df, ["u"], block_size=B, **kw
            ).collect()
        }
        assert dst == blk, f"B={B} diverged"


def test_ewma_distributed_no_whole_series_collect(spark):
    """The distributed plan's collect_lists are per-SEGMENT (bounded B)
    and per-entity segment SUMMARIES (n/B) — never the whole series.
    Structural check: with B=4 and a 40-point entity, the widest array
    any aggregate builds is max(B, n/B) = 10 < n."""
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma_smooth_distributed,
    )

    rows = [("u", i, i, float(i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "u string, t int, eid int, v double")
    out = ewma_smooth_distributed(
        df, ["u"], ts_col="t", value_col="v", tiebreak_cols=["eid"],
        block_size=4, round_decimals=None,
    )
    assert out.count() == 40
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # two generators? no — one posexplode; the structural invariant we
    # can assert cheaply: the plan groups by (u, _seg), not only u, for
    # the element-bearing aggregate
    assert "_seg" in plan


def test_ewma_distributed_tied_rows_match_blocked(spark):
    """Full ties on (ts, tiebreak): segment assignment orders by value
    as the final key, matching the struct sort the array plans use, so
    the two plans agree even when ties straddle a segment boundary."""
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma_smooth_blocked,
        ewma_smooth_distributed,
    )

    rows = [("u", 1, 1, float(v)) for v in (5, 3, 9, 1, 7, 2, 8, 4)]
    df = spark.createDataFrame(rows, "u string, t int, eid int, v double")
    kw = dict(ts_col="t", value_col="v", tiebreak_cols=["eid"],
              block_size=3, round_decimals=None)
    blk = sorted(
        (r["x"], r["ewma"])
        for r in ewma_smooth_blocked(df, ["u"], **kw).collect()
    )
    dst = sorted(
        (r["x"], r["ewma"])
        for r in ewma_smooth_distributed(df, ["u"], **kw).collect()
    )
    assert dst == blk




def test_pmi_collocations_hand_computed(spark):
    import math

    from sensomics_data_pipeline_spark.operators.text import pmi_collocations

    df = spark.createDataFrame(
        [("new york is big",), ("new york new york",), ("big is big",)],
        "text string",
    )
    got = {
        (r["a"], r["b"]): (r["n_ab"], r["pmi"])
        for r in pmi_collocations(df, min_count=2).collect()
    }
    # unigrams: new=3 york=3 is=2 big=3, N_uni=11; bigrams N_bi=8,
    # (new,york)=3, (is,big)=2
    want_ny = round(math.log(3 * 121 / (8 * 3 * 3)), 6)
    want_ib = round(math.log(2 * 121 / (8 * 2 * 3)), 6)
    assert got == {("new", "york"): (3, want_ny), ("is", "big"): (2, want_ib)}


def test_pmi_collocations_single_token_docs_safe(spark):
    from sensomics_data_pipeline_spark.operators.text import pmi_collocations

    df = spark.createDataFrame([("one",), ("",), ("  ",)], "text string")
    assert pmi_collocations(df, min_count=1).count() == 0


def test_theta_sketch_exact_mode_below_capacity(spark):
    from sensomics_data_pipeline_spark.operators import profile as prof_ops

    df = spark.createDataFrame(
        [("a", v) for v in range(10)] + [("a", 3), ("a", 7)],
        "g string, v int",
    )
    sk = prof_ops.theta_sketch_table(df, ["g"], "v", k=64)
    row = prof_ops.theta_estimate(sk, k=64).first()
    # 10 distinct, duplicates absorbed; below capacity -> exact
    assert row["n_kept"] == 10
    assert row["estimate"] == 10.0
    assert row["theta"] == 1 << 60
    assert list(row["hashes"]) == sorted(row["hashes"])


def test_theta_union_and_intersect_exact_small_sets(spark):
    from sensomics_data_pipeline_spark.operators import profile as prof_ops

    df = spark.createDataFrame(
        [("a", v) for v in range(20)] + [("b", v) for v in range(10, 25)],
        "g string, v int",
    )
    sk = prof_ops.theta_sketch_table(df, ["g"], "v", k=64)
    ska = sk.filter("g='a'").drop("g").withColumn("_k", F.lit(0))
    skb = sk.filter("g='b'").drop("g").withColumn("_k", F.lit(0))
    u = prof_ops.theta_estimate(
        prof_ops.theta_union(ska, skb, ["_k"], k=64), k=64
    ).first()
    assert u["estimate"] == 25.0  # |0..19 u 10..24| exactly
    i = prof_ops.theta_intersect_estimate(ska, skb, ["_k"], k=64).first()
    assert i["n_sample"] == 10 and i["estimate"] == 10.0  # |10..19|


def test_theta_estimator_accuracy_above_capacity(spark):
    from sensomics_data_pipeline_spark.operators import profile as prof_ops

    df = spark.createDataFrame(
        [("a", v) for v in range(2000)], "g string, v int"
    )
    sk = prof_ops.theta_sketch_table(df, ["g"], "v", k=256)
    row = prof_ops.theta_estimate(sk, k=256).first()
    assert row["n_kept"] == 256
    # KMV relative error ~ 1/sqrt(k-1) ~ 6%; allow 4 sigma
    assert abs(row["estimate"] - 2000) / 2000 < 0.25


def test_theta_union_associative_with_trim(spark):
    from sensomics_data_pipeline_spark.operators import profile as prof_ops

    # (a u b) u c == a u (b u c) at sketch-state level even when trim
    # engages (k smaller than the union cardinality)
    df = spark.createDataFrame(
        [("a", v) for v in range(60)]
        + [("b", v) for v in range(40, 100)]
        + [("c", v) for v in range(80, 140)],
        "g string, v int",
    )
    k = 32
    sk = prof_ops.theta_sketch_table(df, ["g"], "v", k=k)
    one = {
        g: sk.filter(F.col("g") == g).drop("g").withColumn("_k", F.lit(0))
        for g in ("a", "b", "c")
    }
    left = prof_ops.theta_union(
        prof_ops.theta_union(one["a"], one["b"], ["_k"], k=k),
        one["c"], ["_k"], k=k,
    ).first()
    right = prof_ops.theta_union(
        one["a"],
        prof_ops.theta_union(one["b"], one["c"], ["_k"], k=k),
        ["_k"], k=k,
    ).first()
    assert list(left["hashes"]) == list(right["hashes"])
    assert left["theta"] == right["theta"]


# ---------------------------------------------------------------------------
# ewma(plan="auto") unified dispatcher
# ---------------------------------------------------------------------------

def test_ewma_choose_regime_boundaries():
    """The pure plan rule: exact up to and including exact_point_limit,
    blocked up to and including blocked_point_limit, distributed past."""
    from sensomics_data_pipeline_spark.operators.analytics import _ewma_choose

    assert _ewma_choose(0, 100, 1000) == "exact"
    assert _ewma_choose(100, 100, 1000) == "exact"
    assert _ewma_choose(101, 100, 1000) == "blocked"
    assert _ewma_choose(1000, 100, 1000) == "blocked"
    assert _ewma_choose(1001, 100, 1000) == "distributed"


def test_ewma_auto_small_entity_picks_exact_plan(spark):
    """Auto on a small-entity table dispatches the exact fold: the
    executed plan has NO join (blocked has none either, but exact also
    has no _seg regroup) and values equal ewma_smooth bit-for-bit."""
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma,
        ewma_smooth,
    )

    rows = [("u", i, float(i % 5)) for i in range(30)]
    df = spark.createDataFrame(rows, "u string, t int, v double")
    kw = dict(ts_col="t", value_col="v", round_decimals=None)
    out = ewma(df, ["u"], plan="auto", **kw)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "_seg" not in plan
    want = {(r["u"], r["t"]): r["ewma"]
            for r in ewma_smooth(df, ["u"], **kw).collect()}
    got = {(r["u"], r["t"]): r["ewma"] for r in out.collect()}
    assert got == want


def test_ewma_auto_mid_entity_picks_blocked_plan(spark):
    """Forcing the exact limit below the entity size dispatches the
    blocked plan (no join, but per-block structure), bit-equal to
    ewma_smooth_blocked at the same block size."""
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma,
        ewma_smooth_blocked,
    )

    rows = [("u", i, float(i % 5)) for i in range(30)]
    df = spark.createDataFrame(rows, "u string, t int, v double")
    kw = dict(ts_col="t", value_col="v", round_decimals=None)
    out = ewma(df, ["u"], plan="auto", exact_point_limit=10,
               block_size=8, **kw)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    want = {(r["u"], r["t"]): r["ewma"]
            for r in ewma_smooth_blocked(df, ["u"], block_size=8,
                                         **kw).collect()}
    got = {(r["u"], r["t"]): r["ewma"] for r in out.collect()}
    assert got == want


def test_ewma_auto_huge_entity_picks_distributed_plan(spark):
    """Forcing both limits below the entity size dispatches the
    distributed plan — the only one with a carry JOIN and a _seg
    regroup — bit-equal to ewma_smooth_distributed."""
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma,
        ewma_smooth_distributed,
    )

    rows = [("u", i, float(i % 5)) for i in range(30)]
    df = spark.createDataFrame(rows, "u string, t int, v double")
    kw = dict(ts_col="t", value_col="v", round_decimals=None)
    out = ewma(df, ["u"], plan="auto", exact_point_limit=4,
               blocked_point_limit=8, block_size=8, **kw)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_seg" in plan
    want = {(r["u"], r["t"]): r["ewma"]
            for r in ewma_smooth_distributed(df, ["u"], block_size=8,
                                             **kw).collect()}
    got = {(r["u"], r["t"]): r["ewma"] for r in out.collect()}
    assert got == want


def test_ewma_explicit_plans_and_rejects_unknown(spark):
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma,
        ewma_smooth,
        ewma_smooth_blocked,
        ewma_smooth_distributed,
    )
    import pytest as _pytest

    rows = [("u", i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "u string, t int, v double")
    kw = dict(ts_col="t", value_col="v", round_decimals=None)

    def vals(frame):
        return {(r["u"], r["t"]): r["ewma"] for r in frame.collect()}

    assert vals(ewma(df, ["u"], plan="exact", **kw)) == vals(
        ewma_smooth(df, ["u"], **kw))
    assert vals(ewma(df, ["u"], plan="blocked", **kw)) == vals(
        ewma_smooth_blocked(df, ["u"], **kw))
    assert vals(ewma(df, ["u"], plan="distributed", **kw)) == vals(
        ewma_smooth_distributed(df, ["u"], **kw))
    with _pytest.raises(ValueError, match="unknown ewma plan"):
        ewma(df, ["u"], plan="nope", **kw)


def test_ewma_auto_null_values_not_counted_in_stats(spark):
    """The stats job filters NULL values first — an entity with many
    NULL readings and few real points must still land in the exact
    regime (NULLs never reach the fold)."""
    from sensomics_data_pipeline_spark.operators import intervals as iv_ops
    from sensomics_data_pipeline_spark.operators.analytics import ewma

    iv_ops._INTERVAL_STATS_MEMO.clear()
    try:
        rows = [("u", i, float(i) if i < 5 else None) for i in range(50)]
        df = spark.createDataFrame(rows, "u string, t int, v double")
        out = ewma(df, ["u"], ts_col="t", value_col="v", plan="auto",
                   exact_point_limit=10, round_decimals=None)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "_seg" not in plan
        assert out.count() == 5
    finally:
        iv_ops._INTERVAL_STATS_MEMO.clear()


def test_ewma_dist_block_size_rule():
    """B* = cbrt(2n) clamped to [256, 4096]: the copy-count minimizer
    of n·B (segment folds) + (n/B)² (carry chain)."""
    from sensomics_data_pipeline_spark.operators.analytics import (
        _ewma_dist_block_size,
    )

    assert _ewma_dist_block_size(0) == 256
    assert _ewma_dist_block_size(2_000_001) == 256   # cbrt(4M) ≈ 159
    assert _ewma_dist_block_size(100_000_000) == 585
    assert _ewma_dist_block_size(10**9) == 1260
    assert _ewma_dist_block_size(10**12) == 4096     # clamped high


def test_ewma_distributed_carry_join_carries_scalars(spark):
    """The carry join must be an (entity, seg) equi-join carrying one
    SCALAR per segment row — never the whole per-entity carry array
    (O((n/B)²) bytes through the exchange, CATALYST_NOTES Note 14).
    Structural pin: the optimized plan joins on _seg and projects the
    exploded carry value _cv; no element_at over the carry array _c
    survives below the join."""
    from sensomics_data_pipeline_spark.operators.analytics import (
        ewma_smooth_distributed,
    )

    rows = [("u", i, float(i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "u string, t int, v double")
    out = ewma_smooth_distributed(
        df, ["u"], ts_col="t", value_col="v", block_size=4,
        round_decimals=None,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_cv" in plan
    assert "element_at(_c" not in plan
    # join condition includes the segment key, not just the entity
    assert plan.count("_seg") >= 2
