"""Similarity search over embedding columns (north-star ops):
distributed brute-force cosine top-k as the exact baseline,
random-hyperplane LSH bucketing and IVF as the approximate scale paths.

Scale design (none of these collect the full table on the driver):

- ``brute_force_topk`` / ``cosine_near_dup_pairs(method="exact")`` use
  the *chunked block* shape for exact all-pairs scoring: the index side
  is hash-partitioned into ``n_chunks`` blocks, each query row is
  replicated once per block (``explode`` of a literal array — no join),
  and a cogrouped ``applyInPandas`` scores each (query-block ×
  index-block) cell with one float64 BLAS matmul. Per-chunk top-k then a
  window gives the exact global top-k. Shuffle volume is
  ``n_chunks × queries + index`` — the inherent cost of exact O(n·m)
  scoring, spread over the cluster; ``n_chunks`` bounds per-task memory,
  so the same plan runs at any scale by raising ``n_chunks``.
- ``lsh_topk`` buckets both sides by hyperplane sign pattern and only
  scores within (multi-probed) buckets — an equi-join, no cross product;
  candidate volume is ~n²·(n_planes+1)/2^n_planes.
- ``cosine_near_dup_pairs(method="lsh")`` is banded OR-amplified LSH
  (``n_tables`` independent plane sets): pairs colliding in ANY table
  are candidates, then exact-cosine rescored. Recall for pairs at
  cosine c is 1-(1-p^b)^L with p = 1-acos(c)/π — high for true
  near-dups (c ≥ 0.9), intentionally partial for weakly-similar pairs.
- ``ivf_topk`` trains its k-means coarse quantizer on a BOUNDED
  driver-side sample (``orderBy(key).limit(train_sample)`` — a
  distributed TakeOrdered, deterministic); assignment and probing are
  distributed (closure-shipped 16×64 centroid matrix, list-id
  equi-join, cogrouped BLAS scoring).
- Hyperplane weights are ±1 derived from the portable md5 hash, so an
  independent engine (the DuckDB oracle) reproduces the buckets exactly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sensomics_data_pipeline_spark.util import SessionMemo, plan_fingerprint


def _norms_guarded(mat):
    """Row L2 norms clamped away from zero (1e-30): a zero vector then
    scores cosine exactly 0.0 against everything instead of NaN. NaN
    would be engine-DISAGREED — numpy's lexsort ranks NaN sims last
    while a SQL window's DESC ranks NaN first — so the pin is part of
    the oracle contract (mirrored as a CASE in every cosine oracle)."""
    import numpy as np

    return np.maximum(np.linalg.norm(mat, axis=1), 1e-30)


def _block_topk(qids, ids, sims, k: int):
    """Exact per-query top-k over a scored block, fully vectorized.

    Replaces the per-query ``np.lexsort`` Python loop every scoring
    cell used to run (the loop was the measured hot spot at 10× data:
    ~100 µs of interpreter overhead per query × n_queries × n_chunks
    dominated the BLAS matmul itself). Ordering is EXACTLY the loop's
    ``(sim desc, id asc)``: sims are pre-rounded to 6 decimals, so
    ``rint(sim·1e6)`` is integer-exact and the composite int64 key
    ``rint(sim·1e6)·2^36 − id`` sorts identically — and since ids are
    unique within a block, every key in a row is distinct, making
    ``argpartition`` deterministic. Self-pairs are pushed to int64 min
    and filtered. Falls back to the loop if ids are negative or ≥ 2^36,
    or |sim| ≥ 100 would overflow the packing (never at cosine/ADC
    magnitudes) — a negative id flips the ``− id`` term's direction and
    could cross into the adjacent sim bucket.

    Returns ``(query_ids, neighbor_ids, sims)`` flat arrays.
    """
    import numpy as np

    nq, n = sims.shape
    empty = (
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.float64),
    )
    if nq == 0 or n == 0:
        return empty
    # process query rows in slabs: the int64 key and self-pair mask
    # temporaries are (rows × n) — unslabbed, a 50k×6k scoring cell
    # would allocate multi-GB intermediates (measured SLOWER than the
    # old per-row loop from allocation bandwidth alone); ~8M-element
    # slabs keep them cache-friendly at ~64 MB
    slab = max(1, 8_000_000 // n)
    if nq > slab:
        parts = [
            _block_topk(qids[i : i + slab], ids, sims[i : i + slab], k)
            for i in range(0, nq, slab)
        ]
        return tuple(np.concatenate(x) for x in zip(*parts))
    if (
        ids.min(initial=0) < 0
        or ids.max(initial=0) >= (1 << 36)
        or not np.all(np.abs(sims) < 100.0)
    ):
        rq, ri, rs = [], [], []
        for row_i, qid in enumerate(qids):
            mask = ids != qid
            cand_ids = ids[mask]
            cand_s = sims[row_i][mask]
            for j in np.lexsort((cand_ids, -cand_s))[:k]:
                rq.append(qid)
                ri.append(cand_ids[j])
                rs.append(cand_s[j])
        return (
            np.asarray(rq, np.int64),
            np.asarray(ri, np.int64),
            np.asarray(rs, np.float64),
        )
    # min+1, not min: the sort/partition below negates keys and
    # -int64.min overflows back to itself (the sentinel would then
    # rank FIRST instead of last)
    sentinel = np.iinfo(np.int64).min + 1
    key = np.rint(sims * 1e6).astype(np.int64) * (1 << 36) - ids[None, :]
    key[qids[:, None] == ids[None, :]] = sentinel
    # keep k+1 through the partition: the (at most one) self-pair
    # sentinel per row must not evict a real top-k candidate
    kk = min(k + 1, n)
    if kk < n:
        sel = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
        selkey = np.take_along_axis(key, sel, axis=1)
    else:
        sel = np.broadcast_to(np.arange(n), (nq, n))
        selkey = key
    order = np.argsort(-selkey, axis=1)
    sel = np.take_along_axis(sel, order, axis=1)[:, :k]
    selkey = np.take_along_axis(selkey, order, axis=1)[:, :k]
    valid = (selkey != sentinel).ravel()
    kept = sel.shape[1]
    return (
        np.repeat(qids, kept)[valid],
        ids[sel.ravel()[valid]],
        np.take_along_axis(sims, sel, axis=1).ravel()[valid],
    )


def valid_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop rows whose vector is NULL or empty — unscorable by any
    similarity op (numpy cannot even build the batch matrix). Applied
    at every similarity operator's entry; the oracles mirror it with
    ``embedding IS NOT NULL AND len(embedding) > 0``."""
    c = F.col(vec_col)
    return df.filter(c.isNotNull() & (F.size(c) > 0))


def auto_n_planes(n_vectors: int) -> int:
    """Default LSH hyperplane count for ``n_vectors`` rows:
    ``⌈log2(n/32)⌉`` clamped to [4, 24] — expected bucket occupancy
    stays ~32 as data grows, so multi-probe candidate volume is
    ~n·32·(n_planes+1) (LINEAR in n) instead of n²/2^planes with a
    pinned plane count (the r4/r5 rehearsals measured the pinned
    default going quadratic at 10×; the mitigation was manual
    retuning every scale step — this makes it the default)."""
    import math

    return max(4, min(24, math.ceil(math.log2(max(n_vectors, 2) / 32))))


#: Seed stride between the independent plane sets (LSH tables) of the
#: banded near-dup family: table t draws planes with seed_base
#: ``1 + t * _SEED_STRIDE``. A FIXED stride (≥ the 24-plane clamp of
#: :func:`auto_n_planes`, so seed ranges never overlap) rather than the
#: old ``1 + t * n_planes`` coupling — with auto-sized ``n_planes`` the
#: plane weights must not shift when the count changes, or the DuckDB
#: oracle could not emit them as fixed arrays guarded by a dynamic
#: plane count.
_SEED_STRIDE = 24

#: Max tables the auto-sizer will request (bounds oracle SQL size and
#: candidate volume; recall@0.99 stays ≥ 0.9 across the whole
#: ``auto_n_planes`` range with ≤ 6 tables).
_MAX_TABLES = 8


def auto_n_tables(n_planes: int) -> int:
    """Default OR-amplification table count for ``n_planes``-bit
    bucket ids: the smallest L with banded-LSH recall ≥ 0.9 for true
    near-duplicates (cosine ≥ 0.99, collision prob per plane
    p = 1 − acos(0.99)/π ≈ 0.955), clamped to [2, 8]. More planes per
    table (the occupancy-driven :func:`auto_n_planes` growth) cut
    per-table recall, so L must grow with b to hold the dedup-recall
    contract; candidate volume stays ~n·occupancy·L — linear.

    Integer-in/integer-out so the DuckDB oracle replicates it as a
    CASE lookup instead of matching float ``ceil(log/log)`` at
    engine boundaries."""
    import math

    p = 1.0 - math.acos(0.99) / math.pi
    miss = 1.0 - p**n_planes
    ln = math.log(0.1) / math.log(miss)
    return max(2, min(_MAX_TABLES, math.ceil(round(ln, 9))))


def auto_n_lists(n_vectors: int, train_sample: int = 4096) -> int:
    """Default IVF list count: ``⌈√n⌉`` (probe cost and per-list scan
    cost balance at √n — the classic IVF sizing), clamped to the
    training-sample size so every list can seed a distinct centroid,
    floored at 4."""
    import math

    root = math.isqrt(max(n_vectors, 1))
    if root * root < n_vectors:
        root += 1
    return max(4, min(root, train_sample))


def auto_n_probe(n_lists: int) -> int:
    """Default IVF probe count for ``n_lists`` inverted lists:
    ``max(2, ⌈n_lists/8⌉)`` — a CONSTANT FRACTION of the lists instead
    of a pinned absolute. With :func:`auto_n_lists` growing as √n, a
    pinned ``n_probe=2`` silently shrinks the probed fraction (2/√n →
    0) and recall decays as data grows; probing n_lists/8 keeps the
    scanned fraction — and therefore recall — scale-stable while the
    per-query scan cost stays ~n/8 of a flat scan (√n lists × √n/8
    probes × √n-sized lists ≈ n/8 candidate rows, each PQ/float scored
    cheaply). Recall floors at 1× and 10× are pytest-pinned with no
    explicit knobs."""
    return max(2, -(-n_lists // 8))


def auto_rerank(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sample_size: int = 512,
) -> int:
    """Zero-knob IVFADC+R nomination depth (the r8 SCALE reading made
    a default): plain ADC cannot rank near-tie neighbors, so the top-R
    nomination set must COVER the corpus's near-tie multiplicity M —
    the expected number of vectors crowding a query's best match
    closer than the quantization error can resolve. R < M leaves true
    top-k hiding below the nomination cut (measured: recall@5 = 0.755
    with a pinned R=25 against M≈100 sibling groups at the 100×
    rehearsal, vs 0.982 at 10× where R=25 ≥ M).

    Estimator: a bounded deterministic HASH-SPREAD sample
    (``orderBy(xxhash64(key)).limit(sample_size)`` — key-prefix
    sampling would systematically miss siblings laid out at
    key-offset strides, the replica-construction worst case),
    collected driver-side (KBs), one s×s cosine matrix, and per-row
    counts of "near-ties": sample rows with cosine ≥ max(0.5,
    0.8 · that row's nearest-neighbor cosine). The relative bound
    tracks each row's own duplicate structure; the 0.5 floor sits
    ≥ 4σ above the random-cosine regime (std 1/√dim) for dim ≥ 64,
    so duplicate-free corpora estimate M ≈ 1 and fall back to the
    4k minimum. Counts scale by (n−1)/(s−1): each sampled row sees
    any given corpus row with probability (s−1)/(n−1).

    Returns ``clamp(max(4k, ⌈1.5·M⌉), ≤ 4096)``: 1.5× absorbs the
    estimator's sampling noise; the cap bounds the exact-rescore join
    at pathological duplicate densities (where near-dup DEDUP, not
    ANN nomination depth, is the right tool).

    Cost: the estimate is memoized per (application, dataset plan),
    so repeated ``rerank="auto"`` calls on one corpus pay the count +
    sample jobs once per session; a shuffle-free hash-stride prefilter
    (``xxhash64 % stride == 0``, ~4·sample_size survivors) prunes the
    corpus before ``orderBy(hash).limit(s)``, which then runs as a
    per-partition TakeOrderedAndProject — no sort shuffle of vectors."""
    import math

    floor_r = 4 * int(k)
    v = valid_vectors(df, vec_col)
    try:
        plan_key = v.semanticHash()
    except Exception:
        plan_key = None
    memo_key = (
        None
        if plan_key is None
        else (plan_key, key_col, vec_col, int(sample_size))
    )
    hit = _AUTO_RERANK_MEMO.get_or_compute(
        v.sparkSession,
        memo_key,
        lambda: _estimate_near_tie_multiplicity(
            v, key_col, vec_col, int(sample_size)
        ),
    )
    n, mult = hit
    if n <= 1 or mult is None:
        return floor_r
    return min(4096, max(floor_r, math.ceil(1.5 * mult)))


#: (n, near-tie multiplicity) of the auto_rerank estimator, and the LSH
#: auto-sizer's vector count: plain scalars, nothing to release
_AUTO_RERANK_MEMO = SessionMemo("auto_rerank", 8)
_N_VECTORS_MEMO = SessionMemo("n_vectors", 8)


def _n_vectors_cached(v: DataFrame) -> int:
    """``v.count()`` memoized per (application, plan fingerprint): an
    appended or relisted corpus re-counts instead of serving a stale n
    to the LSH auto-sizer; a file rewritten in place under the same
    name is not detected (``util.plan_fingerprint``)."""
    return _N_VECTORS_MEMO.get_or_compute(
        v.sparkSession, plan_fingerprint(v), v.count
    )


def _estimate_near_tie_multiplicity(
    v: DataFrame, key_col: str, vec_col: str, sample_size: int
):
    """Count + bounded hash-spread sample + driver-side s×s cosine
    matrix → ``(n, M)``. ``M is None`` signals "too few rows to
    estimate" (caller falls back to the 4k floor)."""
    import numpy as np

    n = v.count()
    if n <= 1:
        return n, None
    h = F.xxhash64(F.col(key_col))
    stride = max(1, n // (4 * sample_size))
    rows = (
        v.select(key_col, vec_col)
        # deterministic hash-stride prefilter: ~4·sample_size rows
        # survive, so the orderBy below never sorts the full corpus
        .filter(F.pmod(h, F.lit(stride)) == 0)
        .orderBy(h, F.col(key_col))
        .limit(sample_size)
        .collect()
    )
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    s = len(mat)
    if s < 2:
        return n, None
    matn = mat / _norms_guarded(mat)[:, None]
    sims = matn @ matn.T
    np.fill_diagonal(sims, -1.0)
    nearest = sims.max(axis=1)
    ties = (sims >= np.maximum(0.5, 0.8 * nearest)[:, None]).sum(axis=1)
    mult = 1.0 + float(ties.mean()) * (n - 1) / max(s - 1, 1)
    return n, mult


def _resolve_rerank(
    rerank, df: DataFrame, key_col: str, vec_col: str, k: int
):
    """Shared ``rerank`` knob resolution for the ADC scans: ints pass
    through, ``"auto"`` runs :func:`auto_rerank`."""
    if isinstance(rerank, str):
        if rerank != "auto":
            raise ValueError(
                f"rerank must be an int, None, or 'auto' (got {rerank!r})"
            )
        return auto_rerank(df, key_col, vec_col, k)
    return rerank


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def plane_weights(n_planes: int, dim: int, seed_base: int = 1) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights from the portable 60-bit md5
    hash: weight[p][i] = +1 if H(f"{seed_base+p}:{i}") is even else −1.
    Reproducible in any engine — the DuckDB oracle re-derives the same
    planes symbolically."""
    out = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{seed_base + p}:{i}".encode()).hexdigest()[:15], 16)
            row.append(1.0 if h % 2 == 0 else -1.0)
        out.append(row)
    return out


def hyperplane_bucket(
    vec: Column, dim: int, n_planes: int = 8, seed_base: int = 1
) -> Column:
    """Random-hyperplane LSH bucket id: bit p of the bucket is the sign
    of ``vec · w_p`` for the deterministic plane ``w_p``. Pure column
    expression (n_planes dot products, JVM-side)."""
    weights = plane_weights(n_planes, dim, seed_base)
    bucket = F.lit(0).cast("bigint")
    for p, w in enumerate(weights):
        proj = dot(vec, F.array(*[F.lit(x) for x in w]))
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def _chunked_block_pairs(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    n_chunks: int,
):
    """Shared shape for exact all-pairs scoring: returns the cogrouped
    (query-replicated × index-chunk) grouping ready for applyInPandas.

    Query rows are replicated per chunk via ``explode`` of a literal
    int array (no join, no cartesian in the plan); the index side is
    hash-partitioned on its key. The caller supplies the scoring
    function and output schema."""
    chunk_ids = F.array(*[F.lit(i) for i in range(n_chunks)])
    queries = df.select(
        F.col(key_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(chunk_ids).alias("chunk"),
    )
    index = df.select(
        F.col(key_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks)).cast("int").alias("chunk"),
    )
    return queries.groupBy("chunk").cogroup(index.groupBy("chunk"))


def brute_force_topk(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_chunks: int = 8,
) -> DataFrame:
    """Exact cosine top-k neighbors for every vector — fully
    distributed (no driver collect).

    Chunked block scoring: the index is hash-split into ``n_chunks``
    blocks; each cogroup cell scores one block against all queries with
    a single float64 matmul and keeps that block's top-k per query
    (sim rounded to 6, ties by neighbor id — deterministic and
    oracle-reproducible); a window over the ``n_chunks × k`` survivors
    yields the exact global top-k. Raise ``n_chunks`` so each block
    fits executor memory at the target scale; for sub-quadratic work
    switch to ``lsh_topk`` / ``ivf_topk``.
    """
    import numpy as np
    import pandas as pd

    out_cols = ["query_id", "neighbor_id", "cos_sim", "rank"]
    out_schema = "query_id long, neighbor_id long, cos_sim double, rank int"

    def score(qpdf: "pd.DataFrame", ipdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(qpdf) or not len(ipdf):
            return pd.DataFrame(columns=out_cols)
        ids = ipdf["nid"].to_numpy(dtype=np.int64)
        mat = np.array(list(ipdf["nvec"]), dtype=np.float64)
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        norms = _norms_guarded(mat)
        q = np.array(list(qpdf["qvec"]), dtype=np.float64)
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        sims = np.round(
            (q @ mat.T) / (_norms_guarded(q)[:, None] * norms[None, :]), 6
        )
        # block top-k by (sim desc, id asc), vectorized — see _block_topk
        rq, ri, rs = _block_topk(qids, ids, sims, k)
        out = pd.DataFrame({"query_id": rq, "neighbor_id": ri, "cos_sim": rs})
        out["rank"] = 0  # overwritten by the global window
        return out

    partial = _chunked_block_pairs(
        valid_vectors(df, vec_col), key_col, vec_col, n_chunks
    ).applyInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    method: str = "lsh",
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_chunks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (a < b) pairs with cosine ≥
    threshold.

    ``method="lsh"`` (the 100-TB path): banded OR-amplified hyperplane
    LSH — ``n_tables`` independent sets of ``n_planes`` planes; a pair
    is a candidate iff its bucket ids collide in ANY table (bucket
    equi-join per table, union, distinct — never all-pairs), then
    candidates are exact-cosine rescored and thresholded. Deterministic
    and oracle-reproducible (the DuckDB oracle re-derives the same
    plane weights symbolically). Recall for a pair at cosine c is
    1-(1-p^b)^L with p = 1-acos(c)/π — high for true near-dups and
    intentionally partial for weakly-similar pairs.

    ``n_planes=None`` / ``n_tables=None`` (defaults) auto-size from a
    cheap count: planes via :func:`auto_n_planes` (constant ~32-row
    bucket occupancy ⇒ candidate volume ~n·32·L, LINEAR in n — a
    pinned plane count measured quadratic at 10×), tables via
    :func:`auto_n_tables` (recall@0.99 ≥ 0.9 at that plane count).
    Pass explicit values to skip the count job or pin buckets.
    The count is memoized per (session, plan, input-file listing);
    files rewritten IN PLACE under unchanged names within one session
    are not detected — treat inputs as session-static snapshots (see
    ``_n_vectors_cached``).

    ``method="exact"``: chunked block scoring (same distributed shape
    as ``brute_force_topk``, no driver collect) emitting every
    qualifying pair — exact, O(n²) compute spread over the cluster.
    """
    if method == "exact":
        return _near_dup_exact(df, key_col, vec_col, threshold, n_chunks)

    import numpy as np
    import pandas as pd

    from sensomics_data_pipeline_spark.util import fan_out

    if n_planes is None:
        n_planes = auto_n_planes(_n_vectors_cached(valid_vectors(df, vec_col)))
    if n_tables is None:
        n_tables = auto_n_tables(n_planes)

    # one projection computes every table's bucket id (an array), then
    # posexplode → a single (table, bucket) equi-join builds candidates
    # for all tables at once; fan_out so the 18 interpreted dot
    # products per row don't serialize on a small scan's single split.
    # Both raw vectors RIDE THROUGH the band join (n_tables× payload
    # replication in the shuffle, ~0.5 KB/row at dim=64) — cheaper at
    # every scale than the two join-backs + second scan subtree the
    # join-back shape costs, and the pair-dedup (a pair can collide in
    # several tables) becomes a groupBy keeping the first vec copy.
    df = fan_out(valid_vectors(df, vec_col))
    buckets = F.array(
        *[
            hyperplane_bucket(
                F.col(vec_col), dim, n_planes, seed_base=1 + t * _SEED_STRIDE
            )
            for t in range(n_tables)
        ]
    )
    b = df.select(
        F.col(key_col).alias("vid"),
        F.col(vec_col).alias("_v"),
        F.posexplode(buckets).alias("tbl", "bucket"),
    )
    a_side = b.select(
        F.col("vid").alias("vec_a"), F.col("_v").alias("_va"), "tbl", "bucket"
    )
    b_side = b.select(
        F.col("vid").alias("vec_b"), F.col("_v").alias("_vb"), "tbl", "bucket"
    )
    with_vecs = (
        a_side.join(b_side, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.first("_va").alias("_va"), F.first("_vb").alias("_vb"))
    )

    out_cols = ["vec_a", "vec_b", "cos_sim"]
    out_schema = "vec_a long, vec_b long, cos_sim double"

    # exact rescore in one vectorized Arrow batch pass (BLAS) — the
    # per-pair zip_with/aggregate dot is a higher-order expression that
    # Catalyst evaluates interpreted, ~100× slower on wide candidates
    def rescore(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.array(list(pdf["_va"]), dtype=np.float64)
            bm = np.array(list(pdf["_vb"]), dtype=np.float64)
            sims = np.round(
                np.einsum("ij,ij->i", a, bm)
                / (_norms_guarded(a) * _norms_guarded(bm)),
                6,
            )
            out = pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy(dtype=np.int64),
                    "vec_b": pdf["vec_b"].to_numpy(dtype=np.int64),
                    "cos_sim": sims,
                }
            )
            yield out[out["cos_sim"] >= threshold]

    return with_vecs.mapInPandas(rescore, out_schema)


def _near_dup_exact(
    df: DataFrame, key_col: str, vec_col: str, threshold: float, n_chunks: int
) -> DataFrame:
    import numpy as np
    import pandas as pd

    out_cols = ["vec_a", "vec_b", "cos_sim"]
    out_schema = "vec_a long, vec_b long, cos_sim double"

    def score(qpdf: "pd.DataFrame", ipdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(qpdf) or not len(ipdf):
            return pd.DataFrame(columns=out_cols)
        ids = ipdf["nid"].to_numpy(dtype=np.int64)
        mat = np.array(list(ipdf["nvec"]), dtype=np.float64)
        norms = _norms_guarded(mat)
        q = np.array(list(qpdf["qvec"]), dtype=np.float64)
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        sims = np.round(
            (q @ mat.T) / (_norms_guarded(q)[:, None] * norms[None, :]), 6
        )
        # each unordered pair is seen exactly once: in the chunk that
        # owns the larger id; one vectorized nonzero over the block
        rows, cols = np.nonzero((ids[None, :] > qids[:, None]) & (sims >= threshold))
        return pd.DataFrame(
            {
                "vec_a": qids[rows],
                "vec_b": ids[cols],
                "cos_sim": sims[rows, cols],
            }
        )

    return _chunked_block_pairs(
        valid_vectors(df, vec_col), key_col, vec_col, n_chunks
    ).applyInPandas(score, out_schema)


def lsh_topk(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int | None = None,
    multi_probe: bool = True,
) -> DataFrame:
    """ANN cosine top-k: bucket by hyperplane sign pattern, exact cosine
    only within probed buckets — an equi-join replaces the all-pairs
    cross join, so candidate volume is n²/2^planes instead of n².

    ``n_planes=None`` (default) auto-sizes from a cheap count via
    :func:`auto_n_planes` (~constant bucket occupancy ⇒ linear
    candidate volume at any scale); pass an explicit value to skip the
    count job or to pin bucket ids for an engine-external oracle.

    ``multi_probe=True`` probes the query's own bucket plus every
    Hamming-1 bucket (one plane's sign flipped): near-neighbors that a
    single plane split off are recovered, multiplying recall at
    (n_planes+1)× candidate cost — the standard multi-probe LSH
    trade.

    The bucketed projection is intentionally NOT persisted: it is a
    stateless, shuffle-free map over the scan (n_planes dot products
    per row), so recomputing it per join side is embarrassingly
    parallel and avoids pinning an unbounded cache entry for the
    plan's lifetime (a ``persist`` here has no matching ``unpersist``
    point — the operator returns a lazy DataFrame). Both unit vectors
    RIDE THROUGH the probe join (512 B/row at dim=64), so there is no
    join-back to fetch vectors, no pair-level ``distinct`` (each
    probe value is distinct, so a pair can collide at most once), and
    only TWO consumers of the bucketed subtree instead of four.

    Expression discipline (measured, see ``util.materialize``): the
    norm, unit vector, and bucket id are materialized through generator
    barriers so they compute once per row — a bare aliased projection
    would be collapse-inlined into every consumer, and a norm
    referenced inside the normalize lambda would be re-evaluated per
    ELEMENT (64× per row). Exact rescoring of candidates runs in one
    Arrow-batched BLAS pass (``mapInPandas``), not the interpreted
    per-pair zip_with dot."""
    import numpy as np
    import pandas as pd

    from sensomics_data_pipeline_spark.util import fan_out, materialize

    if n_planes is None:
        n_planes = auto_n_planes(_n_vectors_cached(valid_vectors(df, vec_col)))

    base = materialize(
        fan_out(valid_vectors(df, vec_col)).select(
            F.col(key_col).alias("vid"), F.col(vec_col)
        ),
        # clamped like _norms_guarded: zero vector -> all-zero unit vec
        # -> cosine 0.0, not NaN
        _norm=F.greatest(l2_norm(F.col(vec_col)), F.lit(1e-30)),
    )
    bucketed = materialize(
        base,
        vec=F.transform(
            F.col(vec_col), lambda x: x.cast("double") / F.col("_norm")
        ),
        bucket=hyperplane_bucket(F.col(vec_col), dim, n_planes),
    ).select("vid", "vec", "bucket")
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.expr(f"bucket ^ {1 << p}").cast("bigint")
                for p in range(n_planes)
            ],
        )
    else:
        probes = F.array(F.col("bucket"))
    a = bucketed.select(
        F.col("vid").alias("query_id"),
        F.col("bucket").alias("qbucket"),
        F.col("vec").alias("_va"),
        F.explode(probes).alias("bucket"),
    )
    b = bucketed.select(
        F.col("vid").alias("neighbor_id"), "bucket", F.col("vec").alias("_vb")
    )
    cand = (
        a.join(b, ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qbucket", "neighbor_id", "_va", "_vb")
    )

    def rescore(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            va = np.array(list(pdf["_va"]), dtype=np.float64)
            vb = np.array(list(pdf["_vb"]), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "bucket": pdf["qbucket"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    "cos_sim": np.round(np.einsum("ij,ij->i", va, vb), 6),
                }
            )

    scored = cand.mapInPandas(
        rescore, "query_id long, bucket long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "bucket", "neighbor_id", "cos_sim", "rank")
    )


def ivf_train(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_iter: int = 3,
    train_sample: int = 4096,
):
    """Train the IVF coarse quantizer once and return the (n_lists ×
    dim) unit-norm centroid matrix — persist it (numpy save, a table,
    a broadcast var) and pass to :func:`ivf_topk` for every subsequent
    query batch instead of retraining per call.

    Training samples the ``train_sample`` lowest-keyed vectors via a
    distributed TakeOrdered (each partition ships only its local
    top-n — bounded driver memory, deterministic), then runs spherical
    k-means driver-side on the KB-scale sample."""
    import numpy as np

    sample = (
        valid_vectors(df, vec_col)
        .select(key_col, vec_col)
        .orderBy(key_col)
        .limit(train_sample)
        .collect()
    )
    smat = np.array([r[1] for r in sample], dtype=np.float64)
    smat_n = smat / _norms_guarded(smat)[:, None]

    cent = smat_n[:n_lists].copy()
    for _ in range(n_iter):
        assign = np.argmax(smat_n @ cent.T, axis=1)
        for c in range(n_lists):
            members = smat_n[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / (np.linalg.norm(m) or 1.0)
    return cent


def ivf_assign(
    df: DataFrame,
    centroids,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every valid vector to its IVF list: ``list_id =
    argmax(normalized_vec · centroid)`` over a trained
    :func:`ivf_train` matrix — the index-building half of
    :func:`ivf_topk`, exposed so an index can be built once, persisted
    as a table, and probed by many query batches (and so the
    ``ivf_invariants`` certification can verify the operator's own
    assignments against an independent JVM-side argmax).

    Returns ``(nid, nvec, list_id)``. Distributed: the KB-scale
    centroid matrix ships in the task closure; one BLAS matmul per
    Arrow batch, no shuffle."""
    import numpy as np
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.float64)

    def assign_lists(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["nvec"]), dtype=np.float64)
            mat_n = mat / _norms_guarded(mat)[:, None]
            yield pd.DataFrame(
                {
                    "nid": pdf["nid"].to_numpy(dtype=np.int64),
                    "nvec": pdf["nvec"],
                    "list_id": np.argmax(mat_n @ cent.T, axis=1).astype(
                        np.int32
                    ),
                }
            )

    return (
        valid_vectors(df, vec_col)
        .select(F.col(key_col).alias("nid"), F.col(vec_col).alias("nvec"))
        .mapInPandas(
            assign_lists, "nid long, nvec array<float>, list_id int"
        )
    )


def ivf_topk(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int | None = None,
    n_iter: int = 3,
    train_sample: int = 4096,
    centroids=None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer, vectors
    assigned to their nearest centroid's list, queries probe the
    ``n_probe`` nearest lists only.

    ``n_lists=None`` (default) auto-sizes to ``⌈√n⌉`` from a cheap
    count (:func:`auto_n_lists`) — per-list scan cost then stays
    ~√n·n_probe as data grows instead of n/n_lists blowing up under a
    pinned list count; pass an explicit value to skip the count job
    (required when reusing pre-trained ``centroids``, whose row count
    must equal ``n_lists``). ``n_probe=None`` (default) auto-sizes to
    ``max(2, ⌈n_lists/8⌉)`` (:func:`auto_n_probe`) so the PROBED
    FRACTION — and recall — stays constant as ``n_lists`` grows with
    data; a pinned probe count decays recall at scale.

    Scale shape — no full-table collect anywhere:

    1. The quantizer trains driver-side on a BOUNDED sample: the
       ``train_sample`` lowest-keyed vectors via
       ``orderBy(key).limit(n)`` (a distributed TakeOrdered — each
       partition ships only its local top-n). Deterministic seeding:
       initial centroids are the sample's first ``n_lists`` rows.
    2. The trained centroid matrix (n_lists × dim floats — KBs) ships
       in task closures; list assignment for the full table and probe
       selection for queries run distributed in ``mapInPandas``.
    3. Scoring is a list-id equi-join: queries replicated to their
       ``n_probe`` probed lists, cogrouped with each list's members,
       one BLAS matmul per (list × query-batch) cell, then a window
       for the global top-k.

    Iterative training is not SQL-expressible — rows-only driver
    check; recall vs ``brute_force_topk`` is pytest-verified.

    ``centroids``: pass a matrix from :func:`ivf_train` to reuse a
    quantizer across many query batches (the production pattern — an
    IVF index is built once and probed millions of times); ``None``
    trains one inline for self-contained single-shot use.
    """
    import numpy as np
    import pandas as pd

    if n_lists is None:
        if centroids is not None:
            n_lists = int(np.asarray(centroids).shape[0])
        else:
            n_lists = auto_n_lists(
                valid_vectors(df, vec_col).count(), train_sample
            )
    if n_probe is None:
        n_probe = auto_n_probe(n_lists)
    if centroids is None:
        cent = ivf_train(df, key_col, vec_col, n_lists, n_iter, train_sample)
    else:
        cent = np.asarray(centroids, dtype=np.float64)
        if cent.shape[0] != n_lists:
            raise ValueError(
                f"centroids rows {cent.shape[0]} != n_lists {n_lists}"
            )

    def probe_lists(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array(list(pdf["qvec"]), dtype=np.float64)
            qn = q / _norms_guarded(q)[:, None]
            probes = np.argsort(-(qn @ cent.T), axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "qvec": pdf["qvec"],
                    "probes": list(probes.astype(np.int32)),
                }
            )

    vdf = valid_vectors(df, vec_col)
    index = ivf_assign(df, cent, key_col, vec_col)
    queries = (
        vdf.select(F.col(key_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .mapInPandas(
            probe_lists, "query_id long, qvec array<float>, probes array<int>"
        )
        .select("query_id", "qvec", F.explode("probes").alias("list_id"))
    )

    out_cols = ["query_id", "neighbor_id", "cos_sim", "rank"]
    out_schema = "query_id long, neighbor_id long, cos_sim double, rank int"

    def score(qpdf: "pd.DataFrame", ipdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(qpdf) or not len(ipdf):
            return pd.DataFrame(columns=out_cols)
        ids = ipdf["nid"].to_numpy(dtype=np.int64)
        mat = np.array(list(ipdf["nvec"]), dtype=np.float64)
        mat_n = mat / _norms_guarded(mat)[:, None]
        q = np.array(list(qpdf["qvec"]), dtype=np.float64)
        qn = q / _norms_guarded(q)[:, None]
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        sims = np.round(qn @ mat_n.T, 6)
        rq, ri, rs = _block_topk(qids, ids, sims, k)
        out = pd.DataFrame({"query_id": rq, "neighbor_id": ri, "cos_sim": rs})
        out["rank"] = 0
        return out

    partial = (
        queries.groupBy("list_id")
        .cogroup(index.groupBy("list_id"))
        .applyInPandas(score, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    assemble: bool = False,
) -> DataFrame:
    """Per-group element-wise centroid of an embedding column — the
    building block for source-drift monitoring, cluster summaries and
    IVF retraining from labeled partitions.

    Exactness contract: each float element is quantized to a 1e-6
    fixed-point LONG (`round(val * 1e6)` — exact for |val| < 2^53/1e6),
    and the per-(group, pos) sums run on longs, which are
    order-insensitive — so the result is bit-identical regardless of
    partitioning AND across engines (the DuckDB oracle applies the
    identical quantization). A plain `avg(float)` would depend on
    summation order, which a distributed engine does not guarantee.
    Plan: posexplode → one groupBy(group, pos) with map-side partial
    long sums; `assemble=True` adds a second small shuffle to rebuild
    `array<double>` centroids (one row per group).
    """
    exploded = df.select(
        F.col(group_col), F.posexplode(vec_col).alias("pos", "_val")
    )
    q = F.round(F.col("_val").cast("double") * 1_000_000.0).cast("bigint")
    per = exploded.groupBy(group_col, "pos").agg(
        F.sum(q).alias("_sumq"), F.count("*").alias("n_vecs")
    )
    long_form = per.select(
        group_col,
        "pos",
        "n_vecs",
        ((F.col("_sumq") / F.col("n_vecs")) / 1_000_000.0).alias("centroid"),
    )
    if not assemble:
        return long_form
    return long_form.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("centroid_vec"),
        F.first("n_vecs").alias("n_vecs"),
    )


def pq_train(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 32,
    n_iter: int = 5,
    train_sample: int = 4096,
):
    """Train product-quantization codebooks and return the
    ``(m, n_codes, dim/m)`` float64 array — the compressed-index
    companion to :func:`ivf_train` for the >10^8-vector regime, where
    even the IVF lists' raw float vectors no longer fit in memory.

    The vector is split into ``m`` contiguous subspaces; each gets an
    independent ``n_codes``-centroid k-means codebook trained
    driver-side on the same BOUNDED deterministic sample as
    ``ivf_train`` (``orderBy(key).limit(n)`` distributed TakeOrdered;
    initial centroids are the sample's first ``n_codes`` rows — no
    RNG, byte-reproducible). Vectors are unit-normalized before
    splitting so the asymmetric-distance inner product approximates
    COSINE directly. Codebook size is m * n_codes * (dim/m) floats —
    KBs — and ships in task closures exactly like the IVF centroids."""
    import numpy as np

    sample = (
        valid_vectors(df, vec_col)
        .select(key_col, vec_col)
        .orderBy(key_col)
        .limit(train_sample)
        .collect()
    )
    smat = np.array([r[1] for r in sample], dtype=np.float64)
    dim = smat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    smat_n = smat / _norms_guarded(smat)[:, None]

    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for j in range(m):
        sub = smat_n[:, j * dsub : (j + 1) * dsub]
        cent = sub[:n_codes].copy()
        for _ in range(n_iter):
            # nearest centroid by squared L2 (expanded form, one matmul)
            d2 = (
                (sub**2).sum(axis=1)[:, None]
                - 2.0 * (sub @ cent.T)
                + (cent**2).sum(axis=1)[None, :]
            )
            assign = np.argmin(d2, axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-codeword ids —
    ``(key, codes array<int>)``, the compressed index representation:
    m·log2(n_codes) bits per vector instead of 32·dim (e.g. 64-dim
    float32 -> 8 bytes at m=8, n_codes=256 — a 32x compression).
    Distributed ``mapInPandas``; the KB-scale codebooks ride the task
    closure."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = books.shape

    def encode(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["_vec"]), dtype=np.float64)
            mat_n = mat / _norms_guarded(mat)[:, None]
            codes = np.empty((len(mat_n), m), dtype=np.int32)
            for j in range(m):
                sub = mat_n[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (sub**2).sum(axis=1)[:, None]
                    - 2.0 * (sub @ books[j].T)
                    + (books[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "nid": pdf["nid"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return valid_vectors(df, vec_col).select(
        F.col(key_col).alias("nid"), F.col(vec_col).alias("_vec")
    ).mapInPandas(encode, "nid long, codes array<int>")


def ivf_pq_index(
    df: DataFrame,
    centroids,
    codebooks,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the fused IVF-PQ index in ONE distributed pass:
    ``(nid, list_id, codes)`` — the coarse-quantizer list assignment
    (:func:`ivf_assign` semantics) and the PQ codes
    (:func:`pq_encode` semantics) computed together per Arrow batch,
    so the 10^8-vector index build reads the vectors once instead of
    twice. Public since r10 so the ``ivf_pq_invariants`` law can pin
    fused ≡ standalone (each standalone path carries its own
    optimality certification)."""
    import numpy as np
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    mloc, _, dsub = books.shape

    def index_pass(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["_vec"]), dtype=np.float64)
            mat_n = mat / _norms_guarded(mat)[:, None]
            codes = np.empty((len(mat_n), mloc), dtype=np.int32)
            for j in range(mloc):
                sub = mat_n[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (sub**2).sum(axis=1)[:, None]
                    - 2.0 * (sub @ books[j].T)
                    + (books[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "nid": pdf["nid"].to_numpy(dtype=np.int64),
                    "list_id": np.argmax(mat_n @ cent.T, axis=1).astype(
                        np.int32
                    ),
                    "codes": list(codes),
                }
            )

    return valid_vectors(df, vec_col).select(
        F.col(key_col).alias("nid"), F.col(vec_col).alias("_vec")
    ).mapInPandas(index_pass, "nid long, list_id int, codes array<int>")


def _exact_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    key_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact-cosine re-rank of ANN candidate rows — the IVFADC+R
    refinement (Jégou et al., public FAISS pattern): the compressed
    scan nominates top-R candidates per query, the true vectors are
    joined back onto that (nq × R)-row table, and an exact cosine
    keeps the top-k. Cost is R exact similarities per query — two
    hash joins of a candidate table that is tiny relative to the
    index — and it restores the resolution ADC codes lack on
    near-tie neighbors (quantization error swamps sibling gaps).
    Scoring matches ``brute_force_topk``'s oracle convention:
    guarded norms, round-6 sims, (sim desc, neighbor id) ties."""
    v = vectors.select(
        F.col(key_col).alias("_rid"), F.col(vec_col).alias("_rvec")
    )
    j = (
        candidates.select("query_id", "neighbor_id")
        .join(
            v.select(
                F.col("_rid").alias("query_id"), F.col("_rvec").alias("_qv")
            ),
            "query_id",
        )
        .join(
            v.select(
                F.col("_rid").alias("neighbor_id"),
                F.col("_rvec").alias("_nv"),
            ),
            "neighbor_id",
        )
    )

    def _norm(col):
        return F.greatest(
            F.sqrt(
                F.aggregate(
                    F.transform(col, lambda x: x.cast("double") * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            F.lit(1e-30),
        )

    dot = F.aggregate(
        F.zip_with("_qv", "_nv", lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = j.select(
        "query_id",
        "neighbor_id",
        F.round(dot / (_norm(F.col("_qv")) * _norm(F.col("_nv"))), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_topk(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 32,
    n_iter: int = 5,
    train_sample: int = 4096,
    n_chunks: int = 8,
    codebooks=None,
    rerank: int | str | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k via product quantization with
    asymmetric distance computation (ADC): queries stay exact, the
    index is scanned in its compressed code form.

    Scale shape — the point of PQ at 10^8+ vectors:

    1. codebooks come from :func:`pq_train` (bounded deterministic
       driver sample, KBs) or are passed in pre-trained;
    2. the index is :func:`pq_encode`-compressed ONCE — the scan then
       moves m ints per vector instead of dim floats (the memory-
       bandwidth win that makes exhaustive ADC scans feasible);
    3. scoring reuses the chunked-block shape of ``brute_force_topk``:
       each (query-block x code-chunk) cell builds the per-query
       ``m x n_codes`` inner-product lookup table (one small matmul)
       and scores every code row with m table gathers — no float
       vector is ever touched on the index side;
    4. per-chunk top-k then a global window, like every other top-k
       here.

    Iterative k-means training makes this rows-only for the SQL
    oracle (same contract as ``embedding_ivf``); recall vs
    ``brute_force_topk`` is pytest-verified. ``ivf_topk`` composes
    upstream of this in a production IVF-PQ: IVF prunes the candidate
    lists, PQ compresses what remains.

    ``rerank=R`` keeps the ADC scan's top-R per query and re-scores
    those candidates EXACTLY (:func:`_exact_rerank` — output column
    becomes ``cos_sim``): ADC codes cannot rank near-tie neighbors
    (quantization error exceeds sibling gaps — measured recall@5
    0.32 on the 100× noisy-sibling rehearsal), and R exact sims per
    query buys that resolution back at negligible cost.
    ``rerank="auto"`` sizes R from the corpus's sampled near-tie
    multiplicity (:func:`auto_rerank`).

    Return contract: the score column is ``adc_sim`` (compressed-
    domain score) without rerank and ``cos_sim`` (exact) with it —
    pass ``score_col`` to get a STABLE caller-chosen name on either
    path."""
    import numpy as np
    import pandas as pd

    rerank = _resolve_rerank(rerank, df, key_col, vec_col, k)
    if codebooks is None:
        books = pq_train(df, key_col, vec_col, m, n_codes, n_iter, train_sample)
    else:
        books = np.asarray(codebooks, dtype=np.float64)
        if books.shape[0] != m or books.shape[1] != n_codes:
            raise ValueError(
                f"codebooks shape {books.shape} != (m={m}, n_codes={n_codes}, *)"
            )
    dsub = books.shape[2]

    encoded = pq_encode(df, books, key_col, vec_col)
    # with rerank, every stage (per-chunk block top, global window)
    # must carry the wider top-R candidate set, not top-k
    keep = max(int(rerank), k) if rerank else k
    chunk_ids = F.array(*[F.lit(i) for i in range(n_chunks)])
    queries = valid_vectors(df, vec_col).select(
        F.col(key_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(chunk_ids).alias("chunk"),
    )
    index = encoded.select(
        "nid",
        "codes",
        F.pmod(F.xxhash64(F.col("nid")), F.lit(n_chunks)).cast("int").alias("chunk"),
    )

    out_cols = ["query_id", "neighbor_id", "adc_sim", "rank"]
    out_schema = "query_id long, neighbor_id long, adc_sim double, rank int"

    def score(qpdf: "pd.DataFrame", ipdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(qpdf) or not len(ipdf):
            return pd.DataFrame(columns=out_cols)
        ids = ipdf["nid"].to_numpy(dtype=np.int64)
        codes = np.array(list(ipdf["codes"]), dtype=np.int64)
        q = np.array(list(qpdf["qvec"]), dtype=np.float64)
        qn = q / _norms_guarded(q)[:, None]
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        sims = np.zeros((len(qn), len(ids)), dtype=np.float64)
        mloc = books.shape[0]
        for j in range(mloc):
            # (nq x n_codes) LUT of subspace inner products, then one
            # gather per index row: sims += LUT[:, codes[:, j]]
            lut = qn[:, j * dsub : (j + 1) * dsub] @ books[j].T
            sims += lut[:, codes[:, j]]
        sims = np.round(sims, 6)
        rq, ri, rs = _block_topk(qids, ids, sims, keep)
        out = pd.DataFrame({"query_id": rq, "neighbor_id": ri, "adc_sim": rs})
        out["rank"] = 0
        return out

    partial = (
        queries.groupBy("chunk")
        .cogroup(index.groupBy("chunk"))
        .applyInPandas(score, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    out = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
        .select("query_id", "neighbor_id", "adc_sim", "rank")
    )
    if rerank:
        out = _exact_rerank(out, valid_vectors(df, vec_col), key_col,
                            vec_col, k)
    return _stable_score_col(out, rerank, score_col)


def _stable_score_col(out: DataFrame, rerank, score_col) -> DataFrame:
    """Apply the optional ``score_col`` rename: the ADC scans emit
    ``adc_sim`` plain and ``cos_sim`` reranked — a caller that wants a
    knob-independent schema names the score column once here."""
    if not score_col:
        return out
    return out.withColumnRenamed(
        "cos_sim" if rerank else "adc_sim", score_col
    )


def semantic_dedup(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop all but one
    representative of every cluster of embedding-space near-duplicates
    — the embedding-side sibling of the text dedup family
    (documents that SAY the same thing, not just share n-grams).

    Composition of two independently certified primitives:
    :func:`cosine_near_dup_pairs` (banded OR-amplified hyperplane LSH,
    bucket equi-joins — never all-pairs) finds the near-dup edges, and
    ``dedup.duplicate_clusters`` (distributed min-label propagation
    with pointer jumping) resolves them into connected components.
    Survivors keep the smallest key per component (the same
    keep-lowest convention as every dedup operator here), so the kept
    set is a pure deterministic function of the data.

    Returns one row per input vector: ``(key, canonical_id, kept)`` —
    callers filter ``kept`` for the survivor set or group by
    ``canonical_id`` for cluster audits."""
    from sensomics_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
    )

    pairs = cosine_near_dup_pairs(
        df,
        key_col,
        vec_col,
        threshold=threshold,
        method="lsh",
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
    )
    clusters = duplicate_clusters(pairs, a_col="vec_a", b_col="vec_b")
    out = df.select(F.col(key_col)).join(
        clusters.withColumnRenamed("doc_id", key_col), key_col, "left"
    )
    return out.select(
        key_col,
        F.coalesce(F.col("canonical_id"), F.col(key_col)).alias("canonical_id"),
        (
            F.coalesce(F.col("canonical_id"), F.col(key_col)) == F.col(key_col)
        ).alias("kept"),
    )


def ivf_pq_topk(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int | None = None,
    m: int = 8,
    n_codes: int = 32,
    n_iter: int = 3,
    train_sample: int = 4096,
    centroids=None,
    codebooks=None,
    rerank: int | str | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """IVF-PQ: the production ANN shape at 10^8+ vectors — IVF prunes
    WHICH vectors to score (probe ``n_probe`` of ``n_lists`` inverted
    lists), PQ compresses HOW they are scored (ADC over m-code rows,
    no index floats). Both quantizers train on the same bounded
    deterministic driver sample and ship in task closures; the index
    is one distributed pass emitting ``(id, list_id, codes)`` —
    m ints + an int per vector, the entire index memory footprint.

    This is the flat-PQ variant (codes quantize the unit vector
    itself, not the per-list residual): one global LUT per query
    serves every probed list, keeping the scoring cell a pure
    gather-sum. With ``n_probe == n_lists`` the ranking is EXACTLY
    ``pq_topk``'s (pytest-pinned), making the recall/cost trade purely
    the probe count.

    Iterative training — rows-only contract like ``embedding_ivf``/
    ``embedding_pq``; recall vs brute force is pytest-verified.

    ``rerank=R``: IVFADC+R — the ADC scan nominates top-R per query
    and :func:`_exact_rerank` re-scores them exactly (output column
    becomes ``cos_sim``); R exact sims per query restores the
    near-tie resolution the m-code ADC lacks. ``rerank="auto"`` sizes
    R from the sampled near-tie multiplicity (:func:`auto_rerank`);
    ``score_col`` gives the score column a knob-independent name
    (same contract as :func:`pq_topk`).
    """
    import numpy as np
    import pandas as pd

    rerank = _resolve_rerank(rerank, df, key_col, vec_col, k)
    if n_lists is None:
        if centroids is not None:
            n_lists = int(np.asarray(centroids).shape[0])
        else:
            n_lists = auto_n_lists(
                valid_vectors(df, vec_col).count(), train_sample
            )
    if n_probe is None:
        n_probe = auto_n_probe(n_lists)
    if centroids is None:
        cent = ivf_train(df, key_col, vec_col, n_lists, n_iter, train_sample)
    else:
        cent = np.asarray(centroids, dtype=np.float64)
    if codebooks is None:
        books = pq_train(df, key_col, vec_col, m, n_codes, n_iter, train_sample)
    else:
        books = np.asarray(codebooks, dtype=np.float64)
    dsub = books.shape[2]
    mloc = books.shape[0]

    def probe_pass(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array(list(pdf["qvec"]), dtype=np.float64)
            qn = q / _norms_guarded(q)[:, None]
            probes = np.argsort(-(qn @ cent.T), axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "qvec": pdf["qvec"],
                    "probes": list(probes.astype(np.int32)),
                }
            )

    vdf = valid_vectors(df, vec_col)
    index = ivf_pq_index(df, cent, books, key_col, vec_col)
    queries = (
        vdf.select(F.col(key_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .mapInPandas(probe_pass, "query_id long, qvec array<float>, probes array<int>")
        .select("query_id", "qvec", F.explode("probes").alias("list_id"))
    )

    out_cols = ["query_id", "neighbor_id", "adc_sim", "rank"]
    out_schema = "query_id long, neighbor_id long, adc_sim double, rank int"

    def score(qpdf: "pd.DataFrame", ipdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(qpdf) or not len(ipdf):
            return pd.DataFrame(columns=out_cols)
        ids = ipdf["nid"].to_numpy(dtype=np.int64)
        codes = np.array(list(ipdf["codes"]), dtype=np.int64)
        q = np.array(list(qpdf["qvec"]), dtype=np.float64)
        qn = q / _norms_guarded(q)[:, None]
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        sims = np.zeros((len(qn), len(ids)), dtype=np.float64)
        for j in range(mloc):
            lut = qn[:, j * dsub : (j + 1) * dsub] @ books[j].T
            sims += lut[:, codes[:, j]]
        sims = np.round(sims, 6)
        rq, ri, rs = _block_topk(qids, ids, sims, keep)
        out = pd.DataFrame({"query_id": rq, "neighbor_id": ri, "adc_sim": rs})
        out["rank"] = 0
        return out

    keep = max(int(rerank), k) if rerank else k
    partial = (
        queries.groupBy("list_id")
        .cogroup(index.groupBy("list_id"))
        .applyInPandas(score, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    out = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
        .select("query_id", "neighbor_id", "adc_sim", "rank")
    )
    if rerank:
        out = _exact_rerank(out, vdf, key_col, vec_col, k)
    return _stable_score_col(out, rerank, score_col)


def kmeans_fit(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 8,
    tol: float = 1e-6,
    persist: bool = False,
):
    """DISTRIBUTED Lloyd's k-means over the FULL table (unlike
    :func:`ivf_train`, which trains driver-side on a bounded sample):
    every iteration assigns every row to its nearest centroid and
    recomputes the means, with the data never leaving the executors.

    Returns ``(centroids, history)`` — the ``k×dim`` float64 centroid
    matrix and the per-iteration inertia (sum of squared distances,
    evaluated against the centroids each assignment used). Lloyd's
    guarantee — inertia is NON-INCREASING across iterations — is what
    the full-hash ``kmeans_invariants`` query pins.

    Scale shape (the iterative-algorithm pattern, zero shuffles):

    1. Init is deterministic and bounded: the ``k`` lowest-keyed
       vectors via a distributed TakeOrdered (each partition ships
       only its local top-k).
    2. Per iteration, the ``k×dim`` centroid matrix (KBs) ships in
       the task closure; ONE Arrow-batched ``mapInPandas`` pass emits
       per-partition partials — (cluster, member count, coordinate
       sums, SSE) — so each task returns ≤ k rows no matter how many
       vectors it scanned (map-side combine taken to the limit).
    3. The driver merges ``partitions × k`` tiny rows and forms the
       new means. No groupBy, no shuffle, no driver pass over data.
    4. Early exit when inertia improves by less than ``tol``
       (relative). An emptied cluster keeps its previous centroid
       (deterministic, no reseeding randomness).

    Total driver traffic per iteration: ``partitions × k × (dim+3)``
    float64s — independent of row count, same at 100 TB as at 1 GB.

    ``persist=True`` pins the projected vector column in executor
    memory/disk for the duration of the fit (unpersisted before
    returning): every iteration re-scans the source otherwise — the
    correct default at 100 TB, where the vectors don't fit cluster
    memory and the scan is the cheap part, but a real win when they
    do (each iteration then reads the cached single column instead
    of re-decoding parquet).
    """
    import numpy as np
    import pandas as pd

    base = valid_vectors(df, vec_col).select(key_col, vec_col)
    init = base.orderBy(key_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"k={k} exceeds the {len(init)} valid vectors")
    cent = np.array([r[1] for r in init], dtype=np.float64)
    dim = cent.shape[1]
    vecs = base.select(F.col(vec_col).alias("_v"))
    if persist:
        from pyspark import StorageLevel

        vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)

    history: list[float] = []
    for _ in range(int(n_iter)):
        c = cent  # bind per-iteration closure

        def partials(batches, _c=c):
            cnt = np.zeros(k, dtype=np.int64)
            sums = np.zeros((k, dim), dtype=np.float64)
            sse = np.zeros(k, dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(list(pdf["_v"]), dtype=np.float64)
                # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2, argmin over c
                d2 = (
                    (m * m).sum(axis=1)[:, None]
                    - 2.0 * (m @ _c.T)
                    + (_c * _c).sum(axis=1)[None, :]
                )
                assign = np.argmin(d2, axis=1)
                best = d2[np.arange(len(m)), assign]
                cnt += np.bincount(assign, minlength=k)
                sse += np.bincount(assign, weights=np.maximum(best, 0.0),
                                   minlength=k)
                for j in range(dim):
                    sums[:, j] += np.bincount(
                        assign, weights=m[:, j], minlength=k
                    )
            # long form so the reduce is a plain groupBy SUM: j >= 0
            # carries coordinate sums, j = -1 the member count,
            # j = -2 the SSE mass
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(
                        np.arange(k, dtype=np.int32), dim + 2
                    ),
                    "j": np.tile(
                        np.arange(-2, dim, dtype=np.int32), k
                    ),
                    "val": np.concatenate(
                        [
                            np.column_stack(
                                [sse, cnt.astype(np.float64), sums]
                            ).ravel()
                        ]
                    ),
                }
            )

        # reduce IN SPARK: the driver receives exactly k·(dim+2) rows
        # per iteration regardless of partition count (collecting raw
        # partials would pull partitions × k × dim floats through the
        # driver — ~400 MB/iteration at 100k partitions)
        p = (
            vecs.mapInPandas(partials, "cluster int, j int, val double")
            .groupBy("cluster", "j")
            .agg(F.sum("val").alias("val"))
            .toPandas()
        )
        cnt = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim), dtype=np.float64)
        inertia = 0.0
        for cl, j, v in zip(p["cluster"], p["j"], p["val"]):
            if j == -2:
                inertia += float(v)
            elif j == -1:
                cnt[cl] += int(round(v))
            else:
                sums[cl, j] += float(v)
        history.append(inertia)
        new = cent.copy()  # emptied clusters keep their centroid
        nz = cnt > 0
        new[nz] = sums[nz] / cnt[nz, None]
        converged = (
            len(history) >= 2
            and history[-2] - history[-1] <= tol * max(history[-2], 1.0)
        )
        cent = new
        if converged:
            break
    if persist:
        vecs.unpersist()
    return cent, history


def kmeans_assign(
    df: DataFrame,
    centroids,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid: returns
    ``(key_col, cluster, dist_sq)``. The ``k×dim`` matrix ships in
    the task closure; one Arrow-batched pass, no shuffle, no join —
    the same kernel shape :func:`kmeans_fit` iterates."""
    import numpy as np
    import pandas as pd

    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    k = cent.shape[0]
    kt = df.schema[key_col].dataType.simpleString()

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["_v"]), dtype=np.float64)
            d2 = (
                (m * m).sum(axis=1)[:, None]
                - 2.0 * (m @ cent.T)
                + (cent * cent).sum(axis=1)[None, :]
            )
            assign = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "key": pdf["key"],
                    "cluster": assign.astype(np.int32),
                    "dist_sq": np.maximum(
                        d2[np.arange(len(m)), assign], 0.0
                    ),
                }
            )

    return (
        valid_vectors(df, vec_col)
        .select(F.col(key_col).alias("key"), F.col(vec_col).alias("_v"))
        .mapInPandas(probe, f"key {kt}, cluster int, dist_sq double")
        .withColumnRenamed("key", key_col)
    )
