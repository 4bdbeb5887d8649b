"""Similarity search over embedding columns (SURVEY.md extension set).

- ``cosine_topk``: brute-force exact top-k — baseline.  The dot
  products are JVM-side (``zip_with`` + ``aggregate``) so the scan
  stays in whole-stage codegen; the top-k is ``orderBy().limit(k)``
  which Spark plans as TakeOrderedAndProject — per-partition heaps of
  size k, never a single-partition sort of the scored corpus.
- ``knn_join_topk``: k-NN for MANY query vectors at once — broadcast
  the (small) query set, one pass over the corpus.
- ``lsh_bucket_pairs``: random-hyperplane LSH — the scale path: docs²
  becomes an equi-join on (plane-sign bucket).  Hyperplane components
  are a deterministic integer formula so the DuckDB oracle can
  reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neuroner_spark.operators.dedup import capped_buckets, capped_pairs, keep_one, star_edges


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _take_topk(scored: DataFrame, k: int) -> DataFrame:
    """Distributed top-k of a scored frame: TakeOrderedAndProject via
    orderBy().limit(k) (each partition keeps a k-heap; only k rows ever
    meet), then rank assigned over the k survivors only.  The rank
    window partitions on vec_id % 1 — constant-valued but NOT foldable
    (a literal would be constant-folded to an empty partition spec and
    re-plan the unpartitioned WindowExec this exists to avoid); it
    touches k rows, not the corpus."""
    top = scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)
    w = Window.partitionBy(F.pmod(F.col("vec_id"), F.lit(1))).orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def cosine_topk(embeddings: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors of one corpus vector.
    Output: (vec_id, cos_sim) — rounded for cross-engine parity."""
    q = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
    )
    return _take_topk(scored, k)


def knn_join_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Top-k corpus neighbors per query vector.

    queries: (q_id, embedding) — MUST be broadcastable (the usual
    shape: a batch of probe vectors vs a huge corpus).
    Output: (q_id, vec_id, cos_sim, rank).
    """
    q = queries.select(F.col("q_id"), F.col("embedding").alias("q_emb"))
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def hyperplane(plane_id: int, dim: int):
    """Deterministic pseudo-random hyperplane as a Column:
    h[j] = ((plane_id*dim + j) * 2654435761 mod 1000)/500 - 1
    — reproducible in ANSI SQL (the Knuth multiplier stays < 2^63)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            ((F.lit(plane_id * dim) + j) * F.lit(2654435761) % F.lit(1000)).cast("double")
            / F.lit(500.0)
            - F.lit(1.0)
        ),
    )


def ivf_index(embeddings: DataFrame, k: int = 16, seed: int = 42):
    """IVF coarse quantizer: KMeans centroids + cell assignment.
    Returns (assigned DataFrame with 'cell', centroids ndarray [k,dim]).

    The scale path for ANN when hyperplane LSH recall is not enough:
    the corpus is partitioned into k cells once; queries probe only the
    nearest ``nprobe`` cells — a broadcast-join-shaped search instead
    of a full scan."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = embeddings.withColumn("features", array_to_vector("embedding"))
    model = KMeans(k=k, seed=seed, featuresCol="features", predictionCol="cell").fit(vecs)
    assigned = model.transform(vecs).drop("features")
    centroids = np.array([np.asarray(c) for c in model.clusterCenters()], dtype=np.float64)
    return assigned, centroids


def ivf_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via IVF: search only the ``nprobe`` cells whose
    centroid is closest to the query. Output (vec_id, cos_sim, rank)."""
    import numpy as np

    assigned, centroids = ivf_index(embeddings, n_cells, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    d = centroids - q[None, :]
    probe_cells = np.argsort((d * d).sum(axis=1))[:nprobe].tolist()
    cand = assigned.filter(F.col("cell").isin(probe_cells))
    q_lit = F.array(*[F.lit(float(x)) for x in q])
    scored = cand.select(
        "vec_id", F.round(cosine(F.col("embedding"), q_lit), 6).alias("cos_sim")
    )
    return _take_topk(scored, k)


def lsh_signatures(embeddings: DataFrame, n_planes: int = 8, dim: int = 64, table: int = 0) -> DataFrame:
    """Random-hyperplane signature: sign bit per plane packed to a long.
    ``table`` offsets the plane ids so multiple independent hash tables
    can be built from the same deterministic family.
    Output: (vec_id, sig)."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        bit = F.when(
            _dot(F.col("embedding"), hyperplane(table * n_planes + p, dim)) > 0,
            F.lit(1 << p).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        sig = sig + bit
    return embeddings.select("vec_id", sig.alias("sig"))


def lsh_all_signatures(embeddings: DataFrame, n_planes: int = 8, dim: int = 64, n_tables: int = 4) -> DataFrame:
    """(vec_id, table, sig) across ``n_tables`` independent tables —
    the shared-scan entry point: compute once (cache/checkpoint), then
    derive pairs (``lsh_pairs_from_signatures``) AND giant buckets
    (``lsh_giants_from_signatures``) without re-scanning the corpus."""
    emb = embeddings.select("vec_id", "embedding")
    sigs = None
    for t in range(n_tables):
        s = lsh_signatures(emb, n_planes, dim, table=t).withColumn("table", F.lit(t))
        sigs = s if sigs is None else sigs.unionByName(s)
    return sigs


def _cosine_verified(cand: DataFrame, embeddings: DataFrame, min_cos: float) -> DataFrame:
    """Exact-cosine verify of candidate (a, b) pairs: (a, b, cos_sim)
    with cos_sim >= ``min_cos``, rounded for cross-engine parity."""
    emb = embeddings.select("vec_id", "embedding")
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("emb_b"))
    return (
        cand.join(ea, "a")
        .join(eb, "b")
        .select("a", "b", F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cos)
    )


def lsh_bucket_pairs(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    min_cos: float = 0.9,
    n_tables: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """ANN candidate pairs: same bucket in ANY of ``n_tables``
    independent hyperplane tables (OR-amplification — a single table
    misses a θ-close pair with prob ≈ n_planes·θ/π, so recall is tuned
    by adding tables, never by widening buckets), then verified by
    exact cosine. Output: (a, b, cos_sim) with a < b, cos >= min_cos.

    Buckets larger than ``max_bucket`` are NOT paired — pairing is
    quadratic in bucket size, and a boilerplate near-dup cluster of
    10^6 vectors would otherwise emit 10^11 pairs from one bucket.
    Recover over-cap buckets (each IS a near-dup cluster) by sharing
    one signature scan: ``lsh_all_signatures`` +
    ``lsh_giants_from_signatures``."""
    sigs = lsh_all_signatures(embeddings, n_planes, dim, n_tables)
    return _cosine_verified(lsh_pairs_from_signatures(sigs, max_bucket), embeddings, min_cos)


LSH_KEYS = ["table", "sig"]


def lsh_pairs_from_signatures(sigs: DataFrame, max_bucket: int | None = 1000) -> DataFrame:
    """Distinct candidate (a, b) pairs from a precomputed
    (vec_id, table, sig) frame, hot buckets capped."""
    return capped_pairs(sigs, LSH_KEYS, max_bucket, id_col="vec_id").select("a", "b").distinct()


def lsh_giants_from_signatures(sigs: DataFrame, max_bucket: int | None = 1000) -> DataFrame:
    """Giant-bucket side output from a precomputed signature frame.
    Output: (table, sig, n_docs, keep_id)."""
    return capped_buckets(sigs, LSH_KEYS, max_bucket, id_col="vec_id")[1]


def embedding_blocked_pairs(
    embeddings: DataFrame,
    block_col: str = "label",
    min_cos: float = 0.2,
    max_block: int | None = 1000,
) -> DataFrame:
    """Exact-cosine near-dup pairs within metadata blocks, block size
    CAPPED: pairing is quadratic per block, and a hot block (one
    dominant label/language/domain at web scale) would otherwise emit
    |block|²/2 pairs — the same r2-class hole the shingle/band/bucket
    generators close with ``max_bucket`` (found superlinear at a 10x
    sweep: 10x vectors -> 108x pairs before the cap).  Blocks over
    ``max_block`` are NOT paired; they surface via
    ``embedding_giant_blocks`` and belong on the LSH/components path
    (``near_dedup_vectors``), which handles them linearly.
    Output: (block_col, a, b, cos_sim) with a < b, cos >= min_cos."""
    # not ``capped_pairs``: capping the narrow (vec_id, block) frame and
    # semi-joining the vectors back is this declared query's plan; the
    # kernel form carries the vectors through the cap and plans one
    # exchange fewer (3 vs 4 at sf0.01), a plan change of its own
    narrow = embeddings.select("vec_id", block_col, "embedding")
    kept, _ = capped_buckets(
        narrow.select("vec_id", block_col), [block_col], max_block, id_col="vec_id"
    )
    in_cap = narrow.join(kept.select("vec_id"), "vec_id", "left_semi")
    a = in_cap.select(F.col("vec_id").alias("a"), block_col, F.col("embedding").alias("emb_a"))
    b = in_cap.select(F.col("vec_id").alias("b"), block_col, F.col("embedding").alias("emb_b"))
    pairs = a.join(b, block_col).filter(F.col("a") < F.col("b"))
    return (
        pairs.select(
            block_col, "a", "b", F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= min_cos)
    )


def embedding_giant_blocks(
    embeddings: DataFrame, block_col: str = "label", max_block: int | None = 1000
) -> DataFrame:
    """Side output for ``embedding_blocked_pairs``' cap: the over-cap
    blocks.  Output: (block_col, n_docs, keep_id)."""
    return capped_buckets(
        embeddings.select("vec_id", block_col), [block_col], max_block, id_col="vec_id"
    )[1]


def near_dedup_vectors(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    min_cos: float = 0.9,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """END-TO-END embedding near-dup dedup — the vector twin of
    ``dedup.near_dedup_corpus``: multi-table LSH bucketing (ONE
    signature scan, checkpointed) -> capped candidate pairs verified by
    exact cosine -> giant buckets folded in as O(members) star edges ->
    connected components -> keep one representative (min vec_id).

    Output: (vec_id, component, keep) — one row per vector.  Giant
    buckets skip the cosine verification (an over-cap bucket is by
    construction a near-identical pile; verifying 10^6 members
    pairwise is the exact quadratic this path exists to avoid)."""
    sigs = lsh_all_signatures(embeddings, n_planes, dim, n_tables).localCheckpoint()
    pairs = _cosine_verified(
        lsh_pairs_from_signatures(sigs, max_bucket), embeddings, min_cos
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    giant_edges = star_edges(sigs, LSH_KEYS, max_bucket, id_col="vec_id")
    all_vecs = embeddings.select(F.col("vec_id").cast("long")).distinct()
    return keep_one(pairs.union(giant_edges), all_vecs, id_col="vec_id")


# --- IVF-PQ: product-quantized ANN (Jegou, Douze, Schmid, "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011) -------------
#
# The memory-bound scale path: raw float32 embeddings at dim=64 cost
# 256 B/vector — 256 TB for a 10^12-vector corpus, which no cluster
# scans per query.  PQ splits each (L2-normalized, cell-residual)
# vector into ``m`` subvectors and stores only the nearest-codeword id
# per subspace: m bytes/vector (m=8 -> 32x compression, 8 TB), and a
# query scans CODES with a per-cell lookup table (ADC) instead of
# floats.  Composition here:
#   ivfpq_index  : KMeans coarse cells (reuses ivf_index) -> residual
#                  r = x/|x| - centroid[cell] -> driver-trained PQ
#                  codebooks (bounded sample) -> mapInPandas encode.
#   ivfpq_search : probe nprobe cells, ADC-score their codes in ONE
#                  Arrow-batched pass (no per-row Python), keep a
#                  ``rerank``-sized candidate pool via
#                  TakeOrderedAndProject, then EXACT cosine re-rank of
#                  the pool against the float vectors (standard
#                  IVFADC+R refinement) — output matches ivf_topk.


def pq_train(vectors, m: int = 8, nbits: int = 8, iters: int = 10, seed: int = 42):
    """Lloyd k-means per subspace over a driver-side ndarray sample.

    vectors: ndarray [n, dim] (the caller bounds n — a quantizer is
    trained on a SAMPLE by design; 10-100k rows saturate 256 codewords
    per subspace).  Returns codebooks ndarray [m, 2**nbits, dim//m].
    """
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    ncode = 1 << nbits
    rng = np.random.default_rng(seed)
    books = np.empty((m, ncode, dsub))
    sub = x.reshape(n, m, dsub)
    for j in range(m):
        xs = sub[:, j, :]
        # seeded init from distinct sample points (codebook padded by
        # jittered repeats when the sample is smaller than the book)
        idx = rng.permutation(n)[:ncode]
        cb = xs[idx]
        if len(cb) < ncode:
            pad = xs[rng.integers(0, n, ncode - len(cb))]
            cb = np.concatenate([cb, pad + rng.normal(0, 1e-4, pad.shape)])
        for _ in range(iters):
            # [n, ncode] distances via |a-b|^2 = |a|^2 - 2ab + |b|^2
            d2 = (
                (xs * xs).sum(1)[:, None]
                - 2.0 * xs @ cb.T
                + (cb * cb).sum(1)[None, :]
            )
            assign = d2.argmin(1)
            for c in range(ncode):
                mask = assign == c
                if mask.any():
                    cb[c] = xs[mask].mean(0)
                else:  # empty cluster: restart on a random sample point
                    cb[c] = xs[rng.integers(0, n)]
        books[j] = cb
    return books


def ivfpq_index(
    embeddings: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    train_sample: int = 20_000,
    iters: int = 10,
):
    """Build the IVF-PQ index over (vec_id, embedding).

    Returns (codes DataFrame (vec_id, cell, codes array<int>),
    centroids ndarray [n_cells, dim], codebooks [m, 2**nbits, dim/m]).

    Vectors are L2-normalized before cell assignment and residual
    encoding, so ADC L2 ordering == cosine ordering downstream.  The
    PQ training sample is DRIVER-BOUNDED (``train_sample`` rows via
    seeded sort-hash sampling — deterministic, partition-count
    independent); encoding itself is one distributed mapInPandas pass.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    unit = embeddings.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("_n")
    ).select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double") / F.col("_n")).alias(
            "embedding"
        ),
    )
    assigned, centroids = ivf_index(unit, n_cells, seed)
    # deterministic bounded sample of residuals for codebook training:
    # xxhash64 orders rows stably regardless of partitioning
    sample_rows = (
        assigned.orderBy(F.xxhash64(F.col("vec_id").cast("string"), F.lit(seed)))
        .limit(train_sample)
        .select("cell", "embedding")
        .collect()
    )
    res = np.array(
        [np.asarray(r["embedding"]) - centroids[r["cell"]] for r in sample_rows]
    )
    books = pq_train(res, m=m, nbits=nbits, iters=iters, seed=seed)
    dim = centroids.shape[1]
    dsub = dim // m
    cent_b = centroids.copy()
    books_b = books.copy()

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].map(np.asarray).values).astype(np.float64)
            r = x - cent_b[pdf["cell"].values]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            rs = r.reshape(len(pdf), m, dsub)
            for j in range(m):
                cb = books_b[j]
                d2 = (
                    (rs[:, j, :] ** 2).sum(1)[:, None]
                    - 2.0 * rs[:, j, :] @ cb.T
                    + (cb * cb).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": pdf["cell"],
                    "codes": list(codes),
                }
            )

    codes = assigned.mapInPandas(
        encode, "vec_id long, cell int, codes array<int>"
    )
    return codes, centroids, books


def ivfpq_search(
    codes: DataFrame,
    centroids,
    codebooks,
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    rerank: int | None = None,
) -> DataFrame:
    """ADC search over a prebuilt IVF-PQ index (the many-queries shape:
    index once, search cheaply).  Output (vec_id, cos_sim, rank) —
    cos_sim EXACT over the re-ranked candidate pool.

    Scale: the scan touches only ``nprobe`` cells of the m-byte codes
    table; the per-query LUT ([nprobe, m, 2**nbits] doubles, ~0.5 MB)
    rides the task closure; the exact re-rank joins a ``rerank``-sized
    (default 4k) id set back to the float table — a broadcast semi
    join, never a second corpus scan."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    m, ncode, dsub = codebooks.shape
    dc = ((centroids - q[None, :]) ** 2).sum(1)
    probe = np.argsort(dc)[:nprobe]
    # LUT[c][j, t] = |(q - centroid_c)_j - codebook[j][t]|^2
    luts = {}
    for c in probe:
        rq = (q - centroids[c]).reshape(m, dsub)
        luts[int(c)] = np.stack(
            [
                ((rq[j][None, :] - codebooks[j]) ** 2).sum(1)
                for j in range(m)
            ]
        )

    probe_list = [int(c) for c in probe]
    jj = np.arange(m)

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_id, out_d2 = [], []
            for c, grp in pdf.groupby("cell"):
                lut = luts[int(c)]
                arr = np.stack(grp["codes"].map(np.asarray).values)
                d2 = lut[jj[None, :], arr].sum(1)
                out_id.append(grp["vec_id"].values)
                out_d2.append(d2)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_id),
                    "d2": np.concatenate(out_d2),
                }
            )

    pool_n = rerank if rerank is not None else 4 * k
    cand = (
        codes.filter(F.col("cell").isin(probe_list))
        .mapInPandas(adc, "vec_id long, d2 double")
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(pool_n)
        .select("vec_id")
    )
    q_lit = F.array(*[F.lit(float(v)) for v in np.asarray(query_vec, dtype=np.float64)])
    scored = embeddings.join(F.broadcast(cand), "vec_id").select(
        "vec_id", F.round(cosine(F.col("embedding"), q_lit), 6).alias("cos_sim")
    )
    return _take_topk(scored, k)


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    rerank: int | None = None,
) -> DataFrame:
    """One-shot convenience: build the IVF-PQ index, then search.
    Same output contract as ``ivf_topk`` (vec_id, cos_sim, rank)."""
    codes, centroids, books = ivfpq_index(
        embeddings, n_cells=n_cells, m=m, nbits=nbits, seed=seed
    )
    return ivfpq_search(
        codes, centroids, books, embeddings, query_vec, k=k, nprobe=nprobe, rerank=rerank
    )


def ivfpq_knn_join(
    codes: DataFrame,
    centroids,
    codebooks,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
) -> DataFrame:
    """Batch k-NN: MANY query vectors against a prebuilt IVF-PQ index —
    the production shape (`knn_join_topk` over 32x-compressed codes).

    queries: (q_id, embedding), broadcastable by contract (a probe
    batch vs a huge corpus — same contract as ``knn_join_topk``).
    Output: (q_id, vec_id, cos_sim, rank), cos_sim EXACT over each
    query's re-ranked pool.

    Distribution: probe-cell selection is a JVM-side broadcast join
    against the (tiny) centroid table — no driver loop over queries;
    ADC scoring is ONE Arrow pass over the codes of probed cells,
    grouping each batch by (q_id, cell) so a [m, 2**nbits] LUT is
    built once per group and applied by fancy-indexing; the exact
    re-rank touches |queries|·rerank rows via broadcast joins.  The
    codes scan stays pruned to the union of probed cells."""
    import numpy as np
    import pandas as pd

    spark = codes.sparkSession
    n_cells, dim = centroids.shape
    m, ncode, dsub = codebooks.shape
    from neuroner_spark.io import local_df

    cent_df = local_df(
        spark,
        [(int(c), centroids[c].tolist()) for c in range(n_cells)],
        "cell int, centroid array<double>",
    )
    qn = queries.select(
        "q_id", "embedding", _norm(F.col("embedding")).alias("_n")
    ).select(
        "q_id",
        F.transform("embedding", lambda v: v.cast("double") / F.col("_n")).alias("q_emb"),
    )
    qd2 = (
        qn.crossJoin(F.broadcast(cent_df))
        .withColumn(
            "q_cell_d2",
            F.aggregate(
                F.zip_with("q_emb", "centroid", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("q_cell_d2"), F.asc("cell"))
    probes = (
        qd2.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("q_id", "cell", "q_emb", "centroid")
    )
    joined = codes.join(F.broadcast(probes), "cell")

    books_b = codebooks.copy()
    jj = np.arange(m)

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for (qid, cell), grp in pdf.groupby(["q_id", "cell"]):
                rq = (
                    np.asarray(grp["q_emb"].iloc[0]) - np.asarray(grp["centroid"].iloc[0])
                ).reshape(m, dsub)
                lut = np.stack(
                    [((rq[j][None, :] - books_b[j]) ** 2).sum(1) for j in range(m)]
                )
                arr = np.stack(grp["codes"].map(np.asarray).values)
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": qid,
                            "vec_id": grp["vec_id"].values,
                            "d2": lut[jj[None, :], arr].sum(1),
                        }
                    )
                )
            yield pd.concat(out)

    scored = joined.mapInPandas(adc, "q_id long, vec_id long, d2 double")
    pool_n = rerank if rerank is not None else 4 * k
    wp = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    pool = (
        scored.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= pool_n)
        .select("q_id", "vec_id")
    )
    exact = (
        embeddings.join(F.broadcast(pool), "vec_id")
        .join(F.broadcast(queries.select("q_id", F.col("embedding").alias("q_raw"))), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_raw")), 6).alias("cos_sim"),
        )
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= k)
    )
