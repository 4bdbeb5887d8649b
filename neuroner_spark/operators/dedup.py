"""Document deduplication operators: exact, n-gram Jaccard, MinHash
banding, SimHash (SURVEY.md extension set for training-data pipelines).

Scale notes (the whole point of these shapes):
- Exact dedup: one hash-groupBy on a 16-byte key — the cheapest
  possible shuffle; dominated by the parquet scan.
- Shingle/MinHash/SimHash default to the engine-portable ``hash64``
  (md5-prefix) so every stage has a DuckDB-oracle twin; every operator
  takes ``fast_hash=True`` for the pure-Spark production path
  (``xxhash64``, ~3x cheaper per scan, identical pair/bucket behavior
  — tested — but different hash values than the oracle family).
- Near-dup candidate generation NEVER does an all-pairs join: pairs
  come from equi-joins on shingle / band / simhash keys, so the
  shuffle is proportional to (docs × shingles), not docs².
- Frequent-shingle blowup (stopword shingles shared by millions of
  docs) is capped by dropping shingles with document-frequency above
  ``max_df`` — standard LSH practice and essential at 100 TB.

Bucket-pairing kernel.  Every near-dup family (minhash bands, simhash
blocks, winnowing fingerprints here; hyperplane-LSH tables and
embedding blocks in ``similarity``) turns its bucketed frame into
clusters with the same three functions:

- ``capped_pairs``: one sizes aggregation splits buckets on
  ``max_bucket`` (``capped_buckets``); the within-cap rows join
  themselves on the bucket keys with a < b, carrying any columns the
  family's post-filter reads (band count, Hamming verify,
  ``min_shared``, cosine).
- ``star_edges``: each member of an over-cap bucket links to the
  bucket's ``keep_id`` (its min id) — O(bucket) rows, never pairs.
- ``keep_one``: connected components over the edges, then one row per
  id with component = min member and keep = (component == id).

Over-cap buckets follow one of two rules, chosen by calling
``star_edges`` or not.  Minhash bands and LSH tables encode whole-doc
(whole-vector) similarity, so an over-cap bucket IS one duplicate
cluster and is star-edged.  Simhash blocks and winnowing fingerprints
witness only part of a doc (a block of signature bits, a short
substring), so an over-cap bucket is key-space saturation or a common
phrase and is dropped; it surfaces in the family's giant side output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuroner_spark.functions.text_analysis import fingerprint, hash28, hash64, ws_tokens
from neuroner_spark.operators.components import connected_components

# Prime 2^31-1 for the universal-hash family (a*x+b) mod p over 28-bit
# inputs: a < 2^31, x < 2^28 keeps a*x < 2^59 — no int64 overflow under
# Spark 4's default ANSI mode, and identical in DuckDB BIGINT math.
PRIME_31 = (1 << 31) - 1
# Pinned (a, b) parameters for k=8 minhash permutations (odd a's).
MINHASH_PARAMS = [
    (1103515245, 12345),
    (214013, 2531011),
    (69069, 1234567),
    (1664525, 1013904223),
    (22695477, 1),
    (134775813, 1),
    (1103515211, 777777),
    (314159265, 2718281),
]


def ensure_sharded(docs: DataFrame, id_col: str) -> DataFrame:
    """Defensive re-shard for under-split inputs (same rule as
    ``tokenize``): the per-token/shingle hash work below is the map
    side of every dedup operator, and a single-split input (one giant
    file / single-row-group parquet) would run it on one task.
    Well-sharded inputs return unchanged — no shuffle added at scale.

    Public utility — also used by the similarity operators and the
    relational catalog's document scans."""
    sc = docs.sparkSession.sparkContext
    target = sc.defaultParallelism
    if docs.rdd.getNumPartitions() < max(2, target // 2):
        return docs.repartition(target, F.xxhash64(F.col(id_col)))
    return docs


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by normalized-text fingerprint.
    Output: (fingerprint, keep_id, n_dups) for groups with n_dups >= 1."""
    fp = docs.select(
        F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs")
    )


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text", fast_hash: bool = False) -> DataFrame:
    """Distinct word-n-gram shingles per doc: (doc_id, shingle_hash).

    Built JVM-side: split -> transform over a positions sequence ->
    explode -> distinct. No UDF.
    """
    grams = _gram_array(text_col, n)
    return (
        ensure_sharded(docs, id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("shingle"))
        .select("doc_id", hash64(F.col("shingle"), fast=fast_hash).alias("shingle_hash"))
        .distinct()
    )


def _gram_array(text_col: str, n: int):
    """array of word-n-gram strings; empty for docs with < n tokens
    (guarded: Spark sequence(0, -1) would DESCEND, not be empty)."""
    toks = ws_tokens(F.lower(F.col(text_col)))
    count = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(count > 0, grams).otherwise(F.array().cast("array<string>"))


def shingles28(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text", fast_hash: bool = False) -> DataFrame:
    """Shingles hashed to 28 bits (for minhash universal-hash math).

    Deliberately NOT distinct()ed (r6): the only consumer is
    ``minhash_signatures``, whose per-doc min() is idempotent over
    duplicate shingles — the signatures are byte-identical either way,
    and the distinct was a full explosion-sized shuffle (~40-100 rows
    per doc) standing in front of a groupBy that only ships k=8 longs
    per doc after map-side partial aggregation.  Measured at 150k
    docs/local[8]: banding 12.9 -> 8.4 s warm (the remaining wall is
    the explode+hash map work itself).  Set-semantics consumers
    (exact Jaccard) use ``shingles``, which keeps its distinct."""
    grams = _gram_array(text_col, n)
    return (
        ensure_sharded(docs, id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("shingle"))
        .select("doc_id", hash28(F.col("shingle"), fast=fast_hash).alias("shingle_hash"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    fast_hash: bool = False,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, candidates from a
    shingle equi-join. Output: (a, b, jaccard) with a < b.

    Output-size caveat (measured at a 10x-clone sweep): this is the
    EXACT-verification generator — its output is the true pair set, so
    a clone-heavy corpus yields quadratically many genuine pairs per
    duplicate cluster (k clones = k(k-1)/2 pairs, all jaccard 1.0).
    That is correct but wasteful; the pipeline answer is to run
    ``exact_dedup`` FIRST (as ``run_corpus_prep`` does) so identical
    texts collapse before pairing, and to use ``near_dedup_corpus``
    (components + keep-one, linear in cluster size) when the goal is
    the deduplicated corpus rather than the pair list.
    """
    # localCheckpoint, not cache() (r7): the shingle frame branches 3x
    # (df-counts, semi-join probe, sizes); eager checkpoint blocks read
    # back without the columnar-cache encode/decode and without the
    # first-consumer materialization race — measured 1.62 -> 1.25 s at
    # sf0.1.  Same pinned-storage footprint as the cache it replaces.
    sh = shingles(docs, n, id_col, text_col, fast_hash).localCheckpoint()
    df_counts = sh.groupBy("shingle_hash").agg(F.count("*").alias("df"))
    sh_f = sh.join(df_counts.filter(F.col("df") <= max_df), "shingle_hash", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh_f.select(F.col("doc_id").alias("a"), "shingle_hash")
    b = sh_f.select(F.col("doc_id").alias("b"), "shingle_hash")
    inter = (
        a.join(b, "shingle_hash")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    with_sizes = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "sz_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "sz_b"), "b")
    )
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        with_sizes.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_signatures(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text", fast_hash: bool = False) -> DataFrame:
    """k=8 MinHash signature per doc: (doc_id, h0..h7).

    One groupBy computes all k mins (map-side partial agg does the
    heavy lifting — the shuffle carries k longs per doc).
    """
    sh = shingles28(docs, n, id_col, text_col, fast_hash)
    aggs = [
        F.min((F.col("shingle_hash") * F.lit(a % PRIME_31) + F.lit(b)) % F.lit(PRIME_31)).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_banded(
    docs: DataFrame,
    n: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    fast_hash: bool = False,
) -> DataFrame:
    """Band the k=8 MinHash signature into ``bands`` bands of
    k/bands rows each.  Output: (doc_id, band_id, band_hash)."""
    sig = minhash_signatures(docs, n, id_col, text_col, fast_hash)
    rows_per_band = len(MINHASH_PARAMS) // bands
    band_structs = []
    for bi in range(bands):
        cols = [F.col(f"h{bi * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(F.lit(bi).alias("band_id"), hash64(F.concat_ws("_", *[c.cast("string") for c in cols]), fast=fast_hash).alias("band_hash"))
        )
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bd")).select(
        "doc_id", F.col("bd.band_id").alias("band_id"), F.col("bd.band_hash").alias("band_hash")
    )


def capped_buckets(banded: DataFrame, keys: list[str], max_bucket: int | None, id_col: str = "doc_id"):
    """Split a bucketed frame on bucket size: (within-cap rows,
    over-cap bucket summary).  Pairing a bucket is quadratic in its
    size, and web corpora have ~10^6-member boilerplate duplicate
    clusters — one hot band would emit 10^11 pairs.  Buckets above
    ``max_bucket`` are therefore never paired; they surface in the
    giant-bucket side output (n_docs, keep_id = min id), which each
    family either star-edges or drops (module docstring).

    Public utility — ``capped_pairs``, ``star_edges`` and every
    family's giant side output are built on it.

    r6 ingest-floor fix: ONE sizes aggregation carries both the count
    (the cap predicate) and min(id) (the giants' keep_id) — the
    previous shape aggregated sizes twice (count-only for the cap,
    count+min for giants via an extra join+groupBy), two shuffles and
    a join where one aggregation suffices.  At the incremental-ingest
    snapshot scale the within-batch half is query-stage-latency-bound
    (BENCH/ingest_floor_profile.json), so dropped stages are the whole
    lever."""
    sizes = banded.groupBy(*keys).agg(
        F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id")
    )
    if max_bucket is None:
        return banded, sizes.filter(F.lit(False))
    small = sizes.filter(F.col("n_docs") <= max_bucket)
    kept = banded.join(small.select(*keys), keys, "left_semi")
    giants = sizes.filter(F.col("n_docs") > max_bucket)
    return kept, giants


def capped_pairs(
    bucketed: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    carry: tuple[str, ...] = (),
    id_col: str = "doc_id",
) -> DataFrame:
    """The within-cap rows of ``bucketed`` joined to themselves on
    ``keys``: one row per (shared bucket, id pair) with a < b.  Output:
    (keys..., a, <c>_a..., b, <c>_b...) for each ``carry`` column c, so
    the family's post-filter can read both sides.  Over-cap buckets are
    never paired (``capped_buckets``)."""
    kept, _ = capped_buckets(bucketed, keys, max_bucket, id_col)

    def side(s: str) -> DataFrame:
        return kept.select(
            F.col(id_col).alias(s), *[F.col(c).alias(f"{c}_{s}") for c in carry], *keys
        )

    return side("a").join(side("b"), keys).filter(F.col("a") < F.col("b"))


def star_edges(
    bucketed: DataFrame, keys: list[str], max_bucket: int | None, id_col: str = "doc_id"
) -> DataFrame:
    """Over-cap buckets as component EDGES instead of pairs: every
    member links to the bucket's ``keep_id`` (its min id) — O(bucket)
    rows where pairing would be O(bucket²).  A 10^6-member boilerplate
    cluster costs 10^6 edge rows here vs 5·10^11 pairs; connected
    components then treats the whole bucket as one duplicate cluster.
    Output: (src, dst) with dst = the bucket's min id, src != dst,
    distinct."""
    _, giants = capped_buckets(bucketed, keys, max_bucket, id_col)
    return (
        bucketed.join(giants.select(*keys, "keep_id"), keys)
        .filter(F.col(id_col) != F.col("keep_id"))
        .select(F.col(id_col).alias("src"), F.col("keep_id").alias("dst"))
        .distinct()
    )


def keep_one(
    edges: DataFrame, all_ids: DataFrame, id_col: str = "doc_id", iteration_log: list | None = None
) -> DataFrame:
    """Connected components over ``edges`` (src, dst), then one row per
    id of the one-column ``all_ids`` frame: (id, component, keep).  The
    component is the cluster's min id; ids on no edge are their own
    component, never dropped; ``keep`` marks each cluster's
    representative."""
    comp = connected_components(edges, iteration_log=iteration_log)
    comp_or_self = F.coalesce(F.col("component"), F.col(id_col))
    return all_ids.join(comp.withColumnRenamed("node", id_col), id_col, "left").select(
        id_col,
        comp_or_self.alias("component"),
        (comp_or_self == F.col(id_col)).alias("keep"),
    )


BAND_KEYS = ["band_id", "band_hash"]


def band_pairs_from_banded(banded: DataFrame, max_bucket: int | None = 1000) -> DataFrame:
    """Pairs from a precomputed (doc_id, band_id, band_hash) frame —
    the shared-scan entry point: a caller wanting pairs AND giant
    buckets computes ``minhash_banded`` once (cache/checkpoint it) and
    derives both, instead of re-scanning the corpus per output.
    Output: (a, b, n_bands_matched) with a < b."""
    return (
        capped_pairs(banded, BAND_KEYS, max_bucket)
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_bands_matched"))
    )


def giant_buckets_from_banded(banded: DataFrame, max_bucket: int | None = 1000) -> DataFrame:
    """Giant-bucket side output from a precomputed banded frame.
    Output: (band_id, band_hash, n_docs, keep_id)."""
    return capped_buckets(banded, BAND_KEYS, max_bucket)[1]


def giant_bucket_edges_from_banded(banded: DataFrame, max_bucket: int | None = 1000) -> DataFrame:
    """``star_edges`` of the over-cap band buckets (union with the
    capped pair edges for the full duplicate graph)."""
    return star_edges(banded, BAND_KEYS, max_bucket)


def near_dedup_corpus(
    docs: DataFrame,
    n: int = 3,
    bands: int = 4,
    max_bucket: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    fast_hash: bool = False,
    warn_giants: bool = True,
    iteration_log: list | None = None,
) -> DataFrame:
    """END-TO-END near-dup corpus dedup — the composition a 100 TB
    training-data pipeline actually runs: MinHash banding -> capped
    candidate pairs + giant-bucket edges (ONE corpus scan, the banded
    frame is materialized once) -> connected components -> keep one
    representative (min doc_id) per duplicate cluster.

    Output: one row per doc — (doc_id, component, keep).  ``keep`` is
    true for the cluster representative; filtering on it yields the
    deduplicated corpus.  Giant buckets (> ``max_bucket`` members) are
    folded in as linear star edges, never pairs, so the r2-class
    quadratic blow-up cannot occur while their members still dedup.

    ``warn_giants``: the no-silent-caps runtime warning costs one tiny
    driver-blocking agg over the checkpointed banded frame.  Cheap,
    but at 10^12 docs even tiny barrier jobs add latency — pipelines
    that ALREADY materialize the giant-bucket side output (corpus_prep
    records it as the ``giant_buckets`` lineage stage, where the
    count is the manifest's ``n_rows``, no extra job) should pass
    ``warn_giants=False``."""
    banded = minhash_banded(docs, n, bands, id_col, text_col, fast_hash).localCheckpoint()
    # no-silent-caps (r3 ADVICE): the banded frame is already
    # materialized, so counting the over-cap buckets costs one tiny agg
    # job — a capped run announces itself without querying side outputs
    n_giants = (
        giant_buckets_from_banded(banded, max_bucket).count()
        if (max_bucket is not None and warn_giants)
        else 0
    )
    if n_giants:
        import logging

        logging.getLogger(__name__).warning(
            "near_dedup_corpus: %d bucket(s) over max_bucket=%s folded in as "
            "star-edge clusters (no pairs emitted for them); "
            "giant_buckets_from_banded lists them",
            n_giants,
            max_bucket,
        )
    all_docs = docs.select(F.col(id_col).cast("long").alias("doc_id")).distinct()
    return near_dedup_from_banded(banded, all_docs, max_bucket, iteration_log=iteration_log)


def near_dedup_from_banded(
    banded: DataFrame,
    all_docs: DataFrame,
    max_bucket: int | None = 1000,
    iteration_log: list | None = None,
) -> DataFrame:
    """The components+keep-one half of ``near_dedup_corpus``, over a
    PRE-MATERIALIZED banded frame (the pipeline entry point: the
    corpus-prep pipeline writes ``banded`` as its own stage and derives
    pairs, giant buckets, and this output from that single scan).
    ``all_docs`` must be a one-column (doc_id:long) frame covering
    every doc — docs absent from ``banded`` (too short to shingle)
    come back as keep=true singletons, never silently dropped."""
    pairs = band_pairs_from_banded(banded, max_bucket).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    giant_edges = giant_bucket_edges_from_banded(banded, max_bucket)
    return keep_one(pairs.union(giant_edges), all_docs, iteration_log=iteration_log)


def incremental_near_dedup(
    new_docs: DataFrame,
    corpus_banded: DataFrame,
    new_banded: DataFrame,
    max_bucket: int | None = 1000,
    id_col: str = "doc_id",
    iteration_log: list | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an ALREADY-INGESTED corpus without
    re-scanning it — the continuous-crawl shape: each snapshot dedups
    against the accumulated corpus, represented ONLY by its
    materialized band-signature table (``minhash_banded`` output, the
    same frame corpus-prep already writes as its ``banded`` lineage
    stage).

    Semantics (same banding discipline as ``near_dedup_corpus``):
      1. new-vs-corpus: a new doc sharing ANY band with an ingested
         doc is a near-dup of the corpus -> ``dup_of_corpus`` with
         ``dup_of`` = the smallest colliding corpus doc.  The corpus
         side is first aggregated to ONE row per (band_id, band_hash)
         — min doc + member count — so a boilerplate band with 10^6
         corpus members joins as one row, never 10^6 (hot bands cost
         O(keys), the cap discipline needs no second knob here).
      2. new-vs-new: survivors run the standard capped-pair/star-edge
         components keep-one among themselves -> ``kept`` or
         ``dup_of_batch`` (``dup_of`` = cluster representative).

    Output: ONE row per new doc — (doc_id, status, dup_of); docs too
    short to shingle come back ``kept`` (no silent drop).  To ingest:
    append the kept docs' rows of the new banded frame to the
    signature store (``minhash_banded(kept).`` or semi-join the batch
    frame on the kept ids) — the next snapshot then dedups against
    them too.  Doc ids must be globally unique across snapshots (url
    hash at web scale).

    Scale: one scan of the new batch (banded), one equi-join against
    the compact band index (shuffle on band_hash, never on text),
    components only over the new batch's survivors.  The corpus scan
    is avoided entirely — at 10^12 ingested docs the band index is the
    only corpus-sized input, and it arrives pre-aggregated (or
    maintained incrementally as a keyed table).

    ``new_banded``: the batch's banded frame, the ``minhash_banded``
    output for exactly ``new_docs`` under the corpus's (n, bands,
    fast_hash).  It is read twice (corpus hits, survivors), so pass it
    materialized (the snapshot store persists it and appends the same
    frame — one scan, not two).
    """
    band_index = corpus_banded.groupBy(*BAND_KEYS).agg(F.min("doc_id").alias("first_doc"))
    hits = (
        new_banded.join(band_index, BAND_KEYS)
        .groupBy("doc_id")
        .agg(F.min("first_doc").alias("dup_of"))
    )
    all_new = new_docs.select(F.col(id_col).cast("long").alias("doc_id")).distinct()
    surviving_banded = new_banded.join(hits.select("doc_id"), "doc_id", "left_anti")
    surv_docs = all_new.join(hits.select("doc_id"), "doc_id", "left_anti")
    within = near_dedup_from_banded(
        surviving_banded, surv_docs, max_bucket, iteration_log=iteration_log
    )
    return hits.select(
        "doc_id", F.lit("dup_of_corpus").alias("status"), "dup_of"
    ).unionByName(
        within.select(
            "doc_id",
            F.when(F.col("keep"), F.lit("kept"))
            .otherwise(F.lit("dup_of_batch"))
            .alias("status"),
            F.when(F.col("keep"), F.lit(None).cast("long"))
            .otherwise(F.col("component"))
            .alias("dup_of"),
        )
    )


def simhash(docs: DataFrame, bits: int = 16, id_col: str = "doc_id", text_col: str = "text", fast_hash: bool = False) -> DataFrame:
    """SimHash over whitespace tokens: per bit, sign of the sum of
    (2*bit-1) across token hashes. Output: (doc_id, simhash:long).

    Shape: one token explode, then ONE groupBy computing all ``bits``
    bit-sums as separate map-side-combined aggregates — the shuffle
    carries ``bits`` longs per doc, not docs × tokens × bits exploded
    rows (the previous shape; 16x the shuffle volume at web scale).
    All JVM-side.
    """
    # NO ensure_sharded here (measured, best-of-5 at sf0.1: 0.61 s unsharded
    # vs 0.98 s sharded): simhash's map side is one cheap hash per
    # token and the 16 bit-sum aggregates parallelize after the groupBy
    # shuffle anyway — an extra full-text exchange only adds latency.
    # The shingle paths (minhash/jaccard) keep it: their n-gram
    # construction + distinct is the expensive map side (2.1 -> 0.74 s).
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    ).select("doc_id", hash64(F.col("token"), fast=fast_hash).alias("th"))
    bit_sums = [
        F.sum(
            F.expr(f"shiftright(th, {b})").bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"_s{b}")
        for b in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*bit_sums)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        # shiftleft(1L, b) instead of a python 1 << b literal: bit 63
        # wraps to Long.MIN_VALUE JVM-side (two's complement), where
        # the python int literal would overflow lit(); identical for
        # b <= 62, and it makes bits=64 signatures (Hamming pairing) legal
        sim = sim + F.when(
            F.col(f"_s{b}") > 0, F.expr(f"shiftleft(1L, {b})")
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_id", sim.alias("simhash"))


def simhash_buckets(docs: DataFrame, bits: int = 16, id_col: str = "doc_id", text_col: str = "text", fast_hash: bool = False) -> DataFrame:
    """Near-dup buckets: docs sharing an identical simhash."""
    sh = simhash(docs, bits, id_col, text_col, fast_hash)
    return (
        sh.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


BLOCK_KEYS = ["block_id", "block_val"]


def blocked_from_signatures(
    sig: DataFrame, bits: int = 64, max_hamming: int = 3, n_blocks: int | None = None
) -> DataFrame:
    """Pigeonhole table keys for Hamming-distance pairing over a
    (doc_id, simhash) frame (Manku, Jain & Sarma, WWW 2007 "Detecting
    near-duplicates for web crawling" §3).  Split the b-bit signature
    into ``n_blocks`` disjoint blocks; d flipped bits touch at most d
    blocks, so two signatures within Hamming distance d agree exactly
    on SOME (n_blocks - d)-subset of blocks — one table per subset,
    keyed on that subset's concatenated values, catches every such
    pair via an equi-join.  Never an all-pairs comparison, and
    hash-key collisions can only ADD candidates (the exact bit_count
    verify removes them), so recall stays 1.0 within the bucket cap.

    Sizing (the 100x-scale knob): effective key width is
    (n_blocks - d) * bits / n_blocks bits.  The default
    ``n_blocks = d + 1`` keys on a single block — 16 bits at
    bits=64/d=3, fine to ~10^7 docs (random-collision buckets stay
    far under max_bucket).  At web scale pick n_blocks so
    2^key_width >> corpus size at the cost of C(n_blocks, d) tables:
    e.g. n_blocks=8, d=3 -> 40-bit keys, 56 tables — Manku et al.'s
    actual operating point (§3.1.1).  Table count is guarded at 64.

    This is the shared-scan frame (like ``minhash_banded``): compute
    once from ``simhash`` signatures (``simhash_near_dedup``
    checkpoints them), derive pairs AND the giant-block side output
    from it.  Output: (doc_id, simhash, block_id, block_val) —
    block_id numbers the table (block subset), block_val is the table
    key."""
    import itertools
    import math

    d = max_hamming
    b = n_blocks if n_blocks is not None else d + 1
    if not (d < b <= bits):
        raise ValueError(f"need max_hamming < n_blocks <= bits, got d={d}, b={b}, bits={bits}")
    n_tables = math.comb(b, d)
    if n_tables > 64:
        raise ValueError(
            f"C({b},{d}) = {n_tables} tables — pick a smaller n_blocks "
            "(each doc ships one row per table)"
        )
    base, rem = divmod(bits, b)
    block_vals, lo = [], 0
    for i in range(b):
        width = base + (1 if i < rem else 0)
        mask = (1 << width) - 1
        block_vals.append(
            F.expr(f"shiftrightunsigned(simhash, {lo})").bitwiseAND(
                F.lit(mask).cast("long")
            )
        )
        lo += width
    tables = []
    for tid, subset in enumerate(itertools.combinations(range(b), b - d)):
        if b == d + 1:
            # single-block tables: keep the raw block value (readable,
            # and identical semantics to hashing one value)
            key = block_vals[subset[0]]
        else:
            key = F.xxhash64(F.lit(tid), *[block_vals[i] for i in subset])
        tables.append(F.struct(F.lit(tid).alias("block_id"), key.alias("block_val")))
    return sig.select(
        "doc_id", "simhash", F.explode(F.array(*tables)).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.block_id").alias("block_id"), F.col("bk.block_val").alias("block_val"))


def simhash_pairs_from_blocked(
    blocked: DataFrame, max_hamming: int = 3, max_bucket: int | None = 1000
) -> DataFrame:
    """Verified near-dup pairs from a precomputed blocked frame: the
    block equi-join generates candidates (bounded by ``max_bucket``
    per block value, same hot-key discipline as every pairing path in
    this module — over-cap blocks surface via
    ``capped_buckets(blocked, BLOCK_KEYS, max_bucket)``),
    then ONE exact bit_count(a XOR b) <= d filter verifies.  Within
    the cap, recall is 1.0 by the pigeonhole construction and
    precision is exact — no estimation anywhere.
    Output: (a, b, hamming), a < b, distinct."""
    return (
        capped_pairs(blocked, BLOCK_KEYS, max_bucket, carry=("simhash",))
        .select(
            "a",
            "b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dedup(
    docs: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    fast_hash: bool = False,
    max_bucket: int | None = 1000,
    iteration_log: list | None = None,
    signatures: DataFrame | None = None,
    all_docs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end SimHash near-dedup: Manku §4's dedup-then-pair
    discipline composed with this module's components+keep-one shape.

      1. signatures, materialized ONCE (localCheckpoint — the frame
         branches 3x below); pass ``signatures`` (a precomputed,
         already-materialized (doc_id, simhash) frame) when the
         caller also needs the signatures, so the wide bit-sum
         aggregate runs exactly once
      2. exact-signature piles -> star edges to the pile min: hamming
         0 is EXACT evidence, safe to merge unverified, O(members) —
         this is where web boilerplate clones collapse
      3. ONE representative per distinct signature enters the blocked
         pairing; verified (bit_count <= d) pairs connect piles
      4. over-cap block values among the representatives are DROPPED
         from pairing, never star-edged: a block value shared by
         > max_bucket DISTINCT signatures witnesses key-space
         saturation (birthday collisions at |signatures| approaching
         2^key_width), not duplication — the r6 500k-doc measurement
         caught unverified giant-block star edges chaining 5,000
         distinct base docs into 184 components before this rule;
         same lesson as winnowing's hot-fingerprint drop (r5).  The
         durable fix at scale is widening keys via ``n_blocks``.
      5. connected components over pile + pair edges; keep =
         (component == doc_id).  Docs with no tokens (empty text)
         never reach the signature groupBy and come back keep=true —
         no silent drops.

    ``all_docs`` (r7): a pre-deduplicated one-column (doc_id) frame
    covering the doc universe — pass it when the caller already holds
    one (e.g. the materialized ``signatures`` frame's ids, when every
    doc is known to tokenize) so the default ``docs`` re-scan +
    distinct exchange is skipped.  Callers that pass ``signatures``-
    derived ids accept that empty-text docs (absent from the signature
    groupBy) drop from the output — fine when the consumer inner-joins
    on signatures anyway.

    Output: (doc_id, component, keep)."""
    sig = (
        signatures
        if signatures is not None
        else simhash(docs, bits, id_col, text_col, fast_hash).localCheckpoint()
    )
    piles = sig.groupBy("simhash").agg(F.min("doc_id").alias("rep_id"))
    pile_edges = (
        sig.join(piles, "simhash")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("doc_id").alias("src"), F.col("rep_id").alias("dst"))
    )
    reps = piles.select(F.col("rep_id").alias("doc_id"), "simhash")
    blocked = blocked_from_signatures(reps, bits, max_hamming, n_blocks)
    pairs = simhash_pairs_from_blocked(blocked, max_hamming, max_bucket).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    if all_docs is None:
        all_docs = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return keep_one(pairs.union(pile_edges), all_docs, iteration_log=iteration_log)


def simhash_giant_blocks(
    signatures: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Over-cap pigeonhole block values among the DISTINCT-signature
    representatives — the no-silent-caps audit side output for the
    block values ``simhash_near_dedup`` drops from pairing (key-space
    saturation, see its docstring step 4).  Takes the same
    pre-materialized (doc_id, simhash) frame the dedup consumes, so a
    pipeline derives dedup AND audit from one scan.
    Output: (block_id, block_val, n_docs, keep_id)."""
    piles = signatures.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    blocked = blocked_from_signatures(
        piles.select("doc_id", "simhash"), bits, max_hamming, n_blocks
    )
    return capped_buckets(blocked, BLOCK_KEYS, max_bucket)[1]


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    fast_hash: bool = False,
) -> DataFrame:
    """Rolling-hash document fingerprints by WINNOWING (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003 — the MOSS algorithm): hash every
    character ``k``-gram of the normalized text, then keep the minimum
    hash of each window of ``w`` consecutive k-gram hashes,
    de-duplicated.  Guarantee: two documents sharing any substring of
    length >= w + k - 1 share at least one fingerprint, and
    fingerprints are LOCAL — an edit only perturbs fingerprints whose
    windows touch it (unlike the whole-document ``fingerprint``).

    Output: (doc_id, fp) — one row per selected fingerprint, the
    partial-overlap dedup key family (plagiarism / quotation / mirror
    detection, finer-grained than shingle Jaccard).

    Shape: the k-gram hashing and windowed-min selection happen INSIDE
    one row via higher-order functions (transform + array_min +
    array_distinct) — whole-stage-codegen'd, no UDF, no shuffle until
    the output explode; the result is shuffled only by whatever
    consumes it (typically a groupBy(fp) equi-join, linear like the
    shingle paths, never all-pairs)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    n_grams = F.length(norm) - F.lit(k - 1)
    kgrams = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: hash64(norm.substr(i, F.lit(k)), fast=fast_hash),
        ),
    ).otherwise(F.array().cast("array<long>"))
    docs2 = ensure_sharded(docs, id_col).select(
        F.col(id_col).alias("doc_id"), kgrams.alias("_kh")
    )
    n_windows = F.size(F.col("_kh")) - F.lit(w - 1)
    selected = F.when(
        n_windows > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda i: F.array_min(F.slice(F.col("_kh"), i, w)),
            )
        ),
        # short docs (fewer than w k-grams): keep the global min so no
        # doc is silently unfingerprinted (standard winnowing practice)
    ).otherwise(
        F.when(F.size(F.col("_kh")) > 0, F.array(F.array_min(F.col("_kh")))).otherwise(
            F.array().cast("array<long>")
        )
    )
    return docs2.select("doc_id", F.explode(selected).alias("fp"))


def winnow_components_from_fps(
    fps: DataFrame,
    all_docs: DataFrame,
    min_shared: int = 2,
    max_bucket: int | None = 1000,
    iteration_log: list | None = None,
) -> DataFrame:
    """Partial-overlap dedup components over a PRE-MATERIALIZED
    winnowing-fingerprint frame: fingerprint equi-join for pairs (docs
    sharing >= ``min_shared`` fingerprints are partial-overlap
    duplicates), connected components, keep min-id.

    Over-``max_bucket`` fingerprint buckets are DROPPED from pairing —
    deliberately NOT star-edged like the banded path's giant buckets.
    The evidence strength differs: a minhash band encodes WHOLE-DOC
    similarity, so an over-cap band bucket really is one duplicate
    cluster; a single winnowing fingerprint witnesses only an
    ~(k+w-1)-char shared substring, and a fingerprint shared by more
    docs than ``max_bucket`` is almost always a common phrase
    ("subscribe to our newsletter"), i.e. stopword-grade noise.
    Star-edging such buckets merges unrelated documents — measured on
    a 500k-doc synthetic corpus, it collapsed the ENTIRE corpus to one
    keep.  Dropping them is the same discipline as ``max_df`` on
    shingles; the dropped buckets surface in ``winnow_giant_fps`` (and
    the pipeline's ``winnow_giant_fps`` lineage stage), and genuine
    whole-document boilerplate piles are the BANDED stage's job, which
    corpus-prep always runs first.

    ``all_docs`` must be a one-column (doc_id:long) frame covering
    every doc — docs absent from ``fps`` (shorter than k chars) come
    back as keep=true singletons, never silently dropped.
    Output: (doc_id, component, keep)."""
    pairs = (
        capped_pairs(fps, ["fp"], max_bucket)
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return keep_one(pairs, all_docs, iteration_log=iteration_log)


def winnow_giant_fps(fps: DataFrame, max_bucket: int | None = 1000) -> DataFrame:
    """Over-cap fingerprint buckets from a pre-materialized winnowing
    frame — the no-silent-caps audit side output for the fingerprints
    ``winnow_components_from_fps`` DROPS as common-phrase noise (see
    its docstring for why they are dropped, not star-edged).
    Output: (fp, n_docs, keep_id)."""
    return capped_buckets(fps, ["fp"], max_bucket)[1]


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    flag_threshold: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    fast_hash: bool = False,
) -> DataFrame:
    """Training-set decontamination (GPT-3 appendix C / PaLM style):
    flag corpus docs sharing word-``n``-grams with a benchmark/eval
    set.  Output: (doc_id, n_shingles, n_contaminated,
    contaminated_frac, flagged) — one row per doc, including docs too
    short to shingle (no silent drop past the gate).

    Plan: the benchmark is the SMALL side by construction (eval sets
    are thousands of docs; the corpus is the 10^12 side), so its
    distinct shingle set broadcasts and the corpus-side check is one
    broadcast semi join on the exploded shingles — no shuffle of the
    corpus beyond the per-doc count agg."""
    corpus_sh = shingles(docs, n, id_col, text_col, fast_hash)
    bench_sh = shingles(benchmark, n, "doc_id", bench_text_col, fast_hash).select(
        "shingle_hash"
    ).distinct()
    hits = corpus_sh.join(F.broadcast(bench_sh), "shingle_hash", "left_semi")
    per_doc = corpus_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    dirty = hits.groupBy("doc_id").agg(F.count("*").alias("n_contaminated"))
    all_docs = docs.select(F.col(id_col).alias("doc_id")).distinct()
    frac = F.coalesce("n_contaminated", F.lit(0)) / F.coalesce("n_shingles", F.lit(1))
    return (
        all_docs.join(per_doc, "doc_id", "left")
        .join(dirty, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(frac, 6).alias("contaminated_frac"),
            (frac > flag_threshold).alias("flagged"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    n_sents: int = 3,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    fast_hash: bool = False,
) -> DataFrame:
    """C4-style duplicated-span detection (Raffel et al. 2020 §2.2
    dropped any three-sentence span occurring more than once in the
    corpus): per doc, how many of its sliding ``n_sents``-sentence
    spans also occur in OTHER docs.

    Output: (doc_id, n_spans, n_dup_spans, dup_span_frac).  Plan: one
    explode, one doc-distinct, one df-count groupBy, one semi-join —
    shuffle keys are span hashes, never doc pairs (linear, not
    quadratic, like the shingle path above).
    """
    sents = F.split(F.col(text_col), r"(?<=[.!?])\s+")
    count = F.size(sents) - F.lit(n_sents - 1)
    spans = F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.array_join(F.slice(sents, i + 1, n_sents), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = (
        ensure_sharded(docs, id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(spans).alias("span"))
        .select("doc_id", hash64(F.lower(F.col("span")), fast=fast_hash).alias("span_hash"))
        .distinct()
    )
    df_counts = per_doc.groupBy("span_hash").agg(F.count("*").alias("df"))
    dup = per_doc.join(
        df_counts.filter(F.col("df") >= min_df), "span_hash", "left_semi"
    ).groupBy("doc_id").agg(F.count("*").alias("n_dup_spans"))
    totals = per_doc.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    # span-less docs (fewer than n_sents sentences) must still emit a
    # row — a downstream quality gate that never sees them would pass
    # them unexamined (same silent-drop hazard repetition_metrics'
    # LEFT-join guards against)
    all_docs = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return (
        all_docs.join(totals, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.round(F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 6))
            .alias("dup_span_frac"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n_sents: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    fast_hash: bool = False,
) -> DataFrame:
    """C4's ACTUAL remedy (Raffel et al. 2020 §2.2: 'we discarded all
    but one of any three-sentence span occurring more than once'):
    keep the first occurrence (min (doc_id, position)) of every
    duplicated ``n_sents``-sentence span, delete the sentences of
    every other occurrence, and rebuild each document's text.

    Output: (doc_id, text, n_removed_sentences) — one row per input
    doc; untouched docs return with n_removed_sentences = 0.  Rebuilt
    text joins sentences with a single space (inter-sentence
    whitespace normalizes, sentence bytes are preserved).

    Plan shape: shuffles are keyed by span_hash (occurrence min/count)
    and doc_id (sentence reassembly) — linear in corpus size, never
    doc-pairs; the sentence table is built once and reused for the
    anti-join + rebuild.  Removal is idempotent: a second pass finds
    no duplicated spans (tested).  When duplicated spans OVERLAP, the
    keep-first invariant wins: sentences belonging to a kept
    occurrence are never removed, even if they also fall inside a
    removed occurrence of a different span (the removed occurrence
    then loses only its unshared sentences)."""
    sharded = ensure_sharded(docs, id_col)
    sents_tbl = sharded.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), r"(?<=[.!?])\s+")).alias("sidx", "sentence"),
    )
    spans_arr = F.split(F.col(text_col), r"(?<=[.!?])\s+")
    count = F.size(spans_arr) - F.lit(n_sents - 1)
    occ = sharded.select(
        F.col(id_col).alias("doc_id"),
        F.when(count > 0, F.sequence(F.lit(0), count - 1))
        .otherwise(F.array().cast("array<int>"))
        .alias("_is"),
        spans_arr.alias("_s"),
    ).select(
        "doc_id",
        F.explode("_is").alias("sidx0"),
        "_s",
    ).select(
        "doc_id",
        "sidx0",
        hash64(
            F.lower(F.array_join(F.slice(F.col("_s"), F.col("sidx0") + 1, n_sents), " ")),
            fast=fast_hash,
        ).alias("span_hash"),
    )
    firsts = occ.groupBy("span_hash").agg(
        F.count("*").alias("n_occ"), F.min(F.struct("doc_id", "sidx0")).alias("_keep")
    )
    to_remove_occ = (
        occ.join(firsts.filter(F.col("n_occ") >= 2), "span_hash")
        .filter(
            ~(
                (F.col("doc_id") == F.col("_keep.doc_id"))
                & (F.col("sidx0") == F.col("_keep.sidx0"))
            )
        )
        .select("doc_id", "sidx0")
    )
    remove_sents = to_remove_occ.select(
        "doc_id", F.explode(F.sequence(F.col("sidx0"), F.col("sidx0") + n_sents - 1)).alias("sidx")
    ).distinct()
    # OVERLAP guard: a sentence can sit in a kept occurrence of span X
    # AND a removed occurrence of an overlapping span Y in the same
    # doc.  Removing it for Y would delete part of the kept X — the
    # keep-first invariant must win, so sentences of kept duplicated
    # occurrences are anti-joined out of the removal set (the removed
    # Y occurrence then loses only its unshared sentences).
    kept_occ_sents = (
        firsts.filter(F.col("n_occ") >= 2)
        .select(
            F.col("_keep.doc_id").alias("doc_id"),
            F.explode(
                F.sequence(F.col("_keep.sidx0"), F.col("_keep.sidx0") + n_sents - 1)
            ).alias("sidx"),
        )
        .distinct()
    )
    remove_sents = remove_sents.join(kept_occ_sents, ["doc_id", "sidx"], "left_anti")
    kept = sents_tbl.join(remove_sents, ["doc_id", "sidx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sidx", "sentence"))),
                lambda s: s["sentence"],
            ),
            " ",
        ).alias("_text"),
        F.count("*").alias("_n_kept"),
    )
    totals = sents_tbl.groupBy("doc_id").agg(F.count("*").alias("_n_sents"))
    all_docs = docs.select(F.col(id_col).cast(docs.schema[id_col].dataType).alias("doc_id")).distinct()
    return (
        all_docs.join(rebuilt, "doc_id", "left")
        .join(totals, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_text", F.lit("")).alias(text_col),
            (F.coalesce("_n_sents", F.lit(0)) - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed_sentences"),
        )
    )
