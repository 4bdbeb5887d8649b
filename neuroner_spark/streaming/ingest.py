"""Structured Streaming ingestion (SURVEY.md §2 streaming note — v2
extension; the reference is batch-only, this is the Spark-native path
for continuous Common-Crawl snapshot ingestion).

Shape: ``readStream`` over the pages landing zone -> watermark on
``warc_ts`` (late pages tolerated up to the watermark, then dropped)
-> either
  (a) windowed mention-rate aggregation (monitoring), or
  (b) ``foreachBatch`` running the batch snapshot path (``run_pipeline``
      and the incremental gates) per micro-batch and writing to the
      triples table — exactly-once end-to-end because
      each micro-batch OVERWRITES its own ``batch_id=<n>`` partition:
      a batch retried from the checkpoint after a partial write lands
      on the same path and replaces it, never duplicating rows.

``trigger(availableNow=True)`` drains everything currently in the
source then stops — the offline-testable mode; on a live cluster the
same query runs with a processing-time trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def read_pages_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over the pages landing zone (parquet files
    appear as crawl snapshots land; Iceberg streaming read in prod)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(landing_dir)
    )


def host_rate_windows(pages: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Windowed page-rate per host with late-data watermark: the
    monitoring aggregation (host skew shows up here first)."""
    host = F.regexp_extract("url", r"https?://([^/]+)/", 1)
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), host.alias("host"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "host", "n_pages")
    )


def run_streaming_pipeline(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    alias_dict: DataFrame,
    mention_source: str = "gazetteer",
    bundle: dict | None = None,
    min_quality: float | None = None,
    benchmark: DataFrame | None = None,
    rejects_dir: str | None = None,
    contamination_n: int = 8,
    contamination_threshold: float = 0.05,
    dedup_store_dir: str | None = None,
    verb_lexicon: list[str] | None = None,
    canonical_store_dir: str | None = None,
    incremental_canonical: bool = False,
    sameas_evidence_fn=None,
) -> None:
    """foreachBatch KG pipeline: each micro-batch of pages runs the
    batch snapshot path and writes its own ``batch_id=<n>`` partition
    of the triples table (idempotent under retry; readers see
    ``batch_id`` as a partition column). Drains available input and
    stops (availableNow) — swap the trigger for continuous operation.

    A micro-batch keeps only what belongs to streaming — the intake
    gates, the ``batch_id`` -> snapshot-id mapping and the sinks — and
    calls the code ``run_incremental_kg`` composes for the rest:
      - ``near_dup_decisions``: the near-dup gate (``dedup_store_dir``)
      - ``sameas_evidence`` -> ``run_incremental_canonical``: the
        issued-id merge (``incremental_canonical``)
      - ``run_pipeline``: normalize -> tokenize -> mentions -> link ->
        triples, with its stage manifests, lineage and resume, under
        the stream's one run directory ``{checkpoint_dir}/kg_run``.
        Its ``triples`` stage writes the batch's sink partition
        directly, with its ``_manifest.json`` beside the data.  Resume
        keys on content fingerprints, so each batch overwrites the
        stages whose fingerprint changed, and a retried batch resumes
        the stages its earlier attempt wrote.

    Differences from ``run_incremental_kg``, each on purpose:
      - the canonical snapshot id is ``batch_id + 1`` (batch:
        ``snapshot_id``); snapshot 0 is reserved for an optional
        batch-side seed (``run_incremental_canonical(...,
        snapshot_id=0)``).
      - the triple sink is ``{out_dir}/batch_id=<n>`` (batch:
        ``{store}/triples/snapshot=<k>``).
      - without ``canonical_store_dir`` the canonicalization is
        ``run_pipeline``'s own ``canonical_map(alias_dict)`` stage;
        the dictionary is fixed for the stream, so micro-batch 0 builds
        it (and ``entities``) and later micro-batches resume them.
      - with ``canonical_store_dir`` and no ``incremental_canonical``,
        the issued mapping is snapshotted once at stream start and
        injected as ``canonical=``.
    Linking is exact-only on both paths (``run_pipeline``'s
    ``use_fuzzy=False`` default).

    ``verb_lexicon``: opt-in OpenIE-lite verb predicates, same contract
    as the batch pipeline (``verb_triples_from_mentions``).

    ``canonical_store_dir``: use the incremental issued-id store's
    LATEST mapping (``run_incremental_canonical`` layout) as the
    canonicalization instead of deriving it from the alias dict —
    streaming triples then share one id space with the batch stores,
    and ``read_kg_triples``-style re-keying applies to them too.
    Snapshotted once at stream start (micro-batches within one run see
    one consistent mapping; restart the stream to pick up newer ids)
    and released when the stream stops.  Entities absent from the
    store identity-map, like the batch path.

    ``incremental_canonical=True`` (r6): instead of a read-only
    stream-start snapshot, each micro-batch RUNS
    ``run_incremental_canonical`` against ``canonical_store_dir``
    (required) before building its triples — merges discovered
    mid-stream retire ids immediately, the batch's triples are written
    under the updated mapping, and the retirements land as the
    snapshot's ``superseded`` side output (the append-only audit
    record ``read_streaming_triples`` re-keys earlier batches by).
    Evidence per batch = ``sameas_evidence`` with, as its extra edges,
    whatever ``sameas_evidence_fn(batch_df, batch_id) -> DataFrame(src,
    dst) | None`` derives from the batch (cross-snapshot discoveries,
    e.g. a fuzzy-link reviewer's confirmations).  A retried
    micro-batch overwrites its own snapshot partition, keeping the
    merge retry-idempotent.

    Intake gates (the corpus-prep filters applied AT ingest, so junk
    never reaches the KG stages): ``min_quality`` drops pages below
    the quality_score threshold; ``benchmark`` drops pages whose
    ``contamination_n``-gram overlap with the eval set exceeds
    ``contamination_threshold``.  Rejected pages are ROUTED, not
    dropped: when ``rejects_dir`` is set they land in its
    ``batch_id=<n>`` partition with a ``reject_reason`` column — same
    overwrite idempotence as the triples table, so a retried batch
    never duplicates rejects either.

    ``dedup_store_dir`` adds the INCREMENTAL NEAR-DUP gate (r6): each
    micro-batch's quality-accepted pages go through
    ``near_dup_decisions`` against the accumulated band-signature
    store, with ``batch_id`` as the snapshot id.  Near-dups of ANY
    previously ingested page (or of another page in the same batch)
    are routed to rejects as ``near_duplicate``; survivors' band
    signatures are appended so later batches see them.  A retried
    batch overwrites its own store partition and is excluded from the
    corpus side, so the gate is retry-idempotent like both sinks.
    Quality/contamination run FIRST so junk never enters the
    signature store."""
    import os

    from neuroner_spark.functions.text_analysis import quality_score
    from neuroner_spark.operators.dedup import benchmark_contamination
    from neuroner_spark.plans.kg_pipeline import (
        _snapshot_dirs,
        near_dup_decisions,
        run_incremental_canonical,
        run_pipeline,
        sameas_evidence,
    )
    from neuroner_spark.session import release

    if mention_source == "neural" and bundle is None:
        raise ValueError("mention_source='neural' requires a weight bundle")
    if incremental_canonical and canonical_store_dir is None:
        raise ValueError("incremental_canonical requires canonical_store_dir")
    canon = None  # run_pipeline's canonical_map, or merged per batch
    if canonical_store_dir is not None and not incremental_canonical:
        snaps = _snapshot_dirs(
            os.path.join(canonical_store_dir, "mapping"), "snapshot"
        )
        if not snaps:
            raise FileNotFoundError(
                f"no mapping snapshots under {canonical_store_dir}/mapping"
            )
        issued = spark.read.parquet(snaps[-1][1]).withColumnRenamed(
            "canonical_id", "_c"
        )
        canon = (
            alias_dict.select("entity_id")
            .distinct()
            .join(issued, "entity_id", "left")
            .select(
                "entity_id",
                F.coalesce("_c", F.col("entity_id")).alias("canonical_id"),
            )
            .localCheckpoint()  # one read at stream start, not per batch
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the gate frame is released once the batch's writes are done:
        # under a continuous (non-availableNow) trigger it would
        # otherwise accumulate across micro-batches
        pinned: list[DataFrame] = []
        try:
            _run_batch(batch_df, batch_id, pinned)
        finally:
            release(*pinned)

    def _run_batch(batch_df: DataFrame, batch_id: int, pinned: list) -> None:
        if min_quality is not None or benchmark is not None or dedup_store_dir is not None:
            gated = batch_df.withColumn("_quality", quality_score(F.col("text")))
            reason = F.lit(None).cast("string")
            if benchmark is not None:
                contam = benchmark_contamination(
                    gated,
                    benchmark,
                    n=contamination_n,
                    flag_threshold=contamination_threshold,
                    id_col="url",
                ).select(F.col("doc_id").alias("url"), F.col("flagged").alias("_contaminated"))
                gated = gated.join(contam, "url", "left")
                reason = F.when(F.coalesce("_contaminated", F.lit(False)), F.lit("contaminated"))
            if min_quality is not None:
                reason = F.coalesce(
                    reason,
                    F.when(F.col("_quality") < min_quality, F.lit("low_quality")),
                )
            gated = gated.withColumn("_reject_reason", reason)
            # the batch frame branches into rejects + accepted; pin it
            # so the gate expressions (and any tagger upstream) run once
            gated = gated.persist()
            pinned.append(gated)
            if dedup_store_dir is not None:
                accepted = gated.filter(F.col("_reject_reason").isNull())
                if not accepted.isEmpty():
                    decisions = near_dup_decisions(spark, accepted, dedup_store_dir, batch_id)
                    dups = decisions.filter(F.col("status") != "kept").select(
                        F.col("doc_id").alias("_did"),
                        F.lit("near_duplicate").alias("_dup_reason"),
                    )
                    gated = (
                        gated.withColumn("_did", F.xxhash64("url"))
                        .join(F.broadcast(dups), "_did", "left")
                        .withColumn(
                            "_reject_reason",
                            F.coalesce(F.col("_reject_reason"), F.col("_dup_reason")),
                        )
                        .drop("_did", "_dup_reason")
                    )
            if rejects_dir is not None:
                rejects = gated.filter(F.col("_reject_reason").isNotNull()).select(
                    "url", "warc_ts", "lang", F.col("_reject_reason").alias("reject_reason")
                )
                rejects.write.mode("overwrite").parquet(
                    os.path.join(rejects_dir, f"batch_id={batch_id}")
                )
            batch_df = gated.filter(F.col("_reject_reason").isNull()).drop(
                "_quality", "_contaminated", "_reject_reason"
            )
            if batch_df.isEmpty():
                return
        batch_canon = canon
        if incremental_canonical:
            # fold this batch's evidence into the issued-id store BEFORE
            # building triples: merges retire ids now, this batch writes
            # under the updated mapping, and the snapshot's superseded
            # partition is the audit record earlier batches re-key by
            extra = sameas_evidence_fn(batch_df, batch_id) if sameas_evidence_fn else None
            batch_canon = run_incremental_canonical(
                spark, sameas_evidence(alias_dict, extra), canonical_store_dir, batch_id + 1
            )["mapping"]
        run_pipeline(
            spark, batch_df, alias_dict, os.path.join(checkpoint_dir, "kg_run"),
            mention_source=mention_source, bundle=bundle,
            verb_lexicon=verb_lexicon, canonical=batch_canon,
            # deterministic per-batch sink + overwrite = retry-idempotent
            triples_dir=os.path.join(out_dir, f"batch_id={batch_id}"),
        )

    try:
        q = (
            read_pages_stream(spark, landing_dir)
            .writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if canon is not None:
            release(canon)


def read_streaming_triples(
    spark: SparkSession, out_dir: str, canonical_store_dir: str
) -> DataFrame:
    """Consistent view over the STREAMING triple table (the
    ``batch_id=<n>`` partitions ``run_streaming_pipeline`` writes),
    re-keyed through the canonical store's cumulative superseded
    chain — the streaming sibling of ``read_kg_triples``: a merge
    discovered in micro-batch k retires ids that batches < k already
    wrote; their partitions stay untouched (append-only audit record),
    and this reader resolves them at read time.  The resolved
    retirement table is merge-sized (broadcast in ``rekey_triples``),
    so the view adds no shuffle over the store scan."""
    from neuroner_spark.plans.kg_pipeline import (
        _resolved_superseded,
        rekey_triples,
    )

    triples = spark.read.parquet(out_dir)
    resolved = _resolved_superseded(spark, canonical_store_dir)
    if resolved is None:
        return triples
    return rekey_triples(triples, resolved)
