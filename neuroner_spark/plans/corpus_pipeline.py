"""Materialized, checkpointed, resumable CORPUS-PREP pipeline — the
LLM-training-data composition (exact dedup -> near-dup dedup ->
benchmark decontamination -> quality/Gopher gates) run the way the KG
pipeline (``plans/kg_pipeline.py``) runs its stages, through the same
``kg_pipeline.run_stage``: every stage writes Parquet +
``_manifest.json`` (fingerprint, row count, wall seconds, partition
histogram) and a rerun with ``resume=True`` skips stages whose
manifest matches the input fingerprint.

Lineage doubles as the no-silent-caps audit trail (r3 ADVICE): the
``giant_buckets`` stage materializes every over-``max_bucket`` LSH
bucket with its size, so a capped run is visible in ``lineage.json``
(``n_rows`` = number of capped clusters) without querying anything.

Stage graph (all DataFrame -> DataFrame):

  docs(doc_id, text, ...)
    -> exact_deduped     keep min doc_id per md5 fingerprint
    -> lang_gate         CCNet-style language filter (optional,
                         keep_lang='en'; cheapest gate runs first)
    -> banded            MinHash band hashes — THE shared scan: pairs,
                         giant buckets, and components all derive from
                         this one materialization
    -> giant_buckets     over-cap buckets (audit side output)
    -> near_components   capped pairs + giant star edges -> connected
                         components -> (doc_id, component, keep)
       [near_method='simhash' swaps the three stages above for
        simhash_sigs (the shared scan: one 64-bit signature per doc)
        -> simhash_giant_blocks (over-cap block values, DROPPED from
        pairing — partial-key evidence can't star-edge, r6 finding)
        -> near_components via exact-signature piles + Manku
        pigeonhole-verified pairs (operators/dedup.py ::
        simhash_near_dedup).  Same output contract either way.]
    -> near_deduped      keep=true docs
    -> winnow_fps        winnowing fingerprints (optional, winnow=True;
                         the partial-overlap shared scan — mirrors/
                         quotations/templated pages the banded stage
                         misses), with winnow_giant_fps as the
                         no-silent-caps lineage side output
    -> winnow_components fingerprint equi-join pairs (hot fps
                         dropped as noise) -> connected components
    -> winnow_deduped    keep=true docs
    -> span_cleaned      C4 duplicated-span REMOVAL, text rebuilt
                         (optional, remove_dup_spans=True)
    -> contamination     per-doc benchmark n-gram overlap (optional)
    -> quality           quality_score + Gopher repetition flags
    -> corpus            the surviving training corpus
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neuroner_spark.functions.text_analysis import fingerprint, quality_score, repetition_metrics
from neuroner_spark.operators.dedup import (
    benchmark_contamination,
    giant_buckets_from_banded,
    minhash_banded,
    near_dedup_from_banded,
)
from neuroner_spark.io import partitions, read_table, write_table
from neuroner_spark.plans.kg_pipeline import input_fingerprint, run_stage, write_lineage
from neuroner_spark.session import release


def exact_dedup_keep(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-dedup filter: keep the min-id doc per normalized-text
    fingerprint.  One hash-groupBy + one semi join — both shuffles on
    narrow keys; the full doc payload rides only the semi join's
    build-side-free probe (no text shuffle)."""
    keep = (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def run_corpus_prep(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    benchmark: DataFrame | None = None,
    resume: bool = True,
    n: int = 3,
    bands: int = 4,
    max_bucket: int | None = 1000,
    near_method: str = "minhash",
    simhash_bits: int = 64,
    simhash_max_hamming: int = 3,
    simhash_n_blocks: int | None = None,
    contamination_n: int = 8,
    contamination_threshold: float = 0.05,
    min_quality: float = 0.5,
    lm_max_bits: float | None = None,
    lm_vocab_limit: int | None = None,
    keep_lang: str | None = None,
    remove_dup_spans: bool = False,
    span_n_sents: int = 3,
    winnow: bool = False,
    winnow_k: int = 25,
    winnow_w: int = 4,
    winnow_min_shared: int = 8,
    winnow_max_bucket: int | None = 1000,
    fast_hash: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Run all corpus-prep stages with checkpoint/resume; returns
    {'corpus': DataFrame, 'components': DataFrame, 'giant_buckets':
    DataFrame, 'quality': DataFrame, 'contamination': DataFrame|None,
    'lineage': [...]}.

    Every parameter that changes a stage's OUTPUT is folded into that
    stage's fingerprint, so a parameter change invalidates exactly the
    stages it affects (e.g. a new ``max_bucket`` rebuilds giant
    buckets/components but resumes the banded scan).

    ``id_col`` must be numeric (castable to long) — connected
    components propagates MIN ids.  For url-keyed crawl tables, derive
    the id first (``xxhash64(url)``) and keep the url alongside.

    ``near_method``: 'minhash' (default — set-similarity banding,
    giant buckets star-edge safely because a band match is whole-doc
    evidence) or 'simhash' (Manku Hamming-distance piles + pigeonhole
    pairs — cheaper scan, one 64-bit signature per doc instead of a
    shingle explosion, but ``max_bucket`` must exceed the expected
    near-dup cluster size because over-cap block values DROP from
    pairing; see ``simhash_near_dedup``).  Same (doc_id, component,
    keep) contract and the same downstream stages either way.

    Every gate semi join (keep-ids, quality-ok ids, decontaminated ids)
    broadcasts its id-set side.  Without the hint Catalyst estimates
    the filtered side from the FULL stage table's size and plans
    SortMergeJoin — whose map side shuffles the whole corpus WITH the
    text payload before AQE can demote it (measured at 5M docs: the
    near_deduped stage spent ~18 s in a disk-bound text shuffle that a
    broadcast avoids entirely).  That holds while the survivor id-set
    fits executor memory (~10^8 longs); beyond it the shuffle-free
    join comes from tables bucketed by doc_id
    (``scripts/bucketed_gates_demo.py``).
    """
    os.makedirs(out_dir, exist_ok=True)
    lineage: list[dict] = []
    fp_docs = input_fingerprint(docs.select(id_col, text_col), "corpus")
    stage = partial(run_stage, spark, out_dir, lineage, resume=resume)

    exact = stage("exact_deduped", fp_docs + "|exact", lambda: exact_dedup_keep(docs, id_col, text_col))
    fp_base = fp_docs + "|exact"
    if keep_lang is not None:
        # CCNet-style language gate, FIRST of the content gates: one
        # token-array pass per doc, so foreign-language pages never pay
        # for shingling/banding downstream.  Manifest row counts make
        # the drop visible (n_rows vs exact_deduped's).
        from neuroner_spark.functions.text_analysis import lang_guess

        fp_base += f"|lang={keep_lang}"
        exact_in = exact
        exact = stage(
            "lang_gate",
            fp_base,
            lambda: exact_in.filter(lang_guess(F.col(text_col)) == keep_lang),
        )
    # per-CC-iteration lineage (r5 verdict #5): the 5M-doc
    # near_components stage wall swung 1.2-4x across runs; logging each
    # large-star/small-star round's edge count + wall into the manifest
    # attributes the variance (rounds vs the final join = stage wall
    # minus the rounds) instead of bounding it by rerun.
    cc_log: list[dict] = []
    if near_method == "simhash":
        from neuroner_spark.operators.dedup import (
            simhash,
            simhash_giant_blocks,
            simhash_near_dedup,
        )

        fp_sig = fp_base + f"|simsig:bits={simhash_bits}:fast={fast_hash}"
        sigs = stage(
            "simhash_sigs",
            fp_sig,
            lambda: simhash(exact, simhash_bits, id_col, text_col, fast_hash)
            .withColumn("doc_id", F.col("doc_id").cast("long")),
        )
        fp_cap = fp_sig + (
            f"|d={simhash_max_hamming}:blocks={simhash_n_blocks}:cap={max_bucket}"
        )
        giants = stage(
            "giant_buckets",
            fp_cap + "|giants",
            lambda: simhash_giant_blocks(
                sigs, simhash_bits, simhash_max_hamming, simhash_n_blocks, max_bucket
            ),
        )
        components = stage(
            "near_components",
            fp_cap + "|cc",
            lambda: simhash_near_dedup(
                exact.select(F.col(id_col).cast("long").alias("doc_id")).distinct(),
                bits=simhash_bits,
                max_hamming=simhash_max_hamming,
                n_blocks=simhash_n_blocks,
                max_bucket=max_bucket,
                iteration_log=cc_log,
                signatures=sigs,
            ),
            extra_fn=lambda: {"cc_iterations": cc_log} if cc_log else None,
        )
    elif near_method == "minhash":
        fp_band = fp_base + f"|band:n={n}:b={bands}:fast={fast_hash}"
        banded = stage(
            "banded", fp_band, lambda: minhash_banded(exact, n, bands, id_col, text_col, fast_hash)
        )
        fp_cap = fp_band + f"|cap={max_bucket}"
        giants = stage(
            "giant_buckets", fp_cap, lambda: giant_buckets_from_banded(banded, max_bucket)
        )
        components = stage(
            "near_components",
            fp_cap + "|cc",
            lambda: near_dedup_from_banded(
                banded,
                exact.select(F.col(id_col).cast("long").alias("doc_id")).distinct(),
                max_bucket,
                iteration_log=cc_log,
            ),
            extra_fn=lambda: {"cc_iterations": cc_log} if cc_log else None,
        )
    else:
        raise ValueError(f"near_method must be 'minhash' or 'simhash', got {near_method!r}")
    near = stage(
        "near_deduped",
        fp_cap + "|kept",
        lambda: exact.join(
            F.broadcast(components.filter(F.col("keep")).select(F.col("doc_id").alias(id_col))),
            id_col,
            "left_semi",
        ),
    )
    fp_doc_set = fp_cap
    if winnow:
        # OPTIONAL partial-overlap dedup stage (r4 verdict #8): the
        # banded stage catches whole-document near-dups; winnowing
        # catches documents sharing long SUBSTRINGS (mirrors,
        # quotations, templated pages with different boilerplate).
        # Defaults (k=25, min_shared=8): TWO measured sweeps.  The r5
        # clone-cluster sweep at 50k docs had k=16/25 dominating k=8
        # on recall/noise/wall (BENCH/BASELINE.md round-5 winnowing
        # sections).  The r6 PLANTED-PARTIAL-OVERLAP sweep
        # (scripts/winnow_recall.py -> BENCH/winnow_recall.json, the
        # stage's actual job) separates 16 from 25: on a 2k-doc
        # clone-free shared-vocab corpus at min_shared=8, false pairs
        # are 1.74M (k=8) / 38k (k=16) / 52 (k=25) while recall stays
        # 1.0 for every planted overlap >= 8 words (~50 chars) at all
        # three k — common k-grams stop colliding only around k=25.
        # Cost: overlaps shorter than ~2x t = k+w-1 = 28 chars lose
        # pair evidence (recall@8 = 0 for ~25-char spans) — spans that
        # short are not dedup-worthy.  min_shared still gates pair
        # evidence; validate both per corpus before trusting the
        # stage's drop counts.
        # Same scan discipline as banded (the fingerprint frame is the
        # shared scan; over-cap fingerprints surface as a lineage
        # stage) but over-cap fps are DROPPED, not star-edged — a hot
        # fingerprint is a common phrase, not duplicate evidence (see
        # winnow_components_from_fps' docstring; star-edging measured
        # a 500k-doc corpus into ONE keep).
        from neuroner_spark.operators.dedup import (
            winnow_components_from_fps,
            winnow_giant_fps,
            winnowing_fingerprints,
        )

        # fingerprint chain mirrors the parameter flow: the scan
        # depends only on (k, w); the cap stages on winnow_max_bucket;
        # min_shared first affects components — so changing it resumes
        # the (expensive) fingerprint scan untouched
        fp_win_scan = fp_cap + f"|winnow:k={winnow_k}:w={winnow_w}:fast={fast_hash}"
        fp_win_cap = fp_win_scan + f"|cap={winnow_max_bucket}"
        fp_win_cc = fp_win_cap + f"|s={winnow_min_shared}|cc"
        near_in_w = near
        win_fps = stage(
            "winnow_fps",
            fp_win_scan,
            lambda: winnowing_fingerprints(
                near_in_w, k=winnow_k, w=winnow_w, id_col=id_col,
                text_col=text_col, fast_hash=fast_hash,
            ),
        )
        stage(
            "winnow_giant_fps",
            fp_win_cap + "|giants",
            lambda: winnow_giant_fps(win_fps, winnow_max_bucket),
        )
        win_cc_log: list[dict] = []
        win_comp = stage(
            "winnow_components",
            fp_win_cc,
            lambda: winnow_components_from_fps(
                win_fps,
                near_in_w.select(F.col(id_col).cast("long").alias("doc_id")).distinct(),
                min_shared=winnow_min_shared,
                max_bucket=winnow_max_bucket,
                iteration_log=win_cc_log,
            ),
            extra_fn=lambda: {"cc_iterations": win_cc_log} if win_cc_log else None,
        )
        near = stage(
            "winnow_deduped",
            fp_win_cc + "|kept",
            lambda: near_in_w.join(
                F.broadcast(win_comp.filter(F.col("keep")).select(F.col("doc_id").alias(id_col))),
                id_col,
                "left_semi",
            ),
        )
        fp_doc_set = fp_win_cc
    if remove_dup_spans:
        # C4 §2.2 remedy stage: delete every non-first occurrence of a
        # duplicated span and rebuild the text.  Downstream gates run
        # on the CLEANED text, so their fingerprints chain through it.
        from neuroner_spark.operators.dedup import remove_duplicated_spans as _rm_spans

        fp_doc_set = fp_doc_set + f"|spanrm:n={span_n_sents}"
        near_in = near

        def _span_clean() -> DataFrame:
            cleaned = _rm_spans(
                near_in, n_sents=span_n_sents, id_col=id_col, text_col=text_col, fast_hash=fast_hash
            ).withColumnRenamed("doc_id", id_col)
            return near_in.drop(text_col).join(cleaned, id_col)

        near = stage("span_cleaned", fp_doc_set, _span_clean)
    contamination = None
    fp_final = fp_doc_set
    if benchmark is not None:
        fp_bench = input_fingerprint(benchmark.select(text_col), "bench")
        fp_contam = (
            fp_doc_set + f"|contam:{fp_bench}:n={contamination_n}:t={contamination_threshold}"
        )
        contamination = stage(
            "contamination",
            fp_contam,
            lambda: benchmark_contamination(
                near,
                benchmark,
                n=contamination_n,
                flag_threshold=contamination_threshold,
                id_col=id_col,
                text_col=text_col,
                bench_text_col=text_col,
                fast_hash=fast_hash,
            ),
        )
        fp_final = fp_contam
    quality = stage(
        "quality",
        fp_doc_set + "|quality",
        lambda: repetition_metrics(near, id_col=id_col, text_col=text_col)
        .withColumnRenamed("flagged", "repetition_flagged")
        # repetition_metrics emits doc_id as string (its oracle
        # contract); align the join key dtype with the corpus
        .withColumn("doc_id", F.col("doc_id").cast("long"))
        .join(
            near.select(F.col(id_col).alias("doc_id"), quality_score(F.col(text_col)).alias("quality")),
            "doc_id",
        ),
    )

    lm_scores = None
    if lm_max_bits is not None:
        # CCNet-order LM gate (r6): the bigram LM trains on the DEDUPED
        # corpus (duplicates would overweight boilerplate n-grams and
        # hand them low perplexity), then scores the same docs; gate =
        # avg_nll_bits <= lm_max_bits, unscorable short docs pass.
        from neuroner_spark.operators.quality_lm import bigram_lm_scores

        fp_lm = fp_doc_set + f"|lm:a=0.5:v={lm_vocab_limit}"
        lm_scores = stage(
            "lm_scores",
            fp_lm,
            lambda: bigram_lm_scores(
                near.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
                vocab_limit=lm_vocab_limit,
            ),
        )
        # vocab_limit changes the SCORES the gate cuts on, so it must
        # reach the corpus fingerprint too (r6 review finding: a limit
        # change rebuilt lm_scores but resumed a stale corpus)
        fp_final = fp_final + f"|lmgate<={lm_max_bits}:v={lm_vocab_limit}"

    def build_corpus() -> DataFrame:
        ok = quality.filter(
            (F.col("quality") >= min_quality) & (~F.col("repetition_flagged"))
        ).select(F.col("doc_id").alias(id_col))
        kept = near.join(F.broadcast(ok), id_col, "left_semi")
        if contamination is not None:
            clean = contamination.filter(~F.col("flagged")).select(
                F.col("doc_id").alias(id_col)
            )
            kept = kept.join(F.broadcast(clean), id_col, "left_semi")
        if lm_scores is not None:
            lm_ok = lm_scores.filter(
                F.col("avg_nll_bits").isNull() | (F.col("avg_nll_bits") <= lm_max_bits)
            ).select(F.col("doc_id").alias(id_col))
            kept = kept.join(F.broadcast(lm_ok), id_col, "left_semi")
        return kept

    corpus = stage("corpus", fp_final + f"|q>={min_quality}", build_corpus)
    write_lineage(out_dir, lineage)
    return {
        "corpus": corpus,
        "components": components,
        "giant_buckets": giants,
        "near_deduped": near,
        "quality": quality,
        "lm_scores": lm_scores,
        "contamination": contamination,
        "lineage": lineage,
    }


def _band_store_inputs(store_dir: str, exclude_snapshot: int | None = None) -> list[str]:
    """Paths representing the accumulated band index: the LATEST
    compacted table plus raw snapshot partitions newer than it.  Raw
    partitions <= the compaction watermark are skipped even when not
    yet pruned — reading them too would be correct (the index agg is a
    min, so covered rows are idempotent) but wasted IO."""
    comps = partitions(os.path.join(store_dir, "compacted"), "upto")
    watermark = comps[-1][0] if comps else -1
    paths = [comps[-1][1]] if comps else []
    for sid, p in partitions(os.path.join(store_dir, "bands"), "snapshot"):
        if sid > watermark and sid != exclude_snapshot:
            paths.append(p)
    return paths


def compact_band_store(
    spark: SparkSession,
    store_dir: str,
    upto_snapshot_id: int | None = None,
    prune: bool = False,
) -> dict:
    """Iceberg-style maintenance for the snapshot band store: fold the
    raw per-doc band rows of snapshots <= ``upto_snapshot_id`` (default
    all) into ONE representative row per (band_id, band_hash) — the
    min-doc row, exactly what ``incremental_near_dedup``'s index agg
    would produce — written to ``{store_dir}/compacted/upto=<k>``.

    The compacted table keeps the RAW SCHEMA (doc_id, band_id,
    band_hash), so readers union it with later raw snapshot partitions
    unchanged: min(min(covered), tail) == min(all) — the fold is
    associative, which is what makes background compaction safe to run
    at any watermark.  Without it the per-snapshot index re-aggregation
    reads O(total ingested band rows); after it, O(distinct band keys +
    tail) — at 10^12 docs with hot boilerplate bands that is the
    difference between rereading the crawl history and reading a
    bounded dictionary.

    Contract: compact only FINALIZED snapshots (a later retry-overwrite
    of a covered snapshot would not be reflected).  Retry-idempotent:
    the output overwrites its own ``upto=<k>`` partition.

    ``prune=True`` deletes the covered raw band partitions and older
    compacted tables (decisions partitions are never touched — they
    are the audit record).  Returns {'upto', 'n_band_keys',
    'n_raw_rows', 'n_pruned_dirs'}.
    """
    raw = partitions(os.path.join(store_dir, "bands"), "snapshot")
    comps = partitions(os.path.join(store_dir, "compacted"), "upto")
    watermark = comps[-1][0] if comps else -1
    if upto_snapshot_id is None:
        upto_snapshot_id = max([watermark] + [sid for sid, _ in raw])
    inputs = ([comps[-1][1]] if comps else []) + [
        p for sid, p in raw if watermark < sid <= upto_snapshot_id
    ]
    if not inputs:
        return {"upto": upto_snapshot_id, "n_band_keys": 0, "n_raw_rows": 0, "n_pruned_dirs": 0}
    covered = read_table(spark, *inputs)
    n_raw = covered.count()
    compacted = covered.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id", "band_id", "band_hash")
    n_keys = write_table(
        compacted, os.path.join(store_dir, "compacted", f"upto={upto_snapshot_id}")
    ).count()
    n_pruned = 0
    if prune:
        for sid, p in raw:
            if sid <= upto_snapshot_id:
                shutil.rmtree(p)
                n_pruned += 1
        for up, p in comps:
            if up < upto_snapshot_id:
                shutil.rmtree(p)
                n_pruned += 1
    return {
        "upto": upto_snapshot_id,
        "n_band_keys": n_keys,
        "n_raw_rows": n_raw,
        "n_pruned_dirs": n_pruned,
    }


def run_incremental_snapshot(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
    snapshot_id: int,
    n: int = 3,
    bands: int = 4,
    max_bucket: int | None = 1000,
    fast_hash: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    iteration_log: list | None = None,
) -> dict:
    """Continuous-crawl ingestion: dedup one snapshot against the
    accumulated SIGNATURE STORE (never the corpus text), then append
    the kept docs' band signatures so the next snapshot sees them.

    Store layout (partitioned parquet standing in for Iceberg
    appends, like every sink here):
      {store_dir}/bands/snapshot=<k>/      (doc_id, band_id, band_hash)
      {store_dir}/decisions/snapshot=<k>/  (doc_id, status, dup_of)
      {store_dir}/compacted/upto=<k>/      (doc_id, band_id, band_hash)
                                           one row per band key — see
                                           ``compact_band_store``

    Both writes OVERWRITE their own snapshot partition — a retried
    snapshot replaces itself, never duplicates (the same idempotence
    contract as streaming ingest's batch_id partitions).  Seeding from
    an existing batch corpus-prep run: copy (or point a reader at) its
    ``banded`` stage as snapshot 0.

    Returns {'decisions': DataFrame, 'n_kept', 'n_dup_of_corpus',
    'n_dup_of_batch'}.  Doc ids must be globally unique across
    snapshots (url hash at web scale) and numeric; a snapshot must not
    reuse an id already ingested.

    Scale: one banded scan of the snapshot, one equi-join against the
    band index (latest ``compact_band_store`` table + the raw
    snapshot partitions after it), components over the snapshot's
    survivors only.  New snapshots never rescan old text."""
    from neuroner_spark.operators.dedup import incremental_near_dedup, minhash_banded

    corpus_banded = read_table(
        spark,
        *_band_store_inputs(store_dir, exclude_snapshot=snapshot_id),
        schema="doc_id long, band_id int, band_hash long",
    )
    # lazy persist, not localCheckpoint: the decisions plan's first scan
    # fills it, so it costs no job of its own.  The banded frame is
    # reused by the decisions plan and the store append, then released;
    # decisions themselves round-trip through their own idempotent
    # partition, so the returned frame is DISK-BACKED and pins nothing.
    banded_new = minhash_banded(new_docs, n, bands, id_col, text_col, fast_hash).persist()
    part = f"snapshot={snapshot_id}"
    try:
        decided = incremental_near_dedup(
            new_docs,
            corpus_banded,
            banded_new,
            max_bucket=max_bucket,
            id_col=id_col,
            iteration_log=iteration_log,
        )
        decisions = write_table(decided, os.path.join(store_dir, "decisions", part))
        kept_ids = decisions.filter(F.col("status") == "kept").select("doc_id")
        write_table(
            banded_new.join(F.broadcast(kept_ids), "doc_id", "left_semi"),
            os.path.join(store_dir, "bands", part),
        )
    finally:
        release(banded_new)
    counts = {r["status"]: r["n"] for r in decisions.groupBy("status").agg(F.count("*").alias("n")).collect()}
    return {
        "decisions": decisions,
        "n_kept": counts.get("kept", 0),
        "n_dup_of_corpus": counts.get("dup_of_corpus", 0),
        "n_dup_of_batch": counts.get("dup_of_batch", 0),
    }
