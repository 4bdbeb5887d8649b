"""Physical-plan regression tests: the plan properties PLANS.md claims
are asserted here so a refactor cannot silently reintroduce a
scale-killer (single-partition window, lost pushdown, flipped
broadcast side, double epoch shuffle)."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_plans_take_ordered(spark):
    from neuroner_spark.plans.catalog_text import q_knn_cosine

    plan = _plan(q_knn_cosine(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # the rank window over the k survivors must be PARTITIONED (an
    # unpartitioned WindowExec would move everything to one partition)
    wins = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    # the pmod partition key may be pre-projected to a _wN bound ref;
    # either way the first windowspecdefinition arg is a PARTITION
    # column, not a sort spec
    assert wins and all(("pmod(" in l) or ("windowspecdefinition(_w" in l) for l in wins), wins


def test_vocab_freq_has_no_global_window(spark):
    from neuroner_spark.plans.catalog_relational import q_vocab_freq

    plan = _plan(q_vocab_freq(spark, SF))
    # two-phase id assignment: the rank window is PARTITIONED by the
    # range-partition id (the range shuffle itself sits behind the
    # localCheckpoint, visible only as Scan ExistingRDD); there is no
    # unpartitioned windowspecdefinition anywhere in the final plan
    assert "Scan ExistingRDD" in plan  # checkpoint boundary exists
    wins = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert wins and all("_pid#" in l for l in wins), wins


def test_pricing_summary_pushdown_and_pruning(spark):
    from neuroner_spark.plans.catalog_relational import q_pricing_summary

    plan = _plan(q_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: the 16-column lineitem scan reads only what the
    # aggregate needs
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert read.count(",") <= 6, read


def test_dim_joins_are_broadcast(spark):
    from neuroner_spark.plans.catalog_relational import q_region_acctbal

    plan = _plan(q_region_acctbal(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_training_epoch_single_exchange(spark):
    from neuroner_spark.model.train import _labeled_sentences
    from neuroner_spark.plans.catalog_kg import _mention_tokens

    toks = _mention_tokens(spark, SF).withColumn("label", F.lit("O"))
    sentences = _labeled_sentences(toks).cache()
    sentences.count()
    epoch_df = sentences.repartition(4, F.xxhash64(F.lit(43), "doc_id", "sent_id"))
    plan = _plan(epoch_df)
    assert "InMemoryTableScan" in plan
    above_cache = plan.split("InMemoryTableScan", 1)[0]
    assert above_cache.count("Exchange") == 1, above_cache
    sentences.unpersist()


def test_tokenize_projects_before_arrow(spark):
    from neuroner_spark.functions.tokenize import tokenize

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tokenize(docs))
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # only (doc_id, text) of the 5 document columns crosses into Arrow
    assert "doc_id" in read and "text" in read and "lang" not in read, read


def test_minhash_band_pairs_are_equi_joins(spark):
    """Near-dup pair generation must stay equi-join only: a cartesian
    or nested-loop join in the pair path is quadratic at corpus scale."""
    from neuroner_spark.operators.dedup import band_pairs_from_banded, minhash_banded

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(band_pairs_from_banded(minhash_banded(docs), 1000))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_broadcasts_the_eval_set(spark):
    from neuroner_spark.plans.catalog_text import q_dedup_contamination

    assert "BroadcastHashJoin" in _plan(q_dedup_contamination(spark, SF))


def test_kg_triples_executed_doc_keyed_shuffles(spark):
    """Count the doc-keyed shuffles the kg triples stage really runs:
    the final adaptive plan, read after the action, shows a reused
    exchange as ``ReusedExchange`` and each shuffle that ran as its
    own ``Exchange hashpartitioning(doc_id``.  Five copies of the
    doc-keyed repartition are planned: one runs for the sentence-pair
    join and one for the (doc_id, ent) set, which the cap count and
    both sides of the co-occurrence join reuse."""
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.operators.gazetteer import match_mentions
    from neuroner_spark.operators.linking import link_mentions
    from neuroner_spark.plans.catalog_kg import _aliases
    from neuroner_spark.plans.kg_pipeline import canonical_map, triples_from_linked

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "text",
    )
    aliases = _aliases(spark)
    tokens = tokenize(docs.withColumnRenamed("url", "doc_id"))
    linked = link_mentions(match_mentions(tokens, aliases), aliases, use_fuzzy=False)
    triples = triples_from_linked(linked, canonical_map(aliases), docs)
    assert triples.collect()
    final = _plan(triples).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    doc_shuffles = [l for l in final.splitlines() if "Exchange hashpartitioning(doc_id" in l]
    ran = [l for l in doc_shuffles if "ReusedExchange" not in l]
    assert (len(ran), len(doc_shuffles) - len(ran)) == (2, 3), final


def test_band_edges_executed_shuffles(spark):
    """Pin the exchanges the dedup gate's edge set really runs: capped
    band pairs as (src, dst) union the over-cap buckets' star edges,
    over one materialized banded frame (``near_dedup_from_banded``'s
    input to connected components), read from the final adaptive plan
    after the action.  300 random docs over a 4-word vocabulary leave
    18 buckets over the cap of 5, so both sides are non-empty.

    8 exchanges run: the banded rows by bucket key, the pair side's
    sizes aggregation and its broadcast, the b-side broadcast and the
    pairs' distinct; the giants side runs its OWN sizes aggregation
    (count and min id, where the pair side prunes to the count), the
    broadcast of its banded rows and the star edges' distinct.  3 are
    reused: the bucket-keyed banded rows twice and the within-cap key
    broadcast once."""
    import random

    from neuroner_spark.operators.dedup import (
        band_pairs_from_banded,
        giant_bucket_edges_from_banded,
        minhash_banded,
    )
    from neuroner_spark.session import release

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8)))) for i in range(300)]
    banded = minhash_banded(spark.createDataFrame(rows, "doc_id long, text string")).localCheckpoint()
    pairs = band_pairs_from_banded(banded, 5).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    edges = pairs.union(giant_bucket_edges_from_banded(banded, 5))
    assert edges.collect()
    final = _plan(edges).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    exchanges = [l for l in final.splitlines() if "Exchange" in l]
    reused = [l for l in exchanges if "ReusedExchange" in l]
    assert (len(exchanges) - len(reused), len(reused)) == (8, 3), final
    release(banded)
