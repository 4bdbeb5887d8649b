"""Round-7 session-2 measurement: per-JOB wall breakdown of the heavy
bench legs.  A Spark listener records every job's wall; each leg's
serial action chain (probes, checkpoint materializations, final count)
then shows up as its own line — the target is whole jobs removed from
the chain, not per-task speed.  Measurement only; not part of the
frozen bench contract.

Usage: python scripts/job_walls_r07.py [sf_dir] [leg ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    legs = sys.argv[2:] or ["kg_pipeline", "simhash", "dedup_jaccard", "minhash", "neural_tagger"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from neuroner_spark.session import get_spark

    spark = get_spark(
        "job_walls_r07",
        cores=cpus,
        shuffle_partitions=max(int(cpus), 8) if cpus != "*" else 32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    from pyspark.sql import functions as F

    import pandas as _pd

    n_workers = 32 if cpus == "*" else int(cpus)
    spark.range(n_workers * 2).repartition(n_workers * 2).mapInPandas(
        lambda it: (_pd.DataFrame({"x": [1]}) for _ in it), "x int"
    ).count()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()

    # a leg's jobs are read from the status tracker by job group; it
    # forgets old jobs past spark.ui.retainedJobs, so n_jobs is a
    # lower bound on long runs
    def run_leg(name, fn, repeats=3):
        best = None
        best_jobs = None
        for _ in range(repeats):
            sc.setJobGroup(name, name)
            t0 = time.time()
            fn()
            wall = time.time() - t0
            ids = sorted(set(sc.statusTracker().getJobIdsForGroup(name) or []))
            jobs = []
            for jid in ids:
                info = sc.statusTracker().getJobInfo(jid)
                if info is None:
                    continue
                jobs.append(jid)
            sc.setJobGroup(None, None)
            if best is None or wall < best:
                best, best_jobs = wall, jobs
        print(f"{name:24s} best_wall={best:7.3f} n_jobs={len(best_jobs)} ids={best_jobs}")

    from neuroner_spark.plans import catalog_ner, catalog_text

    from neuroner_spark.fixtures.gen import alias_df  # noqa: F401  (parity with bench imports)

    def kg():
        from neuroner_spark.functions.tokenize import tokenize
        from neuroner_spark.operators.gazetteer import match_mentions
        from neuroner_spark.operators.linking import link_mentions
        from neuroner_spark.plans.catalog_kg import _aliases
        from neuroner_spark.plans.kg_pipeline import canonical_map, triples_from_linked

        aliases = _aliases(spark)
        d = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.col("text"),
        )
        tokens = tokenize(d.withColumnRenamed("url", "doc_id"))
        mentions = match_mentions(tokens, aliases)
        linked = link_mentions(mentions, aliases, use_fuzzy=False)
        t0 = time.time()
        canon = canonical_map(aliases)
        t1 = time.time()
        triples = triples_from_linked(linked, canon, d)
        t2 = time.time()
        n = triples.count()
        t3 = time.time()
        print(
            f"    kg split: canonical_map={t1-t0:.3f} checkpoint+plan={t2-t1:.3f} count={t3-t2:.3f}"
        )
        return n

    legs_fns = {
        "kg_pipeline": kg,
        "simhash": lambda: catalog_text.QUERIES["simhash"][0](spark, sf_dir).count(),
        "dedup_jaccard": lambda: catalog_text.QUERIES["dedup_jaccard"][0](spark, sf_dir).count(),
        "minhash": lambda: catalog_text.QUERIES["minhash_signatures"][0](spark, sf_dir).count(),
        "conlleval_f1": lambda: catalog_ner.QUERIES["conlleval_f1"][0](spark, sf_dir).count(),
    }

    def tagger():
        from neuroner_spark.functions.tokenize import tokenize
        from neuroner_spark.model.tagger import tag_tokens
        from neuroner_spark.model.weights import make_bundle

        tokens = tokenize(docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"))
        bundle = make_bundle(1 << 16, seed=42)
        return tag_tokens(spark, tokens, bundle).count()

    legs_fns["neural_tagger"] = tagger

    for leg in legs:
        run_leg(leg, legs_fns[leg])


if __name__ == "__main__":
    main()
