"""Bucketed-table gate joins: the no-broadcast answer at 10^12 docs,
demonstrated and measured (round-6 candidate #2, done early).

``run_corpus_prep`` broadcasts the id-set side of every gate semi
join, which holds while the survivor id-set fits executor memory.  At true web scale it
does not fit — the promised production answer is bucketed storage:
write the corpus table AND the components table bucketed by doc_id
(Iceberg ``bucket(N, doc_id)`` partition transform; plain Spark
``bucketBy`` here), and the gate join plans as a SortMergeJoin with
ZERO Exchange operators — the 5M-row text payload never shuffles,
with no broadcast and no size assumption on either side.

The demo models the over-memory regime by DISABLING broadcast joins
entirely (autoBroadcastJoinThreshold=-1), then times the filtered-side
gate semi join three ways on a 5M-doc corpus:

  plain parquet + broadcast disabled   -> SMJ, full text shuffle
  bucketed tables + broadcast disabled -> SMJ, zero Exchange (asserted)
  plain parquet + broadcast hint       -> run_corpus_prep's gate path

Writes BENCH/bucketed_gates.json.

Usage: python scripts/bucketed_gates_demo.py [replicate] [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from neuroner_spark.session import get_spark

    wh = tempfile.mkdtemp(prefix="bucketed_wh_")
    spark = get_spark(
        "bucketed_gates", cores="8", shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": wh,
            "spark.ui.showConsoleProgress": "false",
            # model survivors-too-big-to-broadcast: no auto broadcasts
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    big = (
        docs.crossJoin(spark.range(replicate).withColumnRenamed("id", "rep"))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(1_000_000_000))
        .withColumn("text", F.concat(F.col("text"), F.lit(" zrep"), F.col("rep").cast("string")))
        .drop("rep")
    )
    plain_dir = tempfile.mkdtemp(prefix="plain_docs_")
    big.repartition(8, F.xxhash64("doc_id")).write.mode("overwrite").parquet(plain_dir)
    corpus = spark.read.parquet(plain_dir)
    n = corpus.count()
    # components-shaped side: keep flag for ~0.1% of docs
    comp = corpus.select("doc_id").withColumn("keep", F.pmod("doc_id", F.lit(997)) == 0)
    comp_dir = tempfile.mkdtemp(prefix="plain_comp_")
    comp.write.mode("overwrite").parquet(comp_dir)
    comp_plain = spark.read.parquet(comp_dir)

    for t in ("exact_b", "comp_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    corpus.write.bucketBy(8, "doc_id").sortBy("doc_id").mode("overwrite").saveAsTable("exact_b")
    comp.write.bucketBy(8, "doc_id").sortBy("doc_id").mode("overwrite").saveAsTable("comp_b")
    ex_b, cp_b = spark.table("exact_b"), spark.table("comp_b")

    out_dir = tempfile.mkdtemp(prefix="gate_out_")

    def timed(join_df):
        # WRITE the output like the pipeline's run_stage does — a
        # count() would let Catalyst prune the text column and the
        # plain path's text shuffle would never run (measured: 2.9 s
        # "plain SMJ" that was really a doc_id-only join)
        t0 = time.time()
        join_df.write.mode("overwrite").parquet(os.path.join(out_dir, "x"))
        dt = round(time.time() - t0, 2)
        return dt, spark.read.parquet(os.path.join(out_dir, "x")).count()

    results = {"n_docs": n}
    plain_join = corpus.join(
        comp_plain.filter("keep").select("doc_id"), "doc_id", "left_semi"
    )
    results["plain_smj_sec"], n1 = timed(plain_join)
    bucketed_join = ex_b.join(cp_b.filter("keep").select("doc_id"), "doc_id", "left_semi")
    plan = bucketed_join._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "bucketed gate join must have NO Exchange"
    results["bucketed_exchanges"] = 0
    results["bucketed_smj_sec"], n2 = timed(bucketed_join)
    hinted = corpus.join(
        F.broadcast(comp_plain.filter("keep").select("doc_id")), "doc_id", "left_semi"
    )
    results["broadcast_hint_sec"], n3 = timed(hinted)
    assert n1 == n2 == n3, (n1, n2, n3)
    results["n_kept"] = n1
    print(json.dumps(results))
    json.dump(results, open(os.path.join(REPO, "BENCH", "bucketed_gates.json"), "w"), indent=1)
    for d in (plain_dir, comp_dir, wh, out_dir):
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
