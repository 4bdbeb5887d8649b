"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set cluster-side: AQE on,
shuffle partitions sized to cores (not the 200 default), Arrow on for
the pandas-UDF hot path. On a real cluster only ``master`` and the
memory knobs change; everything else is scale-independent.

Python workers fork from ``neuroner_spark.worker_daemon``
(``spark.python.daemon.module``), PySpark's daemon minus the per-task
re-read of unchanged zip and jar directories.  The daemon starts before
``addPyFile`` ships anything, so ``neuroner_spark`` must already be on
the workers' PYTHONPATH: locally the repository root or the driver's
current directory provides it, as the tagger's workers already
require; on a cluster, install the package on the executors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "neuroner_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: int n -> local[n]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS
    or local[*].
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime skew-join splitting: crawl data is host/boilerplate
        # skewed by nature; AQE splits an oversized shuffle partition at
        # the join instead of letting one task straggle (complements the
        # explicit max_df/max_bucket/max_entities_per_doc caps, which
        # bound SEMANTIC blowup — this bounds physical partition skew)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # accept subset-key co-partitioning for joins (r7): a frame
        # hash-partitioned on doc_id alone then joined on
        # (doc_id, sent_id) no longer re-exchanges both sides — the
        # default (true) inserted a second full shuffle on top of
        # every deliberately doc-keyed layout (kg triples, linking).
        # Physical-plan-only knob: results are unaffected; the skew
        # trade (coarser partitioning at the join) is the same one the
        # explicit doc-keyed repartitions already make.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # one BLAS thread per python worker: task slots already equal
        # cores, so intra-op BLAS threading can only oversubscribe the
        # numpy hot path (tagger/training UDFs); same pinning the
        # scaling harness applies (measured: 2.17 vs 2.30 s tagger)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # every task would otherwise re-read pyspark.zip's and the
        # spark-core jar's directories (see worker_daemon)
        .config("spark.python.daemon.module", "neuroner_spark.worker_daemon")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release(*frames: DataFrame) -> None:
    """Free the executor storage each frame pins, without blocking.

    A ``localCheckpoint()`` result plans as a ``LogicalRDD`` over the
    checkpointed RDD, which the cache manager never saw, so
    ``DataFrame.unpersist`` would miss it: that RDD is unpersisted
    directly.  Any other frame goes through ``unpersist``.  Reading a
    released checkpoint afterwards fails loudly
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``); it never returns rows.
    """
    for df in frames:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist(blocking=False)
