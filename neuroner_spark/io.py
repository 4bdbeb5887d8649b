"""Store I/O: the one module that knows how a stage or snapshot
partition is written, listed and read.

Every store in the package is a directory of Parquet tables:

- a pipeline stage is ``{run_dir}/<stage>`` (``kg_pipeline.run_stage``
  writes its ``_manifest.json`` beside the data; Spark and pyarrow skip
  ``_``-prefixed files);
- a snapshot store is a set of ``{root}/{prefix}=<id>`` partitions
  (``snapshot=<k>`` for the canonical, alias-norm, band, decision and
  triple stores, ``upto=<k>`` for compacted bands, ``batch_id=<n>``
  for streaming sinks).

Writes always overwrite their own directory, so a retried stage or
snapshot replaces itself, and hand back the frame read from disk, so
callers never hold the plan that built it.  Plain Parquet, because no
table-format runtime (e.g. Iceberg) ships with this install; a
table-format backend would replace the bodies here.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession


def partitions(root: str, prefix: str) -> list[tuple[int, str]]:
    """Sorted (id, path) for the ``{root}/{prefix}=<id>`` partitions;
    empty when ``root`` does not exist."""
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith(prefix + "="):
            out.append((int(d.split("=")[1]), os.path.join(root, d)))
    return sorted(out)


def write_table(df: DataFrame, path: str) -> DataFrame:
    """Overwrite ``path`` with ``df`` and return the frame read back
    from it.  The read takes ``df``'s schema instead of inferring it
    from the files (inference is one Spark job), so the read-back runs
    no job; Spark reads every file-source field as nullable either way."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def read_table(spark: SparkSession, *paths: str, schema=None) -> DataFrame:
    """One frame over ``paths``; with none given, an empty frame of
    ``schema``."""
    if not paths and schema is not None:
        return local_df(spark, [], schema)
    return spark.read.parquet(*paths)


def latest_before(spark: SparkSession, root: str, prefix: str, k: int, schema) -> DataFrame:
    """The latest ``{root}/{prefix}=<id>`` partition with id < ``k``
    (a retried snapshot reads the same prior as its first attempt), or
    an empty frame of ``schema`` when there is none."""
    prior = [path for pid, path in partitions(root, prefix) if pid < k]
    return read_table(spark, *prior[-1:], schema=schema)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver rows -> DataFrame as a true LocalRelation (Arrow path).

    ``spark.createDataFrame(list_of_tuples)`` pickles the rows into a
    Python RDD: every downstream broadcast build, join or collect then
    launches Python workers to re-evaluate it (measured: 0.86 s for a
    limit+collect and +0.32 s per broadcast-join on a 12-row frame at
    local[32]).  Routing the same rows through a pandas frame takes the
    Arrow ``createDataFrame`` path, which plans a LocalRelation —
    ``isLocal()`` is true, collects are driver-side (13 ms), broadcast
    builds never touch a Python worker, and the optimizer can fold or
    prune the relation.  Use for every driver-built frame on a query
    path (alias dictionaries, union-find results, probe key lists,
    partition offsets).  Falls back to the classic path, with one
    warning line, only if pandas or Arrow rejects the conversion.

    ``rows``: an iterable of tuples (or an existing pandas DataFrame);
    ``schema``: DDL string or StructType — names are applied
    positionally, exactly like ``createDataFrame(rows, schema)``.
    Integer columns holding nulls are built as pandas ``Int64``, so ids
    of 2**53 and above keep every bit (float64 would round them).
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.types import IntegralType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(rows, pd.DataFrame):
        rows = list(rows)
    try:
        if isinstance(rows, pd.DataFrame):
            pdf = rows
        else:
            pdf = pd.DataFrame(rows, columns=schema.names)
            for i, f in enumerate(schema.fields):
                if isinstance(f.dataType, IntegralType) and pdf[f.name].isna().any():
                    pdf[f.name] = pd.array([r[i] for r in rows], dtype="Int64")
        return spark.createDataFrame(pdf, schema)
    except (pa.ArrowException, TypeError, ValueError) as e:
        logging.getLogger(__name__).warning(
            "local_df: pandas/Arrow conversion failed (%s); using the row-pickling plan", e
        )
        if isinstance(rows, pd.DataFrame):
            rows = list(rows.itertuples(index=False))
        return spark.createDataFrame(rows, schema)
