"""Table I/O seam (SURVEY §7 sandbox substitution: Iceberg -> Parquet).

All stage materialization goes through these two functions so the
production swap to Iceberg is THIS file only:

- parquet (default): plain directory tables, used everywhere in the
  sandbox (no Iceberg runtime jars present).
- iceberg: `df.writeTo(table).using("iceberg")` against a configured
  catalog; stage fingerprints then become snapshot ids (O(1)) instead
  of one-pass hashes. Selecting it without the runtime raises with the
  exact spark-submit flags needed.

Set NEURONER_TABLE_FORMAT=iceberg (plus a catalog config) to switch.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

def _table_format() -> str:
    # read per call (not at import) so tests and spark-submit wrappers
    # can flip the format without re-importing the package
    return os.environ.get("NEURONER_TABLE_FORMAT", "parquet")


def _require_iceberg(spark: SparkSession) -> None:
    try:
        # attribute access on spark._jvm is lazy (returns a JavaPackage
        # without touching the classpath) — Class.forName actually loads
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception as e:
        raise RuntimeError(
            "NEURONER_TABLE_FORMAT=iceberg requires the Iceberg Spark "
            "runtime, e.g. spark-submit --packages "
            "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> "
            "--conf spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog "
            "--conf spark.sql.catalog.kg.type=hadoop "
            "--conf spark.sql.catalog.kg.warehouse=<path>"
        ) from e


def write_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    if _table_format() == "iceberg":
        _require_iceberg(df.sparkSession)
        table = path.replace("/", ".").strip(".")
        writer = df.writeTo(f"kg.{table}").using("iceberg")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    if _table_format() == "iceberg":
        _require_iceberg(spark)
        return spark.read.format("iceberg").load("kg." + path.replace("/", ".").strip("."))
    return spark.read.parquet(path)


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
