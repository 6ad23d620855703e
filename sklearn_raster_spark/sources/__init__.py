"""Table catalog over the driver-provided parquet testdata.

Reference analog: datasets/_base.py loads per-band GeoTIFFs into one
Dataset (SURVEY.md S1-S3). Here every source is a native parquet scan —
column pruning and predicate pushdown reach the footer/row-group level
for free, which is the 100-TB-critical property (a scan that reads all
columns for a 2-column projection is wrong).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


FORMATS = ("parquet", "csv", "json", "orc")


def read_table(spark: SparkSession, sf_dir: str, name: str, fmt: str = "parquet") -> DataFrame:
    """Scan one table. Keep this the ONLY entry point for reads so that
    format/bucketing/source swaps are one-line changes.

    ``fmt``: "parquet" (native testdata), or "csv"/"json" to read a
    materialized copy (see ``materialize_table_as``) — reference S1/S2
    ingest multiple container formats (datasets/_base.py:71-104); here
    every format funnels through one choke point with an EXPLICIT
    schema (taken from the parquet original), so downstream plans are
    format-independent and never depend on schema inference."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if fmt not in FORMATS:
        raise KeyError(f"unknown format {fmt!r}; expected one of {FORMATS}")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects; read nanos as long and truncate to microsecond
        # timestamps (same truncation DuckDB applies).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if fmt != "parquet":
            raise ValueError("events is parquet-only (nanos timestamps)")
        return df
    if fmt == "parquet":
        return spark.read.parquet(table_path(sf_dir, name))
    schema = spark.read.parquet(table_path(sf_dir, name)).schema
    path = materialize_table_as(spark, sf_dir, name, fmt)
    if fmt == "csv":
        return spark.read.schema(schema).option("header", "true").csv(path)
    if fmt == "orc":
        # ORC keeps its own schema + column statistics; pushdown and
        # pruning work as with parquet, so no explicit schema needed
        return spark.read.orc(path)
    return spark.read.schema(schema).json(path)


def materialize_table_as(spark: SparkSession, sf_dir: str, name: str, fmt: str) -> str:
    """Path of a one-time single-file CSV/JSON/ORC copy of a parquet
    table (a derived fixture, utils/cache.py). Only used to exercise
    the non-parquet read paths against driver testdata, which ships as
    parquet."""
    from sklearn_raster_spark.utils.cache import derived_fixture

    if fmt not in ("csv", "json", "orc"):
        raise KeyError(f"materialize supports csv/json/orc, not {fmt!r}")

    def build(path: str) -> None:
        writer = spark.read.parquet(table_path(sf_dir, name)).coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        getattr(writer, fmt)(path)

    return derived_fixture(spark, sf_dir, name, f"{name}.{fmt}", build)


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view for spark.sql() surfaces."""
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    """Parquet sink (reference has no writer — SURVEY.md S6)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
