"""Durable bucketed tables: the one store behind superstep checkpoints
(``plans.supersteps.SuperstepRunner``) and saved graphs
(``SparkDiGraph.save(bucketed=True)`` / ``load``), as in Pregelix, where
the vertex relation a superstep checkpoints is the same partitioned file
set a job loads from.

A table is a parquet dir written by ``bucketBy(count, *cols)`` plus an
external catalog entry over it. Spark bucketing uses the same
``pmod(murmur3)`` placement as shuffle hash partitioning, so a scan of
the table reports ``HashPartitioning(cols, count)`` and a join on
``cols`` planned with ``count`` shuffle partitions needs no exchange on
that side.

Spark trusts a declared bucket spec for exchange elision, so declaring
one over files that were not written under it silently mis-places rows.
``write`` therefore records the spec INSIDE the data dir, after the data
files, and ``read`` checks it on every call before it uses or registers
a catalog entry. A dir that anything else rewrote (a plain parquet
write, another spec) has no matching spec and raises; the caller then
reads it as plain parquet (re-exchanged, always correct). The catalog
entry is only a cache: a fresh process, whose catalog is empty,
re-registers it from the verified spec.
"""

from __future__ import annotations

import hashlib
import json
import os

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

SPEC_FILE = "_bucket_spec.json"

# what ``read`` raises when a dir cannot be declared bucketed: a missing
# or unreadable spec (OSError locally, a Java exception through Py4J for
# a URI), a malformed or mismatched spec (ValueError), a catalog failure
READ_ERRORS = (OSError, ValueError, AnalysisException, Py4JError)


def namespace(path: str) -> str:
    """Catalog-name namespace of the tables under ``path``: a pure function
    of the path, so a same-session read finds the table its write
    registered, and tables written under different paths never collide
    (nor DROP each other's entries)."""
    return hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:8]


def _hadoop_fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _fs_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file; scheme-qualified URIs (hdfs://, s3a://,
    file://) go through the Hadoop FileSystem API."""
    if "://" not in path:
        with open(path) as f:
            return f.read()
    fs, p = _hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        # Py4J passes a Python bytearray to byte[] parameters BY VALUE
        # (JVM-side writes never reach the Python copy), so a
        # read-into-buffer loop would return NUL bytes — drain the stream
        # JVM-side and take the returned array instead.
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write (overwrite) a small text file, creating its parent dirs."""
    if "://" not in path:
        d = os.path.dirname(path)
        if d:
            os.makedirs(d, exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        return
    fs, p = _hadoop_fs(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _spec(cols: list[str], count: int) -> dict:
    return {"cols": list(cols), "count": count}


def drop(spark: SparkSession, *tables: str) -> None:
    """Drop catalog entries (the files stay)."""
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def write(df: DataFrame, path: str, cols: list[str], count: int, table: str) -> None:
    """Write ``df`` to ``path`` as ``table``, bucketed by ``cols`` into
    ``count`` buckets, then record the spec in the dir. The plan is
    clustered on ``cols`` first so each task writes exactly one bucket
    file (the repartition is elided when the plan is already partitioned
    that way)."""
    spark = df.sparkSession
    drop(spark, table)
    (
        df.repartition(count, *cols)
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(count, *cols)
        .saveAsTable(table)
    )
    _fs_write_text(spark, os.path.join(path, SPEC_FILE), json.dumps(_spec(cols, count)))


def read(spark: SparkSession, path: str, cols: list[str], count: int, table: str) -> DataFrame:
    """The bucketed scan of ``path``. Raises one of ``READ_ERRORS`` unless
    the dir's recorded spec is exactly ``(cols, count)``; then uses the
    session's ``table``, or registers it over the files when the catalog
    has none."""
    spec = json.loads(_fs_read_text(spark, os.path.join(path, SPEC_FILE)))
    if spec != _spec(cols, count):
        raise ValueError(f"bucket spec {spec} at {path} != {_spec(cols, count)}")
    if not spark.catalog.tableExists(table):
        ddl = spark.read.parquet(path)._jdf.schema().toDDL()
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(cols)}) INTO {count} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(table)
