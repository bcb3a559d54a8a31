"""Pluggable table IO: parquet today, Iceberg behind a config switch.

The north rule targets Iceberg tables (BASELINE.json:14-15), but no
Iceberg runtime jar exists in this sandbox (SURVEY.md §0), so the
default format is parquet directories with the *same* partition
layout. Switching to Iceberg is config-only:

    KG_TABLE_FORMAT=iceberg  (plus the usual spark.sql.catalog.* conf
    and --packages org.apache.iceberg:iceberg-spark-runtime-...)

Every stage boundary in the pipeline goes through read_table /
write_table so the swap touches no operator code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_format() -> str:
    return os.environ.get("KG_TABLE_FORMAT", "parquet")


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a stage/fixture table. ``path`` is a parquet dir (or an
    Iceberg table identifier when KG_TABLE_FORMAT=iceberg)."""
    fmt = table_format()
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a stage table, optionally partitioned (K8 triples are
    partitioned by predicate so downstream reads partition-prune)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    fmt = table_format()
    if fmt == "iceberg":
        writer.format("iceberg").save(path)
    else:
        writer.parquet(path)


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh scratch dir under ONE process-scoped root that is
    removed at interpreter exit — bounded temp usage across bench /
    check_oracles / pytest runs instead of unbounded per-call mkdtemp
    leakage. (kg.streaming pioneered this pattern; shared here so
    dedup barriers and IO round-trip queries use the same root.)"""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="kg_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    import tempfile

    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def materialize_barrier(df: DataFrame, prefix: str = "barrier_") -> DataFrame:
    """Execute ``df`` once NOW and return a scan of the result: a
    pipeline barrier for subtrees referenced by several downstream
    consumers (AQE exchange reuse does not dedupe broadcast builds of
    distinct subtrees, so an unbarriered subtree re-runs per
    reference). Unlike ``persist()`` it pins nothing for the session
    lifetime (r2's minhash barrier leaked two cached datasets per
    invocation), and unlike ``localCheckpoint()`` the scan stays on
    the DataFrame path with AQE intact. Files land in the atexit-
    cleaned scratch root; on a real cluster the same pattern writes
    to the job's scratch bucket."""
    spark = df.sparkSession
    path = os.path.join(scratch_dir(prefix), "data")
    df.write.parquet(path)
    return spark.read.parquet(path)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence check through the Hadoop FS API —
    works for file://, hdfs://, s3a:// alike (os.path would silently
    fail on cluster storage)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def fs_delete(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(p, True)

