"""SparkSession builder with the engine's standard configs.

Tuned for correctness-at-scale first (SURVEY.md §4): AQE on with skew
join splitting, Arrow enabled for every pandas-UDF boundary, UTC
session timezone so parquet timestamps compare cleanly against the
DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One place to change shuffle sizing. local[N] tests override this;
# a real cluster would set ~2-3x total cores (AQE coalesces down).
DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "kg-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores) so bench/driver runs pick up the sandbox parallelism.

    The directory that holds ``kg`` is appended to the Python workers'
    ``PYTHONPATH`` (after any ``spark.executorEnv.PYTHONPATH`` in
    ``extra_conf``), so UDF tasks import ``kg`` whatever the driver's
    working directory.
    """
    import kg

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    conf = dict(extra_conf or {})
    env_key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(env_key, "").split(os.pathsep) if p]
    root = os.path.dirname(os.path.dirname(os.path.abspath(kg.__file__)))
    if root not in paths:
        paths.append(root)
    conf[env_key] = os.pathsep.join(paths)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- shuffle sizing; AQE coalesces small partitions at runtime
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # -- adaptive execution: runtime re-plan, skew-join split.
        #    Hot-domain skew beyond what AQE fixes is handled by
        #    explicit salting (kg.pipeline.salt_repartition).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- Arrow everywhere Python touches data
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches: per-batch overhead dominates small ones
        # (measured 5-10x slowdown at 4096 rows/batch in this sandbox)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # -- deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE: spark.sql.files.maxPartitionBytes stays at the 128m
        # default. Round 2 set 16m globally to fix the UDF-heavy
        # pipeline's input-split starvation, but that made every
        # scan-heavy relational query schedule 8x the tasks (at 100 TB:
        # ~6.5M tasks for a plain aggregation) and regressed the r2
        # cold bench. The 16m sizing is now scoped to the pipeline
        # only — see PIPELINE_SCAN_CONF / scoped_conf below.
        # 24g: repeated full-size bench runs in one 8g JVM accumulate
        # broadcast/GC debris and degrade monotonically (measured
        # 90 -> 154 s over 3 runs); the box has 128 GiB
        .config("spark.driver.memory", os.environ.get("KG_DRIVER_MEM", "24g"))
        # quieter UI-less runs in the sandbox
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Input-split sizing for the UDF-heavy KG pipeline ONLY. The single-
# pass pipeline's whole map side (scan -> extract UDF -> NER -> link
# -> pair gen) inherits the scan partitioning until the first
# exchange, so the default 128m split read the 1M-page bench fixture
# (~1.2 GB) as 10 splits — 10-way parallelism on a 16/32-core box
# (measured: extract scaled 2.0x from 4->16 cores; this was the
# entire r1->r2 scaling-efficiency gap). 16m gives ~5 MB-of-html
# tasks, seconds-long under the Arrow UDFs — still far above per-task
# overhead. Scan-heavy relational queries keep the 128m default
# (16m there means 8x the tasks for zero benefit — the r2 cold-bench
# regression). A real cluster sizes this per-source to keep splits
# >= 2-3x total cores.
PIPELINE_SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": "16m",
    # r7: the bench fixture is many ~200 KB part files; the default
    # 4 MB open-cost charge packs ONE file per split (256 tasks of
    # ~80 ms Python each — per-task overhead was ~30% of the turbo
    # stage). 1 MB packs files up to the bytes-per-core floor instead:
    # measured 64 -> 32 splits and 1.75 -> 1.23 s for the matched-pair
    # stage at 200k pages. Scale-safe: the maxSplitBytes floor
    # (total/cores) keeps parallelism >= cores at any input size, and
    # at real multi-GB file sizes the open-cost term is irrelevant.
    "spark.sql.files.openCostInBytes": "1m",
}


class scoped_conf:
    """Context manager: set runtime SQL confs for the enclosed ACTIONS
    and restore the previous values on exit. File-split planning reads
    the conf at physical-planning (action) time, not DataFrame-build
    time, so the action must run inside the scope::

        with scoped_conf(spark, PIPELINE_SCAN_CONF):
            run_pipeline(...)["triples"].write...
    """

    def __init__(self, spark: SparkSession, conf: dict[str, str]):
        self.spark = spark
        self.conf = conf
        self._saved: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self.conf.items():
            self._saved[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, old in self._saved.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)
        return False
