"""SparkSession factory.

Mirrors the reference's session setup (glue_job_script.py:19 — Kryo
serializer; the reference also sets ``spark.sql.hive.convertMetastoreParquet=
false``, a Hudi-read-path correctness knob we don't need on pure Parquet)
and adds the scale levers Catalyst gives for free when enabled: AQE
(runtime re-planning, skew-join splitting, partition coalescing), Arrow for
the pandas-UDF slow path, UTC session time zone for oracle comparability,
and dynamic partition overwrite so the upsert operator can atomically
rewrite only touched partitions.

At cluster scale the same factory applies — only ``master`` and the
shuffle-partition count change (set shuffle partitions ~2-3x total cores;
AQE coalesces the excess at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half of the
    host's physical memory, capped at 48g, so the heap never outgrows the
    host it runs on (48g on a 16 GB host let a long test session's JVM
    grow until a second one beside it died)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, total >> 21)}m"


def get_spark(
    app_name: str = "aws-glue-streaming-etl-hudi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Confs are chosen for 100 TB-scale behavior, not just local tests:

    - AQE on: runtime partition coalescing + skew-join handling replaces
      hand-tuned shuffle counts on real clusters.
    - ``partitionOverwriteMode=dynamic``: the upsert operator overwrites only
      the partitions present in the batch (incremental merge), like Hudi's
      COW rewrite of touched file groups (glue_job_script.py:53-54).
    - Arrow enabled: every pandas UDF moves batches, not rows.
    - UTC: deterministic timestamp semantics vs the DuckDB oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Partition values must round-trip EXACTLY: inference would read the
        # directory name "month=01" back as integer 1, so a later merge
        # would write a divergent "month=1" path and strand the old file.
        # The upsert table restores true column types from its persisted
        # schema metadata instead (operators/upsert.py).
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Read parquet TIMESTAMP(NANOS) as long instead of erroring; the
        # sources layer converts to µs timestamps (readers.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Split inputs so every core has work. The default 128 MB split is
        # right for 100 TB scans; test fixtures are single small files and
        # would otherwise pin every scan to ONE task. Same knob, same
        # rule (split-size ~ bytes/core), different magnitude.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_SPLIT", "4m"))
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        # Spark 4 captures the Python call site (a full inspect.stack walk
        # through a py4j roundtrip) on EVERY DataFrame/Column API call for
        # error decoration — ~3 ms per call, which is ~50% of the whole
        # plan-build wall for expression-heavy operators (the minhash
        # pipeline issues ~400 decorated calls per build; measured 2.97 s
        # -> 0.97 s build for 3 dedup_minhash_lsh constructions with this
        # off). Errors still surface with the JVM-side context; only the
        # Python-line decoration is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if warehouse_dir:
        # Persistent catalog: external tables registered by the hive-sync
        # stage (catalog.py) survive JVM restarts when every run points at
        # the same warehouse + metastore location — the reference's Glue
        # catalog contract (glue_job_script.py:64-73). Note getOrCreate
        # reuses any live session; persistence semantics apply to the
        # session that actually created the SparkContext.
        builder = (
            builder.config("spark.sql.warehouse.dir", warehouse_dir)
            .config(
                "javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={os.path.join(warehouse_dir, 'metastore_db')};create=true",
            )
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
