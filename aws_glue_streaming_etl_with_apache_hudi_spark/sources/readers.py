"""Batch and streaming sources.

The reference's only source is a catalog-registered Kinesis stream read as a
schema-inferred JSON streaming DataFrame (glue_job_script.py:38-43, stream
table defined at cloudformation-template/Glue_StreamingJob_Hudi_Template.yaml:
73-104). Spark-natively that's ``spark.readStream``; for hermetic tests we use
the file source, which exercises the identical micro-batch machinery.

Batch readers are thin wrappers over ``spark.read`` — Catalyst then owns
predicate pushdown, column pruning and partition pruning; a scan only
materializes the columns/row-groups a query needs, which is the property that
matters at 100 TB (verify with ``plans.explain_str``: ``PushedFilters`` /
``ReadSchema``).

A parquet table opens from metadata alone, as the reference learns a table's
schema from the catalog and never scans data for it (glue_job_script.py:85):
the driver reads the file's footer and converts it with Spark's own footer
conversion, so opening a table starts no Spark job.
"""

from __future__ import annotations

import json
import os
import weakref

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FIXTURE_TABLES = (
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

# Explicit schema for the events stream table (FIXTURES.md §A) — streaming
# file sources require a schema (no inference mid-stream); this is the
# engine-side equivalent of the reference's catalog-declared stream table.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """Spark schema of the single parquet file at ``path``, read on the
    driver: parquet-mr reads the footer and Spark's own
    ``ParquetFileFormat.readSchemaFromFooter`` converts it, the conversion
    Spark's schema-inference job runs, so the footer's Spark schema
    metadata and session flags such as ``nanosAsLong`` apply alike. None
    for a directory (or anything else that is not a local file) and for
    any error from those JVM classes; the caller then lets Spark infer."""
    if not os.path.isfile(path):
        return None
    jvm = spark._jvm
    try:
        state = spark._jsparkSession.sessionState()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(state.newHadoopConf(), jpath)
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(jpath, footer),
            parquet.ParquetToSparkSchemaConverter(state.conf()),
        ).asNullable().json()
    except Py4JError:
        return None
    return T.StructType.fromJson(json.loads(schema))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet batch read. A single file opens with its footer schema read
    on the driver (no Spark job); a directory, or a file whose footer the
    driver cannot convert, is inferred by Spark, which raises its own
    error for a file that is not parquet."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


# Reader memo for fixture tables: (session, path identity) -> DataFrame.
# A miss opens the file through ``read_parquet`` (footer schema read on the
# driver, no Spark job); a hit costs zero py4j gateway roundtrips as well,
# since the memo stores the immutable source DataFrame itself. Keyed on
# (realpath, mtime_ns, size) so a rewritten fixture re-reads, and weakly on
# the session so a stopped session's frames drop. This caches PLAN METADATA
# only (an unexecuted scan relation, never rows) — every query still
# computes from the parquet inputs.
_READ_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _parquet_with_schema_memo(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)  # let Spark raise its own error
    per_session = _READ_MEMO.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        df = read_parquet(spark, path)
        per_session[key] = df
    return df


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """JSON batch read. ``schema=None`` infers, matching the reference's
    ``{"inferSchema": "true"}`` (glue_job_script.py:42); production callers
    should pass a schema (inference is a full extra pass over the data)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC batch read — Spark's other first-class columnar format (same
    vectorized reader, predicate pushdown, and column pruning as the
    parquet path; Hudi tables can be ORC-based via
    ``hoodie.table.base.file.format=ORC``)."""
    return spark.read.orc(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType | None = None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (TESTDATA.md) as a DataFrame.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects by default; read it as long nanos
    (``spark.sql.legacy.parquet.nanosAsLong`` — runtime-settable) and
    truncate to microsecond timestamps, byte-identical to how DuckDB's
    reader converts ns -> its µs-precision TIMESTAMP (verified in
    tests/test_sources.py). Conversion is a column expression — stays in
    codegen, no UDF.
    """
    # UTC regardless of the calling session's zone: timestamp rendering
    # (date_format) must agree with DuckDB's zoneless timestamps even when
    # the driver supplies its own SparkSession. Set once per session (the
    # sentinel rides the per-session read memo) — one fewer py4j roundtrip
    # on every subsequent load_table call.
    per_session = _READ_MEMO.setdefault(spark, {})
    if "_tz_set" not in per_session:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        per_session["_tz_set"] = True
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = _parquet_with_schema_memo(spark, f"{sf_dir}/{name}.parquet")
        # the ts-converted frame rides the memoized raw frame: a rewritten
        # file yields a NEW raw object (stat-keyed memo), so the converted
        # plan can never go stale relative to its source
        cached = getattr(raw, "_graft_ts_converted", None)
        if cached is not None:
            return cached
        df = raw
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer division (`div`), NOT `/`: float division of an
            # 19-digit nanosecond value loses the final microsecond digit.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Spark 4.x infers micros-precision zoneless parquet timestamps
            # as TIMESTAMP_NTZ; normalize to the session-zoned TimestampType
            # this module promises. Session zone is UTC (set above), so the
            # cast is value-preserving and matches DuckDB's zoneless reads.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        raw._graft_ts_converted = df
        return df
    return _parquet_with_schema_memo(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES) -> None:
    """Register fixture tables as temp views so ``spark.sql`` can query them
    — the engine-side analogue of the reference's Hive/Glue catalog sync
    (glue_job_script.py:64-73)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_schema(spark: SparkSession, table: str) -> T.StructType:
    """Catalog schema probe without reading data (A5 — the reference's
    ``spark.sql("SELECT * FROM t LIMIT 0")``, glue_job_script.py:85;
    ``spark.table(...).schema`` resolves from the catalog with no scan)."""
    return spark.table(table).schema


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Unbounded streaming DataFrame over a directory (A1 analogue).

    ``maxFilesPerTrigger=1`` makes each dropped file one micro-batch —
    deterministic replay of the reference's per-trigger batching
    (glue_job_script.py:111-118) without a message bus. Swap ``fmt`` and
    options for kafka/kinesis in production; the downstream plan is
    identical.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)
