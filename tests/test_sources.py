"""Source layer: format round-trips, nanosecond-timestamp handling, view
registration (catalog surface)."""

from __future__ import annotations

import datetime

from pyspark.sql import types as T

from aws_glue_streaming_etl_with_apache_hudi_spark.sources import readers as R


def test_events_ts_matches_duckdb_microseconds(spark, sf_dir):
    """events.parquet stores TIMESTAMP(NANOS); our loader must truncate to
    the exact microsecond values DuckDB produces (oracle comparability)."""
    import duckdb

    got = {
        r.event_id: r.ts
        for r in R.load_table(spark, sf_dir, "events").select("event_id", "ts").limit(50).collect()
    }
    con = duckdb.connect()
    exp = dict(
        con.execute(
            f"SELECT event_id, ts FROM read_parquet('{sf_dir}/events.parquet') "
            f"WHERE event_id IN ({','.join(map(str, got))})"
        ).fetchall()
    )
    assert {k: v.replace(tzinfo=None) for k, v in got.items()} == exp


def test_events_schema_is_typed(spark, sf_dir):
    df = R.load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert isinstance(df.schema["value"].dataType, T.DoubleType)


def test_json_csv_round_trip(spark, tmp_path):
    df = R.load_table(spark, str("/root/testdata/sf0.001"), "nation")
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    df.write.json(jdir)
    df.write.option("header", "true").csv(cdir)

    back_j = R.read_json(spark, jdir, schema=df.schema)
    assert sorted(map(tuple, back_j.collect())) == sorted(map(tuple, df.collect()))

    back_c = R.read_csv(spark, cdir, schema=df.schema)
    assert sorted(map(tuple, back_c.collect())) == sorted(map(tuple, df.collect()))


def test_json_schema_inference_matches_reference_behavior(spark, tmp_path):
    """The reference infers stream schemas from JSON payloads
    (glue_job_script.py:42); our JSON reader with schema=None does the
    same for batch."""
    p = str(tmp_path / "in.json")
    with open(p, "w") as f:
        f.write('{"name": "a", "date": "2024-01-01", "age": 3}\n')
        f.write('{"name": "b", "date": "2024-01-02", "city": "x"}\n')
    df = R.read_json(spark, p)
    assert set(df.columns) == {"name", "date", "age", "city"}


def test_register_views_sql_surface(spark, sf_dir):
    R.register_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM region").collect()[0].n
    assert n == 5


def test_stream_source_builds(spark, sf_dir, tmp_path):
    src = str(tmp_path / "s")
    R.load_table(spark, sf_dir, "events").limit(10).write.parquet(src)
    stream = R.stream_from_directory(spark, src, R.EVENTS_SCHEMA)
    assert stream.isStreaming


def test_rate_source_smoke(spark):
    """Streaming rate source (synthetic benchmark stream — SURVEY §2
    'streaming file/rate source')."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    assert rate.isStreaming
    assert [f.name for f in rate.schema.fields] == ["timestamp", "value"]
    q = (
        rate.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .start()
    )
    import time

    time.sleep(2)
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT count(*) n FROM rate_smoke").collect()[0].n >= 0


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC read path: round-trip a fixture table and confirm the same
    pushdown/pruning contract the parquet scans get (both formats share
    Spark's vectorized columnar reader)."""
    from pyspark.sql import functions as F

    from aws_glue_streaming_etl_with_apache_hudi_spark.sources.readers import load_table, read_orc

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.mode("overwrite").orc(path)

    back = read_orc(spark, path)
    assert back.count() == orders.count()
    assert dict(back.dtypes) == dict(orders.dtypes)

    from aws_glue_streaming_etl_with_apache_hudi_spark.plans import has_pushed_filter

    pruned = back.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    assert has_pushed_filter(pruned, "o_orderstatus")


# -- opening parquet from footer metadata --------------------------------

def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` starts, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _fresh_fixture_dir(sf_dir: str, dest) -> str:
    """The fixture tables under a new path (hard links where the file
    system allows), so every load misses the reader memo."""
    import os
    import shutil

    dest.mkdir()
    for name in R.FIXTURE_TABLES:
        src, dst = f"{sf_dir}/{name}.parquet", str(dest / f"{name}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
    return str(dest)


def test_load_table_starts_no_spark_job(spark, sf_dir, tmp_path):
    """Opening a table reads its footer on the driver: ten fresh fixture
    tables open with zero Spark jobs, where schema inference starts one
    job a table (the control, which shows the counter sees jobs)."""
    import os

    fresh = _fresh_fixture_dir(sf_dir, tmp_path / "fixtures")
    group = f"load-table-{os.getpid()}-{abs(hash(str(tmp_path)))}"
    n = _jobs(spark, group, lambda: [R.load_table(spark, fresh, t).schema for t in R.FIXTURE_TABLES])
    assert n == 0, n
    control = _jobs(spark, group + "-control", lambda: spark.read.parquet(f"{fresh}/nation.parquet").schema)
    assert control >= 1, control


def test_footer_schema_matches_inference_on_fixtures(spark, sf_dir, tmp_path):
    """The driver's footer schema is the schema Spark infers, for every
    fixture table with nanosAsLong on (as ``load_table`` sets it for
    ``events``), and for a TIMESTAMP(NANOS) column, which that flag
    reads as long."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2_000_000_001], pa.timestamp("ns"))}), nanos)
    for p in [f"{sf_dir}/{name}.parquet" for name in R.FIXTURE_TABLES] + [nanos]:
        inferred = spark.read.parquet(p).schema
        assert R._footer_schema(spark, p) == inferred, p
        assert R.read_parquet(spark, p).schema == inferred, p
    assert R._footer_schema(spark, nanos)["ts"].dataType == T.LongType()


def test_footer_schema_matches_inference_on_nested_types(spark, tmp_path):
    """A Spark-written file with TIMESTAMP_NTZ, DECIMAL(38,x), array and
    struct columns: Spark's footer schema metadata round-trips through
    the driver read as it does through inference."""
    import glob

    out = str(tmp_path / "typed")
    spark.sql(
        """SELECT TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS ntz,
                  CAST('12345678901234567890.123456' AS DECIMAL(38,6)) AS d38,
                  CAST(1.5 AS DECIMAL(38,0)) AS d0,
                  array(1, 2, 3) AS arr,
                  named_struct('a', 1L, 'b', array('x'), 'c', named_struct('t', TIMESTAMP'2024-01-01 00:00:00')) AS st,
                  map('k', 1.5D) AS m"""
    ).coalesce(1).write.parquet(out)
    (p,) = glob.glob(f"{out}/part-*.parquet")
    inferred = spark.read.parquet(p).schema
    assert R._footer_schema(spark, p) == inferred
    assert R.read_parquet(spark, p).collect() == spark.read.parquet(p).collect()


def test_directory_takes_inference_fallback(spark, tmp_path):
    """A directory has no single footer: it is inferred by Spark."""
    out = str(tmp_path / "dir")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(out)
    assert R._footer_schema(spark, out) is None
    df = R.read_parquet(spark, out)
    assert df.schema == spark.read.parquet(out).schema
    assert sorted(r.id for r in df.collect()) == [0, 1, 2]


def test_non_parquet_file_raises_spark_error(spark, tmp_path):
    """A file that is not parquet fails the driver read and falls back
    to inference, so the caller sees the error Spark itself raises."""
    import pytest

    p = tmp_path / "bad.parquet"
    p.write_text("not a parquet file\n" * 4)
    assert R._footer_schema(spark, str(p)) is None
    with pytest.raises(Exception) as direct:
        spark.read.parquet(str(p)).schema
    with pytest.raises(type(direct.value)) as via:
        R.read_parquet(spark, str(p)).schema

    def root_cause(e):
        j = e.java_exception
        while j.getCause() is not None:
            j = j.getCause()
        return j.getClass().getName(), j.getMessage()

    assert root_cause(via.value) == root_cause(direct.value)
