"""Spark jobs per commit on the reference ingest path: a keyed upsert into
a warm day-partitioned table, registered in the catalog after each commit.

Each count is the number of jobs Spark starts for one commit, read from
the status tracker under a job group. A count that grows means a commit
pays for work it did not do before (a schema-inference read, a second
aggregation of the batch, an emptiness probe)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import CompactionPolicy, MergeOnReadTable
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable
from aws_glue_streaming_etl_with_apache_hudi_spark.streaming.pipeline import StreamingUpsertPipeline

SCHEMA = "key long, ts long, value double, day string"


def _batch(spark, lo: int, hi: int, ts: int):
    """Keys ``lo..hi-1`` over three days, one version per key at ``ts``."""
    return spark.range(lo, hi).select(
        F.col("id").alias("key"),
        F.lit(ts).cast("long").alias("ts"),
        (F.col("id") * 0.5).alias("value"),
        F.concat(F.lit("d"), (F.col("id") % 3).cast("string")).alias("day"),
    )


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _group(tmp_path, name: str) -> str:
    return f"{name}-{os.getpid()}-{abs(hash(str(tmp_path)))}"


def _table_name(tmp_path, name: str) -> str:
    return f"jobs_{name}_{abs(hash(str(tmp_path)))}"


def test_cow_commit_jobs(spark, tmp_path):
    """A COW commit runs the touched-partition collect, the merge (one
    aggregation over stored and batch rows) and its write. The
    touched-partition read takes the persisted schema: no inference job."""
    t = UpsertTable(
        spark, str(tmp_path / "cow"), keys=["key"], precombine="ts",
        partition_by=["day"], table_name=_table_name(tmp_path, "cow"),
    )
    t.upsert(_batch(spark, 0, 300, 1))
    t.upsert(_batch(spark, 100, 400, 2))  # warm: plans and catalog entries exist
    n = _jobs(spark, _group(tmp_path, "cow"), lambda: t.upsert(_batch(spark, 200, 500, 3)))
    assert n <= 4, n
    got = t.read().groupBy("ts").count().collect()
    assert sorted((r.ts, r["count"]) for r in got) == [(1, 100), (2, 100), (3, 300)]


def test_mor_commit_jobs(spark, tmp_path):
    """A MOR delta commit is the batch precombine and the delta write;
    the realtime-view refresh reads each pending delta with its recorded
    schema, and a compacting commit refreshes it once."""
    t = MergeOnReadTable(
        spark, str(tmp_path / "mor"), keys=["key"], precombine="ts",
        partition_by=["day"], table_name=_table_name(tmp_path, "mor"),
        policy=CompactionPolicy(max_delta_commits=3),
    )
    t.upsert(_batch(spark, 0, 300, 1))
    t.upsert(_batch(spark, 100, 400, 2))
    delta = _jobs(spark, _group(tmp_path, "mor-delta"), lambda: t.upsert(_batch(spark, 200, 500, 3)))
    assert t._compacted_through() == 1 and len(t._log_commits()) == 2
    assert delta <= 1, delta
    compacting = _jobs(
        spark, _group(tmp_path, "mor-compact"), lambda: t.upsert(_batch(spark, 300, 600, 4))
    )
    assert t._compacted_through() == 4 and t._log_commits() == []
    assert compacting <= 5, compacting
    got = t.read().groupBy("ts").count().collect()
    assert sorted((r.ts, r["count"]) for r in got) == [(1, 100), (2, 100), (3, 100), (4, 300)]


def test_zero_row_file_leaves_both_layouts_unchanged(spark, tmp_path):
    """A 0-row event file reaches ``foreachBatch`` (the source has a new
    file), which no longer probes the batch for emptiness: the COW upsert
    returns early, MOR commits an empty delta. Live rows are unchanged."""
    tables = {
        "cow": UpsertTable(
            spark, str(tmp_path / "cow"), keys=["key"], precombine="ts", partition_by=["day"]
        ),
        "mor": MergeOnReadTable(
            spark, str(tmp_path / "mor"), keys=["key"], precombine="ts", partition_by=["day"]
        ),
    }
    base = _batch(spark, 0, 30, 1)
    expected = sorted(map(tuple, base.collect()))
    for layout, table in tables.items():
        table.upsert(base)
        src = tmp_path / f"src_{layout}"
        spark.createDataFrame([], SCHEMA).coalesce(1).write.parquet(str(src / "f0"))
        pipe = StreamingUpsertPipeline(
            spark,
            source_dir=str(src / "f0"),
            schema=base.schema,
            table=table,
            checkpoint=str(tmp_path / f"ckpt_{layout}"),
        )
        pipe.run_available()
        assert len(pipe.batches_seen) == 1, layout
        got = sorted(map(tuple, table.read().select(*base.columns).collect()))
        assert got == expected, layout
