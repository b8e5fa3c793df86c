"""MOR delta reads: pending deltas that share a recorded schema are one
scan, with the rows of a per-delta union.

``MergeOnReadTable._read_deltas`` opens every group of deltas whose
completed markers record the same schema as ONE parquet relation over
their ``commit=N`` directories, the seq taken from the directory name.
These tests pin the plan shape (one delta scan per schema group, on the
realtime read and in the compaction merge), compare every view with the
per-delta union it replaces, and cover the reads that stay per delta: a
delta with no recorded schema and a table with a ``commit`` column."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.operators import mor as M
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import CompactionPolicy, MergeOnReadTable
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.schema_evolution import evolve_schema


class PerDeltaTable(MergeOnReadTable):
    """The delta read before grouping: one relation per delta, unioned
    (``evolve_schema`` for the merge, ``allowMissingColumns`` for the
    incremental pull)."""

    def _read_deltas(self, seqs, seq_col):
        merged = None
        for seq in seqs:
            d = self._read_delta(seq).withColumn(seq_col, F.lit(seq))
            if merged is None:
                merged = d
            elif seq_col == "_commit_id":
                merged = merged.unionByName(d, allowMissingColumns=True)
            else:
                merged, d = evolve_schema(merged, d)
                merged = merged.unionByName(d)
        return merged


def _table(spark, path, cls=MergeOnReadTable, **kw):
    return cls(
        spark=spark, path=str(path), keys=["k"], precombine="ver",
        partition_by=["part"], policy=CompactionPolicy(max_delta_commits=100), **kw,
    )


def _rows(spark, data):
    return spark.createDataFrame(
        [Row(k=k, part=p, v=v, ver=ver) for (k, p, v, ver) in data]
    )


def _delta_scans(df) -> int:
    """File scans of the physical plan that read delta directories."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() != "Scan parquet ":
            continue
        roots = leaf.relation().location().rootPaths()
        n += any("/log/commit=" in roots.apply(j).toString() for j in range(roots.size()))
    return n


def _view(df):
    return df.dtypes, sorted(tuple(r) for r in df.collect())


def _views(t, as_of):
    return {
        "as_of": _view(t.read(as_of=as_of)),
        "incremental": _view(t.read_incremental(0)),
        "read": _view(t.read()),
        "read_optimized": _view(t.read_optimized()),
    }


def _capture_compaction_merge(monkeypatch):
    """Record the frame every compaction hands to its writer."""
    seen = []
    write = M.overwrite_writer

    def recording(df, partition_by):
        seen.append(df)
        return write(df, partition_by)

    monkeypatch.setattr(M, "overwrite_writer", recording)
    return seen


# -- plan shape ------------------------------------------------------------


def test_one_schema_is_one_delta_scan(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "m")
    for ver in (1, 2, 3, 4):
        t.upsert(_rows(spark, [(1, "a", f"x{ver}", ver), (ver, "b", "y", ver)]))
    assert len(t.pending_commits()) == 3
    assert _delta_scans(t.read()) == 1
    assert _delta_scans(t.read(as_of=3)) == 1
    assert _delta_scans(t.read_incremental(0)) == 1
    seen = _capture_compaction_merge(monkeypatch)
    assert t.compact() == 3
    assert len(seen) == 1 and _delta_scans(seen[0]) == 1
    assert {(r.part, r.k, r.v) for r in t.read().collect()} == {
        ("a", 1, "x4"), ("b", 1, "y"), ("b", 2, "y"), ("b", 3, "y"), ("b", 4, "y"),
    }


def test_two_schemas_are_two_delta_scans(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "m")
    t.upsert(_rows(spark, [(1, "a", "x", 1)]))
    t.upsert(_rows(spark, [(2, "a", "y", 1)]))
    t.upsert(spark.createDataFrame([Row(k=3, part="b", v="z", ver=1, extra="e")]))
    t.upsert(_rows(spark, [(1, "a", "x2", 2)]))
    assert _delta_scans(t.read()) == 2
    seen = _capture_compaction_merge(monkeypatch)
    assert t.compact() == 3
    assert len(seen) == 1 and _delta_scans(seen[0]) == 2
    assert {(r.k, r.v, r.extra) for r in t.read().collect()} == {
        (1, "x2", None), (2, "y", None), (3, "z", "e"),
    }


# -- the same rows as the per-delta union -----------------------------------


def _batches(spark, case):
    if case == "tombstone":
        marked = "k long, part string, v string, ver long, _hoodie_is_deleted boolean"
        return [
            _rows(spark, [(1, "a", "x", 1), (2, "a", "y", 1), (3, "b", "z", 1)]),
            spark.createDataFrame([(2, "a", None, 2, True), (3, "b", "z2", 2, False)], marked),
            _rows(spark, [(4, "b", "w", 1)]),
            spark.createDataFrame([(4, "b", None, 2, True)], marked),
            _rows(spark, [(2, "a", "y3", 3)]),
        ]
    if case == "added_column":
        return [
            _rows(spark, [(1, "a", "x", 1), (2, "b", "y", 1)]),
            spark.createDataFrame([Row(k=1, part="a", v="x2", ver=2, extra="new")]),
            _rows(spark, [(2, "b", "y2", 2)]),
            spark.createDataFrame([Row(k=3, part="a", v="z", ver=1, extra="e3")]),
            _rows(spark, [(3, "a", "z2", 2)]),
        ]
    schema = "k long, part string, v {}, ver long"
    return [
        spark.createDataFrame([(1, "a", 1, 1), (2, "b", 2, 1)], schema.format("int")),
        spark.createDataFrame([(1, "a", 2**40, 2)], schema.format("bigint")),
        spark.createDataFrame([(2, "b", 3, 2)], schema.format("int")),
        spark.createDataFrame([(3, "b", 4, 1)], schema.format("bigint")),
        spark.createDataFrame([(1, "a", 5, 3)], schema.format("int")),
    ]


@pytest.mark.parametrize("case", ["tombstone", "added_column", "widened_type"])
def test_grouped_reads_match_per_delta_union(spark, tmp_path, case):
    grouped = _table(spark, tmp_path / "grouped")
    for b in _batches(spark, case):
        grouped.upsert(b)
    shutil.copytree(grouped.path, str(tmp_path / "per_delta"))
    per_delta = _table(spark, tmp_path / "per_delta", PerDeltaTable)
    assert _delta_scans(grouped.read()) == 2
    assert _delta_scans(per_delta.read()) == 4
    assert _views(grouped, 3) == _views(per_delta, 3)
    assert grouped.compact() == per_delta.compact() == 4
    assert _views(grouped, 3) == _views(per_delta, 3)


# -- reads that stay per delta ------------------------------------------------


def test_commit_data_column_reads_alone(spark, tmp_path, monkeypatch):
    """A ``commit`` data column would collide with the partition column
    a grouped read adds, so such deltas are read one by one."""
    schema = "k long, part string, commit string, ver long"
    t = _table(spark, tmp_path / "c")
    t.upsert(spark.createDataFrame([(1, "a", "c1", 1), (2, "b", "c1", 1)], schema))
    t.upsert(spark.createDataFrame([(1, "a", "c2", 2)], schema))
    t.upsert(spark.createDataFrame([(2, "b", "c3", 2), (3, "a", "c3", 1)], schema))
    assert _delta_scans(t.read()) == 2
    want = {(1, "a", "c2", 2), (2, "b", "c3", 2), (3, "a", "c3", 1)}
    assert {(r.k, r.part, r.commit, r.ver) for r in t.read().collect()} == want
    assert {(r.k, r.commit, r._commit_id) for r in t.read_incremental(1).collect()} == {
        (1, "c2", 2), (2, "c3", 3), (3, "c3", 3),
    }
    seen = _capture_compaction_merge(monkeypatch)
    assert t.compact() == 2
    assert _delta_scans(seen[0]) == 2
    assert {(r.k, r.part, r.commit, r.ver) for r in t.read().collect()} == want


def test_delta_without_recorded_schema_reads_alone(spark, tmp_path):
    t = _table(spark, tmp_path / "l")
    for ver in (1, 2, 3, 4):
        t.upsert(_rows(spark, [(ver, "a", f"x{ver}", ver)]))
    done = os.path.join(t.path, "log", "_instants", "3.completed")
    with open(done) as f:
        rec = json.load(f)
    rec.pop("schema")
    with open(done, "w") as f:
        json.dump(rec, f)
    assert t._delta_schema(3) is None
    assert _delta_scans(t.read()) == 2
    want = {(v, f"x{v}") for v in (1, 2, 3, 4)}
    assert {(r.k, r.v) for r in t.read().collect()} == want
    assert sorted(r._commit_id for r in t.read_incremental(1).collect()) == [2, 3, 4]
    assert t.compact() == 3
    assert {(r.k, r.v) for r in t.read().collect()} == want


def test_incremental_over_more_deltas_than_the_listing_threshold(spark, tmp_path):
    """A relation opens at most Spark's parallel-listing threshold of
    directories (32 by default): 34 deltas of one schema are two scans,
    and building the pull lists files on the driver, starting no job."""
    t = _table(spark, tmp_path / "n")
    n = 35
    for ver in range(1, n + 1):
        t.upsert(_rows(spark, [(ver % 5, "a", f"x{ver}", ver)]))
    sc = spark.sparkContext
    group = f"mor-listing-{os.getpid()}-{abs(hash(str(tmp_path)))}"
    sc.setJobGroup(group, group)
    try:
        inc = t.read_incremental(1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert _delta_scans(inc) == 2
    want = {(k, f"x{v}", v) for v in range(n - 4, n + 1) for k in [v % 5]}
    assert {(r.k, r.v, r._commit_id) for r in inc.collect()} == want
    assert {(r.k, r.v) for r in t.read().collect()} == {(k, v) for k, v, _ in want}
