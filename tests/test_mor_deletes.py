"""`_hoodie_is_deleted` on the MOR table — Hudi's delete log blocks:
tombstones are O(batch) delta rows, resolved by precombine order at
read time, folded into the base by compaction, visible (flagged) to
incremental consumers, and absent from the read-optimized view until
compaction catches up."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import CompactionPolicy, MergeOnReadTable


def _never():
    return CompactionPolicy(max_delta_commits=None, max_log_bytes=None)


def _tbl(spark, path, **kw):
    kw.setdefault("policy", _never())
    return MergeOnReadTable(
        spark, str(path), keys=["k"], precombine="ver", partition_by=["p"], **kw
    )


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, p=p, ver=v, val=x) for (k, p, v, x) in rows]
    )


def _marked(spark, rows):
    return spark.createDataFrame(
        [(k, p, v, x, d) for (k, p, v, x, d) in rows],
        "k long, p string, ver long, val string, _hoodie_is_deleted boolean",
    )


def _state(t, df=None):
    return sorted((r.k, r.p, r.ver, r.val) for r in (df or t.read()).collect())


def test_mor_mixed_batch_tombstones(spark, tmp_path):
    t = _tbl(spark, tmp_path / "t")
    t.upsert(_df(spark, [(1, "a", 1, "x"), (2, "a", 1, "y"), (3, "b", 1, "z")]))
    t.upsert(_marked(spark, [
        (1, "a", 2, "x2", False),   # update
        (2, "a", 2, None, True),    # delete
        (4, "b", 1, "w", False),    # insert
    ]))
    assert _state(t) == [(1, "a", 2, "x2"), (3, "b", 1, "z"), (4, "b", 1, "w")]
    assert "_deleted" not in t.read().columns


def test_mor_stale_tombstone_loses(spark, tmp_path):
    """A tombstone with an OLDER precombine than the stored row deletes
    nothing — the ordered-delete contract, now on the log-merge path."""
    t = _tbl(spark, tmp_path / "t")
    t.upsert(_df(spark, [(1, "a", 5, "x")]))
    t.upsert(_marked(spark, [(1, "a", 3, None, True)]))  # stale
    assert _state(t) == [(1, "a", 5, "x")]
    t.upsert(_marked(spark, [(1, "a", 7, None, True)]))  # fresh: wins
    assert _state(t) == []


def test_mor_read_optimized_lags_until_compaction(spark, tmp_path):
    """The tombstone lives in the log: read_optimized (base only) still
    shows the row until compact() folds the delete into the base."""
    t = _tbl(spark, tmp_path / "t")
    t.upsert(_df(spark, [(1, "a", 1, "x"), (2, "a", 1, "y")]))
    t.compact()
    t.upsert(_marked(spark, [(2, "a", 2, None, True)]))
    assert sorted(r.k for r in t.read_optimized().collect()) == [1, 2]  # stale
    assert sorted(r.k for r in t.read().collect()) == [1]               # merged
    t.compact()
    assert sorted(r.k for r in t.read_optimized().collect()) == [1]
    assert "_deleted" not in t.read_optimized().columns


def test_mor_time_travel_sees_pre_delete_state(spark, tmp_path):
    t = _tbl(spark, tmp_path / "t")
    t.upsert(_df(spark, [(1, "a", 1, "x"), (2, "a", 1, "y")]))   # commit 1
    t.upsert(_marked(spark, [(2, "a", 2, None, True)]))           # commit 2
    assert sorted(r.k for r in t.read(as_of=1).collect()) == [1, 2]
    assert sorted(r.k for r in t.read(as_of=2).collect()) == [1]


def test_mor_incremental_flags_tombstones(spark, tmp_path):
    """Incremental consumers SEE the delete (flagged row), the
    TimelineTable.incremental contract."""
    t = _tbl(spark, tmp_path / "t")
    t.upsert(_df(spark, [(1, "a", 1, "x"), (2, "a", 1, "y")]))
    t.upsert(_marked(spark, [(2, "a", 2, None, True)]))
    inc = t.read_incremental(begin=1)
    rows = {r.k: r for r in inc.collect()}
    assert rows[2]._deleted is True


def test_mor_nbcc_tombstone_between_writers(spark, tmp_path):
    """A tombstone published by one NBCC writer deletes a key another
    writer upserted — resolved by precombine at read time, no aborts."""
    t = _tbl(spark, tmp_path / "t")
    t.nbcc_upsert(_df(spark, [(1, "a", 1, "x"), (2, "a", 1, "y")]), writer="A")
    t.nbcc_upsert(_marked(spark, [(2, "a", 3, None, True)]), writer="B")
    t.nbcc_upsert(_df(spark, [(2, "a", 2, "late-loses")]), writer="A")
    assert _state(t) == [(1, "a", 1, "x")]


def test_mor_marker_rejected_with_partial_merge(spark, tmp_path):
    t = _tbl(spark, tmp_path / "t", merge_mode="partial")
    t.upsert(_df(spark, [(1, "a", 1, "x")]))
    with pytest.raises(ValueError, match="_hoodie_is_deleted"):
        t.upsert(_marked(spark, [(1, "a", 2, None, True)]))


def test_mor_meta_schema_never_contains_deleted(spark, tmp_path):
    """ADVICE r12: `_deleted` is delta-internal — a tombstone-carrying
    upsert (single-writer or NBCC) must not leak it into the persisted
    meta schema, or schema-driven empty frames (e.g. a partition-scoped
    base read over delta-only partitions) would expose a column the
    merged read paths drop."""
    import json as _json

    t = _tbl(spark, tmp_path / "t")
    t.upsert(_df(spark, [(1, "a", 1, "x")]))
    t.upsert(_marked(spark, [(1, "a", 2, None, True)]))
    stored = {f["name"] for f in _json.loads(t._meta()["schema"])["fields"]}
    assert "_deleted" not in stored
    assert "_hoodie_is_deleted" not in stored
    # NBCC path too
    t2 = _tbl(spark, tmp_path / "t2")
    t2.upsert(_df(spark, [(1, "a", 1, "x")]))
    t2.nbcc_upsert(_marked(spark, [(1, "a", 2, None, True)]), writer="w1")
    stored2 = {f["name"] for f in _json.loads(t2._meta()["schema"])["fields"]}
    assert "_deleted" not in stored2
    # schema-driven empty frame matches a normal read's column set
    empty = t2._read_base_partitions([("zzz",)])
    assert set(empty.columns) == set(t2.read().columns)


def test_mor_bootstrap_with_marker_hides_deleted(spark, tmp_path):
    """A first batch that carries the marker bootstraps the table: the
    base scan that serves reads with no pending delta must not expose
    `_deleted`, and neither may the persisted schema."""
    import json as _json

    t = _tbl(spark, tmp_path / "t", table_name="mor_boot_marker")
    t.upsert(_marked(spark, [(1, "a", 1, "x", False), (2, "a", 1, None, True)]))
    stored = {f["name"] for f in _json.loads(t._meta()["schema"])["fields"]}
    assert "_deleted" not in stored
    assert "_deleted" not in t.read().columns
    assert "_deleted" not in t.read(as_of=1).columns
    assert "_deleted" not in spark.table("mor_boot_marker").columns
    assert _state(t) == [(1, "a", 1, "x")]


def test_mor_base_scan_drops_deleted_from_older_meta(spark, tmp_path):
    """A meta schema saved before bootstrap stripped `_deleted` still
    lists it; the no-delta base scan reads it as all-null and drops it."""
    import json as _json

    t = _tbl(spark, tmp_path / "t")
    t.upsert(_marked(spark, [(1, "a", 1, "x", False)]))
    meta = t._meta()
    fields = _json.loads(meta["schema"])["fields"]
    fields.append({"name": "_deleted", "type": "boolean", "nullable": True, "metadata": {}})
    meta["schema"] = _json.dumps({"type": "struct", "fields": fields})
    t._save_meta(meta)
    assert "_deleted" not in t.read().columns
    assert _state(t) == [(1, "a", 1, "x")]
