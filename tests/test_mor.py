"""Merge-on-read table: append-only commits, read-side merge, scheduled
compaction (Hudi MOR semantics — COW counterpart is test_upsert.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import CompactionPolicy, MergeOnReadTable


def _rows(spark, data):
    return spark.createDataFrame(
        [Row(k=k, part=p, v=v, ver=ver) for (k, p, v, ver) in data]
    )


@pytest.fixture
def table(spark, tmp_path):
    return MergeOnReadTable(
        spark=spark,
        path=str(tmp_path / "mor"),
        keys=["k"],
        precombine="ver",
        partition_by=["part"],
        policy=CompactionPolicy(max_delta_commits=100),  # manual compaction
    )


def test_append_only_writes_then_merged_read(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1), (2, "a", "y", 1)]))
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))          # update
    table.upsert(_rows(spark, [(3, "b", "z", 1), (1, "a", "OLD", 0)]))  # stale ignored

    state = {r.k: (r.v, r.ver) for r in table.read().collect()}
    assert state == {1: ("x2", 2), 2: ("y", 1), 3: ("z", 1)}
    # write path really was append-only: both deltas still on disk
    assert len(table._log_commits()) == 2


def test_later_commit_wins_precombine_tie(table, spark):
    table.upsert(_rows(spark, [(1, "a", "first", 5)]))
    table.upsert(_rows(spark, [(1, "a", "second", 5)]))  # same ver, later commit
    assert table.read().collect()[0].v == "second"


def test_read_optimized_is_stale_until_compaction(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))
    assert table.read_optimized().collect()[0].v == "x"   # base only
    table.compact()
    assert table.read_optimized().collect()[0].v == "x2"  # folded
    assert table._log_commits() == []                      # log truncated


def test_compaction_rewrites_only_touched_partitions(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1), (2, "b", "y", 1)]))
    base_b = os.path.join(table._base, "part=b")
    mtime_before = max(
        os.path.getmtime(os.path.join(base_b, f)) for f in os.listdir(base_b)
    )
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))  # touches only part=a
    table.compact()
    mtime_after = max(
        os.path.getmtime(os.path.join(base_b, f)) for f in os.listdir(base_b)
    )
    assert mtime_after == mtime_before  # part=b untouched by compaction
    state = {r.k: r.v for r in table.read().collect()}
    assert state == {1: "x2", 2: "y"}


def test_policy_triggers_inline_compaction(spark, tmp_path):
    t = MergeOnReadTable(
        spark=spark,
        path=str(tmp_path / "mor2"),
        keys=["k"],
        precombine="ver",
        partition_by=["part"],
        policy=CompactionPolicy(max_delta_commits=2),
    )
    t.upsert(_rows(spark, [(1, "a", "v1", 1)]))  # bootstrap (base)
    t.upsert(_rows(spark, [(1, "a", "v2", 2)]))  # delta 1
    assert len(t._log_commits()) == 1
    t.upsert(_rows(spark, [(1, "a", "v3", 3)]))  # delta 2 -> policy fires
    assert t._log_commits() == []                # compacted inline
    assert t.read_optimized().collect()[0].v == "v3"


def test_schema_evolution_across_deltas(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))
    evolved = spark.createDataFrame([Row(k=1, part="a", v="x2", ver=2, extra="new")])
    table.upsert(evolved)
    row = table.read().filter(F.col("k") == 1).collect()[0]
    assert row.v == "x2" and row.extra == "new"


def test_merge_equivalence_with_cow(spark, tmp_path):
    """MOR read() must equal COW state after the same upsert sequence."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    batches = [
        [(1, "a", "x", 1), (2, "a", "y", 1), (3, "b", "z", 1)],
        [(1, "a", "x2", 2), (4, "b", "w", 1)],
        [(2, "a", "OLD", 0), (3, "b", "z2", 2)],
    ]
    mor = MergeOnReadTable(
        spark=spark, path=str(tmp_path / "m"), keys=["k"], precombine="ver",
        partition_by=["part"], policy=CompactionPolicy(max_delta_commits=100),
    )
    cow = UpsertTable(
        spark=spark, path=str(tmp_path / "c"), keys=["k"], precombine="ver",
        partition_by=["part"],
    )
    for b in batches:
        df = _rows(spark, b)
        mor.upsert(df)
        cow.upsert(df)
    m = sorted(tuple(r) for r in mor.read().select("k", "part", "v", "ver").collect())
    c = sorted(tuple(r) for r in cow.read().select("k", "part", "v", "ver").collect())
    assert m == c


# -- timeline parity (round-4: time travel + incremental across compaction) --


def test_time_travel_across_compaction(table, spark):
    """read(as_of=N) reconstructs any instant — including ones BELOW the
    last compaction, which replay from the retained commit log."""
    table.upsert(_rows(spark, [(1, "a", "v1", 1), (2, "a", "y", 1)]))   # seq 1
    table.upsert(_rows(spark, [(1, "a", "v2", 2)]))                      # seq 2
    table.upsert(_rows(spark, [(1, "a", "v3", 3), (3, "b", "z", 1)]))   # seq 3
    table.compact()                                                      # folds 2,3
    table.upsert(_rows(spark, [(1, "a", "v4", 4)]))                      # seq 4

    def state(as_of):
        return {r.k: r.v for r in table.read(as_of=as_of).collect()}

    assert state(None) == {1: "v4", 2: "y", 3: "z"}
    assert state(4) == {1: "v4", 2: "y", 3: "z"}
    assert state(3) == {1: "v3", 2: "y", 3: "z"}  # == post-compaction base
    assert state(2) == {1: "v2", 2: "y"}          # BELOW the compaction: log replay
    assert state(1) == {1: "v1", 2: "y"}
    # timeline records every instant
    actions = [(i["action"], i["seq"]) for i in table.timeline()]
    assert ("deltacommit", 2) in actions and ("compaction", 3) in actions


def test_incremental_pull_across_compaction(table, spark):
    """An incremental consumer lagging behind the compactor still reads
    the folded commits (retention model; old behavior raised)."""
    table.upsert(_rows(spark, [(1, "a", "v1", 1)]))                      # seq 1
    table.upsert(_rows(spark, [(1, "a", "v2", 2), (2, "a", "y", 1)]))    # seq 2
    table.upsert(_rows(spark, [(3, "b", "z", 1)]))                       # seq 3
    table.compact()
    inc = {
        (r.k, r._commit_id) for r in table.read_incremental(begin=1).collect()
    }
    assert inc == {(1, 2), (2, 2), (3, 3)}
    # bounded range
    inc2 = {(r.k, r._commit_id) for r in table.read_incremental(1, end=2).collect()}
    assert inc2 == {(1, 2), (2, 2)}


def test_clean_enforces_horizon(table, spark):
    table.upsert(_rows(spark, [(1, "a", "v1", 1)]))        # seq 1
    table.upsert(_rows(spark, [(1, "a", "v2", 2)]))        # seq 2
    table.upsert(_rows(spark, [(1, "a", "v3", 3)]))        # seq 3
    # cannot clean commits the base does not contain yet
    with pytest.raises(ValueError, match="compact first"):
        table.clean(through=3)
    table.compact()
    assert table.clean(through=2) == 2                      # commits 1,2 removed
    # current state unaffected; history below the horizon raises
    assert table.read().collect()[0].v == "v3"
    with pytest.raises(ValueError, match="clean horizon"):
        table.read(as_of=2)
    with pytest.raises(ValueError, match="clean horizon"):
        table.read_incremental(begin=1)
    # at/after the horizon still fine
    assert {r._commit_id for r in table.read_incremental(begin=2).collect()} == {3}


def test_mor_timeline_matches_cow_timeline_semantics(spark, tmp_path):
    """MOR time travel must agree with the COW TimelineTable instant-for-
    instant over the same upsert sequence."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import TimelineTable

    batches = [
        [(1, "a", "x", 1), (2, "a", "y", 1)],
        [(1, "a", "x2", 2), (3, "b", "z", 1)],
        [(2, "a", "y2", 2), (1, "a", "OLD", 0)],
    ]
    mor = MergeOnReadTable(
        spark=spark, path=str(tmp_path / "m"), keys=["k"], precombine="ver",
        partition_by=["part"], policy=CompactionPolicy(max_delta_commits=2),
    )
    cow = TimelineTable(
        spark=spark, path=str(tmp_path / "c"), keys=["k"], precombine="ver",
        partition_by=["part"],
    )
    for b in batches:
        mor.upsert(_rows(spark, b))
        cow.upsert(_rows(spark, b))
    for as_of in (1, 2, 3):
        m = sorted(tuple(r) for r in mor.read(as_of=as_of).select("k", "v", "ver").collect())
        c = sorted(tuple(r) for r in cow.read(as_of=as_of).select("k", "v", "ver").collect())
        assert m == c, f"as_of={as_of}: {m} != {c}"


def test_clean_crash_leaves_horizon_conservative(table, spark, monkeypatch):
    """clean() persists the horizon BEFORE deleting: a crash mid-clean
    leaves reads below the horizon refused (marker says gone, dirs may
    linger), never silently partial."""
    table.upsert(_rows(spark, [(1, "a", "v1", 1)]))
    table.upsert(_rows(spark, [(1, "a", "v2", 2)]))
    table.upsert(_rows(spark, [(1, "a", "v3", 3)]))
    table.compact()

    import aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor as mor_mod

    def boom(path, **kw):
        raise OSError("simulated IO failure before any dir removed")

    monkeypatch.setattr(mor_mod.shutil, "rmtree", boom)
    with pytest.raises(OSError):
        table.clean(through=2)
    monkeypatch.undo()

    # the horizon advanced first: history below it refuses loudly even
    # though the commit dirs still exist on disk
    assert table._log_commits_on_disk()[:2] == [1, 2]
    with pytest.raises(ValueError, match="clean horizon"):
        table.read(as_of=2)
    # current state unaffected
    assert table.read().collect()[0].v == "v3"


def test_legacy_table_time_travel_refused(table, spark):
    """A table whose meta predates the commit timeline (no
    compacted_through) must refuse time travel loudly — its history was
    truncated and its commit numbering is shifted."""
    import json

    table.upsert(_rows(spark, [(1, "a", "v1", 1)]))
    meta = table._meta()
    for k in ("compacted_through", "cleaned_through", "timeline"):
        meta.pop(k, None)
    table._save_meta(meta)
    with pytest.raises(ValueError, match="predates the commit timeline"):
        table.read(as_of=1)
    assert table.read().collect()[0].v == "v1"  # snapshot read still fine


# -- savepoints (Hudi savepoint/restore parity, MOR side) -------------------


def _state(t, **kw):
    return {r.k: (r.part, r.v, r.ver) for r in t.read(**kw).collect()}


def test_mor_savepoint_pins_log_from_clean(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))     # c1
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))    # c2
    table.savepoint(2, name="pin")                     # below future compaction
    table.upsert(_rows(spark, [(1, "a", "x3", 3)]))    # c3
    table.compact()                                    # folds through c3
    before = _state(table, as_of=2)

    # the pinned instant is below the compaction point: clean is a no-op
    assert table.clean(through=3) == 0
    assert _state(table, as_of=2) == before

    # after deleting the savepoint, cleaning proceeds and the instant dies
    table.delete_savepoint(2)
    assert table.clean(through=3) == 3
    with pytest.raises(ValueError):
        table.read(as_of=2)


def test_mor_savepoint_at_compaction_point_allows_clean(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))     # c1
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))    # c2
    table.compact()                                    # through c2
    table.savepoint(2)                                 # at the compaction point
    table.upsert(_rows(spark, [(2, "b", "y", 1)]))     # c3 pending
    before = _state(table, as_of=2)

    # folded commits are not part of the savepoint's closure
    assert table.clean(through=2) == 2
    assert _state(table, as_of=2) == before


def test_mor_restore_metadata_only_above_compaction(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))     # c1
    table.compact()
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))    # c2
    table.savepoint(2)
    table.upsert(_rows(spark, [(3, "b", "z", 1)]))     # c3
    expected = _state(table, as_of=2)

    assert table.restore(2) == 1
    assert table.latest_commit() == 2
    assert _state(table) == expected
    # next write continues the sequence from the restore point
    table.upsert(_rows(spark, [(4, "b", "w", 1)]))
    assert table.latest_commit() == 3
    assert _state(table)[4] == ("b", "w", 1)


def test_mor_restore_rebuilds_base_below_compaction(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))                 # c1
    table.savepoint(1)
    table.upsert(_rows(spark, [(1, "a", "x2", 2), (3, "b", "z", 1)]))  # c2
    table.compact()                                                # folds c1-c2
    expected = _state(table, as_of=1)

    assert table.restore(1) == 1
    assert _state(table) == expected
    assert table._compacted_through() == 1
    # the partition born in c2 is gone from the rebuilt base
    assert "b" not in {p for (p, _v, _ver) in _state(table).values()}
    # the table keeps working after the rebuild
    table.upsert(_rows(spark, [(5, "b", "new", 1)]))
    assert _state(table)[5] == ("b", "new", 1)


def test_mor_restore_blocked_by_later_savepoint(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))   # c1
    table.savepoint(1)
    table.upsert(_rows(spark, [(2, "a", "y", 1)]))   # c2
    table.savepoint(2)
    with pytest.raises(ValueError, match="block restore"):
        table.restore(1)
    table.delete_savepoint(2)
    assert table.restore(1) == 1


def test_mor_savepoint_validation(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))
    with pytest.raises(ValueError, match="unknown instant"):
        table.savepoint(9)
    with pytest.raises(ValueError, match="no savepoint"):
        table.restore(1)
    with pytest.raises(ValueError, match="no savepoint"):
        table.delete_savepoint(1)
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))
    table.compact()
    table.clean(through=1)
    with pytest.raises(ValueError, match="not reconstructible"):
        table.savepoint(1)


def test_mor_savepoint_overtaken_by_compaction_fails_loud(table, spark):
    """Documented limit (savepoint docstring): sp taken at the compaction
    point with earlier commits already cleaned becomes unrestorable once
    a later compaction overtakes it — restore/read raise rather than
    serving partial state."""
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))     # c1
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))    # c2
    table.compact()                                    # through c2
    table.clean(through=1)                             # c1 gone
    table.savepoint(2)                                 # legal: at compaction pt
    table.upsert(_rows(spark, [(1, "a", "x3", 3)]))    # c3
    table.compact()                                    # overtakes the sp

    with pytest.raises(ValueError):
        table.restore(2)
    # and the table itself is still healthy
    assert _state(table)[1] == ("a", "x3", 3)


def test_mor_fsck_reclaims_partial_writes(table, spark):
    import shutil

    table.upsert(_rows(spark, [(1, "a", "x", 1)]))   # c1
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))  # c2
    before = _state(table)

    # crash window: delta for next_seq written, meta never advanced
    orphan = os.path.join(table._log, f"commit={table.latest_commit() + 1}")
    _rows(spark, [(9, "c", "zz", 1)]).write.parquet(orphan)
    staging = table._base + ".restore_tmp"
    os.makedirs(staging, exist_ok=True)

    removed = table.fsck()
    assert sorted(removed["dirs"]) == sorted([orphan, staging])
    assert not os.path.isdir(orphan) and not os.path.isdir(staging)
    assert _state(table) == before
    # the reclaimed sequence number is reused cleanly
    table.upsert(_rows(spark, [(3, "b", "z", 1)]))
    assert _state(table)[3] == ("b", "z", 1)

    # crashed bootstrap: base without meta is reclaimed
    p2 = str(table.path) + "_crashed"
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import MergeOnReadTable
    t2 = MergeOnReadTable(spark=spark, path=p2, keys=["k"], precombine="ver")
    _rows(spark, [(1, "a", "x", 1)]).write.parquet(t2._base)
    removed2 = t2.fsck()
    assert removed2["dirs"] == [t2._base]
    shutil.rmtree(p2, ignore_errors=True)


def test_mor_clustered_compaction(spark, tmp_path):
    """compact(zorder_by=...) = Hudi's inline clustering: the rewritten
    base is Z-ordered into contiguous ranges, results identical to a
    plain compaction, and per-file spans on the leading cluster column
    are tighter than an unclustered write's."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.clustering import file_range_spans
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import CompactionPolicy, MergeOnReadTable

    rows = [(i, "a", f"v{i}", 1) for i in range(400)]
    t = MergeOnReadTable(
        spark=spark, path=str(tmp_path / "morz"), keys=["k"],
        precombine="ver", partition_by=["part"],
        policy=CompactionPolicy(max_delta_commits=100),
    )
    t.upsert(_rows(spark, rows[:200]))
    t.upsert(_rows(spark, rows[200:]))
    t.compact(zorder_by=["k"], n_files=4)

    got = {r.k for r in t.read().collect()}
    assert got == set(range(400))
    from pyspark.sql import functions as F

    base = spark.read.parquet(t._base).withColumn("_file", F.input_file_name())
    per_file = (
        base.groupBy("_file").agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
    ).collect()
    assert len(per_file) >= 2
    # contiguous Z-ranges on a single column: per-file spans must not
    # overlap (each file owns a disjoint k range)
    ordered = sorted((r["lo"], r["hi"]) for r in per_file)
    for (_lo1, hi1), (lo2, _hi2) in zip(ordered, ordered[1:]):
        assert hi1 <= lo2
    # and the span metric confirms tight per-file coverage
    fracs = [r["span_frac"] for r in file_range_spans(base, "k").collect()]
    assert max(fracs) < 0.6


def test_mor_restore_truncates_timeline_entries(table, spark):
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))   # c1
    table.savepoint(1)
    table.upsert(_rows(spark, [(2, "a", "y", 1)]))   # c2
    table.restore(1)
    # no ghost entries for the dropped commit; restore marker present
    seqs = [(e["seq"], e["action"]) for e in table.timeline()]
    assert (2, "deltacommit") not in seqs
    assert (1, "restore") in seqs
    # the reused seq number appears exactly once after the next commit
    table.upsert(_rows(spark, [(3, "a", "z", 1)]))   # new c2
    entries = [e for e in table.timeline() if e["seq"] == 2 and e["action"] == "deltacommit"]
    assert len(entries) == 1


def test_compaction_reads_only_touched_base_dirs(table, spark):
    """r9 O(touched) fix: compact() must scan ONLY the base directories
    its pending logs touch — the first cut's merged=read().filter(cond)
    pruned the scan but still LISTED every partition (measured
    1.0/1.8/10.6 s at 40/400/4000 partitions for a 5-partition delta;
    flat after). _read_base_partitions' inputFiles pins the file set."""
    table.upsert(_rows(spark, [(1, "a", "x", 1), (2, "b", "y", 1), (3, "c", "z", 1)]))
    table.upsert(_rows(spark, [(1, "a", "x2", 2)]))  # delta touches only a
    read = table._read_base_partitions([("a",)])
    files = read.inputFiles()
    assert files and all("part=a" in f for f in files), files
    # delta-only partition (no base dir yet): skipped, schema preserved
    empty = table._read_base_partitions([("nope",)])
    assert empty.count() == 0
    assert set(empty.columns) == set(read.columns)
    # and the full semantics still hold through an actual compaction
    table.compact()
    assert {r.k: r.v for r in table.read().collect()} == {1: "x2", 2: "y", 3: "z"}


def test_compaction_crash_before_meta_save_replays_idempotently(table, spark, monkeypatch):
    """The compact() crash window the docstring claims is safe: base
    rewritten, compacted_through never advanced. The retry folds the
    same (already-applied) logs onto the already-merged base — max_by
    picks the same winners, so state and timeline land exactly once."""
    import aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor as mor_mod

    table.upsert(_rows(spark, [(1, "a", "x", 1), (2, "b", "y", 1)]))
    table.upsert(_rows(spark, [(1, "a", "x2", 2), (3, "b", "z", 1)]))

    real_save = MergeOnReadTable._save_meta
    calls = {"n": 0}

    def crashing_save(self, meta):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("crash: after base write, before meta save")
        return real_save(self, meta)

    monkeypatch.setattr(MergeOnReadTable, "_save_meta", crashing_save)
    try:
        table.compact()
    except RuntimeError:
        pass
    monkeypatch.undo()

    # crashed: base holds merged data but the logs are still "pending"
    n = table.compact()  # replay
    assert n >= 1
    assert {r.k: (r.v, r.ver) for r in table.read().collect()} == {
        1: ("x2", 2), 2: ("y", 1), 3: ("z", 1)
    }
    # replaying again is a no-op (nothing pending)
    assert table.compact() == 0


def test_evolved_column_survives_partial_compaction(table, spark):
    """r13 regression: after a schema-evolving delta and a PARTIAL
    compaction (only the delta's partitions rewritten), the base holds
    files with DIFFERENT column sets; single-footer inference silently
    dropped the evolved column's stored values from read() and
    read_optimized(). The base is now read with the persisted
    evolved-union schema."""
    table.upsert(_rows(spark, [(1, "a", "x", 1)]))
    table.upsert(spark.createDataFrame(
        [Row(k=2, part="b", v="y", ver=1, extra="kept")]
    ))
    table.compact()  # rewrites only part=b; part=a keeps the old schema
    got = {r.k: r.extra for r in table.read().collect()}
    assert got == {1: None, 2: "kept"}
    got_ro = {r.k: r.extra for r in table.read_optimized().collect()}
    assert got_ro == {1: None, 2: "kept"}
    # and again after a second evolution on yet another partition
    table.upsert(spark.createDataFrame(
        [Row(k=3, part="c", v="z", ver=1, extra="e3", extra2=7)]
    ))
    table.compact()
    row = {r.k: (r.extra, r.extra2) for r in table.read().collect()}
    assert row == {1: (None, None), 2: ("kept", None), 3: ("e3", 7)}


# -- recorded delta schemas ----------------------------------------------------


def _forget_recorded_schemas(path):
    """Rewrite every completed marker without its schema: the table as a
    writer that did not record delta schemas left it."""
    import json

    inst = os.path.join(path, "log", "_instants")
    for name in os.listdir(inst):
        if name.endswith(".completed"):
            p = os.path.join(inst, name)
            with open(p) as f:
                rec = json.load(f)
            rec.pop("schema", None)
            with open(p, "w") as f:
                json.dump(rec, f)


def _view(df):
    return df.dtypes, sorted(tuple(r) for r in df.collect())


def _history_views(t, as_of):
    return {
        "as_of": _view(t.read(as_of=as_of)),
        "incremental": _view(t.read_incremental(0)),
        "read": _view(t.read()),
        "read_optimized": _view(t.read_optimized()),
    }


def _assert_recorded_matches_inferred(spark, tmp_path, batches):
    """Commit ``batches``, then read, compact and pull incrementally twice:
    with the recorded delta schemas, and on a copy whose markers carry
    none (every delta's schema inferred from its footer). Both must see
    the same columns, types and rows."""
    import shutil

    def mk(path):
        return MergeOnReadTable(
            spark=spark, path=str(path), keys=["k"], precombine="ver",
            partition_by=["part"], policy=CompactionPolicy(max_delta_commits=100),
        )

    rec = mk(tmp_path / "recorded")
    for b in batches:
        rec.upsert(b)
    shutil.copytree(rec.path, str(tmp_path / "inferred"))
    inf = mk(tmp_path / "inferred")
    _forget_recorded_schemas(inf.path)
    assert rec._delta_schema(2) is not None and inf._delta_schema(2) is None
    as_of = len(batches) - 1
    assert _history_views(rec, as_of) == _history_views(inf, as_of)
    assert rec.compact() == inf.compact() == len(batches) - 1
    # as_of now predates the compaction: a replay of the log alone
    assert _history_views(rec, as_of) == _history_views(inf, as_of)
    return rec


def test_recorded_schema_tombstone_delta(spark, tmp_path):
    """A tombstone delta carries ``_deleted``, which the table schema
    lacks: it is read with its own recorded schema."""
    marked = "k long, part string, v string, ver long, _hoodie_is_deleted boolean"
    rec = _assert_recorded_matches_inferred(spark, tmp_path, [
        _rows(spark, [(1, "a", "x", 1), (2, "a", "y", 1), (3, "b", "z", 1)]),
        spark.createDataFrame([(2, "a", None, 2, True), (3, "b", "z2", 2, False)], marked),
        _rows(spark, [(4, "b", "w", 1)]),
    ])
    assert "_deleted" in rec._delta_schema(2).fieldNames()
    assert sorted(r.k for r in rec.read().collect()) == [1, 3, 4]


def test_recorded_schema_delta_adds_a_column(spark, tmp_path):
    rec = _assert_recorded_matches_inferred(spark, tmp_path, [
        _rows(spark, [(1, "a", "x", 1), (2, "b", "y", 1)]),
        spark.createDataFrame([Row(k=1, part="a", v="x2", ver=2, extra="new")]),
        _rows(spark, [(2, "b", "y2", 2)]),
    ])
    assert {(r.k, r.extra) for r in rec.read().collect()} == {(1, "new"), (2, None)}


def test_recorded_schema_delta_widens_a_type(spark, tmp_path):
    """The delta is read in its own (wider) type and the merge widens
    the base; the persisted table schema takes the wider type, so the
    compacted base reads back too."""
    schema = "k long, part string, v {}, ver long"
    batches = [
        spark.createDataFrame([(1, "a", 1, 1), (2, "b", 2, 1)], schema.format("int")),
        spark.createDataFrame([(1, "a", 2**40, 2)], schema.format("bigint")),
        spark.createDataFrame([(2, "b", 3, 2)], schema.format("int")),
    ]
    rec = _assert_recorded_matches_inferred(spark, tmp_path, batches)
    assert rec._delta_schema(2)["v"].dataType.typeName() == "long"
    assert {(r.k, r.v) for r in rec.read_incremental(1).collect()} == {(1, 2**40), (2, 3)}


def test_recorded_schema_reads_start_no_spark_job(spark, tmp_path):
    """Building the realtime view over pending deltas with recorded
    schemas starts no Spark job; a table whose markers carry none infers
    each delta's schema (one job per delta)."""
    t = MergeOnReadTable(
        spark=spark, path=str(tmp_path / "m"), keys=["k"], precombine="ver",
        partition_by=["part"], policy=CompactionPolicy(max_delta_commits=100),
    )
    for ver in (1, 2, 3):
        t.upsert(_rows(spark, [(1, "a", f"x{ver}", ver), (ver, "b", "y", ver)]))
    sc = spark.sparkContext

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            t.read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    group = f"mor-recorded-{os.getpid()}-{abs(hash(str(tmp_path)))}"
    assert jobs(group) == 0
    _forget_recorded_schemas(t.path)
    assert jobs(group + "-inferred") == 2


# -- type widening across compaction --------------------------------------

@pytest.mark.parametrize("partition_by", [["s"], []], ids=["partitioned", "unpartitioned"])
def test_widened_type_survives_compaction(spark, tmp_path, partition_by):
    """INT rows, then a BIGINT row for the same key: the persisted type
    widens to BIGINT, the untouched INT base partition reads as BIGINT
    until the compaction rewrites it, and the compacted base reads back.
    The first type was kept before, and every read after the compaction
    failed with PARQUET_COLUMN_DATA_TYPE_MISMATCH."""
    t = MergeOnReadTable(
        spark=spark, path=str(tmp_path / "w"), keys=["k"], precombine="v",
        partition_by=partition_by, policy=CompactionPolicy(max_delta_commits=100),
    )
    t.upsert(spark.createDataFrame([(1, "a", 1), (2, "b", 2)], "k int, s string, v int"))
    t.upsert(spark.createDataFrame([(1, "a", 2**40)], "k int, s string, v bigint"))
    want = {(1, "a", 2**40), (2, "b", 2)}
    assert {(r.k, r.s, r.v) for r in t.read().collect()} == want
    assert t.compact() == 1
    for df in (t.read(), t.read_optimized()):
        assert dict(df.dtypes)["v"] == "bigint"
        assert {(r.k, r.s, r.v) for r in df.collect()} == want
    t.upsert(spark.createDataFrame([(2, "b", 3)], "k int, s string, v int"))
    assert t.compact() == 1
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, 2**40), (2, 3)}


def test_widening_to_string_rewrites_every_base_partition(spark, tmp_path):
    """INT then STRING, a widening the parquet reader cannot apply to
    INT32 files: the untouched base partition is read in its own type and
    cast until the compaction, which rewrites every base partition; a
    restore below that compaction writes the table's type too."""
    t = MergeOnReadTable(
        spark=spark, path=str(tmp_path / "w"), keys=["k"], precombine="ver",
        partition_by=["part"], policy=CompactionPolicy(max_delta_commits=100),
    )
    schema = "k long, part string, v {}, ver long"
    t.upsert(spark.createDataFrame([(1, "a", 1, 1), (2, "b", 2, 1)], schema.format("int")))
    t.savepoint(1)
    t.upsert(spark.createDataFrame([(1, "a", "x", 2)], schema.format("string")))
    want = {(1, "x"), (2, "2")}
    assert {(r.k, r.v) for r in t.read().collect()} == want
    assert {(r.k, r.v) for r in t.read_optimized().collect()} == {(1, "1"), (2, "2")}
    assert t.compact() == 1
    assert "base_types" not in t._meta()
    for df in (t.read(), t.read_optimized()):
        assert dict(df.dtypes)["v"] == "string"
        assert {(r.k, r.v) for r in df.collect()} == want
    written = spark.read.parquet(os.path.join(t.path, "base", "part=b"))
    assert dict(written.dtypes)["v"] == "string"
    t.restore(1)
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "1"), (2, "2")}
    assert dict(t.read_optimized().dtypes)["v"] == "string"


# -- no pending delta: the base is the state ------------------------------

def _has_aggregate(df) -> bool:
    return "Aggregate" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("merge_mode", ["overwrite", "partial"])
@pytest.mark.parametrize("partition_by", [["part"], []], ids=["partitioned", "unpartitioned"])
def test_compacted_read_is_the_base_scan(spark, tmp_path, partition_by, merge_mode):
    """With no delta pending, read() (and read(as_of) at or after the
    compaction point) is the base scan: no Aggregate in its plan, and the
    same columns and rows as the keyed merge over the base alone."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import _SEQ
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import partial_combine, precombine_latest

    t = MergeOnReadTable(
        spark=spark, path=str(tmp_path / "c"), keys=["k"], precombine="ver",
        partition_by=partition_by, policy=CompactionPolicy(max_delta_commits=100),
        merge_mode=merge_mode,
    )
    t.upsert(_rows(spark, [(1, "a", "x", 1), (2, "a", "y", 1), (3, "b", "z", 1)]))
    t.upsert(spark.createDataFrame([(1, "a", "x2", 2), (4, "b", None, 1)], "k long, part string, v string, ver long"))
    if merge_mode == "overwrite":
        marked = "k long, part string, v string, ver long, _hoodie_is_deleted boolean"
        t.upsert(spark.createDataFrame([(2, "a", None, 2, True)], marked))
    assert t.compact() >= 1 and not t.pending_commits()

    base = t._read_base().withColumn(_SEQ, F.lit(0))
    if merge_mode == "partial":
        merged = partial_combine(base, t._identity, "ver", tie_breakers=[_SEQ])
    else:
        merged = precombine_latest(base, t._identity, "ver", tie_breakers=[_SEQ]).drop(_SEQ)
    assert _has_aggregate(merged)
    for df in (t.read(), t.read(as_of=t._compacted_through())):
        assert not _has_aggregate(df)
        assert df.dtypes == merged.dtypes
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, merged.collect()))
    want = {1: "x2", 3: "z", 4: None} if merge_mode == "overwrite" else {1: "x2", 2: "y", 3: "z", 4: None}
    assert {r.k: r.v for r in t.read().collect()} == want
