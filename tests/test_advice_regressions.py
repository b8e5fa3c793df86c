"""Regression tests for the round-1/round-2 ADVICE defects:

1. locking.py stale-lock break TOCTOU — breaking must never delete a
   FRESH lock, and release must never delete a lock it no longer owns.
2. timeline.py time travel below the clean horizon must raise, not
   silently return partial data.
3. upsert.py global-index touched-partition handling must survive a mix
   of None and str partition values (sorted() used to TypeError).
4. upsert.py read_key must probe the RIGHT record-index bucket for
   null/boolean key parts (the driver-side md5 replica used to diverge
   from concat_ws semantics).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.locking import CommitLock, CommitLockTimeout
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import TimelineTable
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable


# -- 1. locking -------------------------------------------------------------


def test_stale_lock_is_broken_and_reacquired(tmp_path):
    path = str(tmp_path)
    stale = CommitLock(path, ttl_s=0.05)
    assert stale._try_acquire()
    time.sleep(0.1)
    with CommitLock(path, timeout_s=2.0, ttl_s=0.05) as lk:
        assert os.path.exists(lk.lock_path)
    assert not os.path.exists(stale.lock_path)


def test_fresh_lock_never_broken(tmp_path):
    path = str(tmp_path)
    holder = CommitLock(path, ttl_s=3600.0)
    assert holder._try_acquire()
    waiter = CommitLock(path, timeout_s=0.3, ttl_s=3600.0)
    with pytest.raises(CommitLockTimeout):
        waiter.__enter__()
    # the holder's lock survived the waiter's staleness checks
    assert holder._owns_lock_on_disk()
    holder.__exit__(None, None, None)
    assert not os.path.exists(holder.lock_path)


def test_release_does_not_delete_successors_lock(tmp_path):
    """A writer whose lock was broken (it overran the TTL) must not evict
    the successor that acquired after the break — the second half of the
    round-1 TOCTOU."""
    path = str(tmp_path)
    overrunner = CommitLock(path, ttl_s=3600.0)
    assert overrunner._try_acquire()
    # simulate: overrunner's lock was broken as stale, successor acquired
    os.remove(overrunner.lock_path)
    successor = CommitLock(path, ttl_s=3600.0)
    assert successor._try_acquire()
    # overrunner finishes its (over-long) commit and releases
    overrunner.__exit__(None, None, None)
    # successor still holds the lock — identity check prevented the delete
    assert successor._owns_lock_on_disk()
    successor.__exit__(None, None, None)


def test_break_is_rename_based_not_delete(tmp_path):
    """Two waiters both observing staleness: only one can win the rename;
    the loser's break is a no-op (no queued delete of a path that may
    by then hold a fresh lock)."""
    path = str(tmp_path)
    stale = CommitLock(path, ttl_s=0.0)
    assert stale._try_acquire()
    w1 = CommitLock(path, ttl_s=0.0)
    w2 = CommitLock(path, ttl_s=0.0)
    w1._break_if_stale()
    # lock gone; second breaker must tolerate the missing file
    w2._break_if_stale()
    assert not os.path.exists(stale.lock_path)


# -- 2. timeline clean horizon ----------------------------------------------


def _rows(spark, data):
    return spark.createDataFrame(
        [Row(k=k, part=p, v=v, ver=ver) for (k, p, v, ver) in data]
    )


def test_time_travel_below_clean_horizon_raises(spark, tmp_path):
    t = TimelineTable(
        spark=spark,
        path=str(tmp_path / "tl"),
        keys=["k"],
        precombine="ver",
        partition_by=["part"],
    )
    t.upsert(_rows(spark, [(1, "a", "x", 1)]))          # c1
    t.upsert(_rows(spark, [(1, "a", "x2", 2)]))          # c2
    t.upsert(_rows(spark, [(1, "a", "x3", 3)]))          # c3
    t.upsert(_rows(spark, [(1, "a", "x4", 4)]))          # c4
    removed = t.clean(keep_last=2)
    assert removed["deltas"], "clean should have vacuumed old deltas"
    horizon = t.clean_horizon()
    assert horizon == 3

    with pytest.raises(ValueError, match="clean horizon"):
        t.read(as_of=1)
    with pytest.raises(ValueError, match="clean horizon"):
        t.incremental(0, 2)
    with pytest.raises(ValueError, match="clean horizon"):
        t.rollback(1)
    # at/above the horizon still works
    assert {r.v for r in t.read(as_of=3).collect()} == {"x3"}
    assert {r.v for r in t.read().collect()} == {"x4"}
    # horizon marker must not pollute the instant list
    assert [c["commit"] for c in t.commits()] == [1, 2, 3, 4]


def test_clean_horizon_only_advances(spark, tmp_path):
    t = TimelineTable(
        spark=spark,
        path=str(tmp_path / "tl2"),
        keys=["k"],
        precombine="ver",
        partition_by=["part"],
    )
    for i in range(1, 6):
        t.upsert(_rows(spark, [(1, "a", f"v{i}", i)]))
    t.clean(keep_last=2)
    h1 = t.clean_horizon()
    t.clean(keep_last=4)  # looser retention must not move the floor back
    assert t.clean_horizon() == h1


# -- 3. None-safe touched-partition handling --------------------------------


def test_global_index_merge_with_null_partition_values(spark, tmp_path):
    t = UpsertTable(
        spark=spark,
        path=str(tmp_path / "nullpart"),
        keys=["k"],
        precombine="ver",
        partition_by=["part"],
        global_index=True,
    )
    t.upsert(
        spark.createDataFrame(
            [Row(k=1, part=None, v="x", ver=1), Row(k=2, part="b", v="y", ver=1)]
        )
    )
    # key 1 migrates null -> "c"; touched mixes None with str (used to
    # TypeError inside sorted())
    t.upsert(spark.createDataFrame([Row(k=1, part="c", v="x2", ver=2)]))
    state = {r.k: r.part for r in t.read().collect()}
    assert state == {1: "c", 2: "b"}


# -- 4. RLI bucket parity for null/bool key parts ----------------------------


def test_read_key_with_bool_and_null_key_parts(spark, tmp_path):
    t = UpsertTable(
        spark=spark,
        path=str(tmp_path / "rlikeys"),
        keys=["k1", "k2"],
        precombine="ver",
        partition_by=["part"],
        global_index=True,
        record_index=True,
        rli_buckets=16,
    )
    df = spark.createDataFrame(
        [
            Row(k1=True, k2="x", part="a", v=1, ver=1),
            Row(k1=False, k2=None, part="b", v=2, ver=1),
            Row(k1=None, k2="z", part="c", v=3, ver=1),
        ]
    )
    t.upsert(df)
    # boolean part: Spark renders 'true', Python str() renders 'True' —
    # the old driver-side replica hashed the wrong string
    assert [r.v for r in t.read_key((True, "x")).collect()] == [1]
    # null part: concat_ws DROPS nulls; the replica inserted "" + separator
    assert [r.v for r in t.read_key((False, None)).collect()] == [2]
    assert [r.v for r in t.read_key((None, "z")).collect()] == [3]
    # absent key still resolves to empty, not an error
    assert t.read_key((True, "nope")).count() == 0


# -- 5. round-3 ADVICE: locking restore/release races ----------------------


def test_break_restore_never_clobbers_third_writers_lock(tmp_path, monkeypatch):
    """If a fresh lock appears at lock_path between a breaker's
    rename-away and its restore, the restore must NOT replace it
    (os.rename clobbers; os.link must be used). Simulated by injecting
    the third writer's acquire between the two steps."""
    path = str(tmp_path)
    fresh = CommitLock(path, ttl_s=3600.0)
    assert fresh._try_acquire()  # fresh lock the breaker mistakes as stale

    third = CommitLock(path, ttl_s=3600.0)
    breaker = CommitLock(path, ttl_s=3600.0)

    real_getmtime = os.path.getmtime
    calls = {"n": 0}

    def tricked_getmtime(p):
        calls["n"] += 1
        if calls["n"] == 1:
            return 0.0  # lock_path looks ancient -> breaker renames it away
        # second call (on the victim): truth — it's fresh, restore path runs.
        # Before the breaker restores, a THIRD writer acquires lock_path.
        if calls["n"] == 2 and not os.path.exists(breaker.lock_path):
            assert third._try_acquire()
        return real_getmtime(p)

    monkeypatch.setattr(os.path, "getmtime", tricked_getmtime)
    breaker._break_if_stale()
    monkeypatch.undo()

    # the third writer's lock must still be ITS lock, not the restored victim
    assert third._owns_lock_on_disk()
    # no stray victim files left behind
    leftovers = [f for f in os.listdir(path) if f.startswith("_commit.lock.")]
    assert leftovers == []


def test_release_take_is_atomic_rename(tmp_path):
    """Release must take the lock via rename and verify the token INSIDE
    the renamed file — a successor's lock renamed away by mistake is
    restored, never deleted."""
    path = str(tmp_path)
    owner = CommitLock(path, ttl_s=3600.0)
    assert owner._try_acquire()
    # simulate a stale-break + successor acquire while owner overran
    os.remove(owner.lock_path)
    successor = CommitLock(path, ttl_s=3600.0)
    assert successor._try_acquire()
    owner.__exit__(None, None, None)
    # successor's lock survived owner's release and is still valid
    assert successor._owns_lock_on_disk()
    successor.__exit__(None, None, None)
    assert not os.path.exists(successor.lock_path)


# -- 6. round-3 ADVICE: hive-escaped partition values in catalog sync ------


def test_catalog_sync_unescapes_partition_specs(spark, tmp_path):
    """Partition values with Hive-escaped characters (space, ':') must
    round-trip through SHOW PARTITIONS without being re-dropped every
    sync, and a genuinely removed special-char partition must be
    deregistered."""
    from pyspark.sql import types as T

    from aws_glue_streaming_etl_with_apache_hudi_spark import catalog as C

    base = str(tmp_path / "tbl")
    schema = T.StructType(
        [T.StructField("v", T.LongType()), T.StructField("p", T.StringType())]
    )
    locs = {}
    for p in ["plain", "has space", "has:colon"]:
        d = os.path.join(base, f"snap1/p={p}")
        spark.createDataFrame([Row(v=1)]).write.mode("overwrite").parquet(d)
        locs[(p,)] = d
    name = "esc_sync_tbl"
    C.sync_external_table_locations(spark, name, base, schema, ["p"], locs)
    got = {r.p for r in spark.table(name).select("p").collect()}
    assert got == {"plain", "has space", "has:colon"}

    # re-sync with identical locations: special-char partitions must survive
    C.sync_external_table_locations(spark, name, base, schema, ["p"], locs)
    got = {r.p for r in spark.table(name).select("p").collect()}
    assert got == {"plain", "has space", "has:colon"}

    # drop one special-char partition from the map -> must be deregistered
    del locs[("has space",)]
    C.sync_external_table_locations(spark, name, base, schema, ["p"], locs)
    got = {r.p for r in spark.table(name).select("p").collect()}
    assert got == {"plain", "has:colon"}
    spark.sql(f"DROP TABLE IF EXISTS {name}")


# -- 7. round-3 ADVICE: failed timeline sync must not leave a torn table ---


def test_failed_timeline_sync_drops_shared_table(spark, tmp_path):
    """If catalog sync dies midway, cross-session readers must fail loudly
    (table gone) rather than read a mixed-commit snapshot; the writing
    session keeps a temp-view fallback."""
    path = str(tmp_path / "tl")
    tbl = TimelineTable(
        spark, path, keys=["k"], precombine="ver", partition_by=["p"],
        table_name="torn_sync_tbl",
    )
    tbl.upsert(spark.createDataFrame([Row(k=1, ver=1, p="a")]))
    assert spark.newSession().catalog.tableExists("torn_sync_tbl")
    # a NULL partition value is un-spellable in partition DDL -> sync fails
    tbl.upsert(
        spark.createDataFrame([Row(k=2, ver=1, p=None)], "k bigint, ver bigint, p string")
    )
    # fresh session: shared table is GONE (loud failure, not torn reads)
    assert not spark.newSession().catalog.tableExists("torn_sync_tbl")
    # writing session: temp-view fallback still resolves, with both rows
    assert spark.table("torn_sync_tbl").count() == 2
    spark.catalog.dropTempView("torn_sync_tbl")


# -- 8. round-3 ADVICE: persisted LSH frames must not accumulate -----------


def test_persist_slots_bound_cache_accumulation(spark, sf_dir):
    """Repeated runs of the persist()-backed dedup operators must hold at
    most one live cached frame per operator slot (the returned frames
    are lazy, so without slot recycling every harness run leaks executor
    storage)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries import QUERIES

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    QUERIES["dedup_simhash_pairs"].fn(spark, sf_dir).count()
    QUERIES["dedup_embedding_cosine"].fn(spark, sf_dir).count()
    base = n_persistent()
    for _ in range(3):
        QUERIES["dedup_simhash_pairs"].fn(spark, sf_dir).count()
        QUERIES["dedup_embedding_cosine"].fn(spark, sf_dir).count()
    assert n_persistent() <= base


# -- 9. round-4 ADVICE: dedup gate must not lose rows on batch replay ------


def test_dedup_gate_replay_does_not_drop_rows(spark, tmp_path):
    """The high-severity r4 defect: appending signatures BEFORE the table
    commit meant a crash-replay re-probed rows against their own
    signatures and silently dropped the batch. The fix is twofold —
    probe excludes index-side self-pairs, and accept() runs post-commit
    and is idempotent by id. Simulate the worst crash window: signatures
    accepted, then the WHOLE batch replays through probe->filter->accept."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup_index import LSHDedupIndex
    from pyspark.sql import functions as F

    idx = LSHDedupIndex(spark, str(tmp_path / "idx"))
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river"),
            (2, "colorless green ideas sleep furiously while committees debate budgets"),
        ],
        "doc_id long, text string",
    )

    # attempt 1: probe -> filter -> (upsert would commit here) -> accept
    flags1 = idx.probe(batch)
    kept1 = batch.join(
        flags1.filter(~F.col("is_duplicate")).select("doc_id"), "doc_id"
    )
    assert kept1.count() == 2
    assert idx.accept(kept1) == 2

    # crash AFTER accept, BEFORE the streaming checkpoint commit: the
    # identical batch replays. Every row's only index match is its own
    # signature -> must pass through (the keyed upsert absorbs the
    # re-write), and accept must not double-append.
    flags2 = idx.probe(batch)
    kept2 = batch.join(
        flags2.filter(~F.col("is_duplicate")).select("doc_id"), "doc_id"
    )
    assert kept2.count() == 2, "replayed rows were dropped (self-pair flag)"
    assert idx.accept(kept2) == 0, "replayed accept appended duplicates"
    assert idx.size() == 2

    # a genuinely NEW duplicate of an accepted doc still flags
    probe3 = idx.probe(
        spark.createDataFrame(
            [(9, "the quick brown fox jumps over the lazy dog near the river")],
            "doc_id long, text string",
        )
    ).collect()[0]
    assert probe3["is_duplicate"] and probe3["dup_of"] == 1


def test_pipeline_post_commit_runs_after_upsert(spark, tmp_path):
    """StreamingUpsertPipeline.post_commit fires once per non-empty batch,
    strictly after the upsert committed the batch's rows."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.streaming.pipeline import StreamingUpsertPipeline

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [Row(k=1, ver=1), Row(k=2, ver=1)], "k bigint, ver bigint"
    ).coalesce(1).write.mode("append").parquet(src)

    table = UpsertTable(
        spark, str(tmp_path / "tbl"), keys=["k"], precombine="ver",
        table_name="post_commit_tbl",
    )
    seen: list[int] = []

    def hook(batch_df):
        # the upsert must already be durable when the hook runs
        seen.append(table.read().count())

    pipe = StreamingUpsertPipeline(
        spark,
        source_dir=src,
        schema=None,
        table=table,
        checkpoint=str(tmp_path / "ckpt"),
        post_commit=hook,
    )
    pipe.run_available()
    assert seen == [2]


# -- 10. round-4 ADVICE: index rewrite must stage-and-rename ---------------


def test_index_compact_stages_then_renames(spark, tmp_path, monkeypatch):
    """compact()/delete() used to overwrite the live sigs dir in place —
    a crash mid-write destroyed the only on-disk copy. Now the rewrite
    lands in a sibling .compact_tmp dir and swaps via os.rename; a
    simulated crash before the swap leaves the live dir intact."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup_index import LSHDedupIndex

    idx = LSHDedupIndex(spark, str(tmp_path / "idx"))
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "spark shuffles data between executors when joins exceed thresholds",
    ]
    for i, txt in enumerate(texts):
        idx.ingest(
            spark.createDataFrame([(i + 1, txt)], "doc_id long, text string")
        )
    before = sorted(map(tuple, idx.signatures().collect()))

    # crash between staging and swap: rename raises after the tmp dir is
    # fully written -> the live dir must be untouched
    real_rename = os.rename

    def boom(src, dst):
        raise OSError("simulated crash before swap")

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(OSError):
        idx.compact(n_files=1)
    monkeypatch.setattr(os, "rename", real_rename)
    assert sorted(map(tuple, idx.signatures().collect())) == before

    # fsck reaps the orphaned staging dir (live dir present -> discard)
    tmp = idx._sigs_dir + ".compact_tmp"
    assert os.path.isdir(tmp)
    report = idx.fsck()
    assert report["staging_found"] and not report["promoted"]
    assert not os.path.isdir(tmp)
    assert sorted(map(tuple, idx.signatures().collect())) == before

    # the successful path still compacts
    assert idx.compact(n_files=1) >= 1
    assert sorted(map(tuple, idx.signatures().collect())) == before


def test_index_fsck_promotes_orphaned_staging(spark, tmp_path):
    """Crash in the rmtree..rename window: the live dir is gone and the
    staging dir holds the complete result — fsck must promote it."""
    import shutil

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup_index import LSHDedupIndex

    idx = LSHDedupIndex(spark, str(tmp_path / "idx"))
    idx.ingest(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
    )
    before = sorted(map(tuple, idx.signatures().collect()))
    # simulate: staged copy written, live dir removed, crash before rename
    shutil.copytree(idx._sigs_dir, idx._sigs_dir + ".compact_tmp")
    shutil.rmtree(idx._sigs_dir)
    assert idx.signatures() is None
    report = idx.fsck()
    assert report["staging_found"] and report["promoted"]
    assert sorted(map(tuple, idx.signatures().collect())) == before


# -- 11. round-4 ADVICE: MOR savepoint guard over-broad edge ---------------


def test_mor_savepoint_at_compaction_point_after_clean(spark, tmp_path):
    """A commit with cleaned_through == commit == compacted_through is
    fully reconstructible from the base alone, so savepointing it must
    succeed; commits strictly below the compaction point stay refused
    once anything is cleaned."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import MergeOnReadTable

    tbl = MergeOnReadTable(
        spark, str(tmp_path / "mor"), keys=["k"], precombine="ver",
    )
    for c in range(1, 4):  # commits 1..3
        tbl.upsert(
            spark.createDataFrame([Row(k=1, ver=c), Row(k=c + 10, ver=c)],
                                  "k bigint, ver bigint")
        )
    tbl.compact()          # base folds commits 1..3
    tbl.clean(through=3)   # cleaned_through == compacted_through == 3

    # below the compaction point: still refused (needs cleaned log replay)
    with pytest.raises(ValueError):
        tbl.savepoint(2)
    # AT the compaction point: base-only reconstruction -> allowed
    assert tbl.savepoint(3) == 3
    assert tbl.read(as_of=3).count() == tbl.read().count()
    tbl.restore(3)
    assert {r.k for r in tbl.read().collect()} == {1, 11, 12, 13}


# -- 12. round-4 ADVICE: value_histogram degenerate range ------------------


def test_value_histogram_all_equal_values_matches_oracle(spark, tmp_path):
    """hi == lo (every value identical) used to divide by zero: Spark
    produced NULL buckets while DuckDB errored on CAST(NaN AS BIGINT) —
    a divergent edge exactly where the guard is needed. Both engines now
    put every row in bucket 0."""
    import duckdb

    from aws_glue_streaming_etl_with_apache_hudi_spark.queries import QUERIES
    from tests.oracle_utils import canonical_rows

    sf = str(tmp_path / "sf_equal")
    os.makedirs(sf)
    spark.createDataFrame(
        [("click", 7.0, 1), ("view", 7.0, 2), ("click", 7.0, 3)],
        "event_type string, value double, ts long",
    ).coalesce(1).write.parquet(os.path.join(sf, "events.parquet"))

    q = QUERIES["value_histogram"]
    sdf = q.fn(spark, sf)
    s_rows = canonical_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    assert all(r is not None for row in s_rows for r in row)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')"
    )
    rel = con.execute(q.sql)
    d_cols = [d[0] for d in rel.description]
    d_rows = canonical_rows(d_cols, rel.fetchall())
    assert s_rows == d_rows
    # canonical column order is (bucket, event_type, n): all rows bucket 0
    assert s_rows == sorted([("0", "click", "2"), ("0", "view", "1")])


# -- 13. round-4 ADVICE: persist slots keyed by session; no .rdd probes ----


def test_persist_slots_are_session_scoped(spark, monkeypatch):
    """A slot cached under one SparkSession must never be served to
    another (its cache blocks live in the other context), and entries
    owned by stopped sessions are dropped eagerly."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators import dedup as D

    df = spark.range(10).withColumnRenamed("id", "k")
    a = D._persist_slot(df, "test.session_scope")
    # same session + same plan -> warm reuse (identity)
    assert D._persist_slot(df, "test.session_scope") is a

    other = spark.newSession()
    odf = other.range(10).withColumnRenamed("id", "k")
    b = D._persist_slot(odf, "test.session_scope")
    assert b is not a, "cross-session cache reuse"
    assert other in D._PERSIST_SLOTS and spark in D._PERSIST_SLOTS

    # a stopped session's entries are evicted on the next call, without
    # routing through a swallowed unpersist
    monkeypatch.setattr(
        D, "_session_stopped", lambda s: s is other
    )
    D._persist_slot(df, "test.session_scope")
    assert other not in D._PERSIST_SLOTS
    # cleanup
    a.unpersist(blocking=False)
    b.unpersist(blocking=False)
    D._PERSIST_SLOTS.pop(spark, None)


def test_no_rdd_access_in_operators():
    """fan_out's former df.rdd.getNumPartitions() probe forced a full
    plan-to-RDD conversion per call; the operators layer must stay on
    the DataFrame API (width decisions come from inputFiles metadata)."""
    import glob
    import io
    import tokenize

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "aws_glue_streaming_etl_with_apache_hudi_spark",
        "operators",
    )
    offenders = []
    for path in glob.glob(os.path.join(root, "*.py")):
        toks = list(
            tokenize.generate_tokens(io.StringIO(open(path).read()).readline)
        )
        for prev, tok in zip(toks, toks[1:]):
            # actual attribute access `.rdd` in CODE (docstrings/comments
            # tokenize as STRING/COMMENT and are skipped)
            if (
                tok.type == tokenize.NAME
                and tok.string == "rdd"
                and prev.type == tokenize.OP
                and prev.string == "."
            ):
                offenders.append(f"{os.path.basename(path)}:{tok.start[0]}")
    assert not offenders, offenders


def test_fan_out_spreads_narrow_scan_and_skips_wide(spark, tmp_path):
    """fan_out must widen a single-file scan to the cluster parallelism
    and leave an already-wide (many-file) scan untouched."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import fan_out

    narrow_dir = str(tmp_path / "narrow")
    spark.range(100).coalesce(1).write.parquet(narrow_dir)
    narrow = spark.read.parquet(narrow_dir)
    target = spark.sparkContext.defaultParallelism
    out = fan_out(narrow)
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == 100

    wide_dir = str(tmp_path / "wide")
    spark.range(1000).repartition(target).write.parquet(wide_dir)
    wide = spark.read.parquet(wide_dir)
    assert len(wide.inputFiles()) >= target
    out2 = fan_out(wide)
    assert out2 is wide, "fan_out added a shuffle to an already-wide scan"


# --------------------------------------------------------------------------
# round-7 ADVICE regressions
# --------------------------------------------------------------------------


def test_occ_conflicts_with_concurrent_schema_mapping(spark, tmp_path):
    """ADVICE r6 (medium): a rename/drop instant records
    touched_partitions=[], so the partition-overlap check alone never
    flagged it — the OCC writer then published a schema with BOTH the
    old and new column live (rows split between them). Schema-mapping
    instants after `base` must conflict."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import CommitConflict

    t = TimelineTable(
        spark=spark, path=str(tmp_path / "tl"), keys=["k"],
        precombine="ver", partition_by=["part"],
    )
    t.upsert(spark.createDataFrame([Row(k=1, part="a", v="x", ver=1)]))
    base = t.last_commit()
    t.rename_column("v", "v_usd")
    with pytest.raises(CommitConflict, match="schema-mapping"):
        t.upsert_occ(
            spark.createDataFrame([Row(k=2, part="b", v="y", ver=1)]),
            base=base,
        )
    # the losing writer left nothing behind; a retry from a fresh base
    # (post-rename names) commits, and exactly ONE value column is live
    t.upsert_occ(spark.createDataFrame([Row(k=2, part="b", v_usd="y", ver=1)]))
    got = t.read()
    assert "v_usd" in got.columns and "v" not in got.columns
    assert {r.k: r.v_usd for r in got.collect()} == {1: "x", 2: "y"}


def test_occ_conflicts_with_concurrent_drop_column(spark, tmp_path):
    """Drop is the sibling hazard: the post-publish schema union would
    resurrect the dropped column."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import CommitConflict

    t = TimelineTable(
        spark=spark, path=str(tmp_path / "tl"), keys=["k"],
        precombine="ver", partition_by=["part"],
    )
    t.upsert(
        spark.createDataFrame([Row(k=1, part="a", v="x", extra=1.0, ver=1)])
    )
    base = t.last_commit()
    t.drop_column("extra")
    with pytest.raises(CommitConflict, match="schema-mapping"):
        t.upsert_occ(
            spark.createDataFrame(
                [Row(k=2, part="b", v="y", extra=2.0, ver=1)]
            ),
            base=base,
        )
    assert "extra" not in t.read().columns


def test_occ_data_conflict_message_unchanged(spark, tmp_path):
    """Plain partition-overlap conflicts still raise (and don't get
    misclassified as schema-mapping)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import CommitConflict

    t = TimelineTable(
        spark=spark, path=str(tmp_path / "tl"), keys=["k"],
        precombine="ver", partition_by=["part"],
    )
    t.upsert(spark.createDataFrame([Row(k=1, part="a", v="x", ver=1)]))
    base = t.last_commit()
    t.upsert_occ(spark.createDataFrame([Row(k=1, part="a", v="w", ver=2)]), base=base)
    with pytest.raises(CommitConflict, match="touched this writer's partitions"):
        t.upsert_occ(
            spark.createDataFrame([Row(k=9, part="a", v="l", ver=1)]), base=base
        )


def test_copurchase_support_counts_distinct_orders(spark):
    """ADVICE r6 (low): an order listing the same part on k lines must
    contribute ONE co-occurrence per partner, not k*m line-pair
    products — min_support means 'co-occurs in >= N orders'."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators import graph as G

    li = spark.createDataFrame(
        [
            (1, 10), (1, 10), (1, 20),  # part 10 twice in order 1
            (2, 30), (2, 40),
        ],
        "l_orderkey long, l_partkey long",
    )
    got = {(r.u, r.v) for r in G.copurchase_edges(li, min_support=2).collect()}
    assert got == set()  # (10,20) co-occurs in ONE order, not two
    # and a genuine 2-order pair still qualifies
    li2 = li.union(
        spark.createDataFrame([(3, 10), (3, 10), (3, 20)],
                              "l_orderkey long, l_partkey long")
    )
    got2 = {(r.u, r.v) for r in G.copurchase_edges(li2, min_support=2).collect()}
    assert got2 == {(10, 20)}


def test_ledger_fsck_tolerated_by_inflight_marker_write(tmp_path, monkeypatch):
    """ADVICE r6 (low): BatchIdLedger.fsck sweeping a concurrently
    in-flight staged marker must not crash commit() — the writer
    re-stages and still returns a boolean."""
    import os as _os

    from aws_glue_streaming_etl_with_apache_hudi_spark.streaming.txn_sink import (
        BatchIdLedger,
        StagedRenameMarkerWriter,
    )

    ledger = BatchIdLedger(str(tmp_path / "ledger"), StagedRenameMarkerWriter())
    real_link = _os.link
    swept = {"n": 0}

    def sweeping_link(src, dst):
        if swept["n"] == 0:
            swept["n"] += 1
            _os.unlink(src)  # fsck swept the staging file mid-flight
        return real_link(src, dst)

    monkeypatch.setattr(_os, "link", sweeping_link)
    assert ledger.commit(7) is True  # re-staged transparently
    assert ledger.committed(7)
    assert swept["n"] == 1
    # second commit of the same id still loses cleanly
    monkeypatch.undo()
    assert ledger.commit(7) is False
    assert ledger.fsck() == []  # no staging residue left behind


def test_ledger_marker_write_gives_up_after_bounded_restages(tmp_path, monkeypatch):
    import os as _os

    from aws_glue_streaming_etl_with_apache_hudi_spark.streaming.txn_sink import (
        StagedRenameMarkerWriter,
    )

    w = StagedRenameMarkerWriter()

    def always_sweeping_link(src, dst):
        _os.unlink(src)
        raise FileNotFoundError(src)

    monkeypatch.setattr(_os, "link", always_sweeping_link)
    with pytest.raises(RuntimeError, match="fsck loop"):
        w.write(str(tmp_path / "marker.done"))


def test_stream_commit_sweeps_half_promoted_batch_files(spark, tmp_path):
    """ADVICE r6 (medium): a crash mid-promote leaves batch-N-* files
    with no _batch_N manifest; the replay re-stages under fresh names,
    so the crashed attempt's files accreted forever. Commit must sweep
    them before promoting."""
    import json
    import os

    from pyspark.sql import functions as F

    from aws_glue_streaming_etl_with_apache_hudi_spark.sources.pydatasource import register

    register(spark)
    out = str(tmp_path / "sled")
    os.makedirs(out, exist_ok=True)
    # the crashed attempt's half-promoted leftover for batch 0
    orphan = os.path.join(out, "batch-0-stage-99999-0-deadbeef.jsonl")
    with open(orphan, "w") as f:
        f.write('{"event_id": -1}\n')

    stream = (
        spark.readStream.format("graft_events")
        .option("rows", 40).option("rowsPerBatch", 40).load()
        .writeStream.format("graft_events").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    stream.awaitTermination(120)

    assert not os.path.exists(orphan)
    with open(os.path.join(out, "_batch_0")) as f:
        manifest = json.load(f)
    assert "batch-0-stage-99999-0-deadbeef.jsonl" not in manifest["files"]
    on_disk = sorted(n for n in os.listdir(out) if n.startswith("batch-0-"))
    assert on_disk == manifest["files"]  # exactly the attempt's files
    total = 0
    for name in on_disk:
        with open(os.path.join(out, name)) as f:
            total += sum(1 for _ in f)
    assert total == manifest["rows"] == 40


def test_batch_overwrite_promotes_before_manifest_swap(spark, tmp_path):
    """ADVICE r6 (medium): overwrite used to DELETE the committed files
    before writing the new _SUCCESS — a crash in between left the live
    manifest referencing deleted files. New order: promote, swap
    manifest, THEN sweep; a crash mid-promote must leave the old
    manifest fully readable."""
    import json
    import os

    from aws_glue_streaming_etl_with_apache_hudi_spark.sources.pydatasource import (
        GraftLedgerWriter,
        _StagedFile,
        ledger_fsck,
        register,
    )

    register(spark)
    out = str(tmp_path / "bled")
    df = spark.range(0, 20, numPartitions=2).selectExpr(
        "id AS event_id", "timestamp'2024-01-01' AS ts", "id AS user_id",
        "'view' AS event_type", "1.0 AS value", "'{}' AS props"
    )
    df.write.format("graft_events").option("path", out).mode("append").save()
    with open(os.path.join(out, "_SUCCESS")) as f:
        old_manifest = json.load(f)

    # crash an overwrite commit mid-promote: the second message's staged
    # file is missing, so the promote loop dies after the first rename
    w = GraftLedgerWriter({"path": out}, overwrite=True)
    staging = os.path.join(out, "_staging")
    os.makedirs(staging, exist_ok=True)
    ok = os.path.join(staging, f"part-00000-1-{w.job_token}.jsonl")
    with open(ok, "w") as f:
        f.write('{"event_id": 100}\n')
    gone = os.path.join(staging, f"part-00001-2-{w.job_token}.jsonl")
    with pytest.raises(FileNotFoundError):
        w.commit([_StagedFile(ok, 1), _StagedFile(gone, 1)])

    # the OLD manifest is still live and every file it lists is intact
    with open(os.path.join(out, "_SUCCESS")) as f:
        assert json.load(f) == old_manifest
    for name in old_manifest["files"]:
        assert os.path.exists(os.path.join(out, name))
    # the half-promoted file is an unreferenced orphan; fsck reclaims it
    rep = ledger_fsck(out)
    assert os.path.basename(ok) in rep["orphans"]
    # a clean overwrite retry converges
    df.limit(5).repartition(1).write.format("graft_events").option(
        "path", out
    ).mode("overwrite").save()
    with open(os.path.join(out, "_SUCCESS")) as f:
        new_manifest = json.load(f)
    assert new_manifest["rows"] == 5
    live = sorted(n for n in os.listdir(out) if n.endswith(".jsonl"))
    assert live == new_manifest["files"]


def test_batch_append_manifest_accumulates(spark, tmp_path):
    """Append keeps earlier committed files referenced: the manifest is
    the union, so append-then-append reads the full ledger."""
    import json
    import os

    from aws_glue_streaming_etl_with_apache_hudi_spark.sources.pydatasource import register

    register(spark)
    out = str(tmp_path / "aled")
    df = spark.range(0, 10, numPartitions=1).selectExpr(
        "id AS event_id", "timestamp'2024-01-01' AS ts", "id AS user_id",
        "'view' AS event_type", "1.0 AS value", "'{}' AS props"
    )
    df.write.format("graft_events").option("path", out).mode("append").save()
    df.write.format("graft_events").option("path", out).mode("append").save()
    with open(os.path.join(out, "_SUCCESS")) as f:
        manifest = json.load(f)
    assert manifest["rows"] == 20
    assert len(manifest["files"]) == 2
    for name in manifest["files"]:
        assert os.path.exists(os.path.join(out, name))


# -- round-8 (ADVICE r7) regressions ----------------------------------------
# 1. bloom superset invariant on merge_into/insert_overwrite/evolving
#    upserts: tests/test_bloom_index.py::
#    test_bloom_superset_invariant_on_every_key_adding_path
# 2. archive_timeline per-partition liveness: below + the updated
#    tests/test_timeline_services.py::test_archive_moves_dead_instants_only
# 3. merge_into global_index home-partition migration: below
# 4. SessionProcessor multi-chunk Arrow input: tests/test_stateful.py::
#    test_tws_processor_handles_multi_chunk_arrow_input


def test_archive_keeps_per_partition_owner_rewritten_after_horizon(spark, tmp_path):
    """ADVICE r7 #2: partition c owned at commit 1 (< horizon) and
    rewritten AFTER the horizon (commit 6). The old rule kept only the
    globally newest owner (6) and archived 1 — silently dropping c from
    read(as_of) for as_of in [horizon, 6). Commit 1 must stay active."""
    t = TimelineTable(
        spark, str(tmp_path / "tl"), keys=["k"], precombine="ver",
        partition_by=["part"],
    )

    def rows(data):
        return spark.createDataFrame(
            [Row(k=k, part=p, v=v, ver=ver) for (k, p, v, ver) in data]
        )

    t.upsert(rows([(1, "c", "keep", 1)]))          # commit 1 owns c
    for i in range(2, 6):                           # commits 2-5 touch a/b
        t.upsert(rows([(i, "a" if i % 2 == 0 else "b", f"v{i}", i)]))
    t.clean(keep_last=2)
    assert t.clean_horizon() == 4
    t.upsert(rows([(9, "c", "rewrite", 9)]))        # commit 6 re-owns c

    rep = t.archive_timeline()
    assert 1 not in rep["archived"], "live below-horizon owner of c archived"
    at4 = {r.k: (r.part, r.v) for r in t.read(as_of=4).collect()}
    assert at4.get(1) == ("c", "keep"), "partition c lost from as_of=4 read"


def test_archive_unpartitioned_keeps_newest_data_instant_at_horizon(spark, tmp_path):
    """ADVICE r7 #2 (unpartitioned leg): the newest DATA instant <= the
    horizon must stay active even when a newer data instant exists —
    read(as_of=horizon) resolves through it (the data[-1]-only rule
    returned an empty frame once it was archived)."""
    t = TimelineTable(spark, str(tmp_path / "tlu"), keys=["k"], precombine="ver")
    t.upsert(spark.createDataFrame([Row(k=1, v="a", ver=1)]))   # commit 1
    t.upsert(spark.createDataFrame([Row(k=1, v="b", ver=2)]))   # commit 2
    c3 = t.rename_column("v", "v2")                             # commit 3
    t.upsert(spark.createDataFrame([Row(k=1, v2="c", ver=3)]))  # commit 4
    t.clean(keep_last=2)
    horizon = t.clean_horizon()
    assert horizon == 3
    rep = t.archive_timeline()
    assert 2 not in rep["archived"], "newest data instant <= horizon archived"
    assert c3 not in rep["archived"]
    at3 = {r.k: r.v2 for r in t.read(as_of=3).collect()}
    assert at3 == {1: "b"}, "as_of=horizon read lost the table state"


def test_merge_into_global_index_migrates_instead_of_duplicating(spark, tmp_path):
    """ADVICE r7 #3: with global_index the stored row for a matched key
    may live under a DIFFERENT partition path than the source names.
    merge_into must treat it as MATCHED (update = migration), keep one
    live row per key, and refresh the record-level index."""
    t = UpsertTable(
        spark, str(tmp_path / "gmi"), keys=["k"], precombine="ver",
        partition_by=["part"], global_index=True, record_index=True,
    )
    t.upsert(spark.createDataFrame([
        Row(k=1, part="a", v="x", ver=1), Row(k=2, part="a", v="y", ver=1),
    ]))
    # source names partition b for key 1: matched -> migrate, not insert
    res = t.merge_into(spark.createDataFrame([Row(k=1, part="b", v="x2", ver=2)]))
    assert res == {"updated": 1, "deleted": 0, "inserted": 0}
    got = sorted((r.k, r.part, r.v, r.ver) for r in t.read().collect())
    assert got == [(1, "b", "x2", 2), (2, "a", "y", 1)], "key duplicated or lost"
    # the record-level index followed the migration
    hit = t.read_key((1,)).collect()
    assert len(hit) == 1 and hit[0].part == "b"
    # delete branch de-indexes: merge a delete for key 2
    res = t.merge_into(
        spark.createDataFrame([Row(k=2, part="a", v="zz", ver=3)]),
        matched_delete_condition="s.ver > t.ver",
        insert_not_matched=False,
    )
    assert res == {"updated": 0, "deleted": 1, "inserted": 0}
    assert t.read_key((2,)).collect() == []
    assert sorted((r.k,) for r in t.read().collect()) == [(1,)]


# -- r12: format-cache build-aside publish (ADVICE r11) ----------------------
#
# The ORC/XML render caches under /tmp are keyed by content fingerprint
# and shared across processes. The r11 defect: building IN the slot let
# a second session overwrite the directory a first was reading. The fix
# builds in a private staging dir and claims the slot by atomic rename;
# a slot with _READY is immutable. These tests pin the claim protocol
# by exercising the queries against pre-seeded slot states.


def _orc_slot(sf_dir: str) -> str:
    """Replicate orc_source_roundtrip's fingerprint -> slot path."""
    import hashlib

    src = os.path.join(sf_dir, "supplier.parquet")
    fp = hashlib.md5(src.encode())
    walk_src = src if os.path.isdir(src) else os.path.dirname(src)
    for root, _dirs, files in sorted(os.walk(walk_src)):
        for fn in sorted(files):
            if not (fn.startswith("supplier") or "supplier" in root):
                continue
            st = os.stat(os.path.join(root, fn))
            fp.update(f"{root}/{fn}:{st.st_size}:{st.st_mtime_ns}".encode())
    return os.path.join("/tmp/spark_graft_orc", fp.hexdigest()[:16])


def test_orc_cache_published_slot_is_immutable(spark):
    """A slot carrying _READY is never rebuilt: the render inside it
    must survive a second call byte-identically."""
    import shutil

    from aws_glue_streaming_etl_with_apache_hudi_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    slot = _orc_slot(sf)
    shutil.rmtree(slot, ignore_errors=True)
    QUERIES["orc_source_roundtrip"].fn(spark, sf).collect()  # builds + claims
    assert os.path.exists(os.path.join(slot, "_READY"))
    before = {
        f: os.path.getmtime(os.path.join(slot, f)) for f in os.listdir(slot)
    }
    QUERIES["orc_source_roundtrip"].fn(spark, sf).collect()  # must reuse
    after = {
        f: os.path.getmtime(os.path.join(slot, f)) for f in os.listdir(slot)
    }
    assert before == after  # nothing rewritten in a published slot


def test_orc_cache_unpublished_slot_raises_not_junk(spark):
    """A pre-existing slot WITHOUT _READY (a foreign/unfinished dir the
    rename cannot claim) must surface an error — reading it could serve
    a half-written render."""
    import shutil

    from aws_glue_streaming_etl_with_apache_hudi_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    slot = _orc_slot(sf)
    shutil.rmtree(slot, ignore_errors=True)
    os.makedirs(slot)
    # NON-empty junk: rename cannot claim it (an EMPTY existing slot is
    # atomically replaced by rename — that claim succeeding is correct)
    with open(os.path.join(slot, "halfwritten.orc"), "w") as f:
        f.write("junk")
    try:
        with pytest.raises(OSError):
            QUERIES["orc_source_roundtrip"].fn(spark, sf).collect()
    finally:
        shutil.rmtree(slot, ignore_errors=True)


# -- results must not depend on the session's partitionOverwriteMode ----------


@pytest.fixture
def static_partition_overwrite(spark):
    """A session set up without get_spark's dynamic overwrite conf."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def test_cow_upsert_keeps_untouched_partitions_under_static_overwrite(
    spark, tmp_path, static_partition_overwrite
):
    t = UpsertTable(
        spark, str(tmp_path / "t"), keys=["k"], precombine="ver", partition_by=["day"]
    )
    schema = "k long, day string, ver long"
    t.upsert(spark.createDataFrame([(1, "d1", 1), (2, "d2", 1), (3, "d2", 1)], schema))
    t.upsert(spark.createDataFrame([(1, "d1", 2)], schema))  # touches d1 only
    got = sorted((r.k, r.day, r.ver) for r in t.read().collect())
    assert got == [(1, "d1", 2), (2, "d2", 1), (3, "d2", 1)]


def test_mor_compaction_keeps_untouched_partitions_under_static_overwrite(
    spark, tmp_path, static_partition_overwrite
):
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import (
        CompactionPolicy,
        MergeOnReadTable,
    )

    t = MergeOnReadTable(
        spark, str(tmp_path / "mor"), keys=["k"], precombine="ver",
        partition_by=["day"], policy=CompactionPolicy(max_delta_commits=100),
    )
    schema = "k long, day string, ver long"
    t.upsert(spark.createDataFrame([(1, "d1", 1), (2, "d1", 1), (3, "d2", 1)], schema))
    t.upsert(spark.createDataFrame([(1, "d1", 2)], schema))  # touches d1 only
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    t.compact()
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    assert sorted(r.k for r in t.read_optimized().collect()) == [1, 2, 3]


# -- schema evolution widens through Catalyst's type coercion -----------------


def test_upsert_widens_ntz_and_decimal_pairs_not_to_string(spark, tmp_path):
    """A stored TIMESTAMP_NTZ column plus a TIMESTAMP batch widens to
    TIMESTAMP, and DECIMAL(10,2) plus DECIMAL(12,4) to DECIMAL(12,4), on
    every row, including the untouched partition."""
    from pyspark.sql import functions as F

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.schema_evolution import (
        evolve_schema,
    )

    def batch(rows, ts_type, amt_type):
        return spark.createDataFrame(
            rows, "k long, day string, ts string, amt string, ver long"
        ).select(
            "k", "day", F.col("ts").cast(ts_type).alias("ts"),
            F.col("amt").cast(amt_type).alias("amt"), "ver",
        )

    t = UpsertTable(
        spark, str(tmp_path / "t"), keys=["k"], precombine="ver", partition_by=["day"]
    )
    t.upsert(batch(
        [(1, "d1", "2024-01-01 02:30:00", "1.25", 1),
         (2, "d2", "2024-01-02 05:30:00", "7.50", 1)],
        "timestamp_ntz", "decimal(10,2)",
    ))
    t.upsert(batch(
        [(1, "d1", "2024-01-01 03:30:00", "1.2345", 2)], "timestamp", "decimal(12,4)"
    ))
    out = t.read()
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert dict(out.dtypes)["amt"] == "decimal(12,4)"
    got = sorted((r.k, r.ts.isoformat(), str(r.amt)) for r in out.collect())
    assert got == [
        (1, "2024-01-01T03:30:00", "1.2345"),
        (2, "2024-01-02T05:30:00", "7.5000"),
    ]
    # Catalyst caps a decimal at 38 digits and keeps the integer part:
    # DECIMAL(38,0) + DECIMAL(38,10) widens to DECIMAL(38,0), rounding
    # 3.5 to 4. Such a pair falls back to STRING, which loses neither.
    big = spark.createDataFrame([("1" + "0" * 30,)], "v string").select(
        F.col("v").cast("decimal(38,0)").alias("v")
    )
    frac = spark.createDataFrame([("3.5",)], "v string").select(
        F.col("v").cast("decimal(38,10)").alias("v")
    )
    a, b = evolve_schema(frac, big)
    assert dict(a.dtypes)["v"] == dict(b.dtypes)["v"] == "string"
    assert sorted(r.v for r in a.unionByName(b).collect()) == [
        "1" + "0" * 30, "3.5000000000",
    ]
