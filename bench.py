#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "calibration_seconds": ..., "sf": ..., "sf1": {...}, "storage": {...}}
sized to fit the driver's 2000-char stdout tail; the FULL record
(queries_median, every sf1 wall, storage_scaling rows) lands in
docs/BENCH_DETAIL.json on each run.

Each query is fully materialized to Spark's ``noop`` sink, which computes
every output column and writes nothing, so Catalyst cannot prune projected
work the way a ``count()`` lets it. A warmup pass primes the JVM/parquet
footer caches; timed runs measure steady-state execution.

Contention calibration: round-over-round comparisons of wall times run on
a SHARED host are at the mercy of co-tenant load (round 4's driver run
measured 11.79 s where two clean re-runs of identical code measured
~8.5 s — a uniform ~35% drift across untouched queries). The report
therefore carries:

- ``calibration_seconds``: the median wall time of a fixed, code-
  independent probe (scan + aggregate over a constant-size lineitem
  projection) run interleaved with the suite. It measures the HOST, not
  this repo — divide two rounds' query times by their calibration ratio
  to separate code regressions from host noise arithmetically.
- ``queries_median``: per-query median-of-3 alongside the min. The min
  estimates uncontended capability; the median exposes run-to-run
  variance (a large median/min gap on one query = noisy neighbor, not a
  plan change).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_glue_streaming_etl_with_apache_hudi_spark import get_spark  # noqa: E402
from aws_glue_streaming_etl_with_apache_hudi_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# -- sf1 spot-bench (VERDICT r5 task 4) ------------------------------------
# The TPC-H set is IO-saturated at sf0.1; the queries whose cost actually
# moves with data volume are the dedup/ANN family. No sf1 fixture ships,
# so the bench synthesizes one (once, cached): documents and embeddings
# replicated 10x with key remapping and a deterministic per-replica text
# perturbation (replicas stay near-dups of their original — the hard case
# for the LSH band join and the hot-bucket cap), other tables symlinked.
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
SF1_QUERIES = ["dedup_minhash_lsh", "knn_lsh", "knn_rerank", "corpus_build_pipeline_v2"]
SF1_REPLICAS = 10


#: bump when the synthesis scheme changes so stale caches rebuild
_SF1_SCHEME = "v2-full-tables"


def _replicate_keyed(spark, reps, src: str, dst: str, key_offsets: dict[str, int]) -> None:
    """Replicate a parquet table SF1_REPLICAS times, shifting each listed
    key column by rep * its domain offset — replicas of joined tables
    shift the SAME key domain by the SAME offset, so every join keeps
    its per-replica fan-out (the workload scales 10x without changing
    selectivity)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(src).crossJoin(reps)
    for col, off in key_offsets.items():
        df = df.withColumn(col, F.col(col) + F.col("_rep") * F.lit(off))
    df.drop("_rep").repartition(32).write.mode("overwrite").parquet(dst)


def ensure_sf1(spark) -> str:
    import shutil

    from pyspark.sql import functions as F

    marker = os.path.join(SF1_DIR, "_READY")
    if os.path.exists(marker) and _SF1_SCHEME in open(marker).read():
        return SF1_DIR
    shutil.rmtree(SF1_DIR, ignore_errors=True)
    os.makedirs(SF1_DIR)
    reps = spark.range(SF1_REPLICAS).withColumnRenamed("id", "_rep")

    # TPC-H tables + events: replicate with ALIGNED key-domain offsets
    # (one offset per key domain, from the source table's max key) so
    # referential joins hold inside each replica. nation/region stay
    # symlinked — real dims stay dim-sized at any SF.
    def _off(table: str, key: str) -> int:
        return int(
            spark.read.parquet(f"{SF_DIR}/{table}.parquet").agg(F.max(key)).collect()[0][0]
        ) + 1

    ok_off = _off("orders", "o_orderkey")
    ck_off = _off("customer", "c_custkey")
    pk_off = _off("part", "p_partkey")
    sk_off = _off("supplier", "s_suppkey")
    uid_off = _off("events", "user_id")
    eid_off = _off("events", "event_id")
    plan = {
        "orders": {"o_orderkey": ok_off, "o_custkey": ck_off},
        "lineitem": {"l_orderkey": ok_off, "l_partkey": pk_off, "l_suppkey": sk_off},
        "customer": {"c_custkey": ck_off},
        "part": {"p_partkey": pk_off},
        "supplier": {"s_suppkey": sk_off},
        "events": {"event_id": eid_off, "user_id": uid_off},
    }
    for tname, offs in plan.items():
        _replicate_keyed(
            spark, reps, f"{SF_DIR}/{tname}.parquet", f"{SF1_DIR}/{tname}.parquet", offs
        )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    doc_off = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    (
        docs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("_rep") * F.lit(doc_off))
        .withColumn(
            "text",
            F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" replica "), F.col("_rep"))
            ),
        )
        .drop("_rep")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{SF1_DIR}/documents.parquet")
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vec_off = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    (
        emb.crossJoin(reps)
        .withColumn("vec_id", F.col("vec_id") + F.col("_rep") * F.lit(vec_off))
        .drop("_rep")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{SF1_DIR}/embeddings.parquet")
    )

    for tname in ["region", "nation"]:
        src = f"{SF_DIR}/{tname}.parquet"
        if os.path.exists(src):
            os.symlink(src, f"{SF1_DIR}/{tname}.parquet")
    with open(marker, "w") as f:
        f.write(f"from {SF_DIR} x{SF1_REPLICAS} {_SF1_SCHEME}")
    return SF1_DIR


def _sf1_measure(spark, names: list[str], sf1: str) -> dict:
    """Warm median-of-3 per query (VERDICT r11 task 2). TWO warmup
    passes, not one: the fresh child JVM pays full cold-JIT/page-cache
    cost, and at sf1 a single warmup provably doesn't reach steady
    state (knn_lsh measured 34.8 s cold -> 5.8 after one pass -> 2.4
    steady; the r11 artifact published 11.1-13.8 s, 3-5x over warm
    capability, purely from under-warming). Three timed passes publish
    BOTH min (capability) and median (what a reader should trust —
    robust to one co-tenant spike)."""
    out: dict[str, float] = {}
    med: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name].fn
        for _ in range(2):
            materialize(fn(spark, sf1))  # warmups, untimed
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(fn(spark, sf1))
            runs.append(time.perf_counter() - t0)
        out[name] = round(min(runs), 3)
        med[name] = round(statistics.median(runs), 3)
    return {
        "sf": 1.0,
        "replicas_of": SF_DIR,
        "queries": out,
        "queries_median": med,
    }


def sf1_spot(spark) -> dict:
    """Warm median-of-3 wall time per dedup/ANN query at the synthesized
    sf1."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import clear_persist_slots

    # section boundary: drop the sf0.1-era operator caches — 66 headliner
    # executions leave persist slots that otherwise squeeze executor
    # storage under the 10x data (observed: dedup_minhash_lsh sf1 8.1 s
    # in-process vs 2.1 s isolated)
    clear_persist_slots(spark)
    # full-GC hint after dropping the sf0.1-era caches: 66 headliner
    # executions leave old-gen pressure that can triple the first sf1
    # walls (observed 5.9 s vs 2.0 s isolated for dedup_minhash_lsh)
    spark.sparkContext._jvm.System.gc()
    sf1 = ensure_sf1(spark)
    return _sf1_measure(spark, SF1_QUERIES, sf1)


def _sf1_subprocess() -> dict:
    """Run both sf1 sections in a FRESH interpreter + JVM and return the
    parsed child record. Isolation rationale in main(); the child skips
    fixture synthesis because the parent already ran ensure_sf1."""
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = SF_DIR
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--sf1-child"],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    # Scan stdout bottom-up for the record instead of trusting the last
    # line / the exit code: a JVM teardown crash or a stray shutdown line
    # after the JSON must not discard a completed ~30 min measurement.
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    raise RuntimeError(
        f"sf1 child rc={proc.returncode}, no JSON record in stdout: "
        f"{proc.stderr.strip()[-300:]}"
    )


def _sf1_child_main() -> None:
    """Child entrypoint (--sf1-child): fresh session, measure both sf1
    sections, print ONE JSON line for the parent to parse.

    The child runs ITS OWN calibration probes (VERDICT r11 task 2b):
    the parent's probe samples the parent's contention window, not the
    child's — co-tenant pressure during the ~5-minute sf1 window was
    invisible in the artifact, so every round re-litigated whether a
    slow sf1 wall was code or host. Probes sample before, between and
    after the sections; the median ships next to the sf1 walls."""
    spark = get_spark(app_name="bench-sf1")
    names = sorted(n for n, q in QUERIES.items() if q.headline)
    rec: dict = {}
    try:
        calibration(spark)  # untimed: primes the probe's footer cache
        cal = [calibration(spark)]
        rec["sf1_spot"] = sf1_spot(spark)
        cal.append(calibration(spark))
        if os.environ.get("SPARK_GRAFT_SF1_FULL", "1") == "1":
            rec["sf1_full"] = sf1_full(
                spark, [n for n in names if n not in SF1_QUERIES]
            )
            rec["sf1_full"]["queries"].update(rec["sf1_spot"].get("queries", {}))
            rec["sf1_full"]["queries_median"].update(
                rec["sf1_spot"].get("queries_median", {})
            )
            cal.append(calibration(spark))
        rec["calibration_seconds"] = round(statistics.median(cal), 3)
        rec["calibration_samples"] = [round(c, 3) for c in cal]
    except Exception as exc:
        rec["error"] = f"{type(exc).__name__}: {exc}"
    print(json.dumps(rec))


def sf1_full(spark, names: list[str]) -> dict:
    """EVERY headliner at the synthesized sf1 (VERDICT r8 task 5): the
    r6 knn_lsh 22.6 s scale-killer was invisible at sf0.1 and caught
    only because that one query happened to be in the 4-query spot —
    this section removes the blind spot for the other 18. Double warmup
    + median-of-3 per query (_sf1_measure), persist slots cleared at
    the section boundary (same hygiene as sf1_spot)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import clear_persist_slots

    clear_persist_slots(spark)
    spark.sparkContext._jvm.System.gc()
    sf1 = ensure_sf1(spark)
    return _sf1_measure(spark, names, sf1)


# -- storage scale rehearsal (VERDICT r7 task 7) ----------------------------
# The 100 TB storage claims — O(touched) commits, sharded bloom sidecar,
# partition-pruned merges — argued from code are MEASURED here: the same
# 5-partition commit against tables whose partition count grows 100x
# (40 -> 400 -> 4000, fixed rows per partition). If commit cost is
# O(touched), the wall times stay flat in table size; any O(table
# partitions) step (the r7 monolithic _bloom.json, a full-table listing
# in the write path) shows up as linear growth. Fixtures build once and
# cache under /tmp; timed batches use a per-run counter so every run
# exercises the same path (fresh keys -> bloom fast path, ver bumps ->
# merge path) without fixture drift.
STORAGE_SCALE_DIR = os.environ.get(
    "SPARK_GRAFT_STORAGE_SCALE_DIR", "/tmp/spark_graft_storage_scale"
)
STORAGE_SCALE_PARTITIONS = (40, 400, 4000)
_SS_ROWS_PER_PART = 25
_SS_TOUCH = 5  # partitions per timed commit


def _ss_table(spark, P: int):
    from pyspark.sql import functions as F

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    base = os.path.join(STORAGE_SCALE_DIR, f"p{P}")
    tbl = UpsertTable(
        spark, os.path.join(base, "tbl"), keys=["k"], precombine="ver",
        partition_by=["pk"], bloom_index=True,
    )
    marker = os.path.join(base, "_READY")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        df = spark.range(P * _SS_ROWS_PER_PART).select(
            F.format_string(f"part%0{len(str(P))}d", F.col("id") % P).alias("pk"),
            F.col("id").alias("k"),
            F.lit(1).cast("long").alias("ver"),
            F.lit("x").alias("v"),
        )
        tbl.upsert(df.repartition(32, "pk"))
        with open(marker, "w") as f:
            f.write("ok")
    return tbl, base


def _ss_global_table(spark, P: int):
    from pyspark.sql import functions as F

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    base = os.path.join(STORAGE_SCALE_DIR, f"g{P}")
    tbl = UpsertTable(
        spark, os.path.join(base, "tbl"), keys=["k"], precombine="ver",
        partition_by=["pk"], global_index=True, record_index=True,
    )
    marker = os.path.join(base, "_READY")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        df = spark.range(P * _SS_ROWS_PER_PART).select(
            F.format_string(f"part%0{len(str(P))}d", F.col("id") % P).alias("pk"),
            F.col("id").alias("k"),
            F.lit(1).cast("long").alias("ver"),
            F.lit("x").alias("v"),
        )
        tbl.upsert(df.repartition(32, "pk"))
        with open(marker, "w") as f:
            f.write("ok")
    return tbl, base


def _ss_fidx_table(spark, P: int):
    """P-partition table with a FUNCTIONAL INDEX on an expression of the
    partition name (``CAST(substring(pk, 5) AS INT)`` — the partition's
    numeric suffix, width-independent), so an equality probe resolves to
    a CONSTANT number of candidate partitions at every P. The timed rows
    then isolate the index contract (VERDICT r11 task 3): commit-time
    maintenance is O(touched partitions), and the declarative
    ``read(where=...)`` probe costs O(sidecar metadata + candidates),
    never O(table data)."""
    from pyspark.sql import functions as F

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    base = os.path.join(STORAGE_SCALE_DIR, f"fidx{P}")
    tbl = UpsertTable(
        spark, os.path.join(base, "tbl"), keys=["k"], precombine="ver",
        partition_by=["pk"],
        functional_indexes={"pknum": "CAST(substring(pk, 5) AS INT)"},
    )
    marker = os.path.join(base, "_READY")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        df = spark.range(P * _SS_ROWS_PER_PART).select(
            F.format_string(f"part%0{len(str(P))}d", F.col("id") % P).alias("pk"),
            F.col("id").alias("k"),
            F.lit(1).cast("long").alias("ver"),
            F.lit("x").alias("v"),
        )
        tbl.upsert(df.repartition(32, "pk"))
        with open(marker, "w") as f:
            f.write("ok")
    return tbl, base


def _ss_mor_table(spark, P: int):
    from pyspark.sql import functions as F

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import (
        CompactionPolicy,
        MergeOnReadTable,
    )

    base = os.path.join(STORAGE_SCALE_DIR, f"m{P}")
    tbl = MergeOnReadTable(
        spark, os.path.join(base, "tbl"), keys=["k"], precombine="ver",
        partition_by=["pk"],
        policy=CompactionPolicy(max_delta_commits=None, max_log_bytes=None),
    )
    marker = os.path.join(base, "_READY")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        df = spark.range(P * _SS_ROWS_PER_PART).select(
            F.format_string(f"part%0{len(str(P))}d", F.col("id") % P).alias("pk"),
            F.col("id").alias("k"),
            F.lit(1).cast("long").alias("ver"),
            F.lit("x").alias("v"),
        )
        tbl.upsert(df.repartition(32, "pk"))
        tbl.compact()
        with open(marker, "w") as f:
            f.write("ok")
    return tbl, base


def _ss_counter(base: str) -> int:
    p = os.path.join(base, "_RUN")
    n = int(open(p).read()) + 1 if os.path.exists(p) else 1
    with open(p, "w") as f:
        f.write(str(n))
    return n


def storage_scaling(spark) -> dict:
    """Three interleaved passes per (table, op) cell, median reported
    (VERDICT r10 task 3): a single-shot cell can catch a GC pause or
    page-cache miss and print a spike a reader can't distinguish from an
    O(P) defect (r10: p400 merge_into 13.0 s vs p40 3.0 / p4000 2.8).
    Interleaving the table order across passes decorrelates the cell
    from session heap history; the per-cell raw samples land in
    docs/BENCH_DETAIL.json under ``samples``."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import clear_persist_slots

    clear_persist_slots(spark)  # same section-boundary hygiene as sf1_spot
    out: dict = {
        "rows_per_partition": _SS_ROWS_PER_PART,
        "touched_per_commit": _SS_TOUCH,
        "passes": 3,
        "tables": {},
        "samples": {},
    }
    samples: dict[str, dict[str, list[float]]] = {}
    for rep in range(3):
        # rotate the table order per pass so no cell is ALWAYS measured
        # with the same preceding heap history (pass 0: 40,400,4000;
        # pass 1: 400,4000,40; ...)
        order = (
            STORAGE_SCALE_PARTITIONS[rep % 3:]
            + STORAGE_SCALE_PARTITIONS[: rep % 3]
        )
        for P in order:
            res = _storage_scaling_cell(spark, P)
            cell = samples.setdefault(f"partitions_{P}", {})
            for op, w in res.items():
                cell.setdefault(op, []).append(w)
    for pkey, cell in samples.items():
        out["tables"][pkey] = {
            op: round(statistics.median(ws), 3) for op, ws in cell.items()
        }
    out["samples"] = samples
    return out


def _storage_scaling_cell(spark, P: int) -> dict:
    """One timed pass over every storage op against the P-partition
    tables. Batches key off the per-table run counter, so every pass
    exercises the same code path (fresh keys -> bloom fast path, ver
    bumps -> merge path) without fixture drift."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    tbl, base = _ss_table(spark, P)
    run = _ss_counter(base)
    pks = [f"part%0{len(str(P))}d" % i for i in range(_SS_TOUCH)]
    res: dict = {}

    # untimed warm-up commit (codegen/JVM priming — without it the
    # first table measured absorbs the whole session's warm-up)
    tbl.upsert(spark.createDataFrame(
        [Row(pk=pks[0], k=20 * P, ver=run + 1, v=f"w{run}")]
    ))

    # merge-path upsert: existing keys in _SS_TOUCH partitions, ver
    # bump (key k lives in partition k % P by construction)
    b = spark.createDataFrame(
        [
            Row(pk=pks[j], k=j + m * P, ver=run + 1, v=f"m{run}")
            for j in range(_SS_TOUCH)
            for m in range(4)
        ]
    )
    t0 = time.perf_counter()
    tbl.upsert(b)
    res["upsert_merge_sec"] = round(time.perf_counter() - t0, 3)

    # bloom fast path: FRESH keys into the same partitions
    off = P * _SS_ROWS_PER_PART * (run + 1)
    bf = spark.createDataFrame(
        [Row(pk=pks[i % _SS_TOUCH], k=off + i, ver=1, v="f") for i in range(_SS_TOUCH * 4)]
    )
    t0 = time.perf_counter()
    tbl.upsert(bf)
    res["upsert_bloom_insert_sec"] = round(time.perf_counter() - t0, 3)

    # MERGE INTO: conditional update of the merge batch's keys
    src = b.withColumn("ver", F.col("ver") + 1)
    t0 = time.perf_counter()
    tbl.merge_into(src, matched_update_condition="s.ver > t.ver")
    res["merge_into_sec"] = round(time.perf_counter() - t0, 3)

    # partition-pruned READ of the touched set (the other half of
    # the O(touched) contract: listing+scanning 5 partitions must
    # not depend on how many others exist)
    t0 = time.perf_counter()
    touched = tbl.read_partitions([(p,) for p in pks])
    materialize(touched)
    res["read_touched_sec"] = round(time.perf_counter() - t0, 3)
    assert touched.count() >= _SS_TOUCH * 4

    # delete_partition of a sacrificial partition (created untimed)
    sac = f"sac{run}"
    tbl.upsert(spark.createDataFrame([Row(pk=sac, k=off + 10_000, ver=1, v="s")]))
    t0 = time.perf_counter()
    tbl.delete_partition((sac,))
    res["delete_partition_sec"] = round(time.perf_counter() - t0, 3)

    # global-index key migration (VERDICT r8 task 6): existing keys
    # move to new partition paths; with the record-level index the
    # home lookup reads only the RLI buckets containing batch keys —
    # the wall must not grow with table partition count
    gtbl, gbase = _ss_global_table(spark, P)
    grun = _ss_counter(gbase)
    gb = spark.createDataFrame(
        [
            Row(
                pk=f"part%0{len(str(P))}d" % ((j + grun) % P),
                k=j,
                ver=grun + 1,
                v=f"g{grun}",
            )
            for j in range(_SS_TOUCH * 4)
        ]
    )
    t0 = time.perf_counter()
    gtbl.upsert(gb)
    res["global_index_migrate_sec"] = round(time.perf_counter() - t0, 3)

    # MOR delta append + log compaction (VERDICT r8 task 6): the
    # append is O(batch) by design; compaction must rewrite ONLY
    # partitions present in the logs — flat in table size
    mtbl, mbase = _ss_mor_table(spark, P)
    mrun = _ss_counter(mbase)
    mb = spark.createDataFrame(
        [
            Row(pk=pks[j % _SS_TOUCH], k=j + mrun * P, ver=mrun + 1, v=f"d{mrun}")
            for j in range(_SS_TOUCH * 4)
        ]
    )
    t0 = time.perf_counter()
    mtbl.upsert(mb)
    res["mor_delta_append_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    mtbl.compact()
    res["mor_compact_sec"] = round(time.perf_counter() - t0, 3)

    # functional index (VERDICT r11 task 3): commit-time sidecar
    # maintenance must be O(touched), and the DECLARATIVE probe —
    # read(where=<plain predicate on the indexed expression>) — must
    # cost O(sidecar metadata + constant candidates), flat in table
    # DATA size 40 -> 4000
    ftbl, fbase = _ss_fidx_table(spark, P)
    frun = _ss_counter(fbase)
    foff = P * _SS_ROWS_PER_PART * (frun + 1)
    fb = spark.createDataFrame(
        [
            Row(pk=pks[j % _SS_TOUCH], k=foff + j, ver=1, v=f"fx{frun}")
            for j in range(_SS_TOUCH * 4)
        ]
    )
    t0 = time.perf_counter()
    ftbl.upsert(fb)
    res["fidx_commit_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    probed = ftbl.read(where="CAST(substring(pk, 5) AS INT) = 3")
    materialize(probed)
    res["fidx_read_expr_sec"] = round(time.perf_counter() - t0, 3)
    assert probed.count() >= _SS_ROWS_PER_PART  # partition part…3's resident rows

    # MOR read amplification (VERDICT r9 task 4): the read-side
    # merge (base ∪ N deltas -> max_by) is bounded by the pending
    # delta count — the contract behind max_delta_commits. Measured
    # at P=400 only (the rows are delta-count-driven, not
    # partition-count-driven): read wall at 0/3/5 pending deltas,
    # then again after compaction folds the logs.
    if P == 400:
        def _read_wall():
            t0 = time.perf_counter()
            materialize(mtbl.read())
            return round(time.perf_counter() - t0, 3)

        res["mor_read_0_deltas_sec"] = _read_wall()
        d = 0
        for target, key in ((3, "mor_read_3_deltas_sec"), (5, "mor_read_5_deltas_sec")):
            while d < target:
                d += 1
                mtbl.upsert(spark.createDataFrame(
                    [
                        Row(pk=pks[j % _SS_TOUCH], k=j + (mrun + d) * P,
                            ver=mrun + d + 1, v=f"r{d}")
                        for j in range(_SS_TOUCH * 4)
                    ]
                ))
            res[key] = _read_wall()
        mtbl.compact()
        res["mor_read_post_compact_sec"] = _read_wall()

    return res



def materialize(df) -> None:
    """Compute every row and column of ``df`` into the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def run_one(spark, fn) -> float:
    t0 = time.perf_counter()
    materialize(fn(spark, SF_DIR))
    return time.perf_counter() - t0


def calibration(spark) -> float:
    """Fixed host probe: constant work regardless of repo code changes.

    A two-column lineitem scan + hash-agg exercises the same resources
    the suite does (parquet decode, shuffle-free agg, JVM) with a plan
    that never changes round-over-round."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_quantity", "l_extendedprice")
        .agg(F.sum("l_quantity"), F.avg("l_extendedprice"))
        .collect()
    )
    return time.perf_counter() - t0


def calibration_parallel(spark) -> float:
    """CPU-SCALING probe (VERDICT r13 task 2): a fixed, embarrassingly
    parallel synthetic aggregation — 800M chained-xxhash64 rows over 64
    partitions, no input files, no shuffle beyond the 1-row final agg —
    whose wall MUST move with the core count. It exists because the
    headline queries at sf0.1 are scheduler-floor/single-row-group-decode
    bound and measure nearly flat 8-vs-32 cores, which is indistinguishable
    in the artifact from a bench that ignores $SPARK_GRAFT_CPUS; this row
    makes the honored core count demonstrable from the JSON line alone
    (measured on the r14 VM: ~0.55 s at local[32], ~1.15 s at local[8])."""
    t0 = time.perf_counter()
    (
        spark.range(0, 800_000_000, 1, 64)
        .selectExpr("bit_xor(xxhash64(xxhash64(xxhash64(id)))) AS h")
        .collect()
    )
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark(app_name="bench")
    names = sorted(n for n, q in QUERIES.items() if q.headline)

    # warmup: TWO full executions per query (codegen compilation, shuffle
    # file creation, operator-level materializations) — not timed; also
    # primes the calibration probe's footer cache. Two, not one: C2
    # tier-up of generated code takes ~3 executions on the string-heavy
    # plans, and with a single warmup min-of-3 straddles the JIT
    # boundary — text_tfidf_top_term measured bimodal 0.77/1.11 s across
    # r7-r10 with UNTOUCHED code (isolated 10-run profile: 9.7 cold ->
    # 1.2 -> 0.93 -> steady ~0.78; VERDICT r10 task 4).
    calibration(spark)
    for _ in range(2):
        for name in names:
            materialize(QUERIES[name].fn(spark, SF_DIR))

    # steady state: 3 runs per query; report min (capability) AND median
    # (variance). Calibration probes interleave with the suite so they
    # sample the same contention the queries experienced.
    cal_samples = [calibration(spark)]
    samples: dict[str, list[float]] = {}
    for rep in range(3):
        for name in names:
            samples.setdefault(name, []).append(run_one(spark, QUERIES[name].fn))
        cal_samples.append(calibration(spark))

    timings = {n: round(min(s), 3) for n, s in samples.items()}
    medians = {n: round(statistics.median(s), 3) for n, s in samples.items()}

    # SLOT-COLD pass (VERDICT r13 task 1 — cache transparency): the warm
    # min/median above run with the operators' bounded session persist
    # slots hot (static derived artifacts: graph adjacency/degrees, LSH
    # band tables, IVF-PQ inverted lists, ...). This pass clears every
    # persist/checkpoint slot BEFORE each query and times one run, so the
    # artifact carries both numbers and the warm/cold gap — the value of
    # the caches — is measurable from the bench line instead of being
    # silently folded into the headline. Queries that re-created at least
    # one slot during their cold run are listed in ``slot_bearing``.
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import (
        _PERSIST_SLOTS,
        _TRUNC_SLOTS,
        clear_persist_slots,
    )

    slot_cold: dict[str, float] = {}
    slot_bearing: list[str] = []
    for name in names:
        clear_persist_slots(spark)
        slot_cold[name] = round(run_one(spark, QUERIES[name].fn), 3)
        if _PERSIST_SLOTS.get(spark) or _TRUNC_SLOTS.get(spark):
            slot_bearing.append(name)
    cal_samples.append(calibration(spark))

    # CPU-scaling probe (VERDICT r13 task 2), 2 samples, min reported
    cal_par = [calibration_parallel(spark) for _ in range(2)]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sc = spark.sparkContext
    out = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_slot_cold": slot_cold,
        "slot_bearing": slot_bearing,
        "calibration_seconds": round(statistics.median(cal_samples), 3),
        # raw probe walls (ADVICE r10): normalized round-over-round
        # comparisons are only verifiable from the artifact if the
        # calibration inputs ship alongside the headline numbers
        "calibration_samples": [round(c, 3) for c in cal_samples],
        # the honored core count, demonstrable from the artifact alone:
        # master is local[$SPARK_GRAFT_CPUS] (session.py), parallelism is
        # what the live context reports, and cal_parallel is the fixed
        # CPU-bound probe whose wall must move 8-vs-32 cores
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "parallelism": sc.defaultParallelism,
        "cal_parallel": round(min(cal_par), 3),
        "cal_parallel_samples": [round(c, 3) for c in cal_par],
        # input-layout constraint, pinned for scaling readers (VERDICT r13
        # task 9): every sf0.1 fixture table is a single-row-group parquet
        # file, so scans DECODE ON ONE CORE regardless of split size and
        # per-query 8-vs-32-core ratios sit near 1 at this SF — that is
        # the fixture, not the engine; cal_parallel is the scaling signal
        "fixture_note": "single-row-group parquet: scans decode on one "
        "core at this SF; see cal_parallel for the CPU-scaling signal",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # sf1 sections: only when benching the sf0.1 fixture (the driver
    # run), so the synthesized sf1 always means "10x sf0.1". Opt out with
    # SPARK_GRAFT_SF1=0 / SPARK_GRAFT_SF1_FULL=0.
    #
    # Both sections run in a SUBPROCESS with a fresh JVM (VERDICT r10
    # task 2): after ~70 headliner executions the suite session carries
    # old-gen heap history that inflated sf1 walls up to 3-4x in r9/r10
    # driver runs (q9 9.4 s in-suite vs 2.3-3.1 s isolated; dedup saw the
    # same artifact in r9) — a measurement-hygiene defect, not a code
    # one. The parent builds/validates the cached sf1 fixture with its
    # warm session first, so the child only measures.
    if (
        os.environ.get("SPARK_GRAFT_SF1", "1") == "1"
        and SF_DIR.rstrip("/").endswith("sf0.1")
    ):
        try:
            ensure_sf1(spark)
            child = _sf1_subprocess()
            missing = {"error": child.get("error", "missing from child record")}
            out["sf1_spot"] = child.get("sf1_spot", missing)
            if os.environ.get("SPARK_GRAFT_SF1_FULL", "1") == "1":
                out["sf1_full"] = child.get("sf1_full", missing)
            # the CHILD's own contention probe — the sf1 walls' context
            if "calibration_seconds" in child:
                out["sf1_calibration_seconds"] = child["calibration_seconds"]
                out["sf1_calibration_samples"] = child.get(
                    "calibration_samples", []
                )
        except Exception as exc:  # never let the sf1 section kill the bench line
            out["sf1_spot"] = {"error": f"{type(exc).__name__}: {exc}"}
    # storage scale rehearsal: same commit against 40/400/4000-partition
    # tables — flat rows prove O(touched) commits (VERDICT r7 task 7).
    # Opt out with SPARK_GRAFT_STORAGE_SCALE=0.
    if (
        os.environ.get("SPARK_GRAFT_STORAGE_SCALE", "1") == "1"
        and SF_DIR.rstrip("/").endswith("sf0.1")
    ):
        try:
            out["storage_scaling"] = storage_scaling(spark)
        except Exception as exc:
            out["storage_scaling"] = {"error": f"{type(exc).__name__}: {exc}"}
    print(json.dumps(_compact_line(out)))


def _compact_line(out: dict, budget: int = 1900) -> dict:
    """The stdout record, guaranteed to fit the driver's capture window
    (VERDICT r9 task 6): the driver keeps only the LAST 2000 chars of
    stdout and parses that tail as JSON — r9's full record was 2236
    chars and arrived truncated (``parsed: null``). The FULL record
    (per-query medians, every sf1 wall, the storage_scaling rows) is
    written to docs/BENCH_DETAIL.json; the printed line keeps the
    headline per-query dict plus three compact summaries, and drops the
    summaries in declared order if the line would still overflow."""
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "docs", "BENCH_DETAIL.json"
    )
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        detail_path = None

    line = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        # median walls beside the min walls (VERDICT r12 task 6): the
        # sf0.1 single-pass numbers drift ±10% round-over-round on fresh
        # VMs and burned verdict time on noise attribution; the medians
        # make spread visible in the driver line itself
        "queries_median": out.get("queries_median", {}),
        "calibration_seconds": out["calibration_seconds"],
        "sf": out["sf"],
    }
    # the $SPARK_GRAFT_CPUS proof, in the line itself (VERDICT r13 task 2)
    for k in ("cpus", "parallelism", "cal_parallel"):
        if k in out:
            line[k] = out[k]
    # warm-vs-cold cache transparency (VERDICT r13 task 1): the cold
    # total plus the largest per-query warm/cold gap ride the line; the
    # full per-query slot-cold dict is in BENCH_DETAIL.json
    cold = out.get("queries_slot_cold", {})
    if cold:
        gaps = {
            n: round(c - out["queries"].get(n, 0.0), 3) for n, c in cold.items()
        }
        worst = max(gaps, key=gaps.get)
        line["slot_cold"] = {
            "total": round(sum(cold.values()), 3),
            "n_bearing": len(out.get("slot_bearing", [])),
            "worst_gap": [worst, cold[worst], out["queries"].get(worst)],
        }
    if detail_path:
        line["detail"] = os.path.relpath(detail_path, os.getcwd())
    sf1 = out.get("sf1_full", {})
    if isinstance(sf1.get("queries"), dict) and sf1["queries"]:
        ratios = {
            n: round(w / out["queries"][n], 1)
            for n, w in sf1["queries"].items()
            if out["queries"].get(n)
        }
        worst = max(ratios, key=ratios.get) if ratios else None
        line["sf1"] = {
            "total": round(sum(sf1["queries"].values()), 2),
            "n": len(sf1["queries"]),
            "worst": [worst, ratios[worst]] if worst else None,
        }
        med = sf1.get("queries_median")
        if isinstance(med, dict) and med:
            line["sf1"]["median_total"] = round(sum(med.values()), 2)
        if "sf1_calibration_seconds" in out:
            line["sf1"]["cal"] = out["sf1_calibration_seconds"]
    elif "error" in sf1:
        line["sf1"] = {"error": sf1["error"][:120]}
    ss = out.get("storage_scaling", {})
    tables = ss.get("tables", {})
    if tables:
        pkeys = sorted(tables, key=lambda k: int(k.rsplit("_", 1)[-1]))
        lo, hi = tables[pkeys[0]], tables[pkeys[-1]]
        ratios = {
            op: round(hi[op] / max(lo[op], 0.001), 1) for op in hi if op in lo
        }
        top3 = sorted(ratios.items(), key=lambda kv: -kv[1])[:3]
        line["storage"] = {
            "span": [pkeys[0], pkeys[-1]],
            "worst_ratios": dict(top3),
        }
    elif "error" in ss:
        line["storage"] = {"error": ss["error"][:120]}
    for drop in ("queries_median", "storage", "sf1", "detail", "slot_cold"):
        if len(json.dumps(line)) <= budget:
            break
        line.pop(drop, None)
    return line


if __name__ == "__main__":
    if "--sf1-child" in sys.argv[1:]:
        _sf1_child_main()
    else:
        main()
