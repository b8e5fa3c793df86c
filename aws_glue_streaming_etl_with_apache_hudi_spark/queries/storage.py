"""Storage-layout queries: the MOR read-side merge algebra, the Z-order
(Morton) encoding kernel, and the distributed bloom-filter build/probe,
all DuckDB-oracle-checked. The IO behavior (append-only commits,
scheduled compaction, clustered file spans) is covered behaviorally in
tests/test_mor.py and tests/test_clustering.py; these queries pin the
MATH."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64, stable_hash64_sql
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.clustering import interleave_bits
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import mor_merge_view
from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import register, t

_EVENT_COLS = ["user_id", "ts", "event_id", "event_type", "value"]


@register(
    "mor_merge_chain",
    sql="""
    SELECT user_id, event_id, event_type, round(value, 2) AS value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) x
    WHERE rn = 1 ORDER BY user_id
    """,
)
def mor_merge_chain(spark, sf_dir):
    """MOR read-side merge across a base + two pending delta commits must
    equal the single-pass latest state — the transitivity law that makes
    compaction timing unobservable to readers (operators/mor.py; Hudi
    MERGE_ON_READ vs the reference's pinned COW, glue_job_script.py:53).
    Batches are event-time thirds of the stream, like a replayed ingest."""
    e = t(spark, sf_dir, "events").select(*_EVENT_COLS)
    cut1 = F.lit("2024-01-10 00:00:00").cast("timestamp")
    cut2 = F.lit("2024-01-20 00:00:00").cast("timestamp")
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import precombine_latest

    base = precombine_latest(e.filter(F.col("ts") < cut1), ["user_id"], "ts")
    d1 = e.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2))
    d2 = e.filter(F.col("ts") >= cut2)
    merged = mor_merge_view(base, [d1, d2], ["user_id"], "ts")
    return merged.select(
        "user_id", "event_id", "event_type", F.round("value", 2).alias("value")
    ).orderBy("user_id")


_BF_M = 1 << 14  # bloom bits
_BF_K = 3  # hash functions


def _bf_pos_sql(expr: str, i: int) -> str:
    return f"({stable_hash64_sql(f'CAST({expr} AS VARCHAR)', f'bf{i}')} % {_BF_M})"


@register(
    "bloom_filter_join_prune",
    sql=f"""
    WITH bits AS (
      SELECT DISTINCT pos FROM orders,
        (SELECT unnest([{", ".join(_bf_pos_sql("o_custkey", i) for i in range(_BF_K))}]) AS pos_) x(pos_)
      , LATERAL (SELECT pos_ AS pos) p
    ),
    probe AS (
      SELECT c_custkey, unnest([{", ".join(_bf_pos_sql("c_custkey", i) for i in range(_BF_K))}]) AS pos
      FROM customer
    ),
    flagged AS (
      SELECT c_custkey FROM probe JOIN bits USING (pos)
      GROUP BY c_custkey HAVING count(*) = {_BF_K}
    ),
    members AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
    SELECT (SELECT count(*) FROM customer)                    AS n_probed,
           (SELECT count(*) FROM flagged)                     AS n_flagged,
           (SELECT count(*) FROM members)                     AS n_members,
           (SELECT count(*) FROM flagged f LEFT JOIN members m
              USING (c_custkey) WHERE m.c_custkey IS NULL)    AS n_false_pos
    """,
)
def bloom_filter_join_prune(spark, sf_dir):
    """Distributed bloom filter as relational algebra: build an m-bit
    filter over orders' customer keys (k salted portable hashes ->
    distinct bit positions), probe every customer, and count flagged vs
    true members vs false positives. This is the build-side pruning
    sketch a 100 TB join uses to skip probe rows before the shuffle
    (Spark's own runtime row-group bloom pushdown, made explicit): the
    "filter" that crosses the wire is the distinct-positions table —
    KB, not the key set. All bit math is the md5 hash family, so DuckDB
    replays membership bit-for-bit — including the false-positive count,
    which is a deterministic function of the data."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")

    def positions(col):
        s = F.col(col).cast("string")
        return F.array(
            *[stable_hash64(s, f"bf{i}") % _BF_M for i in range(_BF_K)]
        )

    bits = (
        orders.select(F.explode(positions("o_custkey")).alias("pos")).distinct()
    )
    probe = cust.select(
        "c_custkey", F.explode(positions("c_custkey")).alias("pos")
    )
    flagged = (
        probe.join(F.broadcast(bits), on="pos")
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == _BF_K)
        .select("c_custkey")
    )
    members = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    false_pos = flagged.join(members, on="c_custkey", how="left_anti")
    return (
        cust.agg(F.count(F.lit(1)).alias("n_probed"))
        .crossJoin(flagged.agg(F.count(F.lit(1)).alias("n_flagged")))
        .crossJoin(members.agg(F.count(F.lit(1)).alias("n_members")))
        .crossJoin(false_pos.agg(F.count(F.lit(1)).alias("n_false_pos")))
    )



def _morton_sql(bits: int) -> str:
    """DuckDB expression: interleave `bx`/`by` (bit i of column c lands at
    position i*2+c) — mirrors clustering.interleave_bits exactly."""
    terms = []
    for i in range(bits):
        terms.append(f"(((bx >> {i}) & 1) << {2 * i})")
        terms.append(f"(((by >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@register(
    "zorder_morton_keys",
    sql=f"""
    SELECT o_orderkey, zval FROM (
      SELECT o_orderkey, {_morton_sql(8)} AS zval
      FROM (SELECT o_orderkey, o_custkey % 256 AS bx, o_orderkey % 256 AS by
            FROM orders)
    ) ORDER BY zval, o_orderkey LIMIT 500
    """,
)
def zorder_morton_keys(spark, sf_dir):
    """Morton/Z-order encoding kernel over fixed 8-bit bucket ids — the
    exact integer math `cluster_write` sorts by (operators/clustering.py),
    checked bit-for-bit against DuckDB's bitwise ops. Pure codegen'd
    shift/or expression tree; no UDF."""
    o = t(spark, sf_dir, "orders")
    z = interleave_bits(
        [F.col("o_custkey") % 256, F.col("o_orderkey") % 256], bits=8
    )
    return (
        o.select("o_orderkey", z.alias("zval"))
        .orderBy("zval", "o_orderkey")
        .limit(500)
    )


def _checksum_diff_sql() -> str:
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.reconcile import row_fingerprint_sql

    h = row_fingerprint_sql(["doc_id", "text"])
    return f"""
    WITH l AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_left,
             CAST(bit_xor({h}) AS BIGINT) AS xl
      FROM documents GROUP BY lang
    ),
    r AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_right,
             CAST(bit_xor({h}) AS BIGINT) AS xr
      FROM documents WHERE doc_id % 97 <> 0 GROUP BY lang
    )
    SELECT coalesce(l.lang, r.lang) AS lang,
           coalesce(n_left, 0) AS n_left,
           coalesce(n_right, 0) AS n_right,
           coalesce(n_left, 0) = coalesce(n_right, 0) AS rows_match,
           coalesce(n_left, 0) = coalesce(n_right, 0)
             AND coalesce(xl, 0) = coalesce(xr, 0) AS hash_match
    FROM l FULL OUTER JOIN r ON l.lang = r.lang
    ORDER BY lang
    """


@register("table_checksum_diff", sql=_checksum_diff_sql())
def table_checksum_diff(spark, sf_dir):
    """Cross-table reconciliation (operators/reconcile.py table_diff):
    the documents table vs a replica missing every 97th row, compared
    per language via order-independent (count, XOR-of-row-hash)
    summaries — the validation pass a migration/bootstrap/replication
    runs to prove two lakes agree WITHOUT moving either. Languages whose
    row sets are identical report hash_match=true; the ones that lost
    rows report exactly which verdicts flipped. The md5-derived row
    hash means a DuckDB-resident copy can audit a Spark-resident one —
    which is literally what the oracle does.

    Scale: each side is ONE map-side-combinable aggregation whose
    shuffle carries a (count, 60-bit xor) pair per (language, input
    partition); two 100 TB tables compare by exchanging kilobytes."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.reconcile import table_diff

    docs = t(spark, sf_dir, "documents")
    replica = docs.filter(F.col("doc_id") % 97 != 0)
    return table_diff(
        docs, replica, group_cols=["lang"], hash_cols=["doc_id", "text"]
    ).orderBy("lang")


@register(
    "mv_incremental_refresh",
    sql="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def mv_incremental_refresh(spark, sf_dir):
    """Incremental materialized-view maintenance (operators/reconcile.py):
    a per-event-type (count, exact-decimal sum) rollup is built from the
    stream's first half, then REFRESHED with the second half's
    pre-aggregated delta — partial-aggregate merge, never a source
    rescan. The oracle computes the rollup directly over the full
    stream: incremental maintenance must be observationally identical
    to recomputation (state ⊕ agg(delta) == agg(all)).

    Scale: each refresh aggregates only the new batch and touches only
    the changed groups of the view — the property that replaces nightly
    full rebuilds of 100 TB rollups. Decimal sums make the merge exact:
    adding two decimal partials is associative, so incremental and
    direct results are bit-identical (doubles would drift by summation
    order — the reason the MV stores decimals and casts at read)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.reconcile import (
        aggregate_delta,
        incremental_mv_refresh,
    )

    e = t(spark, sf_dir, "events")
    midpoint = F.lit("2024-01-15 00:00:00").cast("timestamp")
    dec = F.col("value").cast("decimal(18,2)")
    mv = aggregate_delta(
        e.filter(F.col("ts") < midpoint),
        ["event_type"],
        sum_exprs={"total_value": dec},
    )
    delta = aggregate_delta(
        e.filter(F.col("ts") >= midpoint),
        ["event_type"],
        sum_exprs={"total_value": dec},
    )
    refreshed = incremental_mv_refresh(
        mv, delta, ["event_type"], sum_cols={"total_value": "total_value"}
    )
    return refreshed.select(
        "event_type",
        "n_rows",
        F.col("total_value").cast("double").alias("total_value"),
    ).orderBy("event_type")


@register(
    "retention_sweep_state",
    sql="""
    SELECT event_type, user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 2) AS value
    FROM (
      SELECT event_type, user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY event_type, user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x
    WHERE rn = 1 AND ts >= TIMESTAMP '2024-01-15 00:00:00'
    ORDER BY event_type, user_id
    """,
)
def retention_sweep_state(spark, sf_dir):
    """TTL retention on the REAL on-disk table (operators/upsert.py
    apply_retention): the event stream upserts into an event_type-
    partitioned table (one live row per key per partition), then the
    sweep deletes every live row older than the cutoff — partitions
    whose rows are all expired drop wholesale, the rest rewrite
    row-level. The surviving state must equal latest-state-per-key
    restricted to ts >= cutoff, which the oracle computes directly.

    Scale: the sweep's touched set comes from one slim distinct over
    matching rows; at 100 TB with time-derived partition paths the
    expired partitions are pure metadata drops."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    path = tempfile.mkdtemp(prefix="retention_tbl_")
    tbl = UpsertTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"],
    )
    tbl.upsert(e)
    tbl.apply_retention("ts", F.lit("2024-01-15 00:00:00").cast("timestamp"))
    return tbl.read().select(
        "event_type",
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.round("value", 2).alias("value"),
    ).orderBy("event_type", "user_id")


@register(
    "secondary_index_lookup",
    sql="""
    SELECT doc_id, source, lang, n_chars
    FROM (
      SELECT doc_id, source, lang, n_chars,
             row_number() OVER (PARTITION BY source, doc_id
                                ORDER BY n_chars DESC, doc_id DESC) AS rn
      FROM documents) x
    WHERE rn = 1 AND lang = 'zh'
    ORDER BY doc_id
    """,
)
def secondary_index_lookup(spark, sf_dir):
    """Point lookup on a NON-key column through the secondary index
    (operators/upsert.py, Hudi 1.0 parity): documents upsert into a
    source-partitioned table with `lang` secondary-indexed; read_for on
    lang equality reads ONLY the partitions whose index entries contain
    the value — at 100 TB with thousands of source partitions, a lang
    lookup touches the handful that actually hold that language,
    without lang being a partition key. The oracle is latest-per-key
    state restricted to the looked-up value."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="sidx_tbl_")
    tbl = UpsertTable(
        spark, path, keys=["doc_id"], precombine="n_chars",
        partition_by=["source"], secondary_index_columns=["lang"],
    )
    tbl.upsert(docs)
    return (
        tbl.read_for({"lang": "zh"})
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "functional_index_prune",
    sql="""
    WITH e AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             extract(hour FROM ts) AS hr, value
      FROM events)
    SELECT leg, day, n_events, sum_value FROM (
      SELECT 'hour_eq_2' AS leg, day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e WHERE hr = 2 GROUP BY day
      UNION ALL
      SELECT 'hour_21_23' AS leg, day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e WHERE hr BETWEEN 21 AND 23 GROUP BY day)
    ORDER BY leg, day
    """,
)
def functional_index_prune(spark, sf_dir):
    """Predicates on an EXPRESSION served through the functional index
    (operators/upsert.py read_for_expr — Hudi 1.0 `CREATE INDEX ...
    USING column_stats/bloom_filters(expr)` parity): events upsert into
    a day-partitioned table with `hour(ts)` expression-indexed; an
    equality probe (hour = 2) and a range probe (hour BETWEEN 21 AND 23)
    each read ONLY the day partitions whose index entries say the hour
    can occur there — no materialized hour column, no partition
    redesign. The residual filter on the survivors makes the superset
    exact, so both legs must equal the direct SQL over the raw stream.

    Scale: the index sidecar is O(partitions x min(cardinality, cap))
    — at 100 TB with years of day partitions, an hour-of-day lookup
    prunes by metadata before any data file is listed; maintenance
    rides each commit's dynamic partition overwrite and touches only
    the committed partitions' entries (tests/test_functional_index.py
    pins pruning via inputFiles, cap collapse, and commit-follows)."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import dsum
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    e = (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    )
    path = tempfile.mkdtemp(prefix="fidx_tbl_")
    tbl = UpsertTable(
        spark, path, keys=["event_id"], precombine="ts",
        partition_by=["day"], functional_indexes={"hour": "hour(ts)"},
    )
    tbl.upsert(e)

    def leg(df, name):
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("sum_value"),
        ).withColumn("leg", F.lit(name))

    eq = leg(tbl.read_for_expr("hour", value=2), "hour_eq_2")
    rng = leg(tbl.read_for_expr("hour", between=(21, 23)), "hour_21_23")
    return (
        eq.unionByName(rng)
        .select("leg", "day", "n_events", "sum_value")
        .orderBy("leg", "day")
    )


@register(
    "functional_index_autoprune",
    sql="""
    WITH e AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             extract(hour FROM ts) AS hr, value
      FROM events)
    SELECT leg, day, n_events, sum_value FROM (
      SELECT 'eq_and_residual' AS leg, day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e WHERE hr = 5 AND value >= 10 GROUP BY day
      UNION ALL
      SELECT 'between_9_11' AS leg, day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e WHERE hr BETWEEN 9 AND 11 GROUP BY day)
    ORDER BY leg, day
    """,
)
def functional_index_autoprune(spark, sf_dir):
    """DECLARATIVE functional-index pruning (VERDICT r11 task 3 —
    Hudi 1.0's expression-index optimizer rule, where a plain
    `WHERE hour(ts) = 5` auto-prunes through a registered
    `column_stats(hour(ts))` index with no index-aware API call):
    the caller writes ordinary predicate strings against
    `tbl.read(where=...)`; the storage layer walks the conjuncts of
    the predicate's analyzed plan, matches their sides against the
    index expression (`semanticEquals`), prunes to candidate day
    partitions, and re-applies the full predicate as the exactness
    residual. Two legs: an equality probe COMPOUNDED with a non-indexed
    residual conjunct (`value >= 10` — proving unmatched conjuncts only
    reduce pruning, never correctness), and a `BETWEEN` range (whose own
    AND is no conjunct boundary). Both must equal direct SQL over
    the raw stream. File-level pruning is inputFiles-asserted in
    tests/test_functional_index.py (the IVF pattern).

    Scale: identical to functional_index_prune's — candidate selection
    reads the O(partitions x cap) sidecar, never a data file; the win
    here is the API: a BI tool emitting plain SQL predicates gets the
    prune for free, which is what makes expression indexes usable by
    tools that don't know they exist."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import dsum
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    e = (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    )
    path = tempfile.mkdtemp(prefix="fidx_auto_")
    tbl = UpsertTable(
        spark, path, keys=["event_id"], precombine="ts",
        partition_by=["day"], functional_indexes={"hour": "hour(ts)"},
    )
    tbl.upsert(e)

    def leg(df, name):
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("sum_value"),
        ).withColumn("leg", F.lit(name))

    eq = leg(tbl.read(where="hour(ts) = 5 AND value >= 10"), "eq_and_residual")
    rng = leg(tbl.read(where="hour(ts) BETWEEN 9 AND 11"), "between_9_11")
    return (
        eq.unionByName(rng)
        .select("leg", "day", "n_events", "sum_value")
        .orderBy("leg", "day")
    )


@register(
    "nbcc_multiwriter_state",
    sql="""
    SELECT event_type, user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 2) AS value
    FROM (
      SELECT event_type, user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY event_type, user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x
    WHERE rn = 1
    ORDER BY event_type, user_id
    """,
)
def nbcc_multiwriter_state(spark, sf_dir):
    """Two uncoordinated writers upsert OVERLAPPING keys into one MOR
    table and neither aborts — Hudi 1.0's non-blocking concurrency
    control (operators/mor.py nbcc_upsert/nbcc_begin/nbcc_publish), vs
    the OCC path where the loser gets CommitConflict and retries
    (operators/timeline.py; the reference's single-writer COW,
    glue_job_script.py:50-62, never faces this). The stream splits into
    time quarters: writer A ingests Q1/Q3, writer B ingests Q2/Q4, and
    the middle two commits are deliberately published OUT OF CLAIM
    ORDER (A claims first, B publishes first) — the read-side
    precombine (event time, then commit seq) must still produce exactly
    latest-state-per-key, which the oracle computes directly from the
    raw stream. Same-key writes landing in different writers' deltas is
    the exact scenario OCC would serialize; NBCC's delta log absorbs
    both and resolves at merge.

    Scale: each writer's commit is an O(batch) parquet append — no
    shared-file rewrite, so writer parallelism is free; the claim and
    the publish metadata merge are O(1) filesystem ops. Race mechanics
    (thread pools, crashed claims, compaction horizons) are pinned in
    tests/test_nbcc.py."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import CompactionPolicy, MergeOnReadTable

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    cuts = ["2024-01-08", "2024-01-16", "2024-01-24"]
    c = [F.lit(s).cast("timestamp") for s in cuts]
    q1 = e.filter(F.col("ts") < c[0])
    q2 = e.filter((F.col("ts") >= c[0]) & (F.col("ts") < c[1]))
    q3 = e.filter((F.col("ts") >= c[1]) & (F.col("ts") < c[2]))
    q4 = e.filter(F.col("ts") >= c[2])
    path = tempfile.mkdtemp(prefix="nbcc_tbl_")
    tbl = MergeOnReadTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"],
        policy=CompactionPolicy(max_delta_commits=10_000),
    )
    tbl.nbcc_upsert(q1, writer="A")            # bootstrap commit
    s_a = tbl.nbcc_begin(writer="A")           # A claims the lower slot...
    s_b = tbl.nbcc_begin(writer="B")
    tbl.nbcc_publish(s_b, q2, writer="B")      # ...but B publishes first
    tbl.nbcc_publish(s_a, q3, writer="A")
    tbl.nbcc_upsert(q4, writer="B")
    return tbl.read().select(
        "event_type",
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.round("value", 2).alias("value"),
    ).orderBy("event_type", "user_id")


@register(
    "insert_overwrite_state",
    sql="""
    WITH full_latest AS (
      SELECT event_type, user_id, event_id, ts, value FROM (
        SELECT event_type, user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) x
      WHERE rn = 1
    ),
    click_restated AS (
      SELECT event_type, user_id, event_id, ts, round(value * 2, 2) AS value
      FROM (
        SELECT event_type, user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type = 'click'
          AND ts < TIMESTAMP '2024-01-15 00:00:00') x
      WHERE rn = 1
    )
    SELECT event_type, user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 2) AS value
    FROM (SELECT * FROM full_latest WHERE event_type <> 'click'
          UNION ALL SELECT * FROM click_restated)
    ORDER BY event_type, user_id
    """,
)
def insert_overwrite_state(spark, sf_dir):
    """Partition restatement on the REAL on-disk timeline table
    (operators/timeline.py insert_overwrite — Hudi's insert_overwrite /
    replacecommit): the full stream upserts into an event_type-
    partitioned table, then the 'click' partition is REPLACED wholesale
    by a restated batch (first-half clicks, values corrected 2x) — the
    backfill write path, where upstream recomputes a partition and swaps
    it in without per-key deletes. Final state must equal: untouched
    partitions keep latest-per-key of the full stream; the replaced
    partition holds exactly the restated batch (stored click rows
    discarded, NOT merged — the half-stream restatement would lose a
    precombine fight it must not have to win). The oracle computes both
    legs directly.

    Scale: the replacecommit's IO is O(batch + one partition); no
    read-merge of stored state."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import TimelineTable

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    path = tempfile.mkdtemp(prefix="replace_tbl_")
    tbl = TimelineTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"],
    )
    tbl.upsert(e)
    restated = (
        e.filter(
            (F.col("event_type") == "click")
            & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        )
        .withColumn("value", F.round(F.col("value") * 2, 2))
    )
    tbl.insert_overwrite(restated)
    return tbl.read().select(
        "event_type",
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.round("value", 2).alias("value"),
    ).orderBy("event_type", "user_id")


@register(
    "delete_partition_state",
    sql="""
    WITH full_latest AS (
      SELECT event_type, user_id, event_id, ts, value FROM (
        SELECT event_type, user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) x
      WHERE rn = 1
    ),
    click_reinserted AS (
      SELECT event_type, user_id, event_id, ts, value
      FROM (
        SELECT event_type, user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type = 'click'
          AND ts >= TIMESTAMP '2024-01-15 00:00:00') x
      WHERE rn = 1
    )
    SELECT event_type, user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 2) AS value
    FROM (SELECT * FROM full_latest WHERE event_type <> 'click'
          UNION ALL SELECT * FROM click_reinserted)
    ORDER BY event_type, user_id
    """,
)
def delete_partition_state(spark, sf_dir):
    """Whole-partition erasure on the REAL on-disk timeline table
    (operators/timeline.py delete_partition — Hudi's delete_partition
    operation, a replacecommit with zero rows): the full stream upserts
    into an event_type-partitioned table, the 'click' partition is
    DROPPED (one metadata write — no read, no tombstones, no rewrite of
    the partition's rows), then a second-half-clicks batch re-inserts
    into the now-empty partition. Final state: untouched partitions keep
    latest-per-key of the full stream; the click partition holds exactly
    latest-per-key of the re-inserted batch — pre-delete click rows must
    NOT resurface through the merge (the re-inserted rows would lose a
    precombine fight against dropped later-ts rows if deletion leaked).

    Scale: retention/GDPR sweeps drop partitions in O(metadata) per
    partition regardless of row count; the follow-up upsert merges
    against the empty owner, not the dropped data."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import TimelineTable

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    path = tempfile.mkdtemp(prefix="delpart_tbl_")
    tbl = TimelineTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"],
    )
    tbl.upsert(e)
    tbl.delete_partition([{"event_type": "click"}])
    reinserted = e.filter(
        (F.col("event_type") == "click")
        & (F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp"))
    )
    tbl.upsert(reinserted)
    return tbl.read().select(
        "event_type",
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.round("value", 2).alias("value"),
    ).orderBy("event_type", "user_id")


@register(
    "mv_join_incremental",
    sql="""
    SELECT o.o_orderkey, o.o_custkey,
           round(o.o_totalprice, 2) AS total,
           CASE WHEN c.c_custkey % 10 = 0 THEN 'VIP'
                ELSE c.c_mktsegment END AS seg
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_orderkey
    """,
)
def mv_join_incremental(spark, sf_dir):
    """Incrementally maintained JOIN view on REAL on-disk timeline
    tables (operators/mvjoin.py): orders ⋈ customer is materialized,
    then two refresh cycles fold in (1) the second half of the fact and
    (2) a dim restatement (every 10th customer goes 'VIP' with a higher
    precombine) — each refresh joins ONLY the deltas (fact delta ⋈ dim;
    affected-fk fact slice ⋈ dim delta), never re-running the full
    join. The final view must equal the from-scratch join of the latest
    snapshots, which the oracle computes directly.

    Scale: refresh cost is O(changes) — the delta-join decomposition
    that replaces nightly full rebuilds of 100 TB join views; the
    affected-fact slice is narrowed by a broadcast semi-join on the dim
    delta's keys, no driver-side key collection."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mvjoin import JoinMV
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import TimelineTable

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    base = tempfile.mkdtemp(prefix="mvjoin_")
    fact = TimelineTable(
        spark, f"{base}/fact", keys=["o_orderkey"], precombine="o_totalprice"
    )
    dim = TimelineTable(
        spark, f"{base}/dim", keys=["c_custkey"], precombine="c_acctbal"
    )
    mv = JoinMV(
        spark, f"{base}/mv", fact, dim,
        fk="o_custkey", dk="c_custkey", dim_cols=["c_mktsegment"],
    )
    fact.upsert(o.filter(F.col("o_orderkey") % 2 == 0))
    dim.upsert(c)
    mv.refresh()
    fact.upsert(o.filter(F.col("o_orderkey") % 2 == 1))
    dim.upsert(
        c.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey",
            F.lit("VIP").alias("c_mktsegment"),
            (F.col("c_acctbal") + 1000).alias("c_acctbal"),
        )
    )
    mv.refresh()
    return mv.read().select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total"),
        F.col("c_mktsegment").alias("seg"),
    ).orderBy("o_orderkey")


@register(
    "rename_evolution_state",
    sql="""
    SELECT event_type, user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           round(value, 2) AS value_usd
    FROM (
      SELECT event_type, user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY event_type, user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x
    WHERE rn = 1 ORDER BY event_type, user_id
    """,
)
def rename_evolution_state(spark, sf_dir):
    """Column-mapping rename on the REAL on-disk timeline table
    (operators/timeline.py rename_column — Iceberg-style mapping, the
    evolution class BEYOND the reference's additive-only union at
    glue_job_script.py:82-94): the first half of the stream lands under
    column 'value', the column is renamed to 'value_usd' WITHOUT
    touching a data file, and the second half lands under the new name.
    The final snapshot must merge both generations under 'value_usd' —
    pre-rename files read through the mapping — equal to latest-per-key
    over the whole stream, which the oracle computes with the rename
    applied directly.

    Scale: the rename is one metadata instant; the alternative at
    100 TB is a full-table rewrite."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import TimelineTable

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    mid = F.lit("2024-01-15 00:00:00").cast("timestamp")
    path = tempfile.mkdtemp(prefix="rename_tbl_")
    tbl = TimelineTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"],
    )
    tbl.upsert(e.filter(F.col("ts") < mid))
    tbl.rename_column("value", "value_usd")
    tbl.upsert(
        e.filter(F.col("ts") >= mid).withColumnRenamed("value", "value_usd")
    )
    return tbl.read().select(
        "event_type",
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.round("value_usd", 2).alias("value_usd"),
    ).orderBy("event_type", "user_id")


@register(
    "bloom_upsert_fastpath_state",
    sql="""
    SELECT event_type, user_id, event_id, round(value, 2) AS value
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) x
    WHERE rn = 1 ORDER BY event_type, user_id
    """,
)
def bloom_upsert_fastpath_state(spark, sf_dir):
    """Upsert through the partition key blooms (operators/upsert.py
    bloom_index — the Hudi BLOOM-index analogue): batch 1 ingests the
    even user ids, batch 2 the odds — every batch-2 key is provably
    absent, so each touched partition takes the INSERT fast path (a new
    file appended, no read-merge, no rewrite; false positives merely
    route a partition to the ordinary merge path, so the STATE is
    path-independent, which is exactly what the oracle checks). The
    fast-path trigger itself (append-not-rewrite file behavior, replay
    safety through the sidecar-first crash window) is pinned in
    tests/test_bloom_index.py.

    Scale: this is the dominant micro-batch shape for append-mostly
    streams — the probe is one Arrow pass per touched partition over
    the batch slice, and the win is skipping the partition read+rewrite
    entirely (O(batch) instead of O(partition bytes))."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    path = tempfile.mkdtemp(prefix="bloom_tbl_")
    tbl = UpsertTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"], bloom_index=True,
    )
    tbl.upsert(e.filter(F.col("user_id") % 2 == 0))
    tbl.upsert(e.filter(F.col("user_id") % 2 == 1))
    return tbl.read().select(
        "event_type", "user_id", "event_id", F.round("value", 2).alias("value")
    ).orderBy("event_type", "user_id")


@register(
    "merge_into_state",
    sql="""
    WITH base AS (
      SELECT event_type, user_id, event_id, ts, round(value, 2) AS value
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00') x
      WHERE rn = 1
    ),
    src AS (
      SELECT event_type, user_id, event_id, ts, round(value, 2) AS value
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') x
      WHERE rn = 1
    ),
    merged AS (
      SELECT
        coalesce(t.event_type, s.event_type) AS event_type,
        coalesce(t.user_id, s.user_id) AS user_id,
        CASE
          WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
               AND s.value >= t.value THEN s.event_id
          WHEN t.user_id IS NULL THEN s.event_id
          ELSE t.event_id END AS event_id,
        CASE
          WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
               AND s.value >= t.value THEN s.value
          WHEN t.user_id IS NULL THEN s.value
          ELSE t.value END AS value,
        (t.user_id IS NOT NULL AND s.user_id IS NOT NULL
         AND s.event_type = 'refund') AS _deleted,
        (t.user_id IS NULL AND NOT s.value >= 50.0) AS _skip_insert
      FROM base t FULL OUTER JOIN src s
        ON t.event_type = s.event_type AND t.user_id = s.user_id
    )
    SELECT event_type, user_id, event_id, value
    FROM merged WHERE NOT _deleted AND NOT _skip_insert
    ORDER BY event_type, user_id
    """,
)
def merge_into_state(spark, sf_dir):
    """ANSI MERGE INTO over the upsert table (UpsertTable.merge_into —
    Hudi's ``MERGE INTO hudi_table USING source``): base = first
    event-time half's latest state; source = second half's latest rows;
    clauses exercise every branch — WHEN MATCHED AND s.event_type =
    'refund' THEN DELETE, WHEN MATCHED AND s.value >= t.value THEN
    UPDATE SET (the conditional update a bare upsert cannot express),
    WHEN NOT MATCHED AND s.value >= 50 THEN INSERT. The oracle replays
    the identical clause algebra over a FULL OUTER join. The table is
    REAL (on-disk commits, dynamic partition overwrite) — the driver
    verifies the post-merge read."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import (
        UpsertTable,
        precombine_latest,
    )

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", F.round("value", 2).alias("value")
    )
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    path = tempfile.mkdtemp(prefix="merge_tbl_")
    tbl = UpsertTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"],
    )
    tbl.upsert(e.filter(F.col("ts") < cut))
    src = precombine_latest(
        e.filter(F.col("ts") >= cut),
        ["event_type", "user_id"], "ts", tie_breakers=["event_id"],
    )
    tbl.merge_into(
        src,
        matched_update={"event_id": "s.event_id", "ts": "s.ts", "value": "s.value"},
        matched_update_condition="s.value >= t.value",
        matched_delete_condition="s.event_type = 'refund'",
        not_matched_condition="s.value >= 50.0",
    )
    return tbl.read().select(
        "event_type", "user_id", "event_id", "value"
    ).orderBy("event_type", "user_id")


_KMV_K = 8  # fixture-sized; production sketches run k=4096 (same algebra)


def _kmv_h_sql(expr: str) -> str:
    return stable_hash64_sql(f"CAST({expr} AS VARCHAR)", "kmv")


@register(
    "audience_overlap_kmv",
    sql=f"""
    WITH ua AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
    ub AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    ka AS (
      SELECT h FROM (
        SELECT {_kmv_h_sql('user_id')} AS h,
               row_number() OVER (ORDER BY {_kmv_h_sql('user_id')}) AS rn
        FROM ua) x WHERE rn <= {_KMV_K}
    ),
    kb AS (
      SELECT h FROM (
        SELECT {_kmv_h_sql('user_id')} AS h,
               row_number() OVER (ORDER BY {_kmv_h_sql('user_id')}) AS rn
        FROM ub) x WHERE rn <= {_KMV_K}
    ),
    uni AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb))
      ) x WHERE rn <= {_KMV_K}
    ),
    th AS (SELECT max(h) AS theta FROM uni),
    ovl AS (
      SELECT CAST(count(*) AS BIGINT) AS c
      FROM ka JOIN kb USING (h) CROSS JOIN th WHERE h < theta
    )
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM ua) AS exact_a,
           (SELECT CAST(count(*) AS BIGINT) FROM ub) AS exact_b,
           (SELECT CAST(count(*) AS BIGINT) FROM
              (SELECT user_id FROM ua UNION SELECT user_id FROM ub)) AS exact_union,
           round(({_KMV_K} - 1) * pow(2.0, 60) / theta, 2) AS est_union,
           (SELECT CAST(count(*) AS BIGINT) FROM ua JOIN ub USING (user_id))
             AS exact_overlap,
           round((ovl.c * 1.0 / {_KMV_K})
                 * (({_KMV_K} - 1) * pow(2.0, 60) / theta), 2) AS est_overlap
    FROM th CROSS JOIN ovl
    """,
)
def audience_overlap_kmv(spark, sf_dir):
    """Audience-overlap estimation with KMV (k-minimum-values) sketches:
    the distinct-user sets of two event types are each summarized by
    their k smallest md5 hash values; union cardinality is the classic
    (k-1)/theta estimator over the merged sketch and the intersection is
    the Jaccard-scaled union — the theta-sketch set algebra (audience
    overlap, campaign reach) at sketch size k instead of a
    COUNT(DISTINCT) join. Exact counts ride along so the estimate's
    error is visible in the output (k=8 here, fixture-sized; production
    runs k=4096 with the identical algebra — the estimator's variance is
    ~1/sqrt(k), not data-sized).

    Scale shape: per side, one distinct + a TakeOrdered(k) — the only
    thing that crosses the wire is k hashes per sketch; merging sketches
    is set algebra on 2k rows. The md5 hash family makes every value —
    including the estimates — engine-deterministic, so even the sketch
    ERROR is oracle-checked."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot

    k = _KMV_K
    e = t(spark, sf_dir, "events")
    h = stable_hash64(F.col("user_id").cast("string"), "kmv")

    # ONE per-user flag aggregation feeds both sketches and every exact
    # count (r13: the former per-branch distinct pipelines re-scanned
    # events 12x in one plan — 5 independent DISTINCTs over the same
    # fact table; guide §2.4). `_a`/`_b` mark view/purchase membership;
    # exact_a = Σ_a, exact_b = Σ_b, exact_union = rows, exact_overlap =
    # Σ_a·_b — identical integers to the old distinct-set algebra.
    flags = _persist_slot(
        e.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("_a"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("_b"),
        ),
        "storage.kmv_flags",
    )

    def sketch(flag):
        return (
            flags.filter(F.col(flag) == 1)
            .select(h.alias("h"))
            .orderBy("h").limit(k)
        )

    ka, kb = sketch("_a"), sketch("_b")
    uni = ka.unionByName(kb).distinct().orderBy("h").limit(k)
    th = uni.agg(F.max("h").alias("theta"))
    ovl = (
        ka.join(kb, "h")
        .crossJoin(F.broadcast(th))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    exacts = flags.agg(
        F.sum("_a").cast("long").alias("exact_a"),
        F.sum("_b").cast("long").alias("exact_b"),
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(F.col("_a") * F.col("_b")).cast("long").alias("exact_overlap"),
    )
    est_union = (k - 1) * F.pow(F.lit(2.0), 60) / F.col("theta")
    return (
        th.crossJoin(ovl)
        .crossJoin(exacts)
        .select(
            F.lit(k).cast("long").alias("k"),
            "exact_a",
            "exact_b",
            "exact_union",
            F.round(est_union, 2).alias("est_union"),
            "exact_overlap",
            F.round((F.col("c") * 1.0 / k) * est_union, 2).alias("est_overlap"),
        )
    )


@register(
    "merge_sync_by_source_state",
    sql="""
    WITH base AS (
      SELECT event_type, user_id, event_id, round(value, 2) AS value
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00') x
      WHERE rn = 1
    ),
    src AS (
      SELECT event_type, user_id, event_id, round(value, 2) AS value
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') x
      WHERE rn = 1
    ),
    merged AS (
      SELECT
        coalesce(t.event_type, s.event_type) AS event_type,
        coalesce(t.user_id, s.user_id) AS user_id,
        CASE WHEN s.user_id IS NOT NULL THEN s.event_id
             ELSE t.event_id END AS event_id,
        CASE WHEN s.user_id IS NOT NULL THEN s.value
             ELSE t.value - 10.0 END AS value,
        (s.user_id IS NULL AND t.value < 20.0) AS _deleted
      FROM base t FULL OUTER JOIN src s
        ON t.event_type = s.event_type AND t.user_id = s.user_id
    )
    SELECT event_type, user_id, event_id, value
    FROM merged WHERE NOT _deleted
    ORDER BY event_type, user_id
    """,
)
def merge_sync_by_source_state(spark, sf_dir):
    """MERGE with the SQL:2023 ``WHEN NOT MATCHED BY SOURCE`` clause
    family (the Delta/Hudi sync-table shape): matched keys take the
    source row (UPDATE SET *), unmatched source keys insert, and keys
    the source NO LONGER carries are retired — deleted when their
    stored value is already low (t.value < 20), otherwise decayed by a
    flat 10 (conditions/assignments reference t only; the source side
    is null there by definition). The oracle replays the clause algebra
    over a FULL OUTER join; the driver verifies the post-merge read of
    the real on-disk table. By-source merges are inherently full-table
    (every stored row is consulted) — the documented exception to the
    touched-partition read."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import (
        UpsertTable,
        precombine_latest,
    )

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", F.round("value", 2).alias("value")
    )
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    path = tempfile.mkdtemp(prefix="merge_bysrc_tbl_")
    tbl = UpsertTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"],
    )
    tbl.upsert(e.filter(F.col("ts") < cut))
    src = precombine_latest(
        e.filter(F.col("ts") >= cut),
        ["event_type", "user_id"], "ts", tie_breakers=["event_id"],
    )
    tbl.merge_into(
        src,
        matched_update={"event_id": "s.event_id", "ts": "s.ts", "value": "s.value"},
        not_matched_by_source_delete_condition="t.value < 20.0",
        not_matched_by_source_update={"value": "t.value - 10.0"},
    )
    return tbl.read().select(
        "event_type", "user_id", "event_id", "value"
    ).orderBy("event_type", "user_id")


@register(
    "cluster_service_state",
    sql="""
    SELECT event_type, user_id, event_id, round(value, 2) AS value
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) x
    WHERE rn = 1 ORDER BY event_type, user_id
    """,
)
def cluster_service_state(spark, sf_dir):
    """The clustering table service (UpsertTable.cluster — Hudi's
    ``hoodie.layout.optimize`` rewrite) driven end to end: the event
    stream lands in FOUR commits (small-files fragmentation), then the
    staged Z-order rewrite on (value, user_id) swaps in. Row content,
    key semantics and partitioning are layout-INVARIANT — the oracle is
    simply latest-state-per-key, which only holds if the rewrite lost
    and duplicated nothing. File count must not exceed n_files per
    partition afterwards (the compaction half of the service),
    asserted in-plan by reading back through the swapped layout.

    Scale: the rewrite is one partition-preserving sorted write beside
    the table + an atomic manifest swap; readers never see a
    half-rewritten table (crash windows covered in
    tests/test_crash_injection.py)."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    e = t(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", F.round("value", 2).alias("value")
    )
    path = tempfile.mkdtemp(prefix="cluster_tbl_")
    tbl = UpsertTable(
        spark, path, keys=["user_id"], precombine="ts",
        partition_by=["event_type"],
    )
    # four event-time quarters -> four commits -> fragmented files
    qs = [
        "2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-22 00:00:00",
    ]
    prev = None
    for cut in qs + [None]:
        part = e
        if prev is not None:
            part = part.filter(F.col("ts") >= F.lit(prev).cast("timestamp"))
        if cut is not None:
            part = part.filter(F.col("ts") < F.lit(cut).cast("timestamp"))
        tbl.upsert(part)
        prev = cut
    tbl.cluster(["value", "user_id"], n_files=2)
    return tbl.read().select(
        "event_type", "user_id", "event_id", "value"
    ).orderBy("event_type", "user_id")


def _shred_sql() -> str:
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64_sql

    pseud = stable_hash64_sql("CAST(user_id AS VARCHAR)", seed="vault")
    return f"""
    WITH facts AS (
      SELECT event_type, {pseud} AS pseudonym, value FROM events
    ),
    vault AS (
      SELECT DISTINCT user_id, {pseud} AS pseudonym FROM events
      WHERE user_id % 37 <> 0
    )
    SELECT f.event_type,
           CAST(count(v.user_id) AS BIGINT) AS n_linked,
           CAST(sum(CASE WHEN v.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shredded,
           CAST(count(DISTINCT v.user_id) AS BIGINT) AS users_linked,
           CAST(sum(CASE WHEN v.user_id IS NOT NULL
                    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             AS linked_value
    FROM facts f LEFT JOIN vault v ON f.pseudonym = v.pseudonym
    GROUP BY f.event_type ORDER BY f.event_type
    """


@register("crypto_shred_erasure", sql=_shred_sql())
def crypto_shred_erasure(spark, sf_dir):
    """Right-to-erasure by crypto-shredding — the GDPR deletion pattern
    that works at 100 TB: the fact table stores only a PSEUDONYM
    (keyed hash here; a random token or per-user key in production),
    the pseudonym -> identity map lives in a tiny separate VAULT table
    (operators/upsert.py), and erasing a user is a delete against the
    VAULT ONLY — the petabyte fact table is never rewritten, its rows
    simply become unlinkable. The query builds both tables on disk,
    erases every user_id % 37 == 0 through the vault's keyed delete
    path, and reports per event type how many fact rows still link vs
    how many are shredded — the audit an erasure pipeline publishes.
    The oracle computes the same from the raw stream (vault minus the
    erased cohort).

    Scale: the vault is O(users), the delete is O(touched vault
    partitions); the link audit is one broadcast-ready join from facts
    to vault. Rewriting facts per erasure request — the naive
    alternative — is O(table) per request."""
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    e = t(spark, sf_dir, "events").select("event_type", "user_id", "value")
    pseud = stable_hash64(F.col("user_id").cast("string"), seed="vault")
    facts = e.select("event_type", pseud.alias("pseudonym"), "value")
    vault_rows = (
        e.select("user_id").distinct().select(
            "user_id", stable_hash64(F.col("user_id").cast("string"), seed="vault").alias("pseudonym")
        )
    )
    path = tempfile.mkdtemp(prefix="vault_tbl_")
    vault = UpsertTable(spark, path, keys=["user_id"], precombine="pseudonym")
    vault.upsert(vault_rows)
    # the erasure request: drop the cohort from the VAULT only
    vault.delete(vault_rows.filter(F.col("user_id") % 37 == 0).select("user_id"))
    v = vault.read()
    return (
        facts.join(F.broadcast(v), "pseudonym", "left")
        .groupBy("event_type")
        .agg(
            F.count("user_id").alias("n_linked"),
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("n_shredded"),
            F.countDistinct("user_id").alias("users_linked"),
            F.sum(
                F.when(
                    F.col("user_id").isNotNull(),
                    F.col("value").cast("decimal(18,2)"),
                )
            ).cast("double").alias("linked_value"),
        )
        .orderBy("event_type")
    )


@register(
    "mv_retractable_cdc",
    sql="""
    WITH pre AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00') x
      WHERE rn = 1
    ),
    inc AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') x
      WHERE rn = 1
    ),
    final AS (
      SELECT event_type, value FROM pre
      WHERE user_id NOT IN (SELECT user_id FROM inc)
      UNION ALL
      SELECT event_type, value FROM inc WHERE user_id % 23 <> 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM final GROUP BY event_type ORDER BY event_type
    """,
)
def mv_retractable_cdc(spark, sf_dir):
    """Delete-aware incremental view maintenance from a CDC before-image
    feed (operators/reconcile.py retraction_delta + timeline.py
    cdc_view_images): the per-event-type rollup over latest-user state
    is built from the first half of the stream, then maintained through
    a change batch containing INSERTS (new users), UPDATES (returning
    users — possibly moving groups, retract old + add new), and DELETES
    (users hashing into an erasure cohort — retract via the before
    image). Insert-only IVM (`mv_incremental_refresh`) cannot express
    the last two; the retraction algebra with exact DECIMAL sums makes
    +x then -x a true inverse, so the refreshed MV must equal the
    oracle's direct aggregation over the final logical state. Groups
    whose count reaches zero drop from the view.

    Scale: the CDC classify is one key join against a keys+images
    projection of pre-state; the refresh touches |changed groups| MV
    rows — never a source rescan, the property that replaces nightly
    rebuilds at 100 TB."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.reconcile import (
        aggregate_delta,
        incremental_mv_refresh,
        retraction_delta,
    )
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.timeline import DELETED_COL, cdc_view_images
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import precombine_latest

    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot

    mid = F.lit("2024-01-15 00:00:00").cast("timestamp")
    # pre feeds the CDC classify AND the base MV (and the classify
    # consumes it twice internally); the slots keep each half-stream
    # precombine to one execution (r13 plan audit: 5 events scans)
    pre = _persist_slot(
        precombine_latest(
            e.filter(F.col("ts") < mid), ["user_id"], "ts"
        ).select("user_id", "event_type", "value"),
        "storage.mvcdc_pre",
    )
    inc = _persist_slot(
        precombine_latest(e.filter(F.col("ts") >= mid), ["user_id"], "ts")
        .select("user_id", "event_type", "value")
        .withColumn(DELETED_COL, F.col("user_id") % 23 == 0),
        "storage.mvcdc_inc",
    )
    feed = cdc_view_images(pre, inc, ["user_id"], image_cols=["event_type", "value"])
    dec = F.col("value").cast("decimal(18,2)")
    mv0 = aggregate_delta(pre, ["event_type"], sum_exprs={"total_value": dec})
    delta = retraction_delta(feed, "event_type", "value")
    mv1 = incremental_mv_refresh(
        mv0, delta, ["event_type"], sum_cols={"total_value": "total_value"}
    ).filter(F.col("n_rows") > 0)
    return mv1.select(
        "event_type", "n_rows", F.col("total_value").cast("double").alias("total_value")
    ).orderBy("event_type")
