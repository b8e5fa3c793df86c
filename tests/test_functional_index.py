"""Functional / expression index (operators/upsert.py, Hudi 1.0
parity — `CREATE INDEX ... USING column_stats|bloom_filters(expr)`):
per-partition distinct values of a SQL EXPRESSION over the row, capped
to min/max stats above `fidx_max_values`, maintained with every commit
and used by read_for_expr to prune equality/range predicates on the
expression to the partitions that can contain matches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

SCHEMA = "k long, day string, ts timestamp, ver long"


def _tbl(spark, path, **kw):
    kw.setdefault("functional_indexes", {"hour": "hour(ts)"})
    return UpsertTable(
        spark, path, keys=["k"], precombine="ver", partition_by=["day"], **kw,
    )


def _mk(spark, rows):
    # rows: (k, day, hour, ver) -> ts inside that day at that hour
    return spark.createDataFrame(
        [(k, d, f"2024-01-{int(d[1:]):02d} {h:02d}:30:00", v) for k, d, h, v in rows],
        "k long, day string, ts string, ver long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _keys(df):
    return sorted(r.k for r in df.collect())


def test_requires_partitioning():
    with pytest.raises(ValueError, match="functional_indexes"):
        UpsertTable(None, "/tmp/x", keys=["k"], precombine="v",
                    functional_indexes={"h": "hour(ts)"})


def test_equality_matches_full_scan(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [
        (1, "d1", 2, 1), (2, "d1", 5, 1),
        (3, "d2", 2, 1), (4, "d3", 7, 1),
    ]))
    got = _keys(t.read_for_expr("hour", value=2))
    want = _keys(t.read().filter(F.expr("hour(ts)") == 2))
    assert got == want == [1, 3]


def test_equality_prunes_to_containing_partitions(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [
        (1, "d1", 2, 1), (2, "d2", 5, 1), (3, "d3", 5, 1),
    ]))
    assert sorted(t._fidx_candidates("hour", 2, 2)) == [("d1",)]
    assert sorted(t._fidx_candidates("hour", 5, 5)) == [("d2",), ("d3",)]
    assert t._fidx_candidates("hour", 9, 9) == []
    # absent value: empty frame with the table schema, no scan
    out = t.read_for_expr("hour", value=9)
    assert out.count() == 0
    assert set(out.columns) == {"k", "day", "ts", "ver"}


def test_range_probe(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [
        (1, "d1", 2, 1), (2, "d1", 23, 1),
        (3, "d2", 10, 1), (4, "d3", 21, 1),
    ]))
    got = _keys(t.read_for_expr("hour", between=(20, 23)))
    want = _keys(t.read().filter(F.expr("hour(ts)").between(20, 23)))
    assert got == want == [2, 4]
    # d2 (only hour 10) must not even be a candidate
    assert sorted(t._fidx_candidates("hour", 20, 23)) == [("d1",), ("d3",)]
    # open-ended range
    assert _keys(t.read_for_expr("hour", between=(21, None))) == [2, 4]


def test_residual_filter_inside_kept_partition(spark, tmp_path):
    """Pruning is partition-granular; rows of a kept partition that miss
    the predicate must still be filtered out by the residual."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d1", 6, 1)]))
    assert _keys(t.read_for_expr("hour", value=2)) == [1]


def test_scan_reads_only_candidate_dirs(spark, tmp_path):
    """The pruned read lists ONLY the candidate partition directories —
    inputFiles() of the returned plan never touches pruned days."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [
        (1, "d1", 2, 1), (2, "d2", 5, 1), (3, "d3", 5, 1),
    ]))
    files = t.read_for_expr("hour", value=2).inputFiles()
    assert files and all("day=d1" in f for f in files)


def test_cap_overflow_degrades_to_stats(spark, tmp_path):
    """A partition past fidx_max_values collapses to a min/max pair:
    still answers correctly (conservatively kept on overlap, pruned on
    disjoint ranges)."""
    t = _tbl(spark, str(tmp_path / "t"), fidx_max_values=2)
    t.upsert(_mk(spark, [
        # d1 has 4 distinct hours (2,5,8,11) > cap 2 -> collapsed [2, 11]
        (1, "d1", 2, 1), (2, "d1", 5, 1), (3, "d1", 8, 1), (4, "d1", 11, 1),
        # d2 exact with hour 20
        (5, "d2", 20, 1),
    ]))
    idx = spark.read.parquet(t._fidx_dir("hour"))
    d1 = idx.filter(F.col("day") == "d1").collect()
    assert sorted(r.fval for r in d1) == [2, 11]
    assert all(not r.fexact for r in d1)
    # inside the collapsed range but not a stored value: kept (superset),
    # residual filters to the true rows
    assert ("d1",) in t._fidx_candidates("hour", 7, 7)
    assert _keys(t.read_for_expr("hour", value=8)) == [3]
    assert _keys(t.read_for_expr("hour", value=7)) == []
    # disjoint from [2, 11]: pruned despite the collapse
    assert t._fidx_candidates("hour", 12, 19) == []
    # exact partition unaffected
    assert _keys(t.read_for_expr("hour", value=20)) == [5]


def test_index_follows_commits(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    # re-key k=1 to hour 9 (same day): hour 2 must drain from the index
    t.upsert(_mk(spark, [(1, "d1", 9, 2)]))
    assert t._fidx_candidates("hour", 2, 2) == []
    assert sorted(t._fidx_candidates("hour", 9, 9)) == [("d1",)]
    # new day via the insert fast path keeps the index fresh too
    t.upsert(_mk(spark, [(3, "d4", 2, 1)]))
    assert sorted(t._fidx_candidates("hour", 2, 2)) == [("d4",)]
    assert _keys(t.read_for_expr("hour", value=2)) == [3]


def test_delete_partition_drops_index_entries(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    t.delete_partition(("d1",))
    assert t._fidx_candidates("hour", 2, 2) == []
    assert not os.path.isdir(os.path.join(t._fidx_dir("hour"), "day=d1"))


def test_backfill_build(spark, tmp_path):
    """build_functional_index backfills a table created without the
    declaration (Hudi's CREATE INDEX on an existing table)."""
    t = UpsertTable(spark, str(tmp_path / "t"), keys=["k"],
                    precombine="ver", partition_by=["day"])
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    t.build_functional_index("hour", "hour(ts)")
    assert sorted(t._fidx_candidates("hour", 5, 5)) == [("d2",)]
    assert _keys(t.read_for_expr("hour", value=5)) == [2]


def test_unbuilt_index_falls_back_to_full_scan(spark, tmp_path):
    """Declared but never committed/built: read_for_expr still answers
    (full scan + residual), never errors."""
    t = UpsertTable(spark, str(tmp_path / "t"), keys=["k"],
                    precombine="ver", partition_by=["day"])
    t.upsert(_mk(spark, [(1, "d1", 2, 1)]))
    t.functional_indexes["hour"] = "hour(ts)"  # declared late, no build
    assert _keys(t.read_for_expr("hour", value=2)) == [1]


def test_probe_argument_validation(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1)]))
    with pytest.raises(ValueError, match="not a functional index"):
        t.read_for_expr("nope", value=1)
    with pytest.raises(ValueError, match="exactly one"):
        t.read_for_expr("hour")
    with pytest.raises(ValueError, match="exactly one"):
        t.read_for_expr("hour", value=1, between=(1, 2))


def test_multi_partition_column_table(spark, tmp_path):
    """The sidecar layout, pruning, and removal all zip over
    partition_by generally — pin it on a TWO-column partitioning."""
    t = UpsertTable(
        spark, str(tmp_path / "t"), keys=["k"], precombine="ver",
        partition_by=["day", "region"],
        functional_indexes={"hour": "hour(ts)"},
    )
    rows = spark.createDataFrame(
        [
            (1, "d1", "eu", "2024-01-01 02:30:00", 1),
            (2, "d1", "us", "2024-01-01 05:30:00", 1),
            (3, "d2", "eu", "2024-01-02 02:30:00", 1),
            (4, "d2", "us", "2024-01-02 07:30:00", 1),
        ],
        "k long, day string, region string, ts string, ver long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.upsert(rows)
    assert sorted(t._fidx_candidates("hour", 2, 2)) == [("d1", "eu"), ("d2", "eu")]
    assert _keys(t.read_for_expr("hour", value=2)) == [1, 3]
    files = t.read_for_expr("hour", value=5).inputFiles()
    assert files and all("day=d1" in f and "region=us" in f for f in files)
    t.delete_partition(("d1", "eu"))
    assert sorted(t._fidx_candidates("hour", 2, 2)) == [("d2", "eu")]


# -- declarative auto-pruning: read(where=...) (r12, VERDICT r11 task 3) ----


def test_autoprune_equality_plain_filter(spark, tmp_path):
    """A PLAIN predicate string on read() prunes through the index —
    no index-aware API call (the Hudi expression-index optimizer
    rule). inputFiles must touch only the containing partition."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [
        (1, "d1", 2, 1), (2, "d2", 5, 1), (3, "d3", 5, 1),
    ]))
    out = t.read(where="hour(ts) = 2")
    files = out.inputFiles()
    assert files and all("day=d1" in f for f in files)
    assert _keys(out) == [1]


def test_autoprune_canonicalization_and_flipped_literal(spark, tmp_path):
    """`HOUR( ts ) = 2` and `2 = hour(ts)` both normalize through the
    analyzer to the registered expression and prune identically."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    for pred in ("HOUR( ts ) = 2", "2 = hour(ts)", "hour(ts) == 2"):
        out = t.read(where=pred)
        assert _keys(out) == [1], pred
        assert all("day=d1" in f for f in out.inputFiles()), pred
    assert t._index_bounds("5 > HOUR( ts )") == ("hour", None, 5)


def test_autoprune_between_and_residual_conjunct(spark, tmp_path):
    """BETWEEN engages the range path; a non-indexed conjunct rides
    along as residual (less pruning is fine, wrong rows are not)."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [
        (1, "d1", 2, 1), (2, "d1", 23, 1),
        (3, "d2", 10, 1), (4, "d3", 21, 1),
    ]))
    out = t.read(where="hour(ts) BETWEEN 20 AND 23 AND k > 2")
    assert _keys(out) == [4]
    files = out.inputFiles()
    assert files and all("day=d2" not in f for f in files)


def test_autoprune_range_operators_and_flip(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [
        (1, "d1", 2, 1), (2, "d2", 10, 1), (3, "d3", 21, 1),
    ]))
    # >= and <= conjuncts combine into one [lo, hi] probe
    out = t.read(where="hour(ts) >= 9 AND hour(ts) <= 11")
    assert _keys(out) == [2]
    assert all("day=d2" in f for f in out.inputFiles())
    # strict < / > prune inclusively, residual restores strictness
    out = t.read(where="hour(ts) > 10 AND 22 > hour(ts)")
    assert _keys(out) == [3]


def test_autoprune_no_match_falls_back_exact(spark, tmp_path):
    """Predicates the matcher can't map to an index (different
    expression, non-literal side, <>) full-scan but stay exact."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    assert _keys(t.read(where="minute(ts) = 30")) == [1, 2]
    assert _keys(t.read(where="hour(ts) <> 2")) == [2]
    assert _keys(t.read(where="NOT hour(ts) = 2")) == [2]
    assert _keys(t.read(where="hour(ts) = k + 1")) == [1]  # k=1,hour=2
    for pred in ("minute(ts) = 30", "hour(ts) <> 2", "NOT hour(ts) = 2", "hour(ts) = k + 1"):
        assert t._index_bounds(pred) is None, pred


def test_autoprune_empty_candidates_short_circuits(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1)]))
    out = t.read(where="hour(ts) = 9")
    assert out.count() == 0
    assert set(out.columns) == {"k", "day", "ts", "ver"}


def test_autoprune_conjunct_edge_cases(spark, tmp_path):
    """Conjuncts are what Spark's analyzer makes of the predicate:
    BETWEEN's own AND is no conjunct boundary, an OR inside parens is
    one conjunct that bounds nothing, a string literal containing
    ' AND ' stays a literal, ANDs inside parens are still conjuncts, and
    operand names containing `and` are plain columns."""
    t = UpsertTable(
        spark, str(tmp_path / "t"), keys=["k"], precombine="ver",
        partition_by=["day"],
        functional_indexes={"a": "a", "h": "h", "band": "band"},
    )
    t.upsert(spark.createDataFrame(
        [(1, "d1", 1, 1, 2, "x AND y", 3, 1, 2),
         (2, "d2", 1, 2, 2, "z", 9, 5, 2)],
        "k long, day string, ver long, a long, b long, c string, h long, "
        "band long, android long",
    ))
    for pred, bound in (
        ("a = 1 AND b = 2", ("a", 1, 1)),
        ("h BETWEEN 2 AND 5 AND k = 1", ("h", 2, 5)),
        ("(a = 1 OR b = 2) AND c = 'x AND y'", None),
        ("(a = 1 AND b = 2)", ("a", 1, 1)),
        ("band = 1 AND android = 2", ("band", 1, 1)),
    ):
        assert t._index_bounds(pred) == bound, pred
        got = _keys(t.read(where=pred))
        want = _keys(t.read().filter(F.expr(pred)))
        assert got == want == [1], pred


# -- exactness property: autoprune == plain filter, always -------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_BOUND = st.integers(min_value=-1, max_value=25)
_OPS = st.sampled_from(["=", "==", ">=", "<=", ">", "<"])


@st.composite
def _predicates(draw):
    """Random conjunctions of hour(ts) comparisons / BETWEENs plus an
    optional non-indexed residual conjunct, with random literal side."""
    conjs = []
    for _ in range(draw(st.integers(min_value=1, max_value=3))):
        kind = draw(
            st.sampled_from(
                ["cmp", "between", "residual", "or_tail", "chained", "strlit",
                 "backslash", "negated", "spelling", "arith"]
            )
        )
        if kind == "cmp":
            op, v = draw(_OPS), draw(_BOUND)
            if draw(st.booleans()):
                conjs.append(f"hour(ts) {op} {v}")
            else:
                flip = {">": "<", "<": ">", ">=": "<=", "<=": ">="}.get(op, op)
                conjs.append(f"{v} {flip} hour(ts)")
        elif kind == "between":
            lo, hi = sorted((draw(_BOUND), draw(_BOUND)))
            conjs.append(f"hour(ts) BETWEEN {lo} AND {hi}")
        elif kind == "or_tail":
            # depth-0 OR: whole predicate becomes a disjunction (r13)
            conjs.append(f"hour(ts) = {draw(_BOUND)} OR k >= {draw(_BOUND)}")
        elif kind == "chained":
            # left-associative chained comparison (r13)
            conjs.append(f"hour(ts) = {draw(_BOUND)} = TRUE")
        elif kind == "strlit":
            # string literals whose CONTENT mimics predicate syntax
            # (''-escapes, ' AND ', comparison ops) — the scanners must
            # never see a literal's inside at depth 0 (r13)
            lit = draw(
                st.sampled_from(
                    ["d1", "it''s", "x AND hour(ts) = 7", "a = b", "d''2 AND d"]
                )
            )
            conjs.append(f"day = '{lit}'")
        elif kind == "backslash":
            # backslash-escaped quotes: one literal whose inside mimics
            # an hour conjunct (r13), always true for stored rows
            conjs.append(
                draw(st.sampled_from([
                    r"day <> 'x\' AND hour(ts) = 99 AND k = \'y'",
                    r"day <> 'it\'s'",
                ]))
            )
        elif kind == "negated":
            v = draw(_BOUND)
            conjs.append(
                draw(st.sampled_from([
                    f"NOT hour(ts) = {v}", f"hour(ts) <> {v}", f"NOT (hour(ts) >= {v})",
                ]))
            )
        elif kind == "spelling":
            op, v = draw(_OPS), draw(_BOUND)
            form = draw(st.sampled_from(["HOUR( ts ) {} {}", "hour(ts){}{}", "Hour(TS) {} {}"]))
            conjs.append(form.format(op, v))
        elif kind == "arith":
            # a foldable arithmetic bound side
            op, a, b = draw(_OPS), draw(_BOUND), draw(st.integers(0, 3))
            conjs.append(f"hour(ts) {op} {a} - {b} + 2")
        else:
            conjs.append(f"k >= {draw(_BOUND)}")
    return " AND ".join(conjs)


@given(pred=_predicates())
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_autoprune_equals_plain_filter_property(spark, fidx_prop_table, pred):
    """Whatever the matcher prunes (or fails to match), read(where=)
    must return EXACTLY read().filter(where) — pruning is a pure
    file-skip, never a semantics change."""
    t = fidx_prop_table
    got = sorted(r.k for r in t.read(where=pred).collect())
    want = sorted(r.k for r in t.read().filter(F.expr(pred)).collect())
    assert got == want, pred


@pytest.fixture(scope="module")
def fidx_prop_table(spark, tmp_path_factory):
    t = _tbl(spark, str(tmp_path_factory.mktemp("fidxprop") / "t"))
    t.upsert(_mk(spark, [
        (1, "d1", 0, 1), (2, "d1", 2, 1), (3, "d1", 23, 1),
        (4, "d2", 5, 1), (5, "d2", 10, 1),
        (6, "d3", 7, 1), (7, "d3", 21, 1), (8, "d4", 12, 1),
    ]))
    return t


def test_index_bounds_starts_no_spark_job(spark, tmp_path):
    """The walk analyzes the predicate and folds its bounds in a
    projection over a local relation: plan build only, no Spark job,
    whatever the bound sides are."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(tracker.getJobIdsForGroup(group))

    def probes():
        assert t._index_bounds("hour(ts) = 2 + 3 AND k >= 0") == ("hour", 5, 5)
        assert t._index_bounds("hour(ts) BETWEEN 9 AND 11") == ("hour", 9, 11)
        assert t._index_bounds(
            "hour(ts) >= 2 AND hour(ts) <= 20 AND k >= 1 AND k < 100"
        ) == ("hour", 2, 20)

    group = f"index-bounds-{os.getpid()}-{id(t)}"
    # the counter sees a job started under the group
    assert len(jobs_in_group(group + "-control", lambda: spark.range(1).collect())) == 1
    assert jobs_in_group(group, probes) == []


# -- r13 regressions: VERDICT r12 OR-disjunct row loss + ADVICE r12 ----------

def test_autoprune_or_disjunct_boolean_index_exact(spark, tmp_path):
    """VERDICT r12 repro: on a boolean-expression index, a predicate
    whose OR-tail is foldable must NOT be treated as a conjunctive
    bound — `(hour(ts)=2) = true OR true` matches every row."""
    t = _tbl(spark, str(tmp_path / "t"),
             functional_indexes={"is2": "hour(ts) = 2"})
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    pred = "(hour(ts) = 2) = true OR true"
    assert t._index_bounds(pred) is None
    got = _keys(t.read(where=pred))
    want = _keys(t.read().filter(F.expr(pred)))
    assert got == want == [1, 2]


def test_autoprune_or_below_and_precedence_exact(spark, tmp_path):
    """OR binds looser than AND, so `a OR b AND c` is a disjunction —
    the AND-split piece `c` on the indexed expression must not prune
    (it is NOT a conjunct of the whole predicate)."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1), (3, "d3", 7, 1)]))
    pred = "k >= 0 OR true AND hour(ts) = 2"  # semantics: everything
    assert t._index_bounds(pred) is None
    got = _keys(t.read(where=pred))
    want = _keys(t.read().filter(F.expr(pred)))
    assert got == want == [1, 2, 3]


def test_autoprune_chained_comparison_exact(spark, tmp_path):
    """ADVICE r12: `hour(ts) = 5 = TRUE` parses left-associatively as
    `(hour(ts)=5) = TRUE`; splitting at the FIRST `=` would fold
    `5 = TRUE` (false) into a wrong bound. Chained comparisons must
    contribute no bound."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 5, 1), (2, "d2", 0, 1)]))
    assert t._index_bounds("hour(ts) = 5 = TRUE") is None
    assert t._index_bounds("hour(ts) >= 2") == ("hour", 2, None)
    pred = "hour(ts) = 5 = TRUE"
    got = _keys(t.read(where=pred))
    want = _keys(t.read().filter(F.expr(pred)))
    assert got == want == [1]


def test_autoprune_rejects_nondeterministic_bounds(spark, tmp_path):
    """ADVICE r12: time-dependent functions fold once at prune time but
    re-evaluate at scan time — never usable as pruning bounds."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 23, 1)]))
    assert t._index_bounds("hour(ts) <= hour(current_timestamp())") is None
    assert t._index_bounds("hour(ts) <= rand()") is None
    # a string literal CONTAINING such a name is still a fine literal
    assert t._index_bounds("hour(ts) = length('rand')") == ("hour", 4, 4)
    for pred in ("hour(ts) <= hour(current_timestamp())", "hour(ts) = length('rand')"):
        got = _keys(t.read(where=pred))
        want = _keys(t.read().filter(F.expr(pred)))
        assert got == want, pred


def test_autoprune_incomparable_bound_types_fall_back(spark, tmp_path):
    """ADVICE r12: an int and a str bound on one index must not raise.
    The analyzer compares `hour(ts) >= '25'` as BIGINT, casting the
    index side, so that conjunct no longer matches the index and only
    the int bound prunes (sound: the residual filter still applies)."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    pred = "hour(ts) >= 2 AND hour(ts) >= '25'"
    assert t._index_bounds(pred) == ("hour", 2, None)
    got = _keys(t.read(where=pred))
    want = _keys(t.read().filter(F.expr(pred)))
    assert got == want



def test_autoprune_between_string_index_numeric_bounds_exact(spark, tmp_path):
    """`date_format(ts, 'HH') BETWEEN 1 AND 5` compares the STRING index
    as a number ('02' lies in [1, 5]); string bounds '1'..'5' would prune
    the '02' partition ('02' < '1'). Only bounds of the index's own type
    are taken, side by side: numeric ones give no bound, string ones
    compare as strings in both the predicate and the pruning."""
    t = _tbl(
        spark, str(tmp_path / "t"), functional_indexes={"hh": "date_format(ts, 'HH')"}
    )
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 7, 1), (3, "d3", 12, 1)]))
    for pred, bound, keys in (
        ("date_format(ts, 'HH') BETWEEN 1 AND 5", None, [1]),
        ("date_format(ts, 'HH') BETWEEN '0' AND 5", ("hh", "0", None), [1]),
        ("date_format(ts, 'HH') >= 1 AND date_format(ts, 'HH') <= 5", None, [1]),
        ("date_format(ts, 'HH') BETWEEN '01' AND '05'", ("hh", "01", "05"), [1]),
        ("date_format(ts, 'HH') BETWEEN '1' AND '5'", ("hh", "1", "5"), [3]),
    ):
        assert t._index_bounds(pred) == bound, pred
        got = _keys(t.read(where=pred))
        want = _keys(t.read().filter(F.expr(pred)))
        assert got == want == keys, pred

# -- r13: compacted snapshot layout + soft-delete composition ----------------


def _snap_files(t, name="hour"):
    root = t._fidx_dir(name)
    return sorted(
        f for f in os.listdir(root) if not f.startswith(".")
    )


def test_snapshot_single_file_layout(spark, tmp_path):
    """The sidecar is ONE compacted snapshot file regardless of how many
    partitions or commits built it (the r13 probe-is-O(1)-file-reads
    contract, VERDICT r12 task 3) — no per-partition directories."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    t.upsert(_mk(spark, [(3, "d3", 7, 1)]))
    t.upsert(_mk(spark, [(1, "d1", 9, 2)]))
    assert _snap_files(t) == ["snapshot.parquet"]
    assert sorted(t._fidx_candidates("hour", 9, 9)) == [("d1",)]
    assert t._fidx_candidates("hour", 2, 2) == []
    assert sorted(t._fidx_candidates("hour", 5, 7)) == [("d2",), ("d3",)]


def test_soft_delete_marker_drains_index(spark, tmp_path):
    """_hoodie_is_deleted tombstones compose with the functional index:
    a tombstoned key's expression values stop matching after the commit,
    and a partition drained by tombstones leaves the snapshot entirely
    (VERDICT r12 task 5 — today only partition erasure was covered)."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d1", 9, 1), (3, "d2", 5, 1)]))
    assert sorted(t._fidx_candidates("hour", 2, 2)) == [("d1",)]

    tomb = _mk(spark, [(1, "d1", 2, 2)]).withColumn(
        "_hoodie_is_deleted", F.lit(True)
    )
    t.upsert(tomb)
    # k=1 (hour 2) is gone: candidates drain, reads agree with full scan
    assert t._fidx_candidates("hour", 2, 2) == []
    assert _keys(t.read_for_expr("hour", value=2)) == []
    assert _keys(t.read(where="hour(ts) = 9")) == [2]

    # tombstone the partition's last row -> d1 leaves the snapshot
    t.upsert(
        _mk(spark, [(2, "d1", 9, 2)]).withColumn(
            "_hoodie_is_deleted", F.lit(True)
        )
    )
    assert t._fidx_candidates("hour", 9, 9) == []
    idx = spark.read.parquet(t._fidx_dir("hour"))
    assert idx.filter(F.col("day") == "d1").count() == 0
    # untouched partition unaffected
    assert _keys(t.read(where="hour(ts) = 5")) == [3]


def test_delete_keys_drains_index(spark, tmp_path):
    """The direct delete() path rides the same commit maintenance."""
    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d1", 9, 1), (3, "d2", 5, 1)]))
    t.delete(_mk(spark, [(1, "d1", 2, 1)]).select("k", "day"))
    assert t._fidx_candidates("hour", 2, 2) == []
    assert sorted(t._fidx_candidates("hour", 9, 9)) == [("d1",)]
    assert _keys(t.read(where="hour(ts) = 9")) == [2]


def test_legacy_hive_layout_migrates_to_snapshot(spark, tmp_path):
    """A pre-r13 Hive-partitioned sidecar still answers probes and is
    folded into a compacted snapshot by the next commit."""
    import shutil

    t = _tbl(spark, str(tmp_path / "t"))
    t.upsert(_mk(spark, [(1, "d1", 2, 1), (2, "d2", 5, 1)]))
    root = t._fidx_dir("hour")
    # rewrite the snapshot as the legacy layout (what r12 wrote)
    legacy = spark.read.parquet(root)
    legacy_pdf = legacy.toPandas()
    shutil.rmtree(root)
    (
        spark.createDataFrame(legacy_pdf)
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(root)
    )
    assert "snapshot.parquet" not in os.listdir(root)
    # probes read the legacy layout correctly
    assert sorted(t._fidx_candidates("hour", 2, 2)) == [("d1",)]
    assert _keys(t.read(where="hour(ts) = 5")) == [2]
    # next commit migrates: snapshot written, legacy dirs cleared
    t.upsert(_mk(spark, [(3, "d3", 7, 1)]))
    assert _snap_files(t) == ["snapshot.parquet"]
    assert sorted(t._fidx_candidates("hour", 2, 2)) == [("d1",)]
    assert sorted(t._fidx_candidates("hour", 7, 7)) == [("d3",)]


def test_snapshot_null_and_escaped_partition_tokens(spark, tmp_path):
    """Escaped (quote/colon) and NULL partition values round-trip the
    snapshot's token columns — the legacy pyarrow fast path had to FALL
    BACK to Spark for these; the snapshot handles them natively."""
    t = _tbl(spark, str(tmp_path / "t"))
    rows = spark.createDataFrame(
        [
            (1, "o'brien:day", "2024-01-01 02:30:00", 1),
            (2, None, "2024-01-01 05:30:00", 1),
        ],
        "k long, day string, ts string, ver long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.upsert(rows)
    assert sorted(t._fidx_candidates("hour", 2, 2)) == [("o'brien:day",)]
    assert t._fidx_candidates("hour", 5, 5) == [(None,)]
    assert _keys(t.read_for_expr("hour", value=2)) == [1]
    assert _keys(t.read_for_expr("hour", value=5)) == [2]


def test_autoprune_backslash_escape_exact(spark, tmp_path):
    """r13: under the default parser mode `'a\\' AND ... '` is ONE
    string literal (backslash-escaped quote) — a quote-pair scanner
    that ends the literal at `\\'` sees the literal's INSIDE at depth 0
    and extracted a bogus hour bound (confirmed silent row loss).
    Spark's parser reads the literal, so its inside is never a bound."""
    t = UpsertTable(
        spark, str(tmp_path / "t"), keys=["k"], precombine="ver",
        partition_by=["day"], functional_indexes={"hour": "hour(ts)"},
    )
    sval = "a' AND hour(ts) = 99 AND x = 'b"
    rows = spark.createDataFrame(
        [(1, "d1", "2024-01-01 02:30:00", 1, sval),
         (2, "d2", "2024-01-01 05:30:00", 1, "zzz")],
        "k long, day string, ts string, ver long, s string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.upsert(rows)
    pred = r"s = 'a\' AND hour(ts) = 99 AND x = \'b'"
    assert t._index_bounds(pred) is None
    got = _keys(t.read(where=pred))
    want = _keys(t.read().filter(F.expr(pred)))
    assert got == want == [1]
    # plain backslash-free predicates still prune, and so does a real
    # conjunct beside a backslash-escaped literal
    assert t._index_bounds("hour(ts) = 5") is not None
    assert t._index_bounds(r"s <> 'a\'b' AND hour(ts) = 5") == ("hour", 5, 5)


def test_autoprune_quoted_literal_exact(spark, tmp_path):
    """A `''`-escaped literal ends where Spark's parser ends it: a
    comparison or ' AND ' INSIDE the literal never bounds the index, a
    conjunct OUTSIDE it still does."""
    t = UpsertTable(
        spark, str(tmp_path / "t"), keys=["k"], precombine="ver",
        partition_by=["day"], functional_indexes={"hour": "hour(ts)"},
    )
    rows = spark.createDataFrame(
        [(1, "d1", "2024-01-01 02:30:00", 1, "it's"),
         (2, "d2", "2024-01-01 05:30:00", 1, "x AND hour(ts) = 7")],
        "k long, day string, ts string, ver long, s string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.upsert(rows)
    for pred, bound in (
        ("s = 'it''s'", None),
        ("s = 'a = b'", None),
        ("'a''= b' = s", None),
        ("s = 'it''s' AND hour(ts) = 2", ("hour", 2, 2)),
        ("s = 'x AND hour(ts) = 7'", None),
        ("s = 'it''s AND hour(ts) = 7'", None),
    ):
        assert t._index_bounds(pred) == bound, pred
        got = _keys(t.read(where=pred))
        want = _keys(t.read().filter(F.expr(pred)))
        assert got == want, pred


def test_fast_path_matches_spark_path(spark, tmp_path, monkeypatch):
    """r13 driver-side candidate fast path: for every probe shape the
    pyarrow evaluation returns EXACTLY what the Spark aggregation
    returns (collapsed entries, null fvals, null partitions, open
    bounds, cross-type probes that force the fallback)."""
    t = _tbl(spark, str(tmp_path / "t"), fidx_max_values=2)
    rows = spark.createDataFrame(
        [
            (1, "d1", "2024-01-01 02:30:00", 1),
            (2, "d1", "2024-01-01 05:30:00", 1),
            (3, "d1", "2024-01-01 08:30:00", 1),  # d1 over cap -> collapse
            (4, "d2", "2024-01-02 20:30:00", 1),
            (5, None, "2024-01-03 11:30:00", 1),  # null partition
            (6, "d3", None, 1),                   # null expression value
        ],
        "k long, day string, ts string, ver long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.upsert(rows)

    probes = [
        (2, 2), (5, 5), (20, 20), (11, 11), (9, 9), (99, 99),
        (None, 8), (8, None), (None, None), (0, 23),
        ("2", "2"),  # string probe on int index -> fast path falls back
    ]
    for lo, hi in probes:
        fast = t._fidx_candidates("hour", lo, hi)
        with monkeypatch.context() as m:
            m.setattr(
                UpsertTable, "_sidecar_candidates_fast",
                lambda self, *a, **kw: None,
            )
            slow = t._fidx_candidates("hour", lo, hi)
        key = lambda v: tuple((x is None, x) for x in v)
        assert sorted(fast, key=key) == sorted(slow, key=key), (lo, hi)


def test_sidx_fast_path_matches_spark_path(spark, tmp_path, monkeypatch):
    """Same parity pin for the secondary-index equality/null probes."""
    t = UpsertTable(
        spark, str(tmp_path / "t"), keys=["k"], precombine="ver",
        partition_by=["p"], secondary_index_columns=["tag"],
        fidx_max_values=2,
    )
    t.upsert(spark.createDataFrame(
        [(1, "a", "b1", 1), (2, "a", "m1", 1), (3, "a", "t9", 1),
         (4, "a", None, 1), (5, "b", "m1", 1), (6, None, "red", 1)],
        "k long, p string, tag string, ver long"))
    # (an int probe against the string column raises CAST_INVALID_INPUT
    # under ANSI on BOTH paths — the fast path's pa.scalar guard falls
    # back to Spark, whose semantics then apply unchanged)
    for v in ["b1", "m1", "t9", "red", "zz", None]:
        fast = t._sidx_lookup("tag", v)
        with monkeypatch.context() as m:
            m.setattr(
                UpsertTable, "_sidecar_candidates_fast",
                lambda self, *a, **kw: None,
            )
            slow = t._sidx_lookup("tag", v)
        key = lambda t_: tuple((x is None, x) for x in t_)
        assert sorted(fast, key=key) == sorted(slow, key=key), v
