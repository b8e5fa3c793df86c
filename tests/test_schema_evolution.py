"""Schema evolution (A7) — reference behavior with its latent bugs fixed
(SURVEY.md §1.2: equal-schema NameError, first-run bootstrap, type
conflicts)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import types as T

from aws_glue_streaming_etl_with_apache_hudi_spark.operators.schema_evolution import (
    evolve_schema,
    unify_schemas,
)


def test_equal_schema_noop(spark):
    df = spark.createDataFrame([Row(a=1, b="x")])
    b, t = evolve_schema(df, df)
    assert b.schema == df.schema and t.schema == df.schema


def test_first_run_bootstrap(spark):
    df = spark.createDataFrame([Row(a=1)])
    b, t = evolve_schema(df, None)
    assert b is df and t is None


def test_additive_columns_both_ways(spark):
    batch = spark.createDataFrame([Row(name="a", new_col=5)])
    target = spark.createDataFrame([Row(name="b", old_col="y")])
    b, t = evolve_schema(batch, target)
    assert set(b.columns) == {"name", "new_col", "old_col"}
    assert b.schema == t.schema
    merged = {r["name"]: r.asDict() for r in b.unionByName(t).collect()}
    assert merged["a"]["old_col"] is None and merged["b"]["new_col"] is None


def test_type_conflict_numeric_widening(spark):
    batch = spark.createDataFrame([Row(k="a", x=1)])  # long
    target_schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("x", T.DoubleType())]
    )
    target = spark.createDataFrame([("b", 2.5)], schema=target_schema)
    b, t = evolve_schema(batch, target)
    assert dict(b.dtypes)["x"] == "double"
    assert b.schema == t.schema


def test_type_conflict_fallback_to_string(spark):
    batch = spark.createDataFrame([Row(k="a", x=True)])
    target = spark.createDataFrame([Row(k="b", x=3)])
    b, t = evolve_schema(batch, target)
    assert dict(b.dtypes)["x"] == "string"
    vals = {r.k: r.x for r in b.unionByName(t).collect()}
    assert vals == {"a": "true", "b": "3"}


def test_unify_preserves_left_order():
    left = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    right = T.StructType([T.StructField("c", T.LongType()), T.StructField("a", T.LongType())])
    assert list(unify_schemas(left, right)) == ["a", "b", "c"]


# -- COW reads with the persisted schema --------------------------------------


def _cow(spark, path):
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.upsert import UpsertTable

    return UpsertTable(spark, path, keys=["k"], precombine="ver", partition_by=["day"])


def test_cow_keeps_a_column_that_first_lands_in_a_later_partition(spark, tmp_path):
    """A column added by a commit to one partition survives reads and
    later commits that touch other partitions without it. A read that
    infers its schema from one footer sees the column only when that
    footer happens to carry it."""
    t = _cow(spark, str(tmp_path / "t"))
    t.upsert(spark.createDataFrame([(1, "A", 1), (2, "B", 1)], "k long, day string, ver long"))
    t.upsert(spark.createDataFrame([(2, "B", 2, 42)], "k long, day string, ver long, x long"))
    assert sorted((r.k, r.x) for r in t.read().collect()) == [(1, None), (2, 42)]
    t.upsert(spark.createDataFrame([(1, "A", 3), (3, "B", 3)], "k long, day string, ver long"))
    assert "x" in {f.name for f in t._load_schema().fields}
    assert sorted((r.k, r.x) for r in t.read().collect()) == [(1, None), (2, 42), (3, None)]


def test_cow_insert_overwrite_keeps_the_columns_of_untouched_partitions(spark, tmp_path):
    """A partition restated without column ``x`` leaves ``x`` in the
    table: the other partition's rows still carry it."""
    t = _cow(spark, str(tmp_path / "t"))
    t.upsert(spark.createDataFrame([(1, "A", 1, 10), (2, "B", 1, 20)], "k long, day string, ver long, x long"))
    t.insert_overwrite(spark.createDataFrame([(1, "A", 2)], "k long, day string, ver long"))
    assert sorted((r.k, r.ver, r.x) for r in t.read().collect()) == [(1, 2, None), (2, 1, 20)]


def _retype_then_touch_the_other_partition(spark, t, old_type, old_values, new_type, new_value):
    """Two partitions hold ``v`` as ``old_type``; a commit to ``A`` brings
    ``v`` as ``new_type``; a later commit touches only ``B``."""
    from pyspark.sql import functions as F

    def batch(rows, vtype):
        return spark.createDataFrame(rows, "k long, day string, ver long, v string").select(
            "k", "day", "ver", F.col("v").cast(vtype).alias("v")
        )

    t.upsert(batch([(1, "A", 1, old_values[0]), (2, "B", 1, old_values[1])], old_type))
    t.upsert(batch([(1, "A", 2, new_value)], new_type))
    first = sorted((r.k, r.day, r.ver, r.v) for r in t.read().collect())
    t.upsert(batch([(3, "B", 3, new_value)], new_type))
    second = sorted((r.k, r.day, r.ver, r.v) for r in t.read().collect())
    return first, second


def test_cow_type_change_rewrites_untouched_partitions_boolean_int(spark, tmp_path):
    """BOOLEAN met by INT widens to STRING. The untouched partition is
    rewritten as STRING with the commit, so every row stays readable,
    and a later commit to that partition succeeds."""
    t = _cow(spark, str(tmp_path / "t"))
    first, second = _retype_then_touch_the_other_partition(
        spark, t, "boolean", ("true", "false"), "int", "7"
    )
    assert dict(t.read().dtypes)["v"] == "string"
    assert first == [(1, "A", 2, "7"), (2, "B", 1, "false")]
    assert second == [(1, "A", 2, "7"), (2, "B", 1, "false"), (3, "B", 3, "7")]


def test_cow_type_change_rewrites_untouched_partitions_decimal_cap(spark, tmp_path):
    """DECIMAL(38,0) met by DECIMAL(38,10) falls back to STRING (the
    38-digit cap would round); the untouched partition follows."""
    t = _cow(spark, str(tmp_path / "t"))
    big = "1" + "0" * 30
    first, second = _retype_then_touch_the_other_partition(
        spark, t, "decimal(38,0)", (big, "5"), "decimal(38,10)", "3.5"
    )
    assert dict(t.read().dtypes)["v"] == "string"
    assert first == [(1, "A", 2, "3.5000000000"), (2, "B", 1, "5")]
    assert second == [
        (1, "A", 2, "3.5000000000"), (2, "B", 1, "5"), (3, "B", 3, "3.5000000000"),
    ]
