"""Additive schema evolution — the reference's ``evolveSchema`` fixed.

Reference behavior (glue_job_script.py:81-94): align an incoming batch with
the current table schema by ``unionByName(target_empty, allowMissingColumns=
True)`` — columns missing from the batch become nulls, brand-new columns are
kept. Documented latent bugs we do NOT replicate (SURVEY.md §1.2):

- equal schemas -> unbound ``merged_df`` -> ``NameError`` swallowed by a
  blanket ``except`` (accidentally correct). Here: equal schemas are an
  explicit no-op.
- first-run bootstrap (table absent) rode the same ``except``. Here: callers
  pass ``target=None`` (or ``UpsertTable`` handles creation explicitly).
- same-name columns with conflicting types would fail the union at runtime.
  Here: Catalyst's wider type (anything without one -> string), applied to
  BOTH sides before the union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# digits an integral value can need left of a decimal point
_INTEGRAL_DIGITS = {T.ByteType: 3, T.ShortType: 5, T.IntegerType: 10, T.LongType: 20}


def _decimal_shape(t: T.DataType) -> tuple[int, int]:
    """(integer digits, scale) a value of ``t`` can need; (0, 0) for a
    type that is neither decimal nor integral."""
    if isinstance(t, T.DecimalType):
        return t.precision - t.scale, t.scale
    return _INTEGRAL_DIGITS.get(type(t), 0), 0


def _widen(a: T.DataType, b: T.DataType, jvm) -> T.DataType:
    """Resolve a type conflict between two columns of the same name:
    Catalyst's own (non-ANSI) wider type — numeric promotion, DATE ->
    TIMESTAMP(_NTZ), TIMESTAMP_NTZ -> TIMESTAMP, decimal precision and
    scale. The ANSI variant is not used: it promotes strings to
    numbers, which would fail a cast of any non-numeric value. STRING,
    a lossless textual representation, is the fallback for pairs with
    no wider type (BOOLEAN + INT, BINARY + STRING), for a decimal that
    the 38-digit cap would cut (DECIMAL(38,0) + DECIMAL(38,10) widens
    to DECIMAL(38,0), rounding away the scale) and when no JVM is at
    hand."""
    if a == b:
        return a
    if jvm is None:
        return T.StringType()
    parse = jvm.org.apache.spark.sql.types.DataType.fromJson
    wider = jvm.org.apache.spark.sql.catalyst.analysis.TypeCoercion.findWiderTypeForTwo(
        parse(a.json()), parse(b.json())
    )
    if wider.isEmpty():
        return T.StringType()
    w = T._parse_datatype_json_string(wider.get().json())
    if isinstance(w, T.DecimalType):
        digits, scale = _decimal_shape(w)
        if any(d > digits or s > scale for d, s in map(_decimal_shape, (a, b))):
            return T.StringType()
    return w


def unify_schemas(
    left: T.StructType, right: T.StructType, jvm=None
) -> dict[str, T.DataType]:
    """Column-name -> resolved type for the union of two schemas.

    Column order: left's columns first (in order), then right-only columns —
    matching ``unionByName(allowMissingColumns=True)`` output order.
    ``jvm`` (a session's ``_jvm``) supplies Catalyst's type widening;
    without it, the active session's is used, and with no session every
    conflict resolves to STRING.
    """
    if jvm is None:
        active = SparkSession.getActiveSession()
        jvm = active._jvm if active is not None else None
    resolved: dict[str, T.DataType] = {f.name: f.dataType for f in left.fields}
    for f in right.fields:
        if f.name in resolved:
            resolved[f.name] = _widen(resolved[f.name], f.dataType, jvm)
        else:
            resolved[f.name] = f.dataType
    return resolved


def conform(df: DataFrame, resolved: dict[str, T.DataType]) -> DataFrame:
    """Project ``df`` onto the resolved schema: cast conflicting columns,
    add missing columns as typed nulls, keep resolved column order."""
    present = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for name, dtype in resolved.items():
        if name in present:
            col = F.col(name).cast(dtype) if present[name] != dtype else F.col(name)
        else:
            col = F.lit(None).cast(dtype)
        cols.append(col.alias(name))
    return df.select(*cols)


def evolve_schema(batch: DataFrame, target: DataFrame | None) -> tuple[DataFrame, DataFrame | None]:
    """Align ``batch`` and ``target`` to a common, widened schema.

    Returns the pair conformed to the unified schema; ``target=None``
    (first-run bootstrap, the reference's exception path at
    glue_job_script.py:92-94) returns the batch unchanged.
    Purely a metadata/projection operation — no shuffle, no action.
    """
    if target is None:
        return batch, None
    if batch.schema == target.schema:
        return batch, target
    resolved = unify_schemas(batch.schema, target.schema, batch.sparkSession._jvm)
    return conform(batch, resolved), conform(target, resolved)
