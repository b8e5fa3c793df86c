"""Word n-gram and line helpers split each document once.

Catalyst does not hoist an outer expression out of a higher-order
function's lambda, so a ``transform`` whose body reads
``split(lower(text))`` re-splits the whole text for every n-gram. Each
helper is compared with that per-element formulation on edge-case
documents, and its optimized plan must hold no ``split(`` inside a
``lambdafunction``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.operators import dedup as D
from aws_glue_streaming_etl_with_apache_hudi_spark.operators import text as X

TEXTS = [
    "",
    " ",
    "one",
    "Two Words",
    "a  b\t\tc   d",
    "  leading and trailing  ",
    "x y x y x y x y x y",
    " ".join(f"w{i % 7}" for i in range(40)),
    None,
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "id long, text string")


def _split_in_lambda(df) -> bool:
    """True when some ``lambdafunction(...)`` of the optimized plan
    contains a ``split(``."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            if depth == 0:
                break
            i += 1
        if "split(" in plan[start:i]:
            return True
        start = plan.find("lambdafunction(", start + 1)
    return False


def _rows(df):
    return sorted(map(tuple, df.collect()), key=lambda r: r[0])


def _old_words():
    return F.split(F.lower(F.col("text")), r"\s+")


def _old_ngrams(n):
    w = _old_words()
    positions = F.sequence(F.lit(1), F.size(w) - (n - 1))
    return F.when(
        F.size(w) >= n,
        F.filter(
            F.transform(positions, lambda i: F.concat_ws(" ", F.slice(w, i, n))),
            lambda g: g != "",
        ),
    ).otherwise(F.array().cast("array<string>"))


def _old_lines(line_len):
    w = _old_words()
    starts = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(line_len))
    return F.filter(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(w, i, line_len))),
        lambda s: s != "",
    )


def _old_chunks(size, overlap):
    w = _old_words()
    starts = F.sequence(F.lit(1), F.greatest(F.size(w) - overlap, F.lit(1)), F.lit(size - overlap))
    return F.filter(
        F.transform(
            starts,
            lambda s: F.struct(
                s.alias("start_word"),
                F.concat_ws(" ", F.slice(w, s, size)).alias("chunk_text"),
            ),
        ),
        lambda c: c["chunk_text"] != "",
    )


def _old_shingle_arrays(df, n):
    words = "split(lower(text), '\\\\s+')"
    grams = (
        f"transform(sequence(1, greatest(size({words}) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice({words}, i, {n})))"
    )
    return df.selectExpr("id", f"array_distinct(filter({grams}, g -> g != '')) AS sh_arr")


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_word_ngrams_split_once(spark, docs, n):
    new = docs.select("id", X.word_ngrams("text", n).alias("g"))
    assert _rows(new) == _rows(docs.select("id", _old_ngrams(n).alias("g")))
    assert not _split_in_lambda(new)


@pytest.mark.parametrize("line_len", [1, 3, 8])
def test_word_lines_split_once(spark, docs, line_len):
    new = docs.select("id", X.word_lines("text", line_len).alias("l"))
    assert _rows(new) == _rows(docs.select("id", _old_lines(line_len).alias("l")))
    assert not _split_in_lambda(new)


def test_chunk_words_split_once(spark, docs):
    new = docs.select("id", X.chunk_words("text", 4, 1).alias("c"))
    assert _rows(new) == _rows(docs.select("id", _old_chunks(4, 1).alias("c")))
    assert not _split_in_lambda(new)


@pytest.mark.parametrize("n", [1, 3, 5])
def test_word_shingle_arrays_split_once(spark, docs, n):
    new = D.word_shingle_arrays(docs, "id", "text", n)
    old = _old_shingle_arrays(docs, n)
    assert _split_in_lambda(old)
    assert new.dtypes == old.dtypes
    assert _rows(new) == _rows(old)
    assert not _split_in_lambda(new)


def test_text_repetition_splits_once(spark, sf_dir):
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.northstar import text_repetition

    assert not _split_in_lambda(text_repetition(spark, sf_dir))
