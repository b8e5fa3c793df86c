"""Text analysis operators over the ``documents`` table: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is a column expression over built-in string/array functions —
codegen'd, shuffle-free (per-document map work), and reproducible by the
DuckDB oracle. This is the shape that survives 100 TB: per-doc text
feature extraction is embarrassingly parallel; the only aggregations are
the optional corpus-level rollups callers add on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64

# Marker ("stopword") lists per language, chosen from the fixture corpus's
# most frequent words per lang (deterministic classifier surface; with a
# real corpus these are the usual function-word lists).
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["customer", "hash", "join"],
    "en": ["hash", "order", "table"],
    "es": ["slow", "agg", "merge"],
    "fr": ["scan", "data", "query"],
    "zh": ["slow", "table", "batch"],
}

# "Filler" vocabulary for the quality-score ratio (the corpus's analogue
# of high-frequency function words).
FILLER_WORDS = ["hash", "order", "table", "row", "batch"]

# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation.
TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def words(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), r"\s+")


def with_words(col: Column | str, fn) -> Column:
    """``fn(w)`` over the document's word array ``w``, split ONCE per
    row. Catalyst does not hoist an outer expression out of a lambda
    (``ArrayTransform`` is interpreted), so a ``transform`` whose body
    reads ``words(col)`` re-splits the whole text for every element:
    O(words²) a document. Here the array is the argument of a
    one-element ``transform`` and ``fn`` reads it as a lambda variable."""
    return F.transform(F.array(words(col)), fn)[0]


def token_count_whitespace(col: Column | str) -> Column:
    return F.size(words(col)).cast("long")


def token_count_bpe_ish(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(TOKEN_REGEX), 0)).cast("long")


def text_stats(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Per-doc stats: word/char counts, distinct ratio, mean word length,
    filler-word ratio — the quality-score feature block. ``keep`` names
    passthrough columns carried into the projection so downstream
    consumers (e.g. a per-language rollup) don't need a join back to the
    source frame."""
    # SQL-text construction (selectExpr): identical parsed trees to the
    # previous Column-API assembly at a fraction of the py4j roundtrips
    # (the filler-literal array alone was one gateway call per word)
    w = f"split(lower({text_col}), '\\\\s+')"
    n_words = f"CAST(size({w}) AS BIGINT)"
    n_distinct = f"size(array_distinct({w}))"
    filler = "array(" + ", ".join(f"'{x}'" for x in FILLER_WORDS) + ")"
    n_filler = f"CAST(size(filter({w}, x -> array_contains({filler}, x))) AS BIGINT)"
    return df.selectExpr(
        id_col,
        *keep,
        f"CAST(length({text_col}) AS BIGINT) AS n_chars",
        f"{n_words} AS n_words",
        f"CAST({n_distinct} AS BIGINT) AS n_distinct",
        f"round({n_distinct} / {n_words}, 4) AS distinct_ratio",
        f"round(((length({text_col}) - {n_words}) + 1) / {n_words}, 4) AS avg_word_len",
        f"round({n_filler} / {n_words}, 4) AS filler_ratio",
    )


def quality_expr() -> Column:
    """The quality formula as a Column over text_stats's output columns
    (``n_words``, ``distinct_ratio``, ``filler_ratio``): favors length in
    a sane band, lexical diversity, and low filler ratio. Exposed
    separately so composed pipelines (corpus_build_pipeline) can score in
    the SAME projection that computes the stats — one documents scan, no
    self-join — while standalone quality_score keeps its frame shape."""
    len_term = F.least(F.col("n_words") / 100.0, F.lit(1.0))
    return F.round(
        0.4 * len_term + 0.4 * F.col("distinct_ratio") + 0.2 * (1 - F.col("filler_ratio")),
        4,
    )


def quality_sql(text_col: str) -> str:
    """``quality_expr`` over ``text_stats``'s columns, rendered as ONE
    SQL expression on the raw text column — the same word split, the
    same 4dp-rounded ratios, the same formula — so a pipeline can gate
    on quality as a plain filter in the batch's own projection, with no
    join back to a stats frame and no column-name collisions with the
    caller's schema (the streaming corpus gate's shape)."""
    w = f"split(lower({text_col}), '\\\\s+')"
    n_words = f"CAST(size({w}) AS BIGINT)"
    n_distinct = f"size(array_distinct({w}))"
    filler = "array(" + ", ".join(f"'{x}'" for x in FILLER_WORDS) + ")"
    n_filler = f"CAST(size(filter({w}, x -> array_contains({filler}, x))) AS BIGINT)"
    distinct_ratio = f"round({n_distinct} / {n_words}, 4)"
    filler_ratio = f"round({n_filler} / {n_words}, 4)"
    return (
        f"round(0.4 * least({n_words} / 100.0, 1.0)"
        f" + 0.4 * {distinct_ratio}"
        f" + 0.2 * (1 - {filler_ratio}), 4)"
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite quality score in [0, 1] (see quality_expr). The formula
    is arbitrary but fixed — what matters is that it is deterministic and
    cheap."""
    stats = text_stats(df, id_col, text_col)
    return stats.select(F.col(id_col), quality_expr().alias("quality"))


def predict_language(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """n-gram-free language-ID heuristic: score each language by marker-
    word occurrences; argmax with lexicographic tie-break.

    Stacks (lang, score) rows then takes max_by — the stack is a literal
    ``bits x langs`` expansion per doc (5 rows), not a join."""
    w = words(text_col)
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.filter(w, lambda x: F.array_contains(arr, x))).cast("long").alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    stacked = df.select(F.col(id_col), F.explode(F.array(*scores)).alias("s"))
    # argmax by score with lexicographically-first tie-break ==
    # min_by over the ordering (-score, lang).
    return (
        stacked.groupBy(id_col)
        .agg(
            F.min_by(
                F.col("s.lang"), F.struct(-F.col("s.score"), F.col("s.lang"))
            ).alias("predicted_lang"),
            F.max("s.score").alias("marker_hits"),
        )
    )


def doc_fingerprints(df: DataFrame, id_col: str, text_col: str, gram: int = 8) -> DataFrame:
    """Fingerprints: full-content md5, portable 60-bit content hash, and a
    winnowing-style min-hash over rolling character n-grams (robust to
    small appends; the classic plagiarism-detection primitive).

    The rolling grams are a ``transform`` over a position sequence with
    ``Column.substr(pos, len)`` — no explode, no UDF."""
    c = F.col(text_col)
    positions = F.sequence(F.lit(1), F.greatest(F.length(c) - (gram - 1), F.lit(1)))
    gram_hashes = F.transform(
        positions, lambda i: stable_hash64(c.substr(i, F.lit(gram)))
    )
    return df.select(
        F.col(id_col),
        F.md5(c).alias("content_md5"),
        stable_hash64(c).alias("content_hash"),
        F.array_min(gram_hashes).alias("winnow_min"),
    )


# PII redaction patterns — RE2-safe (no lookaround) so the same regex
# text runs on Java's engine (Spark) and RE2 (DuckDB) with identical
# matches. Order matters: emails before phones (an email's digits must
# not be half-eaten by the phone pattern once the email is replaced).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 addresses from a text column —
    the redaction pass every training-data pipeline runs before a corpus
    ships. Returns (id, text_redacted, n_email, n_phone, n_ipv4).

    Scale: pure row-local column expressions (``regexp_count`` +
    chained ``regexp_replace``) inside whole-stage codegen — zero
    shuffle, embarrassingly parallel, the ideal 100 TB map shape.
    Counts are computed BEFORE any replacement so overlapping pattern
    classes (an email also containing digits) are counted on the
    original text; replacements then apply in PII_PATTERNS order."""
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(rx)).cast("long").alias(f"n_{name}")
        for name, rx, _tok in PII_PATTERNS
    ]
    red = c
    for _name, rx, token in PII_PATTERNS:
        red = F.regexp_replace(red, rx, token)
    return df.select(F.col(id_col), red.alias("text_redacted"), *counts)


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """Row-local word n-gram array (space-joined) — the shared primitive
    for vocabulary building. A document with fewer than ``n`` words
    contributes NO grams (the greatest(...,1) position-clamp pattern
    used elsewhere would emit the truncated remainder as a bogus gram —
    caught by code review; ``F.when`` guards instead). Pure array
    expressions inside codegen; no explode, no shuffle."""
    def grams(w: Column) -> Column:
        positions = F.sequence(F.lit(1), F.size(w) - (n - 1))
        return F.when(
            F.size(w) >= n,
            F.filter(
                F.transform(positions, lambda i: F.concat_ws(" ", F.slice(w, i, n))),
                lambda g: g != "",
            ),
        ).otherwise(F.array().cast("array<string>"))

    return with_words(col, grams)


def corpus_vocab(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, k: int = 50
) -> DataFrame:
    """Corpus-level vocabulary: the top-k word n-grams by total occurrence
    count, with document frequency — the tokenizer-training / BPE-prep
    aggregate every corpus pipeline computes before fitting a vocab.

    Returns (gram, total_count, doc_freq) with the total order
    (total_count DESC, gram ASC) so rank-k boundaries are deterministic.

    Scale: grams are built row-locally (no shuffle), then ONE explode
    feeds a groupBy(gram) with map-side partial aggregation — the
    shuffle carries (gram, partial_count, partial_distinct) pairs, not
    documents. The final top-k is a TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows), never a full sort of the vocabulary."""
    grams = word_ngrams(text_col, n)
    exploded = df.select(F.col(id_col).alias("_doc"), F.explode(grams).alias("gram"))
    counts = exploded.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("total_count"),
        F.countDistinct("_doc").cast("long").alias("doc_freq"),
    )
    return counts.orderBy(F.desc("total_count"), F.asc("gram")).limit(k)


def word_lines(col: Column | str, line_len: int = 8) -> Column:
    """Chunk a document into non-overlapping ``line_len``-word "lines"
    (the fixture corpus has no sentence punctuation, so fixed word
    windows stand in for lines/sentences). Row-local array expression."""
    def lines(w: Column) -> Column:
        starts = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(line_len))
        return F.filter(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(w, i, line_len))),
            lambda s: s != "",
        )

    return with_words(col, lines)


def boilerplate_line_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_len: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style cross-document line dedup signal: per document, the
    fraction of its (distinct) lines that also appear in >= ``min_docs``
    documents corpus-wide. High ratio = boilerplate (headers, footers,
    licence blocks, mirrored pages) — dropped or down-weighted before
    training. Returns (id, n_lines, n_boilerplate, boilerplate_ratio).

    Scale shape: lines are chunked and distinct'd row-locally, then the
    explode emits (doc, line_hash) with a 60-bit portable hash — the
    corpus-wide frequency groupBy and the join back both shuffle 8-byte
    keys, never text. groupBy (map-side partial agg) is used instead of
    a count window because boilerplate lines are BY DEFINITION hot keys:
    a window partition puts every copy of a hot line in one task, while
    partial aggregation collapses them map-side. Catalyst reuses the
    exchange between the aggregate and the join (same child, same
    partitioning), so the plan pays two net shuffles: line_hash, doc."""
    lines = F.array_distinct(word_lines(text_col, line_len))
    hashed = df.select(
        F.col(id_col).alias("_doc"), F.explode(lines).alias("_line")
    ).select("_doc", stable_hash64(F.col("_line")).alias("_line_h"))
    freq = hashed.groupBy("_line_h").agg(F.count(F.lit(1)).alias("_n_docs"))
    boiler = (F.col("_n_docs") >= min_docs).cast("long")
    return (
        hashed.join(freq, "_line_h")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(boiler).cast("long").alias("n_boilerplate"),
            F.round(F.sum(boiler) / F.count(F.lit(1)), 4).alias("boilerplate_ratio"),
        )
        .withColumnRenamed("_doc", id_col)
    )


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean negative log-probability under a unigram LM
    fitted on the corpus itself — the CCNet/Gopher-style perplexity
    proxy for quality filtering (high score = improbable word soup,
    low = in-distribution text). Returns (id, n_tokens, avg_neg_logp).

    Scale shape: ONE token explode feeds both the LM fit (word counts;
    the vocabulary aggregate is small) and the scoring join; the
    fitted vocabulary broadcasts to the scorer and the corpus-total N
    rides a 1-row broadcast aggregate IN the plan (the same fold-N-in
    trick text_tfidf uses — no driver-side count). Per-doc averaging
    shuffles on doc id once."""
    w = df.select(F.col(id_col), F.explode(words(text_col)).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = w.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("_n_tokens_corpus"))
    scored = (
        w.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (-F.log(F.col("cnt") / F.col("_n_tokens_corpus"))).alias("nlp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logp"),
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean negative log-probability under a corpus-fit
    bigram LM — the next step up from unigram_logprob in the perplexity-
    filter ladder: p(w2 | w1) = c(w1 w2) / c(w1 ·), where c(w1 ·) sums
    the bigram counts sharing the left word (conditional MLE; the model
    is fit on the corpus being scored, so every observed bigram has
    p > 0 and no smoothing constant enters the algebra). Word-soup
    documents score high on unigrams already; REORDERED text (scrambled
    scrapes, shuffled boilerplate) only the bigram model catches.
    Returns (id, n_bigrams, avg_neg_logp); documents with fewer than 2
    words contribute no row (nothing to score — left-join if needed).

    Scale shape: same as unigram_logprob — ONE gram explode feeds the LM
    fit and the scoring join; the fitted table broadcasts; left-word
    marginals are a second small aggregate OF the fitted table (not a
    second corpus pass); per-doc averaging shuffles on doc id once."""
    g = df.select(
        F.col(id_col), F.explode(word_ngrams(text_col, 2)).alias("g")
    )
    counts = g.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    lefts = (
        counts.select(F.substring_index("g", " ", 1).alias("w1"), "cnt")
        .groupBy("w1")
        .agg(F.sum("cnt").alias("lcnt"))
    )
    scored = (
        g.join(F.broadcast(counts), "g")
        .withColumn("w1", F.substring_index("g", " ", 1))
        .join(F.broadcast(lefts), "w1")
        .select(
            F.col(id_col),
            (-F.log(F.col("cnt") / F.col("lcnt"))).alias("nlp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logp"),
    )


def hashed_embedding(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64
) -> DataFrame:
    """Feature-hashing ("hashing trick") text vectorizer: each token maps
    to index ``(h//2) % dim`` with sign ``+1/-1`` from the hash's parity
    bit (signed hashing keeps collisions unbiased — Weinberger et al.
    2009), summed into a dense ``dim``-length double array usable by
    every vector operator downstream (knn_*, PQ, embedding dedup).

    No vocabulary, no fit step, no driver state: the "model" is the hash
    function, so the transform is a pure column computation — the
    property that makes feature hashing THE vectorizer that scales to
    unbounded vocabularies. Shuffles: one (id, idx) aggregation plus the
    per-doc assembly; tokens never move unhashed.

    Returns (id, embedding array<double>). The parity bit is consumed by
    the sign and EXCLUDED from the index so the two stay independent.
    Documents with no tokens (empty/whitespace text) produce NO row —
    there is nothing to embed; left-join against the source if zero
    vectors are required."""
    h = stable_hash64(F.col("_tok"))
    toks = df.select(F.col(id_col), F.explode(words(text_col)).alias("_tok")).filter(
        F.col("_tok") != ""
    )
    entries = (
        toks.select(
            F.col(id_col),
            # integer shift, NOT h/2: double division loses low bits
            # above 2^53 and h is 60-bit
            (F.shiftright(h, 1) % dim).alias("_idx"),
            F.when(h % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("_sign"),
        )
        .groupBy(id_col, "_idx")
        .agg(F.sum("_sign").alias("_w"))
    )
    return (
        entries.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_idx"), F.col("_w")))
            ).alias("_m")
        )
        .select(
            F.col(id_col),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at("_m", i.cast("long")), F.lit(0.0)),
            ).alias("embedding"),
        )
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, gram: int = 8, window: int = 16
) -> DataFrame:
    """Full winnowing (Schleimer et al. 2003): the distinct minimum gram
    hash of every ``window`` consecutive rolling ``gram``-grams — the
    guarantee is that any shared substring of length >= gram+window-1
    yields at least one IDENTICAL fingerprint in both documents, which is
    what makes fingerprint collisions a shared-passage detector (vs
    ``doc_fingerprints``'s single global min, a whole-document signature).

    Pure row-local expressions (position sequences + transform +
    array_min over slices) — no explode before the final fingerprint
    explode, no UDF, no shuffle. Output: (id, fp) rows, ~len/window
    fingerprints per document."""
    c = F.col(text_col)
    positions = F.sequence(F.lit(1), F.greatest(F.length(c) - (gram - 1), F.lit(1)))
    gram_hashes = F.transform(
        positions, lambda i: stable_hash64(c.substr(i, F.lit(gram)))
    )
    wpos = F.sequence(
        F.lit(1), F.greatest(F.size(gram_hashes) - (window - 1), F.lit(1))
    )
    wins = F.transform(
        wpos, lambda i: F.array_min(F.slice(gram_hashes, i, window))
    )
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(wins)).alias("fp")
    )


def shared_passage_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram: int = 8,
    window: int = 16,
    min_shared: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    the copied-passage / plagiarism signal (a different axis than
    whole-document near-dup: two documents quoting the same paragraph
    collide here even when globally dissimilar).

    Scale shape is the LSH discipline (operators/dedup.py): fingerprints
    are the only shuffle keys, hot fingerprints (boilerplate passages)
    are capped before the self-join, and the pair count is the true
    collision count, never n²."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot, cap_bucket_size

    fps = _persist_slot(
        cap_bucket_size(
            winnow_fingerprints(df, id_col, text_col, gram, window),
            ["fp"],
            max_bucket_size,
        ),
        "text.shared_passage_fps",
    )
    a = fps.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = fps.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed term list: per document,
    sum over query terms of idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    with idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1) — the standard
    full-text relevance function, computed as pure relational algebra.

    Scale: tf comes from one row-local array count per (doc, term) — the
    term list is a literal, so there is NO posting-list join and NO
    shuffle of text; df/N/avgdl are one tiny aggregation broadcast back
    (the single-plan scalar pattern). Returns (id, score) for documents
    matching at least one term; round the score before ranking for
    cross-engine determinism."""
    w = words(text_col)

    def _tf(term: str) -> Column:
        # a dedicated closure: a 2-arg lambda (x, t=term) would be taken
        # by F.filter as the (element, index) form and bind the INDEX
        return F.size(F.filter(w, lambda x: x == F.lit(term))).cast("double")

    tf_cols = [_tf(t).alias(f"_tf{i}") for i, t in enumerate(query_terms)]
    per_doc = df.select(
        F.col(id_col),
        F.size(w).cast("double").alias("_dl"),
        *tf_cols,
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum(F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"_tf{i}")
        idf = F.log(
            (F.col("_n") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5) + 1.0
        )
        term = idf * tf * (k1 + 1) / (
            tf + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))
        )
        score = term if score is None else score + term
    any_match = None
    for i in range(len(query_terms)):
        cond = F.col(f"_tf{i}") > 0
        any_match = cond if any_match is None else (any_match | cond)
    return joined.filter(any_match).select(F.col(id_col), score.alias("score"))


def char_trigrams(col: Column | str) -> Column:
    """Distinct lowercase character 3-grams — row-local array expression
    (the pg_trgm primitive). Documents shorter than 3 chars yield no
    trigrams."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    positions = F.sequence(F.lit(1), F.length(c) - 2)
    return F.when(
        F.length(c) >= 3,
        F.array_distinct(
            F.transform(positions, lambda i: F.substring(c, i, 3))
        ),
    ).otherwise(F.array().cast("array<string>"))


def like_search_trigram(
    df: DataFrame, id_col: str, text_col: str, needle: str
) -> DataFrame:
    """Substring (``LIKE '%needle%'``) search accelerated by a trigram
    inverted index (the pg_trgm strategy): a document can contain the
    needle only if it contains EVERY trigram of the needle, so candidate
    generation is posting-list intersection (count-distinct == k over
    the needle's trigram set) and only candidates pay the verification
    ``contains`` — the index turns a full-corpus substring scan into a
    lookup of k posting lists. Returns (id, n_hits) for verified
    matches, n_hits = non-overlapping occurrence count.

    Scale: built once, the (trigram, doc) posting table is the persisted
    artifact (bytes ~ distinct trigrams per doc); a query touches only
    the k needle trigrams' postings — shuffle carries 3-byte grams +
    ids, never text. Inline here (fixture-sized), the same plan reads
    the posting lists from their own parquet."""
    nd = needle.lower()
    needle_tris = sorted({nd[i : i + 3] for i in range(len(nd) - 2)})
    if not needle_tris:
        raise ValueError("needle must be at least 3 characters")
    k = len(needle_tris)
    tris = df.select(
        F.col(id_col), F.explode(char_trigrams(text_col)).alias("_tri")
    ).filter(F.col("_tri").isin(needle_tris))
    cands = (
        tris.groupBy(id_col)
        .agg(F.count_distinct("_tri").alias("_ntri"))
        .filter(F.col("_ntri") == k)
        .select(id_col)
    )
    low = F.lower(F.col(text_col))
    return (
        df.join(cands, id_col)
        .filter(F.contains(low, F.lit(nd)))
        .select(
            F.col(id_col),
            (
                (F.length(low) - F.length(F.replace(low, F.lit(nd), F.lit(""))))
                / F.lit(len(nd))
            )
            .cast("long")
            .alias("n_hits"),
        )
    )


def chunk_words(
    col: Column | str, size: int = 80, overlap: int = 20
) -> Column:
    """Overlapping word-window chunks for retrieval/RAG indexing: windows
    of ``size`` words at stride ``size - overlap``, as an array of
    (start_word, chunk_text) structs — row-local array expressions, no
    explode until the caller chooses to. The final window may be shorter
    than ``size``; every word is covered; overlap preserves cross-
    boundary context for embedding."""
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap

    def chunks(w: Column) -> Column:
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(w) - overlap, F.lit(1)), F.lit(stride)
        )
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

    return with_words(col, chunks)
