"""North-star queries: dedup, similarity search, text analysis, multimodal
metadata — each a deterministic, oracle-checked surface over the operator
modules (operators/{dedup,similarity,text,multimodal}.py).

Oracle construction note: every hash used by these operators is derived
from md5 (functions/hashing.py), so the DuckDB SQL reproduces signatures
bit-for-bit — MinHash/LSH/fingerprints get REAL value-level verification,
not just row counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_glue_streaming_etl_with_apache_hudi_spark.operators import dedup as D
from aws_glue_streaming_etl_with_apache_hudi_spark.operators import similarity as S
from aws_glue_streaming_etl_with_apache_hudi_spark.operators import text as X
from aws_glue_streaming_etl_with_apache_hudi_spark.operators.multimodal import binary_assets
from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import register, t

_HASH60 = "CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


def _h(expr: str, seed: int | None = None) -> str:
    inner = f"concat('{seed}|', {expr})" if seed is not None else expr
    return _HASH60.format(expr=inner)


# -------------------------------------------------------------------- dedup


@register(
    "dedup_exact",
    sql="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    ORDER BY keep_id
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via hash-groupBy on the normalized-text digest —
    shuffles 16-byte digests, not documents."""
    docs = t(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id").orderBy("keep_id")


@register(
    "dedup_fingerprint",
    sql=f"""
    SELECT doc_id, md5(text) AS content_md5,
           {_h('text')} AS content_hash
    FROM documents ORDER BY doc_id
    """,
)
def dedup_fingerprint(spark, sf_dir):
    """Portable content fingerprints (md5 + 60-bit hash), value-checked
    against DuckDB computing the identical digests."""
    docs = t(spark, sf_dir, "documents")
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64

    return docs.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        stable_hash64("text").alias("content_hash"),
    ).orderBy("doc_id")


# MinHash hash family in SQL: h_i = ((i * h2) & M + h1) & M — mirrors
# operators.dedup.minhash_hash_family exactly (M = 2^60-1; two md5s).
_M60 = (1 << 60) - 1
_MINHASH_SQL_BODY = f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh
        FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i
              FROM words)
      ) WHERE sh <> ''
    ),
    hashed AS (
      SELECT doc_id, {_h('sh')} AS h1, {_h('sh', seed='b')} AS h2 FROM shingles
    ),
    sigs AS (
      SELECT doc_id, s.seed,
             min((((s.seed * h2) & {_M60}) + h1) & {_M60}) AS mh
      FROM hashed, (SELECT unnest(range(0, 8)) AS seed) s
      GROUP BY doc_id, s.seed
    )
"""


@register(
    "dedup_minhash_signatures",
    sql=_MINHASH_SQL_BODY
    + """
    SELECT doc_id,
           min(CASE WHEN seed = 0 THEN mh END) AS mh0,
           min(CASE WHEN seed = 1 THEN mh END) AS mh1,
           min(CASE WHEN seed = 7 THEN mh END) AS mh7,
           count(*) AS n_seeds
    FROM sigs GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_minhash_signatures(spark, sf_dir):
    """MinHash signatures (k=8, word 3-shingles) — per-doc signature values
    verified bit-for-bit against the SQL oracle computing the same
    md5-derived hash family."""
    docs = t(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, "doc_id", "text", n=3)
    sig = D.minhash_signatures(sh, "doc_id", num_hashes=8)
    return sig.select(
        "doc_id",
        F.col("mh0"),
        F.col("mh1"),
        F.col("mh7"),
        F.lit(8).cast("long").alias("n_seeds"),
    ).orderBy("doc_id")


@register(
    "dedup_minhash_lsh",
    sql=_MINHASH_SQL_BODY
    + """
    , bands AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS bucket
      FROM sigs GROUP BY doc_id, seed // 2
    ),
    -- hot-bucket guard (operators/dedup.py cap_bucket_size, cap=1000)
    capped AS (
      SELECT doc_id, band, bucket FROM (
        SELECT bands.*, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bands)
      WHERE bsz <= 1000
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list(sh) AS s FROM shingles GROUP BY doc_id)
    SELECT id_a, id_b, round(jac, 4) AS jaccard FROM (
      SELECT id_a, id_b,
             CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jac
      FROM cands JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b
    ) WHERE jac >= 0.5
    ORDER BY id_a, id_b
    """,
    headline=True,
)
def dedup_minhash_lsh(spark, sf_dir):
    """Full MinHash+LSH near-dup pipeline (k=8, bands of 2, verify
    Jaccard >= 0.5). The oracle replays every stage — shingling, the
    seeded hash family, banding, candidate join, exact verification."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        docs, "doc_id", "text", shingle_n=3, num_hashes=8, rows_per_band=2, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


@register(
    "dedup_groups_minhash",
    sql=_MINHASH_SQL_BODY.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
    , bands AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS bucket
      FROM sigs GROUP BY doc_id, seed // 2
    ),
    -- hot-bucket guard (operators/dedup.py cap_bucket_size, cap=1000)
    capped AS (
      SELECT doc_id, band, bucket FROM (
        SELECT bands.*, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bands)
      WHERE bsz <= 1000
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list(sh) AS s FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                 / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jac
        FROM cands JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b
      ) WHERE jac >= 0.5
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      -- min-label reachability; the comp < d prune is safe (the
      -- component's minimum id is never pruned, and only the min
      -- survives the final aggregation)
      SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id
      WHERE r.comp < e.d
    ),
    cc AS (SELECT id AS doc_id, min(comp) AS group_id FROM reach GROUP BY id)
    SELECT doc_id, group_id, doc_id = group_id AS keep
    FROM cc ORDER BY doc_id
    """,
)
def dedup_groups_minhash(spark, sf_dir):
    """The full dedup DECISION: MinHash-LSH near-dup pairs grouped into
    connected components (iterative min-label propagation — Spark's
    pregel shape) and every document labeled (group_id, keep), canonical
    = smallest id per group, isolated docs their own group. Filtering
    ``keep`` IS the deduplicated corpus. The oracle reproduces the whole
    chain, components included, via a recursive CTE.

    Scale: components run on the pair graph only (candidates << corpus);
    each round is one equi-join + min-aggregation; the corpus touches
    the component map once, via a broadcast-sized left join."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        docs, "doc_id", "text", shingle_n=3, num_hashes=8, rows_per_band=2, threshold=0.5
    )
    return (
        D.dedup_survivors(docs.select("doc_id"), pairs.select("id_a", "id_b"), "doc_id")
        .orderBy("doc_id")
    )


@register(
    "decontaminate_ngrams",
    sql="""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, array_to_string(w[i:i+3], ' ') AS g
        FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1) + 1)) AS i
              FROM words)
      ) WHERE g <> ''
    ),
    bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 25 = 0),
    train AS (SELECT * FROM sh WHERE doc_id % 25 <> 0),
    tot AS (SELECT doc_id, count(*) AS total_grams FROM train GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, count(*) AS shared_grams
      FROM train t JOIN bench b ON t.g = b.g GROUP BY t.doc_id
    )
    SELECT tot.doc_id AS doc_id, shared_grams, total_grams,
           round(CAST(shared_grams AS DOUBLE) / total_grams, 6) AS contamination
    FROM tot JOIN hits ON tot.doc_id = hits.doc_id
    ORDER BY tot.doc_id
    """,
)
def decontaminate_ngrams(spark, sf_dir):
    """Benchmark decontamination — the held-out check every serious
    training pipeline runs before the corpus ships: training documents
    sharing any word n-gram with the benchmark split (doc_id % 25 = 0
    stands in for the eval set) are reported with their shared-gram
    count and contamination ratio. 4-grams are fixture-scaled (the
    small synthetic vocabulary saturates longer grams to one planted
    dup; production uses 8-13-gram windows — one constant).

    Scale: grams are row-local arrays (no shuffle to build); the
    benchmark gram set is DISTINCT and broadcast (eval sets are tiny
    next to a corpus), so the contamination check is a map-side hash
    probe of the training side — no n², no corpus shuffle; the only
    exchange is the per-doc count aggregation. Matching is by
    stable_hash64 of the gram, so the broadcast carries 8-byte hashes,
    not strings (64-bit collisions are negligible at eval-set size)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64

    docs = t(spark, sf_dir, "documents")
    grams = D.word_shingles(docs, "doc_id", "text", n=4).select(
        "doc_id", stable_hash64(F.col("shingle")).alias("h")
    )
    bench = grams.filter(F.col("doc_id") % 25 == 0).select("h").distinct()
    train = grams.filter(F.col("doc_id") % 25 != 0)
    tot = train.groupBy("doc_id").agg(F.count("*").alias("total_grams"))
    hits = (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_grams"))
    )
    return (
        tot.join(hits, "doc_id")
        .select(
            "doc_id",
            "shared_grams",
            "total_grams",
            F.round(
                F.col("shared_grams").cast("double") / F.col("total_grams"), 6
            ).alias("contamination"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_ngram_jaccard",
    sql="""
    WITH words AS (
      SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, lang, sh FROM (
        SELECT doc_id, lang, array_to_string(w[i:i+2], ' ') AS sh
        FROM (SELECT doc_id, lang, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i
              FROM words)
      ) WHERE sh <> ''
    ),
    sets AS (SELECT doc_id, lang, list(sh) AS s FROM sh GROUP BY doc_id, lang)
    SELECT id_a, id_b, round(jac, 4) AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ) WHERE jac >= 0.3
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard with language blocking: pairwise only within
    a lang block (a real blocking strategy — cross-language near-dups are
    not meaningful for this corpus). At 100 TB the block must come from
    LSH (see dedup_minhash_lsh); this exact variant is the quality
    yardstick LSH recall is measured against."""
    docs = t(spark, sf_dir, "documents")
    sh = D.word_shingles(docs.select("doc_id", "lang", "text"), "doc_id", "text", n=3)
    sets = (
        sh.join(t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id")
        .groupBy("doc_id", "lang")
        .agg(F.collect_set("shingle").alias("s"))
    )
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("lang"), F.col("s").alias("s_a"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("lang"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("double")
    union = F.size("s_a") + F.size("s_b") - F.size(F.array_intersect("s_a", "s_b"))
    return (
        a.join(b, "lang")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_jac_raw", inter / union)
        # threshold on the RAW value like the oracle (rounding first
        # would admit [0.29995, 0.3) pairs the SQL side excludes)
        .filter(F.col("_jac_raw") >= 0.3)
        .select("id_a", "id_b", F.round("_jac_raw", 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_simhash",
    sql=f"""
    WITH dw AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents) WHERE w <> ''
    ),
    wh AS (SELECT doc_id, {_h('w')} AS h FROM dw),
    bitsums AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM wh, (SELECT unnest(range(0, 32)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bitsums GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    """32-bit SimHash per document, value-verified against the oracle
    recomputing the same word-hash bit sums."""
    docs = t(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text", bits=32).orderBy("doc_id")


@register(
    "dedup_simhash_pairs",
    sql=f"""
    WITH dw AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents) WHERE w <> ''
    ),
    wh AS (SELECT doc_id, {_h('w')} AS h FROM dw),
    bitsums AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM wh, (SELECT unnest(range(0, 32)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    sims AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM bitsums GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, simhash, c.b AS band, (simhash >> (c.b * 8)) & 255 AS chunk
      FROM sims, (SELECT unnest(range(0, 4)) AS b) c
    ),
    -- hot-bucket guard (operators/dedup.py cap_bucket_size, cap=1000)
    capped AS (
      SELECT doc_id, simhash, band, chunk FROM (
        SELECT chunks.*, count(*) OVER (PARTITION BY band, chunk) AS bsz FROM chunks)
      WHERE bsz <= 1000
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS sa, b.simhash AS sb
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cands WHERE bit_count(xor(sa, sb)) <= 6
    ORDER BY id_a, id_b
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via banded Hamming blocking (4 bands of 8
    bits, exact bit_count verify <= 6). The oracle replays the full
    pipeline: word hashing, bit sums, banding, candidate join, Hamming
    filter."""
    docs = t(spark, sf_dir, "documents")
    sims = D.simhash(docs, "doc_id", "text", bits=32)
    pairs = D.simhash_near_pairs(sims, "doc_id", bits=32, bands=4, max_hamming=6)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


_EMB_LSH_PLANES = 2
_EMB_LSH_TABLES = 8


def _embedding_lsh_oracle_sql(threshold: float = 0.25, dim: int = 64) -> str:
    """DuckDB replica of dedup_embedding_cosine's LSH blocking: the same
    md5-derived plane weights (similarity.plane_weights) enter the SQL
    as plain literals, one UNION ALL branch per table, buckets from
    rounded-sign bits — bit-for-bit the Spark pandas-UDF's math."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.similarity import plane_weights

    w = plane_weights(_EMB_LSH_PLANES * _EMB_LSH_TABLES, dim)

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in vec) + "]"

    branches = []
    for t_i in range(_EMB_LSH_TABLES):
        terms = [
            f"(CASE WHEN round(list_dot_product(v, {lit(w[t_i * _EMB_LSH_PLANES + p])}), 6) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(_EMB_LSH_PLANES)
        ]
        branches.append(
            f"SELECT vec_id, v, {t_i} AS tbl, " + " + ".join(terms) + " AS bucket FROM e"
        )
    sig = "\n      UNION ALL ".join(branches)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 10 = 0),
    sig AS ({sig}),
    -- hot-bucket guard (operators/dedup.py cap_bucket_size, cap=1000)
    capped AS (
      SELECT vec_id, v, tbl, bucket FROM (
        SELECT sig.*, count(*) OVER (PARTITION BY tbl, bucket) AS bsz FROM sig)
      WHERE bsz <= 1000
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                   4) AS sim
      FROM capped a JOIN capped b ON a.tbl = b.tbl AND a.bucket = b.bucket
                                 AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim FROM cand WHERE sim >= {threshold}
    ORDER BY id_a, id_b
    """


@register(
    "dedup_embedding_cosine",
    sql=_embedding_lsh_oracle_sql(),
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup via hyperplane-LSH blocking: candidates are
    pairs colliding in ANY of 8 independent 2-bit random-projection
    tables; only candidates get a cosine evaluation, and pairs with
    round(cosine, 4) >= 0.25 are reported.

    The DuckDB oracle replicates the SAME blocking from the same
    md5-derived literal plane weights (operators/similarity.py
    plane_weights), so the check is exact, not sampled. Short 2-bit
    bands match the low 0.25 threshold (collide-prob p^2 per table,
    1-(1-p^2)^8 overall — ~0.96 recall at sim 0.25); a 0.9-threshold
    near-dup config would use longer bands and fewer tables.

    Scale: this is the bucket-join shape — candidates come from a
    (table, bucket) equi-join, the signature subtree is persisted so
    the pandas-UDF matmul runs once, and NOTHING is all-pairs: no
    CartesianProduct/BroadcastNestedLoopJoin in the plan (asserted in
    tests/test_plans.py). The previous crossJoin version was O(n²) —
    a scale-killer the moment the sample is not tiny."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.vector import cosine_similarity
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.similarity import hyperplane_signs

    e = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 == 0)
        .select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    )
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot, cap_bucket_size

    sigs = _persist_slot(
        hyperplane_signs(
            e, "vec_id", "v",
            num_planes=_EMB_LSH_PLANES, dim=64, num_tables=_EMB_LSH_TABLES,
        ),
        "northstar.embedding_lsh_sigs",
    )
    # hot-bucket guard AFTER the persist (its bucket-count aggregation is
    # an extra consumer of the cached signature frame)
    sigs = cap_bucket_size(sigs, ["table", "bucket"], 1000)
    a = sigs.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "table", "bucket"
    )
    b = sigs.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "table", "bucket"
    )
    return (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        # score BEFORE the cross-table dedup (same move as knn_lsh): the
        # cosine is computed where the joined vectors already sit, so the
        # dropDuplicates shuffle carries (id_a, id_b, sim) instead of two
        # 64-double payloads; duplicate collisions re-fold identically,
        # so the kept row is value-identical
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 4).alias("sim"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("sim") >= 0.25)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------- similarity


@register(
    "knn_bruteforce",
    sql="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 40 = 0),
    pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.v, e.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))),
                   4) AS sim
      FROM q JOIN e ON e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, sim, rn AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs)
    WHERE rn <= 5 ORDER BY query_id, rnk
    """,
    headline=True,
)
def knn_bruteforce(spark, sf_dir):
    """Exact cosine top-5 for a deterministic query subset (vec_id % 40
    = 0): broadcast queries, corpus streams map-side, per-query top-k."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return S.knn_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id", "sim", "rnk"
    )


def _knn_lsh_oracle_sql(
    num_planes: int = 4, num_tables: int = 6, dim: int = 64, k: int = 5
) -> str:
    """DuckDB replica of the knn_lsh query: the SAME md5-derived plane
    weights as literals, per-table signature branches, bucket-join
    candidates, cosine, per-query top-k. Exact because
    hyperplane_signs rounds dot products to 1e-6 before the sign test
    (cross-engine summation-order safety)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.similarity import plane_weights

    w = plane_weights(num_planes * num_tables, dim)

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in vec) + "]"

    branches = []
    for t_i in range(num_tables):
        terms = [
            f"(CASE WHEN round(list_dot_product(v, {lit(w[t_i * num_planes + p])}), 6) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(num_planes)
        ]
        branches.append(
            f"SELECT vec_id, v, {t_i} AS tbl, " + " + ".join(terms) + " AS bucket FROM e"
        )
    sig = "\n      UNION ALL ".join(branches)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS ({sig}),
    q AS (SELECT * FROM sig WHERE vec_id % 40 = 0),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
                   4) AS sim
      FROM sig c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
                       AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rnk
      FROM cand)
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


@register("knn_lsh", sql=_knn_lsh_oracle_sql(), headline=True)
def knn_lsh(spark, sf_dir):
    """Approximate top-k via multi-table random-projection LSH (6 tables
    x 4 planes): scores only bucket-colliding candidates. FULLY
    oracle-checked: the DuckDB SQL regenerates the identical blocking
    from the same md5-derived plane-weight literals (was rows-only
    before the 1e-6 sign rounding made signatures engine-portable).
    Recall vs the exact baseline is asserted in
    tests/test_similarity.py."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return S.knn_lsh(emb, queries, k=5, num_planes=4, num_tables=6, dim=64).select(
        "query_id", "neighbor_id", "sim", "rnk"
    )


@register(
    "embedding_label_centroids",
    sql="""
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ),
    m AS (SELECT label, pos, avg(x) AS m FROM ex GROUP BY label, pos)
    SELECT label, round(sqrt(sum(m * m)), 4) AS centroid_norm,
           count(*) AS dim
    FROM m GROUP BY label ORDER BY label
    """,
)
def embedding_label_centroids(spark, sf_dir):
    """Element-wise centroid per label (posexplode + re-assemble), reduced
    to its norm for a compact oracle-checkable value."""
    emb = t(spark, sf_dir, "embeddings")
    cents = S.label_centroids(emb, "label", "embedding", dim=64)
    norm = F.sqrt(
        F.aggregate(F.col("centroid"), F.lit(0.0), lambda a, x: a + x * x)
    )
    return cents.select(
        "label",
        F.round(norm, 4).alias("centroid_norm"),
        F.size("centroid").cast("long").alias("dim"),
    ).orderBy("label")


# --------------------------------------------------------------------- text


@register(
    "text_stats",
    sql="""
    WITH w AS (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS ws
               FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
           round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS distinct_ratio,
           round(CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws), 4) AS avg_word_len,
           round(CAST(len(list_filter(ws, x -> list_contains(['hash','order','table','row','batch'], x))) AS DOUBLE)
                 / len(ws), 4) AS filler_ratio
    FROM w ORDER BY doc_id
    """,
    headline=True,
)
def text_stats(spark, sf_dir):
    """Per-document feature block (token counts, diversity, filler ratio)
    — pure map work; the 100 TB shape for quality filtering."""
    docs = t(spark, sf_dir, "documents")
    return X.text_stats(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "text_repetition",
    sql="""
    WITH words AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_filter([array_to_string(w[i:i+2], ' ')
                          FOR i IN range(1, greatest(len(w) - 2, 1) + 1)],
                         g -> g <> '') AS gs
      FROM words
    )
    SELECT doc_id,
           len(gs) AS total_grams,
           len(list_distinct(gs)) AS distinct_grams,
           round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
                       / greatest(len(gs), 1), 6) AS dup_fraction
    FROM grams ORDER BY doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filter signal: per document, the fraction
    of duplicate word 3-grams (1 - distinct/total). A document that
    repeats itself scores high and gets filtered before training.

    Scale: ENTIRELY row-local — grams, distinct count, and ratio are
    array expressions inside whole-stage codegen; the only exchange in
    the plan is the final presentation sort. This is the ideal quality-
    scoring shape: corpus-sized input, zero shuffle."""
    docs = t(spark, sf_dir, "documents")
    # the lambda reads the projected word array, split once per document
    words = F.col("words")
    positions = F.sequence(F.lit(1), F.greatest(F.size(words) - 2, F.lit(1)))
    grams = F.filter(
        F.transform(positions, lambda i: F.concat_ws(" ", F.slice(words, i, 3))),
        lambda g: g != "",
    )
    return (
        docs.select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("words"))
        .select("doc_id", grams.alias("gs"))
        .select(
            "doc_id",
            F.size("gs").alias("total_grams"),
            F.size(F.array_distinct("gs")).alias("distinct_grams"),
            F.round(
                1.0
                - F.size(F.array_distinct("gs")).cast("double")
                / F.greatest(F.size("gs"), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_quality",
    sql="""
    WITH w AS (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS ws
               FROM documents),
    s AS (SELECT doc_id,
                 len(ws) AS n_words,
                 round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS distinct_ratio,
                 round(CAST(len(list_filter(ws, x -> list_contains(['hash','order','table','row','batch'], x))) AS DOUBLE)
                       / len(ws), 4) AS filler_ratio
          FROM w)
    SELECT doc_id,
           round(0.4 * least(n_words / 100.0, 1.0)
                 + 0.4 * distinct_ratio + 0.2 * (1 - filler_ratio), 4) AS quality
    FROM s ORDER BY doc_id
    """,
)
def text_quality(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return X.quality_score(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "text_langid",
    sql="""
    WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
               FROM documents),
    scores AS (
      SELECT doc_id, l.lang,
             CAST(len(list_filter(ws, x -> list_contains(l.markers, x))) AS BIGINT) AS score
      FROM w, (SELECT * FROM (VALUES
                ('de', ['customer','hash','join']),
                ('en', ['hash','order','table']),
                ('es', ['slow','agg','merge']),
                ('fr', ['scan','data','query']),
                ('zh', ['slow','table','batch'])) AS v(lang, markers)) l
    )
    SELECT doc_id, lang AS predicted_lang, score AS marker_hits FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, lang) AS rn
      FROM scores)
    WHERE rn = 1 ORDER BY doc_id
    """,
)
def text_langid(spark, sf_dir):
    """Marker-word language-ID heuristic, argmax with lexicographic
    tie-break (deterministic classifier surface)."""
    docs = t(spark, sf_dir, "documents")
    return X.predict_language(docs, "doc_id", "text").select(
        "doc_id", "predicted_lang", "marker_hits"
    ).orderBy("doc_id")


@register(
    "text_token_counts",
    sql=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
             AS n_bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def text_token_counts(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count_whitespace("text").alias("n_ws_tokens"),
        X.token_count_bpe_ish("text").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


@register(
    "text_fingerprints",
    sql=f"""
    SELECT doc_id, md5(text) AS content_md5,
           {_h('text')} AS content_hash,
           list_min([{_h("substring(text, i, 8)")}
                     for i in range(1, greatest(length(text) - 7, 1) + 1)]) AS winnow_min
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprints(spark, sf_dir):
    """Rolling 8-gram winnowing fingerprint + content digests, hash
    family identical in both engines."""
    docs = t(spark, sf_dir, "documents")
    return X.doc_fingerprints(docs, "doc_id", "text", gram=8).orderBy("doc_id")


# --------------------------------------------------------------- multimodal


@register(
    "multimodal_binary_meta",
    sql="""
    SELECT doc_id AS asset_id, 'text' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest_md5
    FROM documents ORDER BY asset_id
    """,
)
def multimodal_binary_meta(spark, sf_dir):
    """Binary-payload metadata derivation (the typed-metadata half of the
    multimodal design; the mapInPandas feature path is exercised in
    tests/test_multimodal.py)."""
    docs = t(spark, sf_dir, "documents")
    assets = binary_assets(docs, "doc_id", "text", "text")
    return assets.select("asset_id", "modality", "n_bytes", "digest_md5").orderBy("asset_id")


@register(
    "text_tfidf_top_term",
    headline=True,
    sql="""
    WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
               FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w WHERE word <> ''
           GROUP BY doc_id, word),
    dfreq AS (SELECT word, count(DISTINCT doc_id) AS dfreq FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             round(tf * ln(CAST(n_docs AS DOUBLE) / dfreq), 6) AS tfidf
      FROM tf JOIN dfreq ON tf.word = dfreq.word CROSS JOIN n
    )
    SELECT doc_id, word AS top_term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, word) AS rn
      FROM scored)
    WHERE rn = 1 ORDER BY doc_id
    """,
)
def text_tfidf_top_term(spark, sf_dir):
    """TF-IDF: term frequency x inverse document frequency, top term per
    doc. Scale: two aggregations (tf, df) + a broadcast join of the df
    table (vocabulary-sized, tiny next to the corpus); the integer inputs
    make ln() bit-identical across engines. N is a 1-row aggregate
    crossJoin-broadcast into the scoring — NOT a driver-side
    ``docs.count()``, which was an extra full corpus scan per run."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot

    docs = t(spark, sf_dir, "documents")
    w = docs.selectExpr(
        "doc_id", "explode(split(lower(text), '\\\\s+')) AS word"
    ).filter("word != ''")
    # tf feeds BOTH the df branch and the scoring join; Catalyst does not
    # share common subtrees, so without the slot the corpus explode +
    # aggregation runs twice per execution. Clustering tf by doc_id
    # (r13): the tf aggregation groups on (doc_id, word) — clustering by
    # doc_id alone co-locates those groups AND leaves the cached frame
    # hash-partitioned on doc_id, so the final per-doc argmax below runs
    # WITHOUT its own Exchange (was a second full shuffle of the scored
    # terms; guide §2.4 — two operations keyed the same way share one
    # exchange).
    # sortWithinPartitions(doc_id) on the CACHED frame (r13, session 7):
    # the per-doc argmax below plans as Sort + SortAggregate (min_by's
    # struct ordering is not hash-aggregable); InMemoryTableScan reports
    # the cached plan's output ordering, so pre-sorting the slot build
    # satisfies the SortAggregate's required ordering and the per-run
    # sort of every scored term disappears — the sort is paid once at
    # slot build instead of once per execution.
    tf = _persist_slot(
        w.repartition("doc_id")
        .groupBy("doc_id", "word")
        .agg(F.expr("count(*) AS tf"))
        .sortWithinPartitions("doc_id"),
        "northstar.tfidf_tf",
    )
    # count(*), not count_distinct(doc_id): tf has exactly one row per
    # (doc_id, word) by construction, so the values are identical and the
    # distinct pre-aggregation (a second full pass shape over the cached
    # frame) drops out of the dfreq stage.
    dfreq = tf.groupBy("word").agg(F.expr("count(*) AS dfreq"))
    n = docs.agg(F.expr("CAST(count(*) AS DOUBLE) AS _n_docs"))
    # ONE broadcast build instead of two: the 1-row corpus count rides
    # the vocabulary-sized dfreq dim (a broadcast build is a whole
    # scheduler round; two of them per run was pure overhead)
    scored = tf.join(F.broadcast(dfreq.crossJoin(n)), "word").selectExpr(
        "doc_id", "word", "round(tf * ln(_n_docs / dfreq), 6) AS tfidf"
    )
    # per-doc argmax as an aggregation (map-side combinable) instead of a
    # row_number window — no per-partition full sort of the scored terms;
    # min over (-tfidf, word) == (tfidf DESC, word ASC)
    return (
        scored.groupBy("doc_id")
        .agg(F.expr("min_by(struct(word, tfidf), struct(-tfidf, word)) AS _top"))
        .selectExpr("doc_id", "_top.word AS top_term", "_top.tfidf AS tfidf")
        .orderBy("doc_id")
    )


@register(
    "embedding_quantize",
    sql="""
    SELECT vec_id,
           CAST(sum(CAST(floor(x * 127) AS BIGINT)) AS BIGINT) AS q_sum,
           CAST(min(CAST(floor(x * 127) AS BIGINT)) AS BIGINT) AS q_min,
           CAST(max(CAST(floor(x * 127) AS BIGINT)) AS BIGINT) AS q_max
    FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x FROM embeddings)
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def embedding_quantize(spark, sf_dir):
    """int8-style quantization of embeddings (floor(x*127)): the storage/
    bandwidth lever for vector search at scale. Integer outputs — exact
    cross-engine parity."""
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.explode(F.col("embedding").cast("array<double>")).alias("x")
    )
    q = F.floor(F.col("x") * 127).cast("long")
    return (
        ex.groupBy("vec_id")
        .agg(
            F.sum(q).cast("long").alias("q_sum"),
            F.min(q).cast("long").alias("q_min"),
            F.max(q).cast("long").alias("q_max"),
        )
        .orderBy("vec_id")
    )


def _knn_ivf_oracle_sql(k_cent: int = 8, dim: int = 64, n_probe: int = 3, k: int = 5) -> str:
    """DuckDB replica of the knn_ivf query: the SAME md5-derived literal
    centroids (operators/similarity.py literal_centroids) enter the SQL
    as VALUES rows; nearest-centroid assignment, the query's n_probe
    probe list, and cosine top-k are all re-derived in static SQL.
    Distances round to 6 dp before ranking (ties break on centroid
    index) — the identical portability rule the Spark UDF applies, so
    the blocking is exact, not sampled."""
    import numpy as np

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.similarity import literal_centroids

    cents = literal_centroids(k_cent, dim)
    cc = (np.asarray(cents, dtype=np.float64) ** 2).sum(axis=1)

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in vec) + "]"

    rows = ",\n      ".join(
        # float() strips the numpy scalar: np.float64.__repr__ becomes
        # 'np.float64(x)' under numpy >= 2.0, which is not SQL
        f"({c}, {lit(cents[c])}::DOUBLE[], {float(cc[c])!r})" for c in range(k_cent)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent(c, w, cc) AS (VALUES
      {rows}),
    dist AS (
      SELECT vec_id, v, c,
             round(list_dot_product(v, v) - 2 * list_dot_product(v, w) + cc, 6) AS d
      FROM e CROSS JOIN cent
    ),
    assign AS (
      SELECT vec_id, v, c AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM dist) WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, v AS qv, c AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM dist WHERE vec_id % 40 = 0) WHERE rn <= {n_probe}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
             round(list_dot_product(p.qv, a.v)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(a.v, a.v))),
                   4) AS sim
      FROM assign a JOIN probe p ON a.cluster = p.cluster
                                AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rnk
      FROM cand)
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


@register("knn_ivf", sql=_knn_ivf_oracle_sql())
def knn_ivf_query(spark, sf_dir):
    """IVF approximate top-k, FULLY oracle-checked (was the last rows-only
    similarity query): the coarse quantizer here is the md5-derived
    literal-centroid variant (operators/similarity.py literal_centroids),
    so assignment + 3-probe selection + cosine top-k are re-derived by
    the DuckDB oracle from the same literals — the exact move that gave
    knn_lsh its oracle. The production path (Lloyd-trained
    kmeans_centroids + materialized IVFIndex with partition-pruned
    search) is exercised in tests/test_similarity.py, including recall;
    this query pins the SEARCH semantics with a hard external signal.
    At scale the inverted lists are a cluster-partitioned table and
    searches prune to n_probe partitions."""
    emb = t(spark, sf_dir, "embeddings")
    cents = S.literal_centroids(8, 64)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return S.knn_ivf(emb, queries, cents, k=5, n_probe=3).select(
        "query_id", "neighbor_id", "sim", "rnk"
    )


@register(
    "inverted_index_postings",
    sql=r"""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      FROM documents
    )
    SELECT term,
           count(DISTINCT doc_id) AS df,
           count(*) AS cf,
           array_to_string(list_sort(list_distinct(list(doc_id))), ',') AS postings
    FROM w GROUP BY term HAVING count(DISTINCT doc_id) >= 5 ORDER BY term
    """,
)
def inverted_index_postings(spark, sf_dir):
    """Inverted-index build: explode terms, aggregate per-term document
    frequency, collection frequency, and the sorted posting list — the
    search/retrieval primitive behind corpus search and contamination
    checks. Scale: one shuffle on term; posting lists are per-term
    arrays built by collect_set (never a driver collect). Terms with
    df < 5 are dropped (the long tail dominates vocabulary but not
    retrieval). Postings render as a sorted comma string so the oracle
    compare is order-exact."""
    docs = t(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(X.words("text")).alias("term"))
    return (
        w.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings"),
        )
        .filter(F.col("df") >= 5)
        .orderBy("term")
    )


def _pii_oracle_sql() -> str:
    """DuckDB replica of text_pii_redaction: the same RE2-safe regexes
    (operators/text.py PII_PATTERNS) count on the salted text and then
    replace in declaration order ('g' flag = Spark's replace-all)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.text import PII_PATTERNS

    salted = (
        "text || CASE WHEN doc_id % 3 = 0 THEN"
        " ' reach user' || doc_id || '@mail.example.org"
        " call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.77'"
        " ELSE '' END"
    )
    red = "t"
    for _name, rx, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{rx}', '{token}', 'g')"
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(t, '{rx}')) AS BIGINT) AS n_{name}"
        for name, rx, _tok in PII_PATTERNS
    )
    return f"""
    WITH salted AS (SELECT doc_id, {salted} AS t FROM documents)
    SELECT doc_id,
           {counts},
           md5({red}) AS redacted_md5
    FROM salted ORDER BY doc_id
    """


@register("text_pii_redaction", sql=_pii_oracle_sql())
def text_pii_redaction(spark, sf_dir):
    """PII scrub — the redaction pass a training corpus runs before it
    ships (operators/text.py redact_pii): emails, phone numbers, IPv4
    addresses counted then replaced with typed tokens. The fixture text
    is synthetic word-salad with no PII, so the query deterministically
    SALTS a third of the documents with doc_id-derived addresses first;
    the operator itself is generic. RE2-safe patterns (no lookaround)
    make the same regex text run identically on Java's engine and
    DuckDB's RE2; output is counts + an md5 of the redacted text, so
    the oracle checks every replaced byte.

    Scale: row-local regexp_count/regexp_replace expressions in
    whole-stage codegen — zero shuffle (the presentation sort is the
    only exchange)."""
    docs = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    salt = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(" reach user"),
            did.cast("string"),
            F.lit("@mail.example.org call 555-123-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.2."),
            (did % 256).cast("string"),
            F.lit(".77"),
        ),
    ).otherwise(F.lit(""))
    salted = docs.select("doc_id", F.concat(F.col("text"), salt).alias("text"))
    red = X.redact_pii(salted, "doc_id", "text")
    return red.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5("text_redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "text_unigram_logprob",
    sql=r"""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
      FROM documents
    ),
    tok AS (SELECT doc_id, w FROM w WHERE w <> ''),
    vocab AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
    total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM vocab)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(cnt / n)), 6) AS avg_neg_logp
    FROM tok JOIN vocab USING (w) CROSS JOIN total
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Unigram-LM perplexity proxy (operators/text.py unigram_logprob):
    mean -ln p(word) per document under the corpus's own unigram model —
    the classic CCNet-style quality-filter signal (word-soup documents
    score high). The LM fit, the in-plan corpus-total broadcast, and the
    scoring join are all replayed by the oracle; avg rounds to 6 dp so
    summation order across engines cannot leak into the hash."""
    docs = t(spark, sf_dir, "documents")
    return X.unigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "text_bigram_logprob",
    sql=r"""
    WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
               FROM documents),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 2
                         THEN list_filter([array_to_string(ws[i:i+1], ' ')
                                           FOR i IN range(1, len(ws)-1+1)],
                                          x -> x <> '')
                         ELSE [] END) AS g
      FROM w
    ),
    counts AS (SELECT g, count(*) AS cnt FROM g GROUP BY g),
    lefts AS (
      SELECT split_part(g, ' ', 1) AS w1, CAST(sum(cnt) AS BIGINT) AS lcnt
      FROM counts GROUP BY 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(CAST(cnt AS DOUBLE) / lcnt)), 6) AS avg_neg_logp
    FROM g
    JOIN counts USING (g)
    JOIN lefts ON lefts.w1 = split_part(g.g, ' ', 1)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_logprob(spark, sf_dir):
    """Bigram-LM perplexity proxy (operators/text.py bigram_logprob):
    mean -ln p(w2|w1) per document under the corpus's own conditional
    bigram MLE — catches REORDERED text (scrambled scrapes, shuffled
    boilerplate) that unigram perplexity cannot see. The gram fit, the
    left-word marginals, and the scoring joins are all replayed by the
    oracle; avg rounds to 6 dp so summation order cannot leak into the
    hash.

    Scale: one gram explode feeds both fit and scoring; the marginals
    aggregate the FITTED table, not the corpus; shuffles carry grams and
    counters, never documents."""
    docs = t(spark, sf_dir, "documents")
    return X.bigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "corpus_mix_weights",
    sql="""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(length(text)) AS BIGINT) AS n_chars
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS n FROM per)
    SELECT source, n_docs, n_chars,
           round(n_docs / n, 6) AS actual_share,
           round((1.0 / (SELECT count(*) FROM per)) / (n_docs / n), 6)
             AS uniform_weight
    FROM per CROSS JOIN tot ORDER BY source
    """,
)
def corpus_mix_weights(spark, sf_dir):
    """Source-mixing weights for corpus assembly: per source, its actual
    share of documents and the resampling weight that would flatten the
    mix to uniform (the domain-reweighting step of every training-data
    recipe — DoReMi-style mixes just swap the target vector in). Shares
    and weights are plan-internal broadcast aggregates; nothing touches
    the driver.

    Scale: one groupBy(source) over the corpus (map-side combined); the
    totals are 1-row broadcast joins."""
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("double").alias("_n"),
        F.count(F.lit(1)).cast("double").alias("_k"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.round(F.col("n_docs") / F.col("_n"), 6).alias("actual_share"),
            F.round(
                (1.0 / F.col("_k")) / (F.col("n_docs") / F.col("_n")), 6
            ).alias("uniform_weight"),
        )
        .orderBy("source")
    )


@register(
    "vocab_top_bigrams",
    sql=r"""
    WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
               FROM documents),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 2
                         THEN list_filter([array_to_string(ws[i:i+1], ' ')
                                           FOR i IN range(1, len(ws)-1+1)],
                                          x -> x <> '')
                         ELSE [] END) AS gram
      FROM w
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS total_count,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM g GROUP BY gram ORDER BY total_count DESC, gram LIMIT 50
    """,
)
def vocab_top_bigrams(spark, sf_dir):
    """Tokenizer-prep vocabulary build (operators/text.py corpus_vocab):
    top-50 word bigrams by total occurrence with document frequency —
    the counting pass a BPE/vocab fit runs over the whole corpus.
    (gram, total_count, doc_freq); (total DESC, gram ASC) is a total
    order so the rank-50 boundary is deterministic.

    Scale: grams built row-locally, one explode, groupBy(gram) with
    map-side partial aggregation (shuffle carries gram+counters, not
    documents), top-k via TakeOrderedAndProject — never a full sort."""
    docs = t(spark, sf_dir, "documents")
    return X.corpus_vocab(docs, "doc_id", "text", n=2, k=50)


@register(
    "text_boilerplate_lines",
    sql=rf"""
    WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
               FROM documents),
    l AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(
               [array_to_string(ws[i:i+7], ' ')
                FOR i IN range(1, greatest(len(ws),1)+1, 8)],
               x -> x <> ''))) AS line
      FROM w
    ),
    h AS (SELECT doc_id, {_h('line')} AS line_h FROM l),
    c AS (SELECT line_h, count(*) AS n_docs FROM h GROUP BY line_h)
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           round(CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS boilerplate_ratio
    FROM h JOIN c USING (line_h)
    GROUP BY h.doc_id ORDER BY h.doc_id
    """,
)
def text_boilerplate_lines(spark, sf_dir):
    """CCNet-style cross-document line dedup signal (operators/text.py
    boilerplate_line_ratio): fraction of each document's distinct 8-word
    "lines" that appear in >=2 documents corpus-wide — the remove-
    boilerplate pass (headers/footers/mirrored pages) of a training-data
    pipeline. The fixture corpus has no sentence punctuation, so fixed
    8-word windows stand in for lines.

    Scale: chunking + distinct are row-local; the corpus-wide frequency
    groupBy and the join back shuffle 60-bit line hashes (not text), with
    map-side combine absorbing the hot boilerplate keys."""
    docs = t(spark, sf_dir, "documents")
    return X.boilerplate_line_ratio(
        docs, "doc_id", "text", line_len=8, min_docs=2
    ).orderBy("doc_id")


@register(
    "knn_filtered",
    sql="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 40 = 0),
    pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, q.label,
             round(list_dot_product(q.v, e.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(e.v, e.v))),
                   4) AS sim
      FROM q JOIN e ON e.label = q.label AND e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, label, sim, rn AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs)
    WHERE rn <= 5 ORDER BY query_id, rnk
    """,
)
def knn_filtered(spark, sf_dir):
    """Filtered vector search (operators/similarity.py knn_filtered):
    exact cosine top-5 restricted to neighbors sharing the query's
    label — the tenant/category-scoped ANN pattern. The metadata filter
    becomes the JOIN KEY, so each query meets only its label's segment
    of the corpus (|Q|x|C| pairs collapse to per-segment sums)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return S.knn_filtered(emb, queries, filter_cols=["label"], k=5).select(
        "query_id", "neighbor_id", "label", "sim", "rnk"
    )


@register(
    "quality_median_filter",
    sql="""
    WITH w AS (SELECT doc_id, lang,
                      string_split_regex(lower(text), '\\s+') AS ws
               FROM documents),
    s AS (SELECT doc_id, lang,
                 len(ws) AS n_words,
                 round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS distinct_ratio,
                 round(CAST(len(list_filter(ws, x -> list_contains(['hash','order','table','row','batch'], x))) AS DOUBLE)
                       / len(ws), 4) AS filler_ratio
          FROM w),
    q AS (SELECT doc_id, lang,
                 round(0.4 * least(n_words / 100.0, 1.0)
                       + 0.4 * distinct_ratio + 0.2 * (1 - filler_ratio), 4) AS quality
          FROM s),
    m AS (SELECT lang, quantile_cont(quality, 0.5) AS med FROM q GROUP BY lang)
    SELECT q.lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN quality >= med THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(med, 6) AS median_quality,
           round(CAST(sum(CASE WHEN quality >= med THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS kept_ratio
    FROM q JOIN m ON q.lang = m.lang
    GROUP BY q.lang, med ORDER BY q.lang
    """,
)
def quality_median_filter(spark, sf_dir):
    """Per-language quality gate: keep documents at or above their
    language's MEDIAN quality score — the "top half by quality, per
    language" filtering step of a corpus recipe (a global threshold
    would silently empty low-resource languages; per-group medians keep
    the mix). Reports per lang: totals, kept count/ratio, the median.

    Cross-engine exactness: quality is rounded to 4 decimals, so scores
    are integer multiples of 1e-4 and the interpolated median (mean of
    two such values) is exactly representable — Spark's percentile()
    and DuckDB's quantile_cont() produce bit-identical doubles, making
    the >= comparison deterministic.

    Scale: one groupBy(lang) for the medians (tiny aggregate,
    broadcast back), one groupBy(lang) for the report — the per-doc
    scoring is row-local map work."""
    docs = t(spark, sf_dir, "documents")
    q = X.quality_score(docs, "doc_id", "text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    med = q.groupBy("lang").agg(F.percentile("quality", 0.5).alias("med"))
    kept = (F.col("quality") >= F.col("med")).cast("long")
    return (
        q.join(F.broadcast(med), "lang")
        .groupBy("lang", "med")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.round(F.sum(kept) / F.count(F.lit(1)), 4).alias("kept_ratio"),
        )
        .select(
            "lang",
            "n_total",
            "n_kept",
            F.round("med", 6).alias("median_quality"),
            "kept_ratio",
        )
        .orderBy("lang")
    )


@register(
    "corpus_datasheet",
    sql="""
    WITH w AS (SELECT doc_id, lang, source,
                      string_split_regex(lower(text), '\\s+') AS ws
               FROM documents),
    s AS (SELECT doc_id, lang, source,
                 len(ws) AS n_words,
                 round(0.4 * least(len(ws) / 100.0, 1.0)
                       + 0.4 * round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4)
                       + 0.2 * (1 - round(CAST(len(list_filter(ws,
                             x -> list_contains(['hash','order','table','row','batch'], x))) AS DOUBLE)
                             / len(ws), 4)), 4) AS quality
          FROM w),
    per AS (SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS n_tokens,
                   round(CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*), 6) AS mean_quality
            FROM s GROUP BY lang, source),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM per)
    SELECT lang, source, n_docs, n_tokens, mean_quality,
           round(n_tokens / t, 6) AS token_share
    FROM per CROSS JOIN tot
    ORDER BY lang, source
    """,
)
def corpus_datasheet(spark, sf_dir):
    """The corpus "data card" aggregate: per (language, source) cell,
    document count, whitespace-token total, mean quality score, and the
    cell's share of all tokens — the datasheet table every corpus
    release publishes and every mixing decision starts from.

    Scale: per-doc token counts and quality are row-local expressions;
    ONE groupBy(lang, source) with map-side partials; the corpus token
    total rides a 1-row broadcast aggregate inside the plan."""
    docs = t(spark, sf_dir, "documents")
    q = X.quality_score(docs, "doc_id", "text")
    base = docs.select(
        "doc_id", "lang", "source", X.token_count_whitespace("text").alias("n_words")
    ).join(q, "doc_id")
    per = base.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        # exact decimal sum -> identical doubles in both engines before
        # the divide (ROUND_NOTES rule 2: float avg is summation-order-
        # dependent; quality is 4-decimal fixed-point so the cast is
        # exact). Round at 6dp, not 4: a 4dp sum over a power-of-two
        # group size yields quotients EXACT at 5-6 decimals, and
        # rounding at fewer digits than the value's intrinsic precision
        # is the cross-engine half-way hazard (rule 3; bit us here at
        # sf0.001 with a 4-doc group: 2.3406/4 = 0.585150).
        F.round(
            F.sum(F.col("quality").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("_t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "mean_quality",
            F.round(F.col("n_tokens") / F.col("_t"), 6).alias("token_share"),
        )
        .orderBy("lang", "source")
    )


@register(
    "dedup_incremental_index",
    sql=_MINHASH_SQL_BODY
    + """
    , band2 AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS bucket,
             doc_id % 2 = 1 AS is_probe
      FROM sigs GROUP BY doc_id, seed // 2
    ),
    -- hot-bucket guard over the UNION of index and probe bands
    capped AS (
      SELECT doc_id, band, bucket, is_probe FROM (
        SELECT band2.*, count(*) OVER (PARTITION BY band, bucket) AS bsz
        FROM band2)
      WHERE bsz <= 1000
    ),
    -- a probe doc pairs with indexed docs and with LOWER-id probe docs
    cands AS (
      SELECT DISTINCT p.doc_id AS pid, q.doc_id AS cid
      FROM capped p JOIN capped q
        ON p.band = q.band AND p.bucket = q.bucket
      WHERE p.is_probe
        AND ((NOT q.is_probe AND q.doc_id <> p.doc_id) OR q.doc_id < p.doc_id)
    ),
    est AS (
      SELECT pid, cid,
             CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS ej
      FROM cands
      JOIN sigs a ON a.doc_id = pid
      JOIN sigs b ON b.doc_id = cid AND b.seed = a.seed
      GROUP BY pid, cid
    ),
    best AS (
      SELECT pid, cid, ej,
             row_number() OVER (PARTITION BY pid ORDER BY ej DESC, cid) AS rn
      FROM est WHERE ej >= 0.5
    )
    SELECT d.doc_id, b.cid IS NOT NULL AS is_duplicate,
           b.cid AS dup_of, b.ej AS est_jaccard
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.pid = d.doc_id
    WHERE d.doc_id % 2 = 1
    ORDER BY d.doc_id
    """,
)
def dedup_incremental_index(spark, sf_dir):
    """Continuous-ingestion near-dup gate (operators/dedup_index.py):
    even-id documents stand in for the accepted index, odd-id documents
    for the arriving batch; each batch doc is flagged against the index
    AND earlier batch rows via one tagged (band, bucket) join, verified
    by MinHash signature agreement (exact multiples of 1/8 — binary-safe
    doubles). The oracle replays shingling, the seeded hash family,
    banding, the union hot-bucket cap, the tagged candidate join, and
    the (agreement desc, id asc) argmax.

    Scale: the persisted artifact is k longs per accepted doc; the probe
    shuffles 16-byte bucket digests only; candidate verification needs
    nothing beyond the signatures already joined in."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup_index import incremental_flags

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot

    docs = t(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    index_docs = docs.filter(F.col("doc_id") % 2 == 0)
    # the index signatures feed two consumers inside incremental_flags
    # (band build + signature pool); the slot keeps the index-side
    # shingle/md5 pass to one execution (r13 plan audit: 6 documents
    # scans in this plan) — and it IS the persisted-artifact semantics
    # the operator models (accepted signatures are stored, not re-derived)
    index_sigs = _persist_slot(
        D.minhash_signatures(
            D.word_shingles(index_docs, "doc_id", "text", n=3), "doc_id", num_hashes=8
        ),
        "northstar.incr_index_sigs",
    )
    return incremental_flags(
        probe, "doc_id", "text", index_sigs=index_sigs,
        shingle_n=3, num_hashes=8, rows_per_band=2,
        threshold=0.5, max_bucket_size=1000,
    ).orderBy("doc_id")


def _knn_pq_oracle_sql(m: int = 4, ksub: int = 16, dim: int = 64, k: int = 5) -> str:
    """DuckDB replica of knn_pq: the md5-derived literal codebooks
    (operators/similarity.py pq_codebooks) enter as VALUES rows; per-
    subspace micro-distances (round(round(d,6)*1e6) as BIGINT — the
    double-round makes the integer conversion boundary-safe), argmin
    encoding with (d, k) ties, and the ADC integer sum are all re-derived
    in static SQL. The HUGEINT sum is cast back to BIGINT (rule 9)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.similarity import pq_codebooks

    books = pq_codebooks(m, ksub, dim)
    dsub = dim // m

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in vec) + "]"

    rows = ",\n      ".join(
        f"({s}, {kk}, {lit(books[s][kk])}::DOUBLE[], "
        f"{float(sum(x * x for x in books[s][kk]))!r})"
        for s in range(m)
        for kk in range(ksub)
    )
    sub = f"v[cb.s*{dsub}+1 : cb.s*{dsub}+{dsub}]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cb(s, k, w, ww) AS (VALUES
      {rows}),
    dist AS (
      SELECT e.vec_id, cb.s, cb.k,
             CAST(round(round(
               list_dot_product({sub}, {sub})
               - 2 * list_dot_product({sub}, cb.w) + cb.ww, 6) * 1000000)
             AS BIGINT) AS d
      FROM e CROSS JOIN cb
    ),
    enc AS (
      SELECT vec_id, s, k AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) AS rn
        FROM dist) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS query_id, enc.vec_id AS neighbor_id,
             CAST(sum(q.d) AS BIGINT) AS adist_micro
      FROM enc JOIN dist q ON q.s = enc.s AND q.k = enc.code
      WHERE q.vec_id % 40 = 0 AND enc.vec_id <> q.vec_id
      GROUP BY q.vec_id, enc.vec_id
    )
    SELECT query_id, neighbor_id, adist_micro, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist_micro, neighbor_id) AS rnk
      FROM adc) WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


@register("knn_pq", sql=_knn_pq_oracle_sql())
def knn_pq_query(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py knn_pq): the
    corpus is scanned as 4 small codes per vector (vs 64 floats — the
    memory-compression scale path), queries carry m x ksub integer
    micro-distance tables, and the asymmetric distance is an exact
    integer sum of table lookups ranked per query. Codebooks here are
    the md5-derived literals so every code and distance is re-derived by
    the oracle; trained per-subspace k-means (pq_train_codebooks) is the
    production quantizer, recall-tested in tests/test_similarity.py.

    Scale: the encoded corpus is ~32x smaller than the raw vectors,
    queries broadcast with their tables, scoring is JVM-side integer
    aggregation — no Python, no shuffle of the corpus."""
    emb = t(spark, sf_dir, "embeddings")
    books = S.pq_codebooks(4, 16, 64)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return S.knn_pq(emb, queries, books, k=5)


@register(
    "text_hash_embedding",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents)
      WHERE t <> ''
    ),
    h AS (SELECT doc_id, {_h('t')} AS hv FROM toks),
    e AS (
      SELECT doc_id, (hv // 2) % 64 AS idx,
             CAST(sum(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS w
      FROM h GROUP BY doc_id, (hv // 2) % 64
    )
    SELECT doc_id, CAST(idx AS INTEGER) AS idx, w
    FROM e WHERE w <> 0 ORDER BY doc_id, idx
    """,
)
def text_hash_embedding(spark, sf_dir):
    """Feature-hashing vectorizer (operators/text.py hashed_embedding):
    tokens map to (index, sign) from the stable 60-bit hash — parity bit
    is the sign, the shifted hash mod 64 the index — and sum into a
    dense 64-dim double vector, the bridge from the text family into
    every vector operator (knn, PQ, embedding dedup). No vocabulary, no
    fit: the model IS the hash, which is why the transform scales to
    unbounded vocabularies with one aggregation. The query posexplodes
    the DENSE operator output back to its non-zero entries so assembly,
    indices, signs and sums are all value-checked by the oracle
    replaying the identical hash arithmetic.

    Scale: tokens shuffle only as (id, idx) partial sums; the dense
    assembly is one per-doc map build."""
    docs = t(spark, sf_dir, "documents")
    emb = X.hashed_embedding(docs, "doc_id", "text", dim=64)
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("idx", "w"))
        .filter(F.col("w") != 0)
        .orderBy("doc_id", "idx")
    )


@register(
    "text_shared_passages",
    sql=f"""
    WITH docs AS (
      SELECT doc_id, substring(text, 1, 400) AS text
      FROM documents WHERE doc_id % 4 = 0
    ),
    gh AS (
      SELECT doc_id,
             [{_h("substring(text, i, 8)")}
              for i in range(1, greatest(length(text) - 7, 1) + 1)] AS g
      FROM docs
    ),
    wins AS (
      SELECT doc_id,
             list_distinct([list_min(g[i:i+15])
                            for i in range(1, greatest(len(g) - 15, 1) + 1)]) AS fps
      FROM gh
    ),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
    capped AS (
      SELECT doc_id, fp FROM (
        SELECT fp.*, count(*) OVER (PARTITION BY fp) AS c FROM fp)
      WHERE c <= 1000
    )
    SELECT id_a, id_b, shared_fps FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
      FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    WHERE shared_fps >= 3
    ORDER BY id_a, id_b
    """,
)
def text_shared_passages(spark, sf_dir):
    """Shared-passage detection (operators/text.py shared_passage_pairs):
    pairs of documents sharing >= 3 full-winnowing fingerprints — any
    common substring of length >= 23 chars (gram 8, window 16) leaves an
    identical fingerprint in both docs, so this catches copied passages
    between globally DISSIMILAR documents (the axis MinHash whole-doc
    dedup misses). The oracle replays gram hashing, per-window minima,
    the hot-fingerprint cap, and the collision counts.

    Scale: fingerprints (one per ~16 chars) are the only shuffle keys;
    hot boilerplate fingerprints are capped before the self-join. The
    QUERY scopes to a doc subset and a 400-char prefix purely to bound
    the ORACLE's list-comprehension cost (DuckDB evaluates the rolling
    grams interpretively); the operator itself has no such limits."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.substring("text", 1, 400).alias("text")
    )
    return X.shared_passage_pairs(
        docs, "doc_id", "text", gram=8, window=16, min_shared=3
    ).orderBy("id_a", "id_b")


@register(
    "bm25_search",
    sql=r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents
    ),
    pd AS (
      SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
             CAST(len(list_filter(ws, x -> x = 'hash'))  AS DOUBLE) AS tf0,
             CAST(len(list_filter(ws, x -> x = 'order')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(ws, x -> x = 'batch')) AS DOUBLE) AS tf2
      FROM w
    ),
    st AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      FROM pd
    )
    SELECT doc_id,
           round(
             ln((n - df0 + 0.5)/(df0 + 0.5) + 1.0) * tf0 * 2.2
               / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             + ln((n - df1 + 0.5)/(df1 + 0.5) + 1.0) * tf1 * 2.2
               / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             + ln((n - df2 + 0.5)/(df2 + 0.5) + 1.0) * tf2 * 2.2
               / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)),
             4) AS score
    FROM pd, st
    WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def bm25_search(spark, sf_dir):
    """Okapi BM25 ranked retrieval (operators/text.py bm25_scores) for
    the literal query {hash, order, batch}: top-20 documents by the
    standard full-text relevance function, ties to the smaller id. The
    oracle recomputes tf/df/N/avgdl and the identical arithmetic
    association per term; scores round at 4 dp before ranking (the ln()
    libm class of divergence — same acceptance as pow in the sampling
    and distance oracles).

    Scale: term frequencies are row-local array counts (the query is a
    literal term list — no posting join, no text shuffle); corpus stats
    are one tiny broadcast aggregate; top-20 is TakeOrdered, never a
    global sort."""
    docs = t(spark, sf_dir, "documents")
    s = X.bm25_scores(docs, "doc_id", "text", ["hash", "order", "batch"])
    return (
        s.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "hybrid_search_rrf",
    sql=r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents
    ),
    pd AS (
      SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
             CAST(len(list_filter(ws, x -> x = 'hash'))  AS DOUBLE) AS tf0,
             CAST(len(list_filter(ws, x -> x = 'order')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(ws, x -> x = 'batch')) AS DOUBLE) AS tf2
      FROM w
    ),
    st AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      FROM pd
    ),
    bm AS (
      SELECT doc_id,
             round(
               ln((n - df0 + 0.5)/(df0 + 0.5) + 1.0) * tf0 * 2.2
                 / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               + ln((n - df1 + 0.5)/(df1 + 0.5) + 1.0) * tf1 * 2.2
                 / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               + ln((n - df2 + 0.5)/(df2 + 0.5) + 1.0) * tf2 * 2.2
                 / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)),
               4) AS score
      FROM pd, st WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
    ),
    bm_rank AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      FROM bm QUALIFY r <= 20
    ),
    -- hashed-embedding sparse entries for docs and for the literal query
    toks AS (SELECT doc_id, t FROM (SELECT doc_id, unnest(ws) AS t FROM w) WHERE t <> ''),
    h AS (SELECT doc_id, CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS hv FROM toks),
    de AS (
      SELECT doc_id, (hv // 2) % 64 AS idx,
             CAST(sum(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS wv
      FROM h GROUP BY doc_id, (hv // 2) % 64
    ),
    qh AS (SELECT CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS hv
           FROM (SELECT unnest(['hash', 'order', 'batch']) AS t)),
    qe AS (
      SELECT (hv // 2) % 64 AS idx,
             CAST(sum(CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS wv
      FROM qh GROUP BY (hv // 2) % 64
    ),
    dn AS (SELECT doc_id, sqrt(sum(wv * wv)) AS nrm FROM de WHERE wv <> 0 GROUP BY doc_id),
    qn AS (SELECT sqrt(sum(wv * wv)) AS nrm FROM qe WHERE wv <> 0),
    cos AS (
      SELECT de.doc_id,
             round(sum(de.wv * qe.wv) / (any_value(dn.nrm) * any_value(qn.nrm)), 6) AS sim
      FROM de JOIN qe ON de.idx = qe.idx AND de.wv <> 0 AND qe.wv <> 0
      JOIN dn ON dn.doc_id = de.doc_id
      CROSS JOIN qn
      GROUP BY de.doc_id
      HAVING sum(de.wv * qe.wv) <> 0
    ),
    cos_rank AS (
      SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r
      FROM cos QUALIFY r <= 20
    ),
    fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             round(coalesce(1.0 / (60 + b.r), 0) + coalesce(1.0 / (60 + c.r), 0), 6) AS rrf
      FROM bm_rank b FULL JOIN cos_rank c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 top-20
    and the hashed-embedding cosine top-20 for the same literal query
    {hash, order, batch} — the lexical + dense two-tower pattern every
    retrieval stack runs, composed entirely from already-oracled pieces
    (bm25_scores + hashed_embedding) with the query vector built in-plan
    from the literal terms. The oracle replays both rankings and the
    fusion arithmetic; cosine rounds at 6 dp and BM25 at 4 dp before
    ranking, RRF at 6 dp before the final order.

    Scale: both branches are one corpus scan each (row-local tf / sparse
    hash entries), stats and the 64-dim query vector broadcast; fusion
    is a full join of two 20-row frames."""
    from pyspark.sql.window import Window as W

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.text import bm25_scores, hashed_embedding
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import t as _t

    docs = _t(spark, sf_dir, "documents")
    terms = ["hash", "order", "batch"]

    # top-20 via orderBy+limit (TakeOrderedAndProject — never a global
    # sort/window over the scored corpus); the rank window then runs on
    # the 20-row result only
    wb = W.orderBy(F.desc("score"), F.asc("doc_id"))
    bm = (
        bm25_scores(docs, "doc_id", "text", terms)
        .select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .withColumn("r", F.row_number().over(wb))
        .select("doc_id", "r")
    )

    demb = hashed_embedding(docs, "doc_id", "text", dim=64)
    qemb = hashed_embedding(
        spark.createDataFrame([(0, " ".join(terms))], "doc_id long, text string"),
        "doc_id", "text", dim=64,
    ).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    wc = W.orderBy(F.desc("sim"), F.asc("doc_id"))
    cos = (
        demb.crossJoin(F.broadcast(qemb))
        .select(
            "doc_id",
            F.round(dot / (nrm("embedding") * nrm("qv")), 6).alias("sim"),
            dot.alias("_raw"),
        )
        .filter(F.col("_raw") != 0)
        .orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(20)
        .withColumn("r", F.row_number().over(wc))
        .select("doc_id", "r")
    )

    fused = (
        bm.withColumnRenamed("r", "rb")
        .join(cos.withColumnRenamed("r", "rc"), "doc_id", "full")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("rb")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("rc")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


def _knn_ivf_pq_oracle_sql(
    k_cent: int = 8, dim: int = 64, m: int = 4, ksub: int = 16,
    n_probe: int = 3, k: int = 5,
) -> str:
    """DuckDB replica of knn_ivf_pq: literal coarse centroids (the
    knn_ivf assignment CTEs) + literal PQ codebooks over the RESIDUALS
    (the knn_pq micro-distance arithmetic), composed: assignment ->
    residual encode -> per-(query, probed-cluster) residual tables ->
    exact-integer ADC -> top-k."""
    import numpy as np

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.similarity import literal_centroids, pq_codebooks

    cents = literal_centroids(k_cent, dim)
    cc = (np.asarray(cents, dtype=np.float64) ** 2).sum(axis=1)
    books = pq_codebooks(m, ksub, dim)
    dsub = dim // m

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in vec) + "]"

    cent_rows = ",\n      ".join(
        f"({c}, {lit(cents[c])}::DOUBLE[], {float(cc[c])!r})" for c in range(k_cent)
    )
    cb_rows = ",\n      ".join(
        f"({s}, {kk}, {lit(books[s][kk])}::DOUBLE[], "
        f"{float(sum(x * x for x in books[s][kk]))!r})"
        for s in range(m)
        for kk in range(ksub)
    )
    sub = f"r[cb.s*{dsub}+1 : cb.s*{dsub}+{dsub}]"
    qsub = f"qr[cb.s*{dsub}+1 : cb.s*{dsub}+{dsub}]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent(c, w, cc) AS (VALUES
      {cent_rows}),
    cb(s, k, w, ww) AS (VALUES
      {cb_rows}),
    dist AS (
      SELECT vec_id, v, c,
             round(list_dot_product(v, v) - 2 * list_dot_product(v, w) + cc, 6) AS d
      FROM e CROSS JOIN cent
    ),
    assign AS (
      SELECT vec_id, v, c AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM dist) WHERE rn = 1
    ),
    res AS (
      SELECT a.vec_id, a.cluster,
             [a.v[i] - ct.w[i] for i in range(1, {dim} + 1)] AS r
      FROM assign a JOIN cent ct ON ct.c = a.cluster
    ),
    encd AS (
      SELECT vec_id, cluster, s, k AS code FROM (
        SELECT vec_id, cluster, s, k,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) AS rn
        FROM (
          SELECT res.vec_id, res.cluster, cb.s, cb.k,
                 CAST(round(round(
                   list_dot_product({sub}, {sub})
                   - 2 * list_dot_product({sub}, cb.w) + cb.ww, 6) * 1000000)
                 AS BIGINT) AS d
          FROM res CROSS JOIN cb))
      WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, v AS qv, c AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM dist WHERE vec_id % 40 = 0) WHERE rn <= {n_probe}
    ),
    qres AS (
      SELECT p.query_id, p.cluster,
             [p.qv[i] - ct.w[i] for i in range(1, {dim} + 1)] AS qr
      FROM probe p JOIN cent ct ON ct.c = p.cluster
    ),
    qtab AS (
      SELECT q.query_id, q.cluster, cb.s, cb.k,
             CAST(round(round(
               list_dot_product({qsub}, {qsub})
               - 2 * list_dot_product({qsub}, cb.w) + cb.ww, 6) * 1000000)
             AS BIGINT) AS d
      FROM qres q CROSS JOIN cb
    ),
    adc AS (
      SELECT qt.query_id, en.vec_id AS neighbor_id,
             CAST(sum(qt.d) AS BIGINT) AS adist_micro
      FROM encd en
      JOIN qtab qt ON qt.cluster = en.cluster AND qt.s = en.s AND qt.k = en.code
      WHERE en.vec_id <> qt.query_id
      GROUP BY qt.query_id, en.vec_id
    )
    SELECT query_id, neighbor_id, adist_micro, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist_micro, neighbor_id) AS rnk
      FROM adc) WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


@register("knn_ivf_pq", sql=_knn_ivf_pq_oracle_sql())
def knn_ivf_pq_query(spark, sf_dir):
    """IVF-PQ search with a FULL oracle (operators/similarity.py
    knn_ivf_pq): literal coarse centroids assign every vector (knn_ivf's
    6-dp-rounded distances, ties to the smaller index), the residual
    against the assigned centroid is encoded with literal PQ codebooks
    (integer micro-distances), and each query scores its 3 probed
    clusters' codes by the exact-integer ADC sum. The disk-backed
    composition (IVFIndex.build(pq_m=…) with TRAINED quantizers +
    partition-pruned search) is recall-tested in tests/test_similarity;
    this query pins the composed search semantics with a hard external
    signal — assignment, residual encode, probing and fusion are all
    re-derived by the oracle.

    Scale: the index artifact is m ints per vector inside
    cluster-partitioned lists; a search reads n_probe/k_cent of the
    corpus BYTES compressed ~32x — the two ANN levers multiplied."""
    emb = t(spark, sf_dir, "embeddings")
    cents = S.literal_centroids(8, 64)
    books = S.pq_codebooks(4, 16, 64)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return S.knn_ivf_pq(emb, queries, cents, books, k=5, n_probe=3)


def _knn_rerank_oracle_sql(k: int = 5, rerank: int = 20) -> str:
    """DuckDB replica of knn_rerank: the full knn_ivf_pq oracle (with
    k=rerank) nominates candidates, then the exact-cosine rerank is the
    knn_bruteforce arithmetic restricted to those pairs."""
    cand_sql = _knn_ivf_pq_oracle_sql(k=rerank)
    return f"""
    WITH cand AS ({cand_sql}),
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_dot_product(q.v, n.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(n.v, n.v))), 4) AS sim
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, sim, rn AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM exact)
    WHERE rn <= {k} ORDER BY query_id, rnk
    """


@register(
    "radius_search_cosine",
    sql="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 40 = 0)
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           round(list_dot_product(q.v, e.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(e.v, e.v))), 4) AS sim
    FROM q JOIN e ON e.vec_id <> q.vec_id
    WHERE round(list_dot_product(q.v, e.v)
                / (sqrt(list_dot_product(q.v, q.v))
                   * sqrt(list_dot_product(e.v, e.v))), 4) >= 0.22
    ORDER BY query_id, neighbor_id
    """,
)
def radius_search_cosine(spark, sf_dir):
    """Fixed-radius similarity search (operators/similarity.py
    radius_search): every corpus vector within cosine >= 0.22 of each
    probe — the range-query complement of top-k, for density probes and
    near-dup audits. Rounded-before-filter so the boundary is identical
    across engines.

    Scale: broadcast probes x one map-side corpus pass, JVM dot-product
    fold, NO shuffle (top-k pays a per-query rank exchange; a radius
    filter emits matches inline); selective thresholds at 100 TB front
    this with the hyperplane-LSH bucket join."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return S.radius_search(emb, queries, threshold=0.22).orderBy(
        "query_id", "neighbor_id"
    )


@register("knn_rerank", headline=True, sql=_knn_rerank_oracle_sql())
def knn_rerank_query(spark, sf_dir):
    """Two-stage ANN (operators/similarity.py knn_rerank): IVF-PQ
    nominates 20 candidates per query in the compressed domain, the
    exact cosine re-scores ONLY those 20 and keeps the top 5 — the
    production retrieval pattern (coarse quantized recall, exact
    precision at the top). The oracle composes the full IVF-PQ replica
    (assignment, residual encode, probing, integer ADC) with the
    brute-force cosine arithmetic over the nominated pairs.

    Scale: stage 1 reads ~32x-compressed codes of the probed clusters
    only; stage 2 fetches rerank raw vectors per query (not |corpus|),
    joins on slim (query, neighbor) pairs, and scores JVM-side."""
    emb = t(spark, sf_dir, "embeddings")
    cents = S.literal_centroids(8, 64)
    books = S.pq_codebooks(4, 16, 64)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return S.knn_rerank(emb, queries, cents, books, k=5, rerank=20, n_probe=3)


def _cms_oracle_sql(depth: int = 4, width: int = 256, k: int = 20) -> str:
    """DuckDB replica of heavy_hitters_cms: the depth salted md5 hash
    functions, cell counting, exact top-k, and the min-of-cells
    estimator are all static SQL (one UNION ALL arm per row of the
    sketch — depth is a literal)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64_sql

    def arm(d: int, src: str) -> str:
        return (
            f"SELECT w, {d} AS d, "
            f"{stable_hash64_sql('w', f'cms{d}')} % {width} AS bucket FROM {src}"
        )

    cell_arms = "\n      UNION ALL ".join(arm(d, "t2") for d in range(depth))
    probe_arms = "\n      UNION ALL ".join(
        f"SELECT w, exact_cnt, {d} AS d, "
        f"{stable_hash64_sql('w', f'cms{d}')} % {width} AS bucket FROM exact"
        for d in range(depth)
    )
    return rf"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
    ),
    t2 AS (SELECT w FROM tok WHERE w <> ''),
    cms AS (
      SELECT d, bucket, count(*) AS cnt FROM (
      {cell_arms}) cells GROUP BY d, bucket
    ),
    exact AS (
      SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt FROM t2
      GROUP BY w ORDER BY exact_cnt DESC, w LIMIT {k}
    ),
    probe AS (
      {probe_arms}
    ),
    est AS (
      SELECT w, exact_cnt,
             CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_estimate
      FROM probe LEFT JOIN cms USING (d, bucket)
      GROUP BY w, exact_cnt
    )
    SELECT w, exact_cnt, cms_estimate,
           cms_estimate >= exact_cnt AS no_underestimate
    FROM est ORDER BY exact_cnt DESC, w
    """


@register("heavy_hitters_cms", sql=_cms_oracle_sql())
def heavy_hitters_cms(spark, sf_dir):
    """Count-min-sketch frequency estimation (operators/sketches.py):
    a 4x256 counter grid absorbs the corpus token stream, then the
    exact top-20 words are re-estimated from the sketch — every
    estimate must sit at or above its true count (the CMS one-sided
    guarantee), which the output pins per row alongside the absolute
    counts. Salted md5 hashing makes every counter cell and estimate
    bit-identical across engines.

    Scale: the sketch build is one map-side-combinable aggregation
    bounded at depth*width cells per partition regardless of stream
    size, and sketches merge by cell-wise addition (days/corpora
    combine without re-reading data); estimation broadcasts the ~1 KB
    grid. The exact top-k here exists only to VERIFY the sketch —
    production uses the sketch precisely to avoid that vocabulary-wide
    shuffle."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators import sketches as SK

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.words("text")).alias("w")).filter(
        F.col("w") != ""
    )
    exact = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("w"))
        .limit(20)
    )
    cms = SK.count_min_build(toks, "w", depth=4, width=256)
    est = SK.count_min_estimate(cms, exact, "w", depth=4, width=256)
    return est.select(
        "w",
        "exact_cnt",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_cnt")).alias("no_underestimate"),
    ).orderBy(F.desc("exact_cnt"), F.asc("w"))


@register(
    "text_token_entropy",
    sql=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
      FROM documents
    ),
    t2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
    c AS (SELECT doc_id, w, count(*) AS cnt FROM t2 GROUP BY doc_id, w),
    n AS (SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS n FROM c GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(-CAST(sum(CAST(round((cnt / n) * ln(cnt / n), 9)
                         AS DECIMAL(12,9))) AS DOUBLE), 6) AS token_entropy
    FROM c JOIN n ON n.doc_id = c.doc_id
    GROUP BY c.doc_id, n ORDER BY c.doc_id
    """,
)
def text_token_entropy(spark, sf_dir):
    """Token-distribution Shannon entropy per document — the
    information-density quality signal (the expressible analogue of the
    compression-ratio filter in Gopher-style pipelines): near-zero
    entropy = a few tokens repeated (spam, boilerplate, keyword
    stuffing), high entropy = diverse vocabulary. Complements
    text_repetition (which sees adjacent repeats) by catching GLOBAL
    token skew. Each p*ln(p) term is quantized to 9 dp DECIMAL before
    the sum (ln is the only libm variance; the division is an exact
    integer ratio), so the per-doc entropy is order-free however the
    shuffle delivers a doc's token rows; output rounds at 6 dp.

    Scale: one (doc, token) aggregation with map-side combine, one
    per-doc rollup — shuffles carry token counters, never text."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.words("text")).alias("w")).filter(
        F.col("w") != ""
    )
    c = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    n = c.groupBy("doc_id").agg(F.sum("cnt").cast("double").alias("n"))
    p = F.col("cnt") / F.col("n")
    return (
        c.join(n, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            # each p*ln(p) term quantized to 9dp DECIMAL before the sum —
            # the docstring's order-free promise, now actually enforced
            # at the TERM level (the raw double sum depended on shuffle
            # order across a doc's hundreds of token rows)
            F.round(
                -F.sum(F.round(p * F.log(p), 9).cast("decimal(12,9)")).cast(
                    "double"
                ),
                6,
            ).alias("token_entropy"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            "n_distinct",
            "token_entropy",
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_dedup_store_once",
    sql="""
    WITH assets AS (
      SELECT doc_id AS asset_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
    )
    SELECT md5(text) AS digest_md5,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(asset_id) AS keep_id,
           CAST(min(octet_length(encode(text))) AS BIGINT) AS n_bytes,
           CAST((count(*) - 1) * min(octet_length(encode(text))) AS BIGINT)
             AS wasted_bytes
    FROM assets
    GROUP BY 1 HAVING count(*) >= 2
    ORDER BY wasted_bytes DESC, digest_md5
    """,
)
def multimodal_dedup_store_once(spark, sf_dir):
    """Store-once dedup accounting over binary assets (operators/
    multimodal.py binary_assets): payloads sharing a byte-exact md5
    digest are one stored object + references; the report lists every
    duplicated digest with its survivor, per-copy size, and bytes
    reclaimed — the blob-store dedup ledger of a multimodal lake (the
    digest is computed on the raw BYTES, so the same operator covers
    image/audio/video payloads unchanged; fixture payloads are encoded
    text). The fixture corpus has no byte-identical documents, so every
    7th document is deterministically re-uploaded under a shifted asset
    id — the operator itself is generic.

    Scale: one aggregation on 16-byte digests — payload bytes never
    shuffle (n_bytes/digest are map-side column expressions)."""
    docs = t(spark, sf_dir, "documents")
    reup = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    pool = docs.select("doc_id", "text").unionByName(reup)
    assets = binary_assets(pool, "doc_id", "text", "text")
    return (
        assets.groupBy("digest_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("asset_id").alias("keep_id"),
            F.min("n_bytes").cast("long").alias("n_bytes"),
            ((F.count(F.lit(1)) - 1) * F.min("n_bytes"))
            .cast("long")
            .alias("wasted_bytes"),
        )
        .filter(F.col("n_copies") >= 2)
        .orderBy(F.desc("wasted_bytes"), F.asc("digest_md5"))
    )


_TRGM_NEEDLE = "table row"


@register(
    "like_search_trigram",
    sql=f"""
    SELECT doc_id,
           CAST((length(lower(text))
                 - length(replace(lower(text), '{_TRGM_NEEDLE}', '')))
                / {len(_TRGM_NEEDLE)} AS BIGINT) AS n_hits
    FROM documents
    WHERE contains(lower(text), '{_TRGM_NEEDLE}')
    ORDER BY doc_id
    """,
)
def like_search_trigram(spark, sf_dir):
    """Substring search through a trigram inverted index (operators/
    text.py like_search_trigram — the pg_trgm strategy): documents are
    candidates only if they contain EVERY character trigram of the
    needle (posting-list intersection), and only candidates pay the
    exact ``contains`` verification. The oracle is the plain full-scan
    LIKE — the index must be a pure access-path optimization, invisible
    in the result (same contract as the bloom/zorder pruning queries).

    Scale: the posting table (trigram -> doc) is the persisted artifact;
    a query reads k needle-trigram posting lists and verifies |cands|
    documents — on a 100 TB corpus that is the difference between a
    full-text scan per query and k index lookups."""
    docs = t(spark, sf_dir, "documents")
    return X.like_search_trigram(docs, "doc_id", "text", _TRGM_NEEDLE).orderBy(
        "doc_id"
    )


def _semantic_dedup_oracle_sql(k_cent: int = 8, dim: int = 64) -> str:
    """DuckDB replica of semantic_dedup over the literal centroids: the
    knn_ivf assignment CTEs + per-cluster (distance, id) argmin."""
    import numpy as np

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.similarity import literal_centroids

    cents = literal_centroids(k_cent, dim)
    cc = (np.asarray(cents, dtype=np.float64) ** 2).sum(axis=1)

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in vec) + "]"

    cent_rows = ",\n      ".join(
        f"({c}, {lit(cents[c])}::DOUBLE[], {float(cc[c])!r})" for c in range(k_cent)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent(c, w, cc) AS (VALUES
      {cent_rows}),
    dist AS (
      SELECT vec_id, c,
             round(list_dot_product(v, v) - 2 * list_dot_product(v, w) + cc, 6) AS d
      FROM e CROSS JOIN cent
    ),
    assign AS (
      SELECT vec_id, c AS cluster, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM dist) WHERE rn = 1
    ),
    rep AS (
      SELECT cluster, vec_id AS rep_id, d AS rep_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster
                                     ORDER BY d, vec_id) AS rn
        FROM assign) WHERE rn = 1
    )
    SELECT a.cluster, CAST(count(*) AS BIGINT) AS n_members,
           r.rep_id, r.rep_dist
    FROM assign a JOIN rep r USING (cluster)
    GROUP BY a.cluster, r.rep_id, r.rep_dist
    ORDER BY cluster
    """


@register("semantic_dedup_clusters", sql=_semantic_dedup_oracle_sql())
def semantic_dedup_clusters(spark, sf_dir):
    """SemDeDup-style semantic deduplication (operators/similarity.py
    semantic_dedup): embeddings cluster to their nearest literal
    centroid; each cluster's closest-to-centroid vector survives as the
    representative, the rest are semantic duplicates — the
    embedding-space dedup pass modern corpus recipes run AFTER lexical
    near-dup (minhash catches copies; this catches paraphrases and
    re-renderings that share no shingles). Assignment, distances, and
    both argmins are re-derived by the oracle.

    Scale: one Arrow matmul pass for assignment + one cluster-keyed
    aggregation carrying (id, dist) pairs; swap kmeans_centroids in for
    the literals and nothing else changes."""
    emb = t(spark, sf_dir, "embeddings")
    cents = S.literal_centroids(8, 64)
    return S.semantic_dedup(emb, cents)


@register(
    "bpe_first_merges",
    sql=r"""
    WITH w AS (
      SELECT unnest(string_split_regex(lower(text), '\s+')) AS wd
      FROM documents
    ),
    p AS (
      SELECT unnest([wd[i:i+1] FOR i IN range(1, greatest(len(wd), 1))]) AS pair
      FROM w WHERE len(wd) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 10
    """,
)
def bpe_first_merges(spark, sf_dir):
    """Tokenizer-prep: the first BPE merge candidates — corpus-wide
    counts of adjacent character pairs within words, top-10 under the
    (count DESC, pair ASC) total order. One BPE training iteration IS
    this aggregation (count pairs, merge the argmax, repeat); the query
    pins the counting pass that dominates tokenizer fitting at corpus
    scale.

    Scale: pair building is a nested row-local array transform (no
    per-char explode until the single flatten), the count is map-side
    combinable on 2-char keys, and top-10 is TakeOrderedAndProject."""
    docs = t(spark, sf_dir, "documents")
    pairs_per_word = F.transform(
        X.words("text"),
        lambda w: F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(w) - 1, F.lit(1))),
                lambda i: w.substr(i, F.lit(2)),
            ),
            lambda g: F.length(g) == 2,
        ),
    )
    return (
        docs.select(F.explode(F.flatten(pairs_per_word)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(10)
    )


@register(
    "chunk_documents_rag",
    sql=r"""
    WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
               FROM documents),
    c AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(ws) - 20, 1) + 1, 60)) AS start_word,
             ws
      FROM w
    ),
    chunks AS (
      SELECT doc_id, CAST(start_word AS BIGINT) AS start_word,
             array_to_string(ws[start_word:start_word+79], ' ') AS chunk_text
      FROM c
    )
    SELECT doc_id, start_word,
           CAST(len(string_split_regex(chunk_text, '\s+')) AS BIGINT)
             AS n_words,
           md5(chunk_text) AS chunk_md5
    FROM chunks WHERE chunk_text <> ''
    ORDER BY doc_id, start_word
    """,
)
def chunk_documents_rag(spark, sf_dir):
    """Retrieval/RAG chunking (operators/text.py chunk_words): 80-word
    windows at stride 60 (20-word overlap keeps cross-boundary context
    embeddable); every chunk verified byte-exact via md5 against the
    oracle's slice arithmetic. The chunk table is what feeds
    text_hash_embedding / knn_* to build a passage-level retrieval
    index — the document->passage explosion every RAG pipeline starts
    with.

    Scale: chunks are built row-locally (one transform over a position
    sequence) and only then exploded — the shuffle-free map shape; at
    100 TB the explode feeds a partitioned write, never a shuffle."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(X.chunk_words("text", size=80, overlap=20)).alias("c")
        )
        .select(
            "doc_id",
            F.col("c.start_word").cast("long").alias("start_word"),
            F.size(F.split(F.col("c.chunk_text"), r"\s+")).cast("long").alias("n_words"),
            F.md5(F.col("c.chunk_text")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "start_word")
    )


@register(
    "passage_retrieval_rag",
    sql=rf"""
    WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
               FROM documents),
    cpos AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(ws) - 20, 1) + 1, 60)) AS start_word,
             ws
      FROM w
    ),
    chunks AS (
      SELECT doc_id, CAST(start_word AS BIGINT) AS start_word,
             array_to_string(ws[start_word:start_word+79], ' ') AS chunk_text
      FROM cpos
    ),
    ctoks AS (
      SELECT doc_id, start_word, t FROM (
        SELECT doc_id, start_word,
               unnest(string_split_regex(chunk_text, '\s+')) AS t
        FROM chunks WHERE chunk_text <> '')
      WHERE t <> ''
    ),
    ce AS (
      SELECT doc_id, start_word, ({_h('t')} // 2) % 64 AS idx,
             CAST(sum(CASE WHEN {_h('t')} % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE)
               AS wt
      FROM ctoks GROUP BY doc_id, start_word, ({_h('t')} // 2) % 64
    ),
    ce2 AS (SELECT * FROM ce WHERE wt <> 0),
    cn AS (SELECT doc_id, start_word, sqrt(sum(wt * wt)) AS nrm
           FROM ce2 GROUP BY doc_id, start_word),
    qtoks AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        FROM documents WHERE doc_id % 50 = 0)
      WHERE t <> ''
    ),
    qe AS (
      SELECT doc_id, ({_h('t')} // 2) % 64 AS idx,
             CAST(sum(CASE WHEN {_h('t')} % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE)
               AS wt
      FROM qtoks GROUP BY doc_id, ({_h('t')} // 2) % 64
    ),
    qe2 AS (SELECT * FROM qe WHERE wt <> 0),
    qn AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM qe2 GROUP BY doc_id),
    dots AS (
      SELECT q.doc_id AS query_id, c.doc_id AS passage_doc, c.start_word,
             sum(q.wt * c.wt) AS dot
      FROM qe2 q JOIN ce2 c ON q.idx = c.idx AND c.doc_id <> q.doc_id
      GROUP BY 1, 2, 3
    ),
    allpairs AS (
      SELECT qn.doc_id AS query_id, cn.doc_id AS passage_doc, cn.start_word,
             round(coalesce(d.dot, 0) / (qn.nrm * cn.nrm), 4) AS sim
      FROM qn JOIN cn ON cn.doc_id <> qn.doc_id
      LEFT JOIN dots d ON d.query_id = qn.doc_id
                      AND d.passage_doc = cn.doc_id
                      AND d.start_word = cn.start_word
    )
    SELECT query_id, passage_doc, start_word, sim, rn AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, passage_doc, start_word)
                AS rn
      FROM allpairs)
    WHERE rn <= 3 ORDER BY query_id, rnk
    """,
)
def passage_retrieval_rag(spark, sf_dir):
    """RAG retrieval end to end: documents chunk into overlapping
    80-word passages (chunk_words), every passage embeds via feature
    hashing (hashed_embedding — no vocabulary, no fit), and each query
    document's full-text embedding retrieves its top-3 most similar
    passages from OTHER documents by exact cosine. The oracle replays
    chunk arithmetic, the signed-hash embedding of every passage and
    query, and the complete similarity ranking — zero-overlap pairs
    included (their cosine is 0, which still outranks negative sims).
    Composes three already-proven operators into the
    document->passage->embedding->retrieve dataflow a RAG index build
    actually runs.

    Scale: chunking is row-local; embeddings shuffle (id, idx) partial
    sums; the small query set broadcasts against the passage corpus —
    swap knn_lsh/IVF in for the brute-force stage at 100 TB."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.vector import dot_product, l2_norm
    from pyspark.sql.window import Window as W

    docs = t(spark, sf_dir, "documents")
    chunk_rows = (
        docs.select(
            "doc_id", F.explode(X.chunk_words("text", 80, 20)).alias("c")
        )
        .filter(F.col("c.chunk_text") != "")
        .select(
            (F.col("doc_id") * 1000000 + F.col("c.start_word")).alias("chunk_id"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )
    cemb = X.hashed_embedding(chunk_rows, "chunk_id", "chunk_text", dim=64).select(
        (F.col("chunk_id") / 1000000).cast("long").alias("passage_doc"),
        (F.col("chunk_id") % 1000000).cast("long").alias("start_word"),
        F.col("embedding").alias("cv"),
    )
    qemb = X.hashed_embedding(
        docs.filter(F.col("doc_id") % 50 == 0), "doc_id", "text", dim=64
    ).select(F.col("doc_id").alias("query_id"), F.col("embedding").alias("qv"))
    pairs = (
        cemb.crossJoin(F.broadcast(qemb))
        .filter(F.col("passage_doc") != F.col("query_id"))
        .select(
            "query_id",
            "passage_doc",
            "start_word",
            F.round(
                dot_product(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
                4,
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("passage_doc"), F.asc("start_word")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    )


@register(
    "dedup_keep_best",
    sql=r"""
    WITH scored AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest,
             round(0.4 * least(len(string_split_regex(lower(text), '\s+')) / 100.0, 1.0)
                   + 0.4 * round(CAST(len(list_distinct(string_split_regex(lower(text), '\s+'))) AS DOUBLE)
                                 / len(string_split_regex(lower(text), '\s+')), 4)
                   + 0.2 * (1 - round(CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                                           x -> list_contains(['hash','order','table','row','batch'], x)))
                                           AS DOUBLE)
                                      / len(string_split_regex(lower(text), '\s+')), 4)),
                   4) AS quality
      FROM documents
    ),
    reup AS (
      SELECT doc_id + 1000000 AS doc_id, digest, quality
      FROM scored WHERE doc_id % 7 = 0
    ),
    pool AS (SELECT * FROM scored UNION ALL SELECT * FROM reup)
    SELECT pool.digest, CAST(count(*) AS BIGINT) AS n_copies,
           k.keep_id, k.quality
    FROM pool
    JOIN (
      SELECT digest AS d2, doc_id AS keep_id, quality FROM (
        SELECT *, row_number() OVER (PARTITION BY digest
                                     ORDER BY quality DESC, doc_id) AS rn
        FROM pool) WHERE rn = 1
    ) k ON k.d2 = pool.digest
    GROUP BY pool.digest, k.keep_id, k.quality
    HAVING count(*) >= 2
    ORDER BY digest
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Exact dedup with a KEEP-BEST survivor policy: within each
    normalized-text digest group the copy with the highest quality
    score survives (ties to the smallest id) — the policy real corpus
    builds use when duplicates differ in provenance (keep the cleanest
    capture, not the first-crawled). min-id (dedup_exact) and keep-best
    are the same max_by aggregation with a different ordering struct.
    Fixture has no byte dupes, so every 7th doc re-enters under a
    shifted id (the multimodal_dedup_store_once convention); identical
    text means identical quality, so the tie rule picks the ORIGINAL
    (smaller) id — which the oracle verifies per group.

    Scale: one digest aggregation; the shuffle carries 16-byte digests
    + (quality, id) pairs, never text."""
    docs = t(spark, sf_dir, "documents")
    reup = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    pool = docs.select("doc_id", "text").unionByName(reup)
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import normalized_text

    sc = X.text_stats(pool, "doc_id", "text", keep=()).select(
        "doc_id", X.quality_expr().alias("quality")
    )
    dg = pool.select(
        "doc_id", F.md5(normalized_text("text")).alias("digest")
    )
    j = dg.join(sc, "doc_id")
    best = j.groupBy("digest").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min_by(
            F.struct(F.col("doc_id").alias("keep_id"), F.col("quality")),
            F.struct(-F.col("quality"), F.col("doc_id")),
        ).alias("_b"),
    )
    return (
        best.filter(F.col("n_copies") >= 2)
        .select("digest", "n_copies", F.col("_b.keep_id").alias("keep_id"),
                F.col("_b.quality").alias("quality"))
        .orderBy("digest")
    )


def _knn_recall_oracle_sql() -> str:
    """Composes the ALREADY-REGISTERED knn_lsh and knn_bruteforce oracle
    SQLs as CTEs, so the recall harness's oracle can never drift from
    the oracles of the two legs it compares."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import QUERIES

    approx = QUERIES["knn_lsh"].sql
    exact = QUERIES["knn_bruteforce"].sql
    return f"""
    WITH approx AS ({approx}),
    exact AS ({exact}),
    hits AS (
      SELECT e.query_id, CAST(count(*) AS BIGINT) AS hit
      FROM exact e JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.hit, 0) AS BIGINT) AS hits,
           round(coalesce(h.hit, 0) / 5.0, 4) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    ORDER BY q.query_id
    """


@register("knn_recall_eval", sql=_knn_recall_oracle_sql())
def knn_recall_eval(spark, sf_dir):
    """Recall@5 of the LSH index against exact brute force, per query —
    the quality gauge every approximate-ANN deployment ships next to
    its index (an index you can't measure is an index you can't tune:
    recall is THE dial traded against the candidate-set size that
    num_tables/num_planes control). Reuses the registered knn_lsh and
    knn_bruteforce plans as its two legs and joins their top-k sets, so
    the harness measures exactly what the production queries run; the
    oracle composes those queries' own oracle SQLs the same way.

    Scale: both legs are the already-audited broadcast/bucket-join
    shapes; the recall join itself touches only Q*k candidate rows —
    evaluation cost is dominated by the searches, as it should be."""
    # the exact leg feeds the hit join AND the query base; the slot
    # keeps the all-pairs brute-force search to one execution
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot

    exact = _persist_slot(
        knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id"),
        "northstar.recall5_exact",
    )
    approx = knn_lsh(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hit"))
    )
    base = exact.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hit"), F.lit(0)).cast("long").alias("hits"),
            F.round(F.coalesce(F.col("hit"), F.lit(0)) / F.lit(5.0), 4).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


def _split_leakage_oracle_sql() -> str:
    """Composes the registered dedup_minhash_lsh oracle (the full
    shingle/hash-family/band/verify replay) with the train_test_split
    hash rule, so the leakage audit's oracle can never drift from
    either primitive it combines."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64_sql
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import QUERIES

    lsh = QUERIES["dedup_minhash_lsh"].sql
    h_split = stable_hash64_sql("CAST(doc_id AS VARCHAR)", "split")
    return f"""
    WITH pairs AS ({lsh}),
    sp AS (
      SELECT doc_id,
             CASE WHEN {h_split} % 100 < 95 THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT CASE WHEN sa.split = 'train' THEN p.id_a ELSE p.id_b END AS train_id,
           CASE WHEN sa.split = 'train' THEN p.id_b ELSE p.id_a END AS test_id,
           p.jaccard
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.id_a
    JOIN sp sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
    ORDER BY train_id, test_id
    """


@register("split_leakage_minhash", sql=_split_leakage_oracle_sql())
def split_leakage_minhash(spark, sf_dir):
    """Train/test SPLIT-LEAKAGE audit: near-duplicate pairs that straddle
    the hash split — a test document with a >=0.5-Jaccard twin in train
    silently inflates every evaluation run on the corpus, and the hash
    split alone cannot prevent it (near-dups hash independently). Reuses
    the production MinHash+LSH pipeline for the pairs and the production
    split rule for the labels; the oracle composes those two queries'
    own registered SQL. The audit a training-data pipeline runs after
    every split, expressed in the engine's own primitives.

    Scale: identical to dedup_minhash_lsh (banded candidates only) plus
    two slim split joins on doc ids."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64

    docs = t(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    split_col = F.when(
        stable_hash64(F.col("doc_id").cast("string"), "split") % 100 < 95,
        F.lit("train"),
    ).otherwise(F.lit("test"))
    sp = docs.select("doc_id", split_col.alias("split"))
    sa = sp.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa")
    sb = sp.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.when(F.col("sa") == "train", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("train_id"),
            F.when(F.col("sa") == "train", F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("test_id"),
            "jaccard",
        )
        .orderBy("train_id", "test_id")
    )


def _langid_eval_oracle_sql() -> str:
    """Composes the registered text_langid oracle with the corpus's true
    labels — the classifier-eval harness can never drift from the
    classifier it scores."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import QUERIES

    pred = QUERIES["text_langid"].sql
    return f"""
    WITH pred AS ({pred}),
    joined AS (
      SELECT d.lang AS true_lang, p.predicted_lang
      FROM pred p JOIN documents d ON d.doc_id = p.doc_id
    ),
    per_class AS (
      SELECT true_lang AS lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN predicted_lang = true_lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct
      FROM joined GROUP BY true_lang
    ),
    pred_counts AS (
      SELECT predicted_lang AS lang, CAST(count(*) AS BIGINT) AS n_predicted
      FROM joined GROUP BY predicted_lang
    )
    SELECT c.lang, c.n_docs, c.n_correct,
           round(CAST(c.n_correct AS DOUBLE) / c.n_docs, 6) AS recall,
           round(CAST(c.n_correct AS DOUBLE)
                 / coalesce(p.n_predicted, CAST(1 AS BIGINT)), 6) AS precision
    FROM per_class c LEFT JOIN pred_counts p ON p.lang = c.lang
    ORDER BY c.lang
    """


@register("langid_eval_confusion", sql=_langid_eval_oracle_sql())
def langid_eval_confusion(spark, sf_dir):
    """Per-class precision/recall of the engine's own language-ID
    heuristic against the corpus's true labels — the second member of
    the operator-eval family (knn_recall_eval gauges the ANN index;
    this gauges the classifier). An unmeasured heuristic gate silently
    skews the corpus mix it feeds; this harness reuses the registered
    text_langid plan as its prediction leg and the oracle composes that
    query's own SQL.

    Scale: the classifier pass is the existing map-side text_langid
    plan; the eval adds one slim doc_id join and two tiny aggregations
    over a 5-class key."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = text_langid(spark, sf_dir).select("doc_id", "predicted_lang")
    joined = pred.join(docs, "doc_id").select(
        F.col("lang").alias("true_lang"), "predicted_lang"
    )
    per_class = joined.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("predicted_lang") == F.col("true_lang"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )
    pred_counts = joined.groupBy(
        F.col("predicted_lang").alias("lang")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_predicted"))
    return (
        per_class.join(pred_counts, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_correct",
            F.round(F.col("n_correct").cast("double") / F.col("n_docs"), 6).alias(
                "recall"
            ),
            F.round(
                F.col("n_correct").cast("double")
                / F.coalesce(F.col("n_predicted"), F.lit(1).cast("long")),
                6,
            ).alias("precision"),
        )
        .orderBy("lang")
    )


def _dedup_recall_oracle_sql() -> str:
    """Composes the REGISTERED LSH and exact-Jaccard oracles (the
    knn_recall_eval pattern) so the eval can never drift from the
    operators it grades."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import QUERIES

    approx = QUERIES["dedup_minhash_lsh"].sql
    exact = QUERIES["dedup_ngram_jaccard"].sql
    return f"""
    WITH approx AS ({approx}),
    exact AS ({exact}),
    ex AS (SELECT id_a, id_b FROM exact WHERE jaccard >= 0.5),
    hit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hit
      FROM ex JOIN approx USING (id_a, id_b)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM approx) AS n_lsh,
           n_hit,
           round(n_hit * 1.0 /
                 greatest((SELECT count(*) FROM ex), 1), 4) AS recall,
           round(n_hit * 1.0 /
                 greatest((SELECT count(*) FROM approx), 1), 4) AS prec
    FROM hit
    """


@register("dedup_recall_eval", sql=_dedup_recall_oracle_sql())
def dedup_recall_eval(spark, sf_dir):
    """Recall/precision of the MinHash+LSH dedup against the exact
    all-pairs Jaccard truth at the SAME verify threshold (0.5) — the
    third member of the operator-eval family (knn_recall_eval grades the
    ANN index, langid_eval_confusion the language heuristic, this one
    the near-dup pipeline). An un-graded dedup silently trades recall
    for cost every time its banding is tuned; this query makes the trade
    a number the pipeline can gate on.

    Recall is the headline number (1.0 on the fixture). ``prec`` is a
    LOWER BOUND: the truth side blocks on language while LSH is
    unblocked, so cross-language template reuse (which this synthetic
    corpus has plenty of, and which LSH correctly finds at >= 0.5
    verified Jaccard) counts against it — the gap IS the blocking
    strategy's blind spot, made visible.

    Scale: the truth side is the lang-blocked exact join — affordable at
    eval scale; production grades on a SAMPLED stratum with the same
    composition. The LSH side is the production operator unchanged."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import QUERIES

    # both legs feed TWO consumers each (the hit join and their own
    # count); slots keep the LSH pipeline and the quadratic truth join
    # to one execution apiece (r13 plan audit: 9 documents scans here)
    approx = _persist_slot(
        QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir).select("id_a", "id_b"),
        "northstar.recall_approx",
    )
    exact = _persist_slot(
        QUERIES["dedup_ngram_jaccard"].fn(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b"),
        "northstar.recall_exact",
    )
    hit = exact.join(approx, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    n_true = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_lsh = approx.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    return (
        n_true.crossJoin(n_lsh)
        .crossJoin(hit)
        .select(
            "n_true",
            "n_lsh",
            "n_hit",
            F.round(
                F.col("n_hit") * 1.0 / F.greatest(F.col("n_true"), F.lit(1)), 4
            ).alias("recall"),
            F.round(
                F.col("n_hit") * 1.0 / F.greatest(F.col("n_lsh"), F.lit(1)), 4
            ).alias("prec"),
        )
    )


# -- round 8: the IVF coarse quantizer's k-means, surfaced + oracled ---------


def _km_round_sql(cent: str, dist: str, asg: str, nxt: str | None) -> str:
    upd = (
        f""",
    {nxt} AS (
      SELECT {asg}.cl, ex.pos, avg(ex.x) AS c
      FROM ex JOIN {asg} USING (vec_id) GROUP BY {asg}.cl, ex.pos
    )"""
        if nxt
        else ""
    )
    return f"""
    {dist} AS (
      SELECT ex.vec_id, {cent}.cl, sum((ex.x - {cent}.c) ^ 2) AS d
      FROM ex JOIN {cent} ON ex.pos = {cent}.pos
      GROUP BY ex.vec_id, {cent}.cl
    ),
    {asg} AS (
      SELECT vec_id, cl, d FROM (
        SELECT vec_id, cl, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
        FROM {dist}) WHERE rn = 1
    ){upd}"""


@register(
    "kmeans_lloyd_rounds",
    sql=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ex AS (SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x
           FROM e),
    c0 AS (SELECT vec_id AS cl, generate_subscripts(v, 1) AS pos, unnest(v) AS c
           FROM e WHERE vec_id < 4),
    {_km_round_sql('c0', 'd1', 'a1', 'c1')},
    {_km_round_sql('c1', 'd2', 'a2', 'c2')},
    {_km_round_sql('c2', 'd3', 'a3', None)}
    SELECT a3.cl AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           round((SELECT sqrt(sum(c.c ^ 2)) FROM c2 c WHERE c.cl = a3.cl), 4)
             AS centroid_norm,
           round(CAST(sum(CAST(round(a3.d, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS inertia
    FROM a3 GROUP BY a3.cl ORDER BY cluster
    """,
)
def kmeans_lloyd_rounds(spark, sf_dir):
    """Lloyd's k-means (k=4, two update rounds) over the embedding
    corpus — the IVF index's coarse quantizer (operators/similarity.py
    kmeans_centroids) surfaced as a first-class query with a hard
    oracle: deterministic lowest-id init, argmin assignment with
    (distance, cluster) tie order, distributed per-(cluster, dim) mean
    updates. Output per cluster: membership count, centroid norm, and
    inertia (sum of final squared distances — per-row distances are
    index-ordered 64-term folds rounded at 6 dp, then EXACT decimal
    sums, so the cross-row float-order hazard never arises).

    Scale: each round is one corpus scan (centroids ride the closure —
    k x dim floats) plus a (cluster, pos)-keyed shuffle of k*dim
    partial means; the vectors themselves never shuffle."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.similarity import kmeans_centroids

    emb = t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, "vec_id", "embedding", k=4, iterations=2, dim=64)
    v = F.col("embedding").cast("array<double>")
    dists = [
        F.aggregate(
            F.zip_with(v, F.array(*[F.lit(float(c)) for c in cent]), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        for cent in cents
    ]
    best_d = F.least(*dists)
    cluster = F.lit(len(cents) - 1)
    for j in range(len(cents) - 2, -1, -1):
        cluster = F.when(dists[j] == best_d, F.lit(j)).otherwise(cluster)
    norms = {
        j: round(sum(c * c for c in cent) ** 0.5, 4) for j, cent in enumerate(cents)
    }
    norm_col = F.lit(norms[len(cents) - 1])
    for j in range(len(cents) - 2, -1, -1):
        norm_col = F.when(F.col("cluster") == j, F.lit(norms[j])).otherwise(norm_col)
    return (
        emb.select(cluster.cast("long").alias("cluster"), best_d.alias("_d"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum(F.round(F.col("_d"), 6).cast("decimal(18,6)")).cast("double"), 4
            ).alias("inertia"),
        )
        .withColumn("centroid_norm", norm_col)
        .select("cluster", "n_members", "centroid_norm", "inertia")
        .orderBy("cluster")
    )


# ------------------------------------------------- r10: streamed corpus e2e

#: shared quality-formula replica (operators/text.py quality_expr — the
#: same CTE corpus_datasheet's oracle pins), with whitespace token count.
_QUALITY_CTE = """
    qual AS (
      SELECT doc_id, len(ws) AS n_words,
             round(0.4 * least(len(ws) / 100.0, 1.0)
                   + 0.4 * round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4)
                   + 0.2 * (1 - round(CAST(len(list_filter(ws,
                         x -> list_contains(['hash','order','table','row','batch'], x))) AS DOUBLE)
                         / len(ws), 4)), 4) AS quality
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
            FROM documents)
    )
"""


@register(
    "corpus_stream_e2e",
    sql=_MINHASH_SQL_BODY
    + ","
    + _QUALITY_CTE
    + """
    , dq AS (  -- quality gate first: rejected docs never reach the dedup index
      SELECT d.doc_id, d.lang, d.source, q.quality, q.n_words,
             d.doc_id % 3 AS b
      FROM documents d JOIN qual q USING (doc_id)
      WHERE q.quality >= 0.55
    ),
    bands AS (
      SELECT s.doc_id, s.seed // 2 AS band,
             md5(string_agg(CAST(s.mh AS VARCHAR), ',' ORDER BY s.seed)) AS bucket
      FROM sigs s JOIN dq ON dq.doc_id = s.doc_id
      GROUP BY s.doc_id, s.seed // 2
    ),
    -- candidate pairs: earlier batch, or same batch with lower id (the
    -- within-batch keep-first rule of incremental_flags)
    cand AS (
      SELECT DISTINCT p.doc_id AS pid, c.doc_id AS cid
      FROM bands p
      JOIN bands c ON p.band = c.band AND p.bucket = c.bucket
      JOIN dq pd ON pd.doc_id = p.doc_id
      JOIN dq cd ON cd.doc_id = c.doc_id
      WHERE cd.b < pd.b OR (cd.b = pd.b AND c.doc_id < p.doc_id)
    ),
    est AS (  -- signature agreement >= 0.5 (exact multiples of 1/8)
      SELECT pid, cid
      FROM cand
      JOIN sigs a ON a.doc_id = pid
      JOIN sigs bb ON bb.doc_id = cid AND bb.seed = a.seed
      GROUP BY pid, cid
      HAVING CAST(sum(CASE WHEN a.mh = bb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 8 >= 0.5
    ),
    -- progressive acceptance, one unrolled stage per micro-batch: a doc
    -- is accepted iff no >=0.5 match among docs ACCEPTED in earlier
    -- batches or quality-passing LOWER-ID docs of its own batch
    acc0 AS (
      SELECT doc_id FROM dq WHERE b = 0
        AND doc_id NOT IN (SELECT pid FROM est)
    ),
    flag1 AS (
      SELECT DISTINCT e.pid FROM est e JOIN dq c ON c.doc_id = e.cid
      WHERE c.b = 1 OR (c.b = 0 AND e.cid IN (SELECT doc_id FROM acc0))
    ),
    acc1 AS (
      SELECT doc_id FROM dq WHERE b = 1
        AND doc_id NOT IN (SELECT pid FROM flag1)
    ),
    flag2 AS (
      SELECT DISTINCT e.pid FROM est e JOIN dq c ON c.doc_id = e.cid
      WHERE c.b = 2
         OR (c.b = 0 AND e.cid IN (SELECT doc_id FROM acc0))
         OR (c.b = 1 AND e.cid IN (SELECT doc_id FROM acc1))
    ),
    acc2 AS (
      SELECT doc_id FROM dq WHERE b = 2
        AND doc_id NOT IN (SELECT pid FROM flag2)
    ),
    acc AS (
      SELECT doc_id FROM acc0 UNION ALL
      SELECT doc_id FROM acc1 UNION ALL
      SELECT doc_id FROM acc2
    ),
    per AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS n_tokens,
             round(CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE)
                   / count(*), 6) AS mean_quality
      FROM dq WHERE doc_id IN (SELECT doc_id FROM acc)
      GROUP BY lang, source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM per)
    SELECT lang, source, n_docs, n_tokens, mean_quality,
           round(n_tokens / t, 6) AS token_share
    FROM per CROSS JOIN tot
    ORDER BY lang, source
    """,
)
def corpus_stream_e2e(spark, sf_dir):
    """The reference dataflow (A1->A12) carrying the north-star corpus
    operators END TO END, as one REAL streamed pipeline (VERDICT r9
    task 5): the documents table replays as three micro-batch files
    through StreamingUpsertPipeline (file source, maxFilesPerTrigger=1,
    foreachBatch) -> per-batch quality gate (operators/text.py
    quality_score >= 0.55) -> incremental MinHash-LSH near-dup gate
    against the growing accepted index (operators/dedup_index.py
    LSHDedupIndex: probe in the transform, accept in post_commit — the
    crash-safe split) -> MOR upsert (operators/mor.py, lang-partitioned,
    O(batch) delta appends) -> datasheet refresh over the final accepted
    corpus (the corpus_datasheet aggregate).

    The oracle replays the full composition in static SQL: the quality
    CTE, the seeded MinHash family, banding, and THREE unrolled
    acceptance stages (batch b flags against docs accepted in batches
    < b and lower-id quality-passing docs of batch b — exactly
    incremental_flags' candidate rule), then the datasheet aggregate
    over the accepted union. Batch assignment is doc_id % 3 so arrival
    order is deterministic in both engines. The hot-bucket cap is off
    (None) on both sides — it is pinned separately by
    dedup_incremental_index; a stage-dependent cap would make the
    unrolled oracle cap-order-sensitive.

    Scale: each micro-batch probes as one (band, bucket) digest join
    against an index that is k longs per ACCEPTED doc; the MOR table
    absorbs each batch as an O(batch) delta with inline compaction;
    the datasheet is one groupBy(lang, source) with a broadcast total.
    Crash replay (fault points in tests/test_corpus_stream_e2e.py)
    converges: probe passes replayed rows, the keyed upsert absorbs
    them, accept is idempotent by id."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup_index import LSHDedupIndex
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.mor import MergeOnReadTable
    from aws_glue_streaming_etl_with_apache_hudi_spark.streaming.pipeline import StreamingUpsertPipeline

    docs = t(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="corpus_e2e_")
    src = os.path.join(base, "src")
    os.makedirs(src)
    # one file per micro-batch, mtimes ascending so the file source's
    # oldest-first order and the lexicographic name order agree; all
    # three staged in ONE partitioned write (the synthetic batch column
    # lands in the directory name, not the files, so each moved file
    # carries exactly the rows of the old per-batch filter+write — r14:
    # one setup job instead of three)
    stage = os.path.join(base, "stage")
    docs.withColumn("_b", F.col("doc_id") % 3).coalesce(1).write.partitionBy(
        "_b"
    ).mode("overwrite").parquet(stage)
    for b in range(3):
        part = _glob.glob(os.path.join(stage, f"_b={b}", "part-*.parquet"))[0]
        dst = os.path.join(src, f"batch_{b}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
    table = MergeOnReadTable(
        spark,
        os.path.join(base, "table"),
        keys=["doc_id"],
        precombine="doc_id",
        partition_by=["lang"],
        table_name=None,
    )
    idx = LSHDedupIndex(
        spark,
        os.path.join(base, "idx"),
        id_col="doc_id",
        text_col="text",
        max_bucket_size=None,
    )

    def gated(df):
        # quality gate as a plain FILTER in the batch's own projection
        # (text.quality_sql — the same stats snippets and formula as
        # quality_score): the old quality_score JOIN back to the batch
        # was an identity on the unique doc_id and cost a broadcast
        # build + join per micro-batch. The dedup gate's join-back
        # stays: is_duplicate is an aggregate over band matches, not a
        # row-local column.
        df = df.filter(F.expr(X.quality_sql("text")) >= 0.55)
        flags = idx.probe(df)
        return df.join(
            flags.filter(~F.col("is_duplicate")).select("doc_id"), "doc_id"
        )

    pipe = StreamingUpsertPipeline(
        spark,
        source_dir=src,
        schema=docs.schema,
        table=table,
        checkpoint=os.path.join(base, "ckpt"),
        trigger="1 seconds",
        transform=gated,
        post_commit=idx.accept,
    )
    pipe.run_available()

    accepted = table.read()
    q = X.quality_score(accepted, "doc_id", "text")
    per = (
        accepted.select(
            "doc_id", "lang", "source",
            X.token_count_whitespace("text").alias("n_words"),
        )
        .join(q, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_quality"),
        )
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("_t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "mean_quality",
            F.round(F.col("n_tokens") / F.col("_t"), 6).alias("token_share"),
        )
        .orderBy("lang", "source")
    )


def _matryoshka_leg_sql(d: int) -> str:
    """DuckDB leg: top non-self cosine neighbor in the d-dim PREFIX
    space (v[1:d] is 1-based inclusive — exactly Spark's slice(v, 1, d));
    sim rounds to 4dp BEFORE ranking, the cross-engine float contract
    shared with knn_bruteforce."""
    v_q = f"q.v[1:{d}]" if d < 64 else "q.v"
    v_c = f"c.v[1:{d}]" if d < 64 else "c.v"
    return f"""
    SELECT query_id, neighbor_id, sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product({v_q}, {v_c})
                         / (sqrt(list_dot_product({v_q}, {v_q}))
                            * sqrt(list_dot_product({v_c}, {v_c}))), 4) AS sim
            FROM q, e c WHERE c.vec_id <> q.vec_id) p) r
    WHERE rn = 1
    """


_MATRYOSHKA_DIMS = (8, 16, 32, 64)


@register(
    "embedding_matryoshka_eval",
    sql=(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
        "q AS (SELECT * FROM e WHERE vec_id % 40 = 0),\n"
        + ",\n".join(
            f"t{d} AS ({_matryoshka_leg_sql(d)})" for d in _MATRYOSHKA_DIMS
        )
        + "\n"
        + " UNION ALL ".join(
            f"""
            SELECT {d} AS dim,
                   CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(sum(CASE WHEN t{d}.neighbor_id = ref.neighbor_id
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_top1_match,
                   {'{davg}'} AS avg_sim
            FROM t{d} JOIN t64 AS ref USING (query_id)
            """.replace(
                "{davg}",
                f"round(CAST(sum(CAST(t{d}.sim AS DECIMAL(18,4))) AS DOUBLE)"
                f" / count(*), 4)",
            )
            for d in _MATRYOSHKA_DIMS
        )
        + " ORDER BY dim"
    ),
)
def embedding_matryoshka_eval(spark, sf_dir):
    """Matryoshka-style truncation evaluation: how much retrieval
    quality survives when embeddings are cut to a prefix of their
    dimensions (the MRL deployment trade — store/serve 8 or 16 dims,
    fall back to the full vector only when needed). For each prefix
    width d, the top NON-SELF cosine neighbor in the d-dim space is
    compared against the full-width space over a deterministic query
    subset (vec_id % 40 = 0): top-1 agreement counts + the mean
    truncated similarity (decimal-summed — engine-order-proof). The
    d = 64 row is the self-consistency control (agreement must be
    total).

    Scale: each leg is the knn_bruteforce shape — bounded query side
    broadcasts, corpus streams map-side, per-query top-k; prefixes
    SLICE the stored vector (no re-embedding, no extra table). The
    production decision this feeds: pick the smallest d whose
    agreement clears a target and route the ANN index (knn_ivf /
    knn_lsh) at that width.

    Reference anchor: transform-stage enrichment over streamed rows
    (glue_job_script.py:87-101), here over the embeddings table."""
    from pyspark.sql.window import Window as W

    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import fan_out

    emb = t(spark, sf_dir, "embeddings")

    # ONE all-pairs pass for every prefix width (r13 optimization round:
    # the per-width knn_bruteforce legs each re-streamed the whole corpus
    # — 4 full passes, 4 broadcast builds, 4 candidate exchanges). The
    # prefix dot products and squared norms are computed INCREMENTALLY:
    # dot_16 folds terms 9..16 starting from dot_8, which is the same
    # left-to-right association as one fold over terms 1..16, so every
    # sim is bit-identical to the per-leg formulation (the 4dp-round
    # cross-engine contract is untouched). Four row_number windows share
    # a single query_id exchange.
    def _dot_step(acc, a, b, start, length):
        return F.aggregate(
            F.zip_with(
                F.slice(a, start, length),
                F.slice(b, start, length),
                lambda x, y: x * y,
            ),
            acc,
            lambda s, v: s + v,
        )

    def _sq_step(acc, a, start, length):
        return F.aggregate(
            F.slice(a, start, length), acc, lambda s, v: s + v * v
        )

    def _with_prefix_sq(df, vec, prefix):
        # nsq{d}: squared l2 norm of the d-dim prefix, accumulated
        prev, start = F.lit(0.0).cast("double"), 1
        for d in _MATRYOSHKA_DIMS:
            df = df.withColumn(
                f"{prefix}sq{d}", _sq_step(prev, F.col(vec), start, d - start + 1)
            )
            prev, start = F.col(f"{prefix}sq{d}"), d + 1
        return df

    c = _with_prefix_sq(
        fan_out(emb).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").cast("array<double>").alias("cv"),
        ),
        "cv",
        "c",
    )
    q = _with_prefix_sq(
        emb.filter(F.col("vec_id") % 40 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        ),
        "qv",
        "q",
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    prev, start = F.lit(0.0).cast("double"), 1
    for d in _MATRYOSHKA_DIMS:
        pairs = pairs.withColumn(
            f"dot{d}",
            _dot_step(prev, F.col("qv"), F.col("cv"), start, d - start + 1),
        )
        prev, start = F.col(f"dot{d}"), d + 1
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        *[
            F.round(
                F.col(f"dot{d}")
                / (F.sqrt(F.col(f"qsq{d}")) * F.sqrt(F.col(f"csq{d}"))),
                4,
            ).alias(f"s{d}")
            for d in _MATRYOSHKA_DIMS
        ],
    )
    for d in _MATRYOSHKA_DIMS:
        w = W.partitionBy("query_id").orderBy(
            F.desc(f"s{d}"), F.asc("neighbor_id")
        )
        scored = scored.withColumn(f"rnk{d}", F.row_number().over(w))
    per_q = scored.groupBy("query_id").agg(
        *[
            agg
            for d in _MATRYOSHKA_DIMS
            for agg in (
                F.max(
                    F.when(F.col(f"rnk{d}") == 1, F.col("neighbor_id"))
                ).alias(f"n{d}"),
                F.max(F.when(F.col(f"rnk{d}") == 1, F.col(f"s{d}"))).alias(
                    f"s{d}"
                ),
            )
        ]
    )
    g = per_q.agg(
        F.count(F.lit(1)).cast("long").alias("nq"),
        *[
            agg
            for d in _MATRYOSHKA_DIMS
            for agg in (
                F.sum(
                    F.when(F.col(f"n{d}") == F.col("n64"), 1).otherwise(0)
                ).cast("long").alias(f"m{d}"),
                F.sum(F.col(f"s{d}").cast("decimal(18,4)")).alias(f"ss{d}"),
            )
        ],
    )
    return (
        g.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).cast("int").alias("dim"),
                            F.col("nq").alias("n_queries"),
                            F.col(f"m{d}").alias("n_top1_match"),
                            F.round(
                                F.col(f"ss{d}").cast("double") / F.col("nq"), 4
                            ).alias("avg_sim"),
                        )
                        for d in _MATRYOSHKA_DIMS
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("dim")
    )


# -- distributed PCA: one power-iteration step, exactly oracled --------------

_PCA_D = 64
_PCA_SCALE = 67108864.0          # 2^26: exact double scaling of float32
_PCA_SCALE_SQ = _PCA_SCALE * _PCA_SCALE


def _dot_chain(a: str, b: str, spark_dialect: bool = False) -> str:
    """Explicit left-associative 64-term dot product — the SAME addition
    order in both engines, so the double result is bit-identical (a
    groupBy sum would add in shuffle order; list kernels may vectorize).
    Spark's `[]` is 0-based, DuckDB's is 1-based — the 1-based
    element_at/`[k]` pair keeps the two renderings term-for-term equal."""
    if spark_dialect:
        terms = (
            f"element_at({a}, {k}) * element_at({b}, {k})"
            for k in range(1, _PCA_D + 1)
        )
    else:
        terms = (f"{a}[{k}] * {b}[{k}]" for k in range(1, _PCA_D + 1))
    return " + ".join(terms)


def _pca_sql() -> str:
    return f"""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(trunc(CAST(x AS DOUBLE) * {_PCA_SCALE!r}) AS BIGINT)) AS xq
      FROM embeddings
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM q),
    pairs AS (
      SELECT i, j, xq[i] * xq[j] AS p
      FROM q, range(1, {_PCA_D + 1}) t1(i), range(1, {_PCA_D + 1}) t2(j)
    ),
    s AS (SELECT i, j, sum(CAST(p AS DECIMAL(38,0))) AS s FROM pairs GROUP BY i, j),
    v1 AS (SELECT i, sum(s) AS v1 FROM s GROUP BY i),
    d1 AS (SELECT list(CAST(v1 AS DOUBLE) ORDER BY i) AS d FROM v1),
    srows AS (SELECT i, list(CAST(s AS DOUBLE) ORDER BY j) AS sr FROM s GROUP BY i),
    v2 AS (SELECT i, ({_dot_chain('sr', 'd')}) AS v2 FROM srows, d1),
    v2a AS (SELECT list(v2 ORDER BY i) AS w FROM v2),
    v3 AS (SELECT i, ({_dot_chain('sr', 'w')}) AS v3 FROM srows, v2a),
    v3a AS (SELECT list(v3 ORDER BY i) AS u FROM v3),
    fin AS (
      SELECT ({_dot_chain('w', 'u')}) AS num, ({_dot_chain('w', 'w')}) AS den,
             ({_dot_chain('d', 'd')}) AS den1
      FROM v2a, v3a, d1
    ),
    top AS (
      SELECT CAST(i AS BIGINT) AS top_dim, CAST(v1 AS DOUBLE) AS tv
      FROM v1 ORDER BY abs(v1) DESC, i LIMIT 1
    )
    SELECT round(num / den / {_PCA_SCALE_SQ!r} / (SELECT n FROM n), 6) AS eigval,
           top_dim,
           round(tv * tv / den1, 6) AS top_share_sq
    FROM fin, top
    """


@register("pca_power_iteration", sql=_pca_sql())
def pca_power_iteration(spark, sf_dir):
    """Top principal eigenvalue of the embedding corpus by distributed
    power iteration over the exact scatter matrix — three matvec hops
    from the ones vector (v1 = S*1, v2 = S*v1, v3 = S*v2), Rayleigh
    quotient lambda = v2'v3 / v2'v2 on the last pair, normalized back to
    embedding units (/(2^26)^2/N); top_dim reports the dominant
    coordinate of the exact first hop. Every cross-engine-fragile step is
    made exact: float32 coordinates quantize by an EXACT power-of-two
    scaling + truncation (no rounding ties), the scatter matrix
    S[i,j] = sum(xq_i*xq_j) accumulates in DECIMAL(38,0) (order-free),
    and the two double dot products run as explicit left-associative
    64-term chains so both engines add in the same order — the one step
    a groupBy sum could not pin (shuffle-order float addition).

    Scale: the per-row outer product expands row-locally (flatten/
    transform — no self-join) and partial aggregation collapses it to
    O(D^2) cells before the exchange; everything after the scatter
    matrix is O(D^2) metadata. At 100 TB the same shape holds with the
    outer product batched through a BLAS pandas UDF per partition and
    the decimal tree-reduce unchanged; more iterations = repeat the
    O(D^2) matvec, never another data pass."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_rows = e.count()  # scalar; the oracle derives it the same way
    xq = F.expr(
        f"transform(embedding, x -> CAST(CAST(x AS DOUBLE) * {_PCA_SCALE!r} AS BIGINT))"
    )
    pairs = (
        e.select(xq.alias("xq"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(xq, (xi, i0) -> "
                    "transform(xq, (xj, j0) -> "
                    "struct(i0 + 1 AS i, j0 + 1 AS j, xi * xj AS p))))"
                )
            ).alias("c")
        )
        .select("c.*")
    )
    # the D x D scatter matrix feeds two consumers (v1 and the row
    # assembly); without the slot each re-ran the corpus outer-product
    # pass (r13 plan audit: 7 embeddings scans in this plan) — the one
    # data-sized stage of the whole query
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot

    s = _persist_slot(
        pairs.groupBy("i", "j").agg(
            F.sum(F.col("p").cast("decimal(38,0)")).alias("s")
        ),
        "northstar.pca_scatter",
    )
    v1 = s.groupBy("i").agg(F.sum("s").alias("v1"))
    d1 = v1.agg(
        F.expr("transform(sort_array(collect_list(struct(i, CAST(v1 AS DOUBLE) AS v))), e -> e.v)").alias("d")
    )
    srows = s.groupBy("i").agg(
        F.expr("transform(sort_array(collect_list(struct(j, CAST(s AS DOUBLE) AS v))), e -> e.v)").alias("sr")
    )
    def dot(a, b):
        return _dot_chain(a, b, spark_dialect=True)

    v2 = srows.crossJoin(F.broadcast(d1)).select(
        "i", F.expr(f"({dot('sr', 'd')})").alias("v2")
    )
    v2a = v2.agg(
        F.expr("transform(sort_array(collect_list(struct(i, v2 AS v))), e -> e.v)").alias("w")
    )
    v3 = srows.crossJoin(F.broadcast(v2a)).select(
        "i", F.expr(f"({dot('sr', 'w')})").alias("v3")
    )
    v3a = v3.agg(
        F.expr("transform(sort_array(collect_list(struct(i, v3 AS v))), e -> e.v)").alias("u")
    )
    fin = v2a.crossJoin(v3a).crossJoin(d1).select(
        F.expr(f"({dot('w', 'u')})").alias("num"),
        F.expr(f"({dot('w', 'w')})").alias("den"),
        F.expr(f"({dot('d', 'd')})").alias("den1"),
    )
    top = (
        # argmax by |v1| on the EXACT decimal (the oracle orders the same
        # way; a double cast collapses values above 2^53 and could flip a
        # near-tie between engines). max_by keeps the plan sort-free —
        # ties break toward the smallest i via the negated tiebreaker.
        v1.agg(
            F.max_by(
                F.struct(F.col("i"), F.col("v1")),
                F.struct(F.abs(F.col("v1")).alias("a"), (-F.col("i")).alias("ni")),
            ).alias("t")
        ).select(
            F.col("t.i").cast("long").alias("top_dim"),
            F.col("t.v1").cast("double").alias("tv"),
        )
    )
    return fin.crossJoin(top).select(
        F.round(
            F.col("num") / F.col("den") / F.lit(_PCA_SCALE_SQ) / F.lit(float(n_rows)), 6
        ).alias("eigval"),
        "top_dim",
        F.round(F.col("tv") * F.col("tv") / F.col("den1"), 6).alias("top_share_sq"),
    )


@register(
    "jaccard_prefix_join",
    sql="""
    WITH words AS (
      SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, lang, sh FROM (
        SELECT doc_id, lang, array_to_string(w[i:i+2], ' ') AS sh
        FROM (SELECT doc_id, lang, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i
              FROM words)
      ) WHERE sh <> ''
    ),
    sets AS (SELECT doc_id, lang, list(sh) AS s FROM sh GROUP BY doc_id, lang)
    SELECT id_a, id_b, round(jac, 4) AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ) WHERE jac >= 0.3
    ORDER BY id_a, id_b
    """,
)
def jaccard_prefix_join(spark, sf_dir):
    """EXACT-Jaccard similarity join served by PPJoin-style prefix
    filtering (operators/dedup.py prefix_filter_candidates) — the same
    answer as the quadratic blocked join (`dedup_ngram_jaccard`; the
    oracle IS that pairwise SQL), from a subquadratic plan: sets
    canonicalize by global token rarity (vocabulary ranked by
    `distributed_rank` — no global window), each set exposes only its
    |s| - ceil(t|s|) + 1 rarest tokens, and candidates come from an
    equi-join on those prefix tokens. The completeness theorem (any
    pair with J >= t shares a prefix token) makes the filter lossless;
    exact verification on the candidates makes it precise.

    Scale: the blocked join is O(block^2) regardless of similarity; the
    prefix join's candidate count is driven by rare-token collisions —
    on real corpora orders of magnitude smaller — and every step is an
    equi-shuffle (explode, count, rank, join). This is the exact-dedup
    scale path when LSH recall < 1 is not acceptable (e.g. benchmark
    decontamination, where a miss is a contaminated eval)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import (
        _persist_slot,
        prefix_filter_candidates,
    )

    docs = t(spark, sf_dir, "documents")
    sh = D.word_shingles(docs.select("doc_id", "lang", "text"), "doc_id", "text", n=3)
    # the canonicalized sets feed THREE consumers (candidate generation
    # + both verify sides); without the slot each branch re-ran the
    # shingle explode + collect_set from the parquet scan — the r13
    # plan audit counted 12 documents scans in this one query
    sets = _persist_slot(
        sh.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("doc_id", "lang")
        .agg(F.collect_set("shingle").alias("s")),
        "northstar.ppjoin_sets",
    )
    cand = prefix_filter_candidates(
        sets, "doc_id", "s", threshold=0.3, block_col="lang"
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("double")
    union = F.size("s_a") + F.size("s_b") - F.size(F.array_intersect("s_a", "s_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_jac_raw", inter / union)
        # threshold on the RAW Jaccard (the quantity the completeness
        # theorem covers and the oracle filters on); round only for
        # display — filtering on the rounded value would admit pairs in
        # [0.29995, 0.3) that the prefix filter never promised to find
        .filter(F.col("_jac_raw") >= 0.3)
        .select("id_a", "id_b", F.round("_jac_raw", 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


# -- Johnson-Lindenstrauss random projection ---------------------------------

_JL_K = 16            # target dimensionality
_JL_PAIRS = 40        # fixed evaluation pairs (vec_id i <-> i + 250)


def _jl_sign_sql(j: str, d: str) -> str:
    """Deterministic ±1 from the shared hash of (target dim j, source
    dim d) — the projection MATRIX, never materialized anywhere."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64_sql

    h = stable_hash64_sql(f"concat(CAST({j} AS VARCHAR), '_', CAST({d} AS VARCHAR))", seed="jl")
    return f"(CAST(({h} % 2) * 2 - 1 AS BIGINT))"


def _jl_sql() -> str:
    n = _PCA_D
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(trunc(CAST(x AS DOUBLE) * {_PCA_SCALE!r}) AS BIGINT)) AS xq
      FROM embeddings WHERE vec_id < {_JL_PAIRS} OR
            (vec_id >= 250 AND vec_id < {250 + _JL_PAIRS})
    ),
    proj AS (
      SELECT vec_id, j, sum(xq[d] * {_jl_sign_sql('j', 'd')}) AS y
      FROM q, range(1, {_JL_K + 1}) tj(j), range(1, {n + 1}) td(d)
      GROUP BY vec_id, j
    ),
    pv AS (SELECT vec_id, list(y ORDER BY j) AS yv FROM proj GROUP BY vec_id),
    pairs0 AS (
      SELECT a.vec_id AS id_a, a.xq AS xa, b.xq AS xb, pa.yv AS ya, pb.yv AS yb
      FROM q a JOIN q b ON b.vec_id = a.vec_id + 250
      JOIN pv pa ON pa.vec_id = a.vec_id
      JOIN pv pb ON pb.vec_id = a.vec_id + 250
    ),
    dfull AS (
      SELECT id_a, sum((xa[d] - xb[d]) * (xa[d] - xb[d])) AS d2_full
      FROM pairs0, range(1, {n + 1}) td(d) GROUP BY id_a
    ),
    dproj AS (
      SELECT id_a, sum((ya[j] - yb[j]) * (ya[j] - yb[j])) AS d2_proj
      FROM pairs0, range(1, {_JL_K + 1}) tj(j) GROUP BY id_a
    )
    SELECT id_a, id_a + 250 AS id_b,
           round(CAST(d2_proj AS DOUBLE) / {_JL_K} / CAST(d2_full AS DOUBLE), 6)
             AS distortion_sq
    FROM dfull JOIN dproj USING (id_a) ORDER BY id_a
    """


@register("jl_random_projection", sql=_jl_sql())
def jl_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss sketching of the embedding space: project
    64-dim vectors to K=16 with a ±1 sign matrix DERIVED from the shared
    hash (never materialized, never shuffled — each executor regenerates
    the signs row-locally), then report the squared-distance distortion
    d2_proj/(K*d2_full) for 40 fixed vector pairs — the quantity JL
    bounds near 1. All arithmetic is EXACT integers: coordinates
    quantize by the power-of-two float32 scaling, signs are ±1, so sums
    and squared distances are order-free BIGINTs and the one final
    division happens on identical doubles in both engines.

    Scale: projection is a row-local O(D*K) expression (at 100 TB: a
    pandas-UDF GEMM per batch with the same hash-derived matrix);
    distance eval touches only the fixed probe pairs. The projected
    table is the input ANN/dedup passes run on at 4x less width — this
    query pins that the sketch preserves what they need."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.functions.hashing import stable_hash64

    e = (
        t(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") < _JL_PAIRS)
            | ((F.col("vec_id") >= 250) & (F.col("vec_id") < 250 + _JL_PAIRS))
        )
        .select(
            "vec_id",
            F.expr(
                f"transform(embedding, x -> CAST(CAST(x AS DOUBLE) * {_PCA_SCALE!r} AS BIGINT))"
            ).alias("xq"),
        )
    )
    cells = e.select(
        "vec_id",
        F.explode(F.expr("transform(xq, (x, d0) -> struct(d0 + 1 AS d, x AS x))")).alias("c"),
    ).select("vec_id", "c.*")
    kdim = spark.range(1, _JL_K + 1).select(F.col("id").alias("j"))
    sign = (
        stable_hash64(
            F.concat(F.col("j").cast("string"), F.lit("_"), F.col("d").cast("string")),
            seed="jl",
        )
        % 2
    ) * 2 - 1
    proj = (
        cells.crossJoin(F.broadcast(kdim))
        .select("vec_id", "j", (F.col("x") * sign).alias("term"))
        .groupBy("vec_id", "j")
        .agg(F.sum("term").alias("y"))
    )
    pv = proj.groupBy("vec_id").agg(
        F.expr("transform(sort_array(collect_list(struct(j, y))), e -> e.y)").alias("yv")
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("xq").alias("xa"))
    b = e.select((F.col("vec_id") - 250).alias("id_a"), F.col("xq").alias("xb"))
    pa = pv.select(F.col("vec_id").alias("id_a"), F.col("yv").alias("ya"))
    pb = pv.select((F.col("vec_id") - 250).alias("id_a"), F.col("yv").alias("yb"))
    d2 = lambda u, v: F.expr(  # noqa: E731
        f"aggregate(zip_with({u}, {v}, (p, q) -> (p - q) * (p - q)), 0L, (acc, w) -> acc + w)"
    )
    return (
        a.join(b, "id_a").join(pa, "id_a").join(pb, "id_a")
        .filter(F.col("id_a") < _JL_PAIRS)
        .select(
            "id_a",
            (F.col("id_a") + 250).alias("id_b"),
            F.round(
                d2("ya", "yb").cast("double") / F.lit(float(_JL_K))
                / d2("xa", "xb").cast("double"),
                6,
            ).alias("distortion_sq"),
        )
        .orderBy("id_a")
    )


@register(
    "heaps_law_vocab",
    sql="""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    words AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents
    ),
    tok AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS w
      FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws), 1))) AS i
            FROM words)
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    p1 AS (SELECT CAST(count(*) AS BIGINT) AS t, CAST(count(DISTINCT w) AS BIGINT) AS v
           FROM tok, mx WHERE doc_id <= m / 4),
    p2 AS (SELECT CAST(count(*) AS BIGINT) AS t, CAST(count(DISTINCT w) AS BIGINT) AS v
           FROM tok, mx WHERE doc_id <= m / 2),
    p3 AS (SELECT CAST(count(*) AS BIGINT) AS t, CAST(count(DISTINCT w) AS BIGINT) AS v
           FROM tok)
    SELECT p1.t AS tokens_q1, p1.v AS vocab_q1,
           p2.t AS tokens_q2, p2.v AS vocab_q2,
           p3.t AS tokens_full, p3.v AS vocab_full,
           round(ln(CAST(p2.v AS DOUBLE) / p1.v) / ln(CAST(p2.t AS DOUBLE) / p1.t), 6)
             AS heaps_beta_12,
           round(ln(CAST(p3.v AS DOUBLE) / p2.v) / ln(CAST(p3.t AS DOUBLE) / p2.t), 6)
             AS heaps_beta_23
    FROM p1, p2, p3
    """,
)
def heaps_law_vocab(spark, sf_dir):
    """Heaps'-law vocabulary growth over corpus prefixes — the curve a
    corpus pipeline fits to budget tokenizer vocab and predict dedup
    yield at the next data order of magnitude: V(T) ~ K*T^beta, with
    beta estimated between the quarter/half/full prefixes (by doc_id —
    the ingestion order) as ln(V2/V1)/ln(T2/T1). A beta falling with
    corpus size is the diminishing-novelty signal that motivates
    near-dup removal before scaling up. Measured on word BIGRAMS (the
    fixture's unigram vocabulary saturates in the first quartile).
    Integer token/vocab counts are exact; the two log-ratio divisions
    run on identical doubles.

    Scale: three count(+distinct) aggregations over the tokenized
    stream — distinct vocabulary shuffles the (prefix, word) keys once;
    at 100 TB swap exact distinct for the engine's bucketed-bitmap
    exact distinct (bitmap_exact_distinct) or HLL per prefix."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    m = docs.agg(F.max("doc_id").alias("m"))
    ws = F.split(F.lower(F.col("text")), r"\s+")
    # word BIGRAM vocabulary — the unigram vocab of the synthetic corpus
    # saturates in the first quartile (31 words), which would make every
    # beta zero; bigrams give the curve real support
    bigrams = F.expr(
        "filter(transform(ws, (x, i) -> CASE WHEN i + 1 < size(ws) "
        "AND x <> '' AND ws[i + 1] <> '' "
        "THEN concat(x, ' ', ws[i + 1]) END), x -> x IS NOT NULL)"
    )
    tok = (
        docs.crossJoin(F.broadcast(m))
        .withColumn("ws", ws)
        .select("doc_id", "m", F.explode(bigrams).alias("w"))
    )

    # ONE aggregation computes all three prefixes (r13: was three
    # independent filter+agg branches, each re-running the tokenize +
    # bigram explode — 6 documents scans in the audited plan): a
    # conditional count/count-distinct per prefix — count(when(cond, 1))
    # and countDistinct(when(cond, w)) ignore the NULLs outside the
    # prefix, so the six integers are identical to the branch version.
    c1 = F.col("doc_id") <= F.col("m") / 4
    c2 = F.col("doc_id") <= F.col("m") / 2
    p = tok.agg(
        F.count(F.when(c1, 1)).alias("tokens_q1"),
        F.countDistinct(F.when(c1, F.col("w"))).alias("vocab_q1"),
        F.count(F.when(c2, 1)).alias("tokens_q2"),
        F.countDistinct(F.when(c2, F.col("w"))).alias("vocab_q2"),
        F.count(F.lit(1)).alias("tokens_full"),
        F.countDistinct("w").alias("vocab_full"),
    )
    beta = lambda v2, v1, t2, t1: F.round(  # noqa: E731
        F.log(F.col(v2).cast("double") / F.col(v1))
        / F.log(F.col(t2).cast("double") / F.col(t1)),
        6,
    )
    return (
        p
        .select(
            "tokens_q1", "vocab_q1", "tokens_q2", "vocab_q2",
            "tokens_full", "vocab_full",
            beta("vocab_q2", "vocab_q1", "tokens_q2", "tokens_q1").alias("heaps_beta_12"),
            beta("vocab_full", "vocab_q2", "tokens_full", "tokens_q2").alias("heaps_beta_23"),
        )
    )


def _kappa_oracle_sql() -> str:
    """Composes the registered text_langid oracle (the same no-drift
    contract as _langid_eval_oracle_sql)."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries.base import QUERIES

    pred = QUERIES["text_langid"].sql
    return f"""
    WITH pred AS ({pred}),
    joined AS (
      SELECT d.lang AS t, p.predicted_lang AS y
      FROM pred p JOIN documents d ON d.doc_id = p.doc_id
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM joined),
    agree AS (
      SELECT CAST(sum(CASE WHEN t = y THEN 1 ELSE 0 END) AS DOUBLE) AS hits
      FROM joined
    ),
    marg AS (
      SELECT sum(CAST(tc AS DOUBLE) * yc) AS dot FROM (
        SELECT coalesce(tt.lang, yy.lang) AS lang,
               coalesce(tc, 0) AS tc, coalesce(yc, 0) AS yc
        FROM (SELECT t AS lang, count(*) AS tc FROM joined GROUP BY t) tt
        FULL OUTER JOIN
             (SELECT y AS lang, count(*) AS yc FROM joined GROUP BY y) yy
        USING (lang)) x
    )
    SELECT CAST(n.n AS BIGINT) AS n_docs,
           round(agree.hits / n.n, 6) AS po,
           round(marg.dot / (n.n * n.n), 6) AS pe,
           round((agree.hits / n.n - marg.dot / (n.n * n.n))
                 / (1.0 - marg.dot / (n.n * n.n)), 6) AS kappa
    FROM n, agree, marg
    """


@register("cohens_kappa_langid", sql=_kappa_oracle_sql())
def cohens_kappa_langid(spark, sf_dir):
    """Cohen's kappa between the engine's language-ID heuristic and the
    corpus's true labels — chance-corrected agreement, the statistic
    that exposes a classifier that scores high accuracy only because
    one class dominates (po can be large while kappa ~ 0). Completes
    the operator-eval family's statistics: precision/recall per class
    (langid_eval_confusion) + one chance-corrected scalar to gate on.
    Exact integer agreement and marginal counts; the kappa ratio runs
    on identical doubles.

    Scale: the classifier pass is the existing map-side text_langid
    plan; the eval adds two tiny 5-class aggregations and one
    broadcast-sized full-outer marginal join."""
    from aws_glue_streaming_etl_with_apache_hudi_spark.operators.dedup import _persist_slot

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = text_langid(spark, sf_dir).select("doc_id", "predicted_lang")
    # (t, y) pairs feed three consumers (the scalar agg + both marginal
    # groupBys); the slot keeps the classifier pass to one execution
    # (r13 plan audit: 8 documents scans), and n + hits merge into one
    # aggregation instead of two crossJoined branches
    joined = _persist_slot(
        pred.join(docs, "doc_id").select(
            F.col("lang").alias("t"), F.col("predicted_lang").alias("y")
        ),
        "northstar.kappa_pairs",
    )
    n_agree = joined.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("t") == F.col("y"), 1).otherwise(0))
        .cast("double")
        .alias("hits"),
    )
    tc = joined.groupBy(F.col("t").alias("lang")).agg(F.count(F.lit(1)).alias("tc"))
    yc = joined.groupBy(F.col("y").alias("lang")).agg(F.count(F.lit(1)).alias("yc"))
    marg = (
        tc.join(yc, "lang", "full_outer")
        .select(
            (
                F.coalesce(F.col("tc"), F.lit(0)).cast("double")
                * F.coalesce(F.col("yc"), F.lit(0))
            ).alias("p")
        )
        .agg(F.sum("p").alias("dot"))
    )
    po = F.col("hits") / F.col("n")
    pe = F.col("dot") / (F.col("n") * F.col("n"))
    return (
        n_agree
        .crossJoin(marg)
        .select(
            F.col("n").cast("long").alias("n_docs"),
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        )
    )


@register(
    "multimodal_frame_sample_udtf",
    sql="""
    WITH d AS (
      SELECT doc_id, text,
             CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames
      FROM documents WHERE length(text) > 0
    ),
    f AS (
      SELECT doc_id, text,
             greatest(1, n_frames // 8) AS stride,
             unnest(range(0, n_frames)) AS i
      FROM d
    )
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(i * 64 AS BIGINT) AS char_offset,
           CAST(length(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS BIGINT)
             AS frame_chars,
           md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
    FROM f WHERE i % stride = 0 AND i // stride < 8
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample_udtf(spark, sf_dir):
    """Stride frame-sampling over an opaque asset — the video-ingest
    shape (N fixed-width frames in, at most 8 evenly-strided samples
    out) — as a Python UDTF through the SQL LATERAL correlate. Frames
    here are fixed-width CHARACTER windows standing in for fixed-width
    byte windows (the codec decode step is the stubbed half of the
    multimodal design, tests/test_multimodal.py); the per-frame digest
    is the dedup/integrity key a real frame pipeline would carry.

    Sampling rule, identical in the UDTF and the relational oracle:
    n_frames = ceil(len/64), stride = max(1, n_frames // 8), keep frame
    indices {k*stride : k < 8} below n_frames. Row expansion stays
    row-local (Arrow-batched LATERAL, no shuffle); the only exchange is
    the final presentation sort."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="frame_idx int, char_offset bigint, "
        "frame_chars bigint, frame_md5 string"
    )
    class FrameSample:
        def eval(self, text: str):
            import hashlib
            import math

            if not text:
                return
            n_frames = math.ceil(len(text) / 64)
            stride = max(1, n_frames // 8)
            for i in range(0, min(n_frames, 8 * stride), stride):
                chunk = text[i * 64 : i * 64 + 64]
                yield (
                    i,
                    i * 64,
                    len(chunk),
                    hashlib.md5(chunk.encode("utf-8")).hexdigest(),
                )

    spark.udtf.register("frame_sample", FrameSample)
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, s.frame_idx, s.char_offset, s.frame_chars, s.frame_md5
        FROM documents d, LATERAL frame_sample(d.text) s
        ORDER BY d.doc_id, s.frame_idx
        """
    )
