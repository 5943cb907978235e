"""LLM-training-data queries (SURVEY.md §2B): deduplication, similarity
search, text analysis, multimodal plumbing — each over the driver's
documents/embeddings tables. SQL-expressible ones carry a DuckDB oracle;
sketch/LSH ops are rows-only and verified by property tests instead."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import fanout_scan, load_table
from ..operators.dedup import (
    exact_dedup,
    exact_jaccard,
    simhash,
)
from ..operators.multimodal import extract_features, text_as_media
from ..operators.similarity import brute_force_topk, ivf_topk, lsh_topk
from ..operators.text import fingerprint, language_id, quality_features
from .registry import query, scratch_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
SELECT min(doc_id) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY text
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: one surviving doc_id (smallest) per distinct text,
    plus the multiplicity it absorbed. Single hash-aggregate shuffle."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("doc_id", "n_copies")


@query(
    "dedup_exact_hash",
    oracle="""
SELECT sha256(text) AS text_hash,
       min(doc_id)  AS keeper,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY sha256(text)
""",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed exact dedup — at 100 TB you group by a 32-byte digest, not
    the document body, so the shuffle moves hashes instead of texts."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("text_hash", F.sha2("text", 256))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "dedup_keep_first",
    oracle="""
WITH f AS (
    SELECT doc_id, lang, source, n_chars,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
), r AS (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM f
)
SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1
""",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_dedup operator: full surviving rows (deterministic smallest
    doc_id per fingerprint)."""
    d = fingerprint(_t(spark, sf_dir, "documents"))
    return exact_dedup(d, ["fingerprint"], tiebreaker="doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "dedup_minhash",
    oracle="""
WITH w AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')
               AS words
    FROM documents
), s AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS sh
    FROM w
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.9
""",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (64 perms) + LSH (16 bands) candidate pairs, then exact-
    Jaccard verification, keeping verified near-dups (J >= 0.9).

    The oracle is EXHAUSTIVE: DuckDB scores every pair, so a hash match
    proves the banded LSH (which scores only bucket-colliding pairs — the
    100 TB shape) missed NO true near-duplicate at this threshold. With
    b=16, r=4 the miss probability per J=0.9 pair is (1-0.9^4)^16 ~= 4e-8,
    and the seeded hash family makes the outcome deterministic; recall 1.0
    verified at sf0.001/0.01 in-session, plus property tests in
    tests/test_dedup.py. Raw (unverified) candidate output remains
    exercised by dedup_fuzzy_pipeline."""
    from ..operators.dedup import verified_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return verified_near_duplicates(
        d, id_col="doc_id", text_col="text", jaccard_threshold=0.9
    ).orderBy("id_a", "id_b")


@query(
    "dedup_minhash_capped",
    oracle="""
WITH w AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')
               AS words
    FROM documents
), s AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS sh
    FROM w
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.9
""",
)
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash with the PRODUCTION skew guard engaged: band buckets
    wider than ``max_bucket=100`` are structurally dropped before the
    candidate self-join (operators/dedup.py:minhash_lsh_candidates). On a
    clean corpus the cap is a no-op — the widest band bucket in every
    fixture is 4 (probed at sf0.001/0.01/0.1), so this query is oracled
    against the SAME exhaustive all-pairs Jaccard twin as dedup_minhash:
    a hash match proves the GUARDED code path (the one you'd actually run
    at 100 TB, where one boilerplate bucket of 10^6 docs is 10^12 pairs)
    loses zero recall when no bucket exceeds the cap. The adversarial
    case — a 40-doc byte-identical clique contributing zero candidates
    while normal clusters still surface — is asserted in
    tests/test_dedup.py::test_lsh_max_bucket_caps_degenerate_buckets,
    and zero collateral loss under a 1000-doc bomb in
    tests/test_dedup.py::test_capped_lsh_zero_collateral_on_clean_docs."""
    from ..operators.dedup import verified_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return verified_near_duplicates(
        d,
        id_col="doc_id",
        text_col="text",
        jaccard_threshold=0.9,
        max_bucket=100,
    ).orderBy("id_a", "id_b")


@query(
    "dedup_source_overlap",
    oracle="""
WITH w AS (
    SELECT doc_id, source,
           string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')
               AS words
    FROM documents
), s AS (
    SELECT doc_id, source,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS sh
    FROM w
), p AS (
    SELECT a.source AS sa, b.source AS sb
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.9
)
SELECT least(sa, sb)    AS source_a,
       greatest(sa, sb) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1, 2
""",
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate overlap matrix: for every unordered
    source pair, how many verified near-dup pairs (J >= 0.9) straddle it —
    the standard curation report before setting mixture weights (a source
    that mostly re-serves another adds tokens but no information, and
    down-weighting it beats deduping late). Reuses the shared
    verified_near_duplicates preamble (LSH banding + exact-Jaccard verify,
    never all-pairs), then one broadcast-sized join to the (doc_id,
    source) projection and a hash aggregate on the unordered pair key.
    Oracle is EXHAUSTIVE (DuckDB scores every pair), so the hash match
    also re-proves LSH recall on this corpus."""
    from ..operators.dedup import verified_near_duplicates

    d = _t(spark, sf_dir, "documents")
    pairs = verified_near_duplicates(
        d, id_col="doc_id", text_col="text", jaccard_threshold=0.9
    )
    src = d.select("doc_id", "source")
    sa = src.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
        "source", "__sa"
    )
    sb = src.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
        "source", "__sb"
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "text_decontaminate",
    oracle="""
WITH tr AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
    FROM documents WHERE doc_id < 480
), tg AS (
    SELECT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS sh
    FROM tr, UNNEST(generate_series(1, greatest(len(w) - 7, 1))) AS t(i)
), bn AS (
    SELECT string_split_regex(lower(text), '\\s+') AS w
    FROM documents WHERE doc_id >= 480
), bg AS (
    SELECT DISTINCT array_to_string(list_slice(w, i, i + 7), ' ') AS sh
    FROM bn, UNNEST(generate_series(1, greatest(len(w) - 7, 1))) AS t(i)
)
SELECT DISTINCT doc_id FROM tg JOIN bg USING (sh)
""",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training docs (doc_id < 480) sharing any
    word 8-gram with the held-out benchmark slice (doc_id >= 480). The
    benchmark shingle set broadcasts; the training side streams through
    codegen shingling into a semi join — the 100 TB side never shuffles."""
    from ..operators.dedup import contaminated_ids

    d = _t(spark, sf_dir, "documents")
    return contaminated_ids(
        d.filter(F.col("doc_id") < 480),
        d.filter(F.col("doc_id") >= 480),
        ngram=8,
    ).orderBy("doc_id")


@query(
    "dedup_keep_best",
    oracle="""
WITH RECURSIVE w AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
    FROM documents
), s AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS sh
    FROM w
), e0 AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
                / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.8
), edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
reach AS (
    SELECT u AS a, v AS b FROM edges
    UNION
    SELECT r.a, e.v AS b FROM reach r JOIN edges e ON r.b = e.u
)
SELECT d.doc_id, d.lang, d.n_chars FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM reach r JOIN documents o ON o.doc_id = r.b
    WHERE r.a = d.doc_id
      AND (o.n_chars > d.n_chars
           OR (o.n_chars = d.n_chars AND o.doc_id < d.doc_id)))
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_dedup_keep_one with QUALITY-AWARE survivor selection: per
    near-dup cluster the n_chars-longest member survives (ties to lowest
    id) — keep the fullest copy, not the first-crawled one. The oracle
    unrolls the whole thing exhaustively (all-pairs Jaccard graph,
    recursive-CTE transitive closure, then argmax-by-quality per
    component expressed as NOT EXISTS a better reachable member), so the
    hash match proves LSH recall AND the representative rule end-to-end.
    operators.dedup.fuzzy_dedup_keep_best."""
    from ..operators.dedup import fuzzy_dedup_keep_best

    d = _t(spark, sf_dir, "documents")
    return fuzzy_dedup_keep_best(
        d, quality_col="n_chars", jaccard_threshold=0.8
    ).select("doc_id", "lang", "n_chars")


@query(
    "dedup_fuzzy_pipeline",
    oracle="""
WITH RECURSIVE w AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
    FROM documents
), s AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS sh
    FROM w
), e0 AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
                / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.8
), edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
reach AS (
    SELECT u AS a, v AS b FROM edges
    UNION
    SELECT r.a, e.v AS b FROM reach r JOIN edges e ON r.b = e.u
)
SELECT d.doc_id, d.lang FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM reach
                  WHERE reach.a = d.doc_id AND reach.b < d.doc_id)
""",
)
def dedup_fuzzy_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production near-dup flow end-to-end: MinHash-LSH
    candidates -> exact-Jaccard verify (>= 0.8) -> connected components ->
    keep the smallest doc_id per duplicate cluster; returns surviving
    (doc_id, lang) rows.

    Oracled end-to-end: DuckDB rebuilds the J>=0.8 graph EXHAUSTIVELY
    (all pairs) and takes its transitive closure with a recursive CTE, so
    a hash match proves the banded-LSH edge discovery connected exactly
    the same components as the exhaustive graph — survivors differ if LSH
    drops any component-bridging edge (per-edge miss probability ~2e-4 at
    J=0.8 with b=16/r=4; verified edge-recall 1.0 at sf0.001/0.01
    in-session, planted-duplicate behavior property-tested in
    tests/test_dedup.py)."""
    from ..operators.dedup import fuzzy_dedup_keep_one

    d = _t(spark, sf_dir, "documents")
    return (
        fuzzy_dedup_keep_one(d, id_col="doc_id", text_col="text")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# RETIRED (round 10): the rows-only `dedup_simhash` / `dedup_simhash_pairs`
# registrations were the registry's only never-hash-checked rows — their
# xxhash64 token family is structurally un-oracle-able in DuckDB (no
# xxhash64), and the ALGORITHM (bit voting, packing, 4-chunk pigeonhole
# banding, hamming verify) is fully hash-proven by `dedup_simhash_portable`
# below (exhaustive all-pairs DuckDB twin over the md5-derived 60-bit
# family) plus `dedup_incremental_simhash`. The fast xxhash64 production
# operators (operators/dedup.py:simhash, simhash_near_duplicates) remain
# the default path and stay property-tested in tests/test_dedup.py.


@query(
    "dedup_fingerprint",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return fingerprint(d).select("doc_id", "fingerprint")


@query(
    "dedup_substring_spans",
    oracle="""
WITH w AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
    FROM documents
), g AS (
    SELECT DISTINCT doc_id, array_to_string(words[i:i+9], ' ') AS gram
    FROM w, UNNEST(generate_series(1, greatest(len(words) - 9, 1))) AS u(i)
), d AS (
    SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
FROM g JOIN d USING (gram) GROUP BY doc_id
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup audit (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better', the ExactSubstr variant at
    word granularity): per document, how many of its distinct word
     10-gram spans also occur in at least one OTHER document. The output is
    the removal work-list a span-level deduper consumes.

    Scale shape: ONE scan — codegen shingle explode, immediately hashed to
    sha256 so only (doc_id, 32-byte key) rows ever cross a shuffle, pair
    distinct, then a count window over the span key (rows are distinct
    pairs, so the partition row count IS the distinct-doc count) and one
    final doc aggregate. Three key-chosen exchanges, no self-join, no
    second scan. The oracle groups the raw span text — same partitioning
    modulo hash collisions (2^-128)."""
    from pyspark.sql import Window

    from ..operators.dedup import shingle_rows

    d = _t(spark, sf_dir, "documents")
    sh = (
        shingle_rows(d, id_col="doc_id", text_col="text", k=10)
        .select("doc_id", F.sha2("shingle", 256).alias("__g"))
        .distinct()
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("__g"))
    return (
        sh.withColumn("__nd", nd)
        .filter(F.col("__nd") >= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
WITH w AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')
               AS words
    FROM documents WHERE doc_id < 40
), s AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS sh
    FROM w
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard for a bounded pair set — the verify stage
    that runs after LSH candidate generation, here oracled end-to-end."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    ids = d.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("id_a"))
        .join(ids.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return exact_jaccard(d, pairs)


@query(
    "dedup_embedding_cosine",
    oracle="""
WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
FROM s a JOIN s b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.25
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over a bounded slice (semantic
    dedup). At corpus scale the same shape runs behind LSH/IVF bucketing so
    only candidate pairs are scored; here the slice is small enough to score
    exhaustively, which makes it oracle-checkable."""
    from ..functions.vectors import cosine

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("__c", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("__c") >= 0.25)
        .select("id_a", "id_b", F.round("__c", 4).alias("cos_sim"))
    )


@query(
    "dedup_incremental_embedding",
    oracle="""
WITH b AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
     h AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0)
SELECT b.vec_id FROM b
WHERE NOT EXISTS (
    SELECT 1 FROM h
    WHERE round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                       CAST(h.embedding AS DOUBLE[])), 6)
          >= 0.4)
""",
)
def dedup_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding member of the incremental dedup family: new-batch vectors
    (vec_id % 5 != 0) drop when any already-ingested vector (% 5 == 0)
    reaches cosine 0.4. Exact by construction — the bounded batch
    broadcasts with precomputed norms and the history corpus is scanned
    once, map-only; the oracle is the same exhaustive batch x history
    scan, so the hash match proves the inverted-broadcast shape computes
    the textbook answer. operators.similarity.incremental_embedding_dedup."""
    from ..operators.similarity import incremental_embedding_dedup

    e = _t(spark, sf_dir, "embeddings")
    history = e.filter(F.col("vec_id") % 5 == 0)
    batch = e.filter(F.col("vec_id") % 5 != 0)
    return incremental_embedding_dedup(
        batch, history, threshold=0.4
    ).select("vec_id")


@query(
    "dedup_incremental_ann",
    oracle=r"""
WITH hist AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id % 4 <> 3),
batch AS (
    SELECT b.vec_id,
           CASE WHEN b.vec_id % 20 = 3 AND d.vec_id IS NOT NULL
                THEN list_transform(CAST(d.embedding AS DOUBLE[]),
                                    x -> x * 1.01)
                ELSE CAST(b.embedding AS DOUBLE[]) END AS v
    FROM embeddings b LEFT JOIN embeddings d ON d.vec_id = b.vec_id - 3
    WHERE b.vec_id % 4 = 3
),
eq AS (SELECT vec_id,
              list_transform(v, x -> CAST(round(x*1000) AS BIGINT)) AS xq
       FROM hist),
ex AS (SELECT vec_id, generate_subscripts(xq,1) AS i, unnest(xq) AS x
       FROM eq),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)-1 AS BIGINT) AS cid,
              xq
       FROM (SELECT * FROM eq ORDER BY vec_id LIMIT 16)),
c0x AS (SELECT cid, generate_subscripts(xq,1) AS i, unnest(xq)*100 AS c
        FROM c0),
d1 AS (SELECT e.vec_id, c.cid,
              CAST(SUM((e.x*100 - c.c)*(e.x*100 - c.c)) AS BIGINT) AS dist
       FROM ex e JOIN c0x c USING (i) GROUP BY e.vec_id, c.cid),
a1 AS (SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
    FROM d1) WHERE rn=1),
u1 AS (SELECT a.cluster AS cid, e.i, CAST(sum(e.x) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n
       FROM ex e JOIN a1 a USING (vec_id) GROUP BY a.cluster, e.i),
c1x AS (SELECT c.cid, c.i,
               CASE WHEN u.s IS NULL THEN c.c
                    ELSE (u.s*100 - (((u.s*100 % u.n) + u.n) % u.n)) // u.n
               END AS c
        FROM c0x c LEFT JOIN u1 u ON u.cid = c.cid AND u.i = c.i),
cent AS (SELECT cid, list_transform(list(c ORDER BY i), y -> y/100000.0)
                     AS cv
         FROM c1x GROUP BY cid),
ha AS (SELECT vec_id, cid AS cell FROM (
    SELECT h.vec_id, c.cid,
           row_number() OVER (
               PARTITION BY h.vec_id
               ORDER BY round(list_cosine_similarity(h.v, c.cv), 6) DESC,
                        c.cid) rn
    FROM hist h CROSS JOIN cent c) WHERE rn = 1),
bp AS (SELECT vec_id, cid AS cell FROM (
    SELECT b.vec_id, c.cid,
           row_number() OVER (
               PARTITION BY b.vec_id
               ORDER BY round(list_cosine_similarity(b.v, c.cv), 6) DESC,
                        c.cid) rn
    FROM batch b CROSS JOIN cent c) WHERE rn <= 2)
SELECT b.vec_id
FROM batch b
WHERE NOT EXISTS (
    SELECT 1
    FROM bp JOIN ha ON ha.cell = bp.cell
    JOIN hist h ON h.vec_id = ha.vec_id
    WHERE bp.vec_id = b.vec_id
      AND round(list_cosine_similarity(b.v, h.v), 6) >= 0.6)
""",
)
def dedup_incremental_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-ACCELERATED semantic dedup — the scale shape between the
    exhaustive embedding member and SemDeDup: dedup_incremental_embedding
    scans the FULL history per batch, semantic_dedup is corpus-wide;
    here the new batch (the 25% crawl, vec_id % 4 == 3) probes only its
    2 nearest cells of the PERSISTED 16-cell IVF index built over
    history, so the 100 TB history contributes just the probed cells'
    partition directories at the scan
    (operators/similarity.py:incremental_ann_dedup). Every score rounds
    to 6dp with ties to the lowest cell (the semantic_dedup convention),
    so the WHOLE composition is engine-portable and the oracle unrolls
    it end-to-end: the exact-integer Lloyd refinement of the coarse
    quantizer (the cluster_kmeans machinery at k=16 over history), the
    index's cell assignment, the batch's 2-cell probe, and the
    probed-cell drop test. Re-scaled re-uploads are decorated in
    (vec_id % 20 == 3 copies vec_id-3's history vector x1.01 —
    cosine-invariant, so the match path provably fires at threshold
    0.6); the rest of the batch is near-random and survives. The index
    builds with assign_score_round=6 — the opt-in that makes stored
    cells hash-exact where the ANN search paths keep raw-float argmax."""
    from ..operators.similarity import (
        build_ivf_index,
        incremental_ann_dedup,
    )

    e = _t(spark, sf_dir, "embeddings")
    history = e.filter(F.col("vec_id") % 4 != 3)
    donor = e.select(
        (F.col("vec_id") + 3).alias("vec_id"),
        F.col("embedding").alias("__dv"),
    )
    batch = (
        e.filter(F.col("vec_id") % 4 == 3)
        .join(donor, "vec_id", "left")
        .select(
            "vec_id",
            F.when(
                (F.col("vec_id") % 20 == 3) & F.col("__dv").isNotNull(),
                F.transform(
                    F.col("__dv").cast("array<double>"),
                    lambda x: x * 1.01,
                ),
            )
            .otherwise(F.col("embedding").cast("array<double>"))
            .alias("embedding"),
        )
    )
    idx = f"{scratch_dir('anndedup', sf_dir)}/index"
    build_ivf_index(
        history, idx, n_centroids=16, batch_id=0, assign_score_round=6
    )
    return incremental_ann_dedup(
        batch, idx, threshold=0.6, n_probe=2, score_round=6
    ).select("vec_id")


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@query(
    "similarity_topk",
    oracle="""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[])) AS score
    FROM q JOIN embeddings e ON e.vec_id != q.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(score, 4) AS score
FROM ranked WHERE rank <= 5
""",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 20 query vectors — the baseline
    ANN answers are measured against."""
    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        e, e.filter(F.col("vec_id") < 20), k=5
    )


def _ann_recall_summary(
    ann: DataFrame, exact: DataFrame, *, min_recall: float
) -> DataFrame:
    """Driver-checkable recall floor for an ANN result: count the ANN pairs
    that appear in the exact top-k (both computed in-engine over the SAME
    bounded query set), gate the output row on a minimum aggregate recall,
    and emit only the SQL-pinnable shape facts. If recall ever drops below
    the floor the row disappears and the driver's row-count check goes red —
    an honest invariant (no fake SQL portability of the hash family).
    The floor is RELATIVE (n_hits >= min_recall * n_exact_pairs), so it
    keeps meaning if k or the query-set size changes. Single-row aggregate
    cross joins only."""
    hits = ann.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    shape = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
    )
    return (
        shape.crossJoin(hits)
        .filter(F.col("n_hits") >= min_recall * F.col("n_exact_pairs"))
        .select("n_queries", "n_exact_pairs")
    )


_ANN_SHAPE_ORACLE = """
SELECT CAST(q.n AS BIGINT) AS n_queries,
       -- top-k excludes self-matches, so each query has at most
       -- min(k, total_vectors - 1) exact neighbors; a hardcoded n * 5
       -- would go red on any corpus with < 6 embeddings
       CAST(q.n * least(5, t.n - 1) AS BIGINT) AS n_exact_pairs
FROM (SELECT count(*) AS n FROM embeddings WHERE vec_id < 20) q,
     (SELECT count(*) AS n FROM embeddings) t
"""


@query("similarity_ivf", oracle=_ANN_SHAPE_ORACLE)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5 with an in-engine recall audit: the
    ANN answer (probe 4 of 16 cells — scoring ~25% of the corpus) is
    semi-joined against exact brute-force top-5 over the same 20 queries,
    and the summary row only survives if aggregate recall@5 >= 0.70.

    Synthetic embeddings are near-random — the adversarial case for ANN —
    and measured recall at probe 4/16 is 0.83-0.93 across sf0.001/0.01/0.1 (round-8 refined init),
    so the 0.70 floor has margin while the pruning stays real. The exact
    side is bounded (20 queries x corpus), the standard recall-validation
    sample a production pipeline runs beside the index. Per-pair scoring
    parity with DuckDB is covered by the fully-oracled similarity_topk.

    The refined coarse quantizer is a MODEL ARTIFACT (train once, search
    amortized), so it caches per process as an input-by-contract — warm
    runs measure assignment + probe + rescore, not Lloyd training. The
    in-plan training path stays covered by similarity_ivf_pq and
    similarity_incremental, which build per call on purpose."""
    import json as _json

    from ..operators.similarity import ivf_refined_centroids
    from .registry import scratch_source_cache

    e = _t(spark, sf_dir, "embeddings")
    cache, built = scratch_source_cache("ivfcent", sf_dir)
    if not built:
        cents = ivf_refined_centroids(e, n_centroids=16)
        with open(f"{cache}/centroids.json", "w") as fh:
            _json.dump(cents, fh)
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    with open(f"{cache}/centroids.json") as fh:
        cents = [(sid, vec) for sid, vec in _json.load(fh)]
    q = e.filter(F.col("vec_id") < 20)
    ann = ivf_topk(e, q, k=5, n_probe=4, centroids=cents)
    exact = brute_force_topk(e, q, k=5)
    return _ann_recall_summary(ann, exact, min_recall=0.70)


@query("similarity_lsh", oracle=_ANN_SHAPE_ORACLE)
def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5 (12 planes, 4 bands — candidate
    fraction ~40%) with the same in-engine recall audit as similarity_ivf;
    floor recall@5 >= 0.45 (measured 0.58-0.65 across SFs on near-random
    embeddings, the worst case for hyperplane LSH — real embedding
    corpora cluster, which is what banding exploits)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    ann = lsh_topk(e, q, k=5, n_planes=12, bands=4)
    exact = brute_force_topk(e, q, k=5)
    return _ann_recall_summary(ann, exact, min_recall=0.45)


@query("similarity_incremental", oracle=_ANN_SHAPE_ORACLE)
def similarity_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-corpus ANN — the similarity twin of the round-5 incremental
    dedup family: 75% of the embeddings (vec_id % 4 != 3) build a
    PERSISTED IVF index (centroids parquet + assignments partitioned by
    (batch_seq, cell)); the remaining 25% arrive as a later batch and are
    ingested MAP-ONLY against the stored centroids (history never re-read,
    never shuffled; batch-keyed dynamic overwrite makes replays
    idempotent — the streaming/pipeline.py contract). Top-5 search then
    runs against the persisted index (probe 4/16 cells) and is audited
    in-engine against exact brute force over the same 20 queries with a
    recall@5 floor of 0.65 (measured 0.79-0.85 across sf0.001/0.01/0.1, round-8 refined init —
    a 75%-corpus random init sits between similarity_ivf's full-corpus
    init and the streaming first-batch init, and the floor keeps the
    repo's ~0.1 measured-minimum margin; drift-triggered retrain is
    exercised in tests/test_similarity.py, not here). Incrementality
    pattern ~ reference batch_processing_IaC.py:300-304 (Glue job
    bookmarks)."""
    from ..operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    history = e.filter(F.col("vec_id") % 4 != 3)
    batch = e.filter(F.col("vec_id") % 4 == 3)
    base = scratch_dir("ivfidx", sf_dir)
    build_ivf_index(history, base, n_centroids=16, batch_id=0)
    append_to_ivf_index(
        batch, base, batch_id=1, drift_floor=-0.5, max_drift_frac=0.5
    )
    q = e.filter(F.col("vec_id") < 20)
    ann = ivf_index_topk(spark, q, base, k=5, n_probe=4)
    exact = brute_force_topk(e, q, k=5)
    return _ann_recall_summary(ann, exact, min_recall=0.65)


@query("similarity_pq_rerank", oracle=_ANN_SHAPE_ORACLE)
def similarity_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with exact rerank — the compression half of
    IVF-PQ (Jégou et al., TPAMI 2011) and the missing piece of the 100 TB
    ANN memory story: vectors compress to 16 one-byte-ish codes (16x over
    64 floats), the candidate scan reads CODES ONLY via a broadcast
    lookup-table join (pure JVM relational ADC — no UDF in the scoring
    path), and just |queries| x 50 shortlisted candidates fetch their
    true vectors for the exact cosine rerank. Codebooks train with the
    kmeans_exact discipline (all 16 subspaces share one job per
    iteration; the only collects are the m*k-row updates — model-sized).
    In-engine recall audit floor 0.80 (measured 0.92-0.99 across
    sf0.001/0.01/0.1 with shortlist=50 on near-random embeddings — raw
    ADC top-5 alone sits at 0.32-0.66, the rerank is what makes the
    compression usable; ~0.1 measured-minimum margin discipline).
    operators/similarity.py: pq_train / pq_encode / pq_topk /
    pq_rerank_topk."""
    import json as _json

    from ..operators.similarity import pq_encode, pq_rerank_topk, pq_train
    from .registry import scratch_source_cache

    e = _t(spark, sf_dir, "embeddings")
    # codebooks are a MODEL FILE and codes a parquet column store —
    # inputs by contract in production (train once, search amortized), so
    # they build once per process and bench's warm iterations measure
    # ADC + rerank, not training. The in-plan build path stays covered by
    # similarity_ivf_pq, which trains per call on purpose.
    cache, built = scratch_source_cache("pqrerank", sf_dir)
    if not built:
        cbs = pq_train(e, m=16, k=32, iters=3)
        pq_encode(e, cbs).write.parquet(f"{cache}/codes")
        with open(f"{cache}/codebooks.json", "w") as fh:
            _json.dump(cbs, fh)
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    with open(f"{cache}/codebooks.json") as fh:
        cbs = _json.load(fh)
    codes = spark.read.parquet(f"{cache}/codes")
    q = e.filter(F.col("vec_id") < 20)
    ann = pq_rerank_topk(e, codes, cbs, q, k=5, shortlist=50)
    exact = brute_force_topk(e, q, k=5)
    return _ann_recall_summary(ann, exact, min_recall=0.80)


@query(
    "dedup_incremental_sparse",
    oracle="""
WITH deco AS (
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
                THEN array_to_string(
                         list_reverse(string_split(d7.text, ' ')), ' ')
                ELSE d.text END AS text
    FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
    WHERE d.doc_id < 1000
), toks AS (
    SELECT doc_id AS id, t.tok
    FROM deco,
         UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS t(tok)
), counts AS (
    SELECT id, CAST(md5_number_lower(tok) % 4096 AS BIGINT) AS idx,
           CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY id, idx
), norms AS (
    SELECT id, SUM(c * c) AS n2 FROM counts GROUP BY id
), pairs AS (
    SELECT b.id AS bid, h.id AS hid, SUM(b.c * h.c) AS dp
    FROM counts b JOIN counts h USING (idx)
    WHERE b.id % 5 <> 0 AND h.id % 5 = 0
    GROUP BY b.id, h.id
), dups AS (
    SELECT DISTINCT p.bid
    FROM pairs p
    JOIN norms nb ON nb.id = p.bid
    JOIN norms nh ON nh.id = p.hid
    WHERE p.dp >= 0.95 * sqrt(nb.n2 * nh.n2)
)
SELECT doc_id FROM deco
WHERE doc_id % 5 <> 0 AND doc_id NOT IN (SELECT bid FROM dups)
""",
)
def dedup_incremental_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEXICAL-COSINE member of the rolling-corpus dedup family —
    fifth modality after exact/MinHash/SimHash/embedding: batch docs
    whose hashed-BoW cosine against the persisted inverted index reaches
    0.95 drop (the corpus shares a 31-word vocabulary, so random docs
    already sit at high BoW cosine — the threshold is per-corpus tuning,
    and 0.95 isolates true re-orderings/near-copies here). Its reason to exist is decorated into the fixture: every
    batch doc_id ending in 7 is a WORD-REVERSED copy of history doc
    id-7 — shingle-based MinHash scores such a permutation near zero
    (almost no shared 3-shingles), but bag-of-words cosine is exactly
    1.0, so the re-ordered re-crawl drops here and only here. The
    inverted index IS the prefilter (batch docs sharing no hash slot
    with history never pair), scores are exact integer dot products
    (hash-oracled end-to-end — no recall floor needed), and the index
    rows are exactly what survivors append for the next run.
    operators/dedup.py:incremental_sparse_dedup;
    operators/text.py:hashed_doc_vectors."""
    from ..operators.dedup import incremental_sparse_dedup
    from ..operators.text import hashed_doc_vectors

    # fixture bounded to doc_id < 1000: the synthetic corpus draws from a
    # ~31-word vocabulary, so EVERY hash slot is a stopword slot and pair
    # volume degenerates to |batch| x |history| x n_slots (124M rows at
    # sf0.1 unbounded — an adversarial-vocabulary case real crawls do not
    # have; document-frequency pruning is the production guard, kept off
    # here so the oracle stays exact)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "text")
    )
    donor = d.select(
        (F.col("doc_id") + 7).alias("doc_id"),
        F.concat_ws(
            " ", F.reverse(F.split(F.col("text"), " "))
        ).alias("__rev_text"),
    )
    deco = d.join(donor, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 10 == 7) & F.col("__rev_text").isNotNull(),
            F.col("__rev_text"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    history = deco.filter(F.col("doc_id") % 5 == 0)
    batch = deco.filter(F.col("doc_id") % 5 != 0)
    index = hashed_doc_vectors(history, dim=4096)
    return incremental_sparse_dedup(
        batch, index, dim=4096, threshold=0.95
    ).select("doc_id")


@query(
    "docs_sparse_knn",
    oracle="""
WITH toks AS (
    SELECT doc_id AS id, t.tok
    FROM documents,
         UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS t(tok)
), counts AS (
    SELECT id, CAST(md5_number_lower(tok) % 4096 AS BIGINT) AS idx,
           CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY id, idx
), norms AS (
    SELECT id, SUM(c * c) AS n2 FROM counts GROUP BY id
), pairs AS (
    SELECT q.id AS query_id, n.id AS neighbor_id, SUM(q.c * n.c) AS dp
    FROM counts q JOIN counts n USING (idx)
    WHERE q.id < 10 AND n.id <> q.id
    GROUP BY q.id, n.id
), scored AS (
    SELECT p.query_id, p.neighbor_id,
           p.dp / sqrt(nq.n2 * nn.n2) AS s,
           row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY p.dp / sqrt(nq.n2 * nn.n2) DESC, p.neighbor_id
           ) AS rank
    FROM pairs p
    JOIN norms nq ON nq.id = p.query_id
    JOIN norms nn ON nn.id = p.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       round(s, 4) AS score
FROM scored WHERE rank <= 3
""",
)
def docs_sparse_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sparse-vector document KNN over the inverted index — the
    lexical complement of the embedding ANN family: documents become
    hashing-trick bag-of-words SPARSE rows (no vocabulary table, no
    model; operators/text.py:hashed_doc_vectors), candidate pairs come
    from the equi-join on shared hash slots (docs sharing no slot score
    0 and never pair — the corpus is never self-crossed; pair volume is
    sum of squared posting lengths, with document-frequency pruning as
    the skew guard), and the dot product is an exact INTEGER sum, so the
    cosine ranking is bit-identical in any engine — this one
    hash-oracles end-to-end where the float-vector ANN family needs
    recall floors. Top-3 neighbors for the first 10 docs.
    operators/similarity.py:sparse_cosine_knn."""
    from ..operators.similarity import sparse_cosine_knn
    from ..operators.text import hashed_doc_vectors

    d = _t(spark, sf_dir, "documents")
    vecs = hashed_doc_vectors(d, dim=4096)
    qids = d.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("id")
    )
    return sparse_cosine_knn(vecs, qids, k=3)


@query("similarity_ivf_pq", oracle=_ANN_SHAPE_ORACLE)
def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF-PQ pipeline (coarse cells x compressed codes x exact
    rerank — Jégou et al., TPAMI 2011): probes 4/16 cells, scores ONLY
    the probed quarter of the corpus and only its PQ codes (the ADC
    lookup-table join — no vectors, no UDF), reranks the 50-candidate
    shortlist exactly. The memory and compute story composed: at 100 TB
    the scan touches n_probe/n_centroids of the rows and m bytes of
    each; floats load for |queries| x 50 point lookups. In-engine recall
    audit floor 0.70 (measured 0.83-0.89 across sf0.001/0.01/0.1 —
    cell-prune recall and shortlist recall compound, each stage's loss
    measured separately by similarity_ivf and similarity_pq_rerank; the
    repo's ~0.1 measured-minimum margin). operators/similarity.py:
    ivf_pq_topk."""
    from ..operators.similarity import ivf_pq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    ann = ivf_pq_topk(e, q, k=5, n_probe=4)
    exact = brute_force_topk(e, q, k=5)
    return _ann_recall_summary(ann, exact, min_recall=0.70)


@query("similarity_ivf_pq_residual", oracle=_ANN_SHAPE_ORACLE)
def similarity_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC proper (Jégou et al., TPAMI 2011 §IV) — round 8's upgrade
    over similarity_ivf_pq: PQ codebooks train on RESIDUALS x̂ - ĉ(cell),
    so the same 16x32 code budget resolves within-cell structure instead
    of re-encoding what the coarse quantizer already explains; scoring
    decomposes dot(q̂,x̂) = dot(q̂,ĉ) + dot(q̂,r) into the unchanged
    broadcast-LUT ADC sum plus one per-(query, probed-cell) broadcast
    scalar — still zero UDFs in the scoring path, still one corpus pass
    for cells AND codes, still integer-lattice deterministic end-to-end.
    On the near-random synthetic embeddings residual and raw codes
    coincide (cell means ~0; measured 0.83-0.86 across sf0.001/0.01/0.1,
    same floor 0.70) — the residual advantage is on CLUSTERED corpora,
    where tests/test_similarity.py asserts it beats raw codes at equal
    budget (+0.08-0.10 recall at shortlist 10-20). Centroids/codebooks/
    codes are inputs-by-contract (train-once, cached per process —
    similarity_ivf_pq keeps the family's build path in-plan), so the
    measured body is ivf_pq_residual_search. operators/similarity.py:
    ivf_pq_residual_{train,encode,search,topk}."""
    import json as _json

    from ..operators.similarity import (
        ivf_pq_residual_encode,
        ivf_pq_residual_search,
        ivf_pq_residual_train,
    )
    from .registry import scratch_source_cache

    e = _t(spark, sf_dir, "embeddings")
    cache, built = scratch_source_cache("ivfpqres", sf_dir)
    if not built:
        centroids, cbs = ivf_pq_residual_train(e)
        ivf_pq_residual_encode(e, centroids, cbs).write.parquet(
            f"{cache}/codes"
        )
        with open(f"{cache}/model.json", "w") as fh:
            _json.dump({"centroids": centroids, "codebooks": cbs}, fh)
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    with open(f"{cache}/model.json") as fh:
        mdl = _json.load(fh)
    centroids = [(i, v) for i, v in mdl["centroids"]]
    codes = spark.read.parquet(f"{cache}/codes")
    q = e.filter(F.col("vec_id") < 20)
    ann = ivf_pq_residual_search(
        e, codes, centroids, mdl["codebooks"], q, k=5, n_probe=4
    )
    exact = brute_force_topk(e, q, k=5)
    return _ann_recall_summary(ann, exact, min_recall=0.70)


@query("similarity_ivf_pq_index", oracle=_ANN_SHAPE_ORACLE)
def similarity_ivf_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search against the PERSISTED index — the amortized
    production path the whole PQ stack exists for (train once, attach
    codes once, every later query reads m small ints per candidate
    vector): build_ivf_index + attach_pq_codes run ONCE per process and
    are cached as inputs-by-contract (scratch_source_cache — the
    Glue-bookmark pattern of reference batch_processing_IaC.py:300-304
    applied to codebooks, exactly as the registered ANN stream caches its
    source); the measured body of the query is ivf_pq_index_topk alone:
    centroids + codebooks load once (model-sized), the probed cells'
    codes stream off parquet with whole partition DIRECTORIES pruned by
    the broadcast probe join, ADC scores via the broadcast LUT join (no
    UDF), and the 50-candidate shortlist reranks exactly against the
    stored vectors. Complements similarity_ivf_pq, which deliberately
    keeps per-call training in-plan to cover the build path — this row
    shows the steady-state search cost. In-engine recall audit floor
    0.70 (same compounded cell-prune x shortlist losses as
    similarity_ivf_pq, measured 0.83-0.89 across sf0.001/0.01/0.1; the
    repo's ~0.1 measured-minimum margin). operators/similarity.py:
    attach_pq_codes / read_pq_codebooks / ivf_pq_index_topk."""
    from ..operators.similarity import (
        attach_pq_codes,
        build_ivf_index,
        ivf_pq_index_topk,
    )
    from .registry import scratch_source_cache

    e = _t(spark, sf_dir, "embeddings")
    cache, built = scratch_source_cache("ivfpqidx", sf_dir)
    idx = f"{cache}/index"
    if not built:
        build_ivf_index(e, idx, n_centroids=16, batch_id=0)
        attach_pq_codes(
            spark, idx, m=16, n_codes=32, iters=3, encoding="residual"
        )
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    q = e.filter(F.col("vec_id") < 20)
    ann = ivf_pq_index_topk(spark, q, idx, k=5, n_probe=4, shortlist=50)
    exact = brute_force_topk(e, q, k=5)
    return _ann_recall_summary(ann, exact, min_recall=0.70)


_COMPACT_SHAPE_ORACLE = """
SELECT CAST(t.n AS BIGINT) AS n_vectors,
       CAST(q.n AS BIGINT) AS n_queries,
       CAST(4 AS BIGINT) AS batches_before,
       CAST(2 AS BIGINT) AS batches_after
FROM (SELECT count(*) AS n FROM embeddings) t,
     (SELECT count(*) AS n FROM embeddings WHERE vec_id < 20) q
"""


@query("similarity_index_compact", oracle=_COMPACT_SHAPE_ORACLE)
def similarity_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files maintenance for the persisted IVF index — the
    OPTIMIZE/rewrite_data_files of the rolling-corpus ANN family
    (operators/similarity.py:compact_ivf_index): a year of map-only
    ingests leaves one file per (batch, cell), so probes open
    O(batches x n_probe) files; compaction rewrites history at or below
    the checkpoint watermark under ONE batch_seq partition (one file per
    cell), carries centroids and any attached PQ codes through verbatim,
    commits with the same atomic pointer flip as build/retrain, and
    persists the watermark so a late replay of a compacted-away batch is
    refused loudly instead of doubling rows.

    The run is fully audited and the output row is GATED on the audit
    (the _ann_recall_summary convention — gate in-engine, emit only the
    SQL-pinnable shape facts): the 4-batch input index (built once per
    process as an input-by-contract and COPIED per run, since compaction
    commits a new generation and a mutated cache would make warm runs
    no-ops) must compact 4 batch partitions down to 2 with strictly
    fewer files and exactly the same row count, and top-5 search over 20
    queries must return the BIT-IDENTICAL pair set before and after
    (tie-deterministic ranking + unchanged vectors/centroids make exact
    equality the honest bar, stronger than the ANN family's recall
    floors). Any violation drops the row and the driver goes red."""
    import shutil

    from ..operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_index_topk,
    )
    from .registry import scratch_source_cache

    e = _t(spark, sf_dir, "embeddings")
    cache, built = scratch_source_cache("ivfcompact", sf_dir)
    src = f"{cache}/index"
    if not built:
        build_ivf_index(
            e.filter(F.col("vec_id") % 4 == 0), src,
            n_centroids=16, batch_id=0,
        )
        for b in (1, 2, 3):
            append_to_ivf_index(
                e.filter(F.col("vec_id") % 4 == b), src, batch_id=b
            )
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    idx = f"{scratch_dir('ivfcompact_run', sf_dir)}/index"
    shutil.copytree(src, idx)
    q = e.filter(F.col("vec_id") < 20)
    pre = (
        ivf_index_topk(spark, q, idx, k=5, n_probe=4)
        .select("query_id", "neighbor_id")
        # materialize NOW: the plan scans the pre-compaction generation
        # dir, which commit+prune deletes underneath a lazy reader
        .localCheckpoint(eager=True)
    )
    audit = compact_ivf_index(spark, idx, upto_batch=2)
    post = ivf_index_topk(spark, q, idx, k=5, n_probe=4).select(
        "query_id", "neighbor_id"
    )
    # exact symmetric-difference gate: every (query, neighbor) pair must
    # appear on BOTH sides (each side is distinct by construction)
    mismatches = (
        pre.unionByName(post)
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("__sides"))
        .agg(
            F.sum((F.col("__sides") != 2).cast("long")).alias("__bad"),
            F.count(F.lit(1)).alias("__pairs"),
        )
    )
    shape = e.agg(F.count(F.lit(1)).alias("n_vectors")).crossJoin(
        q.agg(F.countDistinct("vec_id").alias("n_queries"))
    )
    audit_ok = (
        audit["rows_before"] == audit["rows_after"]
        and audit["files_after"] < audit["files_before"]
        and audit["batches_before"] == 4
        and audit["batches_after"] == 2
        and not audit["noop_replay"]
    )
    return (
        shape.crossJoin(mismatches)
        .filter(
            (F.col("__bad") == 0)
            & (F.col("__pairs") > 0)
            & F.lit(bool(audit_ok))
        )
        .select(
            "n_vectors",
            "n_queries",
            F.lit(audit["batches_before"]).cast("long").alias(
                "batches_before"
            ),
            F.lit(audit["batches_after"]).cast("long").alias(
                "batches_after"
            ),
        )
    )


@query("streaming_incremental_ann", oracle=_ANN_SHAPE_ORACLE)
def streaming_incremental_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rolling-corpus ANN story end-to-end through the REAL streaming
    engine (the similarity twin of streaming_incremental_dedup):
    embeddings arrive as three ordered batch files (vec_id % 3, mtimes
    forced so file order IS batch order); micro-batch 0 trains and
    persists the IVF index, batches 1-2 ingest map-only against the
    stored centroids under checkpointed sequencing with replay-stable
    batch-keyed overwrites (streaming/pipeline.py:ingest_ann_batch).
    Search then runs against the persisted index over the same
    20 queries with the standard in-engine recall audit: floor 0.60 at
    n_probe=6/16 (measured 0.68-0.79 across sf0.001/0.01/0.1 with the
    round-8 refined init — a first-batch-only quantizer, refined or not,
    is noisier than the fuller corpus inits, so this query probes one
    extra cell to hold the floor's margin; the first-batch dip is init
    noise on near-random vectors, not a refinement regression). The
    per-batch single-file writes are TEST SCAFFOLDING building the
    stream source, not the operator — and the source is CACHED across
    invocations within the process (scratch_source_cache): bench's warm
    iterations measure ingest + search, not corpus prep; the index and
    checkpoint stay under the per-call wiped scratch_dir so every
    invocation still exercises the full build/append path."""
    import glob as _glob
    import os
    from functools import partial

    from ..operators.similarity import ivf_index_topk
    from ..streaming.pipeline import ingest_ann_batch, run_rolling_ingest
    from .registry import scratch_source_cache

    base = scratch_dir("annstream", sf_dir)
    cache, built = scratch_source_cache("annstream_src", sf_dir)
    src = f"{cache}/src"
    e = _t(spark, sf_dir, "embeddings")
    if not built:
        stamped: set[str] = set()
        for b in range(3):
            (
                e.filter(F.col("vec_id") % 3 == b)
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            t = 1_700_000_000 + b * 60
            for f in _glob.glob(f"{src}/*.parquet"):
                if f not in stamped:
                    os.utime(f, (t, t))
                    stamped.add(f)
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    run_rolling_ingest(spark, src, f"{base}/ckpt", partial(
        ingest_ann_batch, index_dir=f"{base}/index", n_centroids=16
    ))
    q = e.filter(F.col("vec_id") < 20)
    ann = ivf_index_topk(spark, q, f"{base}/index", k=5, n_probe=6)
    exact = brute_force_topk(e, q, k=5)
    return _ann_recall_summary(ann, exact, min_recall=0.60)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "text_lang_profile",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT)  AS n_docs,
       round(avg(n_chars), 2)    AS avg_chars,
       round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens
FROM documents GROUP BY lang
""",
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " ")).cast("double")), 4).alias(
            "avg_tokens"
        ),
    )


@query(
    "text_quality",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> '') AS toks,
           text
    FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT)                    AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT)     AS n_uniq_tokens,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS uniq_ratio,
       round(list_reduce([CAST(length(x) AS BIGINT) FOR x IN toks],
                         (a, b) -> a + b) * 1.0 / len(toks), 4) AS avg_token_len,
       round(least(len(toks) / 100.0, 1.0) * 0.5
             + (len(list_distinct(toks)) * 1.0 / len(toks)) * 0.5, 4) AS quality_score
FROM t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return quality_features(d).select(
        "doc_id",
        "n_tokens",
        "n_uniq_tokens",
        "uniq_ratio",
        "avg_token_len",
        "quality_score",
    )


@query(
    "text_repetition_profile",
    oracle="""
WITH w AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
    FROM documents
), g AS (
    SELECT doc_id, array_to_string(words[i:i+1], ' ') AS gram
    FROM w, UNNEST(generate_series(1, greatest(len(words) - 1, 1))) AS t(i)
), c AS (
    SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_2grams,
       round(max(n) * 1.0 / sum(n), 4) AS top2gram_frac,
       round(sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 1.0 / sum(n), 4)
           AS dup2gram_frac
FROM c GROUP BY doc_id
""",
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document (top-2-gram fraction,
    duplicated-2-gram fraction) — the standard pretraining quality signal
    for boilerplate/spam. Codegen shingle explode + two map-side-combined
    hash aggregates; integer counts, one final division."""
    from ..operators.text import repetition_features

    d = _t(spark, sf_dir, "documents")
    return repetition_features(d, ngram=2)


@query(
    "corpus_gopher_filter",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
), q AS (
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           round(list_reduce([CAST(length(x) AS BIGINT) FOR x IN toks],
                             (a, b) -> a + b) * 1.0 / len(toks), 4)
               AS avg_token_len,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS uniq_ratio
    FROM t
), w AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
    FROM documents
), g AS (
    SELECT doc_id, array_to_string(words[i:i+1], ' ') AS gram
    FROM w, UNNEST(generate_series(1, greatest(len(words) - 1, 1))) AS t(i)
), c AS (
    SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2
), r AS (
    SELECT doc_id,
           round(max(n) * 1.0 / sum(n), 4) AS top2gram_frac,
           round(sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 1.0 / sum(n), 4)
               AS dup2gram_frac
    FROM c GROUP BY doc_id
)
SELECT q.doc_id,
       CAST(q.n_tokens BETWEEN 20 AND 1000 AS INT)         AS r_len,
       CAST(q.avg_token_len BETWEEN 3.0 AND 10.0 AS INT)   AS r_word_len,
       CAST(q.uniq_ratio >= 0.2 AS INT)                    AS r_ttr,
       CAST(r.top2gram_frac <= 0.08 AS INT)                AS r_rep_top,
       CAST(r.dup2gram_frac <= 0.5 AS INT)                 AS r_rep_dup,
       CAST(q.n_tokens BETWEEN 20 AND 1000
            AND q.avg_token_len BETWEEN 3.0 AND 10.0
            AND q.uniq_ratio >= 0.2
            AND r.top2gram_frac <= 0.08
            AND r.dup2gram_frac <= 0.5 AS INT)             AS keep
FROM q JOIN r ON q.doc_id = r.doc_id
""",
)
def corpus_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-rule document filter (Rae et al. 2021 §A1.1,
    thresholds adapted to the synthetic corpus): token-count range, mean
    word length range, type-token-ratio floor, and the two repetition caps
    — emitted as per-rule flags plus the conjunctive keep decision, the
    exact audit table a corpus-curation pipeline materializes before
    dropping data. All rules compare the same 4dp-rounded doubles in both
    engines, so boundary docs cannot flip. Map-only over quality features
    plus the repetition aggregate; the join key is doc_id (co-partitioned
    by the aggregate that produced it)."""
    from ..operators.text import repetition_features

    d = _t(spark, sf_dir, "documents")
    q = quality_features(d).select(
        "doc_id", "n_tokens", "avg_token_len", "uniq_ratio"
    )
    r = repetition_features(d, ngram=2)
    j = q.join(r, "doc_id")
    r_len = F.col("n_tokens").between(20, 1000)
    r_word_len = F.col("avg_token_len").between(3.0, 10.0)
    r_ttr = F.col("uniq_ratio") >= 0.2
    r_rep_top = F.col("top2gram_frac") <= 0.08
    r_rep_dup = F.col("dup2gram_frac") <= 0.5
    keep = r_len & r_word_len & r_ttr & r_rep_top & r_rep_dup
    return j.select(
        "doc_id",
        r_len.cast("int").alias("r_len"),
        r_word_len.cast("int").alias("r_word_len"),
        r_ttr.cast("int").alias("r_ttr"),
        r_rep_top.cast("int").alias("r_rep_top"),
        r_rep_dup.cast("int").alias("r_rep_dup"),
        keep.cast("int").alias("keep"),
    )


@query(
    "text_token_topk",
    oracle="""
SELECT tok, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
)
def text_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-20 — explode + count, partial agg does the
    heavy lifting map-side."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


def _langid_oracle() -> str:
    """DuckDB twin of operators.text.language_id, GENERATED from the same
    _STOPWORDS lexicon so the two can never drift: per-language stopword
    hit counts, argmax with lexicographically-smallest-language tie-break,
    'und' when every score is zero."""
    from ..operators.text import _STOPWORDS

    branches = "\n    UNION ALL\n".join(
        "    SELECT doc_id, lang, '{c}' AS cand,\n"
        "           len(list_intersect(tk, [{lex}])) AS sc FROM toks".format(
            c=c, lex=", ".join(f"'{w}'" for w in _STOPWORDS[c])
        )
        for c in sorted(_STOPWORDS)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, lang,
           list_distinct(string_split_regex(lower(text), '\\s+')) AS tk
    FROM documents
), scores AS (
{branches}
), best AS (
    SELECT doc_id, lang, cand, sc,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY sc DESC, cand) AS rn
    FROM scores
)
SELECT doc_id, lang,
       CASE WHEN sc > 0 THEN cand ELSE 'und' END AS lang_pred
FROM best WHERE rn = 1
"""


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID. The heuristic is plain relational
    logic over a literal lexicon, so it IS SQL-portable — the oracle is
    generated from the identical _STOPWORDS table (argmax + smallest-lang
    tie-break + 'und' fallback, matching language_id's struct-min)."""
    d = _t(spark, sf_dir, "documents")
    return language_id(d).select("doc_id", "lang", "lang_pred")


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


@query(
    "multimodal_meta",
    oracle="""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha256
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload convention: UTF-8 payload bytes + digest, computed
    JVM-side (the mapInPandas feature path is exercised separately)."""
    d = _t(spark, sf_dir, "documents")
    media = text_as_media(d)
    return media.select(
        "media_id",
        F.col("meta").getField("n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha256"),
    )


@query(
    "multimodal_features",
    oracle="""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (deterministic stub decoder — see operators/multimodal.py)."""
    d = _t(spark, sf_dir, "documents")
    return extract_features(text_as_media(d)).select(
        "media_id", "n_bytes", "sha256"
    )


def _md5_lower60(c):
    """Engine-portable 60-bit token hash: the little-endian value of md5
    bytes 9..16 (hex chars 17..32 byte-reversed), truncated to 60 bits —
    numerically identical to DuckDB's ``md5_number_lower(t) % 2^60``
    (verified bit-exact incl. unicode and empty strings)."""
    m = F.md5(c)
    le = F.concat(*[F.substring(m, 31 - 2 * i, 2) for i in range(8)])
    return F.conv(F.substring(le, 2, 15), 16, 10).cast("long")


def _md5_lower60_sql(x: str) -> str:
    """SQL-text twin of :func:`_md5_lower60` over the SQL fragment ``x``
    — for call sites that build MANY of these hashes into one frame,
    where constructing the Column tree per hash costs ~15 py4j round
    trips each (the r14 minhash finding); one parsed string is one
    round trip and the parsed expression is identical."""
    le = "concat(" + ", ".join(
        f"substring(md5({x}), {31 - 2 * i}, 2)" for i in range(8)
    ) + ")"
    return f"cast(conv(substring({le}, 2, 15), 16, 10) as bigint)"


def _simhash_portable_oracle() -> str:
    """DuckDB twin of the full SimHash algorithm at 60 bits over the
    md5-derived hash family: per-bit popcount sums, majority vote, pack,
    exhaustive all-pairs hamming (the oracle checks semantics, not the
    banded plan). Generated so the 60 bit positions can't drift."""
    sums = ",\n           ".join(
        f"SUM(CAST((hv >> {j}) & 1 AS BIGINT)) AS s{j}" for j in range(60)
    )
    pack = "\n               + ".join(
        f"(CASE WHEN 2 * s{j} > n THEN {1 << j} ELSE 0 END)" for j in range(60)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
    FROM documents
), h AS (
    SELECT doc_id,
           CAST(md5_number_lower(t) % 1152921504606846976 AS BIGINT) AS hv
    FROM toks
), bitsums AS (
    SELECT doc_id, count(*) AS n,
           {sums}
    FROM h GROUP BY doc_id
), sig AS (
    SELECT doc_id,
           CAST({pack} AS BIGINT) AS sh
    FROM bitsums
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


@query("dedup_simhash_portable", oracle=_simhash_portable_oracle())
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash ALGORITHM differentially tested end-to-end: same bit
    voting, packing, banding, and hamming verify as the xxhash64
    production path (operators/dedup.py:simhash_near_duplicates),
    but over an engine-portable md5-derived 60-bit token hash family
    (:func:`_md5_lower60`) that DuckDB reproduces exactly — so the oracle
    validates every moving part except the hash family itself, which the
    fast xxhash64 production path keeps for JVM speed (hex-string
    byte-shuffling per token would be the slow path at 100 TB). Output is
    verified near-dup pairs with exact hamming distance; the oracle scores
    all pairs exhaustively, so banding recall (pigeonhole-complete by
    construction) is also proven, not assumed."""
    from ..operators.dedup import simhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return (
        simhash_near_duplicates(
            d, max_hamming=3, bits=60, token_hash=_md5_lower60
        )
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    )


def _phash_portable_oracle(dim: int = 32, max_hamming: int = 2) -> str:
    """DuckDB twin of the media perceptual-hash dedup: recompute the
    md5-family pseudo-intensities from the SAME payload text, aHash them
    with the identical integer cross-multiplied mean rule
    (dim * v > sum — ties down), pack little-endian, and score ALL pairs
    exhaustively — so the 4-chunk pigeonhole banding's recall is proven
    against an unbanded scan, exactly like the simhash-portable twin."""
    return f"""
WITH media AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id < 15
), f AS (
    SELECT doc_id, j,
           CAST(md5_number_lower(text || ':' || CAST(j AS VARCHAR))
                % 1152921504606846976 % 256 AS BIGINT) AS v
    FROM media, range({dim}) r(j)
), tot AS (
    SELECT doc_id, SUM(v) AS s FROM f GROUP BY doc_id
), sig AS (
    SELECT f.doc_id,
           CAST(SUM(CASE WHEN {dim} * f.v > t.s
                         THEN (CAST(1 AS BIGINT) << CAST(f.j AS INT))
                         ELSE 0 END) AS BIGINT) AS ph
    FROM f JOIN tot t USING (doc_id) GROUP BY f.doc_id
)
SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= {max_hamming}
"""


@query("multimodal_phash_pairs", oracle=_phash_portable_oracle())
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over MEDIA payloads — the
    dedup composition of the multimodal family (aHash as published:
    intensity vector -> brighter-than-mean bits -> packed hash -> hamming
    match), run end-to-end through the binary-payload convention
    (text_as_media -> features -> the exploded relational twin of
    operators/multimodal.py:ahash_pack (bit-for-bit equal, see the
    in-body note) -> operators/dedup.py:hamming_band_pairs' 4-chunk
    pigeonhole band join, structural recall at hamming <= 3, exact
    bit_count(xor) verify).

    Features here are the ENGINE-PORTABLE pseudo-intensity family
    (md5-derived, 32 values in [0,256) per payload — the
    dedup_simhash_portable strategy applied to media), so DuckDB replays
    decode-surrogate, aHash voting, packing, and an EXHAUSTIVE all-pairs
    hamming scan bit-exactly: the oracle proves the banded plan's recall
    against an unbanded scan, and the integer cross-multiplied mean rule
    (dim * v > sum) makes every bit portable with no float mean. The
    decode seam itself (extract_features / auto_image_decoder over the
    same ahash_pack + band machinery, media_phash_pairs) is engine-tested
    against a brute-force scan in tests/test_multimodal.py — with PIL
    present the identical plan is true image aHash dedup. Identical
    payloads hash identically (hamming 0); the stub family's avalanche
    means near-identical TEXT is not near in hamming space — with a real
    decoder, visually-near media is, which is the point of the seam.
    Payloads never shuffle: one long per media item crosses the band
    join, the index-not-data rule.

    The corpus has no byte-identical payloads at the gate SFs, so the
    input is DECORATED (the dedup_bloom_prefilter convention): docs with
    doc_id < 15 re-enter as media_id + 1,000,000 — a re-encoded upload of
    the same content — so the match path provably fires (>= 15 hamming-0
    pairs) instead of going vacuously green on an empty result; the twin
    decorates identically."""
    d = _t(spark, sf_dir, "documents")
    from ..operators.multimodal import text_as_media

    base = d.select("doc_id", "text")
    media = text_as_media(
        base.unionByName(
            base.filter(F.col("doc_id") < 15).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    # 32 portable hashes as ONE parsed expression (r14: the Column-API
    # form cost ~1.2 s of driver time per construction; same expression)
    feats = F.expr(
        "array(" + ", ".join(
            "cast("
            + _md5_lower60_sql(f"concat(cast(payload as string), ':{j}')")
            + " % 256 as double)"
            for j in range(32)
        ) + ")"
    )
    # The EXPLODED relational aHash (posexplode -> per-media window sum
    # -> conditional bit agg), not ahash_pack's array expression: the
    # pseudo-intensities are themselves a 32-md5 expression family, and
    # Catalyst's projection collapse would re-inline that family into
    # every zip_with/aggregate reference (and into both sides of the
    # band join) — measured 45x slower. Exploding materializes each
    # intensity ONCE through the shuffle; bit-for-bit equal to
    # ahash_pack (asserted in tests/test_multimodal.py), which stays the
    # right form for already-materialized decoder features.
    from pyspark.sql import Window as W

    f = media.select("media_id", F.posexplode(feats).alias("j", "v"))
    sig = (
        f.withColumn("s", F.sum("v").over(W.partitionBy("media_id")))
        .groupBy("media_id")
        .agg(
            F.sum(
                F.when(
                    F.col("v") * 32 > F.col("s"),
                    F.pow(F.lit(2.0), F.col("j")).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("phash")
        )
        # the band join references sig on both sides — cache one long per
        # media item instead of hashing the corpus twice (the
        # simhash_near_duplicates convention)
        .cache()
    )
    from ..operators.dedup import hamming_band_pairs

    return (
        hamming_band_pairs(
            sig,
            id_col="media_id",
            hash_col="phash",
            bits=32,
            max_hamming=2,
            id_a="media_id_a",
            id_b="media_id_b",
        )
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("media_id_a", "media_id_b")
    )


def _simhash_incremental_oracle() -> str:
    """DuckDB twin of SimHash incremental dedup at 60 portable bits:
    batch survivors = batch docs with NO history doc within hamming 3,
    scored EXHAUSTIVELY over every batch x history pair (doc_id % 5 == 0
    plays history, as in the other incremental queries)."""
    sums = ",\n           ".join(
        f"SUM(CAST((hv >> {j}) & 1 AS BIGINT)) AS s{j}" for j in range(60)
    )
    pack = "\n               + ".join(
        f"(CASE WHEN 2 * s{j} > n THEN {1 << j} ELSE 0 END)" for j in range(60)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
    FROM documents
), h AS (
    SELECT doc_id,
           CAST(md5_number_lower(t) % 1152921504606846976 AS BIGINT) AS hv
    FROM toks
), bitsums AS (
    SELECT doc_id, count(*) AS n,
           {sums}
    FROM h GROUP BY doc_id
), sig AS (
    SELECT doc_id,
           CAST({pack} AS BIGINT) AS sh
    FROM bitsums
), b AS (SELECT * FROM sig WHERE doc_id % 5 <> 0),
   hist AS (SELECT * FROM sig WHERE doc_id % 5 = 0)
SELECT b.doc_id FROM b
WHERE NOT EXISTS (
    SELECT 1 FROM hist WHERE bit_count(xor(b.sh, hist.sh)) <= 3)
"""


@query("dedup_incremental_simhash", oracle=_simhash_incremental_oracle())
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch SimHash dedup against a persisted (id, simhash) index —
    one long per historical doc, the cheapest near-dup index there is,
    with a STRUCTURAL (pigeonhole) recall guarantee instead of MinHash's
    probabilistic one: hamming<=3 pairs share at least one of the 4 hash
    chunks, so the banded index join cannot miss. Runs over the
    engine-portable md5-derived 60-bit family so the oracle (an
    exhaustive batch x history hamming scan in DuckDB) checks the whole
    algorithm exactly; production uses the same operator with the fast
    xxhash64 family. operators.dedup.incremental_simhash_dedup."""
    from ..operators.dedup import incremental_simhash_dedup, simhash

    d = _t(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % 5 == 0)
    index = simhash(history, bits=60, token_hash=_md5_lower60)
    batch = d.filter(F.col("doc_id") % 5 != 0)
    return incremental_simhash_dedup(
        batch, index, max_hamming=3, bits=60, token_hash=_md5_lower60
    ).select("doc_id")


@query(
    "multimodal_resize",
    oracle="""
SELECT doc_id AS media_id,
       CAST(64 AS BIGINT)  AS width,
       CAST(48 AS BIGINT)  AS height,
       CAST(least(64 * 48, 4096) AS BIGINT) AS n_bytes
FROM documents
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over binary media: mapInPandas pass that rewrites
    payload + meta (stub resampler; the oracle checks the schema contract —
    target dims and payload size — which the deterministic fake fixes)."""
    from ..operators.multimodal import resize_media

    d = _t(spark, sf_dir, "documents")
    out = resize_media(text_as_media(d), width=64, height=48)
    return out.select(
        "media_id",
        F.col("meta").getField("width").alias("width"),
        F.col("meta").getField("height").alias("height"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


@query(
    "multimodal_frames",
    oracle="""
SELECT d.doc_id AS media_id,
       CAST(g.range AS BIGINT)        AS frame_idx,
       CAST(g.range * 250 AS BIGINT)  AS pts_ms,
       CAST(32 AS BIGINT)             AS frame_bytes
FROM documents d CROSS JOIN range(4) g
""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one media row fans out to n_frames frame rows via a
    generator mapInPandas (cardinality change in Python, Arrow-batched).
    Frame bytes come from the stub extractor (32-byte digest), so count,
    timing grid, and sizes are all oracle-checkable."""
    from ..operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    out = sample_frames(text_as_media(d), n_frames=4, frame_ms=250)
    return out.select(
        "media_id",
        "frame_idx",
        "pts_ms",
        F.length("frame").cast("long").alias("frame_bytes"),
    )


#: 4-gray GIF palette for the true-bits codec row: luma of (g,g,g) is
#: exactly g under the ITU-601 integer rule (299+587+114 = 1000), so
#: every decoded intensity is a known small constant DuckDB can derive.
_GIF_ROW_PAL = [(v, v, v) for v in (0, 85, 170, 255)]


def _gif_frames_oracle() -> str:
    """DuckDB twin of the true-bits GIF frame pipeline: re-derive each
    composed frame's luma directly from the md5 pixel family (frame 0 =
    the full 8x8 first frame; frames 1-2 = the 4x4 rect at (2,2)
    overlaid on it — frame 2 because a 3-frame sample grid over a
    2-frame clip holds the last frame), then replay the shared
    block-mean fold (sum / (16 * 255), the _block_means grouping) at
    feature_dim 4. GIF is LOSSLESS on indexed pixels, so the decoded
    luma must equal this derivation exactly — any LZW, palette,
    interlace, or composition bug in the codec path shifts a block sum
    and the hash mismatches."""
    h60 = "% 1152921504606846976 AS BIGINT"
    return f"""
WITH comp AS (
    SELECT d.doc_id, g.fi, p.p,
           CASE WHEN g.fi >= 1
                     AND (p.p // 8) BETWEEN 2 AND 5
                     AND (p.p % 8) BETWEEN 2 AND 5
                THEN 85 * (CAST(md5_number_lower(
                         d.text || ':1:' || CAST(
                             ((p.p // 8) - 2) * 4 + ((p.p % 8) - 2)
                             AS VARCHAR)) {h60}) % 4)
                ELSE 85 * (CAST(md5_number_lower(
                         d.text || ':0:' || CAST(p.p AS VARCHAR))
                     {h60}) % 4)
           END AS l
    FROM documents d, range(3) g(fi), range(64) p(p)
), blocks AS (
    SELECT doc_id, fi, p // 16 AS j, SUM(l) AS s
    FROM comp GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
       CAST(fi * 100 AS BIGINT) AS pts_ms,
       round(MAX(CASE WHEN j = 0 THEN s END) / 4080.0, 6) AS f0,
       round(MAX(CASE WHEN j = 1 THEN s END) / 4080.0, 6) AS f1,
       round(MAX(CASE WHEN j = 2 THEN s END) / 4080.0, 6) AS f2,
       round(MAX(CASE WHEN j = 3 THEN s END) / 4080.0, 6) AS f3
FROM blocks GROUP BY 1, 2, 3
"""


@query("multimodal_gif_frames", oracle=_gif_frames_oracle())
def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRUE-BITS video seam, driver-proven end-to-end: every
    document becomes a real 2-frame animated GIF (engine encode_gif —
    full 8x8 first frame, then a 4x4 sub-rect update at (2,2), the
    composition shape real animations use), and the registered pipeline
    runs the REAL codec path a video corpus would:
    sample_frames(frame_fn=gif_frame_fn) decodes + COMPOSES each frame
    (operators/multimodal.py:decode_gif_frames — LZW, palette luma,
    frame-rect overlay, hold-last past the clip for the 3-frame grid)
    into GRY8 containers, and gray_frame_features folds them with the
    shared block-mean kernel every image codec emits.

    Pixel values derive from the engine-portable md5 family (the
    dedup_simhash_portable strategy applied to codecs), and the 4-gray
    palette makes decoded luma equal the palette index times 85 — so
    the oracle re-derives every composed frame arithmetically and the
    hash compare proves the DECODER's LZW + composition on true bits,
    not just plumbing (the encoder is independently proven against
    javax.imageio in tests/test_multimodal.py). Scale shape: one
    mapInPandas per side of the codec seam (Arrow-batched, payloads
    decoded once per media item via the packed-bytes frame LRU),
    features projected to 4 scalar columns before anything wide —
    payload bytes never cross a shuffle; the pure-Python per-pixel
    kernels are the documented thumbnail-scale stdlib trade, and the
    plan is unchanged when PIL/ffmpeg ship to executors."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import (
        encode_gif,
        gif_frame_fn,
        gray_frame_features,
        sample_frames,
    )

    # fan the single-row-group scan out to the session's cores before the
    # per-doc GIF encode/decode (catalog.fanout_scan; guide §2.5) —
    # 1.5 -> 1.0 s warm at sf0.1, no-op when the input is already split
    d = fanout_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def _idx(text: str, f: int, p: int) -> int:
        dig = hashlib.md5(f"{text}:{f}:{p}".encode("utf-8")).digest()
        return (int.from_bytes(dig[8:16], "little") % (1 << 60)) % 4

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                full = [_idx(text, 0, p) for p in range(64)]
                rect = [_idx(text, 1, q) for q in range(16)]
                ids.append(did)
                payloads.append(
                    encode_gif(
                        8, 8, _GIF_ROW_PAL,
                        [(0, 0, 8, 8, full, {}), (2, 2, 4, 4, rect, {})],
                    )
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.mapInPandas(build, schema="media_id long, payload binary")
    frames = sample_frames(
        media, n_frames=3, frame_ms=100, frame_fn=gif_frame_fn
    )

    # one featurize pass per Arrow batch (a 4-column projection through
    # a pandas UDF would risk Catalyst re-inlining the UDF expression
    # once per element_at — the phash row's measured 45x trap)
    def featurize(batches):
        for pdf in batches:
            fs = [
                gray_frame_features(bytes(b), feature_dim=4)
                for b in pdf["frame"]
            ]
            out = {
                "media_id": pdf["media_id"],
                "frame_idx": pdf["frame_idx"],
                "pts_ms": pdf["pts_ms"],
            }
            for j in range(4):
                out[f"f{j}"] = [f[j] for f in fs]
            yield pd.DataFrame(out)

    return frames.mapInPandas(
        featurize,
        schema="media_id long, frame_idx long, pts_ms long, "
        "f0 double, f1 double, f2 double, f3 double",
    ).select(
        "media_id",
        "frame_idx",
        "pts_ms",
        *[F.round(f"f{j}", 6).alias(f"f{j}") for j in range(4)],
    )


@query(
    "docs_prep_pipeline",
    oracle="""
WITH t AS (
    SELECT doc_id, source, text,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
), q AS (
    SELECT doc_id, source, text,
           CAST(len(toks) AS INT) AS n_tokens,
           round(least(len(toks) / 100.0, 1.0) * 0.5
                 + (len(list_distinct(toks)) * 1.0 / len(toks)) * 0.5,
                 4) AS quality_score
    FROM t
), f AS (
    SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM q
    WHERE quality_score >= 0.5
), d AS (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM f
)
SELECT source,
       CAST(count(*) AS BIGINT)       AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)  AS total_tokens,
       CAST(round(sum(CAST(quality_score AS DECIMAL(9,4))), 4) AS DOUBLE)
                                      AS sum_quality
FROM d WHERE rn = 1
GROUP BY source
""",
)
def docs_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: quality scoring -> threshold filter ->
    fingerprint dedup (deterministic keep-first) -> per-source corpus stats.
    The composition is the point: quality filter runs BEFORE dedup so the
    only shuffle (the dedup window) carries pre-filtered rows; at 100 TB the
    order of these stages dominates cost."""
    from ..operators.dedup import exact_dedup
    from ..operators.text import fingerprint, quality_features

    d = quality_features(_t(spark, sf_dir, "documents")).filter(
        F.col("quality_score") >= 0.5
    )
    deduped = exact_dedup(fingerprint(d), ["fingerprint"], tiebreaker="doc_id")
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum(F.col("quality_score").cast("decimal(9,4)")), 4)
        .cast("double")
        .alias("sum_quality"),
    )


@query(
    "dedup_edit_distance",
    oracle="""
WITH b AS (
    SELECT doc_id, text, lang, source, n_chars // 16 AS bkt FROM documents
)
SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       CAST(levenshtein(a.text, c.text) AS BIGINT) AS dist,
       levenshtein(a.text, c.text) * 10
         <= 3 * greatest(length(a.text), length(c.text))
         AS near
FROM b a JOIN b c
  ON a.lang = c.lang AND a.source = c.source AND a.bkt = c.bkt
 AND a.doc_id < c.doc_id
""",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup with BLOCKING: candidate pairs must share
    (lang, source, length-bucket) — an equi-join, never a cross join — then
    exact levenshtein verifies each candidate (identical classic DP in
    Spark and DuckDB). The blocking-then-verify shape is the scalable
    pattern: candidate volume is sum of C(block,2), tuned by bucket width;
    boundary-straddling near-dups are the documented recall tradeoff
    (MinHash-LSH is the recall-robust alternative). The 30% threshold is
    INTEGER cross-multiplied (dist * 10 <= 3 * maxlen) since round 11:
    the earlier float-cast form was an engine trap — Spark's double->int
    cast truncates where DuckDB's rounds, so the two sides only agreed
    while no fixture distance landed between the two thresholds
    (operators/joins.py:fuzzy_join applies the same rule cross-table)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", (F.col("n_chars") / 16).cast("long").alias("bkt")
    )
    a = d.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("t_a"), "lang", "source", "bkt"
    )
    c = d.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("t_b"), "lang", "source", "bkt"
    )
    dist = F.levenshtein("t_a", "t_b")
    return (
        a.join(c, ["lang", "source", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            dist.cast("long").alias("dist"),
            (
                dist * F.lit(10)
                <= F.lit(3) * F.greatest(F.length("t_a"), F.length("t_b"))
            ).alias("near"),
        )
    )


@query(
    "text_rolling_hash",
    oracle="""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text, '')]),
           (a, b) -> (a * 257 + b) % 1000000007
       ) AS rolling_hash
FROM documents
""",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial rolling hash per document — order-sensitive
    content hashing as one JVM-side fold (map-only, no shuffle). DuckDB
    twin seeds the fold by prepending 0 (list_reduce has no seed arg)."""
    from ..operators.text import rolling_hash

    d = _t(spark, sf_dir, "documents")
    return rolling_hash(d).select("doc_id", "rolling_hash")


@query(
    "text_perplexity",
    oracle="""
WITH toks AS (
    SELECT doc_id, pos, tok FROM (
        SELECT doc_id,
               generate_subscripts(arr, 1) AS pos,
               unnest(arr) AS tok
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '\\s+') AS arr
              FROM documents)
    ) WHERE tok != ''
), big AS (
    SELECT doc_id,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           tok AS cur
    FROM toks
    QUALIFY prev IS NOT NULL
), bc AS (
    SELECT prev, cur, count(*) AS cb FROM big GROUP BY prev, cur
), pc AS (
    SELECT prev, count(*) AS cp FROM big GROUP BY prev
), v AS (
    SELECT count(DISTINCT tok) AS vocab FROM toks
)
, per_doc AS (
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-log2((bc.cb + 1.0) / (pc.cp + 1.0 * v.vocab))), 4)
               AS avg_bits
    FROM big b
    JOIN bc ON bc.prev = b.prev AND bc.cur = b.cur
    JOIN pc ON pc.prev = b.prev
    CROSS JOIN v
    GROUP BY b.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       p.avg_bits
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
""",
)
def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: per-doc mean surprisal under an
    add-one-smoothed bigram LM fit on the corpus itself (boilerplate scores
    low, gibberish high). operators.text.bigram_surprisal — tokenize +
    per-doc lag window + two count aggs + scoring joins, fully relational."""
    from ..operators.text import bigram_surprisal

    d = _t(spark, sf_dir, "documents")
    return bigram_surprisal(d)


@query(
    "embedding_centroid_outliers",
    oracle="""
WITH u AS (
    SELECT label, vec_id,
           generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
), cent AS (
    SELECT label, pos, avg(v) AS c FROM u GROUP BY label, pos
), sc AS (
    SELECT u.label, u.vec_id,
           round(sum(u.v * cent.c)
                 / (sqrt(sum(u.v * u.v)) * sqrt(sum(cent.c * cent.c))),
                 4) AS cos_to_centroid
    FROM u JOIN cent ON cent.label = u.label AND cent.pos = u.pos
    GROUP BY u.label, u.vec_id
), r AS (
    SELECT label, vec_id, cos_to_centroid,
           row_number() OVER (PARTITION BY label
                              ORDER BY cos_to_centroid, vec_id) AS rank
    FROM sc
)
SELECT label, vec_id, CAST(rank AS INT) AS rank, cos_to_centroid
FROM r WHERE rank <= 5
""",
)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + 5 least-central vectors per label (embedding
    outlier review queue). operators.similarity.label_centroids /
    centroid_outliers — relational centroid build (posexplode + two scalar
    shuffles), broadcast scoring join, per-label ranking window."""
    from ..operators.similarity import centroid_outliers

    e = _t(spark, sf_dir, "embeddings")
    return centroid_outliers(e, k=5)


@query(
    "text_tfidf_topk",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x != '')) AS term
    FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS dft FROM tf GROUP BY term
), n AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
scored AS (
    SELECT tf.doc_id, tf.term,
           round(tf.tf * (ln((n.n + 1.0) / (dfreq.dft + 1.0)) + 1.0), 6)
               AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) AS rn
    FROM scored
) WHERE rn <= 3
""",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (smoothed sklearn idf).
    operators.text.tfidf_top_terms: one tf hash-agg, vocabulary-bounded
    df join, scalar N cross join, per-doc top-k window."""
    from ..operators.text import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=3)


@query(
    "search_bm25",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x != '')) AS term
    FROM documents
), dl AS (
    SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
    SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term IN ('spark', 'window', 'merge')
    GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS dft FROM tf GROUP BY term
), contrib AS (
    SELECT tf.doc_id,
           CAST(ln(1.0 + (stats.n - dfreq.dft + 0.5) / (dfreq.dft + 0.5))
                * tf.tf * 2.5
                / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / stats.avgdl))
                AS DECIMAL(24,10)) AS c
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 4) AS bm25,
       CAST(count(*) AS BIGINT) AS n_query_terms_hit
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 20
""",
)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword search for the literal query {spark, window,
    merge}: top-20 documents. operators.text.bm25_scores — lexical twin
    of similarity_topk over the same corpus. The oracle inlines
    k1=1.5, b=0.75: tf*(k1+1)=tf*2.5 and 1-b+b*dl/avgdl =
    0.25+0.75*dl/avgdl."""
    from ..operators.text import bm25_scores

    d = _t(spark, sf_dir, "documents")
    return bm25_scores(d, ["spark", "window", "merge"], k=20)


@query(
    "text_dedup_sentences",
    oracle="""
WITH inj AS (
    -- plant duplication: doc as three sentences, first repeated
    SELECT doc_id,
           substr(text, 1, 40) || '. ' || substr(text, 41, 40) || '. '
               || substr(text, 1, 40) || '. tail' || CAST(doc_id AS VARCHAR)
               AS t
    FROM documents
), s AS (
    SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS sent
    FROM (SELECT doc_id, string_split_regex(t, '\\.\\s+') AS arr FROM inj)
), f AS (
    SELECT doc_id, sent, min(pos) AS pos, count(*) AS n
    FROM s WHERE sent != '' GROUP BY doc_id, sent
)
SELECT i.doc_id,
       coalesce(string_agg(f.sent, '. ' ORDER BY f.pos), '') AS text_dedup,
       CAST(coalesce(sum(f.n), 0) AS BIGINT) AS n_sentences,
       CAST(coalesce(sum(f.n) - count(f.sent), 0) AS BIGINT) AS n_removed
FROM inj i LEFT JOIN f ON f.doc_id = i.doc_id
GROUP BY i.doc_id
""",
)
def text_dedup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document sentence dedup (web-corpus line-dedup pass). The
    corpus has no natural sentence structure, so each doc is recast as
    three sentences with the first planted twice — the operator must remove
    exactly one copy per doc while preserving original order.
    operators.text.dedup_sentences: explode + two doc-keyed hash-aggs."""
    from ..operators.text import dedup_sentences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit(". "),
            F.substring("text", 41, 40), F.lit(". "),
            F.substring("text", 1, 40), F.lit(". tail"),
            F.col("doc_id").cast("string"),
        ).alias("t"),
    )
    return dedup_sentences(d, text_col="t")


@query(
    "embedding_quantize",
    oracle="""
WITH q AS (
    SELECT vec_id, label, embedding,
           CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0
                THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(list_max(list_transform(embedding, x -> abs(x)))
                          AS DOUBLE) / 127.0
           END AS q_scale
    FROM embeddings
)
SELECT vec_id, label,
       round(q_scale, 6) AS q_scale,
       CAST(list_max(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) / q_scale) AS INTEGER)))
            AS INTEGER) AS q_max_code,
       CAST(list_min(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) / q_scale) AS INTEGER)))
            AS INTEGER) AS q_min_code,
       -- CAST to DOUBLE inside the lambda: DuckDB keeps FLOAT through
       -- float-typed lambdas (and round() preserves it), while Spark's
       -- arithmetic widens — both sides must round in double space
       round(list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)
                         - round(CAST(x AS DOUBLE) / q_scale) * q_scale))), 6)
           AS q_max_abs_err
FROM q
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus with per-vector
    scale and reconstruction-error bound.
    operators.similarity.quantize_int8 — map-only, no shuffle."""
    from ..operators.similarity import quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    return quantize_int8(e).select(
        "vec_id",
        "label",
        F.round("q_scale", 6).alias("q_scale"),
        "q_max_code",
        "q_min_code",
        F.round("q_max_abs_err", 6).alias("q_max_abs_err"),
    )


@query(
    "text_pmi_pairs",
    oracle="""
WITH dt AS (
    SELECT DISTINCT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x != '')) AS term
    FROM documents
), ct AS (
    SELECT term, count(*) AS c FROM dt GROUP BY term
), n AS (SELECT count(DISTINCT doc_id) AS n FROM dt),
p AS (
    SELECT a.term AS term_a, b.term AS term_b, count(*) AS c_ab
    FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2
)
SELECT term_a, term_b, CAST(c_ab AS BIGINT) AS n_docs_together,
       round(ln(c_ab * 1.0 * n.n / (ca.c * 1.0 * cb.c)), 6) AS pmi
FROM p
JOIN ct ca ON p.term_a = ca.term
JOIN ct cb ON p.term_b = cb.term
CROSS JOIN n
ORDER BY pmi DESC, term_a, term_b LIMIT 20
""",
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence by pointwise mutual information: which token
    pairs appear in the same document more than independence predicts
    (collocation discovery / phrase mining). Top-20 pairs.

    Scale shape: the doc×term incidence list self-joins on doc_id — each
    doc contributes |terms|² pairs, so at corpus scale you FIRST prune the
    term list by document frequency (the ct frame here) to keep the fanout
    bounded; the pair agg is one hash shuffle on (term_a, term_b) with
    map-side partials, and the per-term count joins are vocabulary-bounded
    broadcasts. Ranking uses the 6-decimal-rounded PMI so libm ulp
    differences can't reorder the cutoff."""
    d = _t(spark, sf_dir, "documents")
    from ..operators.text import tokens

    dt = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    ct = dt.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n = dt.agg(F.countDistinct("doc_id").alias("n"))
    a = dt.select(F.col("doc_id"), F.col("term").alias("term_a"))
    b = dt.select(F.col("doc_id"), F.col("term").alias("term_b"))
    p = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    scored = (
        p.join(
            F.broadcast(ct.select(F.col("term").alias("term_a"), F.col("c").alias("ca"))),
            "term_a",
        )
        .join(
            F.broadcast(ct.select(F.col("term").alias("term_b"), F.col("c").alias("cb"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            F.col("c_ab").cast("long").alias("n_docs_together"),
            F.round(
                F.log(
                    F.col("c_ab") * 1.0 * F.col("n")
                    / (F.col("ca") * 1.0 * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), "term_a", "term_b"
    ).limit(20)


@query(
    "embedding_pca",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vectors, CAST(2 AS INT) AS k
FROM embeddings
""",
)
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (operators.similarity.pca_project: Arrow-batched
    Gram partials, d² tree-agg, bounded driver eigh, literal-matrix
    map-only projection) with the decomposition's mathematical contract
    checked IN-ENGINE and the summary row oracled:

    * centering: |mean(pc_i)| must be ~0 (projections of centered data);
    * ordering: var(pc1) >= var(pc2);
    * capture floor: var(pc1) + var(pc2) >= (2/d) * total variance — a
      THEOREM (top-k eigenvalues of a PSD matrix are >= k * trace/d), not
      a data-tuned constant, so the gate is scale- and data-independent.

    Total variance comes from a posexplode + per-dimension var_pop —
    relational, no driver math. Eigendecomposition itself isn't
    SQL-portable; the row dies if any invariant breaks. Per-row
    projection values stay property-tested in tests/test_similarity.py."""
    from ..operators.similarity import pca_project

    e = _t(spark, sf_dir, "embeddings")
    proj = pca_project(e, k=2)
    stats = proj.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.avg("pc1").alias("m1"),
        F.avg("pc2").alias("m2"),
        F.var_pop("pc1").alias("v1"),
        F.var_pop("pc2").alias("v2"),
    )
    dim = F.size(F.col("embedding"))
    per_dim = (
        e.select(F.posexplode("embedding").alias("idx", "val"), dim.alias("d"))
        .groupBy("idx")
        .agg(F.var_pop("val").alias("dv"), F.max("d").alias("d"))
    )
    total = per_dim.agg(
        F.sum("dv").alias("total_var"), F.max("d").alias("d")
    )
    eps = 1e-9
    return (
        stats.crossJoin(F.broadcast(total))  # two single-row aggregates
        .filter(
            (F.abs(F.col("m1")) < 1e-6)
            & (F.abs(F.col("m2")) < 1e-6)
            & (F.col("v1") >= F.col("v2") - eps)
            & (
                F.col("v1") + F.col("v2")
                >= (2.0 / F.col("d")) * F.col("total_var") - eps
            )
        )
        .select("n_vectors", F.lit(2).cast("int").alias("k"))
    )


@query(
    "search_inverted_index",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x != '')) AS term
    FROM documents
), tf AS (
    SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                  ',' ORDER BY doc_id) AS postings
FROM tf GROUP BY term
""",
)
def search_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, document frequency, total term
    frequency, and the ordered postings list (doc:tf). The batch artifact
    behind search_bm25 — at corpus scale each term's postings shard
    naturally by the same groupBy(term) shuffle, and posting lists are
    sorted in-group (array_sort of structs), never via a global sort."""
    from ..operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                lambda s: F.concat_ws(
                    ":",
                    s.getField("doc_id").cast("string"),
                    s.getField("tf").cast("string"),
                ),
            ),
            ",",
        ).alias("postings"),
    )


@query(
    "dedup_incremental",
    oracle="""
SELECT d.doc_id, sha256(d.text) AS content_hash
FROM documents d
WHERE d.doc_id % 5 <> 0
  AND NOT EXISTS (
      SELECT 1 FROM documents h
      WHERE h.doc_id % 5 = 0 AND sha256(h.text) = sha256(d.text))
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental dedup: docs with doc_id % 5 == 0 play the
    already-ingested history (reduced to a sha256 fingerprint index), the
    rest arrive as the new batch; survivors are batch docs whose content
    hash is absent from the index. operators.dedup.incremental_dedup — the
    anti-join ships 32-byte digests, never document bodies, so at 100 TB
    the history side is an index three orders of magnitude smaller than
    the corpus."""
    from ..operators.dedup import incremental_dedup

    d = _t(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % 5 == 0).select(
        F.sha2(F.col("text"), 256).alias("content_hash")
    ).distinct()
    batch = d.filter(F.col("doc_id") % 5 != 0)
    return incremental_dedup(batch, history).select("doc_id", "content_hash")


@query(
    "dedup_index_compact",
    oracle="""
WITH probe AS (
    SELECT CAST(doc_id + 2000000 AS BIGINT) AS doc_id,
           'unseen-' || CAST(doc_id AS VARCHAR) || ':' || text AS text
    FROM documents WHERE doc_id < 10
    UNION ALL
    SELECT CAST(doc_id + 1000000 AS BIGINT) AS doc_id, text
    FROM documents WHERE doc_id < 40
)
SELECT p.doc_id, sha256(p.text) AS content_hash
FROM probe p
WHERE NOT EXISTS (SELECT 1 FROM documents h WHERE h.text = p.text)
""",
)
def dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files maintenance for the persisted DEDUP fingerprint index —
    the generation+watermark lifecycle the ANN index got in round 8
    (similarity_index_compact), adopted by the incremental dedup family
    via the shared store (operators/index_store.py:compact_index): every
    map-only rolling ingest adds one file per batch partition, so a year
    of daily batches is ~365 files per index; compaction rewrites all
    partitions at or below the checkpoint-committed watermark under ONE
    batch_seq partition, commits with the atomic CURRENT pointer flip,
    and persists the watermark so a late replay of a compacted-away batch
    refuses loudly instead of doubling index rows.

    The run is fully audited and the output is GATED on the audit (the
    similarity_index_compact convention): the 4-batch input index (built
    once per process as an input-by-contract and COPIED per run, since
    compaction commits a new generation) must compact 4 batch partitions
    to 2 with strictly fewer files and exactly the same row count; a
    probe batch (40 re-encoded uploads of history docs + 10 genuinely-new
    docs) must dedup to the BIT-IDENTICAL survivor set before and after
    compaction; and an append at a compacted-away batch_id must refuse.
    Any violation empties the output and the driver goes red. The
    surviving rows themselves are the oracle surface: DuckDB replays the
    probe decoration and the first-arrival anti-join exactly (sha256 is
    engine-portable — the dedup_bloom_prefilter convention)."""
    import shutil

    from ..operators.dedup import incremental_dedup
    from ..operators.index_store import (
        append_index,
        compact_index,
        read_index,
    )
    from .registry import scratch_source_cache

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cache, built = scratch_source_cache("dedupidxcompact", sf_dir)
    src = f"{cache}/index"
    if not built:
        for b in range(4):
            append_index(
                d.filter(F.col("doc_id") % 4 == b).select(
                    F.sha2(F.col("text"), 256).alias("content_hash")
                ),
                src,
                batch_id=b,
            )
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    idx = f"{scratch_dir('dedupidxcompact_run', sf_dir)}/index"
    shutil.copytree(src, idx)
    probe = (
        d.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.lit("unseen-"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("text"),
            ).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") < 40).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    pre = (
        incremental_dedup(
            probe, read_index(spark, idx).select("content_hash")
        )
        .select("doc_id", "content_hash")
        # materialize NOW: the plan scans the pre-compaction generation
        # dir, which commit+prune deletes underneath a lazy reader
        .localCheckpoint(eager=True)
    )
    audit = compact_index(spark, idx, upto_batch=2)
    refused = False
    try:
        append_index(
            d.limit(1).select(
                F.sha2(F.col("text"), 256).alias("content_hash")
            ),
            idx,
            batch_id=1,
        )
    except ValueError:
        refused = True
    post = incremental_dedup(
        probe, read_index(spark, idx).select("content_hash")
    ).select("doc_id", "content_hash")
    # exact symmetric-difference gate: every survivor row must appear on
    # BOTH sides (each side is distinct by construction — probe ids are
    # unique and the anti-join only removes rows)
    mismatches = (
        pre.unionByName(post)
        .groupBy("doc_id", "content_hash")
        .agg(F.count(F.lit(1)).alias("__sides"))
        .agg(
            F.sum((F.col("__sides") != 2).cast("long")).alias("__bad"),
            F.count(F.lit(1)).alias("__pairs"),
        )
    )
    audit_ok = (
        audit["rows_before"] == audit["rows_after"]
        and audit["files_after"] < audit["files_before"]
        and audit["batches_before"] == 4
        and audit["batches_after"] == 2
        and not audit["noop_replay"]
    )
    return (
        post.crossJoin(mismatches)
        .filter(
            (F.col("__bad") == 0)
            & (F.col("__pairs") > 0)
            & F.lit(bool(audit_ok and refused))
        )
        .select("doc_id", "content_hash")
    )


@query(
    "dedup_bloom_prefilter",
    oracle="""
WITH deco AS (
    SELECT d.doc_id,
           COALESCE(CASE WHEN d.doc_id % 10 = 7 THEN dn.text END, d.text)
               AS text
    FROM documents d LEFT JOIN documents dn ON dn.doc_id = d.doc_id - 7
)
SELECT b.doc_id, sha256(b.text) AS content_hash
FROM deco b
WHERE b.doc_id % 5 <> 0
  AND NOT EXISTS (
      SELECT 1 FROM deco h
      WHERE h.doc_id % 5 = 0 AND sha256(h.text) = sha256(b.text))
""",
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup behind a broadcast Bloom prefilter — the
    membership-summary pattern for when 99% of a crawl batch is NEW: the
    bloom position table (<= m_bits longs, broadcast) lets definitely-new
    docs skip the fingerprint anti-join entirely, so the join's probe
    side shrinks to true dups + the fpp sliver. The result is exact and
    the oracle is the PLAIN anti-join — hash equality proves the bloom's
    no-false-negative plumbing (a build/probe mismatch would leak
    duplicates through the definitely-new shortcut). Duplicates are
    injected deterministically (every doc_id ending in 7 copies
    doc_id-7's text, which lands in history: (id-7) % 10 == 0 => % 5 ==
    0) so both the shortcut AND the candidate-verify path provably fire;
    the positions use the engine-portable md5 family
    (plans/llm.py:_md5_lower60 arithmetic).
    operators.dedup.build_bloom_index / bloom_prefilter_dedup."""
    from ..operators.dedup import bloom_prefilter_dedup, build_bloom_index

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    donor = d.select(
        (F.col("doc_id") + 7).alias("doc_id"),
        F.col("text").alias("__dup_text"),
    )
    deco = d.join(donor, "doc_id", "left").select(
        "doc_id",
        F.coalesce(
            F.when(F.col("doc_id") % 10 == 7, F.col("__dup_text")),
            F.col("text"),
        ).alias("text"),
    )
    history = deco.filter(F.col("doc_id") % 5 == 0)
    batch = deco.filter(F.col("doc_id") % 5 != 0)
    index = history.select(
        F.sha2(F.col("text"), 256).alias("content_hash")
    ).distinct()
    bloom = build_bloom_index(history, m_bits=1 << 16, n_hashes=4)
    return bloom_prefilter_dedup(
        batch, index, bloom, m_bits=1 << 16, n_hashes=4
    ).select("doc_id", "content_hash")


@query(
    "dedup_incremental_fuzzy",
    oracle="""
WITH w AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')
               AS words
    FROM documents
), s AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS sh
    FROM w
), b AS (SELECT * FROM s WHERE doc_id % 5 <> 0),
   h AS (SELECT * FROM s WHERE doc_id % 5 = 0)
SELECT b.doc_id FROM b
WHERE NOT EXISTS (
    SELECT 1 FROM h
    WHERE round(len(list_intersect(b.sh, h.sh)) * 1.0
          / len(list_distinct(list_concat(b.sh, h.sh))), 4) >= 0.9)
""",
)
def dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch NEAR-duplicate dedup — the fuzzy twin of
    dedup_incremental: docs with doc_id % 5 == 0 play the already-ingested
    history, reduced to a persisted MinHash signature index (id +
    64 longs, never bodies); the rest arrive as the new batch. Batch
    signatures band-join against the index, candidates verify with exact
    shingle Jaccard (point-lookup of candidate history bodies), and batch
    docs matching history at J >= 0.9 drop.

    The oracle is EXHAUSTIVE on the union: DuckDB scores every batch x
    history pair, so a hash match proves the banded index join (which
    scores only bucket-colliding pairs — the rolling-corpus 100 TB shape)
    missed NO true cross-batch near-duplicate.
    operators.dedup.incremental_fuzzy_dedup; index round-trip through
    parquet proven by tests/test_dedup.py."""
    from ..operators.dedup import incremental_fuzzy_dedup, minhash_signatures

    d = _t(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % 5 == 0)
    index = minhash_signatures(history, id_col="doc_id", text_col="text")
    batch = d.filter(F.col("doc_id") % 5 != 0)
    return incremental_fuzzy_dedup(
        batch, index, history=history, jaccard_threshold=0.9
    ).select("doc_id")


@query(
    "dedup_incremental_fuzzy_bloom",
    oracle="""
WITH w AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')
               AS words
    FROM documents
), s AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS sh
    FROM w
), b AS (SELECT * FROM s WHERE doc_id % 5 <> 0),
   h AS (SELECT * FROM s WHERE doc_id % 5 = 0)
SELECT b.doc_id FROM b
WHERE NOT EXISTS (
    SELECT 1 FROM h
    WHERE round(len(list_intersect(b.sh, h.sh)) * 1.0
          / len(list_distinct(list_concat(b.sh, h.sh))), 4) >= 0.9)
""",
)
def dedup_incremental_fuzzy_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_fuzzy with BOTH production index layouts armed:
    the PRE-BANDED signature index (each run skips history banding; bucket
    it by band_hash and the join is shuffle-free on the history side) plus
    a broadcast band-key Bloom summary in front of the banded join —
    batch band keys whose probed bit is unset are definitely absent from
    history and drop in a map-only broadcast semi-join BEFORE the
    equi-join (probe-1 of a 2-hash family: a prefilter needs load-factor
    fpp, not membership-oracle fpp — the surviving sliver is verified by
    the join anyway, and every extra probe is a broadcast-join barrier).
    The oracle is the SAME exhaustive batch x history scoring as the
    unfiltered query: hash equality proves the Bloom prefilter dropped no
    true near-duplicate (no false negatives when build and probe share
    the md5 position family) AND the pre-banded layout reproduces the
    compact one.

    Measured honestly (sf0.1, local[32], prebuilt artifacts, 99%-new
    batch): the prefilter is cost-neutral here (~2.3s either way) —
    batch signatures dominate and the banded join it slims is already
    milliseconds at this scale. The claim that holds at 100 TB is
    SHUFFLE-VOLUME, not local latency: with a bucketed history index the
    only remaining movement is the batch's 16x|batch| band keys
    shuffling into the history bucketing, and the prefilter cuts exactly
    that by (1 - load - dup_rate) with a fixed-size broadcast.
    operators.dedup.build_band_bloom_index /
    incremental_fuzzy_dedup(band_bloom=...)."""
    from ..operators.dedup import (
        banded_signatures,
        build_band_bloom_index,
        incremental_fuzzy_dedup,
        minhash_signatures,
    )
    from .registry import scratch_source_cache

    d = _t(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % 5 == 0)
    # production persists the pre-banded index and its bloom summary as
    # PARQUET — they are inputs by contract, like the ANN stream's source
    # files — so they build ONCE per process (scratch_source_cache) and
    # every invocation reads them back: bench's warm iterations measure
    # the ingest path (batch signatures + prefilter + banded join +
    # verify), not the history index build. The build path itself stays
    # covered by dedup_incremental_fuzzy, which keeps its index in-plan.
    cache, built = scratch_source_cache("fuzzybloom_idx", sf_dir)
    if not built:
        index = minhash_signatures(history, id_col="doc_id", text_col="text")
        (
            banded_signatures(index, id_col="doc_id")
            .select("doc_id", "band_idx", "band_hash")
            .write.parquet(f"{cache}/prebanded")
        )
        build_band_bloom_index(
            spark.read.parquet(f"{cache}/prebanded"),
            m_bits=1 << 22, n_hashes=2,
        ).write.parquet(f"{cache}/bloom")
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    prebanded = spark.read.parquet(f"{cache}/prebanded")
    bloom = spark.read.parquet(f"{cache}/bloom")
    batch = d.filter(F.col("doc_id") % 5 != 0)
    return incremental_fuzzy_dedup(
        batch,
        prebanded,
        history=history,
        jaccard_threshold=0.9,
        band_bloom=bloom,
        bloom_m_bits=1 << 22,
        bloom_n_hashes=2,
    ).select("doc_id")


@query(
    "text_token_entropy",
    oracle="""
WITH toks AS (
    SELECT d.source, t.tok
    FROM documents d,
         UNNEST(string_split_regex(lower(d.text), '\\s+')) AS t(tok)
    WHERE t.tok <> ''
), counts AS (
    SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
    FROM toks GROUP BY source, tok
), totals AS (
    SELECT source, sum(c) AS n, CAST(count(*) AS BIGINT) AS n_unique
    FROM counts GROUP BY source
)
SELECT c.source,
       CAST(t.n AS BIGINT)                                   AS n_tokens,
       t.n_unique,
       round(ln(t.n) - sum(c.c * ln(c.c)) / t.n, 4)          AS entropy_nats
FROM counts c JOIN totals t USING (source)
GROUP BY c.source, t.n, t.n_unique
""",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution — the
    repetitiveness / diversity score used to down-weight boilerplate-heavy
    sources in a training mix (low entropy = templated text). Two
    hash-partitioned aggregations (token counts, then the entropy sum);
    the token explode never leaves its partition before the first combine,
    so the shuffle carries (source, token, count), not raw tokens."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    # -sum(p ln p) = ln(n) - sum(c ln c)/n: one plain aggregation over the
    # count table, no second pass or window needed
    n = F.sum("c")
    return counts.groupBy("source").agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 4).alias(
            "entropy_nats"
        ),
    )


@query(
    "graph_pagerank",
    oracle="""
WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
e0 AS (
    SELECT a.vec_id AS u, b.vec_id AS v
    FROM s a JOIN s b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6)
          >= 0.25
),
edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
r0 AS (SELECT u AS node, 1000000000000 // nn.n AS r FROM deg, nn),
i1 AS (SELECT e.v AS node, SUM(r0.r // deg.d) AS fl
       FROM edges e JOIN r0 ON e.u = r0.node JOIN deg ON deg.u = e.u
       GROUP BY e.v),
r1 AS (SELECT i1.node, (15 * (1000000000000 // nn.n)) // 100
                       + (85 * i1.fl) // 100 AS r FROM i1, nn),
i2 AS (SELECT e.v AS node, SUM(r1.r // deg.d) AS fl
       FROM edges e JOIN r1 ON e.u = r1.node JOIN deg ON deg.u = e.u
       GROUP BY e.v),
r2 AS (SELECT i2.node, (15 * (1000000000000 // nn.n)) // 100
                       + (85 * i2.fl) // 100 AS r FROM i2, nn),
i3 AS (SELECT e.v AS node, SUM(r2.r // deg.d) AS fl
       FROM edges e JOIN r2 ON e.u = r2.node JOIN deg ON deg.u = e.u
       GROUP BY e.v),
r3 AS (SELECT i3.node, (15 * (1000000000000 // nn.n)) // 100
                       + (85 * i3.fl) // 100 AS r FROM i3, nn)
SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r3
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, damping 0.85) over the semantic-
    similarity graph — hub scoring for boilerplate/citation-like clusters.

    The point of this query is that an ITERATIVE algorithm can still be
    hash-oracled: the iteration count is fixed and unrolled in the SQL
    twin, and all arithmetic is integer (ranks live on a 1e12 fixed-point
    grid; per-edge contributions use integer division) so there is no
    float-summation-order divergence between engines — sums of BIGINTs
    are exact everywhere. Scale shape: each iteration is one equi-join of
    the edge list with the (nodes-sized) rank frame plus one hash
    aggregate; N enters via a broadcast single-row aggregate, never a
    driver-side count."""
    from ..functions.vectors import cosine

    SCALE = 1_000_000_000_000
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    a = e.select(F.col("vec_id").alias("u"), F.col("embedding").alias("__va"))
    b = e.select(F.col("vec_id").alias("v"), F.col("embedding").alias("__vb"))
    e0 = (
        a.join(F.broadcast(b), F.col("u") < F.col("v"))
        .filter(F.round(cosine(F.col("__va"), F.col("__vb")), 6) >= 0.25)
        .select("u", "v")
    )
    edges = e0.unionAll(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()  # tiny (bounded slice); reused 3x per iteration
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    base = F.expr(f"(15 * ({SCALE} div n)) div 100")

    r = deg.crossJoin(F.broadcast(nn)).select(
        F.col("u").alias("node"), F.expr(f"{SCALE} div n").alias("r")
    )
    for _ in range(3):
        inflow = (
            edges.join(r, edges.u == r.node)
            .join(deg, "u")
            .groupBy("v")
            .agg(F.sum(F.expr("r div d")).alias("fl"))
        )
        r = inflow.crossJoin(F.broadcast(nn)).select(
            F.col("v").alias("node"),
            (base + F.expr("(85 * fl) div 100")).alias("r"),
        )
    return r.select("node", F.col("r").cast("long").alias("rank_scaled"))


@query(
    "graph_degree_centrality",
    oracle="""
WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
edges AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM s a JOIN s b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6)
          >= 0.25
), nodes AS (
    SELECT id_a AS node FROM edges
    UNION ALL
    SELECT id_b AS node FROM edges
)
SELECT node, CAST(count(*) AS BIGINT) AS degree
FROM nodes GROUP BY node
""",
)
def graph_degree_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree centrality over the semantic-similarity graph (nodes = docs,
    edges = cosine >= 0.25 pairs): the hub-detection pass that finds
    boilerplate clusters before fuzzy dedup collapses them. Edge list is
    built exactly like dedup_embedding_cosine; the degree count is one
    union + one hash aggregation — at corpus scale degrees come straight
    from the LSH candidate pairs, never an all-pairs scan."""
    from ..functions.vectors import cosine

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    # round before thresholding (identically in the oracle): a pair landing
    # exactly on the 0.25 boundary must not flip between engines on
    # summation-order ulps — that would silently change degree counts
    edges = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine(F.col("__va"), F.col("__vb")), 6) >= 0.25)
        .select("id_a", "id_b")
    )
    nodes = edges.select(F.col("id_a").alias("node")).unionAll(
        edges.select(F.col("id_b").alias("node"))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))


@query(
    "corpus_line_dedup",
    oracle=r"""
WITH w AS (
    SELECT doc_id,
           list_filter(
               string_split(regexp_replace(lower(text), '\s+', ' ', 'g'),
                            ' '),
               x -> x <> '') AS words
    FROM documents
), seg AS (
    SELECT doc_id, i AS seg_idx,
           array_to_string(words[(i*10+1):(i*10+10)], ' ') AS seg
    FROM w, UNNEST(generate_series(
        0, greatest(CAST(ceil(len(words)/10.0) AS INT)-1, 0))) AS t(i)
), dfq AS (
    SELECT seg, count(DISTINCT doc_id) AS dfreq FROM seg GROUP BY seg
), agg AS (
    SELECT s.doc_id,
           coalesce(string_agg(CASE WHEN d.dfreq <= 2 THEN s.seg END,
                               ' ' ORDER BY s.seg_idx), '') AS text_clean,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN d.dfreq > 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
    FROM seg s JOIN dfq d USING (seg)
    GROUP BY s.doc_id
)
SELECT doc.doc_id,
       coalesce(a.text_clean, '')               AS text_clean,
       coalesce(a.n_segments, CAST(0 AS BIGINT)) AS n_segments,
       coalesce(a.n_dropped, CAST(0 AS BIGINT))  AS n_dropped
FROM documents doc LEFT JOIN agg a USING (doc_id)
""",
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-WIDE boilerplate segment removal (CCNet/RefinedWeb line
    dedup): a 10-word segment is dropped from every document once it
    appears in >2 distinct documents; survivors reassemble in order and
    fully-boilerplate docs come back empty rather than vanishing.
    Complements text_dedup_sentences (within-doc). The oracle is the same
    segmentation + exact document-frequency computed relationally, so the
    hash match proves the md5-keyed DF shuffle and the in-group reassembly
    compute the textbook answer. operators.text.remove_boilerplate_segments:
    map-only segmenting, (16-byte hash, doc_id) DF shuffle, one reassembly
    hash-agg."""
    from ..operators.text import remove_boilerplate_segments

    d = _t(spark, sf_dir, "documents")
    return remove_boilerplate_segments(
        d, segment_words=10, max_doc_freq=2
    )


@query(
    "dedup_semantic",
    oracle=r"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             v AS cv
      FROM e ORDER BY vec_id LIMIT 8),
scored AS (SELECT e.vec_id, c.cid,
                  round(list_cosine_similarity(e.v, c.cv), 6) AS s
           FROM e CROSS JOIN c),
assigned AS (SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) rn
    FROM scored) WHERE rn = 1)
SELECT a.vec_id, a.cluster
FROM assigned a JOIN e ea ON ea.vec_id = a.vec_id
WHERE NOT EXISTS (
  SELECT 1 FROM assigned a2 JOIN e e2 ON e2.vec_id = a2.vec_id
  WHERE a2.cluster = a.cluster AND a2.vec_id < a.vec_id
    AND round(list_cosine_similarity(ea.v, e2.v), 6) >= 0.4)
""",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the full embeddings table: assign
    every vector to its nearest of 8 deterministic centroids, then drop
    vectors with a lower-id same-cluster neighbor at cosine >= 0.4. The
    oracle recomputes assignment AND the within-cluster neighbor scan
    relationally (cross join is oracle-side only), so the hash match
    proves the map-only Arrow assignment + cell-bounded self-join produce
    the textbook SemDeDup keep set. operators.dedup.semantic_dedup."""
    from ..operators.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, n_clusters=8, threshold=0.4)


@query(
    "cluster_kmeans",
    oracle=r"""
WITH eq AS (SELECT vec_id,
        list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(round(x*1000) AS BIGINT)) AS xq
    FROM embeddings),
ex AS (SELECT vec_id, generate_subscripts(xq,1) AS i, unnest(xq) AS x
       FROM eq),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)-1 AS BIGINT) AS cid,
              xq
       FROM (SELECT * FROM eq ORDER BY vec_id LIMIT 8)),
c0x AS (SELECT cid, generate_subscripts(xq,1) AS i, unnest(xq)*100 AS c
        FROM c0),
d1 AS (SELECT e.vec_id, c.cid,
              CAST(SUM((e.x*100 - c.c)*(e.x*100 - c.c)) AS BIGINT) AS dist
       FROM ex e JOIN c0x c USING (i) GROUP BY e.vec_id, c.cid),
a1 AS (SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
    FROM d1) WHERE rn=1),
u1 AS (SELECT a.cluster AS cid, e.i, CAST(sum(e.x) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n
       FROM ex e JOIN a1 a USING (vec_id) GROUP BY a.cluster, e.i),
c1x AS (SELECT c.cid, c.i,
               CASE WHEN u.s IS NULL THEN c.c
                    ELSE (u.s*100 - (((u.s*100 % u.n) + u.n) % u.n)) // u.n
               END AS c
        FROM c0x c LEFT JOIN u1 u ON u.cid = c.cid AND u.i = c.i),
d2 AS (SELECT e.vec_id, c.cid,
              CAST(SUM((e.x*100 - c.c)*(e.x*100 - c.c)) AS BIGINT) AS dist
       FROM ex e JOIN c1x c USING (i) GROUP BY e.vec_id, c.cid),
a2 AS (SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
    FROM d2) WHERE rn=1)
SELECT vec_id, cluster FROM a2
""",
)
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 2 assignment rounds) with EXACT
    integer arithmetic — the graph_pagerank pattern applied to clustering:
    vectors on a 1e-3 lattice, centroids floor-divided onto a 1e-5
    lattice, int64 squared-L2 argmin with ties to the lowest centroid id.
    The oracle unrolls both Lloyd iterations relationally (per-dimension
    unnest + BIGINT sums), so the hash match proves the map-only Arrow
    assignment + one k-row hash-agg per iteration compute the exact
    fixed-point trajectory — no float summation order anywhere.
    operators.similarity.kmeans_exact."""
    from ..operators.similarity import kmeans_exact

    e = _t(spark, sf_dir, "embeddings")
    return kmeans_exact(e, k=8, iters=2)


@query(
    "text_normalize",
    oracle="""
WITH noisy AS (
    SELECT doc_id,
           '“Doc—' || text || '’' || chr(9) || chr(160)
               || 'END' || chr(1) AS t
    FROM documents
)
SELECT doc_id,
       lower(trim(regexp_replace(
           regexp_replace(
               translate(t, '‘’“”–—'
                            || chr(160),
                         '''''""--' || ' '),
               '[\\x00-\\x1F\\x7F]', ' ', 'g'),
           '\\s+', ' ', 'g'))) AS text_norm,
       CAST(length(t) AS BIGINT) AS n_chars_raw,
       CAST(length(lower(trim(regexp_replace(
           regexp_replace(
               translate(t, '‘’“”–—'
                            || chr(160),
                         '''''""--' || ' '),
               '[\\x00-\\x1F\\x7F]', ' ', 'g'),
           '\\s+', ' ', 'g')))) AS BIGINT) AS n_chars_norm
FROM noisy
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet canonicalization before any hash-based dedup: curly
    quotes/long dashes/NBSP unify to ASCII, control chars strip,
    whitespace collapses, case folds. The synthetic corpus is already
    clean, so the query decorates every document with deterministic
    noise (curly quotes, em-dash, tab, NBSP, a control byte) FIRST —
    both engines build the same noisy input, so the oracle hash proves
    every rule fires, not that the input was trivially clean.
    operators.text.normalize_text: map-only translate+regex projection,
    fuses into the scan."""
    from ..operators.text import normalize_text

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("“Doc—"),
            F.col("text"),
            F.lit("’\t END\x01"),
        ).alias("t"),
    )
    return normalize_text(d, text_col="t", out_col="text_norm").select(
        "doc_id", "text_norm", "n_chars_raw", "n_chars_norm"
    )


@query(
    "dedup_semantic_kmeans",
    oracle=r"""
WITH eq AS (SELECT vec_id,
        list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(round(x*1000) AS BIGINT)) AS xq
    FROM embeddings),
ex AS (SELECT vec_id, generate_subscripts(xq,1) AS i, unnest(xq) AS x
       FROM eq),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)-1 AS BIGINT) AS cid,
              xq
       FROM (SELECT * FROM eq ORDER BY vec_id LIMIT 8)),
c0x AS (SELECT cid, generate_subscripts(xq,1) AS i, unnest(xq)*100 AS c
        FROM c0),
d1 AS (SELECT e.vec_id, c.cid,
              CAST(SUM((e.x*100 - c.c)*(e.x*100 - c.c)) AS BIGINT) AS dist
       FROM ex e JOIN c0x c USING (i) GROUP BY e.vec_id, c.cid),
a1 AS (SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
    FROM d1) WHERE rn=1),
u1 AS (SELECT a.cluster AS cid, e.i, CAST(sum(e.x) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n
       FROM ex e JOIN a1 a USING (vec_id) GROUP BY a.cluster, e.i),
c1x AS (SELECT c.cid, c.i,
               CASE WHEN u.s IS NULL THEN c.c
                    ELSE (u.s*100 - (((u.s*100 % u.n) + u.n) % u.n)) // u.n
               END AS c
        FROM c0x c LEFT JOIN u1 u ON u.cid = c.cid AND u.i = c.i),
d2 AS (SELECT e.vec_id, c.cid,
              CAST(SUM((e.x*100 - c.c)*(e.x*100 - c.c)) AS BIGINT) AS dist
       FROM ex e JOIN c1x c USING (i) GROUP BY e.vec_id, c.cid),
a2 AS (SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
    FROM d2) WHERE rn=1),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id, a.cluster
FROM a2 a JOIN ev ea ON ea.vec_id = a.vec_id
WHERE NOT EXISTS (
  SELECT 1 FROM a2 b JOIN ev eb ON eb.vec_id = b.vec_id
  WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
    AND round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4)
""",
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLISHED SemDeDup composition (Abbas et al. 2023 run k-means
    first, then dedup within cells): cluster_kmeans' exact-integer Lloyd
    assignment feeds semantic_dedup's per-cell matmul scan. The oracle
    unrolls both Lloyd iterations AND the within-cluster neighbor test
    relationally, so the hash match proves the whole two-operator
    composition end-to-end — assignment trajectory and keep set.
    operators.similarity.kmeans_exact + operators.dedup.semantic_dedup
    (assignments=...)."""
    from ..operators.dedup import semantic_dedup
    from ..operators.similarity import kmeans_exact

    e = _t(spark, sf_dir, "embeddings")
    clusters = kmeans_exact(e, k=8, iters=2)
    return semantic_dedup(e, threshold=0.4, assignments=clusters)
