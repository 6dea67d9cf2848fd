"""LLM-data-pipeline queries over documents/embeddings (SURVEY.md §2b
X1-X5): text analysis, dedup (exact + near-dup), similarity search,
multimodal columns.

Approximate/hash-based operators (MinHash, SimHash, SRP-LSH) have no
cross-engine oracle (engine-specific hash functions) → rows-only checks;
the exact operators all carry DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators import multimodal, similarity
from medical_examination_data_etl_system_spark.operators.dedup import (
    dedup_documents_exact,
    minhash_near_duplicates,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from medical_examination_data_etl_system_spark.operators.text_analysis import (
    bpe_token_count,
    normalized_text,
    content_fingerprint,
    lang_id,
    quality_features,
    quality_score,
    tfidf_top_terms,
    token_count,
    token_entropy_stats,
    with_rolling_fingerprint,
)
from medical_examination_data_etl_system_spark.queries import QueryDef, load

# ---------------------------------------------------------------------------
# X4 — text analysis
# ---------------------------------------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")
    feats = quality_features(text)
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars_calc"),
        token_count(text).alias("n_tokens"),
        bpe_token_count(text).alias("n_bpe_tokens"),
        feats["n_stopwords"].alias("n_stopwords"),
        feats["avg_token_len"].alias("avg_token_len"),
    ).orderBy("doc_id")


TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> list_contains(['the','a','of','and','to','in','is','for','on','with'], lower(t)))) AS BIGINT) AS n_stopwords,
       CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\\s+')) END) > 0
            THEN round((length(text) - (len(string_split_regex(trim(text), '\\s+')) - 1))
                       / len(string_split_regex(trim(text), '\\s+')), 4)
            ELSE 0.0 END AS avg_token_len
FROM documents
ORDER BY doc_id
"""


def text_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        quality_score(text).alias("quality"),
        lang_id(text).alias("lang_pred"),
        content_fingerprint(text).alias("fingerprint"),
    ).orderBy("doc_id")


QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, text,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
              tk -> list_contains(['the','a','of','and','to','in','is','for','on','with'], lower(tk)))) AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id,
       round(least(n_tokens / 100.0, 1.0) *
             (1.0 - abs((CASE WHEN n_tokens > 0 THEN n_stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) - 0.3)), 4) AS quality,
       CASE WHEN regexp_matches(text, '[぀-ヿ]') THEN 'ja'
            WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN regexp_matches(text, '[가-힯]') THEN 'ko'
            WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
            WHEN regexp_matches(text, '[àâçéèêëîïôùûüÿœæ]') THEN 'fr'
            WHEN regexp_matches(text, '[äöüß]') THEN 'de'
            WHEN regexp_matches(text, '[áéíóúñ¿¡]') THEN 'es'
            ELSE 'en' END AS lang_pred,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM t
ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# X1/X2 — dedup
# ---------------------------------------------------------------------------


def docs_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_documents_exact(docs).select("doc_id", "fingerprint", "lang", "n_chars").orderBy(
        "doc_id"
    )


DEDUP_EXACT_SQL = """
SELECT doc_id, fingerprint, lang, n_chars
FROM (SELECT doc_id, lang, n_chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
             row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn = 1
ORDER BY doc_id
"""


def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pass, composed from the
    battery's own operators: quality-score gate → language filter →
    content-exact dedup (keep lowest id) → curated corpus stats. The
    composition is the point — each stage is a map/window over the
    previous one, no collect between stages."""
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "text",
        quality_score(text).alias("quality"),
        lang_id(text).alias("lang_pred"),
    )
    kept = scored.filter((F.col("quality") >= 0.3) & (F.col("lang_pred") == "en"))
    deduped = dedup_documents_exact(kept)
    return (
        deduped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
            # exact mean: quality is round(.,4) so ×10000 is integral —
            # the sum is order-independent, the division identical on
            # both engines (float-exactness discipline).
            (F.sum(F.round(F.col("quality") * 10000, 0)) / F.count(F.lit(1)) / 10000).alias(
                "avg_quality"
            ),
        )
        .orderBy("source")
    )


CURATION_SQL = """
WITH scored AS (
  SELECT doc_id, lang, source, n_chars, text,
         round(least((CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END) / 100.0, 1.0) *
               (1.0 - abs((CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                      ELSE len(string_split_regex(trim(text), '\\s+')) END) > 0
                           THEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                                tk -> list_contains(['the','a','of','and','to','in','is','for','on','with'], lower(tk))))
                                / CAST((CASE WHEN trim(text) = '' THEN 0
                                        ELSE len(string_split_regex(trim(text), '\\s+')) END) AS DOUBLE)
                           ELSE 0.0 END) - 0.3)), 4) AS quality,
         CASE WHEN regexp_matches(text, '[぀-ヿ]') THEN 'ja'
              WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
              WHEN regexp_matches(text, '[가-힯]') THEN 'ko'
              WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
              WHEN regexp_matches(text, '[àâçéèêëîïôùûüÿœæ]') THEN 'fr'
              WHEN regexp_matches(text, '[äöüß]') THEN 'de'
              WHEN regexp_matches(text, '[áéíóúñ¿¡]') THEN 'es'
              ELSE 'en' END AS lang_pred
  FROM documents
),
kept AS (SELECT * FROM scored WHERE quality >= 0.3 AND lang_pred = 'en'),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id) AS rn
    FROM kept)
  WHERE rn = 1
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       sum(round(quality * 10000, 0)) / count(*) / 10000 AS avg_quality
FROM deduped
GROUP BY source
ORDER BY source
"""


def docs_minhash_md5_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash+LSH near-dup path under a FULL exact oracle — the
    md5 sketch-chip (agg_cms → KMV/HLL lineage) applied to the
    flagship text-dedup kernel, which stays rows-only in production by
    its xxhash64 signatures (operators/dedup.minhash_md5_exact
    docstring has the determinism construction: one seeded digest per
    band split into four independent 32-bit components, band keys from
    that band's digest). Banding, candidate generation, and the
    verified exact Jaccard all replay in DuckDB value-exactly, so the
    whole shape minhash_near_duplicates runs — shingle explode,
    pure-min signature agg, band-bucket join, inverted-index
    verification — carries a driver hash row."""
    from medical_examination_data_etl_system_spark.operators.dedup import minhash_md5_exact

    docs = load(spark, sf_dir, "documents")
    return minhash_md5_exact(docs, threshold=0.5)


def _mh_sig_cols() -> str:
    return ",\n         ".join(
        f"min(('0x' || substr(d{i // 4}, {8 * (i % 4) + 1}, 8))::BIGINT) AS s{i}"
        for i in range(16)
    )


def _mh_band_selects() -> str:
    parts = []
    for b in range(4):
        cols = " || ',' || ".join(
            f"CAST(s{b * 4 + r} AS VARCHAR)" for r in range(4)
        )
        parts.append(f"SELECT doc_id, {b} AS band, {cols} AS bkey FROM sig")
    return "\n  UNION ALL\n  ".join(parts)


MINHASH_MD5_SQL = f"""
WITH fp AS (
  SELECT doc_id, text,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
), mem AS (
  SELECT doc_id AS m_id, min(doc_id) OVER (PARTITION BY f) AS rep FROM fp
), norm AS (
  SELECT p.doc_id, regexp_replace(lower(trim(p.text)), '\\s+', ' ', 'g') AS t
  FROM fp p JOIN mem m ON m.m_id = p.doc_id
  WHERE m.rep = p.doc_id
), sh AS (
  SELECT DISTINCT doc_id, substr(t, CAST(p AS INTEGER), 9) AS s
  FROM norm, unnest(range(1, greatest(length(t) - 8, 1) + 1)) AS u(p)
), hh AS (
  SELECT doc_id,
         md5('0:' || s) AS d0, md5('1:' || s) AS d1,
         md5('2:' || s) AS d2, md5('3:' || s) AS d3
  FROM sh
), sig AS (
  SELECT doc_id,
         {_mh_sig_cols()}
  FROM hh GROUP BY doc_id
), buckets AS (
  {_mh_band_selects()}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY 1, 2
)
, rep_pairs AS (
  SELECT c.id_a, c.id_b,
         round(CAST(COALESCE(i.i, 0) AS DOUBLE)
               / (sa.n + sb.n - COALESCE(i.i, 0)), 4) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE round(CAST(COALESCE(i.i, 0) AS DOUBLE)
              / (sa.n + sb.n - COALESCE(i.i, 0)), 4) >= 0.5
), expanded AS (
  SELECT least(ma.m_id, mb.m_id) AS id_a,
         greatest(ma.m_id, mb.m_id) AS id_b, rp.jaccard
  FROM rep_pairs rp
  JOIN mem ma ON ma.rep = rp.id_a
  JOIN mem mb ON mb.rep = rp.id_b
  UNION ALL
  SELECT x.m_id AS id_a, y.m_id AS id_b, 1.0 AS jaccard
  FROM mem x JOIN mem y ON x.rep = y.rep AND x.m_id < y.m_id
)
SELECT id_a, id_b, jaccard FROM expanded ORDER BY id_a, id_b
"""


def docs_simhash_md5_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash near-dup kernel under a FULL exact oracle — the md5
    chip applied to simhash_near_duplicates (rows-only by xxhash64):
    count-weighted bit-majority fingerprints over 60-bit md5 token
    hashes, 4×15-bit pigeonhole banding, bit_count(xor) verification,
    mandatory certified exact-collapse + member expansion
    (operators/dedup.simhash_md5_exact). With X147 this puts BOTH
    classic text near-dup sketches under the driver hash gate."""
    from medical_examination_data_etl_system_spark.operators.dedup import simhash_md5_exact

    docs = load(spark, sf_dir, "documents")
    return simhash_md5_exact(docs)


def _sh_bit_sums() -> str:
    return ",\n         ".join(
        f"sum(((h >> {k}) & 1) * 2 - 1) AS b{k}" for k in range(60)
    )


def _sh_fp() -> str:
    return " + ".join(
        f"(CASE WHEN b{k} > 0 THEN CAST(1 AS BIGINT) << {k} ELSE 0 END)" for k in range(60)
    )


SIMHASH_MD5_SQL = f"""
WITH fpc AS (
  SELECT doc_id, text,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
), mem AS (
  SELECT doc_id AS m_id, min(doc_id) OVER (PARTITION BY f) AS rep FROM fpc
), toks AS (
  SELECT p.doc_id,
         ('0x' || substr(md5(unnest(
            string_split(regexp_replace(lower(trim(p.text)), '\\s+', ' ', 'g'), ' ')
         )), 1, 15))::BIGINT AS h
  FROM fpc p JOIN mem m ON m.m_id = p.doc_id
  WHERE m.rep = p.doc_id
), sums AS (
  SELECT doc_id,
         {_sh_bit_sums()}
  FROM toks GROUP BY doc_id
), fps AS (
  SELECT doc_id, {_sh_fp()} AS fp FROM sums
), chunks AS (
  SELECT doc_id, fp, ci, (fp >> (15 * ci)) & 32767 AS cv
  FROM fps, unnest([0, 1, 2, 3]) AS t(ci)
), rep_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
  FROM chunks a JOIN chunks b
    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fp, b.fp)) <= 3
), expanded AS (
  SELECT least(ma.m_id, mb.m_id) AS id_a,
         greatest(ma.m_id, mb.m_id) AS id_b, rp.hamming
  FROM rep_pairs rp
  JOIN mem ma ON ma.rep = rp.id_a
  JOIN mem mb ON mb.rep = rp.id_b
  UNION ALL
  SELECT x.m_id AS id_a, y.m_id AS id_b, CAST(0 AS INTEGER) AS hamming
  FROM mem x JOIN mem y ON x.rep = y.rep AND x.m_id < y.m_id
)
SELECT id_a, id_b, hamming FROM expanded ORDER BY id_a, id_b
"""


def docs_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup dedup: MinHash pairs → connected components →
    keep each component's min-id representative. Iterative (driver-side
    convergence loop) → non-SQL-expressible, rows-only."""
    from medical_examination_data_etl_system_spark.operators.clustering import dedup_by_components

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    return dedup_by_components(docs, pairs).select("doc_id", "lang", "source").orderBy("doc_id")


def docs_near_dup_components_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs clustered by the alternating large-star/small-star
    algorithm (O(log² n) rounds — the chain-cluster-safe 100 TB path):
    the other half of the pairs×clustering matrix vs
    docs_near_dup_components (MinHash × label-prop). Algorithm
    equivalence on identical pair sets is pinned separately in
    tests/test_clustering.py; rows-only like its twin."""
    from medical_examination_data_etl_system_spark.operators.clustering import dedup_by_components

    docs = load(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(docs).select("id_a", "id_b")
    return (
        dedup_by_components(docs, pairs, algorithm="alternating")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard pairs within the same source block."""
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.2)


NGRAM_JACCARD_SQL = """
WITH grams AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 1, 0) + 1),
           i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i:i+1], ' ')
         )) AS ng
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ng, b.ng))), 4) AS jaccard
FROM grams a JOIN grams b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
            / len(list_distinct(list_concat(a.ng, b.ng))), 4) >= 0.2
ORDER BY id_a, id_b
"""

# ---------------------------------------------------------------------------
# X3 — similarity search
# ---------------------------------------------------------------------------


def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors (vec_id % 100 == 0)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.cosine_topk(emb, queries, k=5)


# Mirrors the Spark expression tree exactly (sequential-fold dot in
# DOUBLE, per-vector norms, dot/(na·nb)) — NOT list_cosine_similarity,
# which computes in float32 (the array's type) and lands e.g.
# 0.2702000141 where the double fold lands 0.2702; the driver's exact
# value-hash distinguishes them.
COSINE_TOPK_SQL = """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           / (q.qn * e.nrm) AS sim
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(sim, 4) AS cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def emb_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4), exact all-pairs
    blocked GEMM (rows stay rows; block count derived from corpus size).
    This is the oracle twin of ``emb_near_dup_srp``."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates(emb, threshold=0.4)


def emb_near_dup_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-bucketed embedding near-dup — the 100 TB path: Σ|bucket|²
    work instead of n², same exact-GEMM verification inside buckets.
    Approximate recall → rows-only; recall vs the exact twin is pinned
    in tests/test_similarity.py."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates_srp(emb, threshold=0.4)


# Same mirrored-formula rationale as COSINE_TOPK_SQL.
EMB_NEAR_DUP_SQL = """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (a.nrm * b.nrm), 4) AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim
FROM scored
WHERE cos_sim >= 0.4
ORDER BY id_a, id_b
"""


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprint (min-MD5 over
    8-grams of normalized text; md5 here so DuckDB reproduces it)."""
    docs = load(spark, sf_dir, "documents")
    return (
        with_rolling_fingerprint(docs)
        .select("doc_id", "roll_fp")
        .orderBy("doc_id")
    )


ROLLING_FP_SQL = """
WITH t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
           FROM documents)
SELECT doc_id,
       list_aggregate(list_transform(
         range(1, greatest(length(norm) - 7, 1) + 1),
         i -> md5(substr(norm, i, 8))), 'min') AS roll_fp
FROM t
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# X5 — multimodal columns
# ---------------------------------------------------------------------------


def multimodal_doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings as one multimodal row (text + vector +
    typed metadata), vector reduced to an L2 norm for the oracle."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "lang",
            "source",
            "label",
            "n_chars",
            F.round(similarity.l2_norm(F.col("embedding")), 4).alias("emb_norm"),
        )
        .orderBy("doc_id")
    )


MULTIMODAL_JOIN_SQL = """
SELECT doc_id, lang, source, label, n_chars,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS emb_norm
FROM documents JOIN embeddings ON doc_id = vec_id
ORDER BY doc_id
"""


def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: synthesized media payloads → mapInPandas
    feature extraction (stub decoder). Digest/size are oracle-checkable;
    the feature vector itself is dropped for the comparison."""
    docs = load(spark, sf_dir, "documents")
    media = multimodal.synthesize_media_from_documents(docs)
    feats = multimodal.extract_features(media)
    return feats.select("media_id", "modality", "n_bytes", "digest").orderBy("media_id")


MULTIMODAL_BINARY_SQL = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS digest
FROM documents
ORDER BY media_id
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the video subset: 1→N fan-out inside
    mapInPandas (the ffmpeg-seek batch shape), one row per sampled
    frame. Stub digests are md5(payload ++ '#' ++ frame_no), so the
    oracle reproduces every value (text is ASCII → byte == char)."""
    docs = load(spark, sf_dir, "documents")
    media = multimodal.synthesize_media_from_documents(docs)
    return multimodal.sample_frames(media, every_ms=1000).orderBy("media_id", "frame_no")


FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       CAST(f AS INT) AS frame_no,
       CAST(f * 1000 AS INT) AS offset_ms,
       md5(text || '#' || CAST(f AS VARCHAR)) AS frame_digest
FROM documents,
     UNNEST(range(0, CAST(n_chars * 7 AS INT) // 1000 + 1)) AS t(f)
WHERE doc_id % 3 = 2
ORDER BY media_id, frame_no
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pass plumbing: media → mapInPandas re-encode at 320x240
    (stub codec truncates payload to w*h/256 = 300 bytes). Geometry and
    resulting byte length are oracle-checked."""
    docs = load(spark, sf_dir, "documents")
    media = multimodal.synthesize_media_from_documents(docs)
    resized = multimodal.resize_media(media, target_w=320, target_h=240)
    return resized.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"),
    ).orderBy("media_id")


RESIZE_SQL = """
SELECT doc_id AS media_id,
       320 AS width, 240 AS height,
       CAST(least(octet_length(encode(text)), 300) AS BIGINT) AS n_bytes,
       sha256(substr(text, 1, 300)) AS digest
FROM documents
ORDER BY media_id
"""


def docs_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram containment pairs (near-subset detector)
    within the same source block."""
    docs = load(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, threshold=0.6)


# Same gram construction as NGRAM_JACCARD_SQL; the metric divides by
# the SMALLER distinct-gram set instead of the union.
NGRAM_CONTAINMENT_SQL = """
WITH grams AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 1, 0) + 1),
           i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i:i+1], ' ')
         )) AS ng
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
             / least(len(a.ng), len(b.ng)), 4) AS containment
FROM grams a JOIN grams b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
            / least(len(a.ng), len(b.ng)), 4) >= 0.6
ORDER BY id_a, id_b
"""


def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (rounded-then-ranked scores)."""
    docs = load(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS _df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf,
         round(tf * ln(CAST(n_docs AS DOUBLE) / _df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, CAST(rnk AS INTEGER) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rnk
      FROM scored)
WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


_BM25_TERMS = ["spark", "table", "hash"]


def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1 = 1.2, b = 0.75, Lucene's +1 IDF) for
    a fixed 3-term query — the relevance function search engines run,
    as one declarative plan: term-filtered token explode (the inverted-
    index probe; only query-term postings survive the map side), tf per
    (doc, term), df per term and the global avgdl as broadcast
    single-rows, per-term score summed per doc, top-20 window. Float
    enters once per (doc, term) and the 3-term sum rounds to 4 — the
    tfidf/entropy determinism stance."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    hits = toks.filter(F.col("term").isin(_BM25_TERMS))
    tf = hits.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    k1, b = 1.2, 0.75
    idf = F.log(
        (F.col("n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    per_term = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("_s"),
        )
    )
    from pyspark.sql import Window

    scored = per_term.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.round(F.sum("_s"), 4).alias("bm25"),
    )
    # top-20 via orderBy+limit (TakeOrderedAndProject — no global
    # window over every matching doc); ranks assigned post-limit on
    # the 20-row frame (the pagerank top-20 discipline).
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .select("doc_id", "n_terms_matched", "bm25", "rnk")
        .orderBy("rnk")
    )


BM25_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
), toks_ne AS (
  SELECT doc_id, term FROM toks WHERE term <> ''
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks_ne GROUP BY doc_id
), stats AS (
  SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks_ne WHERE term IN ('spark', 'table', 'hash')
  GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS _df FROM tf GROUP BY term
), per_term AS (
  SELECT t.doc_id,
         ln((s.n_docs - d._df + 0.5) / (d._df + 0.5) + 1.0)
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS sc
  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id) CROSS JOIN stats s
), scored AS (
  SELECT doc_id, count(*) AS n_terms_matched, round(sum(sc), 4) AS bm25
  FROM per_term GROUP BY doc_id
)
SELECT doc_id, n_terms_matched, bm25, CAST(rnk AS INTEGER) AS rnk
FROM (SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk FROM scored)
WHERE rnk <= 20
ORDER BY rnk
"""


def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION in-engine: the n-gram language-ID
    heuristic against the labeled ``lang`` column as a confusion
    matrix — (label, prediction, count, row-share). The eval a corpus
    pipeline runs before trusting lang-based filtering/mixing. One
    map-side predict + one (label, pred) aggregate; share =
    count / label total via a window over the ≤|langs|² matrix."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    m = (
        docs.select(F.col("lang").alias("label"), lang_id(F.col("text")).alias("pred"))
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("label")
    return (
        m.withColumn("share", F.round(F.col("n") / F.sum("n").over(w), 4))
        .orderBy("label", "pred")
    )


LANGID_CONFUSION_SQL = """
WITH p AS (
  SELECT lang AS label,
         CASE WHEN regexp_matches(text, '[぀-ヿ]') THEN 'ja'
              WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
              WHEN regexp_matches(text, '[가-힯]') THEN 'ko'
              WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
              WHEN regexp_matches(text, '[àâçéèêëîïôùûüÿœæ]') THEN 'fr'
              WHEN regexp_matches(text, '[äöüß]') THEN 'de'
              WHEN regexp_matches(text, '[áéíóúñ¿¡]') THEN 'es'
              ELSE 'en' END AS pred
  FROM documents
), m AS (
  SELECT label, pred, count(*) AS n FROM p GROUP BY 1, 2
)
SELECT label, pred, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY label), 4) AS share
FROM m
ORDER BY label, pred
"""


def docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy + type-token ratio quality gate."""
    docs = load(spark, sf_dir, "documents")
    return token_entropy_stats(docs, low_entropy_nats=2.0)


# Mirrors the operator's single-pass algebra exactly:
# H = ln(T) - (Σ c·ln c)/T, rounded to 4 — same fold, same rounding.
TOKEN_ENTROPY_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents
), counts AS (
  SELECT doc_id, t, count(*) AS c FROM toks WHERE t <> '' GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
         sum(c * ln(CAST(c AS DOUBLE))) AS clogc
  FROM counts GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_types, 0) AS BIGINT) AS n_types,
       round(CAST(p.n_types AS DOUBLE) / p.n_tokens, 4) AS ttr,
       round(ln(CAST(p.n_tokens AS DOUBLE)) - p.clogc / p.n_tokens, 4) AS entropy,
       round(ln(CAST(p.n_tokens AS DOUBLE)) - p.clogc / p.n_tokens, 4) < 2.0 AS low_entropy
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def docs_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style LANGUAGE-MODEL quality filter in-engine: an
    add-one-smoothed unigram LM is fit on the corpus itself (term
    counts + vocab + total — all exact integers), every document is
    scored by its cross-entropy under that LM, and docs above the
    corpus-average cross-entropy are flagged — the filter that ranks
    "fluent" text above gibberish before training. Distinct from
    docs_token_entropy (a doc scored by its OWN distribution): this
    scores against the GLOBAL distribution, so boilerplate scores low
    and noise scores high.

    Plan: one token explode, per-(doc, term) counts, a vocabulary-
    sized term-probability table joined back ON TERM (vocabulary is
    content-bounded — a shuffle join that never scales with corpus
    rows; the 1-row global totals broadcast). Float enters once per
    (doc, term) as c·ln p(t) and per-doc sums round to 4 — the
    entropy/tfidf determinism stance."""
    from medical_examination_data_etl_system_spark.operators.cache import persist_tracked

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("t"),
    ).filter(F.col("t") != "")
    # persisted: the corpus-wide token explode feeds BOTH the LM fit
    # (term totals) and the per-doc scoring join — without the barrier
    # the explode runs twice over the full corpus.
    counts = persist_tracked(
        toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    )
    terms = counts.groupBy("t").agg(F.sum("c").alias("cnt"))
    gl = terms.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    lp = terms.crossJoin(F.broadcast(gl)).select(
        "t",
        F.log((F.col("cnt") + 1.0) / (F.col("n_total") + F.col("vocab"))).alias("_lp"),
    )
    per_doc = (
        counts.join(lp, "t")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(-F.sum(F.col("c") * F.col("_lp")) / F.sum("c"), 4).alias("xent"),
        )
    )
    avg = per_doc.agg(F.round(F.avg("xent"), 4).alias("corpus_avg_xent"))
    return (
        per_doc.crossJoin(F.broadcast(avg))
        .select(
            "doc_id",
            "n_tokens",
            "xent",
            F.round(F.exp("xent"), 2).alias("ppl"),
            (F.col("xent") > F.col("corpus_avg_xent")).alias("above_avg"),
        )
        .orderBy("doc_id")
    )


LM_QUALITY_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents
), counts AS (
  SELECT doc_id, t, count(*) AS c FROM toks WHERE t <> '' GROUP BY 1, 2
), terms AS (
  SELECT t, sum(c) AS cnt FROM counts GROUP BY t
), gl AS (
  SELECT sum(cnt) AS n_total, count(*) AS vocab FROM terms
), lp AS (
  SELECT t, ln((cnt + 1.0) / (g.n_total + g.vocab)) AS _lp
  FROM terms CROSS JOIN gl g
), per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         round(-sum(c * _lp) / sum(c), 4) AS xent
  FROM counts JOIN lp USING (t)
  GROUP BY doc_id
), avg_x AS (
  SELECT round(avg(xent), 4) AS corpus_avg_xent FROM per_doc
)
SELECT doc_id, n_tokens, xent, round(exp(xent), 2) AS ppl,
       xent > corpus_avg_xent AS above_avg
FROM per_doc CROSS JOIN avg_x
ORDER BY doc_id
"""


def docs_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOKENIZER-TRAINING primitive: the first BPE merge round —
    adjacent character-pair frequencies over the corpus, weighted by
    word frequency, top-20 merge candidates ranked. The inner loop of
    byte-pair-encoding training (count pairs → merge the argmax),
    expressed as the exact-collapse discipline demands: pairs are
    enumerated per DISTINCT word (the word-frequency table, content-
    bounded) and weighted by the exact word count — the corpus token
    volume is touched exactly once, in the word count itself. Top-20
    via orderBy+limit; ranks assigned post-limit on the 20-row head."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("wcount"))
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            "wcount",
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wcount").alias("n"))
    )
    top = pairs.orderBy(F.desc("n"), F.asc("pair")).limit(20)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .select("rnk", "pair", "n")
        .orderBy("rnk")
    )


BPE_PAIR_MERGES_SQL = """
WITH words AS (
  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
  FROM documents
), wc AS (
  SELECT w, count(*) AS wcount FROM words WHERE w <> '' GROUP BY w
), pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, sum(wcount) AS n
  FROM wc, unnest(range(1, length(w))) AS t(i)
  WHERE length(w) >= 2
  GROUP BY 1
)
SELECT CAST(rnk AS INTEGER) AS rnk, pair, CAST(n AS BIGINT) AS n
FROM (SELECT *, row_number() OVER (ORDER BY n DESC, pair) AS rnk FROM pairs)
WHERE rnk <= 20
ORDER BY rnk
"""


def docs_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD generator — the one-page corpus summary a
    training-data release ships with (datasheets-for-datasets):
    volume (docs/tokens/chars), diversity (languages, sources, and the
    head share of each), exact-duplicate rate, and the token-length
    distribution (exact interpolated p10/p50/p90), as tidy
    (metric, value, detail) rows.

    One map pass derives per-doc (tokens, fingerprint); ONE global
    aggregate computes every count/sum/distinct/percentile together
    (the percentile is Spark's exact sort-based one — identical
    definition to DuckDB's quantile_cont on integer token counts);
    top-lang/top-source are 1-row TakeOrdered heads off bounded
    (lang)/(source) aggregates. Everything broadcast-assembled, no
    fact-table shuffle beyond the aggregates."""
    from medical_examination_data_etl_system_spark.operators.text_analysis import (
        content_fingerprint,
        token_count,
    )

    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        token_count(F.col("text")).alias("n_toks"),
        content_fingerprint(F.col("text")).alias("fp"),
    )
    g = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("fp").alias("n_unique"),
        F.percentile("n_toks", F.lit(0.1)).alias("p10"),
        F.percentile("n_toks", F.lit(0.5)).alias("p50"),
        F.percentile("n_toks", F.lit(0.9)).alias("p90"),
    )
    top_lang = (
        per_doc.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
        .orderBy(F.desc("nl"), F.asc("lang")).limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("nl").alias("top_lang_n"))
    )
    top_src = (
        per_doc.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
        .orderBy(F.desc("ns"), F.asc("source")).limit(1)
        .select(F.col("source").alias("top_source"), F.col("ns").alias("top_source_n"))
    )
    card = g.crossJoin(F.broadcast(top_lang)).crossJoin(F.broadcast(top_src))
    row = card.select(
        F.expr(
            """stack(10,
            'n_docs', CAST(n_docs AS DOUBLE), CAST(NULL AS STRING),
            'n_tokens', CAST(n_tokens AS DOUBLE), CAST(NULL AS STRING),
            'n_chars', CAST(n_chars AS DOUBLE), CAST(NULL AS STRING),
            'n_languages', CAST(n_langs AS DOUBLE), CAST(NULL AS STRING),
            'n_sources', CAST(n_sources AS DOUBLE), CAST(NULL AS STRING),
            'exact_dup_rate', round(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 4), CAST(NULL AS STRING),
            'top_language_share', round(CAST(top_lang_n AS DOUBLE) / n_docs, 4), top_lang,
            'top_source_share', round(CAST(top_source_n AS DOUBLE) / n_docs, 4), top_source,
            'token_len_p10_p50', round(p10, 2), CAST(round(p50, 2) AS STRING),
            'token_len_p90', round(p90, 2), CAST(NULL AS STRING)
            ) AS (metric, value, detail)"""
        )
    )
    return row.orderBy("metric")


DATASET_CARD_SQL = """
WITH per_doc AS (
  SELECT lang, source, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_toks,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), g AS (
  SELECT count(*) AS n_docs, sum(n_toks) AS n_tokens, sum(n_chars) AS n_chars,
         count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources,
         count(DISTINCT fp) AS n_unique,
         quantile_cont(n_toks, 0.1) AS p10,
         quantile_cont(n_toks, 0.5) AS p50,
         quantile_cont(n_toks, 0.9) AS p90
  FROM per_doc
), top_lang AS (
  SELECT lang AS top_lang, count(*) AS top_lang_n FROM per_doc
  GROUP BY lang ORDER BY count(*) DESC, lang LIMIT 1
), top_src AS (
  SELECT source AS top_source, count(*) AS top_source_n FROM per_doc
  GROUP BY source ORDER BY count(*) DESC, source LIMIT 1
), card AS (
  SELECT * FROM g CROSS JOIN top_lang CROSS JOIN top_src
)
SELECT metric, value, detail FROM (
  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS detail FROM card
  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE), NULL FROM card
  UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE), NULL FROM card
  UNION ALL SELECT 'n_languages', CAST(n_langs AS DOUBLE), NULL FROM card
  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE), NULL FROM card
  UNION ALL SELECT 'exact_dup_rate', round(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 4), NULL FROM card
  UNION ALL SELECT 'top_language_share', round(CAST(top_lang_n AS DOUBLE) / n_docs, 4), top_lang FROM card
  UNION ALL SELECT 'top_source_share', round(CAST(top_source_n AS DOUBLE) / n_docs, 4), top_source FROM card
  UNION ALL SELECT 'token_len_p10_p50', round(p10, 2), CAST(round(p50, 2) AS VARCHAR) FROM card
  UNION ALL SELECT 'token_len_p90', round(p90, 2), NULL FROM card
)
ORDER BY metric
"""


def docs_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 corpus terms via Misra-Gries candidates + exact recount —
    the vocabulary-scale frequent-items path (candidates shuffle, raw
    terms never do). Capacity 256 ≫ the N/(cap+1) bound needed for the
    testdata's Zipf-ish term distribution, so the result is exactly the
    true top-10 (oracle-checked)."""
    from medical_examination_data_etl_system_spark.operators.sketch import heavy_hitters

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    return heavy_hitters(toks, "term", k=10, capacity=256)


HEAVY_HITTERS_SQL = """
WITH toks AS (
  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
), counts AS (
  SELECT term, count(*) AS cnt FROM toks WHERE term <> '' GROUP BY 1
)
SELECT term, cnt, CAST(rnk AS INTEGER) AS rnk
FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, term) AS rnk FROM counts)
WHERE rnk <= 10
ORDER BY rnk
"""


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (0..255) min-max quantization of the embedding
    column — the 4× storage/bandwidth step every vector store applies
    before ANN. Map-only higher-order functions (no shuffle, no UDF);
    the oracle recomputes the same double-precision arithmetic, so the
    quantized checksum AND the reconstruction-error bound are
    value-hash-checked. Dequantization error ≤ scale/2 by construction
    (asserted in the projection for every vector)."""
    emb = load(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    lo = F.array_min(x).cast("double")
    hi = F.array_max(x).cast("double")
    scale = F.greatest((hi - lo) / F.lit(255.0), F.lit(1e-12))
    staged = emb.select(
        "vec_id",
        x.alias("v"),
        lo.alias("lo"),
        scale.alias("scale"),
    )
    q = F.transform(
        F.col("v"),
        lambda e: F.round((e.cast("double") - F.col("lo")) / F.col("scale")).cast("int"),
    )
    dq_err = F.zip_with(
        F.col("v"),
        F.col("q"),
        lambda e, qq: F.abs(
            e.cast("double") - (qq.cast("double") * F.col("scale") + F.col("lo"))
        ),
    )
    return (
        staged.withColumn("q", q)
        .select(
            "vec_id",
            F.size("q").alias("n_dims"),
            F.aggregate("q", F.lit(0).cast("long"), lambda acc, v: acc + v).alias(
                "q_checksum"
            ),
            F.round(F.array_max(dq_err), 8).alias("max_abs_err"),
            (F.array_max(dq_err) <= F.col("scale") / 2 + F.lit(1e-12)).alias(
                "within_bound"
            ),
        )
        .orderBy("vec_id")
    )


QUANTIZE_SQL = """
WITH staged AS (
  SELECT vec_id, embedding AS v,
         CAST(list_min(embedding) AS DOUBLE) AS lo,
         greatest((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0,
                  1e-12) AS scale
  FROM embeddings
), quant AS (
  SELECT vec_id, v, lo, scale,
         list_transform(v, e -> CAST(round((CAST(e AS DOUBLE) - lo) / scale) AS INTEGER)) AS q
  FROM staged
), err AS (
  SELECT vec_id, lo, scale, q,
         list_transform(list_zip(v, q),
                        z -> abs(CAST(z[1] AS DOUBLE) - (CAST(z[2] AS DOUBLE) * scale + lo))) AS d
  FROM quant
)
SELECT vec_id,
       CAST(len(q) AS INTEGER) AS n_dims,
       CAST(list_sum(q) AS BIGINT) AS q_checksum,
       round(list_max(d), 8) AS max_abs_err,
       list_max(d) <= scale / 2 + 1e-12 AS within_bound
FROM err
ORDER BY vec_id
"""


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid + spread — the class-prototype
    aggregation under every centroid-based method (k-means assignment,
    nearest-class-mean classification, IVF coarse quantizers).

    Vectors never collect: ``posexplode`` → (label, dim) mean is two
    hash aggregates over scalar rows, shuffling (label, dim, double)
    triples — at 100 TB the shuffle is |labels|·|dims| partial rows per
    task, independent of vector count. Mean divides an exact double
    SUM by an exact count; DuckDB reproduces it bit-for-bit, so this
    is the rare vector aggregate with a full value-hash oracle.
    Output: one row per (label, dim) with the centroid coordinate and
    per-dimension variance."""
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).withColumn("x", F.col("x").cast("double"))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("x") / F.count(F.lit(1)), 8).alias("centroid"),
            F.round(
                F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1))
                - (F.sum("x") / F.count(F.lit(1))) * (F.sum("x") / F.count(F.lit(1))),
                8,
            ).alias("variance"),
        )
        .orderBy("label", "dim")
    )


LABEL_CENTROIDS_SQL = """
WITH exploded AS (
  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
)
SELECT label, CAST(dim AS INTEGER) AS dim, count(*) AS n,
       round(sum(x) / count(*), 8) AS centroid,
       round(sum(x * x) / count(*) - (sum(x) / count(*)) * (sum(x) / count(*)), 8) AS variance
FROM exploded
GROUP BY label, dim
ORDER BY label, dim
"""


def emb_kmeans_assign_round1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means BLAS-assignment kernel under a FULL exact oracle
    (VERDICT r6 #6): one Lloyd half-round against the k=8 lowest-id
    seed centroids, int64-quantized so the distance argmin is integer-
    exact (operators/similarity.kmeans_assign_round1_quantized — same
    map-only mapInPandas shape as the iterative loop's hot path, which
    stays rows-only by construction). The oracle replays the identical
    quantization tree and tie-break in DuckDB, upgrading the
    distributed-assignment plumbing from pytest pins to a driver hash
    row — the same chip-the-rows-only move docs_semantic_dedup made
    for connected components."""
    from medical_examination_data_etl_system_spark.operators.similarity import (
        kmeans_assign_round1_quantized,
    )

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_assign_round1_quantized(emb, k=8, scale=1_000_000).orderBy("vec_id")


KMEANS_ASSIGN_R1_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM embeddings ORDER BY vec_id LIMIT 8
), cq AS (
  SELECT c.cidx, v.dim, v.qv AS qc
  FROM cent c JOIN vq v ON v.vec_id = c.cid
), dist AS (
  SELECT v.vec_id, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq c USING (dim)
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY qd, cidx) AS rn
  FROM dist
)
SELECT vec_id, CAST(cidx AS INTEGER) AS cluster, qd AS q_sq_dist
FROM ranked WHERE rn = 1 ORDER BY vec_id
"""


def emb_srp_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRP-LSH bucketing kernel under a FULL exact oracle (VERDICT
    r6 #6's second suggestion): hyperplanes materialized as data (the
    16 lowest-id vectors), int64-quantized signs, packed bucket ids —
    operators/similarity.srp_buckets_quantized — profiled as (bucket,
    n_vecs, min_vec_id). The production semantic-dedup SRP twin stays
    rows-only (seeded float hyperplanes); this row certifies its
    map-only GEMM + bit-pack plumbing exactly."""
    from medical_examination_data_etl_system_spark.operators.similarity import (
        srp_buckets_quantized,
    )

    emb = load(spark, sf_dir, "embeddings")
    buckets = srp_buckets_quantized(emb, n_planes=16, scale=1_000_000)
    return (
        buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket")
    )


SRP_BUCKET_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), hyp AS (
  SELECT vec_id AS hid, row_number() OVER (ORDER BY vec_id) - 1 AS hidx
  FROM embeddings ORDER BY vec_id LIMIT 16
), hq AS (
  SELECT h.hidx, v.dim, v.qv AS qh
  FROM hyp h JOIN vq v ON v.vec_id = h.hid
), dots AS (
  SELECT v.vec_id, h.hidx, CAST(sum(v.qv * h.qh) AS BIGINT) AS s
  FROM vq v JOIN hq h USING (dim)
  GROUP BY 1, 2
), buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << hidx ELSE 0 END)
              AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
)
SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
FROM buckets GROUP BY bucket ORDER BY bucket
"""


def emb_kmeans_iter2_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A FULL Lloyd iteration (assign → centroid update → re-assign)
    under an exact oracle — extends emb_kmeans_assign_round1 (the
    assignment half-round chip) across the part it could not reach:
    the centroid UPDATE. Coordinates update as ``sum(qv) div count``
    in int64 — Spark ``div`` and DuckDB ``//`` both truncate toward
    zero, negatives included — so round-2 centroids and therefore the
    round-2 argmin are bit-identical across engines, and every
    distributed stage a Lloyd loop runs is hash-certified: BLAS
    assign, (cluster, dim) partial-sum update, bounded k·d centroid
    pull, re-broadcast. Output: per-vector round-2 cluster, exact
    squared distance, moved flag."""
    from medical_examination_data_etl_system_spark.operators.similarity import (
        kmeans_iter2_quantized,
    )

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_iter2_quantized(emb, k=8, scale=1_000_000).orderBy("vec_id")


KMEANS_ITER2_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM embeddings ORDER BY vec_id LIMIT 8
), cq AS (
  SELECT c.cidx, v.dim, v.qv AS qc
  FROM cent c JOIN vq v ON v.vec_id = c.cid
), dist1 AS (
  SELECT v.vec_id, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq c USING (dim)
  GROUP BY 1, 2
), a1 AS (
  SELECT vec_id, cidx AS c1 FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY qd, cidx) AS rn
    FROM dist1
  ) WHERE rn = 1
), cq2 AS (
  SELECT a1.c1 AS cidx, vq.dim,
         CAST(sum(vq.qv) AS BIGINT) // count(*) AS qc
  FROM a1 JOIN vq ON vq.vec_id = a1.vec_id
  GROUP BY 1, 2
), dist2 AS (
  SELECT v.vec_id, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq2 c USING (dim)
  GROUP BY 1, 2
), a2 AS (
  SELECT vec_id, cidx, qd FROM (
    SELECT vec_id, cidx, qd,
           row_number() OVER (PARTITION BY vec_id ORDER BY qd, cidx) AS rn
    FROM dist2
  ) WHERE rn = 1
)
SELECT a2.vec_id, CAST(a2.cidx AS INTEGER) AS cluster, a2.qd AS q_sq_dist,
       CASE WHEN a2.cidx <> a1.c1 THEN 1 ELSE 0 END AS moved
FROM a2 JOIN a1 ON a1.vec_id = a2.vec_id
ORDER BY a2.vec_id
"""


def emb_ivf_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN end-to-end under a FULL exact oracle — the third
    rows-only kernel chipped this round: coarse assignment to the 8
    lowest-id quantized centroids (REUSES
    operators/similarity.kmeans_assign_round1_quantized — the same
    driver-hash-verified kernel), nprobe=2 list pruning for the 5
    lowest-id query vectors (probe choice by exact integer
    query→centroid distance, ties → lower list), then exact int64 L2
    via JVM higher-order functions (zip_with + aggregate — no Python
    in the distance path) and a per-query top-5 window. Every stage of
    an IVF search — partition, probe, candidate join, rank — is
    replayed value-exactly by DuckDB.

    Scale shape: the probe table is 10 broadcast rows; candidates are
    the probed lists (~nprobe/nlist of the corpus), joined to their
    quantized vectors by id; the top-k window partitions by query. The
    only driver-side work is the 8×64 centroid + 5×64 query collect.
    """
    import numpy as np

    from pyspark.sql import Window

    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point
    from medical_examination_data_etl_system_spark.operators.similarity import (
        kmeans_assign_round1_quantized,
    )

    emb = load(spark, sf_dir, "embeddings")
    qdf = emb.select("vec_id", quantize_fixed_point("embedding", 1_000_000).alias("qv"))
    assigned = kmeans_assign_round1_quantized(emb, k=8).select("vec_id", "cluster")

    head = qdf.orderBy("vec_id").limit(8).collect()
    cq = np.array([list(r["qv"]) for r in head], dtype=np.int64)
    probe_rows = []
    for r in head[:5]:
        v = np.array(list(r["qv"]), dtype=np.int64)
        d = ((cq - v[None, :]) ** 2).sum(axis=1)
        for pl in np.lexsort((np.arange(len(d)), d))[:2]:  # ties → lower list
            probe_rows.append((int(r["vec_id"]), int(pl), [int(x) for x in v]))
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cluster int, q_vec array<long>"
    )

    cand = assigned.join(F.broadcast(probes), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    dist = F.aggregate(
        F.zip_with("q_vec", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = cand.join(qdf, "vec_id").select(
        "query_id", "vec_id", dist.alias("q_dist")
    )
    w = Window.partitionBy("query_id").orderBy("q_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("rnk").cast("int").alias("rnk"), "vec_id", "q_dist")
        .orderBy("query_id", "rnk")
    )


IVF_TOPK_EXACT_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM embeddings ORDER BY vec_id LIMIT 8
), cq AS (
  SELECT c.cidx, v.dim, v.qv AS qc
  FROM cent c JOIN vq v ON v.vec_id = c.cid
), vdist AS (
  SELECT v.vec_id, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq c USING (dim)
  GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cidx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY qd, cidx) AS rn
    FROM vdist) WHERE rn = 1
), queries AS (
  SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id LIMIT 5
), probes AS (
  SELECT query_id, cidx AS cluster FROM (
    SELECT q.query_id, d.cidx,
           row_number() OVER (PARTITION BY q.query_id ORDER BY d.qd, d.cidx) AS prn
    FROM queries q JOIN vdist d ON d.vec_id = q.query_id)
  WHERE prn <= 2
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM assigned a JOIN probes p USING (cluster)
  WHERE a.vec_id <> p.query_id
), scored AS (
  SELECT c.query_id, c.vec_id,
         CAST(sum((qv1.qv - qv2.qv) * (qv1.qv - qv2.qv)) AS BIGINT) AS q_dist
  FROM cand c
  JOIN vq qv1 ON qv1.vec_id = c.query_id
  JOIN vq qv2 ON qv2.vec_id = c.vec_id AND qv2.dim = qv1.dim
  GROUP BY 1, 2
)
SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id, q_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY q_dist, vec_id) AS rnk
      FROM scored)
WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def emb_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY as a driver-checked query (the embedding twin of
    docs_minhash_calibration): recall@5 of the IVF nprobe=2 path
    against the brute-force exact top-5, per query vector. Both sides
    run integer-exact (the same quantized-L2 construction as
    emb_ivf_topk_exact, which this reuses verbatim for the ANN side),
    so the recall numbers themselves sit under the exact-hash oracle —
    the eval a user runs before trusting nprobe at corpus scale.
    Brute force scans the corpus once against 5 broadcast query rows;
    the per-query top-5 window partitions by query."""
    import numpy as np

    from pyspark.sql import Window

    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point

    ivf = emb_ivf_topk_exact(spark, sf_dir).select("query_id", "vec_id", F.lit(1).alias("_hit"))

    emb = load(spark, sf_dir, "embeddings")
    qdf = emb.select("vec_id", quantize_fixed_point("embedding", 1_000_000).alias("qv"))
    head = qdf.orderBy("vec_id").limit(5).collect()
    probes = spark.createDataFrame(
        [(int(r["vec_id"]), [int(x) for x in r["qv"]]) for r in head],
        "query_id long, q_vec array<long>",
    )
    dist = F.aggregate(
        F.zip_with("q_vec", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        qdf.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dist.alias("b_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("b_dist", "vec_id")
    exact5 = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    return (
        exact5.join(ivf, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce("_hit", F.lit(0))).cast("double") / F.count(F.lit(1)), 4
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


ANN_RECALL_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM embeddings ORDER BY vec_id LIMIT 8
), cq AS (
  SELECT c.cidx, v.dim, v.qv AS qc
  FROM cent c JOIN vq v ON v.vec_id = c.cid
), vdist AS (
  SELECT v.vec_id, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq c USING (dim)
  GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cidx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY qd, cidx) AS rn
    FROM vdist) WHERE rn = 1
), queries AS (
  SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id LIMIT 5
), probes AS (
  SELECT query_id, cidx AS cluster FROM (
    SELECT q.query_id, d.cidx,
           row_number() OVER (PARTITION BY q.query_id ORDER BY d.qd, d.cidx) AS prn
    FROM queries q JOIN vdist d ON d.vec_id = q.query_id)
  WHERE prn <= 2
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM assigned a JOIN probes p USING (cluster)
  WHERE a.vec_id <> p.query_id
), ivf_scored AS (
  SELECT c.query_id, c.vec_id,
         CAST(sum((qv1.qv - qv2.qv) * (qv1.qv - qv2.qv)) AS BIGINT) AS q_dist
  FROM cand c
  JOIN vq qv1 ON qv1.vec_id = c.query_id
  JOIN vq qv2 ON qv2.vec_id = c.vec_id AND qv2.dim = qv1.dim
  GROUP BY 1, 2
), ivf5 AS (
  SELECT query_id, vec_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY q_dist, vec_id) AS rnk
        FROM ivf_scored)
  WHERE rnk <= 5
), brute AS (
  SELECT q.query_id, qv2.vec_id,
         CAST(sum((qv1.qv - qv2.qv) * (qv1.qv - qv2.qv)) AS BIGINT) AS b_dist
  FROM queries q
  JOIN vq qv1 ON qv1.vec_id = q.query_id
  JOIN vq qv2 ON qv2.dim = qv1.dim AND qv2.vec_id <> q.query_id
  GROUP BY 1, 2
), exact5 AS (
  SELECT query_id, vec_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY b_dist, vec_id) AS rnk
        FROM brute)
  WHERE rnk <= 5
)
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(count(i.vec_id) AS BIGINT) AS n_hits,
       round(CAST(count(i.vec_id) AS DOUBLE) / count(*), 4) AS recall_at_5
FROM exact5 e
LEFT JOIN ivf5 i ON i.query_id = e.query_id AND i.vec_id = e.vec_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


def emb_srp_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN end-to-end under a FULL exact oracle — the
    bucket-join twin of emb_ivf_topk_exact: 6-plane quantized SRP
    buckets (operators/similarity.srp_buckets_quantized — ~64 buckets,
    so every bucket holds candidates at any SF), the 5 lowest-id
    queries pruned to THEIR bucket via an equi-join on the packed bit
    vector, exact int64 L2 via zip_with+aggregate, per-query top-5.
    Query buckets are derived driver-side from the same collected
    quantized planes (5 vectors × 6 planes — bounded), so the bucketed
    corpus is scanned exactly once. Certifies the LSH top-k shape
    (bucket equi-join pruning + rank) value-exactly."""
    import numpy as np

    from pyspark.sql import Window

    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point
    from medical_examination_data_etl_system_spark.operators.similarity import (
        srp_buckets_quantized,
    )

    n_planes = 6
    emb = load(spark, sf_dir, "embeddings")
    qdf = emb.select("vec_id", quantize_fixed_point("embedding", 1_000_000).alias("qv"))

    head = qdf.orderBy("vec_id").limit(max(n_planes, 5)).collect()
    hq = np.array([list(r["qv"]) for r in head[:n_planes]], dtype=np.int64)
    powers = np.int64(1) << np.arange(n_planes, dtype=np.int64)
    q_rows = []
    for r in head[:5]:
        v = np.array(list(r["qv"]), dtype=np.int64)
        bucket = int(((v @ hq.T) >= 0) @ powers)
        q_rows.append((int(r["vec_id"]), bucket, [int(x) for x in v]))
    queries = spark.createDataFrame(q_rows, "query_id long, bucket long, q_vec array<long>")

    cand = (
        srp_buckets_quantized(emb, n_planes=n_planes)
        .join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    dist = F.aggregate(
        F.zip_with("q_vec", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = cand.join(qdf, "vec_id").select("query_id", "vec_id", dist.alias("q_dist"))
    w = Window.partitionBy("query_id").orderBy("q_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("rnk").cast("int").alias("rnk"), "vec_id", "q_dist")
        .orderBy("query_id", "rnk")
    )


SRP_TOPK_EXACT_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), hyp AS (
  SELECT vec_id AS hid, row_number() OVER (ORDER BY vec_id) - 1 AS hidx
  FROM embeddings ORDER BY vec_id LIMIT 6
), hq AS (
  SELECT h.hidx, v.dim, v.qv AS qh
  FROM hyp h JOIN vq v ON v.vec_id = h.hid
), dots AS (
  SELECT v.vec_id, h.hidx, CAST(sum(v.qv * h.qh) AS BIGINT) AS s
  FROM vq v JOIN hq h USING (dim)
  GROUP BY 1, 2
), buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << hidx ELSE 0 END)
              AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
), queries AS (
  SELECT b.vec_id AS query_id, b.bucket
  FROM buckets b JOIN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5) q
    ON q.vec_id = b.vec_id
), cand AS (
  SELECT q.query_id, b.vec_id
  FROM buckets b JOIN queries q USING (bucket)
  WHERE b.vec_id <> q.query_id
), scored AS (
  SELECT c.query_id, c.vec_id,
         CAST(sum((qv1.qv - qv2.qv) * (qv1.qv - qv2.qv)) AS BIGINT) AS q_dist
  FROM cand c
  JOIN vq qv1 ON qv1.vec_id = c.query_id
  JOIN vq qv2 ON qv2.vec_id = c.vec_id AND qv2.dim = qv1.dim
  GROUP BY 1, 2
)
SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id, q_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY q_dist, vec_id) AS rnk
      FROM scored)
WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding under a FULL exact oracle: 4
    subspaces × 8-entry codebooks (k lowest-id seeding), per-vector
    codes + exact int64 reconstruction error — the compressed
    representation an ANN index stores (operators/similarity.
    pq_encode_quantized; one map-only BLAS pass, no shuffle)."""
    from medical_examination_data_etl_system_spark.operators.similarity import pq_encode_quantized

    emb = load(spark, sf_dir, "embeddings")
    return pq_encode_quantized(emb, n_sub=4, k=8).orderBy("vec_id")


PQ_ENCODE_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM embeddings ORDER BY vec_id LIMIT 8
), cq AS (
  SELECT c.cidx, v.dim, v.qv AS qc
  FROM cent c JOIN vq v ON v.vec_id = c.cid
), sdist AS (
  SELECT v.vec_id, CAST(v.dim // 16 AS INTEGER) AS sub, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq c ON c.dim = v.dim
  GROUP BY 1, 2, 3
), best AS (
  SELECT vec_id, sub, cidx AS code, qd FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY qd, cidx) AS rn
    FROM sdist) WHERE rn = 1
)
SELECT vec_id,
       CAST(max(CASE WHEN sub = 0 THEN code END) AS INTEGER) AS code0,
       CAST(max(CASE WHEN sub = 1 THEN code END) AS INTEGER) AS code1,
       CAST(max(CASE WHEN sub = 2 THEN code END) AS INTEGER) AS code2,
       CAST(max(CASE WHEN sub = 3 THEN code END) AS INTEGER) AS code3,
       CAST(sum(qd) AS BIGINT) AS recon_err
FROM best
GROUP BY vec_id
ORDER BY vec_id
"""


def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ SEARCH path completing emb_pq_encode: asymmetric distance
    computation (ADC) top-5 for the 5 lowest-id query vectors. Each
    query precomputes a 4×8 integer lookup table (exact query-subvector
    → codebook-entry distances, derived driver-side from the same
    bounded collects as the encoder); database vectors are scanned via
    their CODES ONLY — per vector the ADC distance is four LUT lookups
    summed, never a d-dimensional computation. That's the PQ memory/
    compute story an ANN index runs at scale: the scan touches n_sub
    bytes per vector. Codes melt to (vec_id, sub, code), one broadcast
    LUT join, one (query, vec) sum, one per-query top-5 window — all
    integer-exact, full DuckDB oracle."""
    import numpy as np

    from pyspark.sql import Window

    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point
    from medical_examination_data_etl_system_spark.operators.similarity import pq_encode_quantized

    n_sub, k, d_sub = 4, 8, 16
    emb = load(spark, sf_dir, "embeddings")
    codes = pq_encode_quantized(emb, n_sub=n_sub, k=k)

    qdf = emb.select("vec_id", quantize_fixed_point("embedding", 1_000_000).alias("qv"))
    head = qdf.orderBy("vec_id").limit(max(k, 5)).collect()
    cq = np.array([list(r["qv"]) for r in head[:k]], dtype=np.int64)
    lut_rows = []
    for r in head[:5]:
        v = np.array(list(r["qv"]), dtype=np.int64)
        for s in range(n_sub):
            sub = v[s * d_sub : (s + 1) * d_sub]
            d = ((cq[:, s * d_sub : (s + 1) * d_sub] - sub[None, :]) ** 2).sum(axis=1)
            for code in range(k):
                lut_rows.append((int(r["vec_id"]), s, code, int(d[code])))
    lut = spark.createDataFrame(
        lut_rows, "query_id long, sub int, code int, d long"
    )

    melted = codes.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.col(f"code{s}").alias("code"),
                    )
                    for s in range(n_sub)
                ]
            )
        ).alias("c"),
    ).select("vec_id", "c.sub", "c.code")
    scored = (
        melted.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("rnk").cast("int").alias("rnk"), "vec_id", "adc_dist")
        .orderBy("query_id", "rnk")
    )


PQ_ADC_TOPK_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM embeddings ORDER BY vec_id LIMIT 8
), cq AS (
  SELECT c.cidx, v.dim, v.qv AS qc
  FROM cent c JOIN vq v ON v.vec_id = c.cid
), sdist AS (
  SELECT v.vec_id, CAST(v.dim // 16 AS INTEGER) AS sub, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq c ON c.dim = v.dim
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, sub, cidx AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY qd, cidx) AS rn
    FROM sdist) WHERE rn = 1
), queries AS (
  SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id LIMIT 5
), lut AS (
  SELECT s.vec_id AS query_id, s.sub, s.cidx AS code, s.qd AS d
  FROM sdist s JOIN queries q ON q.query_id = s.vec_id
), scored AS (
  SELECT l.query_id, c.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM codes c
  JOIN lut l ON l.sub = c.sub AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id, adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
      FROM scored)
WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION vector-index layout end-to-end — IVF coarse
    pruning composed with PQ asymmetric-distance scoring (the FAISS
    IVFPQ shape), built entirely from the two driver-hash-verified
    kernels: coarse assignment to the 8 lowest-id centroids
    (kmeans_assign_round1_quantized), nprobe=2 list selection per
    query, then ADC over the probed lists only — candidates scanned
    via their 4-byte PQ CODES (pq_encode_quantized), never their raw
    vectors. PQ encodes raw vectors (not residuals), the variant whose
    every stage stays integer-exact and therefore sits under a full
    DuckDB oracle.

    100 TB shape: the probe table is 10 broadcast rows; candidates are
    ~nprobe/nlist of the corpus joined by id to a 4-int code table
    (the memory story: the scan never touches d floats); the LUT join
    is a 160-row broadcast; the top-5 window partitions by query. The
    only driver-side work is the same bounded 8+5 head collect both
    parent kernels already make."""
    import numpy as np

    from pyspark.sql import Window

    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point
    from medical_examination_data_etl_system_spark.operators.similarity import (
        kmeans_assign_round1_quantized,
        pq_encode_quantized,
    )

    n_sub, k, d_sub, nprobe = 4, 8, 16, 2
    emb = load(spark, sf_dir, "embeddings")
    assigned = kmeans_assign_round1_quantized(emb, k=k).select("vec_id", "cluster")
    codes = pq_encode_quantized(emb, n_sub=n_sub, k=k)

    qdf = emb.select("vec_id", quantize_fixed_point("embedding", 1_000_000).alias("qv"))
    head = qdf.orderBy("vec_id").limit(max(k, 5)).collect()
    cq = np.array([list(r["qv"]) for r in head[:k]], dtype=np.int64)
    probe_rows, lut_rows = [], []
    for r in head[:5]:
        v = np.array(list(r["qv"]), dtype=np.int64)
        cd = ((cq - v[None, :]) ** 2).sum(axis=1)
        for pl in np.lexsort((np.arange(len(cd)), cd))[:nprobe]:  # ties → lower list
            probe_rows.append((int(r["vec_id"]), int(pl)))
        for s in range(n_sub):
            sub = v[s * d_sub : (s + 1) * d_sub]
            d = ((cq[:, s * d_sub : (s + 1) * d_sub] - sub[None, :]) ** 2).sum(axis=1)
            for code in range(k):
                lut_rows.append((int(r["vec_id"]), s, code, int(d[code])))
    probes = spark.createDataFrame(probe_rows, "query_id long, cluster int")
    lut = spark.createDataFrame(lut_rows, "query_id long, sub int, code int, d long")

    cand = assigned.join(F.broadcast(probes), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    melted = codes.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.col(f"code{s}").alias("code"),
                    )
                    for s in range(n_sub)
                ]
            )
        ).alias("c"),
    ).select("vec_id", "c.sub", "c.code")
    scored = (
        cand.join(melted, "vec_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("rnk").cast("int").alias("rnk"), "vec_id", "adc_dist")
        .orderBy("query_id", "rnk")
    )


IVFPQ_TOPK_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM embeddings ORDER BY vec_id LIMIT 8
), cq AS (
  SELECT c.cidx, v.dim, v.qv AS qc
  FROM cent c JOIN vq v ON v.vec_id = c.cid
), vdist AS (
  SELECT v.vec_id, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq c USING (dim)
  GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cidx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY qd, cidx) AS rn
    FROM vdist) WHERE rn = 1
), sdist AS (
  SELECT v.vec_id, CAST(v.dim // 16 AS INTEGER) AS sub, c.cidx,
         CAST(sum((v.qv - c.qc) * (v.qv - c.qc)) AS BIGINT) AS qd
  FROM vq v JOIN cq c ON c.dim = v.dim
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, sub, cidx AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY qd, cidx) AS rn
    FROM sdist) WHERE rn = 1
), queries AS (
  SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id LIMIT 5
), probes AS (
  SELECT query_id, cidx AS cluster FROM (
    SELECT q.query_id, d.cidx,
           row_number() OVER (PARTITION BY q.query_id ORDER BY d.qd, d.cidx) AS prn
    FROM queries q JOIN vdist d ON d.vec_id = q.query_id)
  WHERE prn <= 2
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM assigned a JOIN probes p USING (cluster)
  WHERE a.vec_id <> p.query_id
), lut AS (
  SELECT s.vec_id AS query_id, s.sub, s.cidx AS code, s.qd AS d
  FROM sdist s JOIN queries q ON q.query_id = s.vec_id
), scored AS (
  SELECT cd.query_id, cd.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM cand cd
  JOIN codes c ON c.vec_id = cd.vec_id
  JOIN lut l ON l.query_id = cd.query_id AND l.sub = c.sub AND l.code = c.code
  GROUP BY 1, 2
)
SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id, adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
      FROM scored)
WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def emb_label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-NOISE detection (confident-learning-lite) — the dataset
    debugging pass run before training a classifier: a vector whose
    nearest CLASS PROTOTYPE is not its own label is a suspected
    mislabel. Per label: cohort size, suspected-noise count and share,
    plus the label it is most confused with.

    Everything is engine-exact: per-(label, dim) int64 quantized sums
    aggregate distributed (|labels|·d scalar rows, corpus-independent
    shuffle), centroids quantize as floor(S/n) (exact in double up to
    2^53 — identical both engines), and distances are exact int64. The
    distance scan is ONE map-only mapInPandas BLAS pass against the
    broadcast |labels|×d centroid matrix — the relational equivalent
    (n·|labels|·d exploded rows) is what the DuckDB oracle replays at
    sf0.01, and exactly what this plan avoids at scale."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "label", quantize_fixed_point("embedding", 1_000_000).alias("_v")
    )
    sums = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .withColumn("qx", F.round(F.col("x").cast("double") * 1_000_000).cast("long"))
        .groupBy("label", "dim")
        .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "dim",
            F.floor(F.col("s").cast("double") / F.col("n")).cast("long").alias("cq"),
        )
        .collect()
    )
    labels = sorted({r["label"] for r in sums})
    lidx = {l: i for i, l in enumerate(labels)}
    d = max(r["dim"] for r in sums) + 1
    C = np.zeros((len(labels), d), dtype=np.int64)
    for r in sums:
        C[lidx[r["label"]], r["dim"]] = r["cq"]
    c_sq = (C * C).sum(axis=1)
    lab_arr = np.array(labels, dtype=np.int64)

    out_schema = T.StructType(
        [
            T.StructField("label", T.IntegerType(), False),
            T.StructField("noisy", T.IntegerType(), False),
            T.StructField("confused_with", T.IntegerType(), False),
        ]
    )

    def _audit(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([list(v) for v in pdf["_v"]], dtype=np.int64)
            own = np.array([lidx[l] for l in pdf["label"]], dtype=np.int64)
            D = (X * X).sum(axis=1)[:, None] - 2 * (X @ C.T) + c_sq[None, :]
            d_own = D[np.arange(len(X)), own]
            D_masked = D.copy()
            D_masked[np.arange(len(X)), own] = np.iinfo(np.int64).max
            # ties → lower label index (argmin is first-minimum)
            nearest_other = np.argmin(D_masked, axis=1)
            d_other = D_masked[np.arange(len(X)), nearest_other]
            noisy = (d_other < d_own).astype("int32")
            yield pd.DataFrame(
                {
                    "label": pdf["label"].to_numpy(dtype="int32"),
                    "noisy": noisy,
                    "confused_with": np.where(
                        noisy == 1, lab_arr[nearest_other], -1
                    ).astype("int32"),
                }
            )

    flagged = base.mapInPandas(_audit, schema=out_schema)
    per_label = flagged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("noisy").alias("n_noisy"),
        F.round(F.sum("noisy") / F.count(F.lit(1)), 4).alias("noise_share"),
    )
    top_conf = (
        flagged.filter(F.col("noisy") == 1)
        .groupBy("label", "confused_with")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    wc = Window.partitionBy("label").orderBy(F.desc("cnt"), F.asc("confused_with"))
    top1 = (
        top_conf.withColumn("_r", F.row_number().over(wc))
        .filter(F.col("_r") == 1)
        .select("label", F.col("confused_with").alias("most_confused_with"))
    )
    return (
        per_label.join(top1, "label", "left")
        .select(
            "label",
            "n_vectors",
            "n_noisy",
            "noise_share",
            F.coalesce("most_confused_with", F.lit(-1)).alias("most_confused_with"),
        )
        .orderBy("label")
    )


LABEL_NOISE_SQL = """
WITH vq AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), cent AS (
  SELECT label, dim, CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS cq
  FROM vq GROUP BY 1, 2
), dist AS (
  SELECT v.vec_id, v.label AS own_label, c.label AS cand_label,
         CAST(sum((v.qv - c.cq) * (v.qv - c.cq)) AS BIGINT) AS qd
  FROM vq v JOIN cent c USING (dim)
  GROUP BY 1, 2, 3
), per_vec AS (
  SELECT vec_id, own_label,
         max(CASE WHEN cand_label = own_label THEN qd END) AS d_own,
         min(CASE WHEN cand_label <> own_label THEN qd END) AS d_other
  FROM dist GROUP BY 1, 2
), nearest_other AS (
  SELECT vec_id, cand_label FROM (
    SELECT d.vec_id, d.cand_label,
           row_number() OVER (PARTITION BY d.vec_id ORDER BY d.qd, d.cand_label) AS rn
    FROM dist d WHERE d.cand_label <> d.own_label) WHERE rn = 1
), flagged AS (
  SELECT p.own_label AS label,
         CASE WHEN p.d_other < p.d_own THEN 1 ELSE 0 END AS noisy,
         CASE WHEN p.d_other < p.d_own THEN n.cand_label ELSE -1 END AS confused_with
  FROM per_vec p JOIN nearest_other n USING (vec_id)
), per_label AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(sum(noisy) AS BIGINT) AS n_noisy,
         round(CAST(sum(noisy) AS DOUBLE) / count(*), 4) AS noise_share
  FROM flagged GROUP BY label
), top1 AS (
  SELECT label, confused_with AS most_confused_with FROM (
    SELECT label, confused_with, row_number()
           OVER (PARTITION BY label ORDER BY count(*) DESC, confused_with) AS rn
    FROM flagged WHERE noisy = 1 GROUP BY label, confused_with) WHERE rn = 1
)
SELECT p.label, p.n_vectors, p.n_noisy, p.noise_share,
       coalesce(t.most_confused_with, -1) AS most_confused_with
FROM per_label p LEFT JOIN top1 t USING (label)
ORDER BY p.label
"""


def emb_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking — the DIVERSIFICATION
    step a retrieval stack runs after top-k: from the exact top-20
    nearest to the lowest-id query vector, greedily select 5 results
    trading relevance against redundancy. λ=0.7 is scaled to INTEGER
    weights (score = −7·d(q,x) + 3·min over selected d(x,s), ties →
    lower id), so the greedy is exact integer arithmetic end-to-end
    and the whole re-rank sits under a full DuckDB oracle (the 5
    greedy steps unrolled as SQL stages).

    Scale shape: the top-20 candidate scan is the distributed exact
    kernel (zip_with/aggregate int64 L2 against the broadcast query —
    JVM codegen, no Python); the greedy itself is O(k·20) on the
    BOUNDED 20-row head, computed driver-side like every other
    bounded-head collect, and the result re-enters the plan as a
    5-row broadcast join against the candidate frame."""
    import numpy as np

    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point

    emb = load(spark, sf_dir, "embeddings")
    qdf = emb.select("vec_id", quantize_fixed_point("embedding", 1_000_000).alias("qv"))
    qrow = qdf.orderBy("vec_id").limit(1).collect()[0]
    q_vec = spark.createDataFrame([([int(x) for x in qrow["qv"]],)], "q_vec array<long>")
    dist = F.aggregate(
        F.zip_with("q_vec", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        qdf.filter(F.col("vec_id") != qrow["vec_id"])
        .crossJoin(F.broadcast(q_vec))
        .select("vec_id", "qv", dist.alias("q_dist"))
        .orderBy("q_dist", "vec_id")
        .limit(20)
    )
    rows = cand.collect()
    ids = [r["vec_id"] for r in rows]
    qd = {r["vec_id"]: r["q_dist"] for r in rows}
    V = np.array([list(r["qv"]) for r in rows], dtype=np.int64)
    P = ((V[:, None, :] - V[None, :, :]) ** 2).sum(axis=2)
    sel, sel_ix, picks = [], [], []
    for step in range(5):
        best = None
        for i, vid in enumerate(ids):
            if vid in sel:
                continue
            score = -7 * qd[vid] + (3 * int(P[i, sel_ix].min()) if sel_ix else 0)
            key = (score, -vid)
            if best is None or key > best[0]:
                best = (key, i, vid, score)
        sel.append(best[2])
        sel_ix.append(best[1])
        picks.append((step + 1, best[2], int(best[3])))
    selection = spark.createDataFrame(picks, "rnk int, vec_id long, mmr_score long")
    return (
        cand.join(F.broadcast(selection), "vec_id")
        .select("rnk", "vec_id", "q_dist", "mmr_score")
        .orderBy("rnk")
    )


# The 5 greedy steps unrolled: sel_k picks the argmax of
# -7*qd + 3*min(dist to sel_{<k}) among the remaining candidates.
_MMR_STAGE = """
, sel{k} AS (
  SELECT c.vec_id, c.qd,
         -7 * c.qd + 3 * (SELECT min(p.d) FROM pd p
                          WHERE p.x = c.vec_id
                            AND p.y IN (SELECT vec_id FROM picked{prev})) AS score
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM picked{prev})
  ORDER BY score DESC, c.vec_id LIMIT 1
), picked{k} AS (
  SELECT vec_id FROM picked{prev} UNION ALL SELECT vec_id FROM sel{k}
)"""

MMR_SQL = (
    """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), q AS (
  SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1
), dq AS (
  SELECT v.vec_id, CAST(sum((v.qv - w.qv) * (v.qv - w.qv)) AS BIGINT) AS qd
  FROM vq v JOIN q ON v.vec_id <> q.qid
  JOIN vq w ON w.vec_id = q.qid AND w.dim = v.dim
  GROUP BY v.vec_id
), cand AS (
  SELECT vec_id, qd FROM dq ORDER BY qd, vec_id LIMIT 20
), pd AS (
  SELECT a.vec_id AS x, b.vec_id AS y,
         CAST(sum((va.qv - vb.qv) * (va.qv - vb.qv)) AS BIGINT) AS d
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
  JOIN vq va ON va.vec_id = a.vec_id
  JOIN vq vb ON vb.vec_id = b.vec_id AND vb.dim = va.dim
  GROUP BY 1, 2
), sel1 AS (
  SELECT vec_id, qd, -7 * qd AS score FROM cand ORDER BY qd, vec_id LIMIT 1
), picked1 AS (
  SELECT vec_id FROM sel1
)"""
    + "".join(_MMR_STAGE.format(k=k, prev=k - 1) for k in range(2, 6))
    + """
SELECT CAST(rnk AS INTEGER) AS rnk, vec_id, qd AS q_dist, CAST(score AS BIGINT) AS mmr_score
FROM (
  SELECT 1 AS rnk, vec_id, qd, score FROM sel1
  UNION ALL SELECT 2, vec_id, qd, score FROM sel2
  UNION ALL SELECT 3, vec_id, qd, score FROM sel3
  UNION ALL SELECT 4, vec_id, qd, score FROM sel4
  UNION ALL SELECT 5, vec_id, qd, score FROM sel5
)
ORDER BY rnk
"""
)


def emb_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DRIFT monitoring — the ML-ops check run between two
    snapshots of a vector store (here the deterministic vec_id-parity
    split standing in for old/new): per-dimension mean shift, the 10
    most-drifted dimensions, and the global drift L2 replicated onto
    every row as the single-number alarm.

    One posexplode → ONE (dim, parity) aggregate of exact int64
    quantized sums; means divide exact sums by exact counts (identical
    doubles both engines), diffs round to 6. The shuffle is 2·d rows
    regardless of corpus size — the centroid-algebra scale shape."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        (F.col("vec_id") % 2).cast("int").alias("snap"),
        F.posexplode("embedding").alias("dim", "x"),
    ).withColumn("qx", F.round(F.col("x").cast("double") * 1_000_000).cast("long"))
    per = q.groupBy("dim").agg(
        (
            F.sum(F.when(F.col("snap") == 0, F.col("qx")).otherwise(F.lit(0))).cast("double")
            / F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
        ).alias("_ma"),
        (
            F.sum(F.when(F.col("snap") == 1, F.col("qx")).otherwise(F.lit(0))).cast("double")
            / F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
        ).alias("_mb"),
    )
    scored = per.select(
        "dim",
        F.round(F.col("_ma") / 1_000_000, 6).alias("mean_a"),
        F.round(F.col("_mb") / 1_000_000, 6).alias("mean_b"),
        F.round(F.abs(F.col("_ma") - F.col("_mb")) / 1_000_000, 6).alias("abs_diff"),
    )
    l2 = scored.agg(
        F.round(F.sqrt(F.sum(F.col("abs_diff") * F.col("abs_diff"))), 6).alias("drift_l2")
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("abs_diff"), F.asc("dim")).limit(10)
    w = Window.orderBy(F.desc("abs_diff"), F.asc("dim"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(l2))
        .select("rnk", "dim", "mean_a", "mean_b", "abs_diff", "drift_l2")
        .orderBy("rnk")
    )


EMB_DRIFT_SQL = """
WITH q AS (
  SELECT CAST(vec_id % 2 AS INTEGER) AS snap,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qx
  FROM embeddings
), per AS (
  SELECT dim,
         CAST(sum(CASE WHEN snap = 0 THEN qx ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS _ma,
         CAST(sum(CASE WHEN snap = 1 THEN qx ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS _mb
  FROM q GROUP BY dim
), scored AS (
  SELECT dim, round(_ma / 1000000, 6) AS mean_a, round(_mb / 1000000, 6) AS mean_b,
         round(abs(_ma - _mb) / 1000000, 6) AS abs_diff
  FROM per
), l2 AS (
  SELECT round(sqrt(sum(abs_diff * abs_diff)), 6) AS drift_l2 FROM scored
)
SELECT CAST(rnk AS INTEGER) AS rnk, dim, mean_a, mean_b, abs_diff, drift_l2
FROM (SELECT *, row_number() OVER (ORDER BY abs_diff DESC, dim) AS rnk FROM scored)
CROSS JOIN l2
WHERE rnk <= 10
ORDER BY rnk
"""


def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact d×d Gram matrix of the embedding corpus (upper triangle)
    in fixed-point int64 (operators/linalg.quantized_gram_matrix): one
    Arrow sweep producing O(d²)-row partials per batch, one O(d²)-key
    reduce — the covariance/PCA precursor whose shuffle never scales
    with rows."""
    from medical_examination_data_etl_system_spark.operators.linalg import quantized_gram_matrix

    emb = load(spark, sf_dir, "embeddings")
    return quantized_gram_matrix(emb, "embedding", scale=1_000_000).orderBy("i", "j")


# Quantization tree mirrored exactly: CAST(float AS DOUBLE)*1e6 is
# correctly rounded identically everywhere, round() is half-away-from-
# zero in both engines, and all sums are integer — no float summation
# order anywhere (the exact-cents discipline applied to vectors).
GRAM_SQL = """
WITH q AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
)
SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
       CAST(sum(CAST(a.qv AS HUGEINT) * b.qv) AS BIGINT) AS s
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY 1, 2
ORDER BY 1, 2
"""


def emb_power_iteration_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eigen-solver LOOP under an exact oracle: three power-iteration
    rounds toward the Gram matrix's dominant eigenvector carried out
    ENTIRELY in int64 (what the row certifies is the loop arithmetic —
    convergence rate is the data's λ2/λ1, orthogonal to correctness). The Gram sweep is the driver-hash-verified
    quantized kernel (scale 10³ here: at 10¹¹ rows its entries still
    fit int64 — the documented 100 TB knob); each round is
    ``w = G·v`` (a d²-row broadcast join, never corpus-scale) followed
    by integer re-normalization ``v' = w div (max|w| div S)`` —
    division order chosen so no intermediate exceeds ~d·|G|·S ≈ 4·10¹⁶
    at 100× (multiplying w by S FIRST would overflow there). Spark
    ``div`` ≡ DuckDB ``//`` (test_round10 sign matrix), so all three
    rounds replay bit-for-bit. The d×d frame is eager-checkpointed
    once; the three rounds cost broadcast joins over ≤ d² rows — the
    corpus is touched exactly once regardless of iteration count,
    which is the 100 TB argument for power iteration over any
    per-round-corpus-sweep eigensolver."""
    from medical_examination_data_etl_system_spark.operators.linalg import quantized_gram_matrix

    S = 1000
    emb = load(spark, sf_dir, "embeddings")
    g = quantized_gram_matrix(emb, "embedding", scale=S)
    gsym = (
        g.union(
            g.filter(F.col("i") < F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "s"
            )
        )
        .localCheckpoint(eager=True)  # ≤ d² rows; re-read every round
    )
    v = gsym.select("i").distinct().select(
        F.col("i").alias("jdim"), F.lit(S).cast("long").alias("v")
    )
    for _ in range(3):
        w = (
            gsym.join(F.broadcast(v), gsym.j == F.col("jdim"))
            .select("i", (F.col("s") * F.col("v")).alias("p"))
            .groupBy("i")
            .agg(F.sum("p").alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("_m"))
        v = w.crossJoin(F.broadcast(m)).select(
            F.col("i").alias("jdim"),
            F.expr(f"w div greatest(_m div {S}, CAST(1 AS BIGINT))").alias("v"),
        )
    return v.select(F.col("jdim").alias("dim"), F.col("v").alias("v_scaled")).orderBy("dim")


def _power_round(idx: int) -> str:
    """One unrolled integer power-iteration round as DuckDB CTE text."""
    return f"""w{idx} AS (
  SELECT g.i, CAST(sum(g.s * v{idx - 1}.v) AS BIGINT) AS w
  FROM g JOIN v{idx - 1} ON g.j = v{idx - 1}.jdim GROUP BY g.i
), v{idx} AS (
  SELECT i AS jdim,
         w // greatest((SELECT max(abs(w)) FROM w{idx}) // 1000, 1) AS v
  FROM w{idx}
)"""


POWER_ITER_SQL = (
    """
WITH q AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM embeddings
), gup AS (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(CAST(a.qv AS HUGEINT) * b.qv) AS BIGINT) AS s
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
), g AS (
  SELECT i, j, s FROM gup
  UNION ALL
  SELECT j AS i, i AS j, s FROM gup WHERE i < j
), v0 AS (
  SELECT DISTINCT i AS jdim, CAST(1000 AS BIGINT) AS v FROM g
),
"""
    + ",\n".join(_power_round(i) for i in (1, 2, 3))
    + """
SELECT CAST(jdim AS INTEGER) AS dim, CAST(v AS BIGINT) AS v_scaled
FROM v3 ORDER BY dim
"""
)


def emb_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus —
    the feature-scaling pass before clustering/regression. Stats come
    from EXACT integer sums on the 1e-6 quantization grid (the Gram
    discipline); floats enter only in the final mirrored expression
    tree ``(q − Σq/n)/sqrt((Σq² − (Σq)²/n)/n)``, every op IEEE-rounded
    identically in both engines. Long-form output (vec_id, i, z): one
    explode + one 64-key aggregation whose result BROADCASTS back onto
    the exploded stream — the per-row pass never shuffles.
    """
    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point

    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(quantize_fixed_point("embedding", 1_000_000)).alias("i", "q"),
    )
    stats = q.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    mean = F.col("sq").cast("double") / F.col("n")
    var = (
        F.col("sqq").cast("double")
        - F.col("sq").cast("double") * F.col("sq").cast("double") / F.col("n")
    ) / F.col("n")
    return (
        q.join(F.broadcast(stats), "i")
        .select(
            "vec_id",
            "i",
            # constant-dimension guard (r08 div-audit): var <= 0 ->
            # NULL z on both engines, not an engine-divergent 0/0
            F.when(
                var > 0,
                F.round((F.col("q").cast("double") - mean) / F.sqrt(var), 6),
            ).alias("z"),
        )
        .orderBy("vec_id", "i")
    )


STANDARDIZE_SQL = """
WITH q AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings
), stats AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS sq,
         CAST(sum(CAST(q AS HUGEINT) * q) AS BIGINT) AS sqq
  FROM q GROUP BY i
)
SELECT q.vec_id, CAST(q.i AS INTEGER) AS i,
       CASE WHEN (CAST(s.sqq AS DOUBLE)
                  - CAST(s.sq AS DOUBLE) * CAST(s.sq AS DOUBLE) / s.n) / s.n > 0
            THEN round((CAST(q.q AS DOUBLE) - CAST(s.sq AS DOUBLE) / s.n)
                       / sqrt((CAST(s.sqq AS DOUBLE)
                               - CAST(s.sq AS DOUBLE) * CAST(s.sq AS DOUBLE) / s.n) / s.n),
                       6)
       END AS z
FROM q JOIN stats s ON q.i = s.i
ORDER BY q.vec_id, q.i
"""


def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the media corpus
    (base items + a deterministic 10% "re-upload" set sharing payload
    bytes): 60-bit pHash from the payload digest, Hamming ≤ 3 pairs via
    the generic chunk-banding self-join (operators/dedup.
    hamming_near_duplicates) — the image-dedup shape (pHash multi-
    index) running entirely on JVM hash/bit ops. 4×15-bit chunks, the
    standard coverage/density point: bucket population is n/2^15, so
    candidate work Σ|bucket|² stays tractable as the corpus grows
    (10-bit chunks would cover Hamming 5 but densify buckets 32×
    — the SRP-style knob, chosen here for the 100 TB posture). The
    oracle brute-forces bit_count(xor) over all pairs, pinning the
    banding's completeness guarantee; the stub pHash is the payload
    digest (real codecs plug into the multimodal featurizer), so
    re-uploads land at Hamming 0.
    """
    from medical_examination_data_etl_system_spark.operators.dedup import hamming_near_duplicates

    docs = load(spark, sf_dir, "documents")
    base = docs.select(F.col("doc_id").alias("media_id"), "text")
    reups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("media_id"), "text"
    )
    media = base.unionByName(reups)
    phash = F.conv(
        F.substring(F.sha2(F.encode("text", "UTF-8"), 256), 1, 15), 16, 10
    ).cast("long")
    hashed = media.select("media_id", phash.alias("phash"))
    return hamming_near_duplicates(
        hashed, "media_id", "phash", max_hamming=3, bits=60, chunk_bits=15
    ).orderBy("id_a", "id_b")


PHASH_NEAR_DUP_SQL = """
WITH media AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS media_id, text FROM documents WHERE doc_id % 10 = 0
), hashed AS (
  SELECT media_id,
         ('0x' || substr(sha256(text), 1, 15))::BIGINT AS phash
  FROM media
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM hashed a JOIN hashed b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
ORDER BY id_a, id_b
"""


def docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct tokens
    after each 5% slice of the corpus (by doc id). The first-occurrence
    trick again — each token counts only at its min doc id, so there is
    ONE token-keyed shuffle and the cumulative window runs over the
    FIXED 20-bucket frame, never over rows. Tokens travel as xxhash64
    longs (collision-exact, the gram stance)."""
    from medical_examination_data_etl_system_spark.operators.text_analysis import normalized_text

    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(normalized_text(F.col("text")), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select("doc_id", F.xxhash64("tok").alias("th"))
    )
    first = toks.groupBy("th").agg(F.min("doc_id").alias("first_doc"))
    maxdoc = docs.agg(F.max("doc_id").alias("maxd"))
    bucketed = first.crossJoin(F.broadcast(maxdoc)).select(
        F.expr("CAST(20 * first_doc div (maxd + 1) AS INT)").alias("bucket")
    )
    per = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_new_tokens"))
    # dense 20-bucket spine: a saturated corpus still yields the full
    # monotone curve (zero-new buckets included), not a single row
    spine = spark.range(20).select(F.col("id").cast("int").alias("bucket"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(per, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_new_tokens", F.lit(0)).alias("n_new_tokens"),
            F.sum(F.coalesce("n_new_tokens", F.lit(0))).over(w).alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


VOCAB_GROWTH_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
), first_seen AS (
  SELECT tok, min(doc_id) AS first_doc FROM toks WHERE tok <> '' GROUP BY tok
), bounds AS (SELECT max(doc_id) AS maxd FROM documents),
bucketed AS (
  SELECT CAST((20 * first_doc) // (maxd + 1) AS INTEGER) AS bucket
  FROM first_seen CROSS JOIN bounds
), per AS (
  SELECT bucket, count(*) AS n_new_tokens FROM bucketed GROUP BY bucket
), spine AS (
  SELECT CAST(unnest(range(0, 20)) AS INTEGER) AS bucket
)
SELECT s.bucket,
       coalesce(p.n_new_tokens, 0) AS n_new_tokens,
       CAST(sum(coalesce(p.n_new_tokens, 0))
            OVER (ORDER BY s.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM spine s LEFT JOIN per p ON s.bucket = p.bucket
ORDER BY s.bucket
"""


def emb_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based negative sampling for contrastive
    training: each anchor draws 8 candidate ids via md5(anchor, j) mod
    N (engine-independent, resume-safe — ``rand()`` would re-deal on
    every retry), then candidates sharing the anchor's label (false
    negatives) and self-draws are filtered by ONE co-partitioned join
    against the (id, label) frame. Map-only 8× fan-out + one join —
    linear at any corpus size. Output: per-anchor valid-negative count
    and the smallest valid negative id (compact, order-free).
    """
    emb = load(spark, sf_dir, "embeddings")
    n_total = emb.agg(F.count(F.lit(1)).alias("n_corpus"))
    anchors = emb.select("vec_id", "label").crossJoin(F.broadcast(n_total))
    cands = anchors.select(
        "vec_id",
        F.col("label").alias("anchor_label"),
        F.explode(F.array(*[F.lit(j) for j in range(8)])).alias("j"),
        "n_corpus",
    ).select(
        "vec_id",
        "anchor_label",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("neg:"),
                            F.col("vec_id").cast("string"),
                            F.lit(":"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n_corpus")
        ).alias("cand"),
    )
    labels = emb.select(F.col("vec_id").alias("cand"), F.col("label").alias("cand_label"))
    valid = cands.join(labels, "cand").filter(
        (F.col("cand") != F.col("vec_id"))
        & (F.col("cand_label") != F.col("anchor_label"))
    )
    return (
        cands.select("vec_id").distinct()
        .join(
            valid.groupBy("vec_id").agg(
                F.count(F.lit(1)).alias("n_valid_negatives"),
                F.min("cand").alias("min_negative_id"),
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("n_valid_negatives", F.lit(0)).alias("n_valid_negatives"),
            "min_negative_id",
        )
        .orderBy("vec_id")
    )


NEGATIVE_SAMPLING_SQL = """
WITH bounds AS (SELECT count(*) AS n_corpus FROM embeddings),
cands AS (
  SELECT e.vec_id, e.label AS anchor_label,
         ('0x' || substr(md5('neg:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
           % b.n_corpus AS cand
  FROM embeddings e CROSS JOIN bounds b
  CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
), valid AS (
  SELECT c.vec_id, c.cand
  FROM cands c JOIN embeddings t ON c.cand = t.vec_id
  WHERE c.cand <> c.vec_id AND t.label <> c.anchor_label
)
SELECT e.vec_id,
       coalesce(v.n, 0) AS n_valid_negatives,
       v.m AS min_negative_id
FROM (SELECT DISTINCT vec_id FROM embeddings) e
LEFT JOIN (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n, min(cand) AS m
  FROM valid GROUP BY vec_id
) v USING (vec_id)
ORDER BY e.vec_id
"""


def docs_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end — the marquee LLM-corpus pass that
    composes three existing kernels: exact cosine near-dup pairs
    (blocked GEMM, the emb_near_dup_cosine plan) → connected components
    (alternating-star, see _semantic_dedup_summary) → keep the min-id
    representative per cluster; per-label removal summary. Everything
    upstream of the summary is the SAME code the individual driver rows
    already pin; the composition itself is pinned here by a
    full-precision oracle: the pair set hash-matches the
    mirrored-formula SQL (r4-green), and
    the transitive closure is a recursive CTE with min-label
    propagation (pruned to labels < destination — the component min
    always floods), so even the ITERATIVE stage is exact-hash covered,
    like graph_bfs_depths. At 100 TB the swap-in is
    embedding_near_duplicates_srp for the pair stage — identical
    downstream."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_duplicates(emb, threshold=0.4).select("id_a", "id_b")
    return _semantic_dedup_summary(emb, pairs)


def _semantic_dedup_summary(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared downstream of the semantic-dedup variants: components →
    min-id representative → per-label removal summary.

    Components via the alternating-star algorithm (r14): the cosine
    near-dup graph at this threshold is CHAIN-shaped (A≈B≈C transitive
    runs — measured 17 label-prop rounds at sf0.1, the exact pathology
    connected_components_alternating exists for). O(log² n) rounds vs
    O(diameter); same-box A/B 7.2 → 5.5 s on the pair graph, output
    bit-identical (the two algorithms are equivalence-pinned in
    tests/test_clustering.py, and this query's full DuckDB oracle
    hash-covers the swap)."""
    from medical_examination_data_etl_system_spark.operators.clustering import (
        connected_components_alternating,
    )

    comp = connected_components_alternating(pairs)
    labels = (
        emb.select("vec_id", "label")
        .join(comp, emb.vec_id == comp.node, "left")
        .select("vec_id", "label", F.coalesce("comp", F.col("vec_id")).alias("rep"))
    )
    removed = F.sum(F.when(F.col("vec_id") != F.col("rep"), 1).otherwise(0))
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            removed.cast("long").alias("n_removed"),
            (F.count(F.lit(1)) - removed).cast("long").alias("n_kept"),
        )
        .orderBy("label")
    )


def docs_semantic_dedup_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB semantic-dedup path: IDENTICAL downstream to
    docs_semantic_dedup, with the pair stage swapped for the
    SRP-bucketed near-dup (Σ|bucket|² work instead of n²). SRP can only
    MISS pairs (in-bucket verification is the same exact GEMM), so its
    components REFINE the exact variant's: every SRP-removed doc is
    exact-removed too — pinned in pytest as the subset property, the
    recall floor's structural twin. Rows-only at the driver
    (bucket hashes are engine-specific)."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_duplicates_srp(emb, threshold=0.4).select("id_a", "id_b")
    return _semantic_dedup_summary(emb, pairs)


SEMANTIC_DEDUP_SQL = """
WITH RECURSIVE e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
            / (a.nrm * b.nrm), 4) >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT edges.dst, walk.lbl
  FROM walk JOIN edges ON edges.src = walk.node
  WHERE walk.lbl < edges.dst
),
comp AS (SELECT node AS vec_id, min(lbl) AS rep FROM walk GROUP BY node)
SELECT emb.label,
       count(*) AS n_vecs,
       CAST(sum(CASE WHEN c.rep <> c.vec_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(count(*) - sum(CASE WHEN c.rep <> c.vec_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM comp c JOIN embeddings emb USING (vec_id)
GROUP BY emb.label ORDER BY emb.label
"""


def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level media dedup — the storage-dedup primitive for binary
    columns (fixed-size cousin of content-defined chunking): each
    payload splits into 64-byte chunks, chunks travel as md5 digests,
    and a chunk present in ≥2 distinct media is shared surface. Per
    media: chunk count, shared-chunk count, dedup ratio — what a 100 TB
    media lake measures before enabling block-level dedup. All
    chunking runs JVM-side on the BINARY column (substring on bytes,
    positions from one sequence explode — no codec, no Python); one
    digest-keyed shuffle + one media-keyed aggregate, corpus-linear.
    Oracle replays chunking on the source text (payloads are its UTF-8
    bytes — ASCII ⇒ byte == char, the multimodal family's stub
    equivalence)."""
    from medical_examination_data_etl_system_spark.operators import multimodal as mm

    docs = load(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_documents(docs)
    chunks = (
        media.select(
            "media_id",
            F.col("payload"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("payload"), F.lit(1)), F.lit(64))
            ).alias("_pos"),
        )
        .select(
            "media_id",
            F.md5(F.substring(F.col("payload"), F.col("_pos"), 64)).alias("_d"),
        )
    )
    shared = chunks.distinct().groupBy("_d").agg(F.count(F.lit(1)).alias("_nm"))
    return (
        chunks.join(shared, "_d")
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("_nm") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
            F.round(
                F.sum(F.when(F.col("_nm") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("shared_ratio"),
        )
        .orderBy("media_id")
    )


MULTIMODAL_CHUNK_DEDUP_SQL = """
WITH chunks AS (
  SELECT doc_id AS media_id, md5(substr(text, CAST(p AS INTEGER), 64)) AS d
  FROM documents,
       unnest(range(1, greatest(len(text), 1) + 1, 64)) AS u(p)
), shared AS (
  SELECT d, count(*) AS nm
  FROM (SELECT DISTINCT media_id, d FROM chunks) GROUP BY d
)
SELECT c.media_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN s.nm >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
       round(CAST(sum(CASE WHEN s.nm >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
         AS shared_ratio
FROM chunks c JOIN shared s USING (d)
GROUP BY c.media_id
ORDER BY c.media_id
"""


def docs_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking dedup — the Rabin-style counterpart to
    multimodal_chunk_dedup's fixed-size chunks: a chunk boundary opens
    after any 2-byte window whose value ≡ 0 (mod 61), so boundaries
    depend only on local content and a shifted copy RE-SYNCHRONIZES
    after the first boundary (the trade the fixed-size test pins from
    the other side). Per doc: chunk count, chunks shared with ≥1 other
    doc, shared ratio, mean chunk length. Boundary detection is a
    map-side codegen filter over exploded positions (two ascii() + one
    mod — no hashing in the hot loop, ~1/61 survive); chunk extents
    come from one text-keyed lead() window over the surviving starts;
    digests shuffle once. The 2-byte rolling window is deliberately
    engine-neutral arithmetic (ascii/ord + mod), so DuckDB replays
    boundaries, chunks, and sharing value-exactly. BMP-only
    precondition: Spark's ascii() works on UTF-16 code units where
    DuckDB's ord() works on code points, so supplementary-plane
    characters (emoji etc.) would place boundaries differently — the
    corpus is BMP; a production run over emoji-bearing text should
    strip/normalize non-BMP first.

    r08 DISTINCT-TEXT COLLAPSE (the text_rolling_fingerprint fix,
    266→24.5 s there): every per-doc output here — chunk count, shared
    count/ratio, mean length — is a pure function of the TEXT plus the
    digest-level sharing counts, and sharing counts collapse too
    (distinct docs per digest = Σ ndocs over distinct texts containing
    it). So the boundary scan, the lead() window, and the substring
    md5s all run once per DISTINCT text keyed by its md5, and doc_ids
    re-attach by one fingerprint join at the end — chunking volume
    scales with unique texts, not members (the corpus is
    duplicate-heavy by construction). Exact: output-invariant, oracle
    unchanged. Previous per-doc form: 44.8–58 s at 100×."""
    docs = load(spark, sf_dir, "documents")
    tid = F.md5(F.col("text")).alias("_tid")
    texts = docs.groupBy("text").agg(F.count(F.lit(1)).alias("_ndocs")).select(
        tid, "text", "_ndocs"
    )
    # One pass per distinct text: the char array is built once and
    # adjacent pairs come from zipped slices — per-position
    # substring(text, p, 1) would rescan the string from the head each
    # time (UTF8String offsets are char-counted), turning the boundary
    # scan O(len²) per text: measured 358 s at 100× vs 44.8 s zipped.
    arr = F.split(F.col("text"), "")
    n_pairs = F.greatest(F.length("text") - 1, F.lit(0))
    zipped = F.when(
        F.length("text") >= 2,
        F.arrays_zip(F.slice(arr, 1, n_pairs), F.slice(arr, 2, n_pairs)),
    ).otherwise(F.array().cast("array<struct<`0`:string,`1`:string>>"))
    pos = texts.select(
        "_tid",
        F.length("text").alias("_tlen"),
        F.posexplode(zipped).alias("_i", "_pair"),
    )
    # pair i (0-based) covers chars (i+1, i+2) 1-based → p = i + 2
    win_val = F.ascii(F.col("_pair")["0"]) * 256 + F.ascii(F.col("_pair")["1"])
    starts = (
        pos.filter((win_val % 61 == 0) & (F.col("_i") + 2 < F.col("_tlen")))
        .select("_tid", (F.col("_i") + 3).alias("start"))
        .unionByName(texts.select("_tid", F.lit(1).alias("start")))
    )
    w = Window.partitionBy("_tid").orderBy("start")
    chunks = (
        starts.join(texts.select("_tid", "text"), "_tid")
        .select(
            "_tid",
            F.md5(
                F.substring(
                    F.col("text"),
                    F.col("start"),
                    F.coalesce(F.lead("start").over(w), F.length("text") + 1)
                    - F.col("start"),
                )
            ).alias("_d"),
            (
                F.coalesce(F.lead("start").over(w), F.length("text") + 1)
                - F.col("start")
            ).alias("_len"),
        )
    )
    # distinct docs per digest = Σ ndocs over distinct texts holding it
    shared = (
        chunks.select("_tid", "_d")
        .distinct()
        .join(texts.select("_tid", "_ndocs"), "_tid")
        .groupBy("_d")
        .agg(F.sum("_ndocs").alias("_nm"))
    )
    per_text = (
        chunks.join(shared, "_d")
        .groupBy("_tid")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("_nm") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
            F.round(
                F.sum(F.when(F.col("_nm") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("shared_ratio"),
            F.round(F.avg("_len"), 2).alias("avg_chunk_len"),
        )
    )
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("_tid"))
        .join(per_text, "_tid")
        .drop("_tid")
        .orderBy("doc_id")
    )


CDC_CHUNK_DEDUP_SQL = """
WITH starts AS (
  SELECT doc_id, CAST(p + 1 AS INTEGER) AS start
  FROM documents, unnest(range(2, greatest(len(text), 1) + 1)) AS u(p)
  WHERE (ord(substr(text, CAST(p - 1 AS INTEGER), 1)) * 256
         + ord(substr(text, CAST(p AS INTEGER), 1))) % 61 = 0
    AND p < len(text)
  UNION ALL
  SELECT doc_id, 1 FROM documents
), extents AS (
  SELECT s.doc_id, s.start,
         coalesce(lead(s.start) OVER (PARTITION BY s.doc_id ORDER BY s.start),
                  len(d.text) + 1) - s.start AS clen
  FROM starts s JOIN documents d USING (doc_id)
), chunks AS (
  SELECT e.doc_id,
         md5(substr(d.text, e.start, e.clen)) AS dg,
         e.clen
  FROM extents e JOIN documents d USING (doc_id)
), shared AS (
  SELECT dg, count(*) AS nm
  FROM (SELECT DISTINCT doc_id, dg FROM chunks) GROUP BY dg
)
SELECT c.doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN s.nm >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
       round(CAST(sum(CASE WHEN s.nm >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
         AS shared_ratio,
       round(avg(c.clen), 2) AS avg_chunk_len
FROM chunks c JOIN shared s ON s.dg = c.dg
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram NOVELTY — the incremental-value curation metric:
    what fraction of a doc's distinct word bigrams first appear in THIS
    doc (min doc id), i.e. how much the doc adds that earlier corpus
    hasn't already said. The first-occurrence trick (vocab growth's
    per-doc sibling): one gram-keyed shuffle assigns each distinct
    bigram its min doc, one doc-keyed aggregate scores every doc —
    nothing quadratic, grams travel as xxhash64 longs
    (collision-exact; the oracle works on the gram strings
    directly)."""
    from medical_examination_data_etl_system_spark.operators.curation import _word_gram_rows

    docs = load(spark, sf_dir, "documents")
    grams = _word_gram_rows(docs, "text", "doc_id", 2).distinct()
    first = grams.groupBy("_gram").agg(F.min("_id").alias("_first"))
    scored = grams.join(first, "_gram").groupBy(F.col("_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("_id") == F.col("_first"), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(
                F.col("n_grams").isNotNull(),
                F.round(F.col("n_novel").cast("double") / F.col("n_grams"), 4),
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


NGRAM_NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i + 1] AS gram
  FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
), first AS (
  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
), scored AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM grams g JOIN first f USING (gram)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_grams, 0) AS n_grams,
       coalesce(s.n_novel, 0) AS n_novel,
       CASE WHEN s.n_grams IS NOT NULL
            THEN round(CAST(s.n_novel AS DOUBLE) / s.n_grams, 4) END AS novelty
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


def docs_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score CALIBRATION curve: corpus deciles by the heuristic
    quality score, each decile profiled by size, score range, token
    mass, and exact-duplicate incidence — the "does my quality filter
    actually separate good from bad" eval run before setting a keep
    threshold. Deciles come from the value-domain equi-depth
    construction (events_histogram_equidepth's): the score is
    round(·, 4)-bounded to ≤10⁴+1 distinct values at ANY corpus size,
    so the only unpartitioned window runs over that bounded distinct-
    value frame; per-doc rank work stays in the value-partitioned
    shuffle, duplicate flags come from one fingerprint-keyed count."""
    from medical_examination_data_etl_system_spark.operators.cache import persist_tracked

    docs = load(spark, sf_dir, "documents")
    nb = 10
    # Persisted: the regex-heavy scoring projection (~44 µs/doc) feeds
    # four consumers (fingerprint counts, value sizes, the rank join,
    # the total); unpersisted it re-scores the corpus each time —
    # measured 79.6 → 31.0 s at 100×.
    scored = persist_tracked(
        docs.select(
            "doc_id",
            quality_score(F.col("text")).alias("q"),
            token_count(F.col("text")).alias("tok"),
            content_fingerprint(F.col("text")).alias("f"),
        )
    )
    fpc = scored.groupBy("f").agg(F.count(F.lit(1)).alias("fc"))
    scored = scored.join(fpc, "f")
    sizes = scored.groupBy("q").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "q", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    w_in = Window.partitionBy("q").orderBy("doc_id")
    ranked = scored.join(offsets, "q").select(
        "q",
        "tok",
        "fc",
        (F.col("off") + F.row_number().over(w_in)).alias("rnk"),
    )
    total = scored.agg(F.count(F.lit(1)).alias("n"))
    ranked = ranked.crossJoin(F.broadcast(total))
    bucketed = ranked.select(
        "q",
        "tok",
        "fc",
        F.expr(
            f"CASE WHEN rnk <= (n % {nb}) * (n div {nb} + 1) "
            f"THEN (rnk - 1) div (n div {nb} + 1) + 1 "
            f"ELSE (n % {nb}) + (rnk - (n % {nb}) * (n div {nb} + 1) - 1) div (n div {nb}) + 1 END"
        ).cast("int").alias("decile"),
    )
    return (
        bucketed.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("q").alias("min_quality"),
            F.max("q").alias("max_quality"),
            F.sum("tok").alias("sum_tokens"),
            F.sum(F.when(F.col("fc") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
        )
        .orderBy("decile")
    )


QUALITY_CALIBRATION_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
              tk -> list_contains(['the','a','of','and','to','in','is','for','on','with'], lower(tk)))) AS BIGINT) AS n_stop,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
), q AS (
  SELECT doc_id, n_tokens,
         round(least(n_tokens / 100.0, 1.0) *
               (1.0 - abs((CASE WHEN n_tokens > 0 THEN n_stop / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) - 0.3)), 4) AS quality,
         count(*) OVER (PARTITION BY f) AS fc
  FROM t
), b AS (
  SELECT quality, n_tokens, fc,
         CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS INTEGER) AS decile
  FROM q
)
SELECT decile,
       count(*) AS n_docs,
       min(quality) AS min_quality,
       max(quality) AS max_quality,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(CASE WHEN fc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
FROM b
GROUP BY decile
ORDER BY decile
"""


def docs_dup_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span audit (the Lee-et-al. exact-substring-dedup
    measurement re-expressed relationally): per doc, the fraction of
    its 8-token word windows that also occur verbatim in at least one
    OTHER doc — the memorization-risk / cross-doc contamination score
    that substring-level dedup thresholds on. Cost shape is the
    novelty query's: spans travel as xxhash64 longs (collision-exact —
    a collision can only merge two spans; the oracle works on the
    span strings), one span-keyed shuffle computes each distinct
    span's distinct-doc count, one doc-keyed aggregate scores every
    doc. Nothing quadratic — corpus-linear at any scale, unlike a
    suffix-array build."""
    from medical_examination_data_etl_system_spark.operators.curation import _word_gram_rows

    docs = load(spark, sf_dir, "documents")
    spans = _word_gram_rows(docs, "text", "doc_id", 8)
    # distinct docs per span — occurrences join back so within-doc
    # repeats of a cross-doc span each count as duplicated surface.
    span_df = spans.distinct().groupBy("_gram").agg(
        F.count(F.lit(1)).alias("_nd")
    )
    scored = (
        spans.join(span_df, "_gram")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.col("n_spans").isNotNull(),
                F.round(F.col("n_dup_spans").cast("double") / F.col("n_spans"), 4),
            ).alias("dup_span_ratio"),
        )
        .orderBy("doc_id")
    )


DUP_SPAN_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), spans AS (
  SELECT doc_id, array_to_string(t[i:i + 7], ' ') AS s
  FROM toks, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)
), df AS (
  SELECT s, count(*) AS nd FROM (SELECT DISTINCT doc_id, s FROM spans) GROUP BY s
), scored AS (
  SELECT sp.doc_id,
         count(*) AS n_spans,
         CAST(sum(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM spans sp JOIN df ON df.s = sp.s
  GROUP BY sp.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_spans, 0) AS n_spans,
       coalesce(s.n_dup_spans, 0) AS n_dup_spans,
       CASE WHEN s.n_spans IS NOT NULL
            THEN round(CAST(s.n_dup_spans AS DOUBLE) / s.n_spans, 4) END
         AS dup_span_ratio
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


def docs_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch CALIBRATION — for every LSH candidate pair, the
    signature-agreement estimate next to the verified exact Jaccard
    and the absolute error (operators/dedup.minhash_estimate_calibration
    has the construction). The approximation-quality eval itself runs
    as a driver-hash-checked query: candidates, estimate, exact value,
    and error are all replayed value-exactly by the md5 oracle."""
    from medical_examination_data_etl_system_spark.operators.dedup import (
        minhash_estimate_calibration,
    )

    docs = load(spark, sf_dir, "documents")
    return minhash_estimate_calibration(docs)


def _mh_est_sum() -> str:
    cases = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return f"round(({cases}) / 16.0, 4)"


MINHASH_CALIBRATION_SQL = f"""
WITH fp AS (
  SELECT doc_id, text,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
), mem AS (
  SELECT doc_id AS m_id, min(doc_id) OVER (PARTITION BY f) AS rep FROM fp
), norm AS (
  SELECT p.doc_id, regexp_replace(lower(trim(p.text)), '\\s+', ' ', 'g') AS t
  FROM fp p JOIN mem m ON m.m_id = p.doc_id
  WHERE m.rep = p.doc_id
), sh AS (
  SELECT DISTINCT doc_id, substr(t, CAST(p AS INTEGER), 9) AS s
  FROM norm, unnest(range(1, greatest(length(t) - 8, 1) + 1)) AS u(p)
), hh AS (
  SELECT doc_id,
         md5('0:' || s) AS d0, md5('1:' || s) AS d1,
         md5('2:' || s) AS d2, md5('3:' || s) AS d3
  FROM sh
), sig AS (
  SELECT doc_id,
         {_mh_sig_cols()}
  FROM hh GROUP BY doc_id
), buckets AS (
  {_mh_band_selects()}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY 1, 2
), cal AS (
  SELECT c.id_a, c.id_b, {_mh_est_sum()} AS mh_estimate
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
), scored AS (
  SELECT c.id_a, c.id_b, cal.mh_estimate,
         round(CAST(COALESCE(i.i, 0) AS DOUBLE)
               / (sa.n + sb.n - COALESCE(i.i, 0)), 4) AS jaccard
  FROM cand c
  JOIN cal ON cal.id_a = c.id_a AND cal.id_b = c.id_b
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, mh_estimate, jaccard,
       round(abs(mh_estimate - jaccard), 4) AS abs_err
FROM scored
ORDER BY id_a, id_b
"""


def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (dedup-on-ingest) MinHash near-dup: the last 20% of
    the id range arrives as the NEW batch against the first 80% as the
    persisted corpus; per batch doc, the earlier doc it duplicates —
    exact content → its fingerprint rep at 1.0, else the min-id
    verified near partner — or 'unique'. The corpus side contributes
    dedup STATE only (band keys + shingle index); candidates and
    verification are restricted to batch-side pairs, so per-batch cost
    scales with the batch (operators/dedup.minhash_incremental_dedup).
    The split boundary is the one bounded driver-side scalar (same
    stance as the BFS source id)."""
    from medical_examination_data_etl_system_spark.operators.dedup import minhash_incremental_dedup

    docs = load(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    split = int(0.8 * (max_id + 1))
    return minhash_incremental_dedup(docs, split)


INCREMENTAL_DEDUP_SQL = f"""
WITH split AS (
  SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS sp FROM documents
), fp AS (
  SELECT doc_id, text,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
), mem AS (
  SELECT doc_id AS m_id, min(doc_id) OVER (PARTITION BY f) AS rep FROM fp
), norm AS (
  SELECT p.doc_id, regexp_replace(lower(trim(p.text)), '\\s+', ' ', 'g') AS t
  FROM fp p JOIN mem m ON m.m_id = p.doc_id
  WHERE m.rep = p.doc_id
), sh AS (
  SELECT DISTINCT doc_id, substr(t, CAST(p AS INTEGER), 9) AS s
  FROM norm, unnest(range(1, greatest(length(t) - 8, 1) + 1)) AS u(p)
), hh AS (
  SELECT doc_id,
         md5('0:' || s) AS d0, md5('1:' || s) AS d1,
         md5('2:' || s) AS d2, md5('3:' || s) AS d3
  FROM sh
), sig AS (
  SELECT doc_id,
         {{sig_cols}}
  FROM hh GROUP BY doc_id
), buckets AS (
  {{band_selects}}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  WHERE b.doc_id >= (SELECT sp FROM split)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY 1, 2
), rep_pairs AS (
  SELECT c.id_a, c.id_b,
         round(CAST(COALESCE(i.i, 0) AS DOUBLE)
               / (sa.n + sb.n - COALESCE(i.i, 0)), 4) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE round(CAST(COALESCE(i.i, 0) AS DOUBLE)
              / (sa.n + sb.n - COALESCE(i.i, 0)), 4) >= 0.5
), near AS (
  SELECT id_b, min(id_a) AS near_of, min_by(jaccard, id_a) AS near_j
  FROM rep_pairs GROUP BY id_b
), base AS (
  SELECT m_id AS doc_id, rep FROM mem
  WHERE m_id >= (SELECT sp FROM split)
), scored AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id <> b.rep THEN b.rep ELSE n.near_of END AS dup_of,
         CASE WHEN b.doc_id <> b.rep THEN 1.0 ELSE n.near_j END AS jaccard
  FROM base b LEFT JOIN near n ON n.id_b = b.rep
)
SELECT doc_id, dup_of, jaccard,
       CASE WHEN dup_of IS NULL THEN 'unique'
            WHEN dup_of < (SELECT sp FROM split) THEN 'dup_corpus'
            ELSE 'dup_batch' END AS verdict
FROM scored
ORDER BY doc_id
""".format(sig_cols=_mh_sig_cols(), band_selects=_mh_band_selects())


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA (MRL) TRUNCATION EVAL — the dimension-budget study a
    vector platform runs before storing truncated embeddings: recall@5
    of brute-force search using only the first 16 / 32 / 64 dimensions
    against the full-dimension exact top-5, per query vector (the
    64-prefix rows are the =1.0 sanity anchor). The emb_ann_recall
    construction generalized from method-vs-method to dim-vs-dim.

    Integer-exact throughout (quantized int64 L2, the exact-chip
    convention), so the recall values sit under the exact-hash oracle.
    The per-pair squared-diff array is built ONCE and each prefix
    distance is a slice+fold over it — one corpus scan against 5
    broadcast queries, 3 distances per pair, per-(query, prefix) top-5
    windows."""
    from medical_examination_data_etl_system_spark.operators.linalg import quantize_fixed_point

    emb = load(spark, sf_dir, "embeddings")
    qdf = emb.select("vec_id", quantize_fixed_point("embedding", 1_000_000).alias("qv"))
    head = qdf.orderBy("vec_id").limit(5).collect()
    probes = spark.createDataFrame(
        [(int(r["vec_id"]), [int(x) for x in r["qv"]]) for r in head],
        "query_id long, q_vec array<long>",
    )
    sq = F.zip_with("q_vec", "qv", lambda a, b: (a - b) * (a - b))

    def pref_dist(p: int) -> F.Column:
        return F.aggregate(
            F.slice(F.col("_sq"), 1, p), F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    scored = (
        qdf.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sq.alias("_sq"))
        .select(
            "query_id",
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(p).alias("pdim"), pref_dist(p).alias("dist")
                        )
                        for p in (16, 32, 64)
                    ]
                )
            ).alias("s"),
        )
        .select("query_id", "vec_id", F.col("s.pdim").alias("pdim"), F.col("s.dist").alias("dist"))
    )
    w = Window.partitionBy("query_id", "pdim").orderBy("dist", "vec_id")
    top5 = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    full5 = top5.filter(F.col("pdim") == 64).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    return (
        top5.join(full5, ["query_id", "vec_id"], "left")
        .groupBy("query_id", "pdim")
        .agg(
            F.count(F.lit(1)).alias("n_topk"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_overlap"),
            F.round(
                F.sum(F.coalesce("_hit", F.lit(0))).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("recall_at_5"),
        )
        .orderBy("query_id", "pdim")
    )


MATRYOSHKA_RECALL_SQL = """
WITH vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings
), queries AS (
  SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id LIMIT 5
), pd AS (
  SELECT CAST(unnest([16, 32, 64]) AS INTEGER) AS pdim
), dists AS (
  SELECT q.query_id, v2.vec_id, p.pdim,
         CAST(sum(CASE WHEN v1.dim <= p.pdim
                       THEN (v1.qv - v2.qv) * (v1.qv - v2.qv) ELSE 0 END) AS BIGINT) AS dist
  FROM queries q
  JOIN vq v1 ON v1.vec_id = q.query_id
  JOIN vq v2 ON v2.dim = v1.dim AND v2.vec_id <> q.query_id
  CROSS JOIN pd p
  GROUP BY 1, 2, 3
), top5 AS (
  SELECT query_id, pdim, vec_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id, pdim ORDER BY dist, vec_id) AS rnk
        FROM dists)
  WHERE rnk <= 5
), full5 AS (
  SELECT query_id, vec_id FROM top5 WHERE pdim = 64
)
SELECT t.query_id, t.pdim,
       count(*) AS n_topk,
       CAST(count(f.vec_id) AS BIGINT) AS n_overlap,
       round(CAST(count(f.vec_id) AS DOUBLE) / count(*), 4) AS recall_at_5
FROM top5 t
LEFT JOIN full5 f ON f.query_id = t.query_id AND f.vec_id = t.vec_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES = {
    "emb_matryoshka_recall": QueryDef(emb_matryoshka_recall, MATRYOSHKA_RECALL_SQL),
    "docs_dup_span_audit": QueryDef(docs_dup_span_audit, DUP_SPAN_SQL),
    "docs_incremental_dedup": QueryDef(docs_incremental_dedup, INCREMENTAL_DEDUP_SQL),
    "docs_quality_calibration": QueryDef(docs_quality_calibration, QUALITY_CALIBRATION_SQL),
    "emb_ann_recall_report": QueryDef(emb_ann_recall_report, ANN_RECALL_SQL),
    "multimodal_chunk_dedup": QueryDef(multimodal_chunk_dedup, MULTIMODAL_CHUNK_DEDUP_SQL),
    "docs_cdc_chunk_dedup": QueryDef(docs_cdc_chunk_dedup, CDC_CHUNK_DEDUP_SQL),
    "emb_pq_encode": QueryDef(emb_pq_encode, PQ_ENCODE_SQL),
    "emb_pq_adc_topk": QueryDef(emb_pq_adc_topk, PQ_ADC_TOPK_SQL),
    "emb_ivfpq_topk": QueryDef(emb_ivfpq_topk, IVFPQ_TOPK_SQL),
    "emb_label_noise_audit": QueryDef(emb_label_noise_audit, LABEL_NOISE_SQL),
    "docs_dataset_card": QueryDef(docs_dataset_card, DATASET_CARD_SQL),
    "emb_mmr_diversify": QueryDef(emb_mmr_diversify, MMR_SQL),
    "emb_drift_monitor": QueryDef(emb_drift_monitor, EMB_DRIFT_SQL),
    "docs_lm_quality": QueryDef(docs_lm_quality, LM_QUALITY_SQL),
    "docs_bpe_pair_merges": QueryDef(docs_bpe_pair_merges, BPE_PAIR_MERGES_SQL),
    "docs_bm25_search": QueryDef(docs_bm25_search, BM25_SQL),
    "docs_langid_confusion": QueryDef(docs_langid_confusion, LANGID_CONFUSION_SQL),
    "docs_minhash_calibration": QueryDef(docs_minhash_calibration, MINHASH_CALIBRATION_SQL),
    "docs_ngram_novelty": QueryDef(docs_ngram_novelty, NGRAM_NOVELTY_SQL),
    "docs_semantic_dedup": QueryDef(docs_semantic_dedup, SEMANTIC_DEDUP_SQL),
    "docs_semantic_dedup_srp": QueryDef(docs_semantic_dedup_srp, None),
    "text_token_stats": QueryDef(text_token_stats, TOKEN_STATS_SQL),
    "emb_kmeans_assign_round1": QueryDef(emb_kmeans_assign_round1, KMEANS_ASSIGN_R1_SQL),
    "emb_kmeans_iter2_exact": QueryDef(emb_kmeans_iter2_exact, KMEANS_ITER2_SQL),
    "emb_srp_bucket_profile": QueryDef(emb_srp_bucket_profile, SRP_BUCKET_SQL),
    "emb_ivf_topk_exact": QueryDef(emb_ivf_topk_exact, IVF_TOPK_EXACT_SQL),
    "emb_srp_topk_exact": QueryDef(emb_srp_topk_exact, SRP_TOPK_EXACT_SQL),
    "emb_label_centroids": QueryDef(emb_label_centroids, LABEL_CENTROIDS_SQL),
    "emb_quantize_int8": QueryDef(emb_quantize_int8, QUANTIZE_SQL),
    "docs_heavy_hitter_terms": QueryDef(docs_heavy_hitter_terms, HEAVY_HITTERS_SQL),
    "docs_ngram_containment": QueryDef(docs_ngram_containment, NGRAM_CONTAINMENT_SQL),
    "docs_tfidf_top_terms": QueryDef(docs_tfidf_top_terms, TFIDF_SQL),
    "docs_token_entropy": QueryDef(docs_token_entropy, TOKEN_ENTROPY_SQL),
    "text_quality_langid": QueryDef(text_quality_langid, QUALITY_SQL),
    "docs_curation_pipeline": QueryDef(docs_curation_pipeline, CURATION_SQL),
    "docs_dedup_exact": QueryDef(docs_dedup_exact, DEDUP_EXACT_SQL),
    "docs_minhash_md5_exact": QueryDef(docs_minhash_md5_exact, MINHASH_MD5_SQL),
    "docs_simhash_md5_exact": QueryDef(docs_simhash_md5_exact, SIMHASH_MD5_SQL),
    "docs_near_dup_components": QueryDef(docs_near_dup_components, None),
    "docs_near_dup_components_alt": QueryDef(docs_near_dup_components_alt, None),
    "docs_ngram_jaccard": QueryDef(docs_ngram_jaccard, NGRAM_JACCARD_SQL),
    "emb_cosine_topk": QueryDef(emb_cosine_topk, COSINE_TOPK_SQL),
    "emb_near_dup_cosine": QueryDef(emb_near_dup_cosine, EMB_NEAR_DUP_SQL),
    "emb_near_dup_srp": QueryDef(emb_near_dup_srp, None),
    "text_rolling_fingerprint": QueryDef(text_rolling_fingerprint, ROLLING_FP_SQL),
    "multimodal_doc_embedding_join": QueryDef(multimodal_doc_embedding_join, MULTIMODAL_JOIN_SQL),
    "multimodal_binary_features": QueryDef(multimodal_binary_features, MULTIMODAL_BINARY_SQL),
    "multimodal_frame_sample": QueryDef(multimodal_frame_sample, FRAME_SAMPLE_SQL),
    "multimodal_resize": QueryDef(multimodal_resize, RESIZE_SQL),
    "emb_gram_matrix": QueryDef(emb_gram_matrix, GRAM_SQL),
    "emb_power_iteration_exact": QueryDef(emb_power_iteration_exact, POWER_ITER_SQL),
    "emb_standardize": QueryDef(emb_standardize, STANDARDIZE_SQL),
    "multimodal_phash_near_dup": QueryDef(multimodal_phash_near_dup, PHASH_NEAR_DUP_SQL),
    "docs_vocab_growth": QueryDef(docs_vocab_growth, VOCAB_GROWTH_SQL),
    "emb_negative_sampling": QueryDef(emb_negative_sampling, NEGATIVE_SAMPLING_SQL),
}
