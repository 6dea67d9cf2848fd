"""Text-analysis operators: tokenization stats, quality scoring,
language ID, document fingerprinting.

Everything here is pure built-in column expressions (JVM, whole-stage
codegen) — at 100 TB these run as a map-only stage fused into the scan;
no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------


def token_count(text: Column) -> Column:
    """Whitespace token count, 0 for empty/blank text (bigint)."""
    trimmed = F.trim(text)
    return (
        F.when(trimmed == "", F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("long")
    )


# A BPE-ish pre-tokenizer: words, numbers, or single non-space symbols —
# the classic "GPT-2-style" regex shape, simplified to what Java and RE2
# both support (no lookahead), so the oracle can reproduce it.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pretokens (words / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)).cast("long")


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality features: length, token stats, punctuation
    density, stopword ratio. Composable into downstream filters."""
    n_chars = F.length(text).cast("long")
    n_tok = token_count(text)
    toks = F.split(F.trim(text), r"\s+")
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(_STOPWORDS))).cast("long")
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[.,!?;:]"), 0)).cast("long")
    avg_token_len = F.when(n_tok > 0, F.round((n_chars - (n_tok - 1)) / n_tok, 4)).otherwise(
        F.lit(0.0)
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "n_punct": n_punct,
        "n_stopwords": stop_hits,
        "avg_token_len": avg_token_len,
    }


def quality_score(text: Column) -> Column:
    """Length-and-composition score in [0, 1]: favors documents with a
    few hundred tokens and a moderate stopword ratio (a standard web-
    corpus quality heuristic, deterministic and oracle-expressible)."""
    f = quality_features(text)
    length_component = F.least(f["n_tokens"] / F.lit(100.0), F.lit(1.0))
    stop_ratio = F.when(f["n_tokens"] > 0, f["n_stopwords"] / f["n_tokens"]).otherwise(F.lit(0.0))
    stop_component = F.lit(1.0) - F.abs(stop_ratio - F.lit(0.3))
    return F.round(length_component * stop_component, 4)


# ---------------------------------------------------------------------------
# Language ID (character-class heuristic)
# ---------------------------------------------------------------------------


def lang_id(text: Column) -> Column:
    """n-gram/charset heuristic language ID.

    Priority-ordered character-class detection (CJK → kana → hangul →
    cyrillic → latin-with-diacritics → default 'en'). Deterministic and
    expressible in RE2 for the DuckDB oracle.
    """
    return (
        F.when(text.rlike("[぀-ヿ]"), "ja")  # kana wins over shared CJK ideographs
        .when(text.rlike("[一-鿿]"), "zh")
        .when(text.rlike("[가-힯]"), "ko")
        .when(text.rlike("[Ѐ-ӿ]"), "ru")
        .when(text.rlike("[àâçéèêëîïôùûüÿœæ]"), "fr")
        .when(text.rlike("[äöüß]"), "de")
        .when(text.rlike("[áéíóúñ¿¡]"), "es")
        .otherwise("en")
    )


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def content_fingerprint(text: Column) -> Column:
    """MD5 of the normalized text — exact-dup detection key, stable
    across engines (the DuckDB oracle computes the identical digest)."""
    return F.md5(normalized_text(text))


def with_rolling_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    window: int = 8,
    out_col: str = "roll_fp",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing-style document fingerprint: min md5 over character
    ``window``-grams of the normalized text (md5 so DuckDB computes the
    identical digest). ``id_col`` names a unique key column of ``df``.

    Execution: gram positions are EXPLODED and min-aggregated — hashing
    runs inside whole-stage codegen with map-side partial min, then an
    equi join re-attaches the fingerprint (per-key frame: NOT
    broadcast-hinted — it is corpus-sized; AQE picks broadcast at small
    SF and a co-partitioned shuffle join at scale). A ``transform``
    lambda is CodegenFallback: ~1M interpreted md5 calls cost ~4 s at
    sf0.1 where the exploded form is sub-second.

    Probe-gated exact collapse (the near-dup family's
    ``_should_collapse``): on a duplicate-heavy corpus the fingerprint
    is computed once per DISTINCT normalized text and joined back on
    the content fingerprint — the gram-hashing volume (the dominant
    cost: |norm| hash calls per text) scales with unique texts, not
    members. Output-invariant: the fingerprint is a pure function of
    the normalized text, and the md5 join key equates exactly the
    texts whose fingerprints are equal. Mostly-unique corpora go
    straight to the per-id path."""
    from medical_examination_data_etl_system_spark.operators.dedup import _should_collapse

    if not _should_collapse(df, normalized_text(F.col(text_col))):
        return df.join(_rolling_fingerprints(df, id_col, text_col, window, out_col), id_col, "left")
    staged = df.withColumn("_rfp_key", content_fingerprint(F.col(text_col)))
    uniq = staged.select("_rfp_key", text_col).dropDuplicates(["_rfp_key"])
    fps = _rolling_fingerprints(uniq, "_rfp_key", text_col, window, out_col)
    return staged.join(fps, "_rfp_key", "left").drop("_rfp_key")


def _rolling_fingerprints(
    df: DataFrame, key_col: str, text_col: str, window: int, out_col: str
) -> DataFrame:
    """(key_col, out_col): the min-md5 ``window``-gram fingerprint per
    ``key_col`` — the kernel of :func:`with_rolling_fingerprint`."""
    n = F.greatest(F.length("_rfp_norm") - (window - 1), F.lit(1))
    return (
        df.select(key_col, normalized_text(F.col(text_col)).alias("_rfp_norm"))
        .select(key_col, "_rfp_norm", F.explode(F.sequence(F.lit(1), n)).alias("_pos"))
        .select(key_col, F.md5(F.col("_rfp_norm").substr(F.col("_pos"), F.lit(window))).alias("_g"))
        .groupBy(key_col)
        .agg(F.min("_g").alias(out_col))
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document:
    ``(id, term, tf, tfidf, rnk)``.

    Scoring: ``tfidf = tf · ln(N / df)`` (raw counts, no smoothing —
    every quantity is an exact integer until the single ``ln``), rounded
    to 6 places BEFORE ranking so the rank comparison is on the same
    rounded value in any engine; ties break on the term itself.

    Plan: tokenize map-only → (doc, term) count → term-level df
    aggregate → co-partitioned join back on term (vocabulary-sized —
    AQE broadcasts it when small, shuffles on the term key when not;
    both sides arrive hashed on term) → per-doc top-k window. Three
    hash shuffles on high-cardinality keys, no driver-side vocabulary.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs").cast("double") / F.col("_df")), 6
            ),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col("_id").alias(id_col), "term", "tf", "tfidf", "rnk")
        .orderBy(id_col, "rnk")
    )


def token_entropy_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    low_entropy_nats: float = 2.0,
) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) and type-token
    ratio: ``(id, n_tokens, n_types, ttr, entropy, low_entropy)`` —
    the repetitive/degenerate-text quality gate (a doc looping a few
    tokens has near-zero entropy regardless of length, which
    length/stopword features miss).

    Entropy is folded into ONE aggregation pass via
    ``H = ln(T) − (Σ c·ln c)/T`` (algebraically −Σ (c/T)ln(c/T)
    without needing T inside the sum), so the plan is exactly two hash
    aggregations — (doc, term) counts, then per-doc — the same shape
    as ``repetition_stats``. Empty docs emit no token rows and are
    re-attached with 0 tokens / null entropy by a left join from the
    input frame.
    """
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("_t"),
    ).filter(F.col("_t") != "")
    counts = toks.groupBy("_id", "_t").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = counts.groupBy("_id").agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("_c") * F.log(F.col("_c").cast("double"))).alias("_clogc"),
    )
    entropy = F.round(
        F.log(F.col("n_tokens").cast("double"))
        - F.col("_clogc") / F.col("n_tokens"),
        4,
    )
    return (
        docs.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).alias("n_types"),
            F.round(F.col("n_types") / F.col("n_tokens"), 4).alias("ttr"),
            entropy.alias("entropy"),
            (entropy < F.lit(low_entropy_nats)).alias("low_entropy"),
        )
        .orderBy(id_col)
    )
