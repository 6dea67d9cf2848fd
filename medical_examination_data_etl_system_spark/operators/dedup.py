"""Deduplication operators: exact (keep-first), MinHash+LSH, SimHash,
n-gram Jaccard.

100 TB posture:
- exact dedup: one hash-shuffle on the fingerprint; map-side the
  fingerprint is computed inside the scan stage (codegen).
- one exact-content collapse for the near-dup family: exact copies
  reduce to their min-id representative (``_collapse_docs``), a private
  ``_…_pairs`` kernel scores the representatives, and
  ``_expand_rep_pairs`` expands back to member pairs, byte-identical to
  the kernel run on every member. Quadratic candidate stages then scale
  with unique texts. MinHash and the md5 twins always collapse; SimHash,
  n-gram Jaccard/containment and Hamming collapse when the one
  ``_should_collapse`` probe finds enough duplicates; fuzzy Levenshtein's
  own (block, prefix) grouping already merges exact copies.
- MinHash LSH: shingle hashing and all signature mins run as exploded
  rows through codegen aggregations (no HOF lambdas, no collect_set —
  one TypedImperativeAggregate de-codegens the whole aggregation);
  candidate generation shuffles only (doc_id, band_hash) longs; exact
  Jaccard verification is an inverted-index count join over distinct
  (doc, shingle-hash) rows. No O(n²) stage anywhere. Shingle k=9
  (Broder-style): 5-char shingles of natural text are so common that
  moderate-similarity pairs flood the banding (measured 236k candidates
  → 754 at sf0.1 for the SAME ≥0.5 output pairs).
- SimHash: one shuffle (explode tokens → groupBy doc) to build 64-bit
  fingerprints; banding on 16-bit chunks finds Hamming≤3 candidates by
  pigeonhole; verification is bit_count(xor) — pure JVM.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.cache import persist_tracked
from medical_examination_data_etl_system_spark.operators.text_analysis import (
    content_fingerprint,
    normalized_text,
)

# ---------------------------------------------------------------------------
# Exact dedup (keep-first by sort key) — the pipeline's A2 pattern, scaled
# ---------------------------------------------------------------------------


def dedup_exact_keep_first(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row (lowest order_col) per key — deterministic,
    unlike ``dropDuplicates``."""
    w = W.partitionBy(*key_cols).orderBy(order_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def dedup_documents_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-exact dedup: fingerprint normalized text, keep lowest id."""
    with_fp = docs.withColumn("fingerprint", content_fingerprint(F.col(text_col)))
    return dedup_exact_keep_first(with_fp, ["fingerprint"], id_col)


# ---------------------------------------------------------------------------
# Exact-content collapse shared by the near-dup family
# ---------------------------------------------------------------------------

# Collapse iff the probe's distinct keys fall below this share of rows,
# i.e. ≳20 % duplicates: far above HLL's ~5 % error, and comfortably
# below the 10×-replication regime where collapse is worth 20× (measured).
_COLLAPSE_RATIO = 0.8


def _should_collapse(df: DataFrame, *key_cols: Column) -> bool:
    """Decide whether exact-content collapse pays (VERDICT r3: "skip the
    collapse when distinct fingerprints ≈ rows — one cheap agg decides").

    Collapse is OUTPUT-INVARIANT (pinned in tests), so this is purely a
    cost decision: the quadratic candidate stages scale with unique²,
    which only beats the collapse's own window shuffle + expansion
    joins when duplication is substantial. One approx_count_distinct
    over xxhash64 of ``key_cols`` (HLL partials — no exact-distinct
    shuffle; xxhash64, not md5, since it is never compared across
    engines): collapse iff distinct < ``_COLLAPSE_RATIO`` × rows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.approx_count_distinct(F.xxhash64(*key_cols)).alias("d")
    ).collect()[0]
    return row["d"] < _COLLAPSE_RATIO * max(row["n"], 1)


def _collapse_docs(df: DataFrame, id_col: str, *key_cols: Column) -> tuple[DataFrame, DataFrame]:
    """(members, reps) for exact-content collapse in ONE window pass.

    members: (_id, _rep) — every row mapped to the min-id representative
    of its ``key_cols`` group. reps: the representative rows with ALL of
    ``df``'s columns, filtered from the SAME windowed frame (persisted)
    — no join back onto df, which cost a second full-docs shuffle. The
    window's exchange on the key is the one unavoidable shuffle of any
    exact-dedup pass.
    """
    windowed = persist_tracked(
        df.withColumn("_rep", F.min(id_col).over(W.partitionBy(*key_cols)))
    )
    members = windowed.select(F.col(id_col).alias("_id"), "_rep")
    reps = windowed.filter(F.col(id_col) == F.col("_rep")).drop("_rep")
    return members, reps


def _expand_rep_pairs(
    members: DataFrame,
    rep_pairs: DataFrame,
    metric: str,
    intra_value: float,
    intra_reps: DataFrame | None = None,
) -> DataFrame:
    """Member pairs ``(id_a, id_b, metric)`` from representative pairs.

    Copies share everything a kernel reads (shingle, token and gram
    sets, set sizes, prefixes, hash values), so every cross-group
    member pair inherits its representatives' ``metric`` and copies
    within a group pair at ``intra_value`` (1.0 for similarities, 0 for
    distances). ``intra_reps`` (a ``_rep`` frame), when given, limits
    the intra pairs to those groups. Output-bound: array-free joins on
    the (_id, _rep) members frame."""
    ma = members.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_ma"))
    mb = members.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            metric,
        )
    )
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y, (F.col("x._rep") == F.col("y._rep")) & (F.col("x._id") < F.col("y._id"))
    )
    if intra_reps is not None:
        intra = intra.join(intra_reps, F.col("x._rep") == intra_reps._rep)
    intra = intra.select(
        F.col("x._id").alias("id_a"),
        F.col("y._id").alias("id_b"),
        F.lit(intra_value).alias(metric),
    )
    return cross.unionByName(intra)


def _collapsed_text_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    kernel,
    metric: str,
    intra_value: float,
    block_col: str | None = None,
    min_tokens: int | None = None,
) -> DataFrame:
    """Exact-content collapse around a pair ``kernel``: exact copies
    (same normalized text, and same block when ``block_col`` is given —
    only same-block pairs are ever compared, so cross-block copies must
    NOT collapse) reduce to one representative, ``kernel`` scores the
    representatives, and the pairs expand back to member pairs.

    ``min_tokens`` gates the intra pairs for the n-gram metrics:
    zero-gram docs (< n tokens) never pair in the direct form — their
    gram sets are empty, and 0/0 yields no row — so exact copies of
    such docs must not pair here either: only groups whose
    representative has ≥ ``min_tokens`` tokens expand."""
    blocks = [F.col(block_col)] if block_col else []
    members, reps = _collapse_docs(docs, id_col, content_fingerprint(F.col(text_col)), *blocks)
    intra_reps = None
    if min_tokens is not None:
        intra_reps = (
            reps.select(
                F.col(id_col).alias("_rep"),
                F.split(normalized_text(F.col(text_col)), " ").alias("_t"),
            )
            .filter(F.size("_t") >= min_tokens)
            .select("_rep")
        )
    return _expand_rep_pairs(members, kernel(reps), metric, intra_value, intra_reps).orderBy(
        "id_a", "id_b"
    )


def _probe_gated_text_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    kernel,
    metric: str,
    intra_value: float,
    block_col: str | None = None,
    min_tokens: int | None = None,
) -> DataFrame:
    """:func:`_collapsed_text_pairs` when ``_should_collapse`` finds
    enough exact copies (same key as the collapse), else ``kernel`` on
    every doc."""
    blocks = [F.col(block_col)] if block_col else []
    if _should_collapse(docs, *blocks, normalized_text(F.col(text_col))):
        return _collapsed_text_pairs(
            docs, text_col, id_col, kernel, metric, intra_value, block_col, min_tokens
        )
    return kernel(docs).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Character shingles + MinHash signatures (deterministic, hash-based)
#
# History note: earlier revisions built per-doc shingle ARRAYS with
# higher-order transform() lambdas — correct, but HOF lambdas are
# CodegenFallback (interpreted per element) and a 2-param lambda
# (`lambda h, i=i:`) silently becomes the (element, index) form. The
# exploded-row formulation below replaced them wholesale.
# ---------------------------------------------------------------------------


def shingle_hash_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 9
) -> DataFrame:
    """(_id, _h): one row per character-shingle position, hash as long.

    Codegen note (the whole MinHash pipeline is built on this): Spark's
    higher-order functions (``transform``/``aggregate``) are
    CodegenFallback — the lambda is INTERPRETED per array element — so
    building shingle arrays with ``transform`` put ~1M interpreted
    substr+hash calls on the hot path (~4 s at sf0.1 for 5k docs).
    Exploding positions instead keeps substr+xxhash64 inside whole-stage
    codegen; duplicates are fine downstream (min() is duplicate-
    insensitive, sets are rebuilt by collect_set)."""
    staged = docs.select(
        F.col(id_col).alias("_id"), normalized_text(F.col(text_col)).alias("_norm")
    )
    n = F.greatest(F.length("_norm") - (k - 1), F.lit(1))
    return staged.select(
        "_id", "_norm", F.explode(F.sequence(F.lit(1), n)).alias("_pos")
    ).select("_id", F.xxhash64(F.col("_norm").substr(F.col("_pos"), F.lit(k))).alias("_h"))


def minhash_md5_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`minhash_near_duplicates` made exact-hash-checkable — the
    md5 sketch-chip applied to the flagship near-dup path (rows-only by
    its xxhash64 signatures). Same distributed shape per stage:
    exploded-position shingling (whole-stage codegen, no HOF lambdas),
    ONE pure-min signature aggregation, band-bucket equi-join for
    candidates, inverted-index count join for exact-Jaccard
    verification. Engine-determinism: one seeded md5 digest per BAND
    per distinct shingle, split into four independent 32-bit signature
    components (a Broder double-hashing first cut correlated the
    components and inflated band collisions ~80× — see the comment at
    the signature aggregate); band keys are the comma-joined
    components of that band's own digest. DuckDB rebuilds every stage
    value-exactly, so banding, candidate generation, AND the verified
    Jaccard all sit under the driver hash gate.

    The exact-content collapse is part of the certified semantics here,
    not only a cost choice: the md5 content fingerprint is
    engine-deterministic, so the oracle replays collapse,
    representative pipeline, and member expansion literally. Without it the band-bucket self-join is
    member² on duplicate-heavy corpora (the 100× replica corpus made
    the uncollapsed form fail outright on candidate volume)."""
    kernel = partial(
        _minhash_md5_rep_pairs,
        text_col=text_col,
        id_col=id_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    return _collapsed_text_pairs(docs, text_col, id_col, kernel, "jaccard", 1.0)


def minhash_estimate_calibration(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Sketch-quality evaluation: for every LSH candidate pair (over
    exact-distinct representative texts — duplicates carry no
    calibration signal), the MinHash signature-agreement ESTIMATE next
    to the verified exact Jaccard and the absolute error. Answers, in
    one driver-checkable query, "how well does the 16-component md5
    sketch approximate the similarity it gates on" — the eval a user
    runs before trusting the near-dup threshold at crawl scale. Same
    deterministic md5 construction as :func:`minhash_md5_exact`, so
    the whole surface (candidates, estimate, exact value, error) is
    exact-hash-checkable against a SQL oracle; no threshold filter —
    calibration wants the full candidate set, errors included."""
    _, reps = _collapse_docs(docs, id_col, content_fingerprint(F.col(text_col)))
    return _minhash_md5_rep_pairs(
        reps, text_col, id_col, shingle_k, num_hashes, bands, 0.0, with_estimate=True
    )


def minhash_incremental_dedup(
    docs: DataFrame,
    split_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup dedup — the production ingest shape: docs
    with ``id >= split_id`` are the NEW batch, everything below is the
    already-deduped corpus whose MinHash state (band buckets + shingle
    index) a real system keeps persisted. Per batch doc: the earlier
    doc it duplicates, canonicalized deterministically — exact content
    → its fingerprint group's representative at Jaccard 1.0, else the
    min-id verified near-dup partner among the incrementally computed
    pairs — or 'unique'. (Min-id across BOTH match kinds would need
    the corpus's own historical near links; dedup-on-ingest keeps the
    direct answer.)

    Cost shape is the incremental contract: the corpus side feeds band
    keys and the inverted shingle index only — candidate generation and
    Jaccard verification are restricted to pairs whose later side is a
    batch rep (``right_min_id`` pushdown in the shared kernel), so
    per-batch work scales with the batch, never corpus². Exact-content
    collapse runs over the union (corpus∪batch reps dedup the
    signature work exactly as in :func:`minhash_md5_exact`). Canonical
    TRANSITIVE representatives remain the connected-components query's
    job (docs_semantic_dedup); dedup-on-ingest wants the direct match.
    Same md5 determinism as the exact twin → full DuckDB oracle.
    """
    members, reps = _collapse_docs(docs, id_col, content_fingerprint(F.col(text_col)))
    pairs = _minhash_md5_rep_pairs(
        reps,
        text_col,
        id_col,
        shingle_k,
        num_hashes,
        bands,
        threshold,
        right_min_id=split_id,
    )
    near = pairs.groupBy(F.col("id_b").alias("_nid")).agg(
        F.min("id_a").alias("_near_of"),
        F.min_by("jaccard", "id_a").alias("_near_j"),
    )
    base = members.filter(F.col("_id") >= F.lit(split_id))
    # Exact dups resolve to their group rep (jaccard 1.0); self-reps
    # consult the restricted near pairs; neither → unique.
    scored = (
        base.join(near, base["_rep"] == F.col("_nid"), "left")
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("_id") != F.col("_rep"), F.col("_rep"))
            .otherwise(F.col("_near_of"))
            .alias("dup_of"),
            F.when(F.col("_id") != F.col("_rep"), F.lit(1.0))
            .otherwise(F.col("_near_j"))
            .alias("jaccard"),
        )
    )
    return scored.select(
        id_col,
        "dup_of",
        "jaccard",
        F.when(F.col("dup_of").isNull(), "unique")
        .when(F.col("dup_of") < F.lit(split_id), "dup_corpus")
        .otherwise("dup_batch")
        .alias("verdict"),
    ).orderBy(id_col)


def _minhash_md5_rep_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    with_estimate: bool = False,
    right_min_id: int | None = None,
) -> DataFrame:
    """The core md5-MinHash pipeline over (already exact-distinct)
    representative docs — see :func:`minhash_md5_exact`.

    ``with_estimate=True`` additionally returns the signature-agreement
    Jaccard ESTIMATE (matching components / ``num_hashes``) and its
    absolute error vs the verified exact Jaccard — the sketch
    calibration surface (how good is the MinHash approximation on the
    candidates it actually surfaces). Costs two extra broadcast-sized
    probes into the already-persisted signature frame; the candidate
    and verification stages are shared unchanged."""
    rows_per_band = num_hashes // bands
    staged = docs.select(
        F.col(id_col).alias("_id"), normalized_text(F.col(text_col)).alias("_norm")
    )
    n = F.greatest(F.length("_norm") - (shingle_k - 1), F.lit(1))
    # Persisted clustered by _id (r13): three consumers aggregate or
    # join this frame on _id (the signature groupBy, the sizes groupBy,
    # the verification probe) and each re-exchanged the full exploded
    # shingle frame; one repartition before the persist is reused by
    # all three (guide §2.4). Measured 14.8 → 13.7 s across the three
    # md5-MinHash driver queries at sf0.1.
    sh = persist_tracked(
        staged.select("_id", "_norm", F.explode(F.sequence(F.lit(1), n)).alias("_pos"))
        .select("_id", F.col("_norm").substr(F.col("_pos"), F.lit(shingle_k)).alias("_s"))
        .distinct()
        .repartition("_id")
    )
    # INDEPENDENT signature components, not Broder double hashing: the
    # first cut used min(h1 + i·h2) from one digest, and the
    # correlation between components inflated band-key collisions
    # ~80× (412k candidate pairs at sf0.1 where the true near-dup set
    # is thousands) — verification then dwarfed every other stage.
    # One seeded digest per BAND, split into ``rows_per_band``
    # independent 32-bit values, restores the s-curve: each band key
    # is a function of its own digest.
    n_digests = (num_hashes + 3) // 4
    hashed = sh.select(
        "_id",
        *[
            F.md5(F.concat(F.lit(f"{d}:"), F.col("_s"))).alias(f"_d{d}")
            for d in range(n_digests)
        ],
    )
    # Persisted: the signature frame is read by every band × both join
    # sides (8 branches) — unpersisted, each branch re-ran the digest
    # aggregation (measured 3× on the full kernel).
    sig = persist_tracked(
        hashed.groupBy("_id").agg(
            *[
                F.min(
                    F.conv(F.substring(f"_d{i // 4}", 8 * (i % 4) + 1, 8), 16, 10).cast("long")
                ).alias(f"_s{i}")
                for i in range(num_hashes)
            ]
        )
    )
    # One posexplode pass over a per-row band-key array instead of a
    # ``bands``-way union of per-band selects: the union planned one
    # InMemoryTableScan branch per band PER JOIN SIDE (8 here) and the
    # extra stages showed up as pure scheduling overhead on this
    # many-small-stages plan — collapsing them re-measured the full
    # incremental-dedup query 5.6 s → 3.5 s at sf0.1 (idle min-of-5)
    # with bit-identical band keys, so every oracle is unchanged.
    band_key_array = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.col(f"_s{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select("_id", F.posexplode(band_key_array).alias("_band", "_bkey"))
    # Incremental restriction: only pairs whose LATER side is a new
    # (>= right_min_id) doc — the corpus side contributes band keys and
    # the shingle index (the persisted dedup state) but no corpus×corpus
    # re-verification, so per-batch cost scales with the batch.
    right = buckets if right_min_id is None else buckets.filter(
        F.col("_id") >= F.lit(right_min_id)
    )
    a, b = buckets.alias("a"), right.alias("b")
    cand = persist_tracked(
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bkey") == F.col("b._bkey"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa")), "id_a")
        .join(
            sh.select(F.col("_id").alias("_idb"), F.col("_s").alias("_sb")),
            (F.col("id_b") == F.col("_idb")) & (F.col("_sa") == F.col("_sb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    jac = F.round(
        F.coalesce(F.col("_i"), F.lit(0)).cast("double")
        / (F.col("_na") + F.col("_nb") - F.coalesce(F.col("_i"), F.lit(0))),
        4,
    )
    verified = (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
    )
    if not with_estimate:
        return (
            verified.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
            .orderBy("id_a", "id_b")
        )
    sig_a = sig.select(
        F.col("_id").alias("id_a"),
        *[F.col(f"_s{i}").alias(f"_sa{i}") for i in range(num_hashes)],
    )
    sig_b = sig.select(
        F.col("_id").alias("id_b"),
        *[F.col(f"_s{i}").alias(f"_sb{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"_sa{i}") == F.col(f"_sb{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    est = F.round(matches.cast("double") / F.lit(num_hashes), 4)
    return (
        verified.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            est.alias("mh_estimate"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .withColumn("abs_err", F.round(F.abs(F.col("mh_estimate") - F.col("jaccard")), 4))
        .orderBy("id_a", "id_b")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, exact-Jaccard verified.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    Exact-content duplicates always reduce to one representative BEFORE
    shingling (no probe), and representative pairs expand back to member
    pairs afterward. Unlike SimHash/n-gram, whose collapse is
    probe-gated, MinHash measured faster collapsed even on the
    mostly-unique sf0.1 corpus (the cached representative frame feeds
    the 33-column signature aggregate and the verification joins), and
    the collapse is the safe scale default for duplicate-heavy crawls.
    Identical output — copies of a text have identical shingle sets, so
    intra-group pairs are jaccard 1.0 and every cross-group member pair
    inherits its representatives' jaccard — but the quadratic stages
    (band buckets, array-carrying verification joins) scale with UNIQUE
    texts. This is structural at scale: a duplicate-heavy crawl (the
    normal case — measured 10× replication turning 8.7k candidates into
    23.9M, with verification shuffling 3 KB of shingle arrays per pair)
    otherwise pays member² where it owes unique². The expansion is
    output-bound (three array-free joins).
    """
    kernel = partial(
        _minhash_pairs,
        text_col=text_col,
        id_col=id_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    return _collapsed_text_pairs(docs, text_col, id_col, kernel, "jaccard", 1.0)


def _minhash_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """The MinHash kernel of :func:`minhash_near_duplicates` over every
    doc of ``docs``, unordered."""
    rows = num_hashes // bands
    # Shingle set AND all num_hashes signature mins come out of ONE
    # aggregation over the exploded shingle rows — min(xxhash64(i, h))
    # per doc is codegen'd with map-side partials, replacing the
    # interpreted array_min(transform(...)) per signature index
    # (CodegenFallback; was ~3.5 s of the sf0.1 runtime on its own).
    # Signature values are identical: min over duplicated rows == min
    # over the distinct set.
    #
    # NO collect_set anywhere: a single TypedImperativeAggregate in an
    # aggregation forces the WHOLE thing onto the interpreted
    # ObjectHashAggregate path — all num_hashes min() updates included.
    # The signature aggregation stays pure min()s (codegen HashAggregate
    # with map-side partials), and verification works on the exploded
    # distinct (id, shingle-hash) ROWS — an inverted-index count join,
    # not array_intersect over packed arrays.
    #
    # Persisted (tracked — release via operators.cache): the shingle
    # rows feed the signature agg AND the distinct index; the distinct
    # index feeds the size agg and both verification joins.
    # Persisted clustered by _id (r13, same move as the md5 kernel's
    # shingle frame): the signature groupBy(_id), the distinct (whose
    # (_id,_h) clustering a hashpartitioning(_id) already satisfies),
    # the sizes groupBy(_id) and the side-A verification probe all key
    # on _id — one repartition before the persist replaces their
    # per-consumer exchanges, and distinct_rows inherits the layout.
    # Measured 6.95 → 6.05 s on docs_near_dup_components at sf0.1.
    rows_df = persist_tracked(
        shingle_hash_rows(docs, text_col, id_col, shingle_k).repartition("_id")
    )
    distinct_rows = persist_tracked(rows_df.distinct())
    sig_aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("_h"))).alias(f"_s{i}") for i in range(num_hashes)
    ]
    shingled = rows_df.groupBy("_id").agg(*sig_aggs)
    sigs = [F.col(f"_s{i}") for i in range(num_hashes)]
    # Candidate generation moves ONLY (doc_id, band_idx, band_hash) — the
    # shingle arrays never enter the LSH shuffle. At 100 TB the exploded
    # band frame is O(docs × bands) longs, orders of magnitude smaller
    # than the corpus; both self-join sides share one exchange
    # (ReusedExchange) since the subplans are identical.
    banded = shingled.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            "|", F.lit(b), *[s.cast("string") for s in sigs[b * rows : (b + 1) * rows]]
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band_idx", "_band_hash"),
    )
    banded = persist_tracked(banded)  # (id, band) longs — tiny
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a._band_idx") == F.col("b._band_idx"))
            & (F.col("a._band_hash") == F.col("b._band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # Exact-Jaccard verification, inverted-index style: expand each
    # candidate pair by side A's distinct shingle rows, equi-join side
    # B's rows on (doc, shingle-hash) — every match IS one intersection
    # element — and count per pair. All codegen; the per-pair work is
    # |A| index rows + a hash probe each, vs interpreted array_intersect
    # over packed arrays. |A∪B| = n_a + n_b − |A∩B| from per-doc sizes.
    # A candidate pair with an empty intersection (possible only via
    # seeded-hash coincidence) simply drops out — jaccard 0 was filtered
    # anyway.
    sizes = distinct_rows.groupBy("_id").agg(F.count(F.lit(1)).alias("_nsh"))
    ra = distinct_rows.select(F.col("_id").alias("id_a"), F.col("_h").alias("_ha"))
    rb = distinct_rows.select(F.col("_id").alias("_rb_id"), F.col("_h").alias("_hb"))
    inter_counts = (
        candidates.join(ra, "id_a")
        .join(rb, (F.col("id_b") == F.col("_rb_id")) & (F.col("_ha") == F.col("_hb")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    verified = inter_counts.join(
        sizes.select(F.col("_id").alias("id_a"), F.col("_nsh").alias("n_a")), "id_a"
    ).join(sizes.select(F.col("_id").alias("id_b"), F.col("_nsh").alias("n_b")), "id_b")
    jaccard = F.round(F.col("_inter") / (F.col("n_a") + F.col("n_b") - F.col("_inter")), 4)
    return (
        verified.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit) + Hamming banding
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash bigint): count-weighted sign-sum over token-hash bits.

    One shuffle: explode tokens (multiplicity IS the count weight), hash
    each once, aggregate the 64 sign-sums per doc. Partial (map-side)
    aggregation collapses each partition to one 64-column row per doc
    before the exchange, so the shuffle carries ~docs×64 longs, not
    tokens. The 64 multiply-adds are whole-stage-codegen compiled —
    measured 3× faster than the higher-order ``aggregate`` formulation,
    which is interpreted per element."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("_tok"),
    ).select("_id", F.xxhash64("_tok").alias("_h"))
    bit_sums = [
        F.sum(F.shiftright("_h", k).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_b{k}")
        for k in range(64)
    ]
    per_doc = toks.groupBy("_id").agg(*bit_sums)
    fp = None
    for k in range(64):
        bit = (F.col(f"_b{k}") > 0).cast("long")
        term = F.shiftleft(bit, k)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: XOR == OR
    return per_doc.select(F.col("_id").alias(id_col), fp.alias("simhash"))


def simhash_md5_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """:func:`simhash_near_duplicates` made exact-hash-checkable — the
    md5 chip applied to the SimHash kernel (rows-only in production by
    its xxhash64 token hashes). Identical distributed shape:
    count-weighted token explode (multiplicity IS the weight — no
    distinct), one groupBy with the per-bit sign-sums partial-
    aggregated map-side, fingerprint assembled from disjoint bit
    terms, 4-chunk pigeonhole banding (Hamming ≤ 3 guarantees a shared
    chunk), ``bit_count(xor)`` verification. 60 bits instead of 64:
    the hash is the 15-hex-char md5 prefix (16 chars would set the
    sign bit of a BIGINT cast — engine-dependent overflow), so chunks
    are 4×15 bits. The exact-content collapse is certified like the
    MinHash twin's (md5 fingerprint replays in the oracle)."""
    kernel = partial(
        _simhash_md5_rep_pairs, text_col=text_col, id_col=id_col, max_hamming=max_hamming
    )
    return _collapsed_text_pairs(docs, text_col, id_col, kernel, "hamming", 0)


def _simhash_md5_rep_pairs(
    docs: DataFrame, text_col: str, id_col: str, max_hamming: int
) -> DataFrame:
    """Core md5-SimHash pipeline over exact-distinct representatives —
    see :func:`simhash_md5_exact`."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("_tok"),
    ).select(
        "_id",
        F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10).cast("long").alias("_h"),
    )
    bit_sums = [
        F.sum(F.shiftright("_h", k).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_b{k}")
        for k in range(60)
    ]
    per_doc = toks.groupBy("_id").agg(*bit_sums)
    fp = None
    for k in range(60):
        bit = (F.col(f"_b{k}") > 0).cast("long")
        term = F.shiftleft(bit, k)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: XOR == OR
    fps = persist_tracked(per_doc.select(F.col("_id"), fp.alias("_fp")))
    chunks = fps.select(
        "_id",
        "_fp",
        F.posexplode(
            F.array(
                *[F.shiftright("_fp", 15 * c).bitwiseAND(F.lit(0x7FFF)) for c in range(4)]
            )
        ).alias("_ci", "_cv"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp")))
    return (
        a.join(
            b,
            (F.col("a._ci") == F.col("b._ci"))
            & (F.col("a._cv") == F.col("b._cv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Banding: 4×16-bit chunks — any pair within Hamming 3 shares at least
    one chunk (pigeonhole), so candidate generation is 4 equi-joins, not
    an O(n²) scan.

    Same exact-content collapse as MinHash, but probe-gated
    (``_should_collapse`` — VERDICT r3's simhash bench anomaly was
    exactly this collapse buying nothing on a mostly-unique corpus):
    exact copies share the token multiset, hence the fingerprint, hence
    hamming 0 intra-group and the representatives' hamming cross-group;
    the chunk join's bucket² then scales with unique texts."""
    kernel = partial(_simhash_pairs, text_col=text_col, id_col=id_col, max_hamming=max_hamming)
    return _probe_gated_text_pairs(docs, text_col, id_col, kernel, "hamming", 0)


def _simhash_pairs(docs: DataFrame, text_col: str, id_col: str, max_hamming: int) -> DataFrame:
    """The SimHash kernel of :func:`simhash_near_duplicates` over every
    doc of ``docs``, unordered."""
    fps = simhash_fingerprints(docs, text_col, id_col)
    chunks = fps.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright("simhash", 16 * c).bitwiseAND(F.lit(0xFFFF)) for c in range(4)])
        ).alias("_chunk_idx", "_chunk"),
    )
    left = chunks.select(
        F.col("_chunk_idx").alias("ci"), F.col("_chunk").alias("cv"),
        F.col("_id").alias("id_a"), F.col("simhash").alias("fp_a"),
    )
    right = chunks.select(
        F.col("_chunk_idx").alias("ci"), F.col("_chunk").alias("cv"),
        F.col("_id").alias("id_b"), F.col("simhash").alias("fp_b"),
    )
    return (
        left.join(right, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, oracle-expressible)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "source",
    n: int = 2,
    threshold: float = 0.2,
    max_df: int = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within the same block
    (blocking keeps the pair space linear-ish; at 100 TB the block
    column would be a coarse cluster key such as an LSH band).

    Probe-gated exact-content collapse (``_should_collapse``,
    block-aware: only same-block duplicates are collapsible) — exact
    duplicates WITHIN A BLOCK reduce to one representative before gram
    building; identical token sets make the expansion exact (intra-group
    jaccard 1.0, cross pairs inherit the representatives' value). The
    inverted index's Σdf² then scales with unique texts per block, not
    raw members."""
    kernel = partial(
        _ngram_jaccard_pairs,
        text_col=text_col,
        id_col=id_col,
        block_col=block_col,
        n=n,
        threshold=threshold,
        max_df=max_df,
    )
    return _probe_gated_text_pairs(
        docs, text_col, id_col, kernel, "jaccard", 1.0, block_col, min_tokens=n
    )


def _ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None,
    n: int,
    threshold: float,
    max_df: int,
) -> DataFrame:
    """The n-gram Jaccard kernel of :func:`ngram_jaccard_pairs` over
    every doc of ``docs``, unordered."""
    pairs = _gram_pair_counts(docs, text_col, id_col, block_col, n, max_df)
    jaccard = F.round(F.col("_inter") / (F.col("n_a") + F.col("n_b") - F.col("_inter")), 4)
    return pairs.select("id_a", "id_b", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def fuzzy_levenshtein_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "source",
    prefix_len: int = 24,
    threshold: int = 6,
) -> DataFrame:
    """Edit-distance fuzzy matching on normalized ``prefix_len``-char
    prefixes within the same block — the record-linkage primitive for
    near-identical titles/headers exact hashing misses. Candidates come
    from a PassJoin-style pigeonhole partition filter (k+1 segments,
    shift-bounded probes — see the inline plan below), verified with
    the 3-arg BANDED Levenshtein (O(len·k), early exit past the
    threshold), so pair volume tracks segment-hash collisions, never
    Σ|block|². Exact copies need no collapse of their own: the
    (block, prefix) grouping below already merges every set of them
    (equal normalized texts have equal prefixes)."""
    # PassJoin-style partition filter (Li/Deng/Feng, PVLDB 2011) instead
    # of the within-block all-pairs join the first cut used. The
    # adversarial (mostly-unique) 100× corpus killed the
    # all-pairs form: 20 blocks × ~25k unique prefixes each is ~10^10
    # candidate pairs squeezed through ~20-way join parallelism
    # (>22 min, 2 cores busy), while the TRUE answer is ~4×10^5 pairs —
    # the filter, not the answer, was quadratic. Plan here:
    #   1. collapse identical (block, prefix) groups (the metric is a
    #      pure function of the prefix) — subsumes exact-text collapse;
    #   2. pigeonhole: partition each prefix into k+1 even segments —
    #      any pair within edit distance k shares ≥1 segment verbatim,
    #      at a position shift s bounded by |s| + |s - Δ| ≤ k
    #      (Δ = length difference: ≥|s| edits must land before the
    #      untouched segment and ≥|s-Δ| after it);
    #   3. equi-join segment hashes (block, index-length, seg#, h) and
    #      verify candidates inline with the 3-arg banded DP — false
    #      candidates (hash or pigeonhole slack) die in-stage, nothing
    #      quadratic is ever shuffled or distinct'd;
    #   4. expand group pairs back to member pairs (cross: the groups'
    #      distance; intra: 0) with the family's ``_expand_rep_pairs``.
    # Strings shorter than k+1 chars cannot host k+1 non-empty segments
    # and take a tiny all-pairs branch against partners within the
    # length filter (both sides < 2k+1 chars — a bounded sliver).
    k = threshold
    nseg = k + 1
    t = docs.select(
        F.col(id_col).alias("_id"),
        (F.col(block_col) if block_col else F.lit("all")).alias("_blk"),
        F.substring(normalized_text(F.col(text_col)), 1, prefix_len).alias("_pfx"),
    ).withColumn("_len", F.length("_pfx"))
    members, groups = _collapse_docs(t, "_id", F.col("_blk"), F.col("_pfx"))
    groups = persist_tracked(groups)

    # even segmentation of an _la-char string: segment i spans
    # [floor(i·L/nseg)+1, floor((i+1)·L/nseg)] — disjoint, complete.
    seg_start = (F.floor(F.col("_seg") * F.col("_la") / nseg) + 1).cast("int")
    seg_len = (
        F.floor((F.col("_seg") + 1) * F.col("_la") / nseg)
        - F.floor(F.col("_seg") * F.col("_la") / nseg)
    ).cast("int")

    segmentable = groups.filter(F.col("_len") >= nseg)
    idx = segmentable.select(
        "_blk",
        F.col("_len").alias("_la"),
        "_id",
        "_pfx",
        F.explode(F.sequence(F.lit(0), F.lit(nseg - 1))).alias("_seg"),
    ).select(
        "_blk", "_la", "_seg", "_id", "_pfx",
        F.xxhash64(F.col("_pfx").substr(seg_start, seg_len)).alias("_h"),
    )

    # probe every index length class present in the block within ±k of
    # own length; the distinct-lens frame is tiny and broadcast.
    lens = segmentable.select("_blk", F.col("_len").alias("_la")).distinct()
    delta = F.col("_len") - F.col("_la")
    half = F.floor((F.lit(k) - F.abs(delta)) / 2)
    probes = (
        segmentable.join(F.broadcast(lens), "_blk")
        .filter(F.abs(delta) <= k)
        .select(
            "_blk", "_la", "_id", "_pfx", "_len",
            F.explode(F.sequence(F.lit(0), F.lit(nseg - 1))).alias("_seg"),
        )
        .withColumn("_q_lo", F.greatest(F.lit(1), (seg_start + F.least(F.lit(0), delta) - half).cast("int")))
        .withColumn(
            "_q_hi",
            F.least(
                (F.col("_len") - seg_len + 1).cast("int"),
                (seg_start + F.greatest(F.lit(0), delta) + half).cast("int"),
            ),
        )
        .filter(F.col("_q_lo") <= F.col("_q_hi"))
        .select(
            "_blk", "_la", "_seg", "_id", "_pfx",
            F.explode(F.sequence("_q_lo", "_q_hi")).alias("_q"),
        )
        .select(
            "_blk", "_la", "_seg",
            F.col("_id").alias("_idb"),
            F.col("_pfx").alias("_pfxb"),
            F.xxhash64(F.col("_pfx").substr(F.col("_q"), seg_len)).alias("_h"),
        )
    )

    dist = F.levenshtein(F.col("i._pfx"), F.col("p._pfxb"), threshold)
    # index < probe id is sound: both sides are segmentable, and the
    # pigeonhole holds with either string as the partitioned one.
    cand = (
        idx.alias("i")
        .join(
            probes.alias("p"),
            (F.col("i._blk") == F.col("p._blk"))
            & (F.col("i._la") == F.col("p._la"))
            & (F.col("i._seg") == F.col("p._seg"))
            & (F.col("i._h") == F.col("p._h"))
            & (F.col("i._id") < F.col("p._idb")),
        )
        .select(
            F.col("i._id").alias("id_a"),
            F.col("p._idb").alias("id_b"),
            dist.alias("distance"),
        )
        .filter(F.col("distance").between(0, threshold))
        .distinct()
    )

    tiny = groups.filter(F.col("_len") < nseg)
    near = groups.filter(F.col("_len") < nseg + k)
    tdist = F.levenshtein(F.col("x._pfx"), F.col("y._pfx"), threshold)
    tiny_pairs = (
        tiny.alias("x")
        .join(
            near.alias("y"),
            (F.col("x._blk") == F.col("y._blk")) & (F.col("x._id") != F.col("y._id")),
        )
        .select(
            F.least("x._id", "y._id").alias("id_a"),
            F.greatest("x._id", "y._id").alias("id_b"),
            tdist.alias("distance"),
        )
        .filter(F.col("distance").between(0, threshold))
        .distinct()
    )
    group_pairs = cand.unionByName(tiny_pairs)

    return _expand_rep_pairs(members, group_pairs, "distance", 0).orderBy("id_a", "id_b")


def _gram_pair_counts(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None,
    n: int,
    max_df: int,
) -> DataFrame:
    """Shared inverted-index core for the exact set-overlap family
    (Jaccard, containment): per same-block pair, the distinct-gram
    intersection count plus both set sizes —
    ``(id_a, id_b, n_a, n_b, _inter)``.

    Inverted-index formulation: explode n-grams and count shared grams
    per pair by aggregation. Pairs sharing no gram never materialize —
    unlike an array_intersect over every within-block pair, which is
    quadratic in non-overlapping pairs. Shuffled rows are (id, gram)
    tokens; pair volume is Σ_g df(g)² — ONE stop-word-like gram with
    df=d contributes d² pairs, so ultra-frequent grams are dropped
    from the index before pairing (df > max_df). That is structural at
    100 TB, not tuning: a gram shared by a million docs says nothing
    about pairwise similarity but would alone emit 10¹² join rows.
    Recall loss is bounded: dropping a gram can only LOWER the counted
    intersection for pairs that shared it; max_df=10k exceeds any
    testdata df, so tested results are byte-identical with the cap on.
    Grams enter the index as xxhash64 longs: the shuffle moves 8-byte
    keys instead of n-word strings and the equi-join compares longs —
    measured 1.5× on the whole query, with identical jaccard values
    (distinct-gram counts are hash-collision-exact at any realistic
    corpus).
    Gram construction mirrors shingle_hash_rows: explode positions so
    slice+array_join+xxhash64 stay codegen'd (a transform() lambda is
    CodegenFallback — interpreted), then ONE groupBy rebuilds the
    per-doc distinct gram set, giving both the exploded index rows and
    the set-size denominators. Short docs (< n tokens) take the
    empty-positions branch and simply contribute no grams."""
    staged = docs.select(
        F.col(id_col).alias("_id"),
        (F.col(block_col) if block_col else F.lit("all")).alias("_blk"),
        F.split(normalized_text(F.col(text_col)), " ").alias("_toks"),
    )
    count = F.greatest(F.size("_toks") - (n - 1), F.lit(0))
    positions = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.xxhash64(F.array_join(F.slice(F.col("_toks"), F.col("_pos"), n), " "))
    base = (
        staged.select("_id", "_blk", "_toks", F.explode(positions).alias("_pos"))
        .select("_id", "_blk", gram.alias("_g"))
        .groupBy("_id", "_blk")
        .agg(F.collect_set("_g").alias("_ng"))
        .withColumn("_n", F.size("_ng"))
    )
    # The df-cap rides the SAME hash partitioning the self-join needs:
    # the window's exchange on (_blk, _g) is the one shuffle, and the
    # cached frame's partitioning is reused by both join sides.
    grams = persist_tracked(  # both self-join sides read this
        base.select("_id", "_blk", "_n", F.explode("_ng").alias("_g"))
        .withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("_blk", "_g")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    a, b = grams.alias("a"), grams.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._g") == F.col("b._g"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._n").alias("n_a"),
            F.col("b._n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return pairs


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "source",
    n: int = 2,
    threshold: float = 0.6,
    max_df: int = 10_000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥
    ``threshold`` within the same block.

    Containment is the near-SUBSET detector Jaccard misses: a document
    embedded verbatim inside a much longer one scores
    containment ≈ 1.0 but Jaccard ≈ |A|/|B| → 0 — the
    quote-a-whole-article and boilerplate-wrapper cases an LLM-corpus
    dedup pass wants to catch (Broder's resemblance vs containment
    distinction). Same single-shuffle inverted-index plan as
    ``ngram_jaccard_pairs`` (shared ``_gram_pair_counts`` core), so the
    100 TB cost model — Σ_g df(g)² pair volume under a structural
    df-cap — is identical, including the probe-gated exact-content
    collapse (containment survives the expansion exactly: equal token
    sets have equal gram sets AND sizes).
    """
    kernel = partial(
        _ngram_containment_pairs,
        text_col=text_col,
        id_col=id_col,
        block_col=block_col,
        n=n,
        threshold=threshold,
        max_df=max_df,
    )
    return _probe_gated_text_pairs(
        docs, text_col, id_col, kernel, "containment", 1.0, block_col, min_tokens=n
    )


def _ngram_containment_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None,
    n: int,
    threshold: float,
    max_df: int,
) -> DataFrame:
    """The n-gram containment kernel of :func:`ngram_containment_pairs`
    over every doc of ``docs``, unordered."""
    pairs = _gram_pair_counts(docs, text_col, id_col, block_col, n, max_df)
    containment = F.round(F.col("_inter") / F.least("n_a", "n_b"), 4)
    return pairs.select("id_a", "id_b", containment.alias("containment")).filter(
        F.col("containment") >= threshold
    )


def hamming_near_duplicates(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 5,
    bits: int = 60,
    chunk_bits: int = 10,
) -> DataFrame:
    """Near-dup pairs among integer perceptual hashes by Hamming
    distance ≤ ``max_hamming`` — the generic form of the SimHash
    chunk-join (any ``bits``-wide hash column, e.g. a media pHash).

    Pigeonhole: ``bits/chunk_bits`` chunks find every pair within
    Hamming ``bits/chunk_bits − 1``; candidate generation shuffles only
    (id, chunk_idx, chunk_val) longs, verification is bit_count(xor) —
    pure JVM, no hash recomputation, no arrays.

    Probe-gated exact collapse (``_should_collapse`` on the hash): on a
    duplicate-heavy media corpus (re-uploads, mirror crawls) identical
    hashes first collapse to a min-id representative, banding runs on
    DISTINCT hash values only, and pairs expand back afterward —
    identical output (equal hashes ⇒ Hamming 0 intra-pairs; cross-pairs
    inherit their representatives' distance, xor being value- not
    id-dependent), but every candidate/banding stage scales with unique
    hashes instead of members². The member-pair expansion joins are
    output-bound — on a 100-copy-clique corpus the OUTPUT is inherently
    quadratic in copies, but no banding/shuffle stage is. Unordered."""
    if not _should_collapse(df, F.col(hash_col)):
        return _hamming_pairs(df, id_col, hash_col, max_hamming, bits, chunk_bits)
    # null hashes can never pair (join keys / bit_count(xor) drop them in
    # the kernel) — exclude them so the Hamming-0 intra expansion stays
    # byte-identical to the kernel run on every row.
    members, reps = _collapse_docs(
        df.select(id_col, hash_col).filter(F.col(hash_col).isNotNull()), id_col, F.col(hash_col)
    )
    rep_pairs = _hamming_pairs(reps, id_col, hash_col, max_hamming, bits, chunk_bits)
    return _expand_rep_pairs(members, rep_pairs, "hamming", 0)


def _hamming_pairs(
    df: DataFrame, id_col: str, hash_col: str, max_hamming: int, bits: int, chunk_bits: int
) -> DataFrame:
    """The chunk-banding kernel of :func:`hamming_near_duplicates` over
    every row of ``df``, unordered."""
    n_chunks = bits // chunk_bits
    if max_hamming > n_chunks - 1:
        raise ValueError(f"banding finds ≤ {n_chunks - 1}, asked {max_hamming}")
    mask = (1 << chunk_bits) - 1
    chunks = df.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), chunk_bits * c).bitwiseAND(F.lit(mask))
                    for c in range(n_chunks)
                ]
            )
        ).alias("_ci", "_cv"),
    )
    left = chunks.select(
        F.col("_ci").alias("ci"), F.col("_cv").alias("cv"),
        F.col("_id").alias("id_a"), F.col("_h").alias("h_a"),
    )
    right = chunks.select(
        F.col("_ci").alias("ci"), F.col("_cv").alias("cv"),
        F.col("_id").alias("id_b"), F.col("_h").alias("h_b"),
    )
    return (
        left.join(right, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
