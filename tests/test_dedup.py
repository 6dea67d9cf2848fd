"""Edge-case and cache-hygiene tests for the dedup operators.

The short-document cases pin the ADVICE r1 fix: ``F.sequence`` defaults
to step -1 when start > stop, so an unguarded sequence(1, 0) produced
[1, 0] and ``slice(toks, 0, n)`` aborted the whole job on any corpus
containing a 0/1-token document.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from medical_examination_data_etl_system_spark.operators import cache
from medical_examination_data_etl_system_spark.operators.dedup import (
    _minhash_pairs,
    _ngram_containment_pairs,
    _ngram_jaccard_pairs,
    _should_collapse,
    _simhash_pairs,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from medical_examination_data_etl_system_spark.operators.text_analysis import normalized_text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_ngram_jaccard_survives_short_and_empty_docs(spark):
    rows = [
        (1, "one", "s"),               # single token → zero bigrams
        (2, "", "s"),                  # empty text
        (3, "   ", "s"),               # whitespace only
        (4, "alpha beta gamma delta", "s"),
        (5, "alpha beta gamma delta", "s"),  # exact dup of 4
    ]
    out = ngram_jaccard_pairs(_docs(spark, rows), threshold=0.2).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs == {(4, 5): 1.0}


def test_ngram_df_cap_drops_stopword_grams(spark):
    # "of the" appears in every doc — with max_df below the corpus size
    # it must leave the index, and pairs that only shared it vanish.
    rows = [(i, f"of the word{i}", "s") for i in range(1, 6)]
    capped = ngram_jaccard_pairs(_docs(spark, rows), threshold=0.1, max_df=2).collect()
    assert capped == []
    uncapped = ngram_jaccard_pairs(_docs(spark, rows), threshold=0.1).collect()
    assert len(uncapped) == 10  # all C(5,2) pairs share "of the"


def test_cache_scope_releases_operator_persists(spark):
    docs = _docs(spark, [(i, f"the quick brown fox {i} jumps over", "s") for i in range(20)])
    with cache.cache_scope() as frames:
        minhash_near_duplicates(docs, threshold=0.9).collect()
        assert len(frames) == 4  # collapse window + shingle rows + distinct index + bands
        assert all(f.storageLevel != StorageLevel.NONE for f in frames)
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)


def test_unscoped_persists_are_tracked_and_releasable(spark):
    docs = _docs(spark, [(i, f"a b c d e f {i}", "s") for i in range(5)])
    before = len(cache.tracked_frames())
    minhash_near_duplicates(docs, threshold=0.9).collect()
    assert len(cache.tracked_frames()) == before + 4
    cache.release_all()
    assert cache.tracked_frames() == []


def _key(rows, metric):
    return sorted((r["id_a"], r["id_b"], r[metric]) for r in rows)


def _text_collapses(docs, block_col=None):
    blocks = [F.col(block_col)] if block_col else []
    return _should_collapse(docs, *blocks, normalized_text(F.col("text")))


def test_minhash_collapse_exact_equivalence(spark):
    """The always-collapsed public operator must return byte-identical
    pairs to its direct kernel on a corpus with exact-dup clusters AND
    near-dup (non-identical) pairs, and on a mostly-unique corpus."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(4):  # cluster of 4 exact copies
        rows.append((100 + i, base, "s"))
    rows.append((200, base + " slightly changed tail", "s"))  # near-dup of cluster
    rows.append((300, "completely different content entirely unrelated text", "s"))
    padded = [(i, f"some base document text number {i} padded with shared words", "s") for i in range(40)]
    dup_heavy = padded + [(1000 + i, padded[i % 10][1], "s") for i in range(60)]
    out = {}
    for name, corpus, threshold in (("rows", rows, 0.5), ("padded", padded, 0.6), ("dup", dup_heavy, 0.6)):
        docs = _docs(spark, corpus)
        out[name] = _key(minhash_near_duplicates(docs, threshold=threshold).collect(), "jaccard")
        direct = _minhash_pairs(docs, "text", "doc_id", 9, 32, 8, threshold).collect()
        assert out[name] == _key(direct, "jaccard")
    # sanity: the exact cluster contributes C(4,2)=6 jaccard-1.0 pairs
    assert sum(1 for _, _, j in out["rows"] if j == 1.0) >= 6


def test_ngram_collapse_exact_equivalence(spark):
    """Block-aware exact-collapse must match the direct inverted-index
    kernel, including the no-pair behavior of <n-token docs and exact
    dups split across different blocks; on a unique corpus the probe
    skips the collapse and the public operator is the kernel."""
    base = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, base, "s1"), (2, base, "s1"), (3, base, "s1"),       # dup cluster in s1
        (4, base, "s2"),                                          # same text, other block
        (5, base + " eta", "s1"),                                 # near-dup in s1
        (6, "tok", "s1"), (7, "tok", "s1"),                       # 1-token dups: NO pair
        (8, "unrelated words entirely different here now", "s1"),
    ]
    unique = [(i, f"alpha beta gamma {i} delta {i % 3}", f"s{i % 2}") for i in range(12)]
    for corpus, collapses in ((unique, False), (rows, True)):
        docs = _docs(spark, corpus)
        assert _text_collapses(docs, "source") is collapses
        fast = ngram_jaccard_pairs(docs, threshold=0.2).collect()
        direct = _ngram_jaccard_pairs(docs, "text", "doc_id", "source", 2, 0.2, 10_000).collect()
        assert _key(fast, "jaccard") == _key(direct, "jaccard")
    pairs = {(r["id_a"], r["id_b"]) for r in fast}
    assert (1, 2) in pairs and (2, 3) in pairs      # intra-cluster
    assert (1, 4) not in pairs                       # cross-block never pairs
    assert (6, 7) not in pairs                       # sub-n-token docs never pair


def test_simhash_collapse_exact_equivalence(spark):
    base = "many common words shared across documents with small edits"
    rows = [(i, base, "s") for i in range(1, 4)]            # exact cluster
    rows += [(10, base.replace("small", "tiny"), "s")]       # near-dup
    rows += [(20, "entirely different text goes here now", "s"), (21, "", "s"), (22, "", "s")]
    unique = [(i, f"{base} variant {i} with its own words {i * 7}", "s") for i in range(12)]
    for corpus, collapses in ((unique, False), (rows, True)):
        docs = _docs(spark, corpus)
        assert _text_collapses(docs) is collapses
        fast = simhash_near_duplicates(docs).collect()
        direct = _simhash_pairs(docs, "text", "doc_id", 3).collect()
        assert _key(fast, "hamming") == _key(direct, "hamming")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in fast}
    assert pairs[(1, 2)] == 0 and pairs[(21, 22)] == 0


def test_collapse_probe_decides_by_duplication(spark):
    """_should_collapse: mostly-unique corpus → skip; duplicate-heavy
    (10x replication) → collapse."""
    unique = spark.createDataFrame(
        [(i, f"totally unique document number {i} with words {i*7}") for i in range(300)],
        ["doc_id", "text"],
    )
    assert not _text_collapses(unique)
    replicated = spark.createDataFrame(
        [(i * 100 + r, f"shared text {i}") for i in range(30) for r in range(10)],
        ["doc_id", "text"],
    )
    assert _text_collapses(replicated)


def _build_jobs(spark, build) -> int:
    """Jobs fired while ``build()`` constructs a frame (no action)."""
    sc, group = spark.sparkContext, f"build_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        with cache.cache_scope():
            build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_eager_jobs_while_building_near_dup_frames(spark):
    """Building a near-dup frame fires no job except the collapse probe:
    none for MinHash, its md5 twins and fuzzy Levenshtein, exactly the
    probe's for each probe-gated operator, on both sides of the probe."""
    from medical_examination_data_etl_system_spark.operators.dedup import (
        fuzzy_levenshtein_pairs,
        hamming_near_duplicates,
        minhash_md5_exact,
        ngram_containment_pairs,
        simhash_md5_exact,
    )
    from medical_examination_data_etl_system_spark.operators.text_analysis import (
        with_rolling_fingerprint,
    )

    unique = _docs(spark, [(i, f"document {i} with some shared words {i * 7}", "s") for i in range(20)])
    copies = _docs(spark, [(i, f"document {i % 4} with some shared words", "s") for i in range(20)])
    for docs in (unique, copies):
        for build in (
            lambda: minhash_near_duplicates(docs),
            lambda: minhash_md5_exact(docs),
            lambda: simhash_md5_exact(docs),
            lambda: fuzzy_levenshtein_pairs(docs),
        ):
            assert _build_jobs(spark, build) == 0
        text = normalized_text(F.col("text"))
        probe = _build_jobs(spark, lambda: _should_collapse(docs, text))
        block_probe = _build_jobs(spark, lambda: _should_collapse(docs, F.col("source"), text))
        assert probe >= 1 and block_probe >= 1
        assert _build_jobs(spark, lambda: simhash_near_duplicates(docs)) == probe
        assert _build_jobs(spark, lambda: with_rolling_fingerprint(docs)) == probe
        assert _build_jobs(spark, lambda: ngram_jaccard_pairs(docs)) == block_probe
        assert _build_jobs(spark, lambda: ngram_containment_pairs(docs)) == block_probe
        hashes = docs.select(F.col("doc_id").alias("i"), F.xxhash64("text").alias("h"))
        hash_probe = _build_jobs(spark, lambda: _should_collapse(hashes, F.col("h")))
        assert hash_probe >= 1
        assert _build_jobs(spark, lambda: hamming_near_duplicates(hashes, "i", "h")) == hash_probe


def test_ngram_pairs_match_bruteforce(spark):
    """Randomized brute-force equivalence pin for BOTH set-overlap
    metrics: reproduce all-pairs Python output on a corpus mixing doc
    lengths, blocks, stop-word-heavy texts, near-dup perturbations,
    and thresholds (incl. integer-boundary ones). Written while
    evaluating an AllPairs/PPJoin prefix-filter rewrite of
    _gram_pair_counts — the rewrite passed this test but MEASURED
    2.7× SLOWER at adversarial 100× (short ~10-60-gram docs, huge
    true answers: array-shipping verification loses to the inverted
    index's map-side-combined count aggregation), so the aggregation
    plan stayed and this pin remains as its equivalence gate."""
    import random

    rng = random.Random(20260816)
    vocab = [f"w{i}" for i in range(30)] + ["of", "the", "and"] * 4  # heavy stop-words
    rows = []
    i = 0
    for _ in range(35):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 14))]
        rows.append((i, " ".join(toks), f"b{i % 2}")); i += 1
        if rng.random() < 0.4:  # perturbed sibling (same block)
            s = list(toks)
            for _ in range(rng.randint(1, 3)):
                p = rng.randrange(len(s))
                if rng.random() < 0.5 and len(s) > 1:
                    del s[p]
                else:
                    s[p] = rng.choice(vocab)
            rows.append((i, " ".join(s), f"b{(i - 1) % 2}")); i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def grams(text, n=2):
        toks = " ".join(text.lower().split()).split(" ")
        return {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}

    gsets = {d: grams(t) for d, t, _ in rows}
    blk = {d: b for d, _, b in rows}

    for thr in (0.2, 0.25, 0.5, 1.0):
        expect_j, expect_c = [], []
        for a in sorted(gsets):
            for b in sorted(gsets):
                if a >= b or blk[a] != blk[b] or not gsets[a] or not gsets[b]:
                    continue
                inter = len(gsets[a] & gsets[b])
                j = round(inter / (len(gsets[a]) + len(gsets[b]) - inter), 4)
                c = round(inter / min(len(gsets[a]), len(gsets[b])), 4)
                if j >= thr:
                    expect_j.append((a, b, j))
                if c >= thr:
                    expect_c.append((a, b, c))
        got_j = _key(
            _ngram_jaccard_pairs(docs, "text", "doc_id", "source", 2, thr, 10_000).collect(),
            "jaccard",
        )
        got_c = _key(
            _ngram_containment_pairs(docs, "text", "doc_id", "source", 2, thr, 10_000).collect(),
            "containment",
        )
        assert got_j == sorted(expect_j), f"jaccard mismatch at t={thr}"
        assert got_c == sorted(expect_c), f"containment mismatch at t={thr}"
