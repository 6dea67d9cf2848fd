"""Round-7 family tests: the exact Gram matrix, the bit-exact EWMA fold,
bigram-coherence bounds, and plan-shape guards for the new heavy
operators.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.linalg import quantized_gram_matrix
from medical_examination_data_etl_system_spark.operators.timeseries import ewma
from medical_examination_data_etl_system_spark.queries import all_queries, load

SF_DIR = "/root/testdata/sf0.01"


def _formatted_plan(df) -> str:
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return je.explainString(mode)


# ---------------------------------------------------------------------------
# Gram matrix: exact agreement with local numpy on the same quantization
# ---------------------------------------------------------------------------


def test_gram_matrix_matches_numpy_exactly(spark):
    rng = np.random.default_rng(7)
    d, n = 5, 200
    x = rng.normal(scale=0.5, size=(n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(v) for v in row]) for i, row in enumerate(x)]
    )
    rows = quantized_gram_matrix(df, "embedding", scale=1_000_000).collect()
    # Mirror the JVM quantization: double widen, *1e6, half-away round.
    q = np.floor(np.abs(x.astype(np.float64)) * 1e6 + 0.5).astype(np.int64) * np.sign(
        x
    ).astype(np.int64)
    expect = q.T @ q
    got = {(r.i, r.j): r.s for r in rows}
    assert len(got) == d * (d + 1) // 2
    for i in range(d):
        for j in range(i, d):
            assert got[(i, j)] == expect[i, j], (i, j)


def test_gram_matrix_col_sums_ride_along(spark):
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, -2.0]), Row(vec_id=1, embedding=[0.5, 0.25])]
    )
    rows = quantized_gram_matrix(df, "embedding", scale=100, with_col_sums=True).collect()
    sums = {r.i: r.s for r in rows if r.j == -1 and r.i != -1}
    assert sums == {0: 150, 1: -175}
    # the (-1, -1) sentinel carries the row count through the same sweep
    assert next(r.s for r in rows if r.i == -1 and r.j == -1) == 2


# ---------------------------------------------------------------------------
# EWMA: matches a pure-Python bounded fold
# ---------------------------------------------------------------------------


def test_ewma_matches_python_fold(spark):
    rows = [
        Row(k=1, t=i, v=float(v))
        for i, v in enumerate([10, 0, 5, 5, 100, 2, 7, 1, 3, 9] * 5)
    ] + [Row(k=2, t=i, v=float(i)) for i in range(40)]
    df = spark.createDataFrame(rows)
    got = {
        (r.k, r.t): r.e
        for r in df.select(
            "k", "t", ewma("k", ["t"], "v", alpha=0.25, lookback=24).alias("e")
        ).collect()
    }
    by_k: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.k, r.t)):
        by_k.setdefault(r.k, []).append(r)
    for k, seq in by_k.items():
        for idx, r in enumerate(seq):
            acc = 0.0
            for rr in seq[max(0, idx - 24) : idx + 1]:
                acc = acc * 0.75 + rr.v * 0.25
            assert got[(k, r.t)] == acc, (k, r.t)


# ---------------------------------------------------------------------------
# Bigram coherence: bounds and the all-repeated-text fixed point
# ---------------------------------------------------------------------------


def test_bigram_coherence_bounds_and_fixed_point(spark):
    from medical_examination_data_etl_system_spark.operators.curation import bigram_coherence

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a b"),  # deterministic next-token
            Row(doc_id=2, text="x y"),
            Row(doc_id=3, text="solo"),  # < 2 tokens → no row
        ]
    )
    out = {r.doc_id: r for r in bigram_coherence(docs).collect()}
    assert set(out) == {1, 2}
    # every 'a'→'b' and 'b'→'a' transition is the ONLY continuation
    assert out[1].coherence_ppm == 1_000_000
    assert out[2].coherence_ppm == 1_000_000
    assert out[1].n_bigrams == 5


def test_bigram_coherence_scores_in_ppm_range(spark):
    df = all_queries()["docs_bigram_coherence"].fn(spark, SF_DIR)
    bad = df.filter(
        (F.col("coherence_ppm") < 0) | (F.col("coherence_ppm") > 1_000_000)
    ).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# Plan shapes for the new operators
# ---------------------------------------------------------------------------


def test_gram_matrix_plan_single_exchange_after_arrow(spark):
    """The Gram pipeline is scan → Arrow partials → ONE Exchange on
    (i, j) → final agg. Any second Exchange or a per-row Python eval
    would break the O(d²)-shuffle design."""
    df = all_queries()["emb_gram_matrix"].fn(spark, SF_DIR)
    plan = _formatted_plan(df)
    # tree nodes print as "Exchange (n)"; details repeat as "(n) Exchange"
    assert plan.count("Exchange (") <= 2  # partial→final agg + output sort
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_is_equi_join(spark):
    """The custkey equi-key must anchor a hash/sort-merge join; the
    range residual rides as a join condition — never a cartesian or
    broadcast-nested-loop."""
    plan = _formatted_plan(all_queries()["join_interval_overlap"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ewma_single_exchange(spark):
    """One hash Exchange on user_id; the fold is JVM expression eval —
    no Python boundary at all."""
    plan = _formatted_plan(all_queries()["events_ewma_smoothing"].fn(spark, SF_DIR))
    body = plan.split("AdaptiveSparkPlan")[0]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("hashpartitioning(user_id") >= 1


def test_equidepth_histogram_no_global_row_sort(spark):
    """The rank derivation must not single-partition the event rows: the
    only allowed global window runs over the distinct-value frame."""
    df = all_queries()["events_histogram_equidepth"].fn(spark, SF_DIR)
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    # per-row work is partitioned by value
    assert "hashpartitioning(value" in plan


# ---------------------------------------------------------------------------
# Batch 2: keep-best dedup, Spearman, standardization
# ---------------------------------------------------------------------------


def test_dedup_keep_best_prefers_longest_then_smallest_id(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=10, source="a", lang="en", n_chars=5, text="Hello  World"),
            Row(doc_id=3, source="b", lang="en", n_chars=9, text="hello world"),
            Row(doc_id=7, source="c", lang="en", n_chars=9, text="HELLO WORLD"),
            Row(doc_id=1, source="d", lang="en", n_chars=2, text="unique"),
        ]
    )
    docs.createOrReplaceTempView("_kb_docs")
    from pyspark.sql import Window
    from medical_examination_data_etl_system_spark.operators.text_analysis import normalized_text

    w = Window.partitionBy(F.xxhash64(normalized_text(F.col("text")))).orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    kept = sorted(
        r.doc_id
        for r in docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    )
    # cluster {10,3,7} (same normalized text): longest is 9 chars, tie → id 3
    assert kept == [1, 3]


def test_spearman_matches_hand_computation(spark):
    # y = x² is monotone on positives → Spearman exactly 1 even though
    # Pearson < 1; with a tie pair the tie-corrected value still == 1.
    rows = [Row(l_returnflag="Z", l_quantity=float(x), l_extendedprice=float(x * x))
            for x in [1, 2, 3, 4, 5, 6]]
    df = spark.createDataFrame(rows)
    from medical_examination_data_etl_system_spark.queries.analytics import lineitem_spearman_corr

    import unittest.mock as um
    with um.patch(
        "medical_examination_data_etl_system_spark.queries.analytics.load", lambda s, d, t: df
    ):
        out = lineitem_spearman_corr(spark, "ignored").collect()
    assert len(out) == 1 and out[0].spearman_rho == 1.0


def test_standardize_zero_mean_unit_var(spark):
    df = all_queries()["emb_standardize"].fn(spark, SF_DIR)
    stats = df.groupBy("i").agg(
        F.avg("z").alias("m"), F.stddev_pop("z").alias("s")
    ).collect()
    for r in stats:
        assert abs(r.m) < 1e-4
        assert abs(r.s - 1.0) < 1e-4


def test_incremental_merge_equals_recompute(spark):
    merged = all_queries()["incr_agg_merge_orders"].fn(spark, SF_DIR).collect()
    o = load(spark, SF_DIR, "orders")
    full = {
        (r.o_orderstatus, r.o_orderpriority): (r.n, r.s)
        for r in o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s"),
        )
        .collect()
    }
    assert len(merged) == len(full)
    for r in merged:
        assert full[(r.o_orderstatus, r.o_orderpriority)] == (r.n_orders, r.sum_cents)


# ---------------------------------------------------------------------------
# Batch 3: hamming banding completeness, phash re-uploads, vocab growth
# ---------------------------------------------------------------------------


def test_hamming_banding_complete_vs_brute_force(spark):
    from medical_examination_data_etl_system_spark.operators.dedup import hamming_near_duplicates

    rng = np.random.default_rng(11)
    base = rng.integers(0, 1 << 60, size=40, dtype=np.int64)
    rows = [Row(i=int(k), h=int(v)) for k, v in enumerate(base)]
    # planted near-pairs: flip 1..5 bits of existing hashes
    nid = len(rows)
    for flips in range(1, 6):
        src = int(base[flips])
        mutated = src
        for b in rng.choice(60, size=flips, replace=False):
            mutated ^= 1 << int(b)
        rows.append(Row(i=nid, h=int(mutated)))
        nid += 1
    df = spark.createDataFrame(rows)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_duplicates(df, "i", "h", max_hamming=5).collect()
    }
    brute = set()
    hs = {r.i: r.h for r in rows}
    for a in hs:
        for b in hs:
            if a < b:
                d = bin(hs[a] ^ hs[b]).count("1")
                if d <= 5:
                    brute.add((a, b, d))
    assert got == brute and len(brute) >= 5


def test_hamming_banding_rejects_uncoverable_threshold(spark):
    from medical_examination_data_etl_system_spark.operators.dedup import hamming_near_duplicates

    df = spark.createDataFrame([Row(i=1, h=0)])
    with pytest.raises(ValueError):
        hamming_near_duplicates(df, "i", "h", max_hamming=6, bits=60, chunk_bits=10)


def test_phash_near_dup_finds_every_reupload(spark):
    out = all_queries()["multimodal_phash_near_dup"].fn(spark, SF_DIR).collect()
    docs = load(spark, SF_DIR, "documents")
    expected = docs.filter(F.col("doc_id") % 10 == 0).count()
    zero = [r for r in out if r.hamming == 0]
    assert len(zero) >= expected  # every re-upload pairs with its original
    pair_ids = {(r.id_a, r.id_b) for r in out}
    for r in docs.filter(F.col("doc_id") % 10 == 0).select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 10_000_000) in pair_ids


def test_vocab_growth_monotone_and_totals(spark):
    out = all_queries()["docs_vocab_growth"].fn(spark, SF_DIR).collect()
    assert len(out) == 20
    assert all(out[i].cum_vocab <= out[i + 1].cum_vocab for i in range(19))
    from medical_examination_data_etl_system_spark.operators.text_analysis import normalized_text

    docs = load(spark, SF_DIR, "documents")
    vocab = (
        docs.select(F.explode(F.split(normalized_text(F.col("text")), " ")).alias("t"))
        .filter(F.col("t") != "")
        .select("t")
        .distinct()
        .count()
    )
    assert out[-1].cum_vocab == vocab


def test_interval_overlap_matches_brute_force_across_buckets(spark):
    """Random intervals straddling 28-day bucket boundaries: the
    canonical-bucket join must emit exactly the brute-force pair set,
    once each."""
    import datetime as dt
    import random

    rng = random.Random(13)
    base = dt.date(1995, 1, 1)
    rows = []
    okey = 0
    for cust in range(1, 6):
        for _ in range(30):
            okey += 1
            # cluster dates so overlaps and boundary-straddles are common
            d = base + dt.timedelta(days=rng.randrange(0, 120))
            rows.append(
                Row(
                    o_custkey=cust,
                    o_orderkey=okey,
                    o_orderstatus="O",
                    o_totalprice=1.0,
                    o_orderdate=dt.datetime.combine(d, dt.time()),
                    o_orderpriority="1-URGENT",
                )
            )
    df = spark.createDataFrame(rows)
    from medical_examination_data_etl_system_spark.queries import relational

    import unittest.mock as um
    with um.patch.object(relational, "load", lambda s, d, t: df):
        got = {
            (r.custkey, r.okey_a, r.okey_b, r.overlap_days)
            for r in relational.join_interval_overlap(spark, "ignored").collect()
        }
    brute = set()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for cust, os_ in by_cust.items():
        for a in os_:
            for b in os_:
                if a.o_orderkey < b.o_orderkey:
                    sa, sb = a.o_orderdate.date(), b.o_orderdate.date()
                    ea, eb = sa + dt.timedelta(days=14), sb + dt.timedelta(days=14)
                    if sa <= eb and sb <= ea:
                        ov = (min(ea, eb) - max(sa, sb)).days + 1
                        brute.add((cust, a.o_orderkey, b.o_orderkey, ov))
    assert got == brute and len(brute) > 100


def test_equidepth_matches_native_ntile_on_tie_heavy_data(spark):
    """The distributed rank→bucket formula must reproduce Spark's own
    ntile() on adversarial tie patterns (few distinct values, uneven
    tie-group sizes, n not divisible by the bucket count)."""
    import random

    from pyspark.sql import Window
    from medical_examination_data_etl_system_spark.queries import analytics

    rng = random.Random(41)
    rows = [
        Row(event_id=i, value=float(rng.choice([1, 1, 2, 5, 5, 5, 9])))
        for i in range(1, 1000 + 7)  # 1007 % 10 != 0
    ]
    df = spark.createDataFrame(rows)

    import unittest.mock as um
    with um.patch.object(analytics, "load", lambda s, d, t: df):
        got = {
            r.bucket: (r.n_rows, r.min_value, r.max_value)
            for r in analytics.events_histogram_equidepth(spark, "ignored").collect()
        }
    w = Window.orderBy("value", "event_id")
    expect_rows = (
        df.select("value", "event_id", F.ntile(10).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    )
    expect = {r.bucket: (r.n_rows, r.min_value, r.max_value) for r in expect_rows}
    assert got == expect


def test_spearman_matches_pure_python_ranks(spark):
    """Tie-corrected doubled-rank Spearman vs a pure-Python average-rank
    reference on tie-heavy data."""
    import random

    from medical_examination_data_etl_system_spark.queries import analytics

    rng = random.Random(17)
    rows = [
        Row(
            l_returnflag=f,
            l_quantity=float(rng.randint(1, 8)),
            l_extendedprice=float(rng.randint(1, 20)),
        )
        for f in ("A", "B")
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows)

    import unittest.mock as um
    with um.patch.object(analytics, "load", lambda s, d, t: df):
        got = {
            r.l_returnflag: r.spearman_rho
            for r in analytics.lineitem_spearman_corr(spark, "ignored").collect()
        }

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    for f in ("A", "B"):
        xs = [int(round(r.l_extendedprice * 100)) for r in rows if r.l_returnflag == f]
        ys = [r.l_quantity for r in rows if r.l_returnflag == f]
        rx, ry = avg_ranks(ys), avg_ranks(xs)  # qty is x in the query
        n = len(rx)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        rho = (n * sxy - sx * sy) / (
            (n * sxx - sx * sx) ** 0.5 * (n * syy - sy * sy) ** 0.5
        )
        assert abs(got[f] - round(rho, 6)) <= 1e-6, (f, got[f], rho)


def test_join_strategy_hints_are_honored(spark):
    """The three join-strategy hints must reach the physical plan: at
    deployment scale the engine picks strategies per query (broadcast
    for dims, shuffle-hash for medium skewless sides, sort-merge for
    the rest), and a silently-ignored hint would undo that choice."""
    o = load(spark, SF_DIR, "orders")
    c = load(spark, SF_DIR, "customer")
    cases = {
        "BROADCAST": "BroadcastHashJoin",
        "MERGE": "SortMergeJoin",
        "SHUFFLE_HASH": "ShuffledHashJoin",
    }
    for hint, node in cases.items():
        plan = _formatted_plan(o.join(c.hint(hint), o.o_custkey == c.c_custkey))
        assert node in plan, f"{hint} hint did not produce {node}"


def test_bloom_prefilter_reduces_before_exact_verify(spark):
    """The bloom must actually prune: survivors ≈ true matches (+ small
    false-positive tail), far below the full fact row count."""
    from pyspark.sql import functions as F
    from medical_examination_data_etl_system_spark.queries import relational

    o = load(spark, SF_DIR, "orders")
    li = load(spark, SF_DIR, "lineitem")
    true_keys = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    n_true = li.join(true_keys, li.l_orderkey == true_keys.o_orderkey, "left_semi").count()
    n_total = li.count()
    out = relational.join_bloom_prefilter(spark, SF_DIR).collect()[0]
    assert out.n_lines == n_true  # exact despite the bloom (verify step)
    # and the bloom itself is selective: with ~3k keys in 2^17 bits the
    # false-positive rate is ≈ (keys*2/2^17)^2 ≈ 0.2% — the pre-filter
    # output can't be anywhere near the full fact
    assert n_true < n_total * 0.5


def test_bigram_coherence_matches_python_reference_on_random_corpus(spark):
    """Integer ppm scoring vs an independent Counter-based reference on
    a random small-vocab corpus (heavy bigram collisions)."""
    import random
    from collections import Counter

    rng = random.Random(29)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(40)
    ]
    from medical_examination_data_etl_system_spark.operators.curation import bigram_coherence

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])
    got = {r.doc_id: (r.n_bigrams, r.score_sum, r.coherence_ppm)
           for r in bigram_coherence(df).collect()}

    bg, pre = Counter(), Counter()
    per_doc: dict[int, list] = {}
    for i, t in docs:
        toks = t.split()
        grams = list(zip(toks, toks[1:]))
        per_doc[i] = grams
        for g in grams:
            bg[g] += 1
            pre[g[0]] += 1
    expect = {}
    for i, grams in per_doc.items():
        if not grams:
            continue
        scores = [(1_000_000 * bg[g]) // pre[g[0]] for g in grams]
        expect[i] = (len(scores), sum(scores), sum(scores) // len(scores))
    assert got == expect


def test_ewma_null_frame_poisons_to_null_like_oracle(spark):
    """A NULL in the lookback frame yields NULL (matching the SQL
    oracle's list fold); rows whose frame has slid past the NULL
    recover. collect_list would silently drop the NULL instead."""
    rows = [Row(k=1, t=0, v=1.0), Row(k=1, t=1, v=None), Row(k=1, t=2, v=2.0),
            Row(k=1, t=3, v=3.0), Row(k=1, t=4, v=4.0)]
    schema = "k int, t int, v double"
    df = spark.createDataFrame(rows, schema)
    got = {r.t: r.e for r in df.select(
        "t", ewma("k", ["t"], "v", alpha=0.25, lookback=2).alias("e")
    ).collect()}
    assert got[0] == 0.25
    assert got[1] is None and got[2] is None and got[3] is None
    # t=4's frame is rows t=2..4 — past the NULL — plain fold resumes
    acc = 0.0
    for v in (2.0, 3.0, 4.0):
        acc = acc * 0.75 + v * 0.25
    assert got[4] == acc


def test_holt_matches_python_expanded_fold(spark):
    from medical_examination_data_etl_system_spark.operators.timeseries import holt

    rows = [Row(k=1, t=i, v=float(v)) for i, v in enumerate([10, 12, 14, 9, 20, 22, 3])]
    df = spark.createDataFrame(rows)
    got = {r.t: r.f for r in df.select(
        "t", holt("k", ["t"], "v", alpha=0.25, beta=0.25, lookback=24).alias("f")
    ).collect()}
    l_hist = []
    for idx in range(len(rows)):
        l, b = 0.0, 0.0
        for r in rows[max(0, idx - 24): idx + 1]:
            l2 = 0.25 * r.v + 0.75 * (l + b)
            b2 = 0.0625 * r.v - 0.0625 * l + 0.9375 * b
            l, b = l2, b2
        assert got[idx] == l + b, idx
