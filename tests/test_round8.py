"""Round-8 (driver r06) additions: pHash exact-collapse pre-step,
rolling-fingerprint pre-collapse, PageRank TakeOrderedAndProject top-k,
renderer-SQL bench query, ADVICE r5 guards."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.queries import all_queries, load

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# pHash exact-collapse: byte-identical pairs vs the direct twin
# ---------------------------------------------------------------------------


def _hamming_pairs_set(df_out):
    return {(r.id_a, r.id_b, r.hamming) for r in df_out.collect()}


def _hamming_parity(df, max_hamming, collapses):
    """The public operator equals its direct kernel on ``df``, and the
    probe takes the expected side."""
    from medical_examination_data_etl_system_spark.operators.dedup import (
        _hamming_pairs,
        _should_collapse,
        hamming_near_duplicates,
    )

    assert _should_collapse(df, F.col("h")) is collapses
    public = _hamming_pairs_set(hamming_near_duplicates(df, "i", "h", max_hamming=max_hamming))
    assert public == _hamming_pairs_set(_hamming_pairs(df, "i", "h", max_hamming, 60, 10))
    return public


def test_hamming_collapse_parity_duplicate_heavy(spark):
    """On a duplicate-heavy corpus (every hash replicated 5x) the
    collapsed path must emit EXACTLY the pairs the direct kernel does —
    including the Hamming-0 cliques and cross-group near-pairs; on the
    unique hashes the probe skips the collapse."""
    rng = np.random.default_rng(23)
    base = [int(v) for v in rng.integers(0, 1 << 60, size=8, dtype=np.int64)]
    # one planted near-pair: flip 2 bits of base[0]
    near = base[0] ^ (1 << 3) ^ (1 << 41)
    uniq = base + [near]
    rows = []
    nid = 0
    for h in uniq:
        for _ in range(5):  # 5 copies each → heavily duplicated
            rows.append(Row(i=nid, h=h))
            nid += 1
    direct = _hamming_parity(spark.createDataFrame(rows), 5, collapses=True)
    # sanity: the Hamming-0 cliques are present (C(5,2)=10 per group, 9 groups)
    assert sum(1 for (_, _, d) in direct if d == 0) == 10 * len(uniq)
    # and the planted cross-group near-pair expanded to 5x5 member pairs
    assert sum(1 for (_, _, d) in direct if d == 2) == 25
    unique = spark.createDataFrame([Row(i=k, h=h) for k, h in enumerate(uniq)])
    assert _hamming_parity(unique, 5, collapses=False) == {(0, 8, 2)}


def test_hamming_collapse_null_hash_parity(spark):
    """Null hashes never pair in the direct kernel; the collapsed path
    must not invent Hamming-0 pairs for them."""
    rows = [Row(i=0, h=7), Row(i=1, h=7), Row(i=2, h=None), Row(i=3, h=None)]
    df = spark.createDataFrame(rows, "i int, h long")
    assert _hamming_parity(df, 3, collapses=True) == {(0, 1, 0)}


def test_hamming_auto_skips_collapse_on_unique(spark):
    """All-unique hashes: the probe must take the direct path and
    still match brute force."""
    rng = np.random.default_rng(5)
    rows = [Row(i=int(k), h=int(v)) for k, v in enumerate(rng.integers(0, 1 << 60, 30, dtype=np.int64))]
    got = _hamming_parity(spark.createDataFrame(rows), 5, collapses=False)
    hs = {r.i: r.h for r in rows}
    brute = {
        (a, b, bin(hs[a] ^ hs[b]).count("1"))
        for a in hs
        for b in hs
        if a < b and bin(hs[a] ^ hs[b]).count("1") <= 5
    }
    assert got == brute

# ---------------------------------------------------------------------------
# Rolling fingerprint exact-collapse: output-invariant, scales with uniques
# ---------------------------------------------------------------------------


def test_rolling_fp_collapse_parity(spark):
    from medical_examination_data_etl_system_spark.operators.dedup import _should_collapse
    from medical_examination_data_etl_system_spark.operators.text_analysis import (
        _rolling_fingerprints,
        normalized_text,
        with_rolling_fingerprint,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    # replicate 4x with distinct ids -> duplicate-heavy
    rep = docs
    for k in range(1, 4):
        rep = rep.unionByName(
            docs.select((F.col("doc_id") + 1_000_000 * k).alias("doc_id"), "text")
        )
    for corpus, collapses in ((rep, True), (docs, False)):
        assert _should_collapse(corpus, normalized_text(F.col("text"))) is collapses
        public = {
            (r.doc_id, r.roll_fp)
            for r in with_rolling_fingerprint(corpus).select("doc_id", "roll_fp").collect()
        }
        direct = {
            (r.doc_id, r.roll_fp)
            for r in _rolling_fingerprints(corpus, "doc_id", "text", 8, "roll_fp").collect()
        }
        assert public == direct
    # every replica carries its original's fingerprint
    base = {d: fp for d, fp in direct if d < 1_000_000}
    for d, fp in public:
        assert fp == base[d % 1_000_000]

# ---------------------------------------------------------------------------
# PageRank top-k plan: TakeOrderedAndProject, no unpartitioned window
# ---------------------------------------------------------------------------


def test_pagerank_topk_plan_take_ordered(spark):
    df = all_queries()["graph_pagerank_int3"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    assert all(rows[i].rank_scaled >= rows[i + 1].rank_scaled for i in range(len(rows) - 1))

# ---------------------------------------------------------------------------
# ADVICE r5 guards: gram overflow
# ---------------------------------------------------------------------------


def test_gram_overflow_raises_not_wraps(spark):
    from medical_examination_data_etl_system_spark.operators.linalg import quantized_gram_matrix

    # 1-dim vectors of 1.0 at scale 3e9: q = 3e9, q*q = 9e18 ~ 2^63 —
    # a single batch of 2 rows already exceeds the int64 accumulator.
    df = spark.createDataFrame([Row(embedding=[1.0]) for _ in range(4)])
    with pytest.raises(Exception, match="(?i)overflow"):
        quantized_gram_matrix(df, scale=3_000_000_000).collect()


def test_gram_values_unchanged_under_decimal_reduce(spark):
    import numpy as np
    from medical_examination_data_etl_system_spark.operators.linalg import quantized_gram_matrix

    rng = np.random.default_rng(7)
    vecs = rng.uniform(-1, 1, size=(50, 4))
    df = spark.createDataFrame([Row(embedding=[float(v) for v in row]) for row in vecs])
    got = {(r.i, r.j): r.s for r in quantized_gram_matrix(df, scale=1000).collect()}
    q = np.round(vecs * 1000).astype(np.int64)
    g = q.T @ q
    for i in range(4):
        for j in range(i, 4):
            assert got[(i, j)] == g[i, j]


# ---------------------------------------------------------------------------
# ADVICE r5: stateful EWMA null poisoning matches the batch oracle
# ---------------------------------------------------------------------------


def test_stream_ewma_null_poisons_like_oracle(spark, tmp_path):
    import duckdb
    from medical_examination_data_etl_system_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        running_ewma_stateful,
    )

    src = str(tmp_path / "ev.parquet")
    rows = [
        Row(event_id=1, user_id=1, ts="2024-01-01 00:00:00", value=2.0),
        Row(event_id=2, user_id=1, ts="2024-01-01 00:01:00", value=None),
        Row(event_id=3, user_id=1, ts="2024-01-01 00:02:00", value=4.0),
        Row(event_id=4, user_id=2, ts="2024-01-01 00:00:30", value=8.0),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = read_events_stream(spark, src)
    out = {
        r.event_id: r.ewma
        for r in run_available_now(running_ewma_stateful(stream, alpha=0.25), "q_ewma_null").collect()
    }
    want = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"""
            WITH framed AS (
              SELECT user_id, event_id,
                     list(CAST(value AS DOUBLE))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS l
              FROM read_parquet('{src}/*.parquet')
            )
            SELECT event_id,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l),
                               (a, b) -> a * 0.75 + b * 0.25) AS ewma
            FROM framed
            """
        ).fetchall()
    }
    assert out.keys() == want.keys()
    for k in want:
        if want[k] is None:
            assert out[k] is None
        else:
            assert out[k] == want[k]
    assert out[2] is None and out[3] is None  # poisoned from the null on
    assert out[1] == 0.5 and out[4] == 2.0

# ---------------------------------------------------------------------------
# Renderer driver query: pure-SQL path, no Python in the plan
# ---------------------------------------------------------------------------


def test_pipeline_render_reports_plan_and_shape(spark):
    df = all_queries()["pipeline_render_reports"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    rows = df.collect()
    orders = load(spark, SF_DIR, "orders").select("o_orderkey").distinct().count()
    li_orders = load(spark, SF_DIR, "lineitem").select("l_orderkey").distinct().count()
    assert len(rows) == li_orders <= orders
    r0 = rows[0]
    # indentation grammar: group at col 0, items at 4, comments at 8,
    # summary at 12 with its own trailing newline
    lines = r0.report.split("\n")
    assert lines[0] == lines[0].strip() and lines[0] != ""
    assert any(ln.startswith("    ") and not ln.startswith("        ") for ln in lines)
    assert any(ln.startswith("        ") and not ln.startswith("            ") for ln in lines)
    assert any(ln.startswith("            ") for ln in lines)

# ---------------------------------------------------------------------------
# New queries: BFS depths (exact iterative oracle), blocklist filter
# ---------------------------------------------------------------------------


def test_bfs_depths_small_graph(spark):
    from medical_examination_data_etl_system_spark.operators.clustering import bfs_depths

    # path graph 1-2-3-4-5 plus isolated 9
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 5), (5, 4), (9, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.depth for r in bfs_depths(df, 1, max_depth=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    # early drain: depth cap above the eccentricity stops at the last frontier
    got_all = {r.node: r.depth for r in bfs_depths(df, 1, max_depth=10).collect()}
    assert got_all == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_blocklist_matches_basic(spark):
    from medical_examination_data_etl_system_spark.operators.curation import blocklist_matches

    df = spark.createDataFrame(
        [Row(i=1, t="Key agg SLOW big slow"), Row(i=2, t="clean text only")]
    )
    out = {r.i: r.m for r in df.select("i", blocklist_matches(F.col("t"), ["slow", "big", "hash"]).alias("m")).collect()}
    assert out[1] == ["big", "slow"] and out[2] == []

# ---------------------------------------------------------------------------
# Count-min sketch: guarantee pinning + merge algebra
# ---------------------------------------------------------------------------


def test_cms_guarantee_and_merge(spark):
    from medical_examination_data_etl_system_spark.operators.sketch import (
        cms_counters,
        cms_estimate,
    )

    ev = load(spark, SF_DIR, "events")
    counters = cms_counters(ev, "user_id", depth=4, width=1024)
    exact = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    keys = ev.select("user_id").distinct()
    est = {r.user_id: r.cms_estimate for r in cms_estimate(counters, keys, "user_id").collect()}
    n_total = sum(exact.values())
    bound = 2 * n_total / 1024  # CMS epsilon = 2/width
    assert est.keys() == exact.keys()
    over = [est[k] - exact[k] for k in exact]
    assert all(o >= 0 for o in over)  # never underestimates
    # standard guarantee holds with prob 1-2^-4 per key; allow a tiny tail
    n_violate = sum(1 for o in over if o > bound)
    assert n_violate <= max(1, len(over) // 16)
    # linear-sketch merge: counters(A) + counters(B) == counters(A∪B)
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = (
        cms_counters(a, "user_id").unionByName(cms_counters(b, "user_id"))
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = {(r.seed, r.bucket): r.cnt for r in counters.collect()}
    got = {(r.seed, r.bucket): r.cnt for r in merged.collect()}
    assert got == full

# ---------------------------------------------------------------------------
# Watermark LATE-DROP semantics across micro-batches (multi-file source)
# ---------------------------------------------------------------------------


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """The one watermark behavior the single-batch drains can't show:
    with maxFilesPerTrigger=1 the watermark advances BETWEEN
    micro-batches, and a late row whose window has ALREADY been
    finalized+evicted is dropped — the batch aggregation over the
    union would count it.

    Probed semantics on Spark 4.1 (pinned here because the docs leave
    it loose): the late-data filter uses the PREVIOUS batch's
    watermark, i.e. a late row dies only once its window was evicted
    at an earlier batch boundary; a late row arriving in the same
    batch that first passes its window still merges (bounded-state
    guarantee, not an exactness guarantee). Hence three files: b1
    establishes the watermark, b2 advances it past the window's
    eviction, b3 delivers the late row."""
    import os
    import pandas as pd
    from medical_examination_data_etl_system_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        stream_tumbling_counts,
    )

    d = tmp_path / "late_events"
    d.mkdir()

    def write_batch(name, rows, mtime):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[1]) for r in rows],
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        p = str(d / name)
        pdf.to_parquet(p)
        os.utime(p, (mtime, mtime))

    # batch 1: window 09-10 holds 2 on-time events; max ts 12:00 puts the
    # next watermark at 11:00, so 09-10 is finalized+evicted at batch 1's end
    write_batch(
        "b1.parquet",
        [(1, "2024-01-01 09:10:00"), (2, "2024-01-01 09:20:00"), (3, "2024-01-01 12:00:00")],
        1_700_000_000,
    )
    # batch 2: advances the watermark to 11:20
    write_batch("b2.parquet", [(5, "2024-01-01 12:20:00")], 1_700_000_100)
    # batch 3: the LATE 09:30 row (window evicted two batches ago -> DROPPED)
    # plus an on-time row
    write_batch(
        "b3.parquet",
        [(6, "2024-01-01 09:30:00"), (7, "2024-01-01 12:40:00")],
        1_700_000_200,
    )
    stream = read_events_stream(spark, f"{d}/*.parquet", max_files_per_trigger=1)
    out = run_available_now(
        stream_tumbling_counts(stream, watermark="1 hour"),
        "q_late_drop",
        output_mode="append",
    )
    counts = {r.window_start.strftime("%H"): r.n_events for r in out.collect()}
    # 09-10 emitted with ONLY the 2 on-time events — the late row neither
    # re-opened nor double-emitted the window; 12-13 still open (unemitted)
    assert counts == {"09": 2}, counts

# ---------------------------------------------------------------------------
# Property: hamming collapse/direct equivalence on random duplicated multisets
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hamming_collapse_equivalence_property(spark, seed):
    """Random hash multisets (mixed duplication, random bit flips): the
    public operator (whichever side its probe takes) and the direct
    kernel both equal brute force, always."""
    from medical_examination_data_etl_system_spark.operators.dedup import (
        _hamming_pairs,
        hamming_near_duplicates,
    )

    rng = np.random.default_rng(seed)
    uniq = [int(v) for v in rng.integers(0, 1 << 60, size=6, dtype=np.int64)]
    # derive near-neighbors by flipping 1-5 bits, then replicate randomly
    pool = list(uniq)
    for flips in range(1, 5):
        h = uniq[flips % len(uniq)]
        for b in rng.choice(60, size=flips, replace=False):
            h ^= 1 << int(b)
        pool.append(h)
    rows = []
    nid = 0
    for h in pool:
        for _ in range(int(rng.integers(1, 4))):
            rows.append((nid, h))
            nid += 1
    df = spark.createDataFrame(rows, "i long, h long")
    hs = dict(rows)
    brute = {
        (a, b, bin(hs[a] ^ hs[b]).count("1"))
        for a in hs
        for b in hs
        if a < b and bin(hs[a] ^ hs[b]).count("1") <= 5
    }
    assert _hamming_pairs_set(hamming_near_duplicates(df, "i", "h", max_hamming=5)) == brute, seed
    assert _hamming_pairs_set(_hamming_pairs(df, "i", "h", 5, 60, 10)) == brute, seed

# ---------------------------------------------------------------------------
# Semantic dedup: SRP variant refines the exact variant (subset property)
# ---------------------------------------------------------------------------


def test_semantic_dedup_srp_refines_exact(spark):
    from medical_examination_data_etl_system_spark.operators import similarity
    from medical_examination_data_etl_system_spark.operators.clustering import connected_components

    emb = load(spark, SF_DIR, "embeddings")

    def removed_set(pairs):
        comp = connected_components(pairs.select("id_a", "id_b"))
        lab = (
            emb.select("vec_id")
            .join(comp, emb.vec_id == comp.node, "left")
            .select("vec_id", F.coalesce("comp", F.col("vec_id")).alias("rep"))
        )
        return {r.vec_id for r in lab.filter(F.col("vec_id") != F.col("rep")).collect()}

    exact_removed = removed_set(similarity.embedding_near_duplicates(emb, threshold=0.4))
    srp_removed = removed_set(similarity.embedding_near_duplicates_srp(emb, threshold=0.4))
    assert srp_removed <= exact_removed
    # and the SRP pass is not vacuous at this SF
    assert len(srp_removed) > 0
    # summaries agree in total counts
    out = all_queries()["docs_semantic_dedup_srp"].fn(spark, SF_DIR).collect()
    assert sum(r.n_removed for r in out) == len(srp_removed)

# ---------------------------------------------------------------------------
# Edge cases for the round-8 operators
# ---------------------------------------------------------------------------


def test_bfs_source_only_graph(spark):
    from medical_examination_data_etl_system_spark.operators.clustering import bfs_depths

    # no edges from the source: result is just the source at depth 0
    df = spark.createDataFrame([(5, 6), (6, 5)], "src long, dst long")
    got = {r.node: r.depth for r in bfs_depths(df, 1, max_depth=3).collect()}
    assert got == {1: 0}


def test_cms_empty_input(spark):
    from medical_examination_data_etl_system_spark.operators.sketch import cms_counters, cms_estimate

    empty = spark.createDataFrame([], "user_id long")
    counters = cms_counters(empty, "user_id")
    assert counters.count() == 0
    keys = spark.createDataFrame([Row(user_id=7)])
    # probing an empty sketch yields no rows (inner join) — callers
    # treat absent keys as estimate 0
    assert cms_estimate(counters, keys, "user_id").count() == 0


def test_blocklist_empty_and_whitespace_text(spark):
    from medical_examination_data_etl_system_spark.operators.curation import blocklist_matches

    df = spark.createDataFrame([Row(i=1, t=""), Row(i=2, t="   "), Row(i=3, t=None)])
    out = {r.i: r.m for r in df.select("i", blocklist_matches(F.col("t"), ["slow"]).alias("m")).collect()}
    assert out[1] == [] and out[2] == []
    assert out[3] is None or out[3] == []  # null text propagates or empties, never errors


def test_weighted_median_degenerate_groups(spark):
    """Single-value group and even-split weights: lower-median rule."""
    import duckdb

    rows = [
        ("A", 10.0, 1.0),           # single value
        ("B", 1.0, 5.0), ("B", 2.0, 5.0),  # exact half split -> lower value
    ]
    df = spark.createDataFrame(rows, "l_returnflag string, l_extendedprice double, l_quantity double")
    df.createOrReplaceTempView("_wm_edge")
    counts = df.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("_w")
    )
    from pyspark.sql import Window
    wo = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wp = Window.partitionBy("l_returnflag")
    ranked = counts.select(
        "l_returnflag", "l_extendedprice",
        F.sum("_w").over(wo).alias("_cumw"), F.sum("_w").over(wp).alias("_tw"),
    )
    got = {
        r.l_returnflag: r.m
        for r in ranked.groupBy("l_returnflag")
        .agg(F.min(F.when(2 * F.col("_cumw") >= F.col("_tw"), F.col("l_extendedprice"))).alias("m"))
        .collect()
    }
    assert got == {"A": 10.0, "B": 1.0}


def test_gini_degenerate_distributions(spark):
    """All-equal revenues -> gini 0; one customer -> gini 0."""
    from medical_examination_data_etl_system_spark.queries.analytics import customer_gini_revenue
    import tempfile, os

    d = tempfile.mkdtemp(prefix="gini_edge_")
    spark.createDataFrame(
        [(k, 100.0, "O", "1-URGENT", "1995-01-01") for k in range(1, 5)],
        "o_custkey long, o_totalprice double, o_orderstatus string, o_orderpriority string, o_orderdate string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate")).withColumn(
        "o_orderkey", F.col("o_custkey")
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = customer_gini_revenue(spark, d).collect()[0]
    assert out.n_customers == 4 and out.gini == 0.0

# ---------------------------------------------------------------------------
# Property tests: weighted median / Gini / MAD vs NumPy-style brute force
# ---------------------------------------------------------------------------


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_weighted_median_property(spark, seed):
    from pyspark.sql import Window

    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 40))
    vals = rng.choice([1.0, 2.5, 3.0, 7.75, 10.0], size=n)
    wts = rng.integers(1, 6, size=n)
    df = spark.createDataFrame(
        [(float(v), int(w)) for v, w in zip(vals, wts)], "v double, w long"
    )
    counts = df.groupBy("v").agg(F.sum("w").alias("_w"))
    wo = Window.orderBy("v")
    ranked = counts.select(
        "v",
        F.sum("_w").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("_cumw"),
        F.sum("_w").over(Window.partitionBy()).alias("_tw"),
    )
    got = ranked.agg(
        F.min(F.when(2 * F.col("_cumw") >= F.col("_tw"), F.col("v"))).alias("m")
    ).collect()[0].m
    # brute force: smallest value whose cumulative weight reaches half
    order = np.argsort(vals, kind="stable")
    sv, sw = vals[order], wts[order]
    cum = np.cumsum(sw)
    want = float(sv[np.argmax(2 * cum >= cum[-1])])
    assert got == want, (seed, got, want)


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_gini_formula_property(spark, seed):
    from pyspark.sql import Window

    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 30))
    x = rng.integers(1, 10_000, size=n)
    df = spark.createDataFrame([(int(k), int(v)) for k, v in enumerate(x)], "k long, _x long")
    w = Window.orderBy("_x", "k")
    ranked = df.select("_x", F.row_number().over(w).alias("_i")).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    got = ranked.agg(
        (
            F.sum((2 * F.col("_i") - F.col("_n") - 1) * F.col("_x")).cast("double")
            / (F.count(F.lit(1)) * F.sum("_x"))
        ).alias("g")
    ).collect()[0].g
    xs = np.sort(x)
    i = np.arange(1, n + 1)
    want = float(np.sum((2 * i - n - 1) * xs) / (n * xs.sum()))
    assert abs(got - want) < 1e-12
    # Gini bounds: [0, 1); 0 iff all equal
    assert 0.0 <= got < 1.0

# ---------------------------------------------------------------------------
# Property: BFS min-depths vs Python brute force on random graphs
# ---------------------------------------------------------------------------


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bfs_depths_property(spark, seed):
    from collections import deque
    from medical_examination_data_etl_system_spark.operators.clustering import bfs_depths

    rng = np.random.default_rng(seed)
    n = int(rng.integers(4, 15))
    m = int(rng.integers(3, 25))
    edges = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b}
    edges |= {(b, a) for a, b in edges}  # undirected
    if not edges:
        edges = {(0, 1), (1, 0)}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    max_depth = int(rng.integers(1, 5))
    got = {r.node: r.depth for r in bfs_depths(df, 0, max_depth=max_depth).collect()}
    # brute-force BFS
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    want, q = {0: 0}, deque([0])
    while q:
        u = q.popleft()
        if want[u] >= max_depth:
            continue
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    assert got == want, (seed, got, want)
