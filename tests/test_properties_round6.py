"""Property tests for the round-6 operator families: funnel
monotonicity, gap-fill mass conservation, containment ≥ Jaccard,
Misra-Gries merge invariants (pure Python — no Spark round trip),
weighted-sample cardinality/determinism, heavy-hitter exactness when
capacity covers the key space.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.curation import weighted_sample_per_key
from medical_examination_data_etl_system_spark.operators.dedup import (
    _ngram_containment_pairs,
    _ngram_jaccard_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)
from medical_examination_data_etl_system_spark.operators.sketch import _mg_merge, heavy_hitters
from medical_examination_data_etl_system_spark.operators.timeseries import (
    funnel_stages,
    resample_gap_fill,
)

_SPARK_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# Misra-Gries merge invariant — pure Python, cheap to run many examples
# ---------------------------------------------------------------------------


@given(
    batches=st.lists(
        st.lists(st.sampled_from("abcdefghij"), min_size=0, max_size=50),
        min_size=1,
        max_size=8,
    ),
    capacity=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_mg_merge_invariants(batches, capacity):
    state: Counter = Counter()
    truth: Counter = Counter()
    for b in batches:
        state = _mg_merge(state, Counter(b), capacity)
        truth.update(b)
    n = sum(truth.values())
    # classic MG guarantees: ≤ capacity counters; every stored count is
    # an under-estimate by at most N/(capacity+1); any key with true
    # frequency above that bound is present.
    assert len(state) <= capacity
    bound = n / (capacity + 1)
    for k, c in state.items():
        assert c <= truth[k]
        assert truth[k] - c <= bound + 1e-9
    for k, t in truth.items():
        if t > bound:
            assert k in state, (k, t, bound, dict(state))


# ---------------------------------------------------------------------------
# Spark-backed properties — few examples, deterministic generators
# ---------------------------------------------------------------------------


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(**_SPARK_SETTINGS)
def test_funnel_counts_monotone(spark, seed):
    rng = random.Random(seed)
    rows = [
        Row(
            event_id=i,
            user_id=rng.randrange(6),
            ts=dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randrange(500)),
            event_type=rng.choice(["view", "click", "purchase", "other"]),
            value=1.0,
        )
        for i in range(60)
    ]
    out = funnel_stages(
        spark.createDataFrame(rows), ["view", "click", "purchase"]
    ).collect()
    counts = [r["n_users"] for r in sorted(out, key=lambda r: r["stage_idx"])]
    assert counts == sorted(counts, reverse=True)
    assert all(r["pct_of_first"] is None or r["pct_of_first"] <= 1.0 for r in out)


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(**_SPARK_SETTINGS)
def test_gap_fill_conserves_event_mass(spark, seed):
    rng = random.Random(seed)
    rows = [
        Row(
            event_id=i,
            user_id=1,
            ts=dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randrange(2000)),
            event_type=rng.choice(["a", "b"]),
            value=float(rng.randrange(10)),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    out = resample_gap_fill(df, key_col="event_type", step="1 hour")
    got = {
        r["event_type"]: r["total"]
        for r in out.groupBy("event_type").agg(F.sum("n_events").alias("total")).collect()
    }
    want = {
        r["event_type"]: r["total"]
        for r in df.groupBy("event_type").agg(F.count(F.lit(1)).alias("total")).collect()
    }
    assert got == want
    # every key shares the same global spine length
    spans = [
        r["n"] for r in out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert len(set(spans)) == 1


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(**_SPARK_SETTINGS)
def test_containment_dominates_jaccard(spark, seed):
    """Containment ≥ Jaccard on every pair of the direct kernels. With
    every doc copied twice (the probe collapses) the public operators
    return each copy pair at 1.0 and every other pair at its originals'
    kernel value."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        Row(doc_id=i, text=" ".join(rng.choices(vocab, k=rng.randrange(3, 15))), source="s")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows)
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in _ngram_jaccard_pairs(docs, "text", "doc_id", "source", 2, 0.0, 10_000).collect()
    }
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in _ngram_containment_pairs(docs, "text", "doc_id", "source", 2, 0.0, 10_000).collect()
    }
    assert set(jac) == set(cont)
    for pair, j in jac.items():
        assert cont[pair] >= j - 1e-9, (pair, cont[pair], j)

    copies = [Row(doc_id=r.doc_id + 100 * c, text=r.text, source="s") for r in rows for c in (1, 2)]
    ids = sorted(r.doc_id for r in rows + copies)
    replicated = spark.createDataFrame(rows + copies)
    for public, direct, metric in (
        (ngram_jaccard_pairs, jac, "jaccard"),
        (ngram_containment_pairs, cont, "containment"),
    ):
        want = {}
        for a in ids:
            for b in ids:
                oa, ob = sorted((a % 100, b % 100))
                if a < b and (oa == ob or (oa, ob) in direct):
                    want[(a, b)] = 1.0 if oa == ob else direct[(oa, ob)]
        got = public(replicated, threshold=0.0).collect()
        assert {(r["id_a"], r["id_b"]): r[metric] for r in got} == want


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(**_SPARK_SETTINGS)
def test_weighted_sample_cardinality_and_determinism(spark, seed):
    rng = random.Random(seed)
    rows = [
        Row(doc_id=i, source=f"s{i % 3}", n_chars=rng.randrange(1, 500))
        for i in range(rng.randrange(4, 25))
    ]
    df = spark.createDataFrame(rows)
    k = 3
    a = weighted_sample_per_key(df, "source", "n_chars", "doc_id", k)
    got = {
        r["source"]: r["n"]
        for r in a.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sizes = {
        r["source"]: r["n"]
        for r in df.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {s: min(k, n) for s, n in sizes.items()}
    b = weighted_sample_per_key(df, "source", "n_chars", "doc_id", k)
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(**_SPARK_SETTINGS)
def test_heavy_hitters_exact_when_capacity_covers(spark, seed):
    rng = random.Random(seed)
    rows = [Row(v=f"k{rng.randrange(9)}") for _ in range(200)]
    df = spark.createDataFrame(rows).repartition(4)
    got = [(r["v"], r["cnt"]) for r in heavy_hitters(df, "v", k=4, capacity=32).collect()]
    truth = Counter(r["v"] for r in rows)
    want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    assert got == want
