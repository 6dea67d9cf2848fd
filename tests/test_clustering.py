"""Exact component assertions for both connected-components
algorithms, plus the pairs→clusters→dedup integration over the real
MinHash output."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.clustering import (
    connected_components,
    dedup_by_components,
)

SF_DIR = "/root/testdata/sf0.001"


def _pairs(spark, edges):
    return spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])


def test_components_chain_triangle_isolated_pair(spark):
    # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
    pairs = _pairs(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
    )
    got = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_components_long_chain_converges(spark):
    """A 20-node path is the worst case for neighbor propagation (the
    min label travels one hop per round) — must converge within the cap."""
    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 20)])
    got = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert set(got.values()) == {1}
    assert len(got) == 20


def test_dedup_by_components_minhash_integration(spark):
    from medical_examination_data_etl_system_spark.operators.dedup import minhash_near_duplicates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    kept = dedup_by_components(docs, pairs)

    n_docs = docs.count()
    n_losers = (
        connected_components(pairs).filter(F.col("node") != F.col("comp")).count()
    )
    assert kept.count() == n_docs - n_losers
    # every pair has at most one survivor
    k = kept.select("doc_id")
    both = (
        pairs.join(k.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(k.withColumnRenamed("doc_id", "id_b"), "id_b")
        .count()
    )
    assert both == 0


def test_alternating_matches_label_prop_on_mixed_graph(spark):
    from medical_examination_data_etl_system_spark.operators.clustering import (
        connected_components_alternating,
    )

    pairs = _pairs(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
    )
    lp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    alt = {r["node"]: r["comp"] for r in connected_components_alternating(pairs).collect()}
    assert alt == lp


def test_alternating_on_long_path_and_random_graph(spark):
    import random

    from medical_examination_data_etl_system_spark.operators.clustering import (
        connected_components_alternating,
    )

    # 60-node path: diameter 59 — label prop's worst case; alternating
    # must converge well inside the same round cap (O(log^2 n)).
    path = _pairs(spark, [(i, i + 1) for i in range(1, 60)])
    alt = {r["node"]: r["comp"] for r in connected_components_alternating(path).collect()}
    assert set(alt.values()) == {1} and len(alt) == 60

    rng = random.Random(7)
    nodes = list(range(100))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = _pairs(spark, edges)
    lp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    alt = {r["node"]: r["comp"] for r in connected_components_alternating(pairs).collect()}
    assert alt == lp


def test_dedup_by_components_algorithms_agree_on_same_pairs(spark):
    """Both clustering algorithms must keep the identical surviving doc
    set when fed the SAME pair set (the queries themselves use different
    pair sources, so equivalence is pinned here)."""
    from medical_examination_data_etl_system_spark.operators.dedup import minhash_near_duplicates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_near_duplicates(docs, threshold=0.5).localCheckpoint(eager=True)
    a = sorted(r["doc_id"] for r in dedup_by_components(docs, pairs).collect())
    b = sorted(
        r["doc_id"]
        for r in dedup_by_components(docs, pairs, algorithm="alternating").collect()
    )
    assert a == b and len(a) > 0


@pytest.mark.parametrize("algorithm", ["label_prop", "alternating"])
def test_unconverged_loop_raises_naming_max_iter(spark, algorithm):
    """A 10-node path needs more than 3 rounds in either algorithm; a
    loop cut off at ``max_iter`` must raise, not return partial labels."""
    from medical_examination_data_etl_system_spark.operators.clustering import (
        connected_components_alternating,
    )

    cc = {"label_prop": connected_components, "alternating": connected_components_alternating}[
        algorithm
    ]
    path = _pairs(spark, [(i, i + 1) for i in range(1, 10)])
    with pytest.raises(RuntimeError, match="max_iter=3"):
        cc(path, max_iter=3)


def _union_find_labels(edges):
    """node → min node id of its component, by a plain union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_both_algorithms_match_union_find_on_random_graphs(spark):
    """Seeded random graphs: a 12-node chain whose ids are shuffled (the
    min label starts mid-chain), a sparse random part with repeated and
    reversed edges, and isolated pairs. Both algorithms must label every
    node with its union-find component's min id."""
    import random

    from medical_examination_data_etl_system_spark.operators.clustering import (
        connected_components_alternating,
    )

    for seed in (11, 29):
        rng = random.Random(seed)
        chain = rng.sample(range(1000, 1100), 12)
        edges = list(zip(chain, chain[1:]))
        nodes = rng.sample(range(100), 40)
        edges += [tuple(rng.sample(nodes, 2)) for _ in range(35)]
        edges += [(b, a) for a, b in edges[-5:]]
        edges += [(2000 + 2 * i, 2001 + 2 * i) for i in range(5)]
        rng.shuffle(edges)
        want = _union_find_labels(edges)
        pairs = _pairs(spark, edges)
        for cc in (connected_components, connected_components_alternating):
            got = {r["node"]: r["comp"] for r in cc(pairs).collect()}
            assert got == want, (seed, cc.__name__)
