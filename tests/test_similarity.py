"""Recall and invariance checks for the SRP-blocked embedding near-dup
path against its exact all-pairs twin (sf0.001 embeddings)."""

from __future__ import annotations

from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators import similarity
from medical_examination_data_etl_system_spark.queries import load

SF_DIR = "/root/testdata/sf0.001"


def test_embedding_near_dup_srp_recall_vs_exact(spark):
    """The SRP-blocked scale path must find most of the exact twin's
    pairs (recall < 1 by construction; precision 1 — every emitted pair
    is exact-GEMM verified, so it must be a subset)."""
    emb = load(spark, SF_DIR, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.embedding_near_duplicates(emb, threshold=0.4).collect()
    }
    srp = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.embedding_near_duplicates_srp(emb, threshold=0.4).collect()
    }
    assert len(exact) > 0
    assert set(srp) <= set(exact), "SRP emitted a pair the exact twin lacks"
    for pair, cos in srp.items():
        assert cos == exact[pair]
    recall = len(srp) / len(exact)
    assert recall >= 0.5, f"SRP near-dup recall {recall:.2f} below floor"


def test_embedding_near_dup_block_invariance(spark):
    """Pair set must not depend on the blocking factor (1 block ==
    many blocks), and the derived-B default must match both."""
    emb = load(spark, SF_DIR, "embeddings")
    one = similarity.embedding_near_duplicates(emb, threshold=0.4, num_blocks=1).collect()
    many = similarity.embedding_near_duplicates(emb, threshold=0.4, num_blocks=7).collect()
    auto = similarity.embedding_near_duplicates(emb, threshold=0.4).collect()
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["cos_sim"]) for r in rows)  # noqa: E731
    assert key(one) == key(many) == key(auto)


def test_srp_plane_matrix_matches_column_definition(spark):
    """with_srp_buckets must use EXACTLY the planes _srp_bucket defines:
    assign buckets both ways on real vectors and compare."""
    emb = load(spark, SF_DIR, "embeddings").limit(200)
    hof = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", similarity._srp_bucket(F.col("embedding"), 4, 64).alias("b")
        ).collect()
    }
    fast = {
        r["_id"]: r["_bucket"]
        for r in similarity.with_srp_buckets(emb, "vec_id", "embedding", 4, 64).collect()
    }
    diffs = [k for k in hof if hof[k] != fast[k]]
    # identical planes; only knife-edge dots (≈0) may flip under a
    # different float64 summation order — none expected on this data.
    assert len(diffs) <= 2, f"{len(diffs)} bucket mismatches: {diffs[:5]}"


def test_srp_mega_bucket_sharded(spark):
    """Skew guard (VERDICT r3 #5): an adversarial corpus whose vectors
    ALL share one SRP bucket per table must (a) split into bounded
    kernel groups (no side larger than ~target_block_rows), and (b)
    emit exactly the exact twin's pairs (near-identical vectors → SRP
    recall 1)."""
    import numpy as np

    rng = np.random.default_rng(42)
    base = rng.normal(size=64)
    rows = [
        (i, (base + rng.normal(scale=1e-3, size=64)).astype("float32").tolist())
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    target = 16
    sharded = similarity._srp_sharded_groups(
        emb, "vec_id", "embedding", num_planes=4, dim=64, num_tables=2,
        target_block_rows=target, size_sample_mod=1,  # exact counts: tiny corpus
    )
    side_sizes = (
        sharded.groupBy("_pa", "_pb", "_is_a").count().agg(F.max("count")).collect()[0][0]
    )
    # hash sharding is binomial, not exact: 120 rows / 8 shards ≈ 15
    # per side ± variance; the guard's contract is O(target), not ==.
    assert side_sizes <= 2 * target, f"group side {side_sizes} exceeds 2×target {target}"
    n_groups = sharded.select("_pa", "_pb").distinct().count()
    # per table: S(S+1)/2 = 36 groups; 2 tables → 72 (all vectors in one
    # bucket per table by construction — identical directions).
    assert n_groups > 2, "mega-bucket was not sharded"

    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates(emb, threshold=0.9).collect()
    }
    srp = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates_srp(
            emb, threshold=0.9, num_tables=2, target_block_rows=target,
            size_sample_mod=1,
        ).collect()
    }
    assert len(exact) == 120 * 119 // 2, "adversarial corpus should be all-pairs"
    assert srp == exact, "sharding changed the emitted pair set"


def test_srp_shard_invariance(spark):
    """The emitted pair set must be IDENTICAL for any shard target and
    any size-sample rate — sharding and sampled sizing affect task
    bounds only, never results (random corpus, three configurations
    incl. pathological target=1)."""
    import numpy as np

    rng = np.random.default_rng(7)
    # two loose clusters + noise → a mix of dense and sparse buckets
    centers = rng.normal(size=(2, 64))
    rows = []
    for i in range(90):
        base = centers[i % 2] if i % 3 else rng.normal(size=64)
        rows.append((i, (base + rng.normal(scale=0.05, size=64)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def pairs(**kw):
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in similarity.embedding_near_duplicates_srp(
                emb, threshold=0.8, num_tables=2, **kw
            ).collect()
        )

    baseline = pairs(target_block_rows=10**9, size_sample_mod=1)  # unsharded
    assert baseline, "corpus should produce near-dup pairs"
    assert pairs(target_block_rows=16, size_sample_mod=1) == baseline
    assert pairs(target_block_rows=1, size_sample_mod=1) == baseline
    assert pairs(target_block_rows=16, size_sample_mod=5) == baseline


def test_srp_adaptive_planes(spark):
    """Occupancy-targeted adaptive planes: for n ≤ target·2^num_planes
    the plane count is untouched (bit-identical pair set), and a
    forced-small target (more planes → finer buckets) must stay a
    deterministic SUBSET of the exact twin with identical cos values —
    recall may drop, precision and values may not."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(2, 64))
    rows = []
    for i in range(90):
        base = centers[i % 2] if i % 3 else rng.normal(size=64)
        rows.append((i, (base + rng.normal(scale=0.05, size=64)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def srp(**kw):
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in similarity.embedding_near_duplicates_srp(
                emb, threshold=0.8, num_tables=2, **kw
            ).collect()
        )

    # default target (4096) is a no-op at n=90: same pairs as pinned k
    assert srp() == srp(target_bucket_rows=None)
    # forced adaptive branch: n=90, target=2 → k = ceil(log2(45)) = 6
    adaptive = srp(target_bucket_rows=2)
    assert adaptive == srp(target_bucket_rows=2), "adaptive branch not deterministic"
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.embedding_near_duplicates(emb, threshold=0.8).collect()
    }
    assert set((a, b) for a, b, _ in adaptive) <= set(exact)
    assert all(c == exact[(a, b)] for a, b, c in adaptive)
    assert len(adaptive) > 0, "finer buckets should still surface the tight cluster"


def test_srp_tables_for_planes_math():
    """L(k) holds the analytic boundary recall: 1−(1−p^k)^{L(k)} ≥
    1−(1−p^k0)^{L0} for p = 1−arccos(threshold)/π, computed via the
    per-table miss probabilities (no 1−R cancellation)."""
    import math

    f = similarity.srp_tables_for_planes
    # documented figures: cos 0.4, base (k=4, L=8)
    assert f(4, 8, 6, 0.4) == 22
    assert f(4, 8, 7, 0.4) == 34
    assert f(4, 8, 8, 0.4) == 55
    assert f(4, 2, 6, 0.8) == 4
    # no-ops: k not raised, or degenerate p
    assert f(4, 8, 4, 0.4) == 8
    assert f(4, 8, 3, 0.4) == 8
    assert f(4, 8, 6, 1.0) == 8
    # the guarantee itself, across a grid
    for thr in (0.3, 0.4, 0.6, 0.8):
        p = similarity.srp_collision_probability(thr)
        for k0, l0 in ((4, 8), (6, 4)):
            r_base = 1 - (1 - p**k0) ** l0
            for k in range(k0, 13):
                lk = f(k0, l0, k, thr)
                assert 1 - (1 - p**k) ** lk >= r_base - 1e-12, (thr, k0, l0, k)


def test_srp_adaptive_planes_tables_decision():
    """The pure sizing decision: no-op at or under target, occupancy-k
    + recall-holding L above it, both caps honored."""
    f = similarity.srp_adaptive_planes_tables
    # at/under target: untouched
    assert f(4096, 4, 8, 0.4, 4096, 64) == (4, 8)
    assert f(10, 4, 8, 0.4, 4096, 64) == (4, 8)
    # 200k / 4096 → k=6, L=22 (the adversarial-corpus figures)
    assert f(200_000, 4, 8, 0.4, 4096, 64) == (6, 22)
    # max_tables caps L (8 = the pre-r10 fixed-L behavior)
    assert f(200_000, 4, 8, 0.4, 4096, 8) == (6, 8)
    # plane cap at 18 even for absurd n; L then hits its own cap
    planes, tables = f(10**12, 4, 8, 0.4, 4096, 64)
    assert planes == 18 and tables == 64


def test_srp_probes_for_cap_math():
    """The multi-probe floor: q(T) = p^k + T·p^(k−1)(1−p) per table,
    recall 1−(1−q)^L vs the (k0, L0) baseline — T must be the smallest
    count that meets it, 0 when L alone does, capped at max_probes."""
    f = similarity.srp_probes_for_cap
    p = similarity.srp_collision_probability(0.4)
    # k=6 capped at L=8 vs (4, 8) baseline: T=3 restores the floor
    assert f(4, 8, 6, 8, 0.4, 6) == 3
    base_miss = (1 - p**4) ** 8
    q3 = p**6 + 3 * p**5 * (1 - p)
    q2 = p**6 + 2 * p**5 * (1 - p)
    assert (1 - q3) ** 8 <= base_miss < (1 - q2) ** 8
    # uncapped tables (L=22 at k=6) already hold it: no probes
    assert f(4, 8, 6, 22, 0.4, 6) == 0
    # k not raised → no probes regardless
    assert f(4, 8, 4, 8, 0.4, 6) == 0
    # max_probes caps even when the floor is not met
    assert f(4, 8, 6, 8, 0.4, 1) == 1
    # deep-k regime: feasible at k=10 / L=64 with few probes ...
    t10 = f(4, 8, 10, 64, 0.4, 10)
    assert 1 <= t10 <= 3
    # ... infeasible at k=18 / L=64 → returns the cap (residual stated)
    assert f(4, 8, 18, 64, 0.4, 6) == 6
    # monotone in T: the returned T is minimal
    for t_less in range(t10):
        q = p**10 + t_less * p**9 * (1 - p)
        assert (1 - q) ** 64 > base_miss


def test_srp_adaptive_plan_decision():
    """The full (planes, tables, probes) decision: probes stay 0 until
    max_tables binds, then cover the capped deficit; small corpora are
    untouched; probes never exceed the plane count."""
    f = similarity.srp_adaptive_plan
    assert f(4096, 4, 8, 0.4, 4096, 64) == (4, 8, 0)
    # L=22 fits under 64 → no probes
    assert f(200_000, 4, 8, 0.4, 4096, 64) == (6, 22, 0)
    # cap at 8 binds → k=6, L=8, T=3
    assert f(200_000, 4, 8, 0.4, 4096, 8) == (6, 8, 3)
    # absurd n: planes cap 18, tables cap 64, probes at their cap
    planes, tables, probes = f(10**12, 4, 8, 0.4, 4096, 64)
    assert (planes, tables) == (18, 64) and probes == 6
    # max_probes=0 reproduces the pre-r15 pair of decisions exactly
    assert f(200_000, 4, 8, 0.4, 4096, 8, max_probes=0) == (6, 8, 0)
    # probes are clamped to the plane count
    assert f(200_000, 4, 8, 0.4, 4096, 8, max_probes=99)[2] <= 6


def test_srp_adaptive_tables_hold_boundary_recall(spark):
    """VERDICT r9 #3 pin: on a corpus of boundary pairs (cosine spread
    0.35-0.75 around the 0.4 threshold), forcing the adaptive branch to
    k=6 WITHOUT table scaling (max_tables=num_tables — the pre-r10
    behavior) drops recall below the k=4 baseline, while the scaled-L
    branch (L=22) holds recall ≥ the baseline. Deterministic: seeded
    corpus, hash-derived planes."""
    import math

    import numpy as np

    rng = np.random.default_rng(23)
    rows = []
    for i in range(120):
        u = rng.normal(size=64)
        u /= np.linalg.norm(u)
        w = rng.normal(size=64)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        c = rng.uniform(0.35, 0.75)  # pair cosine near/above the threshold
        v = c * u + np.sqrt(1 - c * c) * w
        rows.append((2 * i, u.astype("float32").tolist()))
        rows.append((2 * i + 1, v.astype("float32").tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def srp(**kw):
        return set(
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_duplicates_srp(
                emb, threshold=0.4, num_tables=8, **kw
            ).collect()
        )

    exact = set(
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates(emb, threshold=0.4).collect()
    )
    assert len(exact) >= 100
    # n=240, target=4 → k = ceil(log2(60)) = 6; scaled L = 22
    assert max(4, min(18, math.ceil(math.log2(240 / 4)))) == 6
    assert similarity.srp_tables_for_planes(4, 8, 6, 0.4) == 22
    base = srp(target_bucket_rows=None)  # k=4, L=8
    scaled = srp(target_bucket_rows=4)  # k=6, L=22
    # k=6, L=8, probes OFF — the pre-r10 capped hole, kept reachable
    capped = srp(target_bucket_rows=4, max_tables=8, max_probes=0)
    # k=6, L=8, probes sized (=3 at cos 0.4) — the r15 multi-probe fix
    probed = srp(target_bucket_rows=4, max_tables=8)
    for s in (base, scaled, capped, probed):
        assert s <= exact, "SRP precision must stay 1"
    # tables 0..7 are shared → scaled candidates strictly include capped's
    assert capped <= scaled
    # probing only ADDS buckets → superset of the probe-less capped set
    assert capped <= probed
    # the r9 recall hole: fixed L at k=6 reads below baseline ...
    assert len(capped) < len(base)
    # ... the scaled branch holds the boundary-recall contract ...
    assert len(scaled) >= len(base)
    # ... and so does the capped-L multi-probe branch (VERDICT r9's
    # "graceful degradation past the cap" is now a held floor)
    assert len(probed) >= len(base)
    # pin the measured figures so a silent regression is loud
    assert len(capped & exact) / len(exact) < 0.75
    assert len(scaled & exact) / len(exact) >= 0.85
    assert len(probed & exact) / len(exact) >= 0.85


def test_srp_probes_overclamp(spark):
    """ADVICE r10 #2: an explicit ``probes`` larger than the plane count
    must be clamped ONCE at the _srp_sharded_groups entry — previously
    the emit pass clamped but the sizing pass did not, so
    probes > num_planes argsort-indexed past k in _srp_table_codes
    (worker-side IndexError). The clamped run must emit exactly the
    probes=num_planes pair set."""
    import numpy as np

    rng = np.random.default_rng(23)
    centers = rng.normal(size=(2, 64))
    rows = []
    for i in range(80):
        base = centers[i % 2] if i % 3 else rng.normal(size=64)
        rows.append((i, (base + rng.normal(scale=0.05, size=64)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def pairs(p):
        return sorted(
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_duplicates_srp(
                emb, threshold=0.8, num_tables=2, target_bucket_rows=None,
                num_planes=4, probes=p, size_sample_mod=1,
            ).collect()
        )

    at_cap = pairs(4)       # probes == num_planes
    over = pairs(99)        # must clamp to 4, not crash
    assert at_cap, "corpus should produce near-dup pairs"
    assert over == at_cap, "over-clamped probes changed the pair set"


def test_srp_bucket_packing_invariant(spark):
    """VERDICT r10 #4: packing small S=1 buckets into negative-keyed
    coalesced kernel groups must leave the emitted pair set IDENTICAL
    while strictly reducing the Arrow group count (the deep-k regime's
    L·2^k tiny-group overhead)."""
    import numpy as np

    rng = np.random.default_rng(31)
    centers = rng.normal(size=(3, 64))
    rows = []
    for i in range(150):
        base = centers[i % 3] if i % 4 else rng.normal(size=64)
        rows.append((i, (base + rng.normal(scale=0.05, size=64)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # The sharded rows are id-only: the kernel looks vectors up here.
    vecs = similarity._normalized_vectors_broadcast(emb, "vec_id", "embedding")

    def run(hint):
        sharded = similarity._srp_sharded_groups(
            emb, "vec_id", "embedding", num_planes=6, dim=64, num_tables=4,
            target_block_rows=64, size_sample_mod=1, probes=2, n_rows_hint=hint,
        )
        groups = sharded.select("_pa", "_pb").distinct().count()
        pairs = sorted(
            (r["id_a"], r["id_b"])
            for r in sharded.groupBy("_pa", "_pb")
            .applyInPandas(similarity._gemm_pairs_factory(0.8, vecs), schema=similarity._PAIR_SCHEMA)
            .select("id_a", "id_b")
            .distinct()
            .collect()
        )
        return groups, pairs

    g_unpacked, p_unpacked = run(None)
    g_packed, p_packed = run(150)
    assert p_unpacked, "corpus should produce candidate pairs"
    assert p_packed == p_unpacked, "packing changed the pair set"
    assert g_packed < g_unpacked, f"packing did not reduce groups ({g_packed} vs {g_unpacked})"


def test_srp_broadcast_vectors_invariant(spark):
    """The two ways vectors reach the GEMM kernel — the broadcast lookup
    (r11 deep-cap volume fix) and the co-partitioned fetch join — must
    emit the IDENTICAL final pair set at the same plan, including an
    explicit plan with no sizing count (``target_bucket_rows=None``),
    which takes the fetch join without bucket packing."""
    import numpy as np

    rng = np.random.default_rng(37)
    centers = rng.normal(size=(2, 64))
    rows = []
    for i in range(120):
        base = centers[i % 2] if i % 3 else rng.normal(size=64)
        rows.append((i, (base + rng.normal(scale=0.05, size=64)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def pairs(**kw):
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in similarity.embedding_near_duplicates_srp(
                emb, threshold=0.8, num_tables=2, size_sample_mod=1, **kw
            ).collect()
        )

    bcast_path = pairs(broadcast_corpus_bytes=256 << 20)  # broadcast lookup
    fetch_path = pairs(broadcast_corpus_bytes=0)          # co-partitioned fetch join
    uncounted = pairs(target_bucket_rows=None)            # n never counted: fetch join
    assert bcast_path, "corpus should produce near-dup pairs"
    assert fetch_path == bcast_path, "fetch-join path changed the pair set"
    assert uncounted == bcast_path, "uncounted fetch-join path changed the pair set"


def test_srp_fetch_past_the_budget_matches_broadcast(spark):
    """VERDICT r11 #3: past the broadcast budget the co-partitioned fetch
    join must emit the IDENTICAL final pair set as the single broadcast
    on the same corpus — for LongType and IntegerType ids alike (the
    join casts the id to the emit's LongType ``_id``)."""
    import numpy as np

    rng = np.random.default_rng(41)
    centers = rng.normal(size=(3, 32))
    rows = []
    for i in range(300):
        base = centers[i % 3] if i % 4 else rng.normal(size=32)
        rows.append((i, (base + rng.normal(scale=0.05, size=32)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    full = 300 * 32 * 8

    def pairs(frame, budget):
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in similarity.embedding_near_duplicates_srp(
                frame, threshold=0.8, dim=32, num_tables=4, size_sample_mod=1,
                broadcast_corpus_bytes=budget,
            ).collect()
        )

    single = pairs(emb, full + 1)
    fetch = pairs(emb, full // 3 + 1)
    assert single, "corpus should produce near-dup pairs"
    assert fetch == single, "fetch-join path changed the pair set"

    emb_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
    assert pairs(emb_int, full // 3 + 1) == single, "IntegerType ids changed the fetch-join pair set"


def test_gemm_zero_norm_fetch_matches_broadcast(spark):
    """ADVICE r11 #3: the kernel's normalization of joined-in vectors
    (fetch join) shares the broadcast path's zero-vector convention
    (zero norm → cos 0, never NaN) — observable at a non-positive
    threshold, where NaN comparisons would silently drop the zero
    vector's pairs on one path only. ``n`` is counted in both calls, so
    the budget alone picks the route."""
    import numpy as np

    rng = np.random.default_rng(43)
    rows = [(i, rng.normal(size=16).astype("float32").tolist()) for i in range(80)]
    rows.append((80, [0.0] * 16))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    full = 81 * 16 * 8

    def pairs(budget):
        return sorted(
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_duplicates_srp(
                emb, threshold=-0.5, dim=16, num_planes=2, num_tables=4,
                size_sample_mod=1, broadcast_corpus_bytes=budget,
            ).collect()
        )

    bcast = pairs(full + 1)
    fetch = pairs(0)
    assert any(80 in (a, b) for a, b in bcast), "zero vector should pair at cos 0"
    assert fetch == bcast, "zero-norm semantics diverge between paths"


def test_srp_packing_cap_keeps_estimated_large_buckets_unpacked(spark):
    """ADVICE r11 #4: S=1 buckets whose ESTIMATED size exceeds
    target_block_rows/2 keep their own kernel group (positive composite
    key) instead of joining a shared pack — an estimate miss degrades to
    the pre-packing behavior, never compounds into one oversized pack."""
    import numpy as np

    rng = np.random.default_rng(47)
    # 3 tight clusters of 30 (bucket size in (target/2, target] → own
    # group) + 60 scattered singles (tiny buckets → packed).
    rows = []
    i = 0
    for c in range(3):
        center = rng.normal(size=16)
        for _ in range(30):
            rows.append((i, (center + rng.normal(scale=0.01, size=16)).astype("float32").tolist()))
            i += 1
    for _ in range(60):
        rows.append((i, rng.normal(size=16).astype("float32").tolist()))
        i += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    target = 40
    sharded = similarity._srp_sharded_groups(
        emb, "vec_id", "embedding", num_planes=5, dim=16, num_tables=2,
        target_block_rows=target, size_sample_mod=1, probes=0, n_rows_hint=150,
    )
    stats = (
        sharded.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("n"), F.min("_pa").alias("pa"))
        .collect()
    )
    packed = [r for r in stats if r["pa"] < 0]
    own_mid = [r for r in stats if target >= r["n"] > target // 2 and r["pa"] >= 0]
    assert packed, "tiny buckets should pack"
    assert own_mid, "mid-size (cap-excluded) buckets should exist unpacked"
    # every bucket with true size > target/2 must be unpacked (for S=1
    # buckets n is the true size; S>1 buckets are never packed anyway)
    for r in stats:
        if r["n"] > target // 2:
            assert r["pa"] >= 0, f"bucket {r['_g']} (n={r['n']}) was packed past the cap"
