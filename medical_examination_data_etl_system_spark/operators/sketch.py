"""Sketch-backed heavy hitters: partition-local Misra-Gries candidate
generation + exact distributed recount (SURVEY.md §2b X47).

Why not just ``groupBy(col).count().orderBy(...).limit(k)``? That
shuffles one partial-aggregate row per DISTINCT key. For vocabulary-
scale keys (word/n-gram frequencies over a 100 TB corpus — trillions of
distinct grams) the shuffle of the partial aggregates IS the bottleneck.
The sketch path shuffles only O(partitions × capacity) candidate values
— constant per partition — then recounts exactly with the candidate set
broadcast as a semi-join, so the big side stays map-only.

Guarantee (Misra-Gries + mergeable-summaries batch merge): after
processing N rows with ``capacity`` counters, every key with true
frequency > N/(capacity+1) is in the candidate set. Since the final
counts come from an exact recount, the ONLY approximation is candidate
completeness — pick ``capacity`` so N/(capacity+1) is below the k-th
frequency you care about (for Zipf-shaped data, capacity a few × k).
When ``capacity`` ≥ the number of distinct keys, the result is exact
unconditionally (counters never evict).
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_merge(state: Counter, batch: Counter, capacity: int) -> Counter:
    """Merge a batch into an MG summary (Agarwal et al., 'Mergeability
    of Summaries': combine counts, subtract the (capacity+1)-th largest,
    drop non-positives). Counter arithmetic is C-speed per batch — no
    per-row Python."""
    state.update(batch)
    if len(state) > capacity:
        # (capacity+1)-th largest count = eviction offset
        offset = sorted(state.values(), reverse=True)[capacity]
        state = Counter({k: c - offset for k, c in state.items() if c > offset})
    return state


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    capacity: int = 256,
) -> DataFrame:
    """Exact top-``k`` most frequent values of ``df[col]`` via the
    sketch-then-verify pattern: ``(value, cnt, rnk)``, ties broken by
    value ascending (deterministic, oracle-matched).

    Plan: one Arrow-batched ``mapInPandas`` pass emits ≤ ``capacity``
    candidate values per partition (no shuffle of the raw keys), the
    tiny candidate union broadcasts back as a semi-join, and the exact
    recount aggregates only candidate rows. The 100 TB cost is one
    map-only scan + a broadcast-filtered count — vs a full
    distinct-key shuffle for the naive plan.
    """
    values = df.select(F.col(col).alias("v"))

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: Counter = Counter()
        for pdf in batches:
            state = _mg_merge(state, Counter(pdf["v"].dropna()), capacity)
        yield pd.DataFrame({"v": list(state.keys())})

    candidates = (
        values.mapInPandas(mg_partition, schema=values.schema)
        .distinct()
    )
    counted = (
        values.join(F.broadcast(candidates), "v", "left_semi")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("v"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col("v").alias(col), "cnt", "rnk")
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketches: distinct counts that also support the
# set algebra HLL cannot — union, intersection, Jaccard between groups
# ---------------------------------------------------------------------------


def _md5_hash60(col) -> "F.Column":
    """First 15 hex chars of md5(key) as a 60-bit integer — the
    engine-agnostic KMV sample space (the ``_cms_bucket`` discipline
    widened from bucket index to full hash): DuckDB replays it as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def kmv_overlap_exact(
    df: DataFrame, group_col: str, key_col: str, k: int = 256
) -> DataFrame:
    """Pairwise set-overlap estimates between ALL groups from their KMV
    (k-minimum-values) sketches, exact-hash-checkable: the sketches are
    built over md5-derived 60-bit INTEGER hashes (deterministic in any
    engine, unlike an xxhash64 sample space) with integer outputs —
    ``ku``, ``theta_u``, ``n_both`` — plus estimates that are each ONE float
    division of integers rounded once (no float folding anywhere), so
    a DuckDB oracle reproduces every column bit-for-bit. Same scale
    shape: one distinct shuffle + one group rank builds ≤ k-row
    sketches; all pair math is O(groups² × k) on sketch rows."""
    from pyspark.sql import Window

    from medical_examination_data_etl_system_spark.operators.cache import persist_tracked

    hashed = (
        df.select(F.col(group_col).alias("grp"), F.col(key_col).alias("key"))
        .distinct()
        .select("grp", _md5_hash60(F.col("key")).alias("h"))
        .distinct()
    )
    wg = Window.partitionBy("grp").orderBy("h")
    sk = persist_tracked(
        hashed.select("grp", "h", F.row_number().over(wg).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("grp", "h")
    )
    groups_a = sk.select(F.col("grp").alias("grp_a")).distinct()
    groups_b = sk.select(F.col("grp").alias("grp_b")).distinct()
    side_a = sk.select(F.col("grp").alias("grp_a"), "h").crossJoin(F.broadcast(groups_b))
    side_b = sk.select(F.col("grp").alias("grp_b"), "h").crossJoin(F.broadcast(groups_a))
    pairs = (
        side_a.select("grp_a", "grp_b", "h")
        .unionByName(side_b.select("grp_a", "grp_b", "h"))
        .filter(F.col("grp_a") < F.col("grp_b"))
        .dropDuplicates(["grp_a", "grp_b", "h"])
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    union_k = pairs.select(
        "grp_a", "grp_b", "h", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= k)
    in_a = sk.select(F.col("grp").alias("grp_a"), "h", F.lit(1).alias("in_a"))
    in_b = sk.select(F.col("grp").alias("grp_b"), "h", F.lit(1).alias("in_b"))
    marked = (
        union_k.join(in_a, ["grp_a", "h"], "left")
        .join(in_b, ["grp_b", "h"], "left")
        .fillna(0, subset=["in_a", "in_b"])
    )
    return (
        marked.groupBy("grp_a", "grp_b")
        .agg(
            F.count(F.lit(1)).alias("ku"),
            F.max("h").alias("theta_u"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
        )
        .select(
            "grp_a",
            "grp_b",
            "ku",
            "theta_u",
            "n_both",
            F.round(F.col("n_both").cast("double") / F.col("ku"), 6).alias("est_jaccard"),
            F.round(
                F.when(F.col("ku") < k, F.col("ku").cast("double")).otherwise(
                    (F.col("ku") - 1).cast("double") * F.lit(float(2**60)) / F.col("theta_u")
                ),
                2,
            ).alias("est_union"),
        )
    )


def _cms_bucket(col, seed: int, width: int) -> "F.Column":
    """Deterministic cross-engine CMS bucket: first 8 hex chars of
    md5(seed || ':' || key) as an integer, mod ``width``. md5, not
    xxhash64, so a SQL oracle reproduces the identical table."""
    return (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), col.cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % width
    )


def cms_counters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch counter table ``(seed, bucket, cnt)`` —
    depth × width mergeable counters (Cormode–Muthukrishnan).

    One pass, one aggregation: each row explodes into ``depth``
    (seed, bucket) coordinates map-side and the groupBy's partial
    aggregation compacts them to ≤ depth·width rows per partition
    before the shuffle — so the shuffle volume is O(partitions ×
    depth × width) COUNTERS regardless of row count or key
    cardinality, the whole point of a sketch at 100 TB (contrast the
    per-distinct-key partials of an exact count). Counter tables from
    disjoint corpora merge by coordinate-wise SUM (linear sketch), the
    same algebra incr_agg_merge_orders pins for agg states.

    Every hash is md5-derived (``_cms_bucket``), so the construction
    is DETERMINISTIC and engine-independent: unlike classic
    randomly-seeded sketches, the driver's DuckDB oracle rebuilds the
    byte-identical counter table — the estimate column is exact-hash
    checkable, while the ESTIMATE still carries the standard CMS
    guarantee (estimate ≥ true; error ≤ 2N/width with prob. 1−2^−depth).
    """
    key = F.col(key_col)
    coords = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("int").alias("seed"),
                    _cms_bucket(key, s, width).alias("bucket"),
                )
                for s in range(depth)
            ]
        )
    ).alias("c")
    return (
        df.select(coords)
        .select("c.seed", "c.bucket")
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point estimates for ``keys`` from a ``cms_counters`` table:
    min over the depth counters each key hashes into. The counter
    table is ≤ depth·width rows — broadcast — so estimation is
    map-only however many keys are probed."""
    key = F.col(key_col)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("seed"),
                        _cms_bucket(key, s, width).alias("bucket"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("c"),
    ).select(key_col, "c.seed", "c.bucket")
    return (
        probes.join(F.broadcast(counters), ["seed", "bucket"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("cms_estimate"))
    )
