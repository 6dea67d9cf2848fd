#!/usr/bin/env python
"""Adversarial NON-REPLICATED scale corpus (VERDICT r8 #4).

The standard 100× protocol (scripts/scale_check.py) replicates every
text verbatim, so the probe-gated near-dup operators (SimHash, n-gram
Jaccard/containment, Hamming, the rolling fingerprint) always collapse
exact copies and the probe's >80%-unique skip branch
(operators/dedup._should_collapse) never runs at scale. This script
synthesizes the OPPOSITE regime from the same driver parquet: a 100×
documents corpus that is ~90% unique with a Zipf-ish length spread, so
the collapse probe SKIPS and their candidate/verification stages run
over the full uncollapsed id space. (MinHash and its md5 twins collapse
without a probe; fuzzy Levenshtein's (block, prefix) grouping merges
exact copies itself.)

Construction (fully deterministic, all derived from /root/testdata):
- ids shift by replica × stride exactly like scale_check (other tables
  are scale_check's own replicas, so any query can run on the dir);
- replicas ≡ 0 (mod 10) keep the base text verbatim → every base doc
  has a 10-member exact-dup group (~9.1% duplicate mass — below the
  20% collapse threshold, above zero so exact-dedup outputs stay
  non-trivial);
- all other replicas rewrite ~half the words (xxhash64-seeded per
  (doc, replica, position), replacement token from the hash) — enough
  shingle churn to sit far below the 0.5 near-dup threshold, so the
  corpus is genuinely unique, not 90 mutual near-dups per base doc;
- lengths get a Zipf-ish spread: replica ≡ 1 (mod 12) doubles the doc
  (text + reversed text), other perturbed replicas truncate by
  1/(1 + replica mod 12) down to a 32-char floor.

The same argument applies to EMBEDDINGS: scale_check replicates every
vector verbatim, so at 100× each point has 100 exact copies — SRP/IVF
buckets see collapsed mega-groups, and any per-unique-vector cost is
hidden. ``synthesize_adversarial_embeddings`` mirrors the documents
protocol: replicas ≡ 0 (mod 10) keep the base vector verbatim (10%
exact-dup mass), every other replica is remixed as
``0.3·v + 2.0·rms(v)·u`` with ``u`` a deterministic xxhash64-seeded
uniform[-1,1] vector (rms 1/√3, so the noise term carries ≈1.15·|v|) —
measured sibling cosine ≈ 0.25 mean, safely below the 0.4 near-dup
threshold, so the corpus is ~90% geometrically distinct points, not
100 mutual near-dups per base vector.

Usage: python scripts/adversarial_corpus.py [replicas=100] [out=/tmp/sfadv100]
Then:  python scripts/scale_check.py 100 /tmp/sfadv100 only=docs_...
(scale_check reuses an existing dir, so the adversarial documents
survive; run `rm -rf` on the dir to rebuild.)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark import get_spark
from scripts.scale_check import SRC, synthesize


def synthesize_adversarial_documents(spark, replicas: int, out: str) -> None:
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    rep = docs.crossJoin(spark.range(replicas).select(F.col("id").alias("_rep")))

    words = F.split(F.col("text"), " ")
    perturbed_words = F.transform(
        words,
        lambda w, i: F.when(
            F.xxhash64(F.col("doc_id"), F.col("_rep"), i) % 2 == 0,
            F.concat(
                F.lit("w"),
                (F.abs(F.xxhash64(F.col("doc_id"), F.col("_rep"), i, F.lit(1))) % 100000).cast(
                    "string"
                ),
            ),
        ).otherwise(w),
    )
    perturbed = F.array_join(perturbed_words, " ")
    shrink = (F.col("_rep") % 12).cast("int")
    zipfed = (
        F.when(F.col("_rep") % 10 == 0, F.col("text"))  # exact-dup replicas
        .when(F.col("_rep") % 12 == 1, F.concat(perturbed, F.lit(" "), F.reverse(perturbed)))
        .otherwise(
            F.substring(
                perturbed,
                1,
                F.greatest(F.lit(32), (F.length(perturbed) / (1 + shrink)).cast("int")),
            )
        )
    )
    adv = rep.select(
        (F.col("doc_id") + F.col("_rep") * F.lit(stride)).alias("doc_id"),
        zipfed.alias("text"),
        "lang",
        "source",
        F.length(zipfed).cast("long").alias("n_chars"),
    )
    adv.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    stats = spark.read.parquet(f"{out}/documents.parquet").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.xxhash64(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))).alias("d"),
        F.expr("percentile_approx(n_chars, array(0.1, 0.5, 0.9, 0.99))").alias("len_pcts"),
    ).collect()[0]
    print(
        f"adversarial documents: {stats['n']} rows, ~{stats['d']} distinct texts "
        f"({100.0 * stats['d'] / stats['n']:.1f}% unique), len pcts {stats['len_pcts']}",
        flush=True,
    )


def synthesize_adversarial_embeddings(spark, replicas: int, out: str) -> None:
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    stride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    rep = emb.crossJoin(spark.range(replicas).select(F.col("id").alias("_rep")))

    # Deterministic uniform[-1,1] jitter per (vec, replica, dim); the
    # remix 0.3·v + 2.0·rms(v)·u keeps component magnitudes realistic
    # (rms-scaled) while dropping cosine-to-base to ~0.25 (u's rms is
    # 1/√3, so the noise term's norm is ≈ 1.15·|v| vs 0.3·|v| signal).
    rms = F.sqrt(
        F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
        )
        / F.greatest(F.size("embedding"), F.lit(1))
    )
    u = lambda x, i: (  # noqa: E731
        (F.xxhash64(F.col("vec_id"), F.col("_rep"), i) % 2001 + 2001) % 2001 - 1000
    ).cast("double") / 1000.0
    mixed = F.transform(
        "embedding",
        lambda x, i: (x.cast("double") * 0.3 + rms * 2.0 * u(x, i)).cast("float"),
    )
    adv = rep.select(
        (F.col("vec_id") + F.col("_rep") * F.lit(stride)).alias("vec_id"),
        F.when(F.col("_rep") % 10 == 0, F.col("embedding"))
        .otherwise(mixed)
        .alias("embedding"),
        "label",
    )
    adv.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    stats = (
        spark.read.parquet(f"{out}/embeddings.parquet")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(
                F.xxhash64(F.col("embedding").cast("array<float>").cast("string"))
            ).alias("d"),
        )
        .collect()[0]
    )
    print(
        f"adversarial embeddings: {stats['n']} rows, ~{stats['d']} distinct vectors "
        f"({100.0 * stats['d'] / stats['n']:.1f}% unique)",
        flush=True,
    )


def synthesize_adversarial_graph(spark, replicas: int, base: str, out: str) -> None:
    """A genuinely 100× CO-PURCHASE GRAPH. The standard protocol shifts
    only l_orderkey, so every replica emits the SAME (u, v) part edges
    and the graph queries' distinct() collapses the graph back to 1× —
    node/edge counts never grew in any prior scale run. Here l_partkey
    also shifts per replica (100 disjoint copies of the base graph,
    100× nodes/edges), EXCEPT a deterministic ~1% of rows that keep the
    base part key — those parts become cross-replica HUBS with ~100×
    the base co-purchase degree, exactly the skew the degree-cap /
    degree-orientation guards exist for, and they connect the replicas
    so BFS reaches the whole graph. Other tables are symlinked from
    ``base`` (part joins on shifted keys would dangle — this dir is for
    the lineitem-as-graph queries only)."""
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    stride_o = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    stride_p = li.agg(F.max("l_partkey")).collect()[0][0] + 1
    rep = li.crossJoin(spark.range(replicas).select(F.col("id").alias("_rep")))
    keep_base = F.xxhash64(F.col("l_orderkey"), F.col("l_partkey"), F.col("_rep")) % 100 == 0
    adv = rep.select(
        *[
            (F.col("l_orderkey") + F.col("_rep") * F.lit(stride_o)).alias("l_orderkey")
            if c == "l_orderkey"
            else F.when(keep_base, F.col("l_partkey"))
            .otherwise(F.col("l_partkey") + F.col("_rep") * F.lit(stride_p))
            .alias("l_partkey")
            if c == "l_partkey"
            else F.col(c)
            for c in li.columns
        ]
    )
    os.makedirs(out, exist_ok=True)
    adv.write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "events", "documents", "embeddings"):
        dst = f"{out}/{name}.parquet"
        # abspath: a relative `base` would resolve relative to the link's
        # directory and dangle; lexists: exists() is False for an already-
        # broken link, so a rebuild would raise FileExistsError.
        if not os.path.lexists(dst):
            os.symlink(os.path.abspath(f"{base}/{name}.parquet"), dst)
    stats = spark.read.parquet(f"{out}/lineitem.parquet").agg(
        F.count(F.lit(1)).alias("n"), F.approx_count_distinct("l_partkey").alias("p")
    ).collect()[0]
    print(f"adversarial graph lineitem: {stats['n']} rows, ~{stats['p']} distinct parts", flush=True)


def synthesize_adversarial_events(spark, replicas: int, base: str, out: str) -> None:
    """A genuinely 100× EVENT STREAM. The standard protocol shifts only
    event_id, so user_id and ts replicate verbatim: distinct-user
    metrics (DAU/WAU, retention, cumulative distinct) collapse back to
    1× users, and every event lands on one of the base timestamps —
    100 exact ties per instant, a degenerate regime that both flatters
    sessionization (ties never open new sessions) and hides true
    user-dimension growth; the same silent-collapse class the graph
    corpus fixed for parts. Here user_id also shifts per replica (100
    disjoint user populations), EXCEPT that rows of a deterministic
    ~1% HUB subset of base users (user_id ≡ 0 mod 100) keep the base
    user half the time — concentrating (not spreading: a row-uniform
    1% would give every user a flat ~2×) ~replicas/2× the base event
    count on those ~15 heavy users, genuine per-user-partition skew
    the window/sessionization family must absorb; ts jitters by
    a deterministic per-(event, replica) offset in ±12h so timestamps
    are distinct and session gaps are realistic rather than tied (the
    overall time span stays ~the base span, so calendar-bound queries
    keep their grid size). Other tables are symlinked from ``base``."""
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    stride_e = ev.agg(F.max("event_id")).collect()[0][0] + 1
    stride_u = ev.agg(F.max("user_id")).collect()[0][0] + 1
    rep = ev.crossJoin(spark.range(replicas).select(F.col("id").alias("_rep")))
    keep_base = (F.pmod(F.col("user_id"), F.lit(100)) == 0) & (
        F.xxhash64(F.col("event_id"), F.col("_rep"), F.lit(17)) % 2 == 0
    )
    jitter_s = (
        F.pmod(F.xxhash64(F.col("event_id"), F.col("_rep"), F.lit(29)), F.lit(86400))
        - F.lit(43200)
    ).cast("int")
    adv = rep.select(
        *[
            (F.col("event_id") + F.col("_rep") * F.lit(stride_e)).alias("event_id")
            if c == "event_id"
            else F.when(keep_base, F.col("user_id"))
            .otherwise(F.col("user_id") + F.col("_rep") * F.lit(stride_u))
            .alias("user_id")
            if c == "user_id"
            else (F.col("ts") + F.make_interval(secs=jitter_s)).alias("ts")
            if c == "ts"
            else F.col(c)
            for c in ev.columns
        ]
    )
    os.makedirs(out, exist_ok=True)
    adv.write.mode("overwrite").parquet(f"{out}/events.parquet")
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "documents", "embeddings"):
        dst = f"{out}/{name}.parquet"
        if not os.path.lexists(dst):
            os.symlink(os.path.abspath(f"{base}/{name}.parquet"), dst)
    written = spark.read.parquet(f"{out}/events.parquet")
    stats = written.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("user_id").alias("u"),
        F.approx_count_distinct("ts").alias("t"),
    ).collect()[0]
    top = (
        written.groupBy("user_id").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    print(
        f"adversarial events: {stats['n']} rows, ~{stats['u']} distinct users, "
        f"~{stats['t']} distinct timestamps, heaviest user {top['count']} events",
        flush=True,
    )


def synthesize_adversarial_customers(spark, replicas: int, base: str, out: str) -> None:
    """A genuinely 100× CUSTOMER DIMENSION. The standard protocol
    shifts only o_orderkey, so o_custkey replicates verbatim: the
    customer-analytics family (RFM, cohort LTV, survival, churn,
    ABC/gini, k-anonymity) groups 100 tied-date copies of each order
    under the SAME 15k customers — per-customer depth inflates but the
    customer dimension never grows, the same silent-collapse class the
    graph/events corpora fixed for parts/users. Here both c_custkey
    (customer table, replicated with shifted ids — replica 0 keeps the
    base ids, so base-key joins stay live) and o_custkey shift per
    replica, EXCEPT that orders of a deterministic ~1% HUB subset of
    base customers (c_custkey ≡ 0 mod 100) keep the base customer half
    the time — ~replicas/2× the base order count concentrated on ~150
    heavy customers (genuine per-customer skew). o_orderkey shifts
    with the SAME stride the base replicas use, so the symlinked
    lineitem's l_orderkey keys still join. Dates replicate verbatim
    (multiple orders per day per customer is a realistic regime)."""
    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    stride_o = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    stride_c = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    os.makedirs(out, exist_ok=True)
    rep_c = cust.crossJoin(spark.range(replicas).select(F.col("id").alias("_rep")))
    rep_c.select(
        *[
            (F.col("c_custkey") + F.col("_rep") * F.lit(stride_c)).alias("c_custkey")
            if c == "c_custkey"
            else F.col(c)
            for c in cust.columns
        ]
    ).write.mode("overwrite").parquet(f"{out}/customer.parquet")
    rep_o = orders.crossJoin(spark.range(replicas).select(F.col("id").alias("_rep")))
    keep_base = (F.pmod(F.col("o_custkey"), F.lit(100)) == 0) & (
        F.xxhash64(F.col("o_orderkey"), F.col("_rep"), F.lit(31)) % 2 == 0
    )
    rep_o.select(
        *[
            (F.col("o_orderkey") + F.col("_rep") * F.lit(stride_o)).alias("o_orderkey")
            if c == "o_orderkey"
            else F.when(keep_base, F.col("o_custkey"))
            .otherwise(F.col("o_custkey") + F.col("_rep") * F.lit(stride_c))
            .alias("o_custkey")
            if c == "o_custkey"
            else F.col(c)
            for c in orders.columns
        ]
    ).write.mode("overwrite").parquet(f"{out}/orders.parquet")
    for name in ("region", "nation", "supplier", "part", "lineitem",
                 "events", "documents", "embeddings"):
        dst = f"{out}/{name}.parquet"
        if not os.path.lexists(dst):
            os.symlink(os.path.abspath(f"{base}/{name}.parquet"), dst)
    written = spark.read.parquet(f"{out}/orders.parquet")
    stats = written.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("o_custkey").alias("c"),
    ).collect()[0]
    top = written.groupBy("o_custkey").count().orderBy(F.desc("count")).limit(1).collect()[0]
    print(
        f"adversarial customers: {stats['n']} orders, ~{stats['c']} distinct "
        f"customers, heaviest customer {top['count']} orders",
        flush=True,
    )


def synthesize_adversarial_values(spark, replicas: int, base: str, out: str) -> None:
    """A genuinely CONTINUOUS VALUE DOMAIN at 100× (VERDICT r10 #1).
    The standard protocol replicates every price/value verbatim, so the
    value-domain percentile family (percentiles/winsorize/MAD/
    equi-depth/Mann-Whitney/latency) always sees a distinct-value frame
    bounded at the BASE domain (~583k prices) — its "bounded domain"
    allowlist assumption is never tested. Here every replica's values
    are jittered to near-all-distinct CENTS (the queries' own
    granularity — sub-cent jitter would collapse right back at
    round(v*100)):

    - lineitem.l_extendedprice / orders.o_totalprice += a deterministic
      per-(key, replica) cent offset in [0, $10M) — unrealistic prices,
      but the point is distinct-cents ≈ n (97%+ unique at 60M rows: 1e9
      cent domain vs 6e7 draws), turning the distinct-value frame into
      ~n rows through the cumulative window;
    - events.value += a [0, 1e5) offset at 3 decimals (1e8 domain);
    - events.ts jitters ±12h and user_id shifts per replica (the events
      corpus protocol), so conversion LATENCIES spread over ~n_users
      distinct seconds instead of the base grid.

    Primary keys shift exactly like scale_check so every query can run;
    untouched tables are symlinked from ``base``."""
    os.makedirs(out, exist_ok=True)

    def _priced(table, key_cols, price_col, cent_domain):
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        stride = df.agg(F.max(key_cols[0])).collect()[0][0] + 1
        rep = df.crossJoin(spark.range(replicas).select(F.col("id").alias("_rep")))
        jitter = (
            F.pmod(F.xxhash64(*[F.col(k) for k in key_cols], F.col("_rep"), F.lit(41)),
                   F.lit(cent_domain))
        ).cast("double") / 100.0
        rep.select(
            *[
                (F.col(key_cols[0]) + F.col("_rep") * F.lit(stride)).alias(key_cols[0])
                if c == key_cols[0]
                else F.round(F.col(price_col) + jitter, 2).alias(price_col)
                if c == price_col
                else F.col(c)
                for c in df.columns
            ]
        ).write.mode("overwrite").parquet(f"{out}/{table}.parquet")

    _priced("lineitem", ["l_orderkey", "l_linenumber"], "l_extendedprice", 10**9)
    _priced("orders", ["o_orderkey"], "o_totalprice", 10**9)

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    stride_e = ev.agg(F.max("event_id")).collect()[0][0] + 1
    stride_u = ev.agg(F.max("user_id")).collect()[0][0] + 1
    rep = ev.crossJoin(spark.range(replicas).select(F.col("id").alias("_rep")))
    vjit = (
        F.pmod(F.xxhash64(F.col("event_id"), F.col("_rep"), F.lit(43)), F.lit(10**8))
    ).cast("double") / 1000.0
    tjit = (
        F.pmod(F.xxhash64(F.col("event_id"), F.col("_rep"), F.lit(47)), F.lit(86400))
        - F.lit(43200)
    ).cast("int")
    rep.select(
        *[
            (F.col("event_id") + F.col("_rep") * F.lit(stride_e)).alias("event_id")
            if c == "event_id"
            else (F.col("user_id") + F.col("_rep") * F.lit(stride_u)).alias("user_id")
            if c == "user_id"
            else (F.col("ts") + F.make_interval(secs=tjit)).alias("ts")
            if c == "ts"
            else F.round(F.col("value") + vjit, 3).alias("value")
            if c == "value"
            else F.col(c)
            for c in ev.columns
        ]
    ).write.mode("overwrite").parquet(f"{out}/events.parquet")
    for name in ("region", "nation", "customer", "supplier", "part",
                 "documents", "embeddings"):
        dst = f"{out}/{name}.parquet"
        if not os.path.lexists(dst):
            os.symlink(os.path.abspath(f"{base}/{name}.parquet"), dst)
    stats = spark.read.parquet(f"{out}/lineitem.parquet").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("d"),
    ).collect()[0]
    ev_stats = spark.read.parquet(f"{out}/events.parquet").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("value").alias("d"),
        F.approx_count_distinct("user_id").alias("u"),
    ).collect()[0]
    print(
        f"adversarial values: lineitem {stats['n']} rows ~{stats['d']} distinct cents "
        f"({100.0 * stats['d'] / stats['n']:.1f}% unique); events {ev_stats['n']} rows "
        f"~{ev_stats['d']} distinct values, ~{ev_stats['u']} users",
        flush=True,
    )


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfadv100"
    spark = get_spark(app_name="adversarial-corpus")
    t0 = time.perf_counter()
    if os.path.isdir(f"{out}/orders.parquet"):
        print(f"reusing base replicas in {out}", flush=True)
    else:
        synthesize(spark, replicas, out)
    synthesize_adversarial_documents(spark, replicas, out)
    synthesize_adversarial_embeddings(spark, replicas, out)
    synthesize_adversarial_graph(spark, replicas, out, f"{out}graph")
    synthesize_adversarial_events(spark, replicas, out, f"{out}events")
    synthesize_adversarial_customers(spark, replicas, out, f"{out}customers")
    synthesize_adversarial_values(spark, replicas, out, f"{out}values")
    print(f"total {time.perf_counter() - t0:.1f}s", flush=True)


if __name__ == "__main__":
    main()
