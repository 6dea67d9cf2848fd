"""Unit + plan tests for operators/timeseries.py (funnel, retention,
gap-fill) and the round-5 text additions (containment, TF-IDF,
entropy)."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.dedup import (
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)
from medical_examination_data_etl_system_spark.operators.text_analysis import (
    token_entropy_stats,
)
from medical_examination_data_etl_system_spark.operators.timeseries import (
    funnel_stages,
    resample_gap_fill,
    retention_cohorts,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, user_id=u, ts=_ts(m), event_type=t, value=1.0)
         for i, (u, m, t) in enumerate(rows)]
    )


class TestFunnel:
    def test_ordered_semantics(self, spark):
        # u1 completes all 3 in order; u2 clicks BEFORE its first view
        # (click must not count) then purchases after nothing → stage 0
        # only; u3 views only.
        ev = _events(spark, [
            (1, 0, "view"), (1, 5, "click"), (1, 9, "purchase"),
            (2, 0, "click"), (2, 3, "view"), (2, 6, "purchase"),
            (3, 2, "view"),
        ])
        out = {r["stage"]: r for r in funnel_stages(ev, ["view", "click", "purchase"]).collect()}
        assert out["view"]["n_users"] == 3
        # u2's click at t=0 precedes its view → not a valid stage 1.
        assert out["click"]["n_users"] == 1
        assert out["purchase"]["n_users"] == 1
        assert out["view"]["pct_of_first"] == 1.0
        assert abs(out["click"]["pct_of_first"] - round(1 / 3, 4)) < 1e-9

    def test_equal_timestamp_does_not_count(self, spark):
        # click at the SAME timestamp as the first view: strict < ⇒ no.
        ev = _events(spark, [(1, 0, "view"), (1, 0, "click")])
        out = {r["stage"]: r["n_users"] for r in funnel_stages(ev, ["view", "click"]).collect()}
        assert out == {"view": 1, "click": 0}

    def test_single_exchange_plan(self, spark):
        ev = _events(spark, [(1, 0, "view"), (1, 5, "click"), (1, 9, "purchase")])
        plan = funnel_stages(ev, ["view", "click", "purchase"])._jdf.queryExecution().executedPlan().toString()
        # The stage cascade shares one (user, ts) sort: exactly one
        # hashpartitioning exchange on user_id feeds every Window, and
        # the remaining exchanges are the tiny post-agg single-partition
        # ones. No Exchange may repeat the user_id hash.
        assert plan.count("hashpartitioning(user_id") == 1, plan


class TestRetention:
    def test_offsets(self, spark):
        ev = spark.createDataFrame([
            Row(event_id=0, user_id=1, ts=dt.datetime(2024, 1, 1, 9), event_type="view", value=1.0),
            Row(event_id=1, user_id=1, ts=dt.datetime(2024, 1, 3, 9), event_type="view", value=1.0),
            Row(event_id=2, user_id=2, ts=dt.datetime(2024, 1, 3, 9), event_type="view", value=1.0),
        ])
        rows = {(str(r["cohort_day"]), r["day_offset"]): r["n_users"]
                for r in retention_cohorts(ev).collect()}
        assert rows == {
            ("2024-01-01", 0): 1,
            ("2024-01-01", 2): 1,
            ("2024-01-03", 0): 1,
        }


class TestGapFill:
    def test_forward_fill_across_gap(self, spark):
        ev = spark.createDataFrame([
            Row(event_id=0, user_id=1, ts=dt.datetime(2024, 1, 1, 0, 30), event_type="a", value=2.0),
            # hour 1 and 2 empty for "a"
            Row(event_id=1, user_id=1, ts=dt.datetime(2024, 1, 1, 3, 10), event_type="a", value=5.0),
            Row(event_id=2, user_id=1, ts=dt.datetime(2024, 1, 1, 2, 0), event_type="b", value=1.0),
        ])
        out = resample_gap_fill(ev, key_col="event_type", step="1 hour").collect()
        a = [r for r in out if r["event_type"] == "a"]
        # spine spans global min..max hour (0..3) for every key
        assert [str(r["bucket_start"]) for r in a] == [
            "2024-01-01 00:00:00", "2024-01-01 01:00:00",
            "2024-01-01 02:00:00", "2024-01-01 03:00:00",
        ]
        assert [r["n_events"] for r in a] == [1, 0, 0, 1]
        assert [r["was_gap"] for r in a] == [False, True, True, False]
        # gap hours carry the last observed sum forward
        assert [r["filled_sum"] for r in a] == [2.0, 2.0, 2.0, 5.0]
        b = [r for r in out if r["event_type"] == "b"]
        # before b's first observation the fill is null
        assert [r["filled_sum"] for r in b] == [None, None, 1.0, 1.0]


class TestTextRound5:
    def test_containment_catches_subset_jaccard_misses(self, spark):
        short = "alpha beta gamma delta"
        long = short + " " + " ".join(f"w{i}" for i in range(60))
        docs = spark.createDataFrame([
            Row(doc_id=1, text=short, source="s"),
            Row(doc_id=2, text=long, source="s"),
        ])
        cont = ngram_containment_pairs(docs, threshold=0.9).collect()
        assert len(cont) == 1 and cont[0]["containment"] == 1.0
        jac = ngram_jaccard_pairs(docs, threshold=0.9).collect()
        assert jac == []  # same pair is invisible to Jaccard at 0.9

    def test_entropy_values(self, spark):
        docs = spark.createDataFrame([
            Row(doc_id=1, text="a a a a"),          # zero entropy
            Row(doc_id=2, text="a b c d"),          # ln(4), max for 4 tokens
            Row(doc_id=3, text="   "),              # empty → nulls
        ])
        rows = {r["doc_id"]: r for r in token_entropy_stats(docs).collect()}
        assert rows[1]["entropy"] == 0.0 and rows[1]["low_entropy"]
        assert rows[2]["entropy"] == round(math.log(4), 4)
        assert rows[2]["ttr"] == 1.0
        assert rows[3]["n_tokens"] == 0 and rows[3]["entropy"] is None

    def test_containment_collapse_invariant(self, spark):
        # duplicate-heavy block: the public operator (the probe collapses)
        # must equal its direct kernel; on the unique corpus the probe
        # skips the collapse and the two are again equal
        from medical_examination_data_etl_system_spark.operators.dedup import (
            _ngram_containment_pairs,
            _should_collapse,
        )
        from medical_examination_data_etl_system_spark.operators.text_analysis import (
            normalized_text,
        )

        base = [
            ("alpha beta gamma delta", "s"),
            ("alpha beta gamma delta", "s"),      # exact dup
            ("alpha beta gamma delta epsilon zeta", "s"),
            ("unrelated words entirely here", "s"),
            ("alpha beta gamma delta", "t"),      # same text, other block
            ("alpha beta gamma delta", "s"),      # a third copy
        ]
        unique = [(f"alpha beta gamma {i} delta", "s") for i in range(6)]

        def frame(texts):
            return spark.createDataFrame(
                [Row(doc_id=i, text=t, source=src) for i, (t, src) in enumerate(texts)]
            )

        def rows(df):
            return sorted((r["id_a"], r["id_b"], r["containment"]) for r in df.collect())

        for texts, collapses in ((unique, False), (base, True)):
            docs = frame(texts)
            probe = _should_collapse(docs, F.col("source"), normalized_text(F.col("text")))
            assert probe is collapses
            public = rows(ngram_containment_pairs(docs, threshold=0.5))
            direct = rows(
                _ngram_containment_pairs(docs, "text", "doc_id", "source", 2, 0.5, 10_000)
            )
            assert public == direct
        # the exact dup pair is containment 1.0; cross-block dup never pairs
        assert (0, 1, 1.0) in public
        assert all(not (a == 1 and b == 4) and not (a == 0 and b == 4) for a, b, _ in public)

    def test_fuzzy_collapse_invariant(self, spark):
        """Exact copies need no outer collapse: the (block, prefix)
        grouping merges them, so every replica pairs at distance 0 and
        inherits its original's distances, on a unique corpus and on
        the same corpus replicated 3x."""
        from medical_examination_data_etl_system_spark.operators.dedup import fuzzy_levenshtein_pairs

        base = [
            ("alpha beta gamma", "s"),
            ("alpha beta gamna", "s"),       # 1 edit away
            ("completely different text", "s"),
        ]

        def run(copies):
            docs = spark.createDataFrame(
                [
                    Row(doc_id=10 * c + i, text=t, source=src)
                    for c in range(copies)
                    for i, (t, src) in enumerate(base)
                ]
            )
            return sorted(
                (r["id_a"], r["id_b"], r["distance"])
                for r in fuzzy_levenshtein_pairs(docs, prefix_len=24, threshold=3).collect()
            )

        assert run(1) == [(0, 1, 1)]
        dist = {(0, 1): 1, (0, 0): 0, (1, 1): 0, (2, 2): 0}
        want = sorted(
            (a, b, dist[tuple(sorted((a % 10, b % 10)))])
            for a in (0, 1, 2, 10, 11, 12, 20, 21, 22)
            for b in (0, 1, 2, 10, 11, 12, 20, 21, 22)
            if a < b and tuple(sorted((a % 10, b % 10))) in dist
        )
        assert run(3) == want

    def test_fuzzy_passjoin_matches_bruteforce(self, spark):
        """PassJoin candidate filter is EXACT (no false negatives): the
        direct branch must reproduce brute-force all-pairs output on a
        randomized corpus mixing lengths (incl. tiny strings below the
        k+1 segmentation floor), blocks, thresholds, and near-dup
        perturbations."""
        import random

        from medical_examination_data_etl_system_spark.operators.dedup import fuzzy_levenshtein_pairs

        rng = random.Random(20260815)
        alphabet = "abcde "
        base = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 30))) for _ in range(40)]
        rows, i = [], 0
        for t in base:
            rows.append((i, t, f"s{i % 3}")); i += 1
            if rng.random() < 0.5:  # a perturbed sibling: 1-4 edits
                s = list(t)
                for _ in range(rng.randint(1, 4)):
                    op = rng.choice("ids")
                    p = rng.randrange(max(len(s), 1))
                    if op == "i":
                        s.insert(p, rng.choice(alphabet))
                    elif s:
                        if op == "d":
                            del s[p]
                        else:
                            s[p] = rng.choice(alphabet)
                rows.append((i, "".join(s) or "x", f"s{i % 3}")); i += 1

        def lev(a, b):
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for x, ca in enumerate(a, 1):
                cur = [x]
                for y, cb in enumerate(b, 1):
                    cur.append(min(prev[y] + 1, cur[y - 1] + 1, prev[y - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        import re
        for prefix_len, threshold in [(24, 6), (12, 3), (24, 2)]:
            def norm_pfx(t):
                return re.sub(r"\s+", " ", t.strip().lower())[:prefix_len]
            expected = sorted(
                (a_id, b_id, lev(norm_pfx(a_t), norm_pfx(b_t)))
                for (a_id, a_t, a_s) in rows
                for (b_id, b_t, b_s) in rows
                if a_id < b_id and a_s == b_s
                and lev(norm_pfx(a_t), norm_pfx(b_t)) <= threshold
            )
            docs = spark.createDataFrame(
                [Row(doc_id=di, text=t, source=src) for di, t, src in rows]
            )
            got = sorted(
                (r["id_a"], r["id_b"], r["distance"])
                for r in fuzzy_levenshtein_pairs(
                    docs, prefix_len=prefix_len, threshold=threshold
                ).collect()
            )
            assert got == expected, f"mismatch at prefix_len={prefix_len} k={threshold}"
