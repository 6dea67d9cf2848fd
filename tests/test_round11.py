"""Round-11 additions: nearest as-of join, duplicated-span audit,
MinHash calibration, temperature-scaled mix weights.

Planted-frame semantics here; exact-hash parity vs DuckDB is covered by
test_oracle_parity.py for all four registered queries.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.asof import asof_join_nearest
from medical_examination_data_etl_system_spark.operators.dedup import minhash_estimate_calibration


def _ts(s: str):
    return datetime.fromisoformat(s)


class TestAsofNearest:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [
                Row(k="a", lt=_ts("2024-01-01T10:00:00"), lv=1),  # equidistant 9/11
                Row(k="a", lt=_ts("2024-01-01T10:59:00"), lv=2),  # forward closer
                Row(k="b", lt=_ts("2024-01-01T08:00:00"), lv=3),  # only forward
                Row(k="b", lt=_ts("2024-01-01T23:00:00"), lv=4),  # only backward
                Row(k="c", lt=_ts("2024-01-01T09:00:00"), lv=5),  # no right rows
            ]
        )
        right = spark.createDataFrame(
            [
                Row(k="a", rt=_ts("2024-01-01T09:00:00"), rv="x"),
                Row(k="a", rt=_ts("2024-01-01T11:00:00"), rv="y"),
                Row(k="b", rt=_ts("2024-01-01T12:00:00"), rv="z"),
            ]
        )
        return left, right

    def test_nearest_semantics(self, spark):
        left, right = self._frames(spark)
        got = {
            r["lv"]: r["right_rv"]
            for r in asof_join_nearest(left, right, ["k"], "lt", "rt").collect()
        }
        # lv=1: |10-9| == |11-10| → tie resolves BACKWARD (earlier).
        assert got == {1: "x", 2: "y", 3: "z", 4: "z"}

    def test_left_keeps_unmatched(self, spark):
        left, right = self._frames(spark)
        rows = asof_join_nearest(left, right, ["k"], "lt", "rt", how="left").collect()
        assert len(rows) == 5
        assert {r["lv"] for r in rows if r["right_rv"] is None} == {5}

    def test_subsecond_tiebreak(self, spark):
        # Distances differ only at microsecond precision — a
        # seconds-truncating cast would see a tie and wrongly pick
        # backward; the micros comparison must pick the closer forward.
        left = spark.createDataFrame([Row(k="a", lt=_ts("2024-01-01T10:00:00"), lv=1)])
        right = spark.createDataFrame(
            [
                Row(k="a", rt=_ts("2024-01-01T09:59:59.999900"), rv="b"),
                Row(k="a", rt=_ts("2024-01-01T10:00:00.000099"), rv="f"),
            ]
        )
        (row,) = asof_join_nearest(left, right, ["k"], "lt", "rt").collect()
        assert row["right_rv"] == "f"

    def test_equal_ts_matches_backward_at_zero(self, spark):
        left = spark.createDataFrame([Row(k="a", lt=_ts("2024-01-01T10:00:00"), lv=1)])
        right = spark.createDataFrame(
            [
                Row(k="a", rt=_ts("2024-01-01T10:00:00"), rv="same"),
                Row(k="a", rt=_ts("2024-01-01T10:00:01"), rv="later"),
            ]
        )
        (row,) = asof_join_nearest(left, right, ["k"], "lt", "rt").collect()
        assert row["right_rv"] == "same"


class TestDupSpanAudit:
    def test_planted_shared_span(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import datapipe

        shared = "one two three four five six seven eight"
        docs = spark.createDataFrame(
            [
                Row(doc_id=1, text=shared + " tail alpha"),
                Row(doc_id=2, text="lead " + shared),
                Row(doc_id=3, text="totally different words with no overlap here ok"),
                Row(doc_id=4, text="short text"),  # < 8 tokens → no spans
            ]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = {r["doc_id"]: r.asDict() for r in datapipe.docs_dup_span_audit(spark, "_").collect()}
        # doc1: 3 windows (10 tokens), windows starting at pos 1 is the
        # shared 8-gram; doc2's window at pos 2 matches it.
        assert got[1]["n_spans"] == 3 and got[1]["n_dup_spans"] == 1
        assert got[2]["n_spans"] == 2 and got[2]["n_dup_spans"] == 1
        assert got[3]["n_dup_spans"] == 0
        assert got[4]["n_spans"] == 0 and got[4]["dup_span_ratio"] is None
        assert abs(got[1]["dup_span_ratio"] - round(1 / 3, 4)) < 1e-9

    def test_within_doc_repeat_counts_occurrences(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import datapipe

        span = "w1 w2 w3 w4 w5 w6 w7 w8"
        docs = spark.createDataFrame(
            [
                # the shared span occurs twice in doc 1 (positions 1 and 10)
                Row(doc_id=1, text=span + " break " + span),
                Row(doc_id=2, text=span),
            ]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = {r["doc_id"]: r.asDict() for r in datapipe.docs_dup_span_audit(spark, "_").collect()}
        assert got[1]["n_dup_spans"] == 2  # both occurrences are dup surface
        assert got[2]["n_dup_spans"] == 1


class TestMinhashCalibration:
    def test_planted_near_dup_pair(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [
                Row(doc_id=1, text=base),
                Row(doc_id=2, text=base + " extra"),
                Row(doc_id=3, text=base),  # exact dup of 1 → collapses away
                Row(doc_id=4, text="completely unrelated content with distinct words"),
            ]
        )
        rows = minhash_estimate_calibration(docs).collect()
        pairs = {(r["id_a"], r["id_b"]): r for r in rows}
        # reps-only: the exact duplicate (3) never appears.
        assert all(3 not in p for p in pairs)
        assert (1, 2) in pairs
        r = pairs[(1, 2)]
        assert 0.0 <= r["mh_estimate"] <= 1.0
        assert 0.5 < r["jaccard"] < 1.0
        assert abs(r["abs_err"] - round(abs(r["mh_estimate"] - r["jaccard"]), 4)) < 1e-9

    def test_identical_pair_calibrates_exactly(self, spark):
        # Two docs whose normalized texts differ (case) but shingle sets
        # match after normalization → jaccard 1.0 and estimate 1.0:
        # calibration error 0 on the easiest possible pair.
        t = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [Row(doc_id=1, text=t), Row(doc_id=2, text=t + " ")]
        )
        rows = minhash_estimate_calibration(docs).collect()
        # trailing space normalizes away → exact-collapse leaves ONE rep
        assert rows == []


class TestIncrementalDedup:
    BASE = "the quick brown fox jumps over the lazy dog again and again"
    OTHER = "completely different content about distributed query engines here"

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                # corpus (< split 100)
                Row(doc_id=10, text=self.BASE),
                Row(doc_id=20, text=self.OTHER),
                Row(doc_id=30, text="unrelated corpus filler words entirely disjoint tokens"),
                # batch (>= 100)
                Row(doc_id=100, text=self.BASE),            # exact dup of corpus 10
                Row(doc_id=110, text=self.BASE + " extra"), # near dup of corpus 10
                Row(doc_id=120, text="brand new unique snowflake paragraph nothing matches"),
                Row(doc_id=130, text="brand new unique snowflake paragraph nothing matches"),
                # 130 = exact dup of EARLIER BATCH doc 120
            ]
        )

    def test_planted_verdicts(self, spark):
        from medical_examination_data_etl_system_spark.operators.dedup import minhash_incremental_dedup

        got = {r["doc_id"]: r.asDict() for r in minhash_incremental_dedup(self._docs(spark), 100).collect()}
        assert set(got) == {100, 110, 120, 130}
        assert got[100]["dup_of"] == 10 and got[100]["jaccard"] == 1.0
        assert got[100]["verdict"] == "dup_corpus"
        assert got[110]["dup_of"] == 10 and 0.5 <= got[110]["jaccard"] < 1.0
        assert got[110]["verdict"] == "dup_corpus"
        assert got[120]["dup_of"] is None and got[120]["verdict"] == "unique"
        assert got[130]["dup_of"] == 120 and got[130]["verdict"] == "dup_batch"

    def test_corpus_contributes_no_pairs(self, spark):
        # Near-identical docs entirely INSIDE the corpus must produce
        # no output rows and no verification work — the incremental
        # restriction, not post-filtering, is what bounds the cost.
        from medical_examination_data_etl_system_spark.operators.dedup import minhash_incremental_dedup

        docs = spark.createDataFrame(
            [
                Row(doc_id=1, text=self.BASE),
                Row(doc_id=2, text=self.BASE + " tail"),
                Row(doc_id=100, text=self.OTHER),
            ]
        )
        rows = minhash_incremental_dedup(docs, 100).collect()
        assert [r["doc_id"] for r in rows] == [100]
        assert rows[0]["verdict"] == "unique"

    def test_restriction_matches_full_run(self, spark, sf_smoke):
        # Pair-level equivalence: the incrementally computed verified
        # pairs == the full run's rep pairs restricted to a batch-side
        # later doc (the bucket-filter pushdown must not change what
        # gets found).
        from medical_examination_data_etl_system_spark.operators.dedup import (
            _collapse_docs,
            _minhash_md5_rep_pairs,
        )
        from medical_examination_data_etl_system_spark.operators.text_analysis import (
            content_fingerprint,
        )
        from medical_examination_data_etl_system_spark.queries import load

        docs = load(spark, sf_smoke, "documents")
        split = int(0.8 * (docs.agg(F.max("doc_id")).collect()[0][0] + 1))
        _, reps = _collapse_docs(docs, "doc_id", content_fingerprint(F.col("text")))
        full = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in _minhash_md5_rep_pairs(reps, "text", "doc_id", 9, 16, 4, 0.5).collect()
            if r["id_b"] >= split
        }
        incr = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in _minhash_md5_rep_pairs(
                reps, "text", "doc_id", 9, 16, 4, 0.5, right_min_id=split
            ).collect()
        }
        assert incr == full


class TestUshapeAttribution:
    def test_planted_credit_math(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import analytics as qa

        t0 = _ts("2024-01-01T10:00:00")
        rows = [
            # user 1: 3 touches before one 100.00 purchase → 40/20/40
            Row(event_id=1, ts=_ts("2024-01-01T09:00:00"), user_id=1, event_type="view", value=0.0, props=""),
            Row(event_id=2, ts=_ts("2024-01-01T09:10:00"), user_id=1, event_type="click", value=0.0, props=""),
            Row(event_id=3, ts=_ts("2024-01-01T09:20:00"), user_id=1, event_type="view", value=0.0, props=""),
            Row(event_id=4, ts=t0, user_id=1, event_type="purchase", value=100.0, props=""),
            # user 2: single touch → 100%
            Row(event_id=5, ts=_ts("2024-01-01T09:00:00"), user_id=2, event_type="click", value=0.0, props=""),
            Row(event_id=6, ts=t0, user_id=2, event_type="purchase", value=10.0, props=""),
        ]
        monkeypatch.setattr(qa, "load", lambda s, d, t: spark.createDataFrame(rows))
        got = {
            (r["channel"], r["role"]): r["credited_ppm_cents"]
            for r in qa.events_ushape_attribution(spark, "_").collect()
        }
        base = 10000 * 1_000_000  # 100.00 in ppm-cents
        assert got[("view", "first")] == base * 40 // 100
        assert got[("view", "last")] == base * 40 // 100
        # the 09:10 click is the single middle → keeps the whole 20%
        assert got[("click", "middle")] == base * 20 // 100
        assert got[("click", "only")] == 1000 * 1_000_000

    def test_two_touch_split(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import analytics as qa

        rows = [
            Row(event_id=1, ts=_ts("2024-01-01T09:00:00"), user_id=1, event_type="view", value=0.0, props=""),
            Row(event_id=2, ts=_ts("2024-01-01T09:30:00"), user_id=1, event_type="click", value=0.0, props=""),
            Row(event_id=3, ts=_ts("2024-01-01T10:00:00"), user_id=1, event_type="purchase", value=50.0, props=""),
        ]
        monkeypatch.setattr(qa, "load", lambda s, d, t: spark.createDataFrame(rows))
        got = {
            (r["channel"], r["role"]): r["credited_ppm_cents"]
            for r in qa.events_ushape_attribution(spark, "_").collect()
        }
        half = 5000 * 1_000_000 * 50 // 100
        assert got == {("view", "first"): half, ("click", "last"): half}


class TestBitmapDistinct:
    def test_matches_count_distinct(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.relational import (
            agg_bitmap_distinct_parts,
        )
        from medical_examination_data_etl_system_spark.queries import load

        got = {
            r["l_returnflag"]: (r["n_parts"], r["n_rows"])
            for r in agg_bitmap_distinct_parts(spark, sf_smoke).collect()
        }
        li = load(spark, sf_smoke, "lineitem")
        exp = {
            r["l_returnflag"]: (r["d"], r["c"])
            for r in li.groupBy("l_returnflag")
            .agg(
                F.countDistinct("l_partkey").alias("d"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        }
        assert got == exp


class TestQualityCalibration:
    def test_decile_shape(self, spark, sf_oracle):
        from medical_examination_data_etl_system_spark.queries.datapipe import docs_quality_calibration

        rows = docs_quality_calibration(spark, sf_oracle).collect()
        assert [r["decile"] for r in rows] == list(range(1, 11))
        assert sum(r["n_docs"] for r in rows) == 500
        # equi-depth: bucket sizes differ by at most 1
        sizes = [r["n_docs"] for r in rows]
        assert max(sizes) - min(sizes) <= 1
        # deciles are ordered by quality: ranges must not overlap
        for lo, hi in zip(rows, rows[1:]):
            assert lo["max_quality"] <= hi["min_quality"]


class TestAnnRecallReport:
    def test_recall_matches_numpy(self, spark, sf_smoke):
        import numpy as np

        from medical_examination_data_etl_system_spark.queries.datapipe import (
            emb_ann_recall_report,
            emb_ivf_topk_exact,
        )
        from medical_examination_data_etl_system_spark.queries import load

        got = {r["query_id"]: r for r in emb_ann_recall_report(spark, sf_smoke).collect()}
        assert len(got) == 5
        # NumPy ground truth over the same quantization
        rows = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        V = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000).astype(np.int64)
        order = np.argsort(ids)
        ids, V = ids[order], V[order]
        ivf = {}
        for r in emb_ivf_topk_exact(spark, sf_smoke).collect():
            ivf.setdefault(r["query_id"], set()).add(r["vec_id"])
        for qi in range(5):
            d = ((V - V[qi][None, :]) ** 2).sum(axis=1)
            d[qi] = np.iinfo(np.int64).max  # exclude self
            top = ids[np.lexsort((ids, d))[:5]]
            hits = len(set(int(x) for x in top) & ivf[int(ids[qi])])
            r = got[int(ids[qi])]
            assert r["n_exact"] == 5
            assert r["n_hits"] == hits
            assert abs(r["recall_at_5"] - round(hits / 5, 4)) < 1e-9


class TestMultimodalChunkDedup:
    def test_aligned_sharing_and_shift_miss(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import datapipe

        base = ("abcdefgh" * 8) * 3  # 192 bytes = 3 aligned 64-byte chunks
        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text=base, n_chars=len(base)),
                Row(doc_id=1, text=base, n_chars=len(base)),  # identical → all shared
                # one-byte prefix shifts every chunk boundary → fixed-size
                # chunking shares NOTHING (the CDC-vs-fixed trade, pinned)
                Row(doc_id=2, text="X" + base, n_chars=len(base) + 1),
            ]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = {r["media_id"]: r.asDict() for r in datapipe.multimodal_chunk_dedup(spark, "_").collect()}
        assert got[0]["n_chunks"] == 3 and got[0]["n_shared_chunks"] == 3
        assert got[0]["shared_ratio"] == 1.0
        assert got[1]["n_shared_chunks"] == 3
        assert got[2]["n_chunks"] == 4 and got[2]["n_shared_chunks"] == 0


class TestCdcChunkDedup:
    def test_shifted_copy_resynchronizes(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import datapipe

        import random

        rng = random.Random(7)
        base = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(400))
        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text=base),
                Row(doc_id=1, text=base),          # identical → all chunks shared
                Row(doc_id=2, text="PREFIX " + base),  # shifted → resyncs after 1st boundary
                Row(doc_id=3, text="zq" * 200),    # unrelated
            ]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = {r["doc_id"]: r.asDict() for r in datapipe.docs_cdc_chunk_dedup(spark, "_").collect()}
        assert got[0]["shared_ratio"] == 1.0 and got[1]["shared_ratio"] == 1.0
        # content-defined boundaries re-synchronize: the shifted copy
        # still shares most chunks (fixed-size chunking shares zero —
        # TestMultimodalChunkDedup pins that side of the trade)
        assert got[2]["n_shared_chunks"] >= got[2]["n_chunks"] - 2
        assert got[2]["n_shared_chunks"] > 0
        assert got[3]["n_shared_chunks"] == 0

    def test_chunks_reassemble_exactly(self, spark, monkeypatch):
        # boundary bookkeeping: chunk lengths per doc must sum to the
        # doc length (no gaps, no overlaps)
        from medical_examination_data_etl_system_spark.queries import datapipe

        docs = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(["", "x", "hello world " * 30])]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = {r["doc_id"]: r.asDict() for r in datapipe.docs_cdc_chunk_dedup(spark, "_").collect()}
        for i, t in enumerate(["", "x", "hello world " * 30]):
            assert round(got[i]["avg_chunk_len"] * got[i]["n_chunks"]) == len(t)


class TestPqEncode:
    def test_seeds_encode_to_themselves(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.operators.similarity import pq_encode_quantized

        emb = load(spark, sf_smoke, "embeddings")
        got = {r["vec_id"]: r.asDict() for r in pq_encode_quantized(emb, n_sub=4, k=8).collect()}
        seed_ids = sorted(got)[:8]
        for i, vid in enumerate(seed_ids):
            r = got[vid]
            # a codebook vector reconstructs exactly from its own entry
            assert [r["code0"], r["code1"], r["code2"], r["code3"]] == [i] * 4
            assert r["recon_err"] == 0
        assert all(
            0 <= r[f"code{s}"] < 8 for r in got.values() for s in range(4)
        )

    def test_matches_numpy(self, spark, sf_smoke):
        import numpy as np

        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.operators.similarity import pq_encode_quantized

        rows = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        V = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000).astype(np.int64)
        order = np.argsort(ids)
        ids, V = ids[order], V[order]
        got = {
            r["vec_id"]: r.asDict()
            for r in pq_encode_quantized(
                load(spark, sf_smoke, "embeddings"), n_sub=4, k=8
            ).collect()
        }
        books = [V[:8, s * 16 : (s + 1) * 16] for s in range(4)]
        for qi in range(len(ids)):
            err = 0
            for s in range(4):
                sub = V[qi, s * 16 : (s + 1) * 16]
                d = ((books[s] - sub[None, :]) ** 2).sum(axis=1)
                code = int(np.argmin(d))
                assert got[int(ids[qi])][f"code{s}"] == code
                err += int(d[code])
            assert got[int(ids[qi])]["recon_err"] == err


class TestPqAdcTopk:
    def test_matches_numpy_adc(self, spark, sf_smoke):
        import numpy as np

        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.datapipe import emb_pq_adc_topk

        got = {}
        for r in emb_pq_adc_topk(spark, sf_smoke).collect():
            got.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"], r["adc_dist"]))
        rows = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        V = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000).astype(np.int64)
        order = np.argsort(ids)
        ids, V = ids[order], V[order]
        books = [V[:8, s * 16 : (s + 1) * 16] for s in range(4)]
        # encode everything, then ADC per query
        codes = np.zeros((len(ids), 4), dtype=np.int64)
        for s in range(4):
            sub = V[:, s * 16 : (s + 1) * 16]
            d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d, axis=1)
        for qi in range(5):
            lut = np.stack(
                [((books[s] - V[qi, s * 16 : (s + 1) * 16][None, :]) ** 2).sum(axis=1) for s in range(4)]
            )  # (4, 8)
            adc = lut[np.arange(4)[:, None], codes.T].sum(axis=0)
            adc[qi] = np.iinfo(np.int64).max
            top = np.lexsort((ids, adc))[:5]
            expect = [(int(ids[i]), int(adc[i])) for i in top]
            have = [(v, d) for _, v, d in sorted(got[int(ids[qi])])]
            assert have == expect


class TestGopherQualityRules:
    def test_hand_computed_rules(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import curation as qc

        docs = spark.createDataFrame(
            [
                # 60 tokens, all alpha, stopwords present, diverse → keep
                Row(doc_id=0, text="the quick brown fox of doom " + " ".join(f"wording{i}" for i in range(54))),
                # too short
                Row(doc_id=1, text="the a short of text"),
                # long enough but one token repeated → fails ttr + stopwords
                Row(doc_id=2, text="zzz " * 60),
            ]
        )
        monkeypatch.setattr(qc, "load", lambda s, d, t: docs)
        got = {r["doc_id"]: r.asDict() for r in qc.docs_gopher_quality_rules(spark, "_").collect()}
        assert got[0]["keep"] is True
        assert got[1]["r_len"] is False and got[1]["keep"] is False
        assert got[2]["r_ttr"] is False and got[2]["r_stop"] is False
        assert got[2]["keep"] is False

    def test_signal_ranges(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.curation import docs_gopher_quality_rules

        rows = docs_gopher_quality_rules(spark, sf_smoke).collect()
        assert rows
        for r in rows:
            assert 0 < r["ttr"] <= 1 and 0 <= r["alpha_share"] <= 1
            assert r["keep"] == (
                r["r_len"] and r["r_wlen"] and r["r_alpha"] and r["r_stop"] and r["r_ttr"]
            )


class TestFeatureHashing:
    def test_counts_reassemble_token_totals(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.curation import docs_feature_hashing
        from medical_examination_data_etl_system_spark.operators.text_analysis import normalized_text

        rows = docs_feature_hashing(spark, sf_smoke).collect()
        assert all(0 <= r["bucket"] < 64 for r in rows)
        per_doc = {}
        for r in rows:
            per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["cnt"]
        docs = load(spark, sf_smoke, "documents")
        toks = docs.select(
            "doc_id", F.explode(F.split(normalized_text(F.col("text")), " ")).alias("w")
        ).filter(F.col("w") != "").groupBy("doc_id").count().collect()
        for t in toks:
            assert per_doc[t["doc_id"]] == t["count"]

    def test_same_term_same_bucket(self, spark, monkeypatch):
        import hashlib

        from medical_examination_data_etl_system_spark.queries import curation as qc

        docs = spark.createDataFrame([Row(doc_id=0, text="alpha beta alpha")])
        monkeypatch.setattr(qc, "load", lambda s, d, t: docs)
        got = {r["bucket"]: r["cnt"] for r in qc.docs_feature_hashing(spark, "_").collect()}
        b_alpha = int(hashlib.md5(b"alpha").hexdigest()[:8], 16) % 64
        b_beta = int(hashlib.md5(b"beta").hexdigest()[:8], 16) % 64
        assert got[b_alpha] == 2 and got[b_beta] == 1


class TestKAnonymity:
    def test_generalization_reduces_risk(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.analytics import customer_k_anonymity

        rows = customer_k_anonymity(spark, sf_smoke).collect()
        assert rows
        for r in rows:
            assert r["at_risk_coarse"] <= r["at_risk_fine"] or r["n_groups_coarse"] <= r["n_groups_fine"]
            assert 0 <= r["risk_share_fine"] <= 1
            assert r["at_risk_fine"] <= r["n_customers"]
        # coarsening can never create MORE groups in total
        assert sum(r["n_groups_coarse"] for r in rows) <= sum(r["n_groups_fine"] for r in rows)

    def test_small_group_accounting(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import analytics as qa

        # 6 customers in one $1000 bucket (safe), 2 in another (at risk)
        cust = spark.createDataFrame(
            [Row(c_custkey=i, c_nationkey=1, c_mktsegment="S", c_acctbal=500.0) for i in range(6)]
            + [Row(c_custkey=10 + i, c_nationkey=1, c_mktsegment="S", c_acctbal=1500.0) for i in range(2)]
        )
        monkeypatch.setattr(qa, "load", lambda s, d, t: cust)
        r = qa.customer_k_anonymity(spark, "_").collect()[0]
        assert r["n_customers"] == 8
        assert r["n_groups_fine"] == 2 and r["at_risk_fine"] == 2
        # $5000 bucket merges both → one group of 8, nothing at risk
        assert r["n_groups_coarse"] == 1 and r["at_risk_coarse"] == 0


class TestSurvivalKm:
    def test_hand_computed_curve(self, spark, monkeypatch):
        from datetime import date

        from medical_examination_data_etl_system_spark.queries import analytics as qa

        # customer 1: orders day 0, 10, 30 → gaps 10, 20, censored 70
        # customer 2: orders day 0, 10     → gap 10, censored 90
        # customer 3: order day 100        → censored 0 (at corpus end)
        orders = spark.createDataFrame(
            [
                Row(o_custkey=1, o_orderdate=date(2024, 1, 1)),
                Row(o_custkey=1, o_orderdate=date(2024, 1, 11)),
                Row(o_custkey=1, o_orderdate=date(2024, 1, 31)),
                Row(o_custkey=2, o_orderdate=date(2024, 1, 1)),
                Row(o_custkey=2, o_orderdate=date(2024, 1, 11)),
                Row(o_custkey=3, o_orderdate=date(2024, 4, 10)),
            ]
        )
        monkeypatch.setattr(qa, "load", lambda s, d, t: orders)
        got = {r["t"]: r.asDict() for r in qa.customer_survival_km(spark, "_").collect()}
        # intervals: events t=10 (x2), t=20; censored t=0, 70, 90 → total 6
        # t=10: n_risk = 6 - 1(censored at 0) = 5, d=2 → S = 1 - 2/5 = 0.6
        # t=20: n_risk = 3, d=1 → S = 0.6 * (1 - 1/3) = 0.4
        assert set(got) == {10, 20}
        assert got[10]["n_risk"] == 5 and got[10]["d"] == 2
        assert got[10]["surv"] == 0.6
        assert got[20]["n_risk"] == 3 and got[20]["d"] == 1
        assert got[20]["surv"] == 0.4

    def test_curve_monotone_nonincreasing(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.analytics import customer_survival_km

        rows = customer_survival_km(spark, sf_smoke).collect()
        assert rows
        survs = [r["surv"] for r in rows]
        assert all(a >= b for a, b in zip(survs, survs[1:]))
        assert all(0 <= s <= 1 for s in survs)
        risks = [r["n_risk"] for r in rows]
        assert all(a >= b for a, b in zip(risks, risks[1:]))


class TestDatasetCard:
    def test_card_metrics_consistent(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.datapipe import docs_dataset_card

        got = {r["metric"]: r.asDict() for r in docs_dataset_card(spark, sf_smoke).collect()}
        n_docs = load(spark, sf_smoke, "documents").count()
        assert got["n_docs"]["value"] == float(n_docs)
        assert 0 <= got["exact_dup_rate"]["value"] < 1
        assert 0 < got["top_language_share"]["value"] <= 1
        assert got["top_language_share"]["detail"]  # the lang name rides along
        assert got["token_len_p10_p50"]["value"] <= float(got["token_len_p10_p50"]["detail"]) <= got["token_len_p90"]["value"]
        assert got["n_tokens"]["value"] > got["n_docs"]["value"]


class TestLinkPrediction:
    def test_hand_computed_graph(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import analytics as qa

        # orders: {1,2,3}, {1,2,4}, {3,4} → edges 12,13,23,14,24,34
        # complete graph on 4 nodes → no non-adjacent pairs at all
        # add node 5 sharing orders with 1 and 2 only: order {1,5},{2,5}
        rows = []
        for ok, parts in enumerate([[1, 2, 3], [1, 2, 4], [3, 4], [1, 5], [2, 5]]):
            for p in parts:
                rows.append(Row(l_orderkey=ok, l_partkey=p))
        li = spark.createDataFrame(rows)
        # unsampled core: exact common-neighbor counts
        got = [
            (r["u"], r["v"], r["common_w"])
            for r in qa._link_prediction(li, center_sample_mod=None).collect()
        ]
        # non-adjacent pairs: (3,5): neighbors(3)={1,2,4} ∩ neighbors(5)={1,2} → 2
        # (4,5): neighbors(4)={1,2,3} ∩ {1,2} = 2
        assert got == [(3, 5, 2), (4, 5, 2)]

    def test_sampled_is_subcount_of_exact(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries import analytics as qa

        li = load(spark, sf_smoke, "lineitem").select("l_orderkey", "l_partkey")
        exact = {
            (r["u"], r["v"]): r["common_w"]
            for r in qa._link_prediction(li, center_sample_mod=None).collect()
        }
        sampled = qa._link_prediction(li, center_sample_mod=5).collect()
        for r in sampled:
            full = exact.get((r["u"], r["v"]))
            # sampled wedge count can never exceed the exact count
            if full is not None:
                assert r["common_w"] <= full

    def test_topk_on_corpus(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.analytics import graph_link_prediction

        rows = graph_link_prediction(spark, sf_smoke).collect()
        assert 0 < len(rows) <= 10
        cs = [r["common_w"] for r in rows]
        assert cs == sorted(cs, reverse=True)
        assert all(r["u"] < r["v"] for r in rows)


class TestWinsorize:
    def test_hand_computed(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import analytics as qa

        # 100 values: 1..100 dollars → cents 100..10000
        li = spark.createDataFrame([Row(l_extendedprice=float(i)) for i in range(1, 101)])
        monkeypatch.setattr(qa, "load", lambda s, d, t: li)
        r = qa.lineitem_winsorize_prices(spark, "_").collect()[0]
        # type-1 p1 = 1st value (cum >= ceil(1)), p99 = 99th value
        assert r["lo_cents"] == 100 and r["hi_cents"] == 9900
        assert r["n_clipped_low"] == 0 and r["n_clipped_high"] == 1
        # winsorized mean: only 10000 clamps to 9900 → mean drops by 1
        assert r["mean_cents"] == 5050.0
        assert r["winsorized_mean_cents"] == 5049.0

    def test_clamp_tightens_mean(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.analytics import lineitem_winsorize_prices

        r = lineitem_winsorize_prices(spark, sf_smoke).collect()[0]
        assert r["lo_cents"] <= r["hi_cents"]
        assert r["n_clipped_low"] + r["n_clipped_high"] <= 0.021 * r["n_rows"]
        assert r["lo_cents"] <= r["winsorized_mean_cents"] <= r["hi_cents"]


class TestEmbDriftMonitor:
    def test_matches_numpy(self, spark, sf_smoke):
        import numpy as np

        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.datapipe import emb_drift_monitor

        got = [(r["dim"], r["abs_diff"]) for r in emb_drift_monitor(spark, sf_smoke).collect()]
        rows = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        V = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000)
        ma = V[ids % 2 == 0].sum(axis=0) / (ids % 2 == 0).sum()
        mb = V[ids % 2 == 1].sum(axis=0) / (ids % 2 == 1).sum()
        diff = np.round(np.abs(ma - mb) / 1_000_000, 6)
        order = sorted(range(len(diff)), key=lambda d: (-diff[d], d))[:10]
        assert got == [(d, float(diff[d])) for d in order]
        # drift_l2 consistent on all rows
        l2s = {r["drift_l2"] for r in emb_drift_monitor(spark, sf_smoke).collect()}
        assert len(l2s) == 1


class TestChurnTrainingSet:
    def test_no_leakage_hand_corpus(self, spark, monkeypatch):
        from datetime import date

        from medical_examination_data_etl_system_spark.queries import analytics as qa

        # max day = 2001-01-01 → cutoff = 2000-07-05
        orders = spark.createDataFrame(
            [
                # customer 1: pre-cutoff orders only → churned
                Row(o_custkey=1, o_orderdate=date(2000, 1, 1), o_totalprice=10.0),
                Row(o_custkey=1, o_orderdate=date(2000, 6, 1), o_totalprice=20.0),
                # customer 2: pre + post → retained
                Row(o_custkey=2, o_orderdate=date(2000, 5, 1), o_totalprice=30.0),
                Row(o_custkey=2, o_orderdate=date(2001, 1, 1), o_totalprice=99.0),
                # customer 3: post-cutoff only → NOT in the training set
                Row(o_custkey=3, o_orderdate=date(2000, 12, 1), o_totalprice=50.0),
            ]
        )
        monkeypatch.setattr(qa, "load", lambda s, d, t: orders)
        got = {r["o_custkey"]: r.asDict() for r in qa.orders_churn_training_set(spark, "_").collect()}
        assert set(got) == {1, 2}
        assert got[1]["churned"] is True and got[2]["churned"] is False
        # features exclude post-cutoff rows: customer 2 spend = 3000 cents only
        assert got[2]["n_orders"] == 1 and got[2]["total_cents"] == 3000
        assert got[1]["total_cents"] == 3000  # 1000 + 2000

    def test_corpus_labels_nontrivial(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.analytics import orders_churn_training_set

        rows = orders_churn_training_set(spark, sf_smoke).collect()
        assert rows
        churned = sum(r["churned"] for r in rows)
        assert 0 < churned < len(rows)
        assert all(r["recency_d"] >= 0 and r["tenure_d"] >= r["recency_d"] for r in rows)


class TestCusumChangepoint:
    def test_matches_python_replay(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.analytics import events_cusum_changepoint

        got = [(str(r["day"]), r["cnt"], r["cusum"]) for r in events_cusum_changepoint(spark, sf_smoke).collect()]
        daily = (
            load(spark, sf_smoke, "events")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("day")
            .collect()
        )
        mean = sum(r["cnt"] for r in daily) / len(daily)
        run, cus = 0.0, {}
        for r in daily:
            run += r["cnt"] - mean
            cus[str(r["day"])] = (r["cnt"], round(run, 4))
        expect = sorted(cus.items(), key=lambda kv: (-abs(kv[1][1]), kv[0]))[:10]
        assert got == [(d, c, s) for d, (c, s) in expect]


class TestBenfordAudit:
    def test_benford_constants_and_chi(self, spark, sf_smoke):
        import math

        from medical_examination_data_etl_system_spark.queries.analytics import orders_benford_audit

        rows = orders_benford_audit(spark, sf_smoke).collect()
        assert [r["digit"] for r in rows] == list(range(1, 10))
        for r in rows:
            assert r["benford_share"] == round(math.log10(1 + 1 / r["digit"]), 4)
            assert r["deviation"] == round(r["obs_share"] - r["benford_share"], 4)
        assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 0.01
        chis = {r["chi_square"] for r in rows}
        assert len(chis) == 1 and chis.pop() >= 0

    def test_benford_distributed_input_passes(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import analytics as qa

        # exponential-ish magnitudes follow Benford closely
        vals = [1.0 * (1.17 ** (i % 140)) * (1 + 0.0003 * i) for i in range(400)]
        orders = spark.createDataFrame([Row(o_totalprice=v) for v in vals])
        monkeypatch.setattr(qa, "load", lambda s, d, t: orders)
        rows = qa.orders_benford_audit(spark, "_").collect()
        got1 = [r for r in rows if r["digit"] == 1][0]
        assert abs(got1["obs_share"] - 0.301) < 0.05
        assert rows[0]["chi_square"] < 50


class TestBootstrapCi:
    def test_ci_brackets_point(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.analytics import orders_bootstrap_ci

        r = orders_bootstrap_ci(spark, sf_smoke).collect()[0]
        assert r["ci_lo"] <= r["point"] <= r["ci_hi"]
        assert r["ci_lo"] < r["ci_hi"]
        assert r["n_replicates"] == 100

    def test_constant_series_collapses_ci(self, spark, monkeypatch):
        from datetime import date, timedelta

        from medical_examination_data_etl_system_spark.queries import analytics as qa

        # identical daily revenue → every replicate mean equals it
        orders = spark.createDataFrame(
            [Row(o_orderdate=date(2024, 1, 1) + timedelta(days=i), o_totalprice=100.0) for i in range(50)]
        )
        monkeypatch.setattr(qa, "load", lambda s, d, t: orders)
        r = qa.orders_bootstrap_ci(spark, "_").collect()[0]
        assert r["ci_lo"] == r["ci_hi"] == r["point"] == 10000.0


class TestMmrDiversify:
    def test_matches_numpy_greedy(self, spark, sf_smoke):
        import numpy as np

        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.datapipe import emb_mmr_diversify

        got = [(r["rnk"], r["vec_id"], r["q_dist"], r["mmr_score"]) for r in emb_mmr_diversify(spark, sf_smoke).collect()]
        rows = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        V = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000).astype(np.int64)
        order = np.argsort(ids)
        ids, V = ids[order], V[order]
        q = V[0]
        dq = ((V - q[None, :]) ** 2).sum(axis=1)
        dq[0] = np.iinfo(np.int64).max
        top = np.lexsort((ids, dq))[:20]
        cids, cdq, CV = ids[top], dq[top], V[top]
        P = ((CV[:, None, :] - CV[None, :, :]) ** 2).sum(axis=2)
        sel_ix, expect = [], []
        for step in range(5):
            best = None
            for i in range(20):
                if i in sel_ix:
                    continue
                score = -7 * int(cdq[i]) + (3 * int(P[i, sel_ix].min()) if sel_ix else 0)
                key = (score, -int(cids[i]))
                if best is None or key > best[0]:
                    best = (key, i)
            sel_ix.append(best[1])
            expect.append((step + 1, int(cids[best[1]]), int(cdq[best[1]]), best[0][0]))
        assert got == expect

    def test_first_pick_is_nearest_and_diverse(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.datapipe import emb_mmr_diversify

        rows = emb_mmr_diversify(spark, sf_smoke).collect()
        assert len(rows) == 5
        assert rows[0]["q_dist"] == min(r["q_dist"] for r in rows)
        assert len({r["vec_id"] for r in rows}) == 5


class TestTrigramSearch:
    def test_equals_direct_like(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.relational import part_trigram_search

        got = {r["p_brand"]: (r["n_parts"], r["n_names"]) for r in part_trigram_search(spark, sf_smoke).collect()}
        direct = (
            load(spark, sf_smoke, "part")
            .filter(F.col("p_name").contains("ring"))
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("p_name").alias("d"))
            .collect()
        )
        expect = {r["p_brand"]: (r["n"], r["d"]) for r in direct}
        assert got == expect and got

    def test_covering_prunes_partial_matches(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import relational as qr

        parts = spark.createDataFrame(
            [
                Row(p_partkey=1, p_name="spring thing", p_brand="A"),   # has rin+ing AND substring
                Row(p_partkey=2, p_name="rinse singer", p_brand="B"),   # has rin AND ing but NOT 'ring'
                Row(p_partkey=3, p_name="boring", p_brand="C"),         # match
                Row(p_partkey=4, p_name="rinrin", p_brand="D"),         # rin only → pruned by covering
            ]
        )
        monkeypatch.setattr(qr, "load", lambda s, d, t: parts)
        got = {r["p_brand"] for r in qr.part_trigram_search(spark, "_").collect()}
        # B survives the trigram covering but dies at exact verify;
        # D never reaches verify (covering test fails)
        assert got == {"A", "C"}


class TestBotDetection:
    def test_synthetic_bot_flagged(self, spark, monkeypatch):
        from datetime import datetime, timedelta

        from medical_examination_data_etl_system_spark.queries import analytics as qa

        t0 = datetime(2024, 1, 1)
        rows = []
        # bot: perfectly regular 10s cadence → cv = 0
        for i in range(20):
            rows.append(Row(user_id=1, event_id=i, ts=t0 + timedelta(seconds=10 * i)))
        # human-ish: irregular gaps, slow
        for i, s in enumerate([0, 700, 1500, 5000, 12000, 30000]):
            rows.append(Row(user_id=2, event_id=100 + i, ts=t0 + timedelta(seconds=s)))
        ev = spark.createDataFrame(rows)
        monkeypatch.setattr(qa, "load", lambda s, d, t: ev)
        got = {r["user_id"]: r.asDict() for r in qa.events_bot_detection(spark, "_").collect()}
        assert got[1]["gap_cv"] == 0.0 and got[1]["too_regular"] and got[1]["is_bot"]
        assert got[1]["too_fast"]  # 20 events in 190s
        assert not got[2]["is_bot"]
        assert got[2]["gap_cv"] > 0.3

    def test_corpus_poisson_traffic_unflagged(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.analytics import events_bot_detection

        rows = events_bot_detection(spark, sf_smoke).collect()
        assert rows
        # synthetic traffic is Poisson-ish: cv near 1, nothing bot-like
        import statistics

        cvs = [r["gap_cv"] for r in rows]
        assert 0.5 < statistics.median(cvs) < 1.5
        assert all(r["is_bot"] == (r["too_regular"] or r["too_fast"]) for r in rows)


class TestLabelNoiseAudit:
    def test_matches_numpy(self, spark, sf_smoke):
        import numpy as np

        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.datapipe import emb_label_noise_audit

        got = {r["label"]: r.asDict() for r in emb_label_noise_audit(spark, sf_smoke).collect()}
        rows = load(spark, sf_smoke, "embeddings").select("vec_id", "label", "embedding").collect()
        V = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000).astype(np.int64)
        labs = np.array([r["label"] for r in rows])
        labels = np.array(sorted(set(labs.tolist())))
        C = np.stack([
            np.floor(V[labs == l].sum(axis=0).astype(np.float64) / (labs == l).sum()).astype(np.int64)
            for l in labels
        ])
        n_noisy = {int(l): 0 for l in labels}
        for i in range(len(V)):
            D = ((C - V[i][None, :]) ** 2).sum(axis=1)
            own_ix = int(np.where(labels == labs[i])[0][0])
            d_own = D[own_ix]
            D[own_ix] = np.iinfo(np.int64).max
            if D.min() < d_own:
                n_noisy[int(labs[i])] += 1
        for l in labels:
            assert got[int(l)]["n_noisy"] == n_noisy[int(l)]
            assert got[int(l)]["n_vectors"] == int((labs == l).sum())


class TestRevenueAcf:
    def test_matches_numpy_pearson(self, spark, sf_smoke):
        import numpy as np

        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.analytics import orders_revenue_acf

        got = {r["lag"]: r for r in orders_revenue_acf(spark, sf_smoke).collect()}
        daily = (
            load(spark, sf_smoke, "orders")
            .groupBy(F.to_date("o_orderdate").alias("day"))
            .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
            .orderBy("day")
            .collect()
        )
        s = np.array([r["cents"] for r in daily], dtype=np.float64)
        for lag in range(1, 8):
            x, y = s[lag:], s[:-lag]
            expect = np.corrcoef(x, y)[0, 1]
            assert got[lag]["n_pairs"] == len(x)
            assert abs(got[lag]["acf"] - expect) < 5e-4


class TestIvfPqTopk:
    def test_subset_of_probed_lists_and_adc_exact(self, spark, sf_smoke):
        import numpy as np

        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.datapipe import emb_ivfpq_topk

        got = {}
        for r in emb_ivfpq_topk(spark, sf_smoke).collect():
            got.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"], r["adc_dist"]))
        rows = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        V = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000).astype(np.int64)
        order = np.argsort(ids)
        ids, V = ids[order], V[order]
        cents = V[:8]
        # coarse assignment + PQ codes
        cd = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(cd, axis=1)
        books = [V[:8, s * 16 : (s + 1) * 16] for s in range(4)]
        codes = np.zeros((len(ids), 4), dtype=np.int64)
        for s in range(4):
            sub = V[:, s * 16 : (s + 1) * 16]
            d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d, axis=1)
        for qi in range(5):
            qcd = ((cents - V[qi][None, :]) ** 2).sum(axis=1)
            probed = set(np.lexsort((np.arange(8), qcd))[:2])
            lut = np.stack(
                [((books[s] - V[qi, s * 16 : (s + 1) * 16][None, :]) ** 2).sum(axis=1) for s in range(4)]
            )
            adc = lut[np.arange(4)[:, None], codes.T].sum(axis=0)
            mask = np.array([assign[i] in probed and ids[i] != ids[qi] for i in range(len(ids))])
            adc_m = np.where(mask, adc, np.iinfo(np.int64).max)
            top = np.lexsort((ids, adc_m))[:5]
            expect = [(int(ids[i]), int(adc_m[i])) for i in top]
            have = [(v, d) for _, v, d in sorted(got[int(ids[qi])])]
            assert have == expect
            # every result really sits in a probed list
            id_to_row = {int(ids[i]): i for i in range(len(ids))}
            assert all(assign[id_to_row[v]] in probed for v, _ in have)


class TestLmQuality:
    def test_hand_computed_corpus(self, spark, monkeypatch):
        import math

        from medical_examination_data_etl_system_spark.queries import datapipe

        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text="a a b"),
                Row(doc_id=1, text="c"),
            ]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = {r["doc_id"]: r.asDict() for r in datapipe.docs_lm_quality(spark, "_").collect()}
        # corpus: a:2 b:1 c:1, N=4, V=3 → p(a)=3/7, p(b)=p(c)=2/7
        xent0 = -(2 * math.log(3 / 7) + math.log(2 / 7)) / 3
        xent1 = -math.log(2 / 7)
        assert got[0]["xent"] == round(xent0, 4)
        assert got[1]["xent"] == round(xent1, 4)
        # the rare-token doc scores worse than the common-token doc
        assert got[1]["xent"] > got[0]["xent"]
        assert got[1]["above_avg"] and not got[0]["above_avg"]

    def test_corpus_scoring_sane(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.datapipe import docs_lm_quality

        rows = docs_lm_quality(spark, sf_smoke).collect()
        assert rows
        assert all(r["xent"] > 0 and r["ppl"] > 1 for r in rows)
        n_above = sum(r["above_avg"] for r in rows)
        assert 0 < n_above < len(rows)


class TestBpePairMerges:
    def test_hand_computed_corpus(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import datapipe

        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text="abab ab"),
                Row(doc_id=1, text="ab x"),
            ]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = [(r["pair"], r["n"]) for r in datapipe.docs_bpe_pair_merges(spark, "_").collect()]
        # words: abab×1 (pairs ab, ba, ab), ab×2 (pair ab), x×1 (no pair)
        assert got == [("ab", 4), ("ba", 1)]

    def test_top20_ranked(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.datapipe import docs_bpe_pair_merges

        rows = docs_bpe_pair_merges(spark, sf_smoke).collect()
        assert len(rows) == 20
        assert [r["rnk"] for r in rows] == list(range(1, 21))
        ns = [r["n"] for r in rows]
        assert ns == sorted(ns, reverse=True)
        assert all(len(r["pair"]) == 2 for r in rows)


class TestWatermarkLateAudit:
    def test_replay_matches_brute_force(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries import load
        from medical_examination_data_etl_system_spark.queries.streaming import (
            events_watermark_late_audit,
        )

        got = {r["event_type"]: r.asDict() for r in events_watermark_late_audit(spark, sf_smoke).collect()}
        # brute-force replay in Python over the same md5 delays
        import hashlib

        rows = load(spark, sf_smoke, "events").select("event_id", "event_type", "ts").collect()
        evs = []
        for r in rows:
            delay = int(hashlib.md5(str(r["event_id"]).encode()).hexdigest()[:8], 16) % 300
            et = int(r["ts"].timestamp())
            evs.append((r["event_type"], et, (et + delay) // 600))
        bmax = {}
        for _, et, b in evs:
            bmax[b] = max(bmax.get(b, 0), et)
        wm = {}
        run = None
        for b in sorted(bmax):
            wm[b] = None if run is None else run - 120
            run = bmax[b] if run is None else max(run, bmax[b])
        agg = {}
        for t, et, b in evs:
            a = agg.setdefault(t, [0, 0, None])
            a[0] += 1
            if wm[b] is not None and et < wm[b]:
                a[1] += 1
                late = wm[b] - et
                a[2] = late if a[2] is None else max(a[2], late)
        for t, (n, late, mx) in agg.items():
            assert got[t]["n_events"] == n
            assert got[t]["n_late"] == late
            assert got[t]["max_late_s"] == mx
            assert got[t]["late_share"] == round(late / n, 4)


class TestBm25Search:
    def test_hand_computed_corpus(self, spark, monkeypatch):
        import math

        from medical_examination_data_etl_system_spark.queries import datapipe

        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text="spark spark table"),
                Row(doc_id=1, text="hash join"),
                Row(doc_id=2, text="nothing relevant here"),
            ]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = {r["doc_id"]: r.asDict() for r in datapipe.docs_bm25_search(spark, "_").collect()}
        assert set(got) == {0, 1}  # doc 2 matches no query term
        k1, b, avgdl, n = 1.2, 0.75, 8 / 3, 3

        def bm25(tf, df, dl):
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

        assert got[0]["n_terms_matched"] == 2
        assert got[0]["bm25"] == round(bm25(2, 1, 3) + bm25(1, 1, 3), 4)
        assert got[1]["n_terms_matched"] == 1
        assert got[1]["bm25"] == round(bm25(1, 1, 2), 4)
        # rank order follows score descending
        ranked = sorted(got.values(), key=lambda r: r["rnk"])
        assert [r["bm25"] for r in ranked] == sorted(
            (r["bm25"] for r in ranked), reverse=True
        )

    def test_topk_bounded_and_ranked(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.datapipe import docs_bm25_search

        rows = docs_bm25_search(spark, sf_smoke).collect()
        assert 0 < len(rows) <= 20
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["bm25"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(1 <= r["n_terms_matched"] <= 3 for r in rows)


class TestLangidConfusion:
    def test_shares_sum_to_one_per_label(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.datapipe import docs_langid_confusion

        rows = docs_langid_confusion(spark, sf_smoke).collect()
        assert rows
        by_label = {}
        for r in rows:
            by_label.setdefault(r["label"], []).append(r)
        for label, group in by_label.items():
            assert abs(sum(g["share"] for g in group) - 1.0) < 1e-2
            assert all(g["n"] > 0 for g in group)

    def test_pure_marker_corpus_is_diagonal(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import datapipe

        docs = spark.createDataFrame(
            [
                Row(doc_id=0, lang="de", text="die große straße ä ö ß"),
                Row(doc_id=1, lang="fr", text="déjà été à côté"),
                Row(doc_id=2, lang="en", text="plain ascii text"),
            ]
        )
        monkeypatch.setattr(datapipe, "load", lambda s, d, t: docs)
        got = datapipe.docs_langid_confusion(spark, "_").collect()
        assert {(r["label"], r["pred"]) for r in got} == {
            ("de", "de"), ("fr", "fr"), ("en", "en"),
        }
        assert all(r["share"] == 1.0 for r in got)


class TestTemperatureMix:
    def test_weights_sum_to_one(self, spark, sf_smoke):
        from medical_examination_data_etl_system_spark.queries.curation import docs_temperature_mix

        rows = docs_temperature_mix(spark, sf_smoke).collect()
        assert len(rows) >= 2
        assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-2
        assert abs(sum(r["docs_per_1000"] for r in rows) - 1000.0) < 5

    def test_sqrt_tempering_uprates_low_resource(self, spark, monkeypatch):
        from medical_examination_data_etl_system_spark.queries import curation as qc

        docs = spark.createDataFrame(
            [
                Row(lang="hi", text="a " * 99 + "a", n_chars=0),   # 100 tokens
                Row(lang="lo", text="b " * 24 + "b", n_chars=0),   # 25 tokens
            ]
        )
        monkeypatch.setattr(qc, "load", lambda s, d, t: docs)
        got = {r["lang"]: r for r in qc.docs_temperature_mix(spark, "_").collect()}
        # raw share 100/125 = 0.8; sqrt-tempered 10/15 ≈ 0.6667 — the
        # low-resource lang rises from 0.2 to 0.3333.
        assert abs(got["hi"]["mix_weight"] - 0.6667) < 1e-9
        assert abs(got["lo"]["mix_weight"] - 0.3333) < 1e-9
        assert got["lo"]["docs_per_1000"] == 333.3
