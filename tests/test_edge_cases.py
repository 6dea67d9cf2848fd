"""Degenerate-input robustness: the engine must degrade gracefully
(empty results), never throw, on inputs the reference would choke on."""

from __future__ import annotations

from medical_examination_data_etl_system_spark.pipeline import process_records

from .fixtures import sample_request


def test_empty_batch(spark):
    assert process_records(spark, []).collect() == []


def test_record_with_no_items(spark):
    rec = {"RECORD_ID": "R9", "LANG_NO": "1", "ORG_ID": "O1", "ITEMS": []}
    assert process_records(spark, rec).collect() == []


def test_record_with_empty_findings(spark):
    rec = {
        "RECORD_ID": "R8",
        "LANG_NO": "1",
        "ORG_ID": "O1",
        "ITEMS": [{"ITEM_CODE": "I001", "FINDINGS": []}],
    }
    # posexplode_outer keeps the item row; the empty-comment filter then
    # drops it — no report remains.
    assert process_records(spark, rec).collect() == []


def test_all_blank_comments_dropped(spark):
    rec = {
        "RECORD_ID": "R7",
        "LANG_NO": "1",
        "ORG_ID": "O1",
        "ITEMS": [
            {"ITEM_CODE": "I001", "FINDINGS": [{"DIAG_CODE": "D1", "COMMENT": "   "}]}
        ],
    }
    assert process_records(spark, rec).collect() == []


def test_mixed_valid_and_degenerate_records(spark):
    records = sample_request() + [
        {"RECORD_ID": "R9", "LANG_NO": "1", "ORG_ID": "O1", "ITEMS": []}
    ]
    out = process_records(spark, records).collect()
    assert [r["record_id"] for r in out] == [r["RECORD_ID"] for r in sample_request()]


def test_curation_temp_columns_survive_collision(spark):
    """ADVICE r4: scratch columns (_rn, _prefix) must not clobber user
    columns of the same name."""
    from pyspark.sql import functions as F

    from medical_examination_data_etl_system_spark.operators import curation

    df = spark.createDataFrame(
        [("a", i, f"marker{i}", 10) for i in range(5)]
        + [("b", i, f"marker{i}", 10) for i in range(5)],
        ["key", "id", "_rn", "n_tokens"],
    ).withColumn("_prefix", F.col("_rn"))

    capped = curation.cap_per_key(df, "key", n=2, order_col="id")
    assert "_rn" in capped.columns
    rows = {(r["key"], r["id"]): r["_rn"] for r in capped.collect()}
    assert rows[("a", 0)] == "marker0" and len(rows) == 4

    packed = curation.pack_sequences(df, "n_tokens", budget=25, part_col="key", order_col="id")
    assert "_prefix" in packed.columns
    got = {(r["key"], r["id"]): (r["_prefix"], r["bin_id"]) for r in packed.collect()}
    assert got[("a", 3)] == ("marker3", 1)  # exclusive prefix 30 // 25


def test_chunk_tokens_temp_columns_survive_collision(spark):
    from medical_examination_data_etl_system_spark.operators import curation

    df = spark.createDataFrame(
        [("d1", "one two three four", "keepme")], ["doc_id", "text", "_tk"]
    )
    out = curation.chunk_tokens(df, "text", ["doc_id", "_tk"], chunk=3, step=2)
    rows = out.collect()
    assert all(r["_tk"] == "keepme" for r in rows)
    assert [r["chunk_text"] for r in rows] == ["one two three", "three four"]


def test_driver_window_priority_names_must_exist():
    """ADVICE r4: a typo in _DRIVER_WINDOW_PRIORITY must raise, not
    silently demote the query out of the driver's checked window."""
    import pytest

    from medical_examination_data_etl_system_spark import queries as q

    assert q.all_queries()  # real list resolves
    orig = q._DRIVER_WINDOW_PRIORITY
    try:
        q._DRIVER_WINDOW_PRIORITY = orig + ["no_such_query_zzz"]
        with pytest.raises(ValueError, match="no_such_query_zzz"):
            q.all_queries()
    finally:
        q._DRIVER_WINDOW_PRIORITY = orig


def test_driver_window_structured_plan():
    """ADVICE r9 #3: the window plan is structured (name, why) tuples; a
    restructured row shifted past the WINDOW_SIZE cut must raise, and
    the plan itself must be dupe-free with every name in the registry."""
    from medical_examination_data_etl_system_spark import queries as q

    names = [n for n, _ in q._WINDOW_PLAN]
    assert len(set(names)) == len(names), "duplicate names in _WINDOW_PLAN"
    assert q.WINDOW_SIZE == 50
    assert len(names) >= q.WINDOW_SIZE
    # every restructured row sits inside the checked window
    for i, (name, why) in enumerate(q._WINDOW_PLAN):
        if why.endswith("-restr"):
            assert i < q.WINDOW_SIZE, f"{name} restructured but outside window"
    registry = q.all_queries()
    assert list(registry)[: q.WINDOW_SIZE] == names[: q.WINDOW_SIZE]


def test_bucket_col_list_parsed_exactly():
    """ADVICE r4: `key` must not match a table bucketed on `subkey`."""
    from medical_examination_data_etl_system_spark.operators.bucketing import _parse_col_list

    assert _parse_col_list("[`o_orderkey`]") == ["o_orderkey"]
    assert _parse_col_list("[`subkey`]") != ["key"]
    assert _parse_col_list("[`a`, `b`]") == ["a", "b"]
    assert _parse_col_list("") == []


def test_decontaminate_semantics(spark):
    """A doc sharing an n-gram with the benchmark is dropped; disjoint
    docs and sub-n-token docs survive."""
    from medical_examination_data_etl_system_spark.operators import curation

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # shares trigram with bench
            (2, "entirely different words here"),  # survives
            (3, "two tokens"),                     # < n tokens: no grams, survives
            (4, "QUICK   Brown FOX"),              # normalization: matches bench
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, "a quick brown fox ran")], ["doc_id", "text"])
    kept = sorted(
        r["doc_id"] for r in curation.decontaminate(corpus, bench, n=3).collect()
    )
    assert kept == [2, 3]


def test_repetition_stats_values(spark):
    from medical_examination_data_etl_system_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # bigrams: ab ba ab ba ab → 5 grams, 2 distinct
            (2, "w x y z"),       # 3 grams, all distinct
            (3, "solo"),          # < 2 tokens → no row
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in curation.repetition_stats(docs, n=2).collect()}
    assert set(got) == {1, 2}
    assert (got[1]["n_grams"], got[1]["n_distinct"], got[1]["rep_ratio"]) == (5, 2, 0.6)
    assert got[2]["rep_ratio"] == 0.0


def test_table_rowcount_memoizes_missing_tables(spark, tmp_path):
    """ADVICE r10 #4: a missing table's outcome is memoized too — the
    second lookup for an absent table must not re-run load() (the dir
    is immutable per-process, same argument as the count memo)."""
    from medical_examination_data_etl_system_spark import queries as q

    calls = {"n": 0}
    orig_load = q.load

    def counting_load(sp, sf_dir, table):
        calls["n"] += 1
        return orig_load(sp, sf_dir, table)

    q.load = counting_load
    try:
        missing_dir = str(tmp_path)  # empty dir: every table absent
        assert q.table_rowcount(spark, missing_dir, "orders") is None
        assert q.table_rowcount(spark, missing_dir, "orders") is None
        assert calls["n"] == 1, f"load re-ran for a memoized miss: {calls}"
    finally:
        q.load = orig_load
        q._ROWCOUNTS.pop((str(tmp_path), "orders"), None)


def test_table_rowcount_reprobes_when_table_appears(spark, tmp_path):
    """ADVICE r11 #5: a memoized MISS whose path later exists (a
    pipeline-style flow writing the table after a first lookup) is
    invalidated and recounted — the stale None must not silently
    disable hint-gated plans for the rest of the process."""
    from medical_examination_data_etl_system_spark import queries as q

    d = str(tmp_path)
    assert q.table_rowcount(spark, d, "orders") is None
    spark.range(7).withColumnRenamed("id", "o_orderkey").write.parquet(
        f"{d}/orders.parquet"
    )
    try:
        assert q.table_rowcount(spark, d, "orders") == 7
    finally:
        q._ROWCOUNTS.pop((d, "orders"), None)


def test_default_driver_memory_fits_the_box():
    """The default heap is 40 % of physical memory in MiB, capped at
    16g — never a fixed 16g that outgrows a small box. Pure arithmetic:
    no JVM."""
    from medical_examination_data_etl_system_spark.session import default_driver_memory

    gib = 1 << 30
    assert default_driver_memory(15 * gib) == "6144m"
    assert default_driver_memory(64 * gib) == "16384m"


def test_records_from_documents_without_limit(spark, sf_smoke):
    """``max_records=None`` synthesizes a record from every document
    (it used to overflow a Java int in ``limit``)."""
    from medical_examination_data_etl_system_spark.pipeline.synthesize import (
        records_from_documents,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    records = records_from_documents(docs)
    assert len(records) == len({d // 5 for d in doc_ids})
    assert sum(len(i["FINDINGS"]) for r in records for i in r["ITEMS"]) == len(doc_ids)
    assert records[:2] == records_from_documents(docs, max_records=2)
