"""End-to-end streaming of the report pipeline: record files arriving in
micro-batches must yield exactly the batch pipeline's reports."""

from __future__ import annotations

import functools
import json
import os
import time

from medical_examination_data_etl_system_spark.pipeline import dims as dims_module
from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.streaming.pipeline import (
    read_records_stream,
    stream_reports,
)

from .fixtures import multilang_edge_batch, sample_request
from .test_dims_mongo import _fake_client

# Jobs one stream_reports micro-batch of multilang_edge_batch() fires.
_MAX_BATCH_JOBS = 11


def _write_jsonl(path, records: list[dict]) -> None:
    path.write_text(
        "".join(json.dumps(r, ensure_ascii=False) + "\n" for r in records), encoding="utf-8"
    )


def test_stream_reports_matches_batch(spark, tmp_path):
    batch1 = sample_request()
    batch2 = multilang_edge_batch()
    src = tmp_path / "records_in"
    src.mkdir()
    for i, batch in enumerate([batch1, batch2]):
        with open(src / f"batch-{i}.jsonl", "w", encoding="utf-8") as f:
            for r in batch:
                f.write(json.dumps(r, ensure_ascii=False) + "\n")

    out = str(tmp_path / "reports_out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_records_stream(spark, str(src), max_files_per_trigger=1)
    q = stream_reports(stream, out, ckpt)
    q.awaitTermination(300)

    got = {
        r["record_id"]: r["report"] for r in spark.read.parquet(out).collect()
    }
    want = {}
    for batch in [batch1, batch2]:
        for r in process_records(spark, batch).collect():
            want[r["record_id"]] = r["report"]
    assert got == want
    assert len(got) == len(batch1) + len(batch2)


def test_stream_reports_releases_caches_per_batch(spark, tmp_path):
    """ADVICE r13: each foreachBatch invocation persists the cleaned
    fact inside its own cache_scope — nothing may leak onto the
    process-global tracked list across micro-batches."""
    import json

    from medical_examination_data_etl_system_spark.operators.cache import tracked_frames
    from medical_examination_data_etl_system_spark.streaming.pipeline import (
        read_records_stream,
        stream_reports,
    )

    from .fixtures import sample_request

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rec = dict(sample_request()[0])
    (in_dir / "r1.json").write_text(json.dumps(rec) + "\n")

    before = len(tracked_frames())
    q = stream_reports(
        read_records_stream(spark, str(in_dir), max_files_per_trigger=1),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert len(tracked_frames()) == before


def test_stream_batch_job_count(spark, tmp_path):
    """The stream runs its jobs under its runId job group; one
    micro-batch stays within the pinned job count."""
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "batch.jsonl", multilang_edge_batch())
    q = stream_reports(
        read_records_stream(spark, str(src)), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= _MAX_BATCH_JOBS


def test_empty_batch_appends_no_rows(spark, tmp_path):
    """A micro-batch of an empty file runs the batch body and appends
    nothing; the next batch writes the sample's reports."""
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "a-empty.jsonl", [])
    _write_jsonl(src / "b-sample.jsonl", sample_request())
    # The file source takes files in modification-time order.
    earlier = time.time() - 10
    os.utime(src / "a-empty.jsonl", (earlier, earlier))
    out = str(tmp_path / "out")
    q = stream_reports(
        read_records_stream(spark, str(src), max_files_per_trigger=1), out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    assert [p["numInputRows"] for p in q.recentProgress] == [0, 1]
    got = sorted((r["record_id"], r["report"]) for r in spark.read.parquet(out).collect())
    want = sorted((r["record_id"], r["report"]) for r in process_records(spark, sample_request()).collect())
    assert got == want


def test_stream_resolves_dims_as_the_api_does(spark, tmp_path, monkeypatch):
    """With no dims and MONGO_URI set, each micro-batch loads its dims
    from MongoDB, as process_records does."""
    monkeypatch.setenv("MONGO_URI", "mongodb://stub")
    monkeypatch.setattr(
        dims_module,
        "dims_from_mongo",
        functools.partial(dims_module.dims_from_mongo, client_factory=_fake_client),
    )
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(
        src / "batch.jsonl",
        [{"RECORD_ID": "R100", "ORG_ID": "ORG1", "LANG_NO": "2",
          "ITEMS": [{"ITEM_CODE": "I001", "FINDINGS": [
              {"DIAG_CODE": "D01", "COMMENT": "finding text", "SUMMARY_CODE": "S01"}]}]}],
    )
    out = str(tmp_path / "out")
    q = stream_reports(read_records_stream(spark, str(src)), out, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    [row] = spark.read.parquet(out).collect()
    assert "Alpha" in row["report"]  # ENNAME_ITEM from the mongo dim (LANG_NO=2 → EN)
    assert "Group" in row["report"]
