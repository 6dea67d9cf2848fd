"""E1 parity for the framework-free request handler (S1/S8)."""

from __future__ import annotations

import glob

from medical_examination_data_etl_system_spark.api import handle_process_request
from medical_examination_data_etl_system_spark.schemas import SUBSET

from .fixtures import sample_request


def test_handle_process_request_list(spark):
    out = handle_process_request(spark, sample_request())
    assert set(out) == {"rows"}
    assert len(out["rows"]) == 1
    assert out["rows"][0]["report"].splitlines()[0] == "範例分類"


def test_handle_process_request_dict_promotion(spark):
    """A single dict payload is promoted to a 1-element batch
    (reference text_processing.py:152)."""
    single = sample_request()[0]
    out = handle_process_request(spark, single)
    assert len(out["rows"]) == 1


def test_handle_process_request_releases_caches(spark):
    """ADVICE r13: the pipeline's internal persists must not accumulate
    on the process-global tracked list across requests — a long-lived
    server would otherwise grow cache usage per request."""
    from medical_examination_data_etl_system_spark.operators.cache import tracked_frames

    before = len(tracked_frames())
    handle_process_request(spark, sample_request())
    assert len(tracked_frames()) == before


def test_handle_process_request_writes_csv_checkpoints(spark, tmp_path):
    """With an output_dir, the request also writes the reference's two
    timestamped CSV artifacts (text_processing.py:157-166)."""
    out = handle_process_request(spark, sample_request(), output_dir=str(tmp_path))
    assert len(out["rows"]) == 1
    (pre,) = glob.glob(str(tmp_path / "output_01_preprocessed" / "csv_*"))
    (post,) = glob.glob(str(tmp_path / "output_02_text_processed" / "csv_*"))
    assert spark.read.option("header", True).csv(pre).columns == [*SUBSET, "ord"]
    reports = spark.read.option("header", True).option("multiLine", True).csv(post)
    assert reports.columns == ["record_id", "report", "request"]
    assert reports.count() == 1
