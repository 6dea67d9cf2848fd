"""Timing decorator parity (reference utils.py:7-15): log wall-clock
time without changing results."""

from __future__ import annotations

import logging

from medical_examination_data_etl_system_spark.observability import log_execution_time


def test_decorator_records_and_logs(caplog):
    @log_execution_time
    def stage_x():
        return 41 + 1

    with caplog.at_level(logging.INFO, logger="medical_examination_data_etl_system_spark.timing"):
        assert stage_x() == 42
    assert "stage_x executed in" in caplog.text
