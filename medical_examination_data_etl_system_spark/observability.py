"""Function timing (reference utils.py:7-15 parity).

The reference wraps each pipeline stage in ``log_execution_time`` and
prints "<fn> executed in N seconds". The engine keeps the same decorator
contract but routes through :mod:`logging` (logger
``medical_examination_data_etl_system_spark.timing``) so deployments
aggregate the lines instead of scraping stdout. Nothing is kept in
memory. A Spark ACTION is where work happens: decorating a function that
only builds a lazy plan times plan construction, so decorate the
function that runs the action.

These are driver-side wall-clock timings only. The engine records no
executor metrics: the session runs with ``spark.ui.enabled=false``, so
there is no Spark UI to read them from; the status store behind
``SparkContext.statusTracker`` (per job group) is where they can be read.
"""

from __future__ import annotations

import functools
import logging
import time
from typing import Callable, TypeVar

_F = TypeVar("_F", bound=Callable)

logger = logging.getLogger("medical_examination_data_etl_system_spark.timing")


def log_execution_time(func: _F) -> _F:
    """Decorator parity with reference utils.py:7-15: log the call's
    wall-clock time and return its value."""

    @functools.wraps(func)
    def wrapper(*args, **kwargs):
        start = time.perf_counter()
        try:
            return func(*args, **kwargs)
        finally:
            logger.info("%s executed in %.6f seconds", func.__name__, time.perf_counter() - start)

    return wrapper  # type: ignore[return-value]
