"""Per-stage timing observability (reference utils.py:7-15 parity).

The reference wraps each pipeline stage in ``log_execution_time`` and
prints "<fn> executed in N seconds". The engine keeps the same decorator
contract but routes through :mod:`logging` (logger
``medical_examination_data_etl_system_spark.timing``) so deployments aggregate stage timings
instead of scraping stdout, and adds a context-manager form for timing
arbitrary blocks (a Spark ACTION is where work happens — decorating a
function that only builds a lazy plan times plan construction, so put
the action inside the timed scope).

These are driver-side wall-clock timings only. The engine records no
executor metrics: the session runs with ``spark.ui.enabled=false``, so
there is no Spark UI to read them from; the status store behind
``SparkContext.statusTracker`` (per job group) is where they can be read.
"""

from __future__ import annotations

import functools
import logging
import time
from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

_F = TypeVar("_F", bound=Callable)

logger = logging.getLogger("medical_examination_data_etl_system_spark.timing")

# Process-lifetime stage → [durations] record; inspectable by tests and
# long-lived callers (API server) without parsing log output.
_timings: dict[str, list[float]] = {}


def recorded_timings() -> dict[str, list[float]]:
    """Snapshot of every timed stage's durations (seconds) this process."""
    return {k: list(v) for k, v in _timings.items()}


def reset_timings() -> None:
    _timings.clear()


@contextmanager
def timed_stage(name: str) -> Iterator[None]:
    """Time a block: ``with timed_stage("enrich"): df.count()``."""
    start = time.perf_counter()
    try:
        yield
    finally:
        elapsed = time.perf_counter() - start
        _timings.setdefault(name, []).append(elapsed)
        logger.info("%s executed in %.6f seconds", name, elapsed)


def log_execution_time(func: _F) -> _F:
    """Decorator parity with reference utils.py:7-15."""

    @functools.wraps(func)
    def wrapper(*args, **kwargs):
        with timed_stage(func.__name__):
            return func(*args, **kwargs)

    return wrapper  # type: ignore[return-value]
