"""Answers the benchmark's ops are checked against, computed outside the
timed path."""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd


# Digest of every pool record's report, per scale, written by
# make_digests.py from one process_records call over the pool.
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "report_digests.json")


def digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def report_digests(spark, records: list[dict]) -> dict[str, str]:
    """record id -> digest of its report, from one ``process_records``
    call over all the records."""
    from medical_examination_data_etl_system_spark.operators.cache import cache_scope
    from medical_examination_data_etl_system_spark.pipeline import process_records

    with cache_scope():
        rows = process_records(spark, records).select("record_id", "report").collect()
    return {r["record_id"]: digest(r["report"]) for r in rows}


def committed_digests(scale: float) -> dict[str, str]:
    """record id -> committed digest of its report, for the pool at
    ``scale``."""
    with open(DIGESTS) as fh:
        return json.load(fh)[f"{scale:g}"]


def response_ok(response: dict, request: list[dict], expected: dict[str, str]) -> bool:
    """One report per record, in request order, each equal to the
    record's expected report."""
    rows = response.get("rows", [])
    return len(rows) == len(request) and all(
        digest(row["report"]) == expected.get(rec["RECORD_ID"])
        for row, rec in zip(rows, request)
    )


def oracle_frames(data_dir: str, tables: list[str], sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Each query's DuckDB oracle answer over the same parquet files."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {name: normalize(con.execute(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column, timestamps
    without zone and bytes as hex, so two engines' answers compare
    exactly. These are the oracle parity tests' rules, kept here rather
    than imported so that the benchmark checks the same way on every
    commit it compares."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None)
        elif s.dtype == object:
            df[c] = s.map(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Exact equality of two normalized answers: same row count, same
    columns, same float/non-float kind per column, same values."""
    if len(got) != len(want) or list(got.columns) != list(want.columns):
        return False
    for col in got.columns:
        a, b = got[col], want[col]
        fa, fb = pd.api.types.is_float_dtype(a), pd.api.types.is_float_dtype(b)
        if fa != fb:
            return False
        if fa:
            if not all(
                (pd.isna(x) and pd.isna(y)) or (not pd.isna(x) and not pd.isna(y) and float(x) == float(y))
                for x, y in zip(a, b)
            ):
                return False
        elif (a.astype(str) != b.astype(str)).any():
            return False
    return True
