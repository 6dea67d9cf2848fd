"""Cleaning: normalization, defaults, keep-first dedup, stable sort.

Parity with reference data_preprocessing.py:23-77, re-expressed on
Spark's no-implicit-order model:

- keep-FIRST dedup (pandas ``drop_duplicates(keep='first')``) is a
  ``row_number`` window over the dedup key ordered by ``ord`` — NOT
  ``dropDuplicates``, which keeps an arbitrary row per key.
- the stable mergesort (pandas ``kind='mergesort'``) becomes an explicit
  sort key list with ``ord`` as the tiebreaker; afterwards ``ord`` is
  re-derived per record so downstream "encounter order" means post-sort
  order, exactly as the reference's physical row order does.
- the GROUPNO sentinel (0/null → max+1) computes the global max as a
  1-row broadcast cross-join — no driver round-trip, no global window.

All expressions are built-in SQL functions, written once as module-level
SQL text (a ``Column`` tree rebuilt per call costs a py4j round trip per
node): the whole stage stays in whole-stage codegen; the only exchanges
are one ``repartition("RECORD_ID")``, which clusters the dedup window
and both per-record windows, plus the 1-row GROUPNO max gathered to a
single partition and broadcast back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.cache import persist_tracked

from medical_examination_data_etl_system_spark.schemas import (
    FULLWIDTH_SRC,
    HALFWIDTH_DST,
    LANGU_DEFAULT_MAP,
    SUBSET,
    SUBSET_2_KEEP,
    sql_literal,
)

_SUMMARY_COLS = ["TCNAME_SUMMARY", "ENNAME_SUMMARY", "JPNAME_SUMMARY", "SCNAME_SUMMARY"]
_GROUP_COLS = ["TCNAME_GROUP", "ENNAME_GROUP", "JPNAME_GROUP", "SCNAME_GROUP"]


def _stripped(col: str) -> str:
    """F3 (reference data_preprocessing.py:37-39): null-safe newline strip."""
    return rf"regexp_replace(coalesce(CAST({col} AS STRING), ''), r'[\r\n]', '')"


def _with_default(col: str, lang_no: str) -> str:
    """F3 + F6 (reference :58-60, :68-70): the column's language default
    when it is empty after the strip."""
    return f"coalesce(nullif({_stripped(col)}, ''), {sql_literal(LANGU_DEFAULT_MAP[lang_no][col])})"


# F3+F4+F5 on COMMENT (reference :37-55): newline strip → full-width →
# half-width translate → paren whitespace squeeze, null-safe.
_CLEAN_COMMENT = (
    rf"regexp_replace(regexp_replace(translate({_stripped('COMMENT')}, "
    rf"{sql_literal(FULLWIDTH_SRC)}, {sql_literal(HALFWIDTH_DST)}), "
    rf"r'\s*\(\s*', '('), r'\s*\)\s*', ')')"
)

# Before the GROUPNO max: F3-F5 on COMMENT, F3+F6 on the four SUMMARY
# columns (column-wise defaults: the reference fills e.g. every empty
# TCNAME_SUMMARY with the TC default regardless of the row's LANG_NO —
# :58-60), and the int cast of GROUPNO (:62-65).
_BEFORE_MAX = {
    "COMMENT": _CLEAN_COMMENT,
    **{c: _with_default(c, str(i + 1)) for i, c in enumerate(_SUMMARY_COLS)},
    "GROUPNO": "CAST(GROUPNO AS INT)",
}
# After it: A3 + F7, GROUPNO 0/null → max+1 sentinel (:62-65), and F3+F6
# on the four GROUP columns (:68-70).
_AFTER_MAX = {
    "GROUPNO": "CAST(CASE WHEN GROUPNO IS NULL OR GROUPNO = 0 THEN _max_groupno + 1 "
    "ELSE GROUPNO END AS INT)",
    **{c: _with_default(c, str(i + 1)) for i, c in enumerate(_GROUP_COLS)},
}
# get_unique_rows (reference :23-30): keep-first dedup on the 8-col key,
# "first" = lowest ord. File and stream copies of one RECORD_ID all sit
# at batch position 0 and can tie on ord; the request text breaks the
# tie, so the kept copy does not depend on arrival order. On the API
# path ord is unique and the tiebreak never decides.
_DEDUP_RANK = (
    f"row_number() OVER (PARTITION BY {', '.join(SUBSET_2_KEEP)} ORDER BY ord, request)"
)
# O1 (reference :75): stable sort by (RECORD_ID, GROUPNO, TCNAME_ITEM) —
# stability == ord tiebreak. Rather than a global sort (single
# range-partitioned stage whose only consumer is per-record grouping),
# ord is re-derived within each record as an int; renderers and sinks
# order by it. rec_ord keeps the record's lowest incoming ord (flatten's
# struct, whose first field is the batch position, or a caller's int)
# so the final output can be returned in request order. request is the
# echo of the copy at that lowest ord, so records that share a
# RECORD_ID render as one report (reference A4 groupby('RECORD_ID'), J5
# first-match echo); the request text breaks ord ties, which file and
# stream copies (batch position 0) can have, here and in the ord
# row_number. All three read the incoming ord; min, min_by and ORDER BY
# serve either type.
_RECORD_ORDER = {
    "rec_ord": "min(ord) OVER (PARTITION BY RECORD_ID)",
    "request": "min_by(request, struct(ord, request)) OVER (PARTITION BY RECORD_ID)",
    "ord": "row_number() OVER (PARTITION BY RECORD_ID ORDER BY GROUPNO, TCNAME_ITEM, ord, request)",
}


def _exprs(sql: dict[str, str]) -> dict[str, F.Column]:
    return {c: F.expr(e) for c, e in sql.items()}


def postprocess_multilang(df: DataFrame) -> DataFrame:
    """Full cleaning stage; returns SUBSET ∪ {ord, rec_ord, request} with
    ``ord`` re-derived to reflect the sorted order within each record."""
    df = df.withColumns(_exprs(_BEFORE_MAX))
    # Persisted barrier (r14, guide §5): `df` is referenced twice from
    # here — the 1-row max aggregate below and the main path — and with
    # no barrier the whole upstream (flatten → enrich, a record-keyed
    # aggregation plus dim joins) re-evaluates for the max branch.
    # Interleaved same-process A/B at sf0.1: ingest_enrich_clean
    # 4.23 → 3.24 s, e2e_reports 9.27 → 8.75 s. Released by the
    # caller's cache_scope (bench, API, foreachBatch all open one).
    df = persist_tracked(df)
    # Global max via 1-row broadcast cross-join.
    max_df = df.selectExpr("coalesce(max(GROUPNO), 0) AS _max_groupno")
    df = df.crossJoin(F.broadcast(max_df)).withColumns(_exprs(_AFTER_MAX)).drop("_max_groupno")

    # Whole-frame fillna('') before the dedup (reference :23-30).
    string_cols = [c for c in SUBSET if c != "GROUPNO"]
    df = df.na.fill("", subset=string_cols)
    # One COARSE exchange for the whole stage (r14, guide §2.4): the
    # dedup key contains RECORD_ID, so hashpartitioning(RECORD_ID)
    # satisfies the dedup window's clustering AND the two per-record
    # windows below — one shuffle instead of hash(8-col key) followed
    # by hash(RECORD_ID). Skew bound is per-record row count, the same
    # bound the per-record windows already imposed; AQE sizes/coalesces
    # the partitions at runtime.
    df = df.repartition("RECORD_ID")
    df = df.withColumn("_rn", F.expr(_DEDUP_RANK)).filter("_rn = 1").drop("_rn")
    return df.withColumns(_exprs(_RECORD_ORDER))
