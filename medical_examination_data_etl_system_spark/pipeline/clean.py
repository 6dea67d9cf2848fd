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

All expressions are built-in column functions: the whole stage stays in
whole-stage codegen; the only exchanges are one ``repartition("RECORD_ID")``,
which clusters the dedup window and both per-record windows, plus the
1-row GROUPNO max gathered to a single partition and broadcast back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.cache import persist_tracked

from medical_examination_data_etl_system_spark.schemas import (
    FULLWIDTH_SRC,
    HALFWIDTH_DST,
    LANGU_DEFAULT_MAP,
    SUBSET,
    SUBSET_2_KEEP,
)

_SUMMARY_COLS = ["TCNAME_SUMMARY", "ENNAME_SUMMARY", "JPNAME_SUMMARY", "SCNAME_SUMMARY"]
_GROUP_COLS = ["TCNAME_GROUP", "ENNAME_GROUP", "JPNAME_GROUP", "SCNAME_GROUP"]


def clean_comment(col: F.Column) -> F.Column:
    """F3+F4+F5 (reference data_preprocessing.py:37-55).

    newline strip → full-width→half-width translate → paren whitespace
    squeeze, null-safe.
    """
    c = F.coalesce(col.cast("string"), F.lit(""))
    c = F.regexp_replace(c, r"[\r\n]", "")
    c = F.translate(c, FULLWIDTH_SRC, HALFWIDTH_DST)
    c = F.regexp_replace(c, r"\s*\(\s*", "(")
    c = F.regexp_replace(c, r"\s*\)\s*", ")")
    return c


def _strip_newlines_default(col_name: str, lang_no: str) -> F.Column:
    """F3 + F6 (reference :58-60, :68-70): per-column language default."""
    c = F.coalesce(F.col(col_name).cast("string"), F.lit(""))
    c = F.regexp_replace(c, r"[\r\n]", "")
    default = LANGU_DEFAULT_MAP[lang_no][col_name]
    return F.when(c == "", F.lit(default)).otherwise(c)


def postprocess_multilang(df: DataFrame) -> DataFrame:
    """Full cleaning stage; returns SUBSET ∪ {ord, request} with ``ord``
    re-derived to reflect the sorted order within each record."""
    # F3-F5 on COMMENT
    df = df.withColumn("COMMENT", clean_comment(F.col("COMMENT")))

    # F3+F6 on the four SUMMARY columns (column-wise defaults: the
    # reference fills e.g. every empty TCNAME_SUMMARY with the TC default
    # regardless of the row's LANG_NO — data_preprocessing.py:58-60).
    df = df.withColumns(
        {c: _strip_newlines_default(c, str(i + 1)) for i, c in enumerate(_SUMMARY_COLS)}
    )

    # A3 + F7: GROUPNO 0/null → max+1 sentinel, cast int
    # (reference :62-65). Global max via 1-row broadcast cross-join.
    df = df.withColumn("GROUPNO", F.col("GROUPNO").cast("int"))
    # Persisted barrier (r14, guide §5): `df` is referenced twice from
    # here — the 1-row max aggregate below and the main path — and with
    # no barrier the whole upstream (flatten → enrich, a record-keyed
    # aggregation plus dim joins) re-evaluates for the max branch.
    # Interleaved same-process A/B at sf0.1: ingest_enrich_clean
    # 4.23 → 3.24 s, e2e_reports 9.27 → 8.75 s. Released by the
    # caller's cache_scope (bench, API, foreachBatch all open one).
    df = persist_tracked(df)
    max_df = df.agg(F.coalesce(F.max("GROUPNO"), F.lit(0)).alias("_max_groupno"))
    df = df.crossJoin(F.broadcast(max_df))
    df = df.withColumn(
        "GROUPNO",
        F.when(
            F.col("GROUPNO").isNull() | (F.col("GROUPNO") == 0),
            F.col("_max_groupno") + 1,
        )
        .otherwise(F.col("GROUPNO"))
        .cast("int"),
    ).drop("_max_groupno")

    # F3+F6 on the four GROUP columns (reference :68-70)
    df = df.withColumns(
        {c: _strip_newlines_default(c, str(i + 1)) for i, c in enumerate(_GROUP_COLS)}
    )

    # get_unique_rows (reference :23-30): whole-frame fillna('') then
    # keep-first dedup on the 8-col key, "first" = lowest ord.
    string_cols = [c for c in SUBSET if c != "GROUPNO"]
    df = df.na.fill("", subset=string_cols)
    # One COARSE exchange for the whole stage (r14, guide §2.4): the
    # dedup key contains RECORD_ID, so hashpartitioning(RECORD_ID)
    # satisfies the dedup window's clustering AND the two per-record
    # windows below — one shuffle instead of hash(8-col key) followed
    # by hash(RECORD_ID). Skew bound is per-record row count, the same
    # bound w_rec/w_sort already imposed; AQE sizes/coalesces the
    # partitions at runtime.
    df = df.repartition("RECORD_ID")
    w_dedup = Window.partitionBy(*SUBSET_2_KEEP).orderBy("ord")
    df = (
        df.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # O1 (reference :75): stable sort by (RECORD_ID, GROUPNO, TCNAME_ITEM)
    # — stability == ord tiebreak. Rather than a global sort (single
    # range-partitioned stage whose only consumer is per-record grouping),
    # re-derive ord within each record; renderers and sinks order by it.
    # rec_ord preserves each record's batch position (its first row's
    # pre-sort ord) so the final output can be returned in request order.
    w_rec = Window.partitionBy("RECORD_ID")
    df = df.withColumn("rec_ord", F.min("ord").over(w_rec))
    w_sort = Window.partitionBy("RECORD_ID").orderBy("GROUPNO", "TCNAME_ITEM", "ord")
    df = df.withColumn("ord", F.row_number().over(w_sort))
    return df
