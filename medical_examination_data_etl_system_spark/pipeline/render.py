"""Rendering: per-record hierarchical text report.

Parity with reference text_processing.py:33-141, Spark-first:

- P4 (per-record language projection, reference :41-49) is data-parallel:
  one ``CASE`` on LANG_NO per generic column instead of a per-record
  Python loop — all four languages in one pass, JVM-side.
- The rewrite lookup (reference :76 + :124 ``summary_translated.get``)
  reads the rewrite table (see ``pipeline.llm``) into one constant map,
  language → summary → rewrite — no join, no broadcast.
- U2 (the renderer, reference :66-126) is row-procedural in the
  reference: order-preserving nested grouping GROUP → SUMMARY
  [→ COMMENT] with first-seen block regrouping. ``render_generic_reports``
  expresses the same tree assembly as windows + aggregation +
  higher-order functions, so no Python runs in the render path.

Indentation contract (reference :69-73,116-124):
GROUP at col 0, item line at 4 spaces, comment line at 8, summary line at
12 with a trailing ``\\n`` appended to each summary line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.schemas import LANGU_MAP, sql_literal

# The renderer's expressions are SQL text, written once here: a Column
# tree rebuilt per call costs a py4j round trip per node, and the served
# request builds this plan on every call. GROUP is a SQL keyword, so the
# column is always quoted.

# P4 (reference :41-49): each generic column picked by the row's LANG_NO.
_LANG = "trim(CAST(LANG_NO AS STRING))"
_GENERIC_SRC = {
    "GROUP": {"1": "TCNAME_GROUP", "2": "ENNAME_GROUP", "3": "JPNAME_GROUP", "4": "SCNAME_GROUP"},
    "ITEM_NAME": {"1": "TCNAME_ITEM", "2": "ENNAME_ITEM", "3": "JPNAME_ITEM", "4": "SCNAME_ITEM"},
    "COMMENT_G": {"1": "COMMENT", "2": "ENNAME_COMMENT", "3": "JPNAME_COMMENT", "4": "SCNAME_COMMENT"},
    "SUMMARY": {"1": "TCNAME_SUMMARY", "2": "ENNAME_SUMMARY", "3": "JPNAME_SUMMARY", "4": "SCNAME_SUMMARY"},
}
_GENERIC = {
    dst: f"CASE {_LANG} " + " ".join(f"WHEN '{n}' THEN {c}" for n, c in src.items()) + " ELSE '' END"
    for dst, src in _GENERIC_SRC.items()
}
# The row language's default summary (reference :23-28).
_DEFAULT_TEXT = (
    f"CASE {_LANG} " + " ".join(f"WHEN '{n}' THEN {sql_literal(t)}" for n, t in LANGU_MAP.items())
    + " ELSE '' END"
)

# Renderer input: the columns the tree assembly reads. Block key: (raw
# SUMMARY, raw COMMENT for the default branch).
_ROWS = [
    "RECORD_ID", "ord", "rec_ord", "request", "`GROUP`", "SUMMARY",
    f"SUMMARY = {_DEFAULT_TEXT} AS _is_default",
    "trim(CAST(ITEM_CODE AS STRING)) AS _code_t",
    "trim(CAST(ITEM_NAME AS STRING)) AS _name_t",
    "trim(CAST(COMMENT_G AS STRING)) AS _comment_t",
    "trim(CAST(SUMMARY AS STRING)) AS _summary_t",
    f"CASE WHEN SUMMARY = {_DEFAULT_TEXT} THEN COMMENT_G END AS _blk_com",
]
# All encounter orders are min(ord) per RAW value — groups unify
# non-adjacent repeats, exactly like pandas groupby(sort=False); plus the
# first occurrence of each ITEM_CODE / comment within a block.
_BLK = "RECORD_ID, `GROUP`, SUMMARY, _blk_com"
_ROW_ORDERS = [
    "*",
    "min(ord) OVER (PARTITION BY RECORD_ID, `GROUP`) AS _grp_ord",
    "min(ord) OVER (PARTITION BY RECORD_ID, `GROUP`, SUMMARY) AS _sum_ord",
    f"min(ord) OVER (PARTITION BY {_BLK}) AS _com_ord",
    f"row_number() OVER (PARTITION BY {_BLK}, _code_t ORDER BY ord) = 1 AS _fi",
    f"row_number() OVER (PARTITION BY {_BLK}, _comment_t ORDER BY ord) = 1 AS _fc",
]
_BLOCK_KEY = [
    "RECORD_ID", "rec_ord", "request", "GROUP", "_grp_ord", "SUMMARY", "_summary_t",
    "_rewritten_t", "_is_default", "_sum_ord", "_blk_com", "_com_ord",
]
_BLOCK_ROWS = "sort_array(collect_list(struct(ord, _name_t, _comment_t, _fi, _fc))) AS _rows"
# Block contents, and block regrouping (reference :103-110): stable sort
# by (index of the first block with the same items tuple, original index).
_BLOCK_ITEMS = [
    "*",
    "transform(filter(_rows, r -> r._fi), r -> r._name_t) AS _items",
    "CASE WHEN _is_default THEN array(trim(CAST(_blk_com AS STRING))) "
    "ELSE transform(filter(_rows, r -> r._fc), r -> r._comment_t) END AS _comments",
    "row_number() OVER (PARTITION BY RECORD_ID, `GROUP` ORDER BY _sum_ord, _com_ord) AS _orig_idx",
]
_FIRST_IDX = "min(_orig_idx) OVER (PARTITION BY RECORD_ID, `GROUP`, _items) AS _first_idx"
_FINAL = "PARTITION BY RECORD_ID, `GROUP` ORDER BY _first_idx, _orig_idx"
# "Item line only when the items tuple changes" (reference :112-117) is a
# lag over the final block order. Lines (reference :78-124): concat_ws
# skips NULL parts, so optional lines vanish. The summary line carries
# its own trailing newline — the later "\n" join doubles it, as the
# reference's str.join does.
_BLOCK_TEXT = [
    "RECORD_ID", "rec_ord", "request", "_grp_ord", "_first_idx", "_orig_idx",
    r"""concat_ws('\n',
      CASE WHEN row_number() OVER (""" + _FINAL + r""") = 1
           THEN trim(CAST(`GROUP` AS STRING)) END,
      CASE WHEN NOT (lag(_items) OVER (""" + _FINAL + r""") <=> _items)
           THEN concat('    ', array_join(_items, '、')) END,
      concat('        ', array_join(_comments, '、')),
      CASE WHEN _summary_t != '' THEN concat('            ', _rewritten_t, '\n') END
    ) AS _text""",
]
_REPORT = (
    r"array_join(transform(sort_array(collect_list(struct(_grp_ord, _first_idx, _orig_idx, _text))),"
    r" b -> b._text), '\n') AS report"
)
_REPORT_OUTPUT = [
    "CAST(RECORD_ID AS STRING) AS record_id", "report", "request", "rec_ord",
]


def _rewritten(rewrites: DataFrame) -> str:
    """``_rewritten_t`` as SQL text (reference :75-76, :124): the row's
    trimmed language, then its stripped summary, looked up in one
    constant map of ``rewrites``, else the stripped summary. ``rewrites``
    is collected, so it must fit the driver. A null key or rewrite gets
    no entry: such a row keeps its own summary."""
    table: dict[str, dict[str, str]] = {}
    for lang, summary, out in rewrites.select("LANG_NO", "SUMMARY", "SUMMARY_REWRITTEN").collect():
        if None not in (lang, summary, out):
            table.setdefault(lang, {})[summary] = out
    maps = ", ".join(
        f"{sql_literal(lang)}, map({', '.join(sql_literal(t) for kv in texts.items() for t in kv)})"
        for lang, texts in table.items()
    )
    lookup = f"map({maps})[{_LANG}][trim(SUMMARY)]" if table else "NULL"
    return f"trim(coalesce({lookup}, trim(SUMMARY))) AS _rewritten_t"


def with_generic_columns(df: DataFrame) -> DataFrame:
    """P4 for all four languages at once: add GROUP / ITEM_NAME /
    COMMENT_G / SUMMARY picked by each row's LANG_NO."""
    return df.withColumns({dst: F.expr(sql) for dst, sql in _GENERIC.items()})


def render_reports_sql(cleaned: DataFrame, rewrites: DataFrame) -> DataFrame:
    """Pure-Spark renderer over a cleaned fact frame: the generic
    columns, then :func:`render_generic_reports`."""
    return render_generic_reports(with_generic_columns(cleaned), rewrites)


def render_generic_reports(generic: DataFrame, rewrites: DataFrame) -> DataFrame:
    """The reference's per-record tree assembly (text_processing.py:66-126)
    over a frame that already carries the generic columns, expressed as
    windows + aggregation + higher-order functions — no Python in the
    render path. Every step is JVM-side and the only per-record state is
    the collected block list, so a skewed giant record never serializes
    on one Python worker. Returns (record_id, report, request, rec_ord).

    Semantics mapping (reference text_processing.py:66-126):
    - encounter-order value grouping (GROUP / SUMMARY / COMMENT) →
      ``min(ord)`` windows per raw value (``_grp_ord``/``_sum_ord``/
      ``_com_ord``);
    - the default-summary branch (one block per distinct comment) →
      block key = (SUMMARY, COMMENT if default else NULL);
    - first-occurrence item/comment dedup inside a block → row_number
      windows ordered by ord, filtered inside the collected array;
    - first-seen items-tuple block regrouping (:103-110) →
      ``min(_orig_idx)`` over (record, group, items) as primary sort key;
    - "item line only when the items tuple changes" (:112-117) →
      ``lag(_items)`` over the final block order;
    - line assembly → ``concat_ws('\\n', ...)`` (skips NULL parts) per
      block, ``array_join(sort_array(collect_list(...)))`` per record.
    """
    rows = generic.selectExpr(*_ROWS, _rewritten(rewrites))
    # One COARSE exchange for the whole renderer (r14, guide §2.4):
    # every window/groupBy below is keyed by a superset of
    # {RECORD_ID}, so hashpartitioning(RECORD_ID) satisfies all of
    # them — measured plan went from TWO renderer exchanges
    # (hash(RECORD_ID, GROUP) for the block windows + hash(RECORD_ID,
    # rec_ord, request) for the final per-record aggregate) to this
    # single one. Skew bound = rows per record, identical to the
    # per-record windows the plan already ran.
    rows = rows.repartition("RECORD_ID").selectExpr(*_ROW_ORDERS)
    blocks = (
        rows.groupBy(*_BLOCK_KEY)
        .agg(F.expr(_BLOCK_ROWS))
        .selectExpr(*_BLOCK_ITEMS)
        .selectExpr("*", _FIRST_IDX)
        .selectExpr(*_BLOCK_TEXT)
    )
    return blocks.groupBy("RECORD_ID", "rec_ord", "request").agg(F.expr(_REPORT)).selectExpr(*_REPORT_OUTPUT)
