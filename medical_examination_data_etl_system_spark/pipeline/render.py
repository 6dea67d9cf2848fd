"""Rendering: per-record hierarchical text report.

Parity with reference text_processing.py:33-141, Spark-first:

- P4 (per-record language projection, reference :41-49) is data-parallel:
  one ``when``-coalesce chain per generic column instead of a per-record
  Python loop — all four languages in one pass, JVM-side.
- The rewrite lookup (reference :76 + :124 ``summary_translated.get``)
  is a broadcast left join against the persisted distinct-summary
  rewrite table (see ``pipeline.llm``) — not a driver-side dict.
- U2 (the renderer, reference :66-126) is row-procedural in the
  reference: order-preserving nested grouping GROUP → SUMMARY
  [→ COMMENT] with first-seen block regrouping. ``render_reports_sql``
  expresses the same tree assembly as windows + aggregation +
  higher-order functions, so no Python runs in the render path.

Indentation contract (reference :69-73,116-124):
GROUP at col 0, item line at 4 spaces, comment line at 8, summary line at
12 with a trailing ``\\n`` appended to each summary line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.schemas import LANGU_MAP

_GENERIC_SRC = {
    "GROUP": {"1": "TCNAME_GROUP", "2": "ENNAME_GROUP", "3": "JPNAME_GROUP", "4": "SCNAME_GROUP"},
    "ITEM_NAME": {"1": "TCNAME_ITEM", "2": "ENNAME_ITEM", "3": "JPNAME_ITEM", "4": "SCNAME_ITEM"},
    "COMMENT_G": {"1": "COMMENT", "2": "ENNAME_COMMENT", "3": "JPNAME_COMMENT", "4": "SCNAME_COMMENT"},
    "SUMMARY": {"1": "TCNAME_SUMMARY", "2": "ENNAME_SUMMARY", "3": "JPNAME_SUMMARY", "4": "SCNAME_SUMMARY"},
}


def _lang_pick(src_by_lang: dict[str, str]) -> F.Column:
    lang = F.trim(F.col("LANG_NO").cast("string"))
    expr = F.lit("")
    chain = None
    for lang_no, src in src_by_lang.items():
        cond = lang == lang_no
        chain = F.when(cond, F.col(src)) if chain is None else chain.when(cond, F.col(src))
    return chain.otherwise(expr)


def with_generic_columns(df: DataFrame) -> DataFrame:
    """P4 for all four languages at once: add GROUP / ITEM_NAME /
    COMMENT_G / SUMMARY picked by each row's LANG_NO."""
    return df.withColumns({dst: _lang_pick(src) for dst, src in _GENERIC_SRC.items()})


def _prepare_render_rows(cleaned: DataFrame, rewrites: DataFrame) -> DataFrame:
    """Renderer input: generic per-language columns + REWRITTEN."""
    df = with_generic_columns(cleaned)
    df = df.withColumn("_summary_key", F.trim(F.col("SUMMARY")))
    rw = rewrites.select(
        F.col("LANG_NO").alias("_rw_lang"),
        F.col("SUMMARY").alias("_rw_key"),
        "SUMMARY_REWRITTEN",
    )
    df = df.join(
        F.broadcast(rw),
        (F.trim(F.col("LANG_NO").cast("string")) == F.col("_rw_lang"))
        & (F.col("_summary_key") == F.col("_rw_key")),
        "left",
    )
    # Fallback to the original (stripped) summary — reference :124's
    # ``summary_translated.get(summary, summary)``.
    df = df.withColumn("REWRITTEN", F.coalesce(F.col("SUMMARY_REWRITTEN"), F.col("_summary_key")))

    return df.select(
        "RECORD_ID",
        "LANG_NO",
        "ord",
        "rec_ord",
        "request",
        "GROUP",
        "ITEM_CODE",
        "ITEM_NAME",
        "COMMENT_G",
        "SUMMARY",
        "REWRITTEN",
    )


def render_reports_sql(cleaned: DataFrame, rewrites: DataFrame) -> DataFrame:
    """Pure-Spark renderer: the reference's per-record tree assembly
    (text_processing.py:66-126) expressed as windows + aggregation +
    higher-order functions — no Python in the render path. Every step
    is JVM-side and the only per-record state is the collected block
    list, so a skewed giant record never serializes on one Python
    worker.

    Semantics mapping (reference text_processing.py:66-126):
    - encounter-order value grouping (GROUP / SUMMARY / COMMENT) →
      ``min(ord)`` windows per raw value (``grp_ord``/``sum_ord``/
      ``com_ord``);
    - the default-summary branch (one block per distinct comment) →
      block key = (SUMMARY, COMMENT if default else NULL);
    - first-occurrence item/comment dedup inside a block → row_number
      windows ordered by ord, filtered inside the collected array;
    - first-seen items-tuple block regrouping (:103-110) →
      ``min(orig_idx)`` over (record, group, items) as primary sort key;
    - "item line only when the items tuple changes" (:112-117) →
      ``lag(items)`` over the final block order;
    - line assembly → ``concat_ws('\\n', ...)`` (skips NULL parts) per
      block, ``array_join(sort_array(collect_list(...)))`` per record.
    """
    rows = _prepare_render_rows(cleaned, rewrites)
    # One COARSE exchange for the whole renderer (r14, guide §2.4):
    # every window/groupBy below is keyed by a superset of
    # {RECORD_ID}, so hashpartitioning(RECORD_ID) satisfies all of
    # them — measured plan went from TWO renderer exchanges
    # (hash(RECORD_ID, GROUP) for the block windows + hash(RECORD_ID,
    # rec_ord, request) for the final per-record aggregate) to this
    # single one. Skew bound = rows per record, identical to the
    # per-record windows the plan already ran.
    rows = rows.repartition("RECORD_ID")

    lang = F.trim(F.col("LANG_NO").cast("string"))
    default_text = F.lit("")
    for lang_no, text in LANGU_MAP.items():
        default_text = F.when(lang == lang_no, F.lit(text)).otherwise(default_text)

    rows = rows.withColumns(
        {
            "_is_default": F.col("SUMMARY") == default_text,
            "_code_t": F.trim(F.col("ITEM_CODE").cast("string")),
            "_name_t": F.trim(F.col("ITEM_NAME").cast("string")),
            "_comment_t": F.trim(F.col("COMMENT_G").cast("string")),
            "_summary_t": F.trim(F.col("SUMMARY").cast("string")),
            "_rewritten_t": F.trim(F.col("REWRITTEN").cast("string")),
        }
    )
    # Block key: (raw SUMMARY, raw COMMENT for the default branch). All
    # encounter orders are min(ord) per RAW value — groups unify
    # non-adjacent repeats, exactly like pandas groupby(sort=False).
    rows = rows.withColumn(
        "_blk_com", F.when(F.col("_is_default"), F.col("COMMENT_G")).otherwise(F.lit(None))
    )
    w_grp = W.partitionBy("RECORD_ID", "GROUP")
    w_sum = W.partitionBy("RECORD_ID", "GROUP", "SUMMARY")
    w_blk = ["RECORD_ID", "GROUP", "SUMMARY", "_blk_com"]
    rows = rows.withColumns(
        {
            "_grp_ord": F.min("ord").over(w_grp),
            "_sum_ord": F.min("ord").over(w_sum),
            "_com_ord": F.min("ord").over(W.partitionBy(*w_blk)),
            # First occurrence of each ITEM_CODE / comment within a block.
            "_fi": F.row_number().over(W.partitionBy(*w_blk, "_code_t").orderBy("ord")) == 1,
            "_fc": F.row_number().over(W.partitionBy(*w_blk, "_comment_t").orderBy("ord")) == 1,
        }
    )

    blocks = rows.groupBy(
        "RECORD_ID",
        "rec_ord",
        "request",
        "GROUP",
        "_grp_ord",
        "SUMMARY",
        "_summary_t",
        "_rewritten_t",
        "_is_default",
        "_sum_ord",
        "_blk_com",
        "_com_ord",
    ).agg(
        F.sort_array(
            F.collect_list(F.struct("ord", "_name_t", "_comment_t", "_fi", "_fc"))
        ).alias("_rows")
    )
    blocks = blocks.withColumns(
        {
            "_items": F.transform(
                F.filter("_rows", lambda r: r["_fi"]), lambda r: r["_name_t"]
            ),
            "_comments": F.when(
                F.col("_is_default"), F.array(F.trim(F.col("_blk_com").cast("string")))
            ).otherwise(
                F.transform(F.filter("_rows", lambda r: r["_fc"]), lambda r: r["_comment_t"])
            ),
        }
    )

    # Block regrouping (reference :103-110): stable sort by (index of the
    # first block with the same items tuple, original index).
    w_group_blocks = W.partitionBy("RECORD_ID", "GROUP").orderBy("_sum_ord", "_com_ord")
    blocks = blocks.withColumn("_orig_idx", F.row_number().over(w_group_blocks))
    blocks = blocks.withColumn(
        "_first_idx", F.min("_orig_idx").over(W.partitionBy("RECORD_ID", "GROUP", "_items"))
    )
    w_final = W.partitionBy("RECORD_ID", "GROUP").orderBy("_first_idx", "_orig_idx")
    blocks = blocks.withColumns(
        {
            "_emit_group": F.row_number().over(w_final) == 1,
            "_emit_items": ~F.lag("_items").over(w_final).eqNullSafe(F.col("_items")),
        }
    )

    # Lines (reference :78-124): concat_ws skips NULL parts, so optional
    # lines vanish. The summary line carries its own trailing newline —
    # the later "\n" join doubles it, as the reference's str.join does.
    block_text = F.concat_ws(
        "\n",
        F.when(F.col("_emit_group"), F.trim(F.col("GROUP").cast("string"))),
        F.when(F.col("_emit_items"), F.concat(F.lit("    "), F.array_join("_items", "、"))),
        F.concat(F.lit("        "), F.array_join("_comments", "、")),
        F.when(
            F.col("_summary_t") != "",
            F.concat(F.lit("            "), F.col("_rewritten_t"), F.lit("\n")),
        ),
    )
    blocks = blocks.withColumn("_text", block_text)

    report = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("_grp_ord", "_first_idx", "_orig_idx", "_text"))
            ),
            lambda b: b["_text"],
        ),
        "\n",
    )
    return (
        blocks.groupBy("RECORD_ID", "rec_ord", "request")
        .agg(report.alias("report"))
        .select(
            F.col("RECORD_ID").cast("string").alias("record_id"),
            "report",
            "request",
            F.col("rec_ord").cast("long").alias("rec_ord"),
        )
    )
