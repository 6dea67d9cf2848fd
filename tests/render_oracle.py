"""Test-only oracle: the report renderer as plain Python.

A line-by-line port of the reference's per-record tree assembly
(text_processing.py:66-126; SURVEY.md rows A5-A8): order-preserving
nested grouping GROUP -> SUMMARY [-> COMMENT], first-seen block
regrouping, item line only when the items tuple changes. The engine
renders with Spark windows and higher-order functions
(``pipeline.render.render_reports_sql``); ``test_render_parity`` checks
the two byte for byte.
"""

from __future__ import annotations

from typing import Iterable

from medical_examination_data_etl_system_spark.schemas import LANGU_MAP


def _groups_in_encounter_order(rows: list[dict], key: str) -> list[tuple[str, list[dict]]]:
    """All rows per distinct key value; values in first-occurrence order.

    Semantics of pandas ``groupby(key, sort=False)`` iteration
    (reference text_processing.py:80,84,87): groups are keyed by value
    (non-adjacent rows with the same value unify), ordered by the key's
    first appearance.
    """
    acc: dict[str, list[dict]] = {}
    for r in rows:
        acc.setdefault(r[key], []).append(r)
    return list(acc.items())


def _first_seen_item_names(rows: Iterable[dict]) -> list[str]:
    """First-occurrence item-name dedup by ITEM_CODE (reference :129-141)."""
    seen: set[str] = set()
    names: list[str] = []
    for r in rows:
        code = str(r["ITEM_CODE"]).strip()
        if code not in seen:
            seen.add(code)
            names.append(str(r["ITEM_NAME"]).strip())
    return names


def _dedup_keep_first(values: Iterable[str]) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    for v in values:
        if v not in seen:
            seen.add(v)
            out.append(v)
    return out


def render_record(lang_no: str, rows: list[dict]) -> str:
    """Assemble one record's indented report (reference :66-126).

    ``rows`` must be in encounter order (sorted by ``ord``) and carry
    GROUP, ITEM_CODE, ITEM_NAME, COMMENT_G, SUMMARY, REWRITTEN.
    """
    default_text = LANGU_MAP.get(str(lang_no).strip(), "")
    lines: list[str] = []

    for group_val, group_rows in _groups_in_encounter_order(rows, "GROUP"):
        lines.append(str(group_val).strip())

        # Build summary blocks (reference :83-101)
        blocks: list[dict] = []
        for summary_val, srows in _groups_in_encounter_order(group_rows, "SUMMARY"):
            stripped = str(summary_val).strip()
            rewritten = str(srows[0]["REWRITTEN"]).strip()
            if summary_val == default_text:
                # Default-summary branch: one block per distinct comment
                for comment_val, crows in _groups_in_encounter_order(srows, "COMMENT_G"):
                    blocks.append(
                        {
                            "items": _first_seen_item_names(crows),
                            "comments": [str(comment_val).strip()],
                            "summary": stripped,
                            "rewritten": rewritten,
                        }
                    )
            else:
                blocks.append(
                    {
                        "items": _first_seen_item_names(srows),
                        "comments": _dedup_keep_first(str(r["COMMENT_G"]).strip() for r in srows),
                        "summary": stripped,
                        "rewritten": rewritten,
                    }
                )

        # First-seen block regrouping (reference :103-110): stable-sort
        # blocks by (first index at which their items-tuple appeared,
        # original index).
        first_seen: dict[tuple, int] = {}
        for i, b in enumerate(blocks):
            first_seen.setdefault(tuple(b["items"]), i)
        ordered = sorted(enumerate(blocks), key=lambda t: (first_seen[tuple(t[1]["items"])], t[0]))

        # Emission (reference :112-124): item line only when the items
        # tuple changes; comment line when present; summary line with a
        # trailing newline.
        last_key: tuple | None = None
        for _, b in ordered:
            key = tuple(b["items"])
            if key != last_key:
                lines.append(f"    {'、'.join(b['items'])}")
                last_key = key
            if b["comments"]:
                lines.append(f"        {'、'.join(b['comments'])}")
            if b["summary"]:
                lines.append(f"            {b['rewritten']}\n")

    return "\n".join(lines)
