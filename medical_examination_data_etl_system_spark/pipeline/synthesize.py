"""Deterministic medical-record synthesis from the documents table.

The driver testdata has no nested medical records; the flagship entry
derives a deterministic batch from ``documents`` so the full pipeline
(ingest → enrich → clean → render) exercises real data shapes: each
record groups up to 5 documents as findings across up to 2 items.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def records_from_documents(docs: DataFrame, max_records: int | None = None) -> list[dict]:
    """documents rows → nested request records (deterministic).

    record r ← docs with doc_id // 5 == r; items split doc ids by parity.
    LANG_NO cycles 1-4 by record index; comments are document texts.
    ``max_records=None`` uses every document.
    """
    ordered = docs.select("doc_id", "text").orderBy("doc_id")
    if max_records is not None:
        ordered = ordered.limit(max_records * 5)
    rows = ordered.collect()
    records: dict[int, dict] = {}
    for row in rows:
        rid = row["doc_id"] // 5
        rec = records.setdefault(
            rid,
            {
                "RECORD_ID": f"R{rid:05d}",
                "LANG_NO": str(rid % 4 + 1),
                "ORG_ID": "ORG_SYN",
                "_items": {},
            },
        )
        item_key = f"I{rid:05d}_{row['doc_id'] % 2}"
        rec["_items"].setdefault(item_key, []).append(
            {
                "DIAG_CODE": f"D{row['doc_id'] % 40:03d}",
                "COMMENT": row["text"][:120],
                "SUMMARY_CODE": f"S{row['doc_id'] % 10:02d}",
            }
        )
    out = []
    for rid in sorted(records):
        rec = records[rid]
        rec["ITEMS"] = [
            {"ITEM_CODE": k, "FINDINGS": v} for k, v in sorted(rec.pop("_items").items())
        ]
        out.append(rec)
    return out
