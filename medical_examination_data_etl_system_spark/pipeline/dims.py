"""Dimension tables: pluggable loaders + the env-gated source choice.

Parity with reference db_to_dataframe.py:98-141 (MongoDB). The engine
treats dims as plain DataFrames; where they come from (parquet, JDBC,
Mongo connector) is a loader concern. With no dim source, ``resolve_dims``
returns no tables and ``enrich`` computes the reference's offline
fallback names (db_to_dataframe.py:61-95) from the fact's own keys, so
the whole pipeline runs offline — same guarantee the reference makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medical_examination_data_etl_system_spark.schemas import (
    DIAG_TBL_SCHEMA,
    ITEM_GROUP_MAP_SCHEMA,
    ITEM_META_SCHEMA,
    SUMMARY_TBL_SCHEMA,
)


def dims_from_parquet(spark, base_dir: str) -> dict[str, DataFrame]:
    """Load the four dims from parquet files named after the tables."""
    schemas = {
        "item_meta": ITEM_META_SCHEMA,
        "item_group_map": ITEM_GROUP_MAP_SCHEMA,
        "diag_tbl": DIAG_TBL_SCHEMA,
        "summary_tbl": SUMMARY_TBL_SCHEMA,
    }
    return {
        name: spark.read.schema(schema).parquet(f"{base_dir}/{name}.parquet")
        for name, schema in schemas.items()
    }


# Reference db_to_dataframe.py:98-141 — per-collection projections and
# the generic→role column renames applied after each find().
_MONGO_COLLECTIONS = {
    "item_meta": {
        "db": "main",
        "default_collection": "item_meta",
        "filter_on_items": True,
        "projection": ["ITEM_CODE", "TCNAME", "SCNAME", "JPNAME", "ENNAME", "ORG_ID"],
        "rename": {
            "TCNAME": "TCNAME_ITEM",
            "SCNAME": "SCNAME_ITEM",
            "JPNAME": "JPNAME_ITEM",
            "ENNAME": "ENNAME_ITEM",
        },
        "schema": ITEM_META_SCHEMA,
    },
    "item_group_map": {
        "db": "aux",
        "default_collection": "item_group_map",
        "filter_on_items": True,
        "projection": None,  # reference fetches all fields ({"_id": 0})
        "rename": {},
        "schema": ITEM_GROUP_MAP_SCHEMA,
    },
    "diag_tbl": {
        "db": "main",
        "default_collection": "diag_tbl",
        "filter_on_items": False,
        "projection": ["DIAG_CODE", "SUMMARY_CODE", "SCNAME", "ENNAME", "JPNAME", "ORG_ID"],
        "rename": {
            "SCNAME": "SCNAME_COMMENT",
            "ENNAME": "ENNAME_COMMENT",
            "JPNAME": "JPNAME_COMMENT",
        },
        "schema": DIAG_TBL_SCHEMA,
    },
    "summary_tbl": {
        "db": "aux",
        "default_collection": "summary_tbl",
        "filter_on_items": False,
        "projection": ["SUMMARY_CODE", "TCNAME", "SCNAME", "JPNAME", "ENNAME", "ORG_ID"],
        "rename": {
            "TCNAME": "TCNAME_SUMMARY",
            "SCNAME": "SCNAME_SUMMARY",
            "JPNAME": "JPNAME_SUMMARY",
            "ENNAME": "ENNAME_SUMMARY",
        },
        "schema": SUMMARY_TBL_SCHEMA,
    },
}


def dims_from_mongo(
    spark,
    uri: str,
    item_codes: list[str],
    main_db: str = "main",
    aux_db: str = "aux",
    collections: dict[str, str] | None = None,
    client_factory=None,
) -> dict[str, DataFrame]:
    """MongoDB dimension source (reference db_to_dataframe.py:98-141).

    Point-lookup shape, Spark-first: dims are SMALL by contract (they
    broadcast into the enrich joins), so the right execution is a
    driver-side ``$in`` cursor fetch → ``createDataFrame`` with the
    explicit dim schema — not a distributed scan of the collection.
    item_meta / item_group_map filter ``{"ITEM_CODE": {"$in": [...]}}``
    exactly like the reference; diag/summary fetch whole collections
    (reference does too). A dimension large enough to make this fetch
    heavy should come in via the official MongoDB Spark connector or a
    parquet export (``dims_from_parquet``) instead.

    ``client_factory(uri) -> client`` is injectable for tests /
    alternative drivers; default requires ``pymongo`` (import-gated —
    the engine itself never depends on it, mirroring ``api.create_app``
    gating fastapi).

    Missing columns are backfilled '' and every key column is cast-
    trimmed downstream (enrich F2), so partial documents behave like
    the reference's ``ensure_columns`` guard.
    """
    if client_factory is None:
        try:
            import pymongo
        except ImportError as exc:  # pragma: no cover
            raise ImportError(
                "dims_from_mongo needs pymongo (or pass client_factory=); "
                "offline callers pass no dims or use dims_from_parquet"
            ) from exc
        client_factory = pymongo.MongoClient

    client = client_factory(uri)
    dbs = {"main": client[main_db], "aux": client[aux_db]}
    names = collections or {}
    items = [str(c).strip() for c in item_codes]

    out: dict[str, DataFrame] = {}
    for dim, spec in _MONGO_COLLECTIONS.items():
        query = {"ITEM_CODE": {"$in": items}} if spec["filter_on_items"] else {}
        projection = {"_id": 0}
        if spec["projection"]:
            projection.update({f: 1 for f in spec["projection"]})
        docs = list(dbs[spec["db"]][names.get(dim, spec["default_collection"])].find(query, projection))
        renamed = [
            {spec["rename"].get(k, k): v for k, v in doc.items()} for doc in docs
        ]
        schema = spec["schema"]
        rows = [
            tuple(
                None if doc.get(f.name) is None else str(doc[f.name])
                if f.dataType == T.StringType()
                else doc[f.name]
                for f in schema.fields
            )
            for doc in renamed
        ]
        out[dim] = spark.createDataFrame(rows, schema)
    return out


def resolve_dims(spark, flat: DataFrame) -> dict[str, DataFrame]:
    """Env-gated dim source selection, reference-style: with MONGO_URI
    set the dims come from MongoDB (``$in`` on the batch's distinct item
    codes); otherwise no tables (``{}``), for which ``enrich`` computes
    the deterministic fallback names and the pipeline stays fully
    offline (reference ``use_demo_fallback``)."""
    import os

    uri = os.environ.get("MONGO_URI")
    if not uri:
        return {}
    item_codes = [
        r["ITEM_CODE"]
        for r in flat.select(F.trim(F.col("ITEM_CODE").cast("string")).alias("ITEM_CODE"))
        .distinct()
        .collect()
    ]
    return dims_from_mongo(
        spark,
        uri,
        item_codes,
        main_db=os.environ.get("MONGO_MAIN_DB", "main"),
        aux_db=os.environ.get("MONGO_AUX_DB", "aux"),
    )
