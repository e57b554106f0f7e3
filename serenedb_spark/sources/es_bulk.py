"""ES bulk/doc ingestion — `es_bulk()` / `es_doc()` as DataFrame sources.

Reference: the ES-compatible `POST /_bulk` route parses action+source
line pairs and rewrites to ``INSERT INTO es.<index> SELECT * FROM
es_bulk(...)`` with auto-created ``(_id, _source)`` tables
(server/connector/functions/es.cpp:64-66,
server/network/http/es/handlers.cpp:123-196).

Spark-first: the bulk payload becomes a DataFrame of (index, _id,
_source), a local relation built on the driver, so no Spark job runs
until the index is read; `_source` stays a JSON string (the reference
stores _source verbatim too) and typed columns are projected on demand
with ``from_json`` / ``get_json_object``. The `_bulk` route applies the
actions in payload order: each run of one index and one kind is one
SearchTable.insert or SearchTable.delete (one tick each)."""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serenedb_spark.sources.local import local_frame

BULK_SCHEMA = "index string, _id string, _source string"


def parse_bulk(payload: str, default_index: str | None = None) -> list[tuple]:
    """Parse an ES bulk body (action line + optional source line pairs) to
    (index, _id, _source) tuples. Supported actions: index, create,
    delete (delete yields _source=None)."""
    rows = []
    lines = [ln for ln in payload.splitlines() if ln.strip()]
    i = 0
    while i < len(lines):
        action = json.loads(lines[i])
        (kind, meta), = action.items()
        idx = meta.get("_index", default_index)
        _id = meta.get("_id") or uuid.uuid5(
            uuid.NAMESPACE_URL, f"{idx}:{i}"
        ).hex
        if kind in ("index", "create"):
            i += 1
            rows.append((idx, str(_id), lines[i]))
        elif kind == "delete":
            rows.append((idx, str(_id), None))
        else:
            raise ValueError(f"unsupported bulk action {kind!r}")
        i += 1
    return rows


def bulk_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """(index, _id, _source) rows held on the driver → a local relation
    of BULK_SCHEMA (reading it runs no Spark job)."""
    return local_frame(spark, BULK_SCHEMA, [
        {"index": i, "_id": _id, "_source": src} for i, _id, src in rows])


def es_bulk(spark: SparkSession, payload: str,
            default_index: str | None = None) -> DataFrame:
    """The es_bulk() table function: bulk body → DataFrame."""
    return bulk_frame(spark, parse_bulk(payload, default_index))


def es_doc(spark: SparkSession, index: str, doc: dict,
           _id: str | None = None) -> DataFrame:
    """The _doc route: one document → one-row DataFrame."""
    _id = _id or uuid.uuid5(uuid.NAMESPACE_URL, json.dumps(doc, sort_keys=True)).hex
    return bulk_frame(spark, [(index, str(_id), json.dumps(doc))])


def project_source(df: DataFrame, schema: str) -> DataFrame:
    """Materialize typed columns from _source (the auto-created es.<index>
    table shape: _id + shredded fields)."""
    return df.select(
        "index", "_id", F.from_json(F.col("_source"), schema).alias("j")
    ).select("index", "_id", "j.*")
