"""Thin ES-compatible REST shim over the engine API.

Reference: the ES surface routes HTTP to DSL translation to the SQL
engine (server/network/http/es/handlers.cpp:123-196,635; router.cpp).
Here the same routes call the library directly — stdlib http.server, no
extra dependencies, suitable for demos and driver-side tools (NOT a
production server; the engine itself is the library API).

Routes:
  POST/GET /{index}/_search   — query DSL → es_search (hits + scores);
                                ?scroll=… starts a keyset cursor
  POST     /_search/scroll    — continue a scroll cursor
  GET      /{index}/_count    — match query → count
  POST     /_bulk             — bulk ingest into the index's SearchTable
  GET      /{index}/_doc/{id} — single-doc fetch
  POST     /{index}/_mget     — multi-doc fetch by ids
  GET      /{index}/_mapping  — indexed fields + analyzers
  GET      /_cat/indices      — per-index doc counts (JSON form)
  GET      /_cat/count        — total docs across indices
  GET      /{index}/_stats    — doc-count stats envelope
  POST     /{index}/_refresh  — rebuild the snapshot index
  GET      /{index}/_source/{id} — raw stored document (404 envelope)
  GET      /_cluster/health, /_cluster/settings, /_nodes/stats[/{m}]
  POST     [/{index}]/_forcemerge — acknowledge (consolidation is the
                                engine's own maintenance loop)
  GET      /                  — version banner

Scroll follows the reference's design: a keyset cursor, not a snapshot
buffer (handlers.cpp:625-644,881) — each page re-runs the match with
`key > last ORDER BY key LIMIT size`, so state per cursor is one key,
which is what survives at 100 TB (no server-side result caching). An
explicit `sort` field keysets on (field, _id) with the sort value
late-materialized from the docstore.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import functions as F

from serenedb_spark.sources.local import local_frame


class EsShim:
    """Holds the engine objects the handlers need; one shim = one 'node'."""

    def __init__(self, spark):
        self.spark = spark
        self.tables: dict[str, object] = {}   # index name -> SearchTable
        self._snapshots: dict[str, object] = {}  # index name -> InvertedIndex
        self._scroll_state: dict[str, dict] = {}  # scroll id -> cursor
        # the reference feeds ES DSL through the ONE engine path
        # (dsl.cpp → SQL text → PendingQuery); the shim mirrors that by
        # rendering the parsed query back to dialect SQL and running it
        # through SereneSession.sql
        from serenedb_spark.session import SereneSession

        self.session = SereneSession(spark)

    def create_index(self, name: str, source, fields: dict[str, str],
                     key: str = "doc_id") -> None:
        from serenedb_spark.operators.maintenance import SearchTable

        self.tables[name] = SearchTable(source, fields, key=key, name=name)
        self._drop_snapshot(name)

    def _index(self, name: str):
        """The index's snapshot: built on first use after a write and held
        on disk (InvertedIndex.persist) until the next write drops it."""
        if name not in self._snapshots:
            idx = self.tables[name].index().persist()
            self._snapshots[name] = idx
            self.session._indexes[name] = idx
        return self._snapshots[name]

    def _drop_snapshot(self, name: str) -> None:
        """Forget the snapshot after a write: with the session's entry
        gone too, nothing holds the old index, so its parts are released
        now rather than at the next _index()."""
        old = self._snapshots.pop(name, None)
        if old is not None and self.session._indexes.get(name) is old:
            del self.session._indexes[name]

    # ---- route implementations ------------------------------------------
    def search(self, index: str, body: dict) -> dict:
        from serenedb_spark.plans.es_dsl import es_search, to_search_sql

        idx = self._index(index)
        sql = to_search_sql(index, idx, body)
        if sql is not None:
            # one engine path: the translated dialect SQL runs through
            # the same session.sql planner as every other statement
            rows = self.session.sql(sql).collect()
        else:
            rows = es_search(idx, body).collect()
        return {
            "took": 0,
            "hits": {
                "total": {"value": len(rows), "relation": "eq"},
                "hits": [
                    {"_index": index, "_id": str(r.doc_id),
                     "_score": float(r.score)}
                    for r in rows
                ],
            },
        }

    def count(self, index: str, body: dict) -> dict:
        from serenedb_spark.plans.es_dsl import parse_query
        from serenedb_spark.plans.planner import compile_query

        idx = self._index(index)
        query = (body or {}).get("query", {"match_all": {}})
        if query == {"match_all": {}}:
            n = idx.docstore.count()
        else:
            field, node = parse_query(query, idx.analyzer(idx.default_field()))
            n = compile_query(idx, field or idx.default_field(), node).doc_ids.count()
        return {"count": n}

    def bulk(self, payload: str, default_index: str | None = None) -> dict:
        """POST /_bulk: the actions in payload order, each run of one
        index and one kind (index/create or delete) one SearchTable
        write. The rows are held on the driver, so grouping and counting
        them runs no Spark job, and each write is a local relation."""
        from itertools import groupby

        from serenedb_spark.sources.es_bulk import bulk_frame, parse_bulk

        rows = parse_bulk(payload, default_index)
        for (index, delete), run in groupby(
                rows, key=lambda r: (r[0], r[2] is None)):
            st = self.tables[index]
            if delete:
                st.delete(self._keys(st, [_id for _i, _id, _s in run]))
            else:
                # a later action on one _id replaces an earlier one
                last = {r[1]: r for r in run}
                st.insert(self._typed(st, bulk_frame(
                    self.spark, list(last.values()))))
            self._drop_snapshot(index)
        return {"errors": False, "items": len(rows)}

    def _typed(self, st, docs):
        """Bulk rows (index, _id, _source) → the table's columns: a
        mapping-created index shreds _source into its full typed schema
        (every non-key column), any other takes its `text` field. The
        `_id` takes the key's type (the `_key` rule): a string `_id`
        would widen a numeric key to string in the snapshot's union."""
        from serenedb_spark.sources.es_bulk import project_source

        if getattr(st, "es_types", None) is not None:
            typed = [(c, t) for c, t in st._empty.dtypes if c != st.key]
        else:
            typed = [("text", "string")]
        return project_source(
            docs, ", ".join(f"{c} {t}" for c, t in typed)).select(
                F.col("_id").cast(self._key_type(st)).alias(st.key),
                *[c for c, _t in typed])

    @staticmethod
    def _key_type(st) -> str:
        return dict(st._empty.dtypes)[st.key]

    @classmethod
    def _key(cls, st, _id):
        """An ES `_id` as a value of the table's key column."""
        return str(_id) if cls._key_type(st) == "string" else int(_id)

    def _keys(self, st, ids: list[str]):
        """ES `_id`s as a relation of the table's key column."""
        return local_frame(
            self.spark, f"{st.key} {self._key_type(st)}",
            [{st.key: self._key(st, i)} for i in ids])

    def _docs(self, index: str, ids: list) -> dict:
        """The snapshot's stored rows of ``ids`` by key value, as ES
        `_source`: one semi-join on the id set, whatever its size. The
        docstore names the key `doc_id`; `_source` gives it back its own
        name, and leaves `_id` out (ES metadata, never source)."""
        st = self.tables[index]
        keys = self._keys(st, ids).select(F.col(st.key).alias("doc_id"))
        found = {}
        for r in self._index(index).docstore.join(
                keys, "doc_id", "left_semi").collect():
            src = r.asDict()
            k = src.pop("doc_id")
            found[k] = src if st.key == "_id" else {st.key: k, **src}
        return found

    #: ES mapping type → (spark ddl type, analyzer | None)
    _ES_TYPES = {
        "text": ("string", "simple"),
        "keyword": ("string", "keyword"),
        "integer": ("int", None),
        "long": ("long", None),
        "short": ("smallint", None),
        "double": ("double", None),
        "float": ("float", None),
        "boolean": ("boolean", None),
        "date": ("date", None),
    }

    def create_index_from_mapping(self, name: str, body: dict) -> dict:
        """PUT /{index} with a mappings body (reference
        es/index_functions.test es_create_index): typed columns from the
        properties map — `text` properties are inverted-indexed, `keyword`
        gets the identity analyzer; properties normalize alphabetically
        like ES. Creates an EMPTY searchable table; _bulk fills it."""
        from serenedb_spark.operators.maintenance import SearchTable

        if name in self.tables:
            raise ValueError(f"index [{name}] already exists")
        props = (body or {}).get("mappings", {}).get("properties", {})
        cols, fields, es_types = ["_id string"], {}, {}
        for col in sorted(props):
            es_t = props[col].get("type", "text")
            if es_t not in self._ES_TYPES:
                raise ValueError(f"unsupported mapping type {es_t!r}")
            ddl, an = self._ES_TYPES[es_t]
            cols.append(f"{col} {ddl}")
            es_types[col] = es_t
            if an is not None:
                fields[col] = an
        empty = local_frame(self.spark, ", ".join(cols), [])
        st = SearchTable(empty, fields or {"_id": "keyword"}, key="_id",
                         name=name)
        st.es_types = es_types
        self.tables[name] = st
        self._drop_snapshot(name)
        return {"acknowledged": True, "index": name}

    def mapping(self, index: str) -> dict:
        st = self.tables[index]
        es_types = getattr(st, "es_types", None)
        if es_types is not None:  # mapping-created: ES-normalized types
            props = {c: {"type": t} for c, t in sorted(es_types.items())}
        else:
            props = {col: {"type": "text", "analyzer": an}
                     for col, an in st.fields.items()}
        return {index: {"mappings": {"properties": props}}}

    def put_doc(self, index: str, doc_id: str | None, body: dict) -> dict:
        """PUT/POST /{index}/_doc[/{id}] (reference es_doc write path):
        upsert one document; without an id a deterministic 20-char id is
        generated (ES generates 20-char base64 ids; ours derives from the
        content hash so tests are reproducible)."""
        import hashlib

        from serenedb_spark.sources.es_bulk import es_doc

        st = self.tables[index]
        if doc_id is None:
            doc_id = hashlib.md5(
                json.dumps(body, sort_keys=True).encode()
            ).hexdigest()[:20]
        existed = bool(
            st.current().where(F.col(st.key) == doc_id).limit(1).collect()
        ) if getattr(st, "es_types", None) is not None else False
        if getattr(st, "es_types", None) is not None:
            row = self._typed(st, es_doc(self.spark, index, body, doc_id))
        else:
            row = local_frame(
                self.spark, f"{st.key} {self._key_type(st)}, text string",
                [{st.key: self._key(st, doc_id),
                  "text": str(body.get("text", ""))}])
        st.update(row)
        self._drop_snapshot(index)
        return {"_index": index, "_id": doc_id,
                "result": "updated" if existed else "created"}

    def delete_doc(self, index: str, doc_id: str) -> dict:
        st = self.tables[index]
        st.delete(self._keys(st, [doc_id]))
        self._drop_snapshot(index)
        return {"_index": index, "_id": doc_id, "result": "deleted"}

    def get_doc(self, index: str, doc_id: str) -> dict:
        """GET /{index}/_doc/{id} (reference handlers.cpp:165)."""
        src = self._docs(index, [doc_id]).get(
            self._key(self.tables[index], doc_id))
        if src is None:
            return {"_index": index, "_id": doc_id, "found": False}
        return {"_index": index, "_id": doc_id, "found": True, "_source": src}

    def mget(self, index: str, body: dict) -> dict:
        """POST /{index}/_mget (reference handlers.cpp:1201): one semi-join
        on the id set — a single scan regardless of id count."""
        ids = body.get("ids") or [d["_id"] for d in body.get("docs", ())]
        st = self.tables[index]
        found = self._docs(index, ids)
        srcs = [found.get(self._key(st, i)) for i in ids]
        return {"docs": [
            {"_index": index, "_id": str(i), "found": src is not None,
             **({"_source": src} if src is not None else {})}
            for i, src in zip(ids, srcs)
        ]}

    def cat_indices(self) -> list[dict]:
        """GET /_cat/indices?format=json (reference handlers.cpp:1105)."""
        return [
            {"index": name, "status": "open", "health": "green",
             "docs.count": str(self._index(name).docstore.count())}
            for name in sorted(self.tables)
        ]

    def stats(self, index: str | None = None) -> dict:
        """GET /{index}/_stats (reference handlers.cpp:1187)."""
        names = [index] if index else sorted(self.tables)
        per = {}
        for name in names:
            idx = self._index(name)
            n = idx.docstore.count()
            terms = idx.term_stats.count()
            per[name] = {"primaries": {
                "docs": {"count": n, "deleted": 0},
                "search": {"terms": terms},
            }}
        total = sum(p["primaries"]["docs"]["count"] for p in per.values())
        return {"_all": {"primaries": {"docs": {"count": total}}},
                "indices": per}

    # ---- scroll (keyset cursor on _id) -----------------------------------

    @staticmethod
    def _parse_sort(body: dict) -> tuple[str | None, bool]:
        """ES sort spec → (field, ascending). `_doc` / absent = doc-id
        order (the fast keyset path); an explicit field sorts on it with
        the doc id as tiebreak (non-null sort fields — ES missing-value
        placement is not modeled)."""
        spec = body.get("sort")
        if not spec:
            return None, True
        first = spec[0] if isinstance(spec, list) else spec
        if isinstance(first, str):
            return (None, True) if first == "_doc" else (first, True)
        (field, opts), = first.items()
        order = opts.get("order", "asc") if isinstance(opts, dict) else opts
        return (None if field == "_doc" else field), order != "desc"

    def search_scroll(self, index: str, body: dict) -> dict:
        """Start a scroll: first page + cursor token. Supports `sort` on
        a stored field (keyset on (field, _id) — no offset-deepening, the
        reference's scroll contract)."""
        import uuid

        size = int(body.get("size", 10))
        sort_field, asc = self._parse_sort(body)
        sid = uuid.uuid4().hex
        state = {"index": index, "body": dict(body), "last_id": None,
                 "last_key": None, "sort": sort_field, "asc": asc,
                 "size": size}
        self._scroll_state[sid] = state
        return self._scroll_page(sid)

    def scroll(self, body: dict) -> dict:
        sid = body["scroll_id"]
        return self._scroll_page(sid)

    def _scroll_page(self, sid: str) -> dict:
        from serenedb_spark.plans.es_dsl import parse_query
        from serenedb_spark.plans.planner import compile_query

        st = self._scroll_state[sid]
        idx = self._index(st["index"])
        query = st["body"].get("query", {"match_all": {}})
        if query == {"match_all": {}}:
            ids = idx.docstore.select("doc_id")
        else:
            field, node = parse_query(query, idx.analyzer(idx.default_field()))
            ids = compile_query(
                idx, field or idx.default_field(), node
            ).doc_ids
        sort_field, asc = st["sort"], st["asc"]
        if sort_field is None:
            if st["last_id"] is not None:
                ids = ids.where(F.col("doc_id") > st["last_id"])
            rows = ids.orderBy("doc_id").limit(st["size"]).collect()
            if rows:
                st["last_id"] = rows[-1].doc_id
            return {
                "_scroll_id": sid,
                "hits": {"hits": [
                    {"_index": st["index"], "_id": str(r.doc_id)}
                    for r in rows
                ]},
            }
        # sorted scroll: late-materialize the sort key from the docstore,
        # keyset-resume on (sort_value, doc_id)
        keyed = ids.join(
            idx.docstore.select("doc_id", F.col(sort_field).alias("__k")),
            "doc_id")
        k, d = F.col("__k"), F.col("doc_id")
        if st["last_id"] is not None:
            lk, li = F.lit(st["last_key"]), F.lit(st["last_id"])
            keyed = keyed.where(
                ((k > lk) if asc else (k < lk)) | ((k == lk) & (d > li)))
        order = [k.asc() if asc else k.desc(), d.asc()]
        rows = keyed.orderBy(*order).limit(st["size"]).collect()
        if rows:
            st["last_key"], st["last_id"] = rows[-1]["__k"], rows[-1].doc_id
        return {
            "_scroll_id": sid,
            "hits": {"hits": [
                {"_index": st["index"], "_id": str(r.doc_id),
                 "sort": [r["__k"]]} for r in rows
            ]},
        }

    def refresh(self, index: str) -> dict:
        self._drop_snapshot(index)
        self._index(index)
        return {"_shards": {"total": 1, "successful": 1, "failed": 0}}

    def get_source(self, index: str, doc_id: str) -> tuple[dict, int]:
        """GET /{index}/_source/{id} (handlers.cpp GetSourceHandler): the
        raw stored document; missing doc is the ERROR envelope here,
        unlike _doc's found:false."""
        doc = self.get_doc(index, doc_id)
        if not doc.get("found"):
            return ({"error": {
                "type": "resource_not_found_exception",
                "reason": f"Document not found [{index}]/[{doc_id}]",
            }, "status": 404}, 404)
        return doc["_source"], 200

    def cluster_health(self) -> dict:
        """GET /_cluster/health (handlers.cpp HealthHandler shape)."""
        return {
            "cluster_name": "serenedb", "status": "green",
            "timed_out": False, "number_of_nodes": 1,
            "number_of_data_nodes": 1, "active_primary_shards": 0,
            "active_shards": 0, "relocating_shards": 0,
            "initializing_shards": 0, "unassigned_shards": 0,
            "delayed_unassigned_shards": 0, "number_of_pending_tasks": 0,
            "number_of_in_flight_fetch": 0,
            "task_max_waiting_in_queue_millis": 0,
            "active_shards_percent_as_number": 100.0,
        }

    def cluster_settings(self) -> dict:
        """GET|PUT /_cluster/settings (nothing configurable;
        acknowledge)."""
        return {"acknowledged": True, "persistent": {}, "transient": {}}

    def nodes_stats(self) -> dict:
        """GET /_nodes/stats[/{metric}] — enough node introspection for
        benchmark telemetry (empty collectors/pools iterate to
        nothing)."""
        return {
            "_nodes": {"total": 1, "successful": 1, "failed": 0},
            "cluster_name": "serenedb",
            "nodes": {"sdb0": {
                "name": "serenedb-0",
                "jvm": {"gc": {"collectors": {}}, "mem": {"pools": {}}},
                "ingest": {"total": {"count": 0, "time_in_millis": 0,
                                     "current": 0, "failed": 0},
                           "pipelines": {}},
            }},
        }

    def forcemerge(self) -> dict:
        """POST [/{index}]/_forcemerge — consolidation is the engine's
        own concern; acknowledge (ForceMergeHandler)."""
        return {"_shards": {"total": 1, "successful": 1, "failed": 0}}

    def cat_count(self) -> list[dict]:
        """GET /_cat/count?format=json — total docs across indices
        (CatCountHandler: values are strings, matching ES)."""
        total = sum(self._index(n).docstore.count()
                    for n in sorted(self.tables))
        return [{"count": str(total)}]

    def root(self) -> dict:
        """GET / — version banner (RootHandler)."""
        return {
            "name": "serenedb-0", "cluster_name": "serenedb",
            "version": {"number": "8.11.0", "build_flavor": "default"},
            "tagline": "You Know, for Search",
        }

    def analyze(self, index: str | None, body: dict) -> dict:
        """POST /{index}/_analyze and /_analyze (ES analyze API): run a
        named analyzer on the given text driver-side (the pure-Python
        representation — the same tokens the index-side expression emits,
        by the 3-way consistency invariant). Without an explicit
        `analyzer`, an index-scoped call uses the index's analyzer for
        `field` (default field order), a global call uses `simple`."""
        from serenedb_spark.analysis.analyzers import get_analyzer

        name = body.get("analyzer")
        if name is None and index is not None:
            fields = self.tables[index].fields
            field = body.get("field") or next(iter(fields))
            name = fields.get(field, "simple")
        an = get_analyzer(name or "simple")
        texts = body.get("text", "")
        texts = texts if isinstance(texts, list) else [texts]
        tokens, pos = [], 0
        for t in texts:
            for tok in an.tokens(t):
                tokens.append({
                    "token": tok, "position": pos, "type": "word",
                })
                pos += 1
            pos += 100  # ES position_increment_gap between array items
        return {"tokens": tokens}


def serve(shim: EsShim, port: int = 0):
    """Start the HTTP server on a daemon thread; returns (server, port)."""

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, obj, code=200):
            data = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _body(self) -> str:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n).decode() if n else ""

        def _route(self):
            path, _, qs = self.path.partition("?")
            params = dict(
                p.split("=", 1) if "=" in p else (p, "")
                for p in qs.split("&") if p
            )
            parts = [p for p in path.split("/") if p]
            body = self._body()
            try:
                if parts == []:
                    return self._reply(shim.root())
                if parts == ["_bulk"]:
                    return self._reply(shim.bulk(body))
                if parts == ["_search", "scroll"]:
                    return self._reply(shim.scroll(json.loads(body)))
                if parts == ["_cat", "indices"]:
                    return self._reply(shim.cat_indices())
                if parts == ["_cat", "count"]:
                    return self._reply(shim.cat_count())
                if parts == ["_cluster", "health"]:
                    return self._reply(shim.cluster_health())
                if parts == ["_cluster", "settings"]:
                    return self._reply(shim.cluster_settings())
                if parts[:2] == ["_nodes", "stats"]:
                    return self._reply(shim.nodes_stats())
                if parts == ["_forcemerge"] or (
                        len(parts) == 2 and parts[1] == "_forcemerge"):
                    return self._reply(shim.forcemerge())
                if len(parts) == 3 and parts[1] == "_source":
                    obj, code = shim.get_source(parts[0], parts[2])
                    return self._reply(obj, code)
                if parts == ["_analyze"]:
                    return self._reply(
                        shim.analyze(None, json.loads(body) if body else {})
                    )
                if len(parts) == 3 and parts[1] == "_doc":
                    if self.command in ("PUT", "POST"):
                        return self._reply(shim.put_doc(
                            parts[0], parts[2],
                            json.loads(body) if body else {}))
                    if self.command == "DELETE":
                        return self._reply(shim.delete_doc(parts[0],
                                                           parts[2]))
                    return self._reply(shim.get_doc(parts[0], parts[2]))
                if len(parts) == 2 and parts[1] == "_doc" \
                        and self.command == "POST":
                    return self._reply(shim.put_doc(
                        parts[0], None, json.loads(body) if body else {}))
                if len(parts) == 1 and self.command == "PUT":
                    # ES create-index API: PUT /{index} {mappings: ...}
                    return self._reply(shim.create_index_from_mapping(
                        parts[0], json.loads(body) if body else {}
                    ))
                if len(parts) == 2:
                    index, verb = parts
                    payload = json.loads(body) if body else {}
                    if verb == "_search" and "scroll" in params:
                        return self._reply(shim.search_scroll(index, payload))
                    if verb == "_search":
                        return self._reply(shim.search(index, payload))
                    if verb == "_count":
                        return self._reply(shim.count(index, payload))
                    if verb == "_mget":
                        return self._reply(shim.mget(index, payload))
                    if verb == "_stats":
                        return self._reply(shim.stats(index))
                    if verb == "_mapping":
                        return self._reply(shim.mapping(index))
                    if verb == "_refresh":
                        return self._reply(shim.refresh(index))
                    if verb == "_analyze":
                        return self._reply(shim.analyze(index, payload))
                return self._reply({"error": "no handler", "path": self.path}, 404)
            except Exception as e:  # noqa: BLE001 — ES returns errors as JSON
                return self._reply({"error": str(e)}, 400)

        do_GET = do_POST = do_PUT = do_DELETE = _route

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
