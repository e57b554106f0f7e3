"""The workloads: op classes, their seeded inputs and their output checks.

Every op goes through a user-facing door of the engine: SQL text into
`SereneSession.sql`, or an ES REST request over localhost HTTP to
`server.es_http.serve`. Every op's output is checked: search results
against DuckDB running `plans/oracle.py` SQL over the same parquet,
ingest counts against the op model the seed generates.

A workload sets itself up once (`setup`), gives the ops of each round
(`round`; round 0 is the warm-up), runs read-back checks over the whole
run's writes (`final_checks`) and stops what it started (`close`).
`ROUND_S` is the nominal time of one round, which turns the run's
`--seconds` into a fixed number of rounds.
"""

from __future__ import annotations

import http.client
import json
import statistics
from dataclasses import dataclass
from typing import Any, Callable

import duckdb

from serenedb_spark.plans import oracle as O
from serenedb_spark.plans import tsquery as q

from corpus import N_DOCS, Terms

#: score agreement between the engine (rounded to 4 places) and DuckDB
SCORE_TOL = 1e-3


@dataclass
class Op:
    """One timed request. `run` performs it and returns its output;
    `check` returns None when the output is right, else why it is not."""

    cls: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]


class HttpError(RuntimeError):
    pass


class EsClient:
    """One closed-loop client of the ES REST shim. The shim's server
    speaks HTTP/1.0, so each request opens its own localhost socket."""

    def __init__(self, shim, tracer):
        from serenedb_spark.server.es_http import serve

        self.server, self.port = serve(shim)
        self.tracer = tracer

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def post(self, path: str, body: Any, method: str = "POST") -> Any:
        """Send `body` (JSON, or an NDJSON string) and return the reply."""
        data = body if isinstance(body, str) else json.dumps(body)
        with self.tracer.span("server.http"):
            conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                              timeout=170)
            try:
                conn.request(method, path, body=data,
                             headers={"Content-Type": "application/json"})
                resp = conn.getresponse()
                payload = resp.read()
            finally:
                conn.close()
        if resp.status >= 400:
            raise HttpError(f"HTTP {resp.status}: {payload[:200]!r}")
        return json.loads(payload)


class Oracle:
    """DuckDB over the parquet the engine loaded."""

    def __init__(self, documents_path: str):
        self.con = duckdb.connect()
        self.con.execute("CREATE VIEW documents AS SELECT * FROM "
                         f"read_parquet('{documents_path}')")

    def match(self, node: q.TSQuery) -> list[int]:
        sql = O.match_sql("documents", "text", "simple", node,
                          order="doc_id")
        return [r[0] for r in self.con.execute(sql).fetchall()]

    def scored(self, node: q.TSQuery) -> list[tuple[int, float]]:
        sql = O.scored_sql("documents", "text", "simple", node, k=None)
        return [(r[0], r[1]) for r in self.con.execute(sql).fetchall()]


def check_ids(want: list[int], got: list[int]) -> str | None:
    if got != want:
        return f"ids differ: {len(got)} rows vs {len(want)} expected"
    return None


def check_topk(want: list[tuple[int, float]], got: list[tuple[int, float]],
               k: int) -> str | None:
    """Top-k agreement that tolerates reordering among equal scores: the
    scores match the oracle's top k, and each doc carries its own score."""
    by_id = dict(want)
    if len(got) != min(k, len(want)):
        return f"{len(got)} hits vs {min(k, len(want))} expected"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    for (d, s), (_, ws) in zip(got, want[:k]):
        if d not in by_id or abs(by_id[d] - s) > SCORE_TOL:
            return f"doc {d} score {s} vs {by_id.get(d)}"
        if abs(s - ws) > SCORE_TOL:
            return f"rank score {s} vs {ws}"
    return None


class Search:
    """Read-only search over `documents`, alternating the SQL door and
    the ES door. Each class has a fixed band pattern (which terms come
    from the common and which from the rare band); the seed picks words
    within a band."""

    name = "search"
    #: one round = one op per class, in this order (doors alternate)
    CLASSES = ("sql_term", "es_match", "sql_websearch", "es_multi_match",
               "sql_bm25_topk")
    ROUND_S = 10.0

    def __init__(self, seed: int, tracer):
        self.terms = Terms(seed)
        self.tracer = tracer

    def setup(self, spark, data_dir: str, documents_path: str) -> None:
        """Session, table, SQL-door index, ES index and its HTTP server,
        and the DuckDB oracle over the same parquet."""
        from serenedb_spark.server.es_http import EsShim
        from serenedb_spark.session import SereneSession

        self.oracle = Oracle(documents_path)
        self.ss = SereneSession(spark)
        self.ss.load_dir(data_dir, tables=("documents",))
        self.ss.sql("CREATE INDEX doc_idx ON documents "
                    "USING inverted(text simple)").collect()
        shim = EsShim(spark)
        shim.create_index("docs", self.ss.sql(
            "SELECT doc_id, text FROM documents"), {"text": "simple"},
            key="doc_id")
        self.es = EsClient(shim, self.tracer)

    def close(self) -> None:
        self.es.close()

    def final_checks(self) -> list[tuple[str, str | None]]:
        return []

    def detail(self, lat: dict[str, list[float]]) -> dict[str, float]:
        return {}

    # ---- op construction ------------------------------------------------
    def _sql(self, text: str):
        return self.tracer.collect(self.ss.sql, text)

    def _sql_match(self, cls: str, where: str, node: q.TSQuery) -> Op:
        text = (f"SELECT doc_id FROM documents WHERE text @@ {where} "
                "ORDER BY doc_id")
        return Op(cls, lambda: [r.doc_id for r in self._sql(text)],
                  lambda got: check_ids(self.oracle.match(node), got))

    def _es(self, cls: str, query: dict, node: q.TSQuery,
            k: int = 10) -> Op:
        body = {"query": query, "size": k}

        def run():
            out = self.es.post("/docs/_search", body)
            return [(int(h["_id"]), h["_score"]) for h in out["hits"]["hits"]]

        return Op(cls, run,
                  lambda got: check_topk(self.oracle.scored(node), got, k))

    def round(self, r: int) -> list[Op]:
        """The ops of round `r`, one per class."""
        t = self.terms
        ops: dict[str, Op] = {}

        (a,) = t.common()
        ops["sql_term"] = self._sql_match(
            "sql_term", f"'{a}'", q.Term(a))

        a, b = t.rare() + t.common()
        ops["es_match"] = self._es(
            "es_match", {"match": {"text": f"{a} {b}"}}, q.AnyOf([a, b]))

        a, b = t.common(2)
        ops["es_multi_match"] = self._es("es_multi_match", {"multi_match": {
            "query": f"{a} {b}", "fields": ["text"]}}, q.AnyOf([a, b]))

        (a,), (b, c, d, e) = t.rare(), t.common(4)
        ops["sql_websearch"] = self._sql_match(
            "sql_websearch", f"websearch_to_tsquery('{a} -{b} \"{c} {d}\" "
            f"OR {e}')",
            (q.Term(a) & ~q.Term(b) & q.Phrase([c, d])) | q.Term(e))

        a, b = t.common(2)
        score = "round(BM25(doc_idx.tableoid)::numeric, 4)"
        text = (f"SELECT doc_id, {score} AS score FROM documents "
                f"WHERE text @@ ts_any(ARRAY['{a}','{b}']) "
                f"ORDER BY {score} DESC, doc_id LIMIT 20")
        node = q.AnyOf([a, b])
        ops["sql_bm25_topk"] = Op(
            "sql_bm25_topk",
            lambda: [(r.doc_id, float(r.score)) for r in self._sql(text)],
            lambda got: check_topk(self.oracle.scored(node), got, 20))

        return [ops[c] for c in self.CLASSES]


class Ingest:
    """Writes beside reads. Through the SQL door: DML on an indexed table,
    a refresh, then an `@@` read that must see this cycle's writes.
    Through the ES door: a `_bulk` into an index made by `PUT /{index}`
    with a mapping. The op model below is what the reads must return."""

    name = "ingest"
    CLASSES = ("insert", "update", "delete", "refresh", "sql_verify",
               "es_bulk")
    ROUND_S = 5.0
    TABLE = "docs_rw"
    ES_INDEX = "docs_bulk"
    ROWS_PER_INSERT = 5
    DOCS_PER_BULK = 5

    def __init__(self, seed: int, tracer):
        self.terms = Terms(seed)
        self.seed = seed
        self.tracer = tracer

    def setup(self, spark, data_dir: str, documents_path: str) -> None:
        """Session, table, its CTAS copy and index, and an empty ES index
        made from a mapping over HTTP. Counts are checked against the op
        model, so there is no oracle."""
        from serenedb_spark.server.es_http import EsShim
        from serenedb_spark.session import SereneSession

        self.rows = N_DOCS  # model: live rows in TABLE
        self.bulked = 0  # model: docs in ES_INDEX
        self.ss = SereneSession(spark)
        self.ss.load_dir(data_dir, tables=("documents",))
        self.ss.sql(f"CREATE TABLE {self.TABLE} AS SELECT doc_id, text, "
                    "lang FROM documents").collect()
        self.ss.sql(f"CREATE INDEX {self.TABLE}_idx ON {self.TABLE} "
                    "USING inverted(text simple)").collect()
        self.es = EsClient(EsShim(spark), self.tracer)
        self.es.post(f"/{self.ES_INDEX}", {"mappings": {"properties": {
            "text": {"type": "text"}}}}, method="PUT")

    def close(self) -> None:
        self.es.close()

    def final_checks(self) -> list[tuple[str, str | None]]:
        """Every doc bulked in this run must be in the ES index. One
        `_count` at the end: its cost grows with each bulk, so a read-back
        per cycle would take most of the run."""
        try:
            n = self.es.post(f"/{self.ES_INDEX}/_count",
                             {"query": {"match_all": {}}})["count"]
        except Exception as e:
            return [("es_count", f"{type(e).__name__}: {str(e)[:200]}")]
        return [("es_count", None if n == self.bulked else
                 f"{n} docs vs {self.bulked} bulked")]

    def _sql(self, text: str):
        return self.tracer.collect(self.ss.sql, text)

    def detail(self, lat: dict[str, list[float]]) -> dict[str, float]:
        writes = lat["insert"] + lat["update"] + lat["delete"] + \
            lat["es_bulk"]
        seen = [a + b for a, b in zip(lat["refresh"], lat["sql_verify"])]
        return {"write_p50_ms": statistics.median(writes) * 1e3,
                "visible_p50_ms": statistics.median(seen) * 1e3}

    def round(self, c: int) -> list[Op]:
        """The ops of cycle `c`. Each cycle inserts fresh doc ids carrying
        its own marker word, so the read counts only this cycle's rows:
        the inserted ones, less the deleted one and the updated one,
        whose new text drops the marker."""
        t = self.terms
        mark = f"m{self.seed % 1000}c{c}"
        base = 10 * N_DOCS + 100 * c
        ids = list(range(base, base + self.ROWS_PER_INSERT))
        values = ", ".join(
            f"({i}, '{mark} {' '.join(t.common(3))}', 'en')" for i in ids)
        upd, gone = ids[t.randint(0, 1)], ids[t.randint(2, len(ids) - 1)]
        want_marked = len(ids) - 2  # the update drops the marker
        self.rows += len(ids) - 1
        want_rows = self.rows
        bulk = "".join(
            json.dumps({"index": {"_index": self.ES_INDEX, "_id": str(i)}})
            + "\n" + json.dumps({"text": f"{mark} {' '.join(t.common(3))}"})
            + "\n" for i in range(base, base + self.DOCS_PER_BULK))
        self.bulked += self.DOCS_PER_BULK

        def dml(text):
            return lambda: self._sql(text)

        def ok(_):
            return None

        def verify_check(marked):
            # the row total is read outside the timed op
            rows = self._sql(
                f"SELECT count(*) AS n FROM {self.TABLE}")[0].n
            if (marked, rows) != (want_marked, want_rows):
                return (f"(marked, rows) {(marked, rows)} vs "
                        f"{(want_marked, want_rows)}")
            return None

        return [
            Op("insert", dml(f"INSERT INTO {self.TABLE} VALUES {values}"),
               ok),
            Op("update", dml(
                f"UPDATE {self.TABLE} SET text = '{t.common()[0]} "
                f"updated', lang = 'de' WHERE doc_id = {upd}"),
               ok),
            Op("delete", dml(
                f"DELETE FROM {self.TABLE} WHERE doc_id = {gone}"),
               ok),
            Op("refresh", dml(f"VACUUM (REFRESH_TABLE) {self.TABLE}"), ok),
            Op("sql_verify", lambda: self._sql(
                f"SELECT count(*) AS n FROM {self.TABLE} "
                f"WHERE text @@ '{mark}'")[0].n,
               verify_check),
            Op("es_bulk", lambda: self.es.post("/_bulk", bulk),
               lambda got: None if got == {
                   "errors": False, "items": self.DOCS_PER_BULK}
               else f"bulk reply {got}"),
        ]


WORKLOADS = {w.name: w for w in (Search, Ingest)}
