"""Result pins for indexed search across writes, refreshes and rollbacks.

`@@`, `websearch_to_tsquery`, BM25 top-k through the SQL door and ES
`match` through the ES shim, each run before and after a change of state
so the index's parts have already been read once. Every answer must be
the one the index's own snapshot defines: the rows at its last build
(CREATE INDEX or VACUUM (REFRESH_TABLE)) for the SQL door, the rows after
the last write for the ES shim. Scores are checked against the DuckDB
oracle over exactly those rows.
"""

from __future__ import annotations

import duckdb
import pytest

from serenedb_spark.plans import oracle as O
from serenedb_spark.plans import tsquery as q
from serenedb_spark.session import SereneSession

DOCS = {
    1: "alpha beta gamma",
    2: "alpha alpha delta",
    3: "gamma delta epsilon",
    4: "beta gamma delta alpha",
    5: "epsilon zeta",
    6: "alpha gamma delta zeta",
    7: "zeta eta theta",
    8: "gamma delta",
}

Q_TERM = "SELECT doc_id FROM pins WHERE text @@ 'alpha' ORDER BY doc_id"
Q_WEB = ("SELECT doc_id FROM pins WHERE text @@ websearch_to_tsquery("
         "'alpha -beta OR \"gamma delta\"') ORDER BY doc_id")
_BM25 = "round(BM25(pins_idx.tableoid)::numeric, 4)"
Q_TOPK = (f"SELECT doc_id, {_BM25} AS score FROM pins "
          "WHERE text @@ ts_any(ARRAY['alpha','zeta']) "
          f"ORDER BY {_BM25} DESC, doc_id LIMIT 3")
TOPK_NODE = q.AnyOf(["alpha", "zeta"])


def _oracle_topk(rows: dict, node: q.TSQuery, k: int, key_type: str):
    """(doc_id, score) of the oracle's top k over `rows`."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE d (doc_id {key_type}, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", sorted(rows.items()))
    out = con.execute(O.scored_sql("d", "text", "simple", node, k=k))
    return [(r[0], float(r[1])) for r in out.fetchall()]


def _oracle_ids(rows: dict, node: q.TSQuery) -> list[int]:
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", sorted(rows.items()))
    sql = O.match_sql("d", "text", "simple", node, order="doc_id")
    return [r[0] for r in con.execute(sql).fetchall()]


def _same_topk(got, want) -> None:
    """Top-k agreement that allows any order among equal scores: the
    rank-wise scores match, and each returned doc carries its own
    oracle score."""
    assert len(got) == len(want)
    assert [s for _, s in got] == pytest.approx([s for _, s in want],
                                                abs=1e-4)
    every = dict(want)
    for d, s in got:
        assert d in every and every[d] == pytest.approx(s, abs=1e-4)


@pytest.fixture()
def ss(spark):
    s = SereneSession(spark)
    s.sql("CREATE TABLE pins (doc_id INTEGER PRIMARY KEY, text TEXT)")
    s.sql("INSERT INTO pins VALUES " + ", ".join(
        f"({i}, '{t}')" for i, t in DOCS.items()))
    s.sql("CREATE INDEX pins_idx ON pins USING inverted(text simple)")
    return s


def _answers(ss):
    return ([r.doc_id for r in ss.sql(Q_TERM).collect()],
            [r.doc_id for r in ss.sql(Q_WEB).collect()],
            [(r.doc_id, float(r.score)) for r in ss.sql(Q_TOPK).collect()])


def _check(ss, rows: dict, term: list[int], web: list[int]) -> None:
    got_term, got_web, got_topk = _answers(ss)
    assert got_term == term
    assert got_web == web
    # the oracle agrees with the literal pins over the snapshot rows
    assert _oracle_ids(rows, q.Term("alpha")) == term
    _same_topk(got_topk, _oracle_topk(rows, TOPK_NODE, 3, "INTEGER"))


BUILT = dict(DOCS)
BUILT_TERM = [1, 2, 4, 6]
BUILT_WEB = [2, 3, 4, 6, 8]


def test_dml_without_refresh_keeps_the_built_snapshot(ss):
    _check(ss, BUILT, BUILT_TERM, BUILT_WEB)
    ss.sql("INSERT INTO pins VALUES (9, 'alpha zeta zeta'), "
           "(10, 'gamma delta alpha')")
    ss.sql("UPDATE pins SET text = 'eta theta' WHERE doc_id = 2")
    ss.sql("DELETE FROM pins WHERE doc_id = 7")
    _check(ss, BUILT, BUILT_TERM, BUILT_WEB)


def test_refresh_sees_the_writes(ss):
    _check(ss, BUILT, BUILT_TERM, BUILT_WEB)
    ss.sql("INSERT INTO pins VALUES (9, 'alpha zeta zeta'), "
           "(10, 'gamma delta alpha')")
    ss.sql("UPDATE pins SET text = 'eta theta' WHERE doc_id = 2")
    ss.sql("DELETE FROM pins WHERE doc_id = 7")
    ss.sql("VACUUM (REFRESH_TABLE) pins")
    now = {**{i: t for i, t in DOCS.items() if i != 7},
           2: "eta theta", 9: "alpha zeta zeta", 10: "gamma delta alpha"}
    _check(ss, now, [1, 4, 6, 9, 10], [3, 4, 6, 8, 9, 10])
    # a second refresh with nothing written answers the same
    ss.sql("VACUUM (REFRESH_TABLE) pins")
    _check(ss, now, [1, 4, 6, 9, 10], [3, 4, 6, 8, 9, 10])


def test_rollback_restores_the_snapshot(ss):
    _check(ss, BUILT, BUILT_TERM, BUILT_WEB)
    ss.sql("BEGIN")
    ss.sql("INSERT INTO pins VALUES (9, 'alpha zeta zeta')")
    ss.sql("DELETE FROM pins WHERE doc_id = 1")
    ss.sql("VACUUM (REFRESH_TABLE) pins")
    inside = {**{i: t for i, t in DOCS.items() if i != 1},
              9: "alpha zeta zeta"}
    _check(ss, inside, [2, 4, 6, 9], [2, 3, 4, 6, 8, 9])
    ss.sql("ROLLBACK")
    _check(ss, BUILT, BUILT_TERM, BUILT_WEB)


# ---- ES shim -----------------------------------------------------------

def _bulk_body(rows: dict) -> str:
    import json

    return "".join(
        json.dumps({"index": {"_index": "pins", "_id": str(i)}}) + "\n"
        + json.dumps({"text": t}) + "\n" for i, t in rows.items())


def test_es_match_follows_every_write(spark):
    from serenedb_spark.server.es_http import EsShim

    shim = EsShim(spark)
    shim.create_index_from_mapping(
        "pins", {"mappings": {"properties": {"text": {"type": "text"}}}})
    body = {"query": {"match": {"text": "alpha zeta"}}, "size": 3}

    def check(rows):
        hits = shim.search("pins", body)["hits"]["hits"]
        got = [(h["_id"], h["_score"]) for h in hits]
        want = _oracle_topk({str(i): t for i, t in rows.items()},
                            TOPK_NODE, 3, "VARCHAR")
        _same_topk(got, want)

    rows = dict(DOCS)
    shim.bulk(_bulk_body(rows))
    check(rows)
    # insert, update and delete; each write drops the snapshot
    more = {9: "alpha zeta zeta", 10: "zeta", 11: "alpha"}
    shim.bulk(_bulk_body(more))
    shim.put_doc("pins", "6", {"text": "eta theta"})
    shim.delete_doc("pins", "9")
    rows.update(more)
    rows[6] = "eta theta"
    del rows[9]
    check(rows)
    shim.refresh("pins")
    check(rows)
