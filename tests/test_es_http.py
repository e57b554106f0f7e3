"""ES REST shim: the handlers.cpp route surface driven over real HTTP —
search, count, bulk ingest (visible after refresh), mapping."""

from __future__ import annotations

import json
import urllib.request

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def es(spark):
    from serenedb_spark.server.es_http import EsShim, serve

    shim = EsShim(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    shim.create_index("docs", docs, {"text": "simple"}, key="doc_id")
    srv, port = serve(shim)
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _post(url, obj=None, raw=None):
    data = (raw if raw is not None else json.dumps(obj or {})).encode()
    req = urllib.request.Request(url, data=data,
                                 headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def test_search_route(es):
    out = _post(f"{es}/docs/_search", {
        "query": {"match": {"text": "spark"}}, "size": 5,
    })
    hits = out["hits"]["hits"]
    assert len(hits) == 5
    assert all(h["_score"] > 0 for h in hits)
    assert hits == sorted(hits, key=lambda h: -h["_score"])


def test_count_route(es):
    n = _post(f"{es}/docs/_count", {"query": {"term": {"text": "spark"}}})["count"]
    assert n > 0
    total = _post(f"{es}/docs/_count", {})["count"]
    assert total >= n


def test_mapping_route(es):
    with urllib.request.urlopen(f"{es}/docs/_mapping", timeout=60) as r:
        m = json.loads(r.read())
    assert m["docs"]["mappings"]["properties"]["text"]["analyzer"] == "simple"


def test_doc_and_mget_routes(es):
    with urllib.request.urlopen(f"{es}/docs/_doc/1", timeout=60) as r:
        d = json.loads(r.read())
    assert d["found"] is True and d["_source"]["doc_id"] == 1
    out = _post(f"{es}/docs/_mget", {"ids": [1, 2, 99999999]})
    assert [x["found"] for x in out["docs"]] == [True, True, False]
    assert out["docs"][0]["_source"]["doc_id"] == 1


def test_scroll_route(es):
    page1 = _post(f"{es}/docs/_search?scroll=1m", {
        "query": {"term": {"text": "spark"}}, "size": 7,
    })
    sid = page1["_scroll_id"]
    ids1 = [int(h["_id"]) for h in page1["hits"]["hits"]]
    assert len(ids1) == 7 and ids1 == sorted(ids1)
    seen = list(ids1)
    while True:
        page = _post(f"{es}/_search/scroll", {"scroll_id": sid})
        ids = [int(h["_id"]) for h in page["hits"]["hits"]]
        if not ids:
            break
        assert ids[0] > seen[-1]  # keyset cursor strictly advances
        seen += ids
    total = _post(f"{es}/docs/_count",
                  {"query": {"term": {"text": "spark"}}})["count"]
    assert len(seen) == total == len(set(seen))


def test_cat_and_stats_routes(es):
    with urllib.request.urlopen(f"{es}/_cat/indices?format=json", timeout=60) as r:
        cat = json.loads(r.read())
    assert any(row["index"] == "docs" for row in cat)
    with urllib.request.urlopen(f"{es}/docs/_stats", timeout=60) as r:
        st = json.loads(r.read())
    n = st["indices"]["docs"]["primaries"]["docs"]["count"]
    assert n == int(next(r_ for r_ in cat if r_["index"] == "docs")["docs.count"])
    assert st["_all"]["primaries"]["docs"]["count"] >= n


def test_bulk_then_refresh_then_search(es):
    before = _post(f"{es}/docs/_count",
                   {"query": {"term": {"text": "zzztoken"}}})["count"]
    assert before == 0
    payload = "\n".join([
        '{"index": {"_index": "docs", "_id": "990001"}}',
        '{"text": "zzztoken appears here"}',
    ])
    out = _post(f"{es}/_bulk", raw=payload)
    assert out["errors"] is False
    _post(f"{es}/docs/_refresh")
    after = _post(f"{es}/docs/_count",
                  {"query": {"term": {"text": "zzztoken"}}})["count"]
    assert after == 1


def test_analyze_routes(es):
    """ES _analyze API: explicit analyzer, index-scoped default analyzer,
    multi-text position gap (real ES uses position_increment_gap)."""
    out = _post(f"{es}/_analyze",
                {"analyzer": "simple", "text": "Hash-JOIN wins"})
    assert [t["token"] for t in out["tokens"]] == ["hash", "join", "wins"]
    assert [t["position"] for t in out["tokens"]] == [0, 1, 2]
    # index-scoped: falls back to the index's analyzer for the field
    out2 = _post(f"{es}/docs/_analyze", {"text": "Table SCAN"})
    assert [t["token"] for t in out2["tokens"]] == ["table", "scan"]
    # array input gets a position gap
    out3 = _post(f"{es}/_analyze",
                 {"analyzer": "simple", "text": ["a b", "c"]})
    positions = [t["position"] for t in out3["tokens"]]
    assert positions[0] == 0 and positions[-1] > 100
    # stemming analyzer reachable by name
    out4 = _post(f"{es}/_analyze", {"analyzer": "text", "text": "tables"})
    assert [t["token"] for t in out4["tokens"]] == ["table"]


def test_put_index_with_mappings_lifecycle(es):
    """ES create-index API (reference es/index_functions.test): typed
    columns from the mappings body, ES-normalized mapping round-trip,
    bulk into the typed schema, term search on the text property."""
    import urllib.error

    body = {"mappings": {"properties": {
        "title": {"type": "text"}, "author": {"type": "keyword"},
        "year": {"type": "integer"}, "rating": {"type": "double"},
        "in_print": {"type": "boolean"},
    }}}
    req = urllib.request.Request(
        f"{es}/slt_books", data=json.dumps(body).encode(), method="PUT",
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=60) as r:
        out = json.loads(r.read())
    assert out["acknowledged"] is True

    # duplicate create → error
    req2 = urllib.request.Request(
        f"{es}/slt_books", data=b"{}", method="PUT",
        headers={"Content-Type": "application/json"})
    with pytest.raises(urllib.error.HTTPError):
        urllib.request.urlopen(req2, timeout=60)

    # mapping round-trip: properties alphabetical, original ES types
    with urllib.request.urlopen(f"{es}/slt_books/_mapping", timeout=60) as r:
        m = json.loads(r.read())
    props = m["slt_books"]["mappings"]["properties"]
    assert list(props) == sorted(props)
    assert props["author"] == {"type": "keyword"}
    assert props["year"] == {"type": "integer"}

    # bulk into the typed schema, then search the text property
    payload = "\n".join([
        '{"index": {"_index": "slt_books", "_id": "1"}}',
        '{"title": "The Pelican Brief", "author": "jane", "year": 2001,'
        ' "rating": 4.5, "in_print": true}',
    ])
    assert _post(f"{es}/_bulk", raw=payload)["errors"] is False
    _post(f"{es}/slt_books/_refresh")
    hits = _post(f"{es}/slt_books/_search",
                 {"query": {"match": {"title": "pelican"}}, "size": 5})
    assert len(hits["hits"]["hits"]) == 1


def test_single_doc_write_path(es):
    """PUT/POST/DELETE /{index}/_doc (reference es/write_path.test): typed
    upsert with created/updated results, auto-generated 20-char ids,
    delete, visibility after refresh."""
    body = {"mappings": {"properties": {
        "title": {"type": "text"}, "n": {"type": "long"},
        "flag": {"type": "boolean"},
    }}}
    req = urllib.request.Request(
        f"{es}/slt_wp", data=json.dumps(body).encode(), method="PUT",
        headers={"Content-Type": "application/json"})
    urllib.request.urlopen(req, timeout=60).read()

    def put(doc_id, doc):
        r = urllib.request.Request(
            f"{es}/slt_wp/_doc/{doc_id}", data=json.dumps(doc).encode(),
            method="PUT", headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(r, timeout=60) as resp:
            return json.loads(resp.read())

    out = put("a", {"title": "hello world", "n": 7, "flag": True})
    assert out["result"] == "created"
    out2 = put("a", {"title": "hello again", "n": 8, "flag": False})
    assert out2["result"] == "updated"

    # auto-generated id: 20 chars
    r = urllib.request.Request(
        f"{es}/slt_wp/_doc",
        data=json.dumps({"title": "lazy dog", "n": 1}).encode(),
        method="POST", headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(r, timeout=60) as resp:
        auto = json.loads(resp.read())
    assert len(auto["_id"]) == 20

    _post(f"{es}/slt_wp/_refresh")
    assert _post(f"{es}/slt_wp/_count",
                 {"query": {"match": {"title": "hello"}}})["count"] == 1
    with urllib.request.urlopen(f"{es}/slt_wp/_doc/a", timeout=60) as resp:
        doc = json.loads(resp.read())
    assert doc["found"] and doc["_source"]["n"] == 8

    # delete and confirm gone
    rd = urllib.request.Request(f"{es}/slt_wp/_doc/a", method="DELETE")
    with urllib.request.urlopen(rd, timeout=60) as resp:
        assert json.loads(resp.read())["result"] == "deleted"
    _post(f"{es}/slt_wp/_refresh")
    with urllib.request.urlopen(f"{es}/slt_wp/_doc/a", timeout=60) as resp:
        assert json.loads(resp.read())["found"] is False


def test_admin_and_banner_routes(es):
    for path, probe in [
        ("/", lambda o: o["tagline"] == "You Know, for Search"),
        ("/_cluster/health", lambda o: o["status"] == "green"
            and o["number_of_nodes"] == 1),
        ("/_cluster/settings", lambda o: o["acknowledged"] is True),
        ("/_nodes/stats", lambda o: o["_nodes"]["total"] == 1
            and "sdb0" in o["nodes"]),
        ("/_nodes/stats/jvm", lambda o: "nodes" in o),
        ("/_cat/count", lambda o: int(o[0]["count"]) > 0),
    ]:
        with urllib.request.urlopen(f"{es}{path}", timeout=60) as r:
            assert probe(json.loads(r.read())), path


def test_forcemerge_routes(es):
    out = _post(f"{es}/_forcemerge", {})
    assert out["_shards"]["successful"] == 1
    out = _post(f"{es}/docs/_forcemerge", {})
    assert out["_shards"]["failed"] == 0


def test_source_route(es):
    with urllib.request.urlopen(f"{es}/docs/_source/1", timeout=60) as r:
        src = json.loads(r.read())
    # raw stored document, NOT the _doc envelope
    assert src["doc_id"] == 1 and "found" not in src
    try:
        urllib.request.urlopen(f"{es}/docs/_source/99999999", timeout=60)
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404
        err = json.loads(e.read())
        assert err["error"]["type"] == "resource_not_found_exception"


def test_scroll_with_sort(es):
    # explicit sort field: keyset on (text, _id), descending
    page1 = _post(f"{es}/docs/_search?scroll=1m", {
        "query": {"term": {"text": "spark"}}, "size": 5,
        "sort": [{"text": {"order": "desc"}}],
    })
    sid = page1["_scroll_id"]
    rows = [(h["sort"][0], int(h["_id"])) for h in page1["hits"]["hits"]]
    while True:
        page = _post(f"{es}/_search/scroll", {"scroll_id": sid})
        got = [(h["sort"][0], int(h["_id"])) for h in page["hits"]["hits"]]
        if not got:
            break
        rows += got
    total = _post(f"{es}/docs/_count",
                  {"query": {"term": {"text": "spark"}}})["count"]
    assert len(rows) == total == len(set(rows))
    # global order: text desc, id asc as tiebreak — across page boundaries
    assert rows == sorted(rows, key=lambda t: (_neg_str(t[0]), t[1]))


class _neg_str(str):
    """Reverse-ordering wrapper for desc string sort in the assertion."""

    def __lt__(self, other):
        return str.__gt__(self, other)


@pytest.fixture(scope="module")
def keyed(es):
    """A mapping-created index: its key is the string `_id`."""
    req = urllib.request.Request(
        f"{es}/slt_keyed", method="PUT",
        data=json.dumps({"mappings": {"properties": {
            "text": {"type": "text"}}}}).encode(),
        headers={"Content-Type": "application/json"})
    urllib.request.urlopen(req, timeout=60).read()
    payload = "".join(
        json.dumps({"index": {"_index": "slt_keyed", "_id": i}}) + "\n"
        + json.dumps({"text": f"alpha {i}"}) + "\n"
        for i in ("1", "2", "abc"))
    assert _post(f"{es}/_bulk", raw=payload)["errors"] is False
    _post(f"{es}/slt_keyed/_refresh")
    return f"{es}/slt_keyed"


def test_doc_route_on_mapping_index(keyed):
    with urllib.request.urlopen(f"{keyed}/_doc/abc", timeout=60) as r:
        d = json.loads(r.read())
    assert d["found"] is True and d["_id"] == "abc"
    assert d["_source"] == {"text": "alpha abc"}  # the key is not source
    with urllib.request.urlopen(f"{keyed}/_doc/zzz", timeout=60) as r:
        assert json.loads(r.read())["found"] is False


def test_mget_route_on_mapping_index(keyed):
    out = _post(f"{keyed}/_mget", {"ids": ["1", "2", "zzz"]})
    assert [(x["_id"], x["found"]) for x in out["docs"]] == [
        ("1", True), ("2", True), ("zzz", False)]
    assert out["docs"][1]["_source"] == {"text": "alpha 2"}
    out = _post(f"{keyed}/_mget", {"docs": [{"_id": "abc"}]})
    assert out["docs"][0]["_source"] == {"text": "alpha abc"}


def test_scroll_route_on_mapping_index(keyed):
    seen, page = [], _post(f"{keyed}/_search?scroll=1m", {"size": 2})
    while page["hits"]["hits"]:
        seen += [h["_id"] for h in page["hits"]["hits"]]
        page = _post(f"{keyed.rsplit('/', 1)[0]}/_search/scroll",
                     {"scroll_id": page["_scroll_id"]})
    assert seen == ["1", "2", "abc"]
    page = _post(f"{keyed}/_search?scroll=1m",
                 {"size": 2, "sort": [{"text": "desc"}]})
    assert [h["_id"] for h in page["hits"]["hits"]] == ["abc", "2"]


def test_bulk_keeps_a_numeric_key_type_with_ansi_off(spark):
    """A bulk `_id` is cast to the table's key type: with ANSI off, a
    string `_id` would widen a bigint key to string in the snapshot's
    union, and `_source`/`_doc` of an existing doc would then miss."""
    from serenedb_spark.server.es_http import EsShim

    shim = EsShim(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").limit(3)
    shim.create_index("numkey", docs, {"text": "simple"}, key="doc_id")
    first = docs.orderBy("doc_id").first()
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        shim.bulk(json.dumps({"index": {"_index": "numkey",
                                        "_id": "90000001"}}) + "\n"
                  + json.dumps({"text": "gamma delta"}) + "\n")
        shim.refresh("numkey")
        store = shim._index("numkey").docstore
        assert dict(store.dtypes)["doc_id"] == "bigint"
        src, status = shim.get_source("numkey", str(first.doc_id))
        assert status == 200 and src["doc_id"] == first.doc_id
        assert shim.get_doc("numkey", "90000001")["_source"] == {
            "doc_id": 90000001, "text": "gamma delta"}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
