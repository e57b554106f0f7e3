"""Rows the driver already holds become local relations
(`sources.local.local_frame`): an ES write builds its rows on the driver
and runs no Spark job, and reading them back runs none either. Also the
`_bulk` action order, and a guard that keeps `createDataFrame` off the
request path."""

from __future__ import annotations

import io
import itertools
import json
import pathlib
import tokenize

import pytest
from pyspark.sql import functions as F

_ROOT = pathlib.Path(__file__).resolve().parent.parent / "serenedb_spark"

#: the request-path modules that build driver-held rows
_REQUEST_PATH = ("server", "sources/es_bulk.py", "plans/planner.py",
                 "plans/statements.py", "plans/es_dsl.py",
                 "operators/scoring.py", "session.py")

#: "path:line" → why that site keeps `createDataFrame` (a column type
#: that does not survive JSON); empty while every site converts
_ALLOWED: dict[str, str] = {}

_GROUPS = itertools.count()

MAPPING = {"mappings": {"properties": {"text": {"type": "text"}}}}


@pytest.fixture(scope="module")
def shim(spark):
    from serenedb_spark.server.es_http import EsShim

    return EsShim(spark)


def _jobs(spark, fn) -> int:
    """Spark jobs `fn` runs."""
    sc = spark.sparkContext
    group = f"local-relations-{next(_GROUPS)}"
    sc.setJobGroup(group, "probe")
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _bulk(*actions) -> str:
    """NDJSON body: ("index", id, text) or ("delete", id) per action."""
    lines = []
    for kind, _id, *text in actions:
        lines.append(json.dumps({kind: {"_id": _id}}))
        if kind == "index":
            lines.append(json.dumps({"text": text[0]}))
    return "\n".join(lines) + "\n"


# ---- _bulk applies its actions in payload order ---------------------------

def test_bulk_delete_is_applied(shim):
    shim.create_index_from_mapping("bd", MAPPING)
    shim.bulk(_bulk(("index", "1", "alpha"), ("index", "2", "beta"),
                    ("index", "3", "gamma")), "bd")
    assert shim.bulk(_bulk(("delete", "1")), "bd") == {
        "errors": False, "items": 1}
    assert shim.count("bd", {})["count"] == 2
    assert not shim.get_doc("bd", "1")["found"]


@pytest.mark.parametrize("order, text", [
    ((("delete", "1"), ("index", "1", "again")), "again"),
    ((("index", "1", "again"), ("delete", "1")), None),
    ((("index", "1", "again"), ("index", "1", "twice")), "twice"),
])
def test_bulk_actions_apply_in_order(shim, order, text):
    """Doc 1 ends as the last action on it left it."""
    name = f"bo{len(shim.tables)}"
    shim.create_index_from_mapping(name, MAPPING)
    shim.bulk(_bulk(("index", "1", "alpha"), ("index", "2", "beta")), name)
    assert shim.bulk(_bulk(*order), name)["items"] == 2
    doc = shim.get_doc(name, "1")
    assert doc.get("_source", {}).get("text") == text
    assert shim.count(name, {})["count"] == 1 + (text is not None)


# ---- ES writes run no Spark job ---------------------------------------------

def test_put_index_runs_no_job(spark, shim):
    """PUT /{index} and reading its empty base."""
    assert _jobs(spark, lambda: (
        shim.create_index_from_mapping("j0", MAPPING),
        shim.tables["j0"].current().collect())) == 0


def test_bulk_runs_no_job(spark, shim):
    shim.create_index_from_mapping("j1", MAPPING)
    assert _jobs(spark, lambda: shim.bulk(_bulk(
        ("index", "1", "alpha"), ("index", "2", "beta"),
        ("delete", "1")), "j1")) == 0
    assert sorted(r._id for r in shim.tables["j1"].current().collect()) \
        == ["2"]


def test_doc_delete_runs_no_job(spark, shim):
    """DELETE /{index}/_doc/{id} and reading the tombstone it wrote."""
    shim.create_index_from_mapping("j2", MAPPING)
    st = shim.tables["j2"]
    assert _jobs(spark, lambda: (shim.delete_doc("j2", "1"),
                                 st._ops[-1][1].collect())) == 0


def test_doc_put_runs_no_job_beyond_its_existence_check(spark, shim):
    """PUT /{index}/_doc/{id} runs at most the jobs of the existence
    check its reply's `result` needs; reading the row it wrote, none."""
    shim.create_index_from_mapping("j3", MAPPING)
    st = shim.tables["j3"]
    shim.bulk(_bulk(("index", "1", "alpha")), "j3")
    check = _jobs(spark, lambda: st.current().where(
        F.col(st.key) == "1").limit(1).collect())
    out = {}
    assert _jobs(spark, lambda: out.update(
        shim.put_doc("j3", "1", {"text": "beta"}))) <= check
    assert _jobs(spark, lambda: st._ops[-1][1].collect()) == 0
    assert out["result"] == "updated"
    assert [(r._id, r.text) for r in st.current().collect()] == [
        ("1", "beta")]


# ---- guard ------------------------------------------------------------------

def test_no_create_dataframe_on_the_request_path():
    """Driver-held rows on the request path are local relations:
    `createDataFrame` plans over a parallelized RDD and runs a job per
    read. (Comments and docstrings may name it.)"""
    paths = []
    for part in _REQUEST_PATH:
        p = _ROOT / part
        paths += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    found = set()
    for path in paths:
        for t in tokenize.generate_tokens(
                io.StringIO(path.read_text()).readline):
            if t.type == tokenize.NAME and t.string == "createDataFrame":
                found.add(f"{path.relative_to(_ROOT)}:{t.start[0]}")
    assert found == set(_ALLOWED), sorted(found ^ set(_ALLOWED))
