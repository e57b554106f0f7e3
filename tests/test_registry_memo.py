"""Built artifacts have one owner each: the query registry's memo
(queries._built, one table per SparkSession object), the index that
holds its own parts (InvertedIndex.persist), and the expression memo
tied to the live py4j gateway (functions/expr_memo.py)."""

from __future__ import annotations

import ast
import io
import pathlib
import re
import tokenize

import pytest

from serenedb_spark import queries as Q
from serenedb_spark.operators.indexing import _PARTS

from tests.conftest import SF_DIR

_ROOT = pathlib.Path(__file__).resolve().parents[1] / "serenedb_spark"
_QUERIES = _ROOT / "queries.py"


@pytest.mark.parametrize("name", ["vec_ivf_sq8_knn", "fts_partial_index"])
def test_registry_artifacts_belong_to_their_session(spark, name):
    """A second session gets frames of its own, never frames another
    session built first and a dataset-only key handed back."""
    fn = Q.REGISTRY[name].fn
    first = fn(spark, SF_DIR)
    other = spark.newSession()
    df = fn(other, SF_DIR)
    assert first.sparkSession is spark
    assert df.sparkSession is other
    assert sorted(df.collect()) == sorted(first.collect())


def test_registry_memo_dies_with_its_session(spark, tmp_path):
    """A dropped session's memo entry dies with it and releases the
    frames it persisted, but never a plan a live session still holds."""
    import gc
    import shutil
    import weakref

    shutil.copy(f"{SF_DIR}/embeddings.parquet", tmp_path)
    sf_dir = str(tmp_path)  # plans no other test's session has cached
    fn = Q.REGISTRY["vec_sq8_knn"].fn
    jsc = spark.sparkContext._jsc

    def held() -> int:
        gc.collect()
        return jsc.getPersistentRDDs().size()

    def run_and_drop() -> None:
        other = spark.newSession()
        assert fn(other, sf_dir).collect()
        gone = weakref.ref(other)
        del other
        # PySpark's RDD.toDF holds the newest session object it built
        spark.newSession()
        # nothing holds the session, so nothing holds a memo entry of it
        gc.collect()
        assert gone() is None

    base = held()
    run_and_drop()
    assert held() == base  # the table and the codes were released
    fn(spark, sf_dir).collect()
    shared = held()
    assert shared > base
    run_and_drop()
    assert held() == shared  # the live session's equal plans stay cached


def test_expr_memo_sees_a_new_gateway_at_a_reused_address(monkeypatch):
    """A gateway that replaces a dead one at the same address still
    empties the memo: the old gateway's Columns are dangling handles."""
    from pyspark import SparkContext

    from serenedb_spark.functions import expr_memo

    class Gateway:
        """Stand-in for a py4j JavaGateway."""

    monkeypatch.setattr(expr_memo, "_CACHE", {})
    monkeypatch.setattr(expr_memo, "_owner", None, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", Gateway())
    address = id(SparkContext._gateway)
    assert expr_memo.memo_exprs(("k",), lambda: "first") == "first"
    SparkContext._gateway = None  # the first gateway dies here
    SparkContext._gateway = Gateway()
    # precondition: CPython handed the new gateway the dead one's address
    assert id(SparkContext._gateway) == address
    assert expr_memo.memo_exprs(("k",), lambda: "second") == "second"
    assert expr_memo.memo_exprs(("k",), lambda: "third") == "second"


# ---- guards ---------------------------------------------------------------

def test_no_id_calls():
    """No cache or token is keyed on id(): Python recycles an id once
    its object is freed. (Comments and docstrings may name it.)"""
    offenders = []
    for path in sorted(_ROOT.rglob("*.py")):
        toks = [t for t in tokenize.generate_tokens(
                    io.StringIO(path.read_text()).readline)
                if t.type not in (tokenize.COMMENT, tokenize.NL,
                                  tokenize.NEWLINE)]
        for prev, t, nxt in zip(toks, toks[1:], toks[2:]):
            if (t.type == tokenize.NAME and t.string == "id"
                    and nxt.string == "(" and prev.string not in (".", "def")):
                offenders.append(
                    f"{path.relative_to(_ROOT.parent)}:{t.start[0]}")
    assert not offenders, "\n".join(offenders)


def test_queries_has_no_module_cache_dicts():
    """queries.py builds through its one memo, _built."""
    tree = ast.parse(_QUERIES.read_text())
    names = []
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign)
                   else [])
        names += [t.id for t in targets
                  if isinstance(t, ast.Name) and t.id.endswith("_CACHE")]
    assert not names, names


def test_queries_holds_indexes_only_through_persist():
    """A registry index is held by InvertedIndex.persist, which persists
    a part on its first read and releases it with the index; no part is
    pinned by hand."""
    part = re.compile(
        r"\b(?:part|\w+\.(?:" + "|".join(_PARTS) + r"))\.persist\(")
    text = _QUERIES.read_text()
    offenders = [f"queries.py:{text.count(chr(10), 0, m.start()) + 1}"
                 for m in part.finditer(text)]
    assert not offenders, "\n".join(offenders)
