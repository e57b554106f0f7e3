"""Differential fuzz: random TSQuery ASTs over a corpus WITH NULL and empty
documents — the index plan (postings semi/anti joins) must equal the naive
full-scan oracle under SQL 3-valued logic.

This reproduces the reference's null_semantics_fuzz
(tests/fuzz/null_semantics_fuzz.py:1-15: "random predicates over nullable
indexed columns asserting index scan ≡ base-table scan") with hypothesis
generating the AST instead of SQL strings.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from serenedb_spark.operators.indexing import build_index
from serenedb_spark.plans import tsquery as q
from serenedb_spark.plans.oracle import match_sql
from serenedb_spark.plans.planner import compile_query
from tests.conftest import SF_DIR

VOCAB = ["spark", "data", "join", "hash", "slow", "dup", "zzz_absent", "the"]

terms = st.sampled_from(VOCAB)
leaves = st.one_of(
    terms.map(q.Term),
    st.lists(terms, min_size=1, max_size=3, unique=True).map(
        lambda ts: q.AnyOf(ts, min_match=1)
    ),
    st.lists(terms, min_size=2, max_size=3, unique=True).map(
        lambda ts: q.AnyOf(ts, min_match=2)
    ),
    st.lists(terms, min_size=1, max_size=2, unique=True).map(q.AllOf),
    st.tuples(terms, terms).map(lambda p: q.Phrase(list(p))),
    st.tuples(terms, terms, st.integers(0, 3)).map(
        lambda p: q.Phrase([p[0], p[1]], slop=p[2])
    ),
    # a window starting at 0: the second word may share the first's
    # position, so `a a` matches a single occurrence of `a`
    st.tuples(terms, terms).map(
        lambda p: q.Phrase([p[0], p[1]], gaps=[(0, 3)])
    ),
    st.sampled_from(["sp", "da", "jo", "zz"]).map(q.Prefix),
    st.sampled_from(["%ar%", "d_ta", "%ow"]).map(q.Wildcard),
    st.sampled_from(["sprk", "joon", "dta"]).map(lambda w: q.Fuzzy(w, 1)),
    st.tuples(terms, terms).map(
        lambda p: q.Between(min(p), max(p))
    ),
    # heterogeneous ## chains: literal/prefix/any parts with random slop
    st.tuples(terms, st.sampled_from(["sp", "da", "jo", "zz"]),
              st.integers(0, 2)).map(
        lambda p: q.PhraseSeq([q.Term(p[0]), q.Prefix(p[1])], slop=p[2])
    ),
    st.tuples(st.lists(terms, min_size=1, max_size=2, unique=True), terms).map(
        lambda p: q.PhraseSeq([q.AnyOf(p[0]), q.Term(p[1])])
    ),
)


def nodes(depth: int):
    if depth == 0:
        return leaves
    sub = nodes(depth - 1)
    return st.one_of(
        leaves,
        st.lists(sub, min_size=2, max_size=3).map(q.And),
        st.lists(sub, min_size=2, max_size=3).map(q.Or),
        sub.map(q.Not),
        st.tuples(st.lists(sub, max_size=2), st.lists(sub, max_size=1),
                  st.lists(sub, max_size=2), st.integers(0, 2)).map(
            lambda t: q.Compound(must=t[0], must_not=t[1], should=t[2],
                                 min_should_match=t[3])
        ),
    )


@pytest.fixture(scope="module")
def corpus(spark):
    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    extra = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "   "), (900004, "spark"),
         (900005, "zzz_absent spark zzz_absent")],
        "doc_id long, text string",
    )
    docs = base.unionByName(extra)
    idx = build_index(docs, {"text": "simple"}, key="doc_id")
    for part in (idx.postings, idx.universe, idx.term_stats):
        part.persist()
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    return idx, con


@settings(max_examples=40, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(node=nodes(2))
def test_planner_matches_oracle(corpus, node):
    idx, con = corpus
    got = {r.doc_id for r in compile_query(idx, "text", node).doc_ids.collect()}
    want = {
        r[0] for r in con.sql(match_sql("documents", "text", "simple", node)).fetchall()
    }
    assert got == want, f"AST: {node!r}\nspark-only: {got - want}\nduck-only: {want - got}"


scored_nodes = st.one_of(
    st.lists(terms, min_size=1, max_size=3, unique=True).map(
        lambda ts: q.AnyOf(ts)
    ),
    st.lists(terms, min_size=1, max_size=2, unique=True).map(q.AllOf),
    st.tuples(terms, terms).map(lambda p: q.Term(p[0]) | q.Term(p[1])),
    st.tuples(terms, st.floats(0.5, 3.0)).map(
        lambda p: q.Term(p[0]).boost(round(p[1], 2))
    ),
)


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(node=scored_nodes, scorer=st.sampled_from(["bm25", "tfidf", "lm_jm"]))
def test_scores_match_oracle(corpus, node, scorer):
    """Scored search parity: (doc_id, rounded score) top-20 equal between
    the postings plan and the naive-scan oracle under random queries."""
    from pyspark.sql import functions as F

    from serenedb_spark.operators.scoring import score as _score
    from serenedb_spark.plans.oracle import scored_sql

    idx, con = corpus
    compiled = compile_query(idx, "text", node)
    s = _score(idx, "text", compiled.score_terms, scorer)
    got = [
        (r.doc_id, r.score)
        for r in compiled.doc_ids.join(s, "doc_id", "left")
        .select("doc_id",
                F.round(F.coalesce(F.col("score"), F.lit(0.0)), 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id").limit(20).collect()
    ]
    want = [
        (r[0], float(r[1]))
        for r in con.sql(
            scored_sql("documents", "text", "simple", node, scorer=scorer, k=20)
        ).fetchall()
    ]
    assert got == want, f"AST: {node!r} scorer={scorer}"


def test_empty_and_whitespace_docs_never_match_terms(corpus):
    idx, _ = corpus
    got = {r.doc_id for r in compile_query(idx, "text", q.Term("spark")).doc_ids.collect()}
    assert 900002 not in got and 900003 not in got and 900001 not in got
    assert 900004 in got


def test_not_includes_empty_docs_with_tokens_universe(corpus):
    """NOT semantics: empty-string docs produce zero tokens → they are NOT
    in the per-field universe (col non-null but no tokens: the reference
    indexes them as docs with no terms; our universe is non-null based, so
    they ARE included). Pin the chosen semantics here and in the oracle."""
    idx, con = corpus
    got = {r.doc_id for r in compile_query(idx, "text", ~q.Term("spark")).doc_ids.collect()}
    want = {
        r[0] for r in con.sql(
            match_sql("documents", "text", "simple", ~q.Term("spark"))
        ).fetchall()
    }
    assert got == want
    assert 900002 in got  # empty string: non-null, no tokens → matches NOT
    assert 900001 not in got  # NULL: 3VL → never matches
