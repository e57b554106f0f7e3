"""A compiled query carries its score terms as a driver-held list of
(term, boost) pairs: compiling runs no SQL parse for a term relation,
and a bare phrase orders its joins from the index's memoized per-term
stats instead of a fresh term-dictionary job."""

from __future__ import annotations

import dataclasses

import pytest

from serenedb_spark.plans import tsquery as q
from serenedb_spark.plans.planner import CompiledQuery, compile_query
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def idx(spark):
    from serenedb_spark import queries as Q

    return Q.doc_index(spark, SF_DIR)


def test_compile_makes_no_sql_call(idx, monkeypatch):
    from pyspark.sql import SparkSession

    calls = []
    real = SparkSession.sql
    monkeypatch.setattr(SparkSession, "sql",
                        lambda self, *a, **k: (calls.append(a),
                                               real(self, *a, **k))[1])
    nodes = [q.Term("spark"), q.AnyOf(["spark", "stream"]),
             q.websearch_to_tsquery('spark -dup "hash join" OR stream')]
    compiled = [compile_query(idx, "text", node) for node in nodes]
    assert calls == []
    for c in compiled:
        assert c.score_terms and all(
            isinstance(t, str) and isinstance(b, float)
            for t, b in c.score_terms)
    assert [f.name for f in dataclasses.fields(CompiledQuery)] == [
        "doc_ids", "score_terms"]


def test_second_phrase_compile_runs_no_job(spark, idx):
    sc = spark.sparkContext
    node = q.Phrase(["table", "scan"])
    jobs = []
    for run in ("first", "second"):
        group = f"phrase-compile-{run}"
        sc.setJobGroup(group, group)
        try:
            compile_query(idx, "text", node)
        finally:
            sc.setJobGroup("", "")
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] == 0, jobs
