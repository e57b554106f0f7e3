"""ES query-DSL translation: each DSL clause must produce the same AST a
direct construction would, and es_search must equal the equivalent direct
plan (the translation is a pure function into the already-tested core)."""

from __future__ import annotations

import pytest

from serenedb_spark.analysis.analyzers import get_analyzer
from serenedb_spark.plans import tsquery as q
from serenedb_spark.plans.es_dsl import es_search, es_terms_agg, parse_query

AN = get_analyzer("simple")

CASES = [
    ({"match": {"text": "spark data"}}, "text", q.AnyOf(["spark", "data"])),
    ({"match": {"text": {"query": "spark data", "operator": "and"}}},
     "text", q.AllOf(["spark", "data"])),
    ({"match": {"text": {"query": "a b c", "minimum_should_match": 2}}},
     "text", q.AnyOf(["a", "b", "c"], min_match=2)),
    ({"match_phrase": {"text": "hash join"}}, "text",
     q.Phrase(["hash", "join"])),
    ({"match_phrase": {"text": {"query": "sort merge", "slop": 2}}}, "text",
     q.Phrase(["sort", "merge"], slop=2)),
    ({"term": {"text": {"value": "spark"}}}, "text", q.Term("spark")),
    ({"terms": {"text": ["spark", "batch"]}}, "text",
     q.AnyOf(["spark", "batch"])),
    ({"prefix": {"text": {"value": "wind"}}}, "text", q.Prefix("wind")),
    ({"wildcard": {"text": {"value": "w*w"}}}, "text", q.Wildcard("w%w")),
    ({"regexp": {"text": {"value": "s(park|low)"}}}, "text",
     q.Regexp("s(park|low)")),
    ({"fuzzy": {"text": {"value": "sprk", "fuzziness": 1}}}, "text",
     q.Fuzzy("sprk", 1)),
    ({"range": {"text": {"gte": "query", "lte": "table"}}}, "text",
     q.Between("query", "table")),
    ({"range": {"text": {"gt": "query"}}}, "text",
     q.Between("query", None, lo_inclusive=False)),
    ({"query_string": {"query": 'spark -dup "hash join"'}}, None,
     q.websearch_to_tsquery('spark -dup "hash join"')),
    ({"match_phrase_prefix": {"text": "hash jo"}}, "text",
     q.PhraseSeq([q.Term("hash"), q.Prefix("jo")])),
    ({"match_phrase_prefix": {"text": "wind"}}, "text", q.Prefix("wind")),
    ({"bool": {
        "must": [{"term": {"text": "data"}}],
        "must_not": [{"term": {"text": "dup"}}],
        "should": [{"term": {"text": "spark"}}, {"term": {"text": "stream"}}],
        "minimum_should_match": 1,
    }}, "text", q.Compound(
        must=[q.Term("data")], must_not=[q.Term("dup")],
        should=[q.Term("spark"), q.Term("stream")], min_should_match=1)),
]


@pytest.mark.parametrize("dsl,field,want", CASES)
def test_parse(dsl, field, want):
    got_field, got = parse_query(dsl, AN)
    assert got_field == field
    assert got == want


def test_es_search_equals_direct_plan(spark):
    from serenedb_spark import queries as Q
    from serenedb_spark.operators.scoring import score as _score
    from serenedb_spark.plans.planner import compile_query
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    idx = Q.doc_index(spark, SF_DIR)
    cases = [
        ({"query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "should": [{"term": {"text": "stream"}}],
        }}, "size": 15},
         q.Compound(must=[q.AnyOf(["spark"])], should=[q.Term("stream")])),
        # paged: served by the DataFrame plan, not the SQL rendering
        ({"query": {"match": {"text": "spark stream"}}, "from": 5,
          "size": 10},
         q.AnyOf(["spark", "stream"])),
    ]
    for body, node in cases:
        got = es_search(idx, body).collect()

        compiled = compile_query(idx, "text", node)
        s = _score(idx, "text", compiled.score_terms, "bm25")
        offset = body.get("from", 0)
        want = (
            compiled.doc_ids.join(s, "doc_id", "left")
            .select("doc_id",
                    F.round(F.coalesce(F.col("score"), F.lit(0.0)), 4)
                    .alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(offset + body["size"])
            .collect()[offset:]
        )
        assert want
        assert [tuple(r) for r in got] == [tuple(r) for r in want], body


def test_multi_match_field_boost_and_tie_breaker(spark):
    """`name^boost` field syntax scales that field's contributions;
    tie_breaker folds non-best fields in at the given fraction:
    best_fields(tie=t) == max + t*(sum - max). Verified against the
    explicitly-computed per-field scores."""
    from pyspark.sql import functions as F

    from serenedb_spark import queries as Q
    from serenedb_spark.operators.scoring import score as _score
    from serenedb_spark.plans.planner import compile_query
    from tests.conftest import SF_DIR

    idx = Q._doc_index_multi(spark, SF_DIR)
    body = {"query": {"multi_match": {
        "query": "spark src3", "fields": ["text^2", "source"],
        "type": "best_fields", "tie_breaker": 0.4,
    }}, "size": 2000}
    got = {r.doc_id: r.score for r in es_search(idx, body).collect()}

    def field_scores(field):
        toks = [t for t in ("spark", "src3")
                if idx.analyzer(field).tokens(t)]
        compiled = compile_query(idx, field, q.AnyOf(toks))
        return {r.doc_id: r.score
                for r in _score(idx, field, compiled.score_terms,
                                "bm25").collect()}

    t_s, s_s = field_scores("text"), field_scores("source")
    assert got, "multi_match returned no hits"
    for doc_id, score in got.items():
        per = [v for v in (2.0 * t_s.get(doc_id, None)
                           if doc_id in t_s else None,
                           s_s.get(doc_id))
               if v is not None]
        m = max(per)
        want = m + 0.4 * (sum(per) - m)
        assert abs(score - round(want, 4)) < 1e-6, (doc_id, score, want)


def test_dis_max_restricts_to_clause_matches(spark):
    """A dis_max phrase clause must score only PHRASE matches (not
    bag-of-words hits), and the combine must be max + tie*(rest)."""
    from serenedb_spark import queries as Q
    from tests.conftest import SF_DIR

    idx = Q._doc_index_multi(spark, SF_DIR)
    phrase_hits = {
        r.doc_id
        for r in es_search(idx, {"query": {"match_phrase":
                                           {"text": "table scan"}},
                                 "size": 10000}).collect()}
    term_hits = {
        r.doc_id
        for r in es_search(idx, {"query": {"term": {"source": "src3"}},
                                 "size": 10000}).collect()}
    got = es_search(idx, {"query": {"dis_max": {
        "queries": [{"match_phrase": {"text": "table scan"}},
                    {"term": {"source": "src3"}}],
        "tie_breaker": 0.3}}, "size": 10000}).collect()
    got_ids = {r.doc_id for r in got}
    assert got_ids == phrase_hits | term_hits
    # a doc in both clauses must outscore its own best single clause
    both = phrase_hits & term_hits
    if both:
        single = {**{r.doc_id: r.score for r in es_search(
            idx, {"query": {"match_phrase": {"text": "table scan"}},
                  "size": 10000}).collect()}}
        combined = {r.doc_id: r.score for r in got}
        for d in both:
            assert combined[d] >= single.get(d, 0.0)


def test_es_aggs_terms_and_histogram(spark):
    from pyspark.sql import functions as F

    from serenedb_spark.plans.es_dsl import es_aggs
    from tests.conftest import load_events

    ev = load_events(spark)
    got = es_aggs(ev, {"by_type": {
        "terms": {"field": "event_type", "size": 10},
        "aggs": {"total_value": {"sum": {"field": "value"}},
                 "users": {"cardinality": {"field": "user_id"}}},
    }}).collect()
    want = {
        r.event_type: (r.n, round(r.s, 4), r.u)
        for r in ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"),
            F.count_distinct("user_id").alias("u"),
        ).collect()
    }
    assert {r.key: (r.doc_count, round(r.total_value, 4), r.users)
            for r in got} == want

    hist = es_aggs(ev, {"daily": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
    }}).collect()
    n_days = ev.select(F.date_trunc("day", "ts")).distinct().count()
    assert len(hist) == n_days
    assert sum(r.doc_count for r in hist) == ev.count()


def test_es_terms_agg(spark):
    from serenedb_spark import queries as Q
    from tests.conftest import SF_DIR

    idx = Q.doc_index(spark, SF_DIR)
    rows = es_terms_agg(idx, "text", size=5).collect()
    assert len(rows) == 5
    assert rows[0].doc_count >= rows[-1].doc_count


def test_es_search_from_size_pagination(spark):
    from serenedb_spark import queries as Q
    from tests.conftest import SF_DIR

    idx = Q.doc_index(spark, SF_DIR)
    body = {"query": {"match": {"text": "spark"}}}
    all_ids = [r.doc_id for r in es_search(idx, {**body, "size": 10}).collect()]
    page2 = [r.doc_id for r in
             es_search(idx, {**body, "from": 5, "size": 5}).collect()]
    assert page2 == all_ids[5:10]


def test_es_search_from_size_capped(spark):
    """from+size past max_result_window (10k, ES parity) is refused — a
    deep offset would otherwise collect offset+size rows on the driver."""
    import pytest as _pytest

    from serenedb_spark import queries as Q
    from tests.conftest import SF_DIR

    idx = Q.doc_index(spark, SF_DIR)
    body = {"query": {"match": {"text": "spark"}},
            "from": 10_000, "size": 1}
    with _pytest.raises(ValueError, match="max_result_window"):
        es_search(idx, body)


def test_multi_match_phrase_type_lowers_to_dis_max(spark):
    """type=phrase multi_match == dis_max of per-field match_phrase
    (ES semantics)."""
    from serenedb_spark import queries as Q
    from tests.conftest import SF_DIR

    idx = Q._doc_index_multi(spark, SF_DIR)
    mm = es_search(idx, {"query": {"multi_match": {
        "query": "table scan", "fields": ["text", "source"],
        "type": "phrase", "tie_breaker": 0.2}}, "size": 500}).collect()
    dm = es_search(idx, {"query": {"dis_max": {
        "queries": [{"match_phrase": {"text": "table scan"}},
                    {"match_phrase": {"source": "table scan"}}],
        "tie_breaker": 0.2}}, "size": 500}).collect()
    assert [tuple(r) for r in mm] == [tuple(r) for r in dm]
    # phrase-type must NOT match bag-of-words-only docs
    bag = es_search(idx, {"query": {"multi_match": {
        "query": "table scan", "fields": ["text"]}},
        "size": 5000}).count()
    assert len(mm) < bag
