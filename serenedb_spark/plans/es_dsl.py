"""Elasticsearch query-DSL → TSQUERY AST translation.

Reference: the ES-compatible REST API translates the query DSL into SQL
over the same engine (server/network/http/es/dsl.cpp:394-407 for query
kinds, :518-556 for aggregations; routed from handlers.cpp:635). Here the
translation target is the TSQuery AST — everything downstream (planner,
scoring, oracle) is shared, so a DSL query inherits the whole differential
test story.

Supported query kinds (dsl.cpp:394-407 parity): match, match_phrase,
term, terms, prefix, wildcard, regexp, fuzzy, range, exists, bool
(must/filter/must_not/should + minimum_should_match), match_all.

Aggregations (dsl.cpp:518-556): terms, min/max/avg/sum, value_count,
cardinality — emitted as a groupBy plan over the docstore/postings.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serenedb_spark.analysis.analyzers import Analyzer
from serenedb_spark.operators.indexing import InvertedIndex
from serenedb_spark.plans import tsquery as q
from serenedb_spark.sources.local import local_frame

#: ES `index.max_result_window` default — from/size paging past this
#: collects offset+size rows driver-side, so it is refused exactly as
#: Elasticsearch refuses it; deep paging uses the scroll cursor.
MAX_RESULT_WINDOW = 10_000


def parse_query(dsl: dict[str, Any], analyzer: Analyzer) -> tuple[str | None, q.TSQuery]:
    """Translate one ES query clause to (field, TSQuery). `field` is None
    for match_all / pure-bool clauses (caller supplies the default field).
    """
    if not dsl or dsl == {"match_all": {}}:
        raise ValueError("match_all must be handled by the caller (universe)")
    (kind, body), = dsl.items()

    if kind == "match":
        (field, spec), = body.items()
        text = spec["query"] if isinstance(spec, dict) else spec
        operator = (spec.get("operator", "or") if isinstance(spec, dict) else "or")
        msm = int(spec.get("minimum_should_match", 1)) if isinstance(spec, dict) else 1
        toks = analyzer.tokens(str(text))
        if not toks:
            raise ValueError(f"match query analyzed to no tokens: {text!r}")
        if operator == "and":
            return field, q.AllOf(toks)
        return field, q.AnyOf(toks, min_match=msm)

    if kind == "match_phrase":
        (field, spec), = body.items()
        text = spec["query"] if isinstance(spec, dict) else spec
        slop = int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
        toks = analyzer.tokens(str(text))
        return field, q.Phrase(toks, slop=slop)

    if kind == "term":
        (field, spec), = body.items()
        value = spec["value"] if isinstance(spec, dict) else spec
        return field, q.Term(str(value))

    if kind == "terms":
        (field, values), = body.items()
        return field, q.AnyOf([str(v) for v in values])

    if kind == "prefix":
        (field, spec), = body.items()
        value = spec["value"] if isinstance(spec, dict) else spec
        return field, q.Prefix(str(value))

    if kind == "wildcard":
        (field, spec), = body.items()
        value = spec["value"] if isinstance(spec, dict) else spec
        # ES wildcards: * and ? → SQL LIKE % and _
        return field, q.Wildcard(str(value).replace("*", "%").replace("?", "_"))

    if kind == "regexp":
        (field, spec), = body.items()
        value = spec["value"] if isinstance(spec, dict) else spec
        return field, q.Regexp(str(value))

    if kind == "fuzzy":
        (field, spec), = body.items()
        value = spec["value"] if isinstance(spec, dict) else spec
        fuzz = spec.get("fuzziness", 1) if isinstance(spec, dict) else 1
        return field, q.Fuzzy(str(value), int(fuzz))

    if kind == "range":
        (field, spec), = body.items()
        lo = spec.get("gte", spec.get("gt"))
        hi = spec.get("lte", spec.get("lt"))
        return field, q.Between(
            lo=None if lo is None else str(lo),
            hi=None if hi is None else str(hi),
            lo_inclusive="gte" in spec or lo is None,
            hi_inclusive="lte" in spec or hi is None,
        )

    if kind == "query_string":
        # Lucene-ish query strings route through the websearch parser
        # (reference dsl.cpp maps query_string onto the same SQL rewrite)
        text = body["query"] if isinstance(body, dict) else body
        field = body.get("default_field") if isinstance(body, dict) else None
        return field, q.websearch_to_tsquery(str(text))

    if kind == "match_phrase_prefix":
        (field, spec), = body.items()
        text = spec["query"] if isinstance(spec, dict) else spec
        toks = analyzer.tokens(str(text))
        if not toks:
            raise ValueError(f"analyzed to no tokens: {text!r}")
        if len(toks) == 1:
            return field, q.Prefix(toks[0])
        parts = [q.Term(t) for t in toks[:-1]] + [q.Prefix(toks[-1])]
        return field, q.PhraseSeq(parts)

    if kind == "bool":
        field = None

        def _sub(clauses):
            nonlocal field
            out = []
            for c in ([clauses] if isinstance(clauses, dict) else clauses):
                f, node = parse_query(c, analyzer)
                field = field or f
                out.append(node)
            return out

        must = _sub(body.get("must", [])) + _sub(body.get("filter", []))
        must_not = _sub(body.get("must_not", []))
        should = _sub(body.get("should", []))
        msm = int(body.get("minimum_should_match", 0))
        return field, q.Compound(must=must, must_not=must_not,
                                 should=should, min_should_match=msm)

    raise ValueError(f"unsupported ES query kind: {kind!r}")


def _aslist(v) -> list:
    return [] if v is None else ([v] if isinstance(v, dict) else list(v))


def _peek_field(dsl: dict[str, Any]) -> str | None:
    """The field a leaf clause targets, without parsing it (needed to pick
    the right analyzer BEFORE parse_query)."""
    (kind, body), = dsl.items()
    if kind in ("bool", "multi_match", "dis_max"):
        return None
    if kind == "query_string":
        return body.get("default_field") if isinstance(body, dict) else None
    if isinstance(body, dict):
        return next(iter(body))
    return None


def _bool_clause_fields(body: dict[str, Any], default_field: str) -> set:
    fields = set()
    for sec in ("must", "filter", "must_not", "should"):
        for c in _aslist(body.get(sec)):
            (k, _), = c.items()
            if k == "bool":
                fields |= _bool_clause_fields(c["bool"], default_field)
            else:
                fields.add(_peek_field(c) or default_field)
    return fields


def _bool_multi_field(idx: InvertedIndex, body: dict[str, Any],
                      default_field: str, scorer: str) -> DataFrame:
    """Cross-field `bool`: each clause compiles against ITS OWN field
    (single-field bool folds into one Compound AST instead). ES scoring
    semantics: `must` and matched `should` clauses contribute score,
    `filter` and `must_not` do not."""
    from serenedb_spark.operators.scoring import score as _score
    from serenedb_spark.plans.planner import compile_query

    def compiled(c: dict) -> tuple[str, Any]:
        f = _peek_field(c) or default_field
        f2, node = parse_query(c, idx.analyzer(f))
        f = f2 or f
        return f, compile_query(idx, f, node)

    musts = [compiled(c) for c in _aslist(body.get("must"))]
    filters = [compiled(c) for c in _aslist(body.get("filter"))]
    nots = [compiled(c) for c in _aslist(body.get("must_not"))]
    shoulds = [compiled(c) for c in _aslist(body.get("should"))]
    msm = int(body.get("minimum_should_match",
                       0 if (musts or filters) else 1))

    docs = None
    for _, c in musts + filters:
        docs = c.doc_ids if docs is None else docs.join(
            c.doc_ids, "doc_id", "left_semi")
    if shoulds and msm > 0:
        marked = [
            c.doc_ids.select("doc_id").withColumn("i", F.lit(i))
            for i, (_, c) in enumerate(shoulds)
        ]
        u = marked[0]
        for m in marked[1:]:
            u = u.unionByName(m)
        cnt = (
            u.groupBy("doc_id")
            .agg(F.count_distinct("i").alias("m"))
            .where(F.col("m") >= msm).select("doc_id")
        )
        docs = cnt if docs is None else docs.join(cnt, "doc_id", "left_semi")
    if docs is None:
        raise ValueError("bool query with no positive clause")
    for _, c in nots:
        docs = docs.join(c.doc_ids, "doc_id", "left_anti")

    # ES bool scoring SUMS the scoring clauses — so all clauses' per-term
    # contributions union into ONE aggregation keyed doc_id (per-field
    # stats resolved before the union), left-joined once to the filtered
    # doc set: one shuffle instead of a left-join chain per clause (the
    # same redesign multi_match got; a term appearing in two clauses
    # contributes twice, exactly as two independent clause scores would)
    scored = musts + shoulds
    from serenedb_spark.operators.scoring import (
        scored_contributions_multi, scorer_aggregator,
    )

    out = docs.select("doc_id")
    if scorer_aggregator(scorer) is not F.sum:
        # raw_dl's per-clause score is max(contrib), which does not
        # distribute over the union — keep per-clause scoring there
        cols = []
        for i, (f, c) in enumerate(scored):
            s = _score(idx, f, c.score_terms, scorer).select(
                "doc_id", F.col("score").alias(f"c{i}"))
            out = out.join(s, "doc_id", "left")
            cols.append(F.coalesce(F.col(f"c{i}"), F.lit(0.0)))
        total = sum(cols[1:], cols[0]) if cols else F.lit(0.0)
    else:
        u = None
        for f, c in scored:
            p = scored_contributions_multi(
                idx, [(f, t, b) for t, b in c.score_terms], scorer,
            ).select("doc_id", "contrib")
            u = p if u is None else u.unionByName(p)
        if u is not None:
            s = u.groupBy("doc_id").agg(F.sum("contrib").alias("__s"))
            out = out.join(s, "doc_id", "left")
            total = F.coalesce(F.col("__s"), F.lit(0.0))
        else:
            total = F.lit(0.0)
    return (
        out.select("doc_id", F.round(total, 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
    )


def _dis_max_combine(mtype: str, tie: float):
    """Cross-field score combine over the fields a doc MATCHED (no zero
    floor — a doc matching only one field keeps that field's score even
    if the scorer is negative-valued, per ES best_fields):
    most_fields sums; best_fields is dis_max — max plus tie_breaker ×
    the remaining fields' scores."""
    if mtype == "most_fields":
        return F.sum("s")
    if tie:
        return F.max("s") + F.lit(tie) * (F.sum("s") - F.max("s"))
    return F.max("s")


def _multi_match(idx: InvertedIndex, spec: dict[str, Any],
                 scorer: str) -> DataFrame:
    """ES multi_match: the query text is analyzed PER FIELD with that
    field's analyzer (so a keyword field sees one token, a text field
    many), scored per field, then combined — `best_fields` (default)
    takes the max per-field score (ES dis_max, with optional
    tie_breaker), `most_fields` sums them. Fields take the `name^boost`
    ES syntax. All fields share ONE postings scan: the literal
    (field, term, boost) query relation is broadcast-joined against
    postings/stats keyed by (field, term), so fields stop multiplying
    scans (dsl.cpp:394-407 builds one iterator forest likewise)."""
    from serenedb_spark.operators.scoring import (
        scored_contributions_multi, scorer_aggregator,
    )

    text = str(spec["query"])
    mtype = spec.get("type", "best_fields")
    tie = float(spec.get("tie_breaker", 0.0))
    if mtype in ("phrase", "phrase_prefix"):
        # ES lowers phrase-type multi_match onto dis_max of per-field
        # match_phrase(_prefix) clauses — reuse that path verbatim
        kind = ("match_phrase" if mtype == "phrase"
                else "match_phrase_prefix")
        names = [str(f).partition("^")[0] for f in spec["fields"]]
        return _dis_max(idx, {
            "queries": [{kind: {n: text}} for n in names],
            "tie_breaker": tie,
        }, names[0], scorer)
    field_terms: list[tuple[str, str, float]] = []
    for f in spec["fields"]:
        name, _, b = str(f).partition("^")
        boost = float(b) if b else 1.0
        # distinct tokens per field — same dedup AnyOf applies, so a
        # repeated query word never double-contributes
        for t in dict.fromkeys(idx.analyzer(name).tokens(text)):
            field_terms.append((name, t, boost))
    if not field_terms:
        raise ValueError(f"multi_match analyzed to no tokens: {text!r}")
    # ONE aggregation keyed doc_id (guide §2.4 "two operations keyed the
    # same way share one exchange" — here the (doc, field) partial scores
    # and the cross-field combine fold into a single groupBy): each
    # field's per-doc score becomes a conditional aggregate column, NULL
    # when the doc matched no term of that field, so the combine
    # (max / sum over MATCHED fields only — no zero floor, per ES
    # best_fields) reads straight off the null-skipping greatest/sum.
    # Replaces groupBy(doc_id, field) + groupBy(doc_id): 2 exchanges → 1.
    fields = list(dict.fromkeys(f for f, _, _ in field_terms))
    agg_of = scorer_aggregator(scorer)
    per_doc = (
        scored_contributions_multi(idx, field_terms, scorer)
        .groupBy("doc_id")
        .agg(*[
            agg_of(F.when(F.col("field") == f, F.col("contrib")))
            .alias(f"__s{i}")
            for i, f in enumerate(fields)
        ])
    )
    s_cols = [F.col(f"__s{i}") for i in range(len(fields))]
    if mtype == "most_fields":
        total = s_cols[0] if len(s_cols) == 1 else sum(
            (F.coalesce(c, F.lit(0.0)) for c in s_cols[1:]),
            F.coalesce(s_cols[0], F.lit(0.0)))
    else:
        mx = F.greatest(*s_cols) if len(s_cols) > 1 else s_cols[0]
        if tie:
            sm = sum((F.coalesce(c, F.lit(0.0)) for c in s_cols[1:]),
                     F.coalesce(s_cols[0], F.lit(0.0)))
            total = mx + F.lit(tie) * (sm - mx)
        else:
            total = mx
    return (
        per_doc.select("doc_id", F.round(total, 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
    )


def _dis_max(idx: InvertedIndex, spec: dict[str, Any],
             default_field: str, scorer: str) -> DataFrame:
    """ES dis_max over ARBITRARY subqueries (phrases, bools, ranges — not
    just term bags, which multi_match covers): each clause compiles and
    scores against its own field, restricted to the docs that clause
    MATCHES (a phrase clause must not score bag-of-words hits); the
    per-clause score relations union once and one aggregation applies
    max + tie_breaker × rest. Reference: dsl.cpp dis_max — best_fields
    multi_match lowers onto it."""
    from serenedb_spark.operators.scoring import score as _score
    from serenedb_spark.plans.planner import compile_query

    clauses = _aslist(spec.get("queries"))
    if not clauses:
        raise ValueError("dis_max requires a non-empty `queries` list")
    tie = float(spec.get("tie_breaker", 0.0))
    per_clause = []
    for c in clauses:
        f = _peek_field(c) or default_field
        f2, node = parse_query(c, idx.analyzer(f))
        f = f2 or f
        compiled = compile_query(idx, f, node)
        per_clause.append(
            _score(idx, f, compiled.score_terms, scorer,
                   doc_filter=compiled.doc_ids)
            .select("doc_id", F.col("score").alias("s")))
    u = per_clause[0]
    for p in per_clause[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("doc_id")
        .agg(F.round(_dis_max_combine("best_fields", tie), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
    )


def to_search_sql(index_name: str, idx: InvertedIndex,
                  body: dict[str, Any],
                  default_field: str | None = None) -> str | None:
    """Render an ES search body as the engine's dialect SQL — the
    reference's one-path design (server/connector/dsl.cpp translates
    DSL to SQL text and feeds PendingQuery). Returns None for shapes
    that keep their direct DataFrame plan (multi_match / dis_max /
    cross-field bool / match_all / pagination)."""
    from serenedb_spark.plans.search_sql import tsquery_to_sql

    query = body.get("query", {"match_all": {}})
    if body.get("from") or body.get("sort"):
        return None
    size = int(body.get("size", 10))
    field = default_field or idx.default_field()
    kind = next(iter(query)) if query else None
    if kind in (None, "match_all", "multi_match", "dis_max"):
        return None
    if kind == "bool" and len(
            _bool_clause_fields(query["bool"], field)) > 1:
        return None
    try:
        f, node = parse_query(query, idx.analyzer(field))
    except Exception:
        return None
    field = f or field
    try:
        qtext = tsquery_to_sql(node)
    except Exception:
        return None
    key = getattr(idx, "key", "doc_id")
    return (
        f"SELECT {key} AS doc_id, "
        f"round(BM25({index_name}.tableoid)::numeric, 4) AS score "
        f"FROM {index_name} WHERE {field} @@ ({qtext}) "
        f"ORDER BY BM25({index_name}.tableoid) DESC, {key} "
        f"LIMIT {size}"
    )


def es_search(
    idx: InvertedIndex,
    body: dict[str, Any],
    default_field: str | None = None,
    scorer: str = "bm25",
) -> DataFrame:
    """Execute an ES search body ({query, size, sort?}) against an index:
    the handlers.cpp:635 path with the SQL generation replaced by the
    DataFrame plan. Returns (doc_id, score) like an ES hits list."""
    from serenedb_spark.operators.scoring import score as _score
    from serenedb_spark.plans.planner import compile_query, is_pure_disjunction

    field = default_field or idx.default_field()
    query = body.get("query", {"match_all": {}})
    size = int(body.get("size", 10))
    offset = int(body.get("from", 0))

    if query == {"match_all": {}}:
        docs = idx.universe.where(F.col("field") == field).select("doc_id")
        out = docs.withColumn("score", F.lit(1.0)).orderBy("doc_id")
    elif next(iter(query)) == "multi_match":
        out = _multi_match(idx, query["multi_match"], scorer)
    elif next(iter(query)) == "dis_max":
        out = _dis_max(idx, query["dis_max"], field, scorer)
    elif (next(iter(query)) == "bool"
          and len(_bool_clause_fields(query["bool"], field)) > 1):
        out = _bool_multi_field(idx, query["bool"], field, scorer)
    else:
        f, node = parse_query(query, idx.analyzer(field))
        field = f or field
        compiled = compile_query(idx, field, node)
        s = _score(idx, field, compiled.score_terms, scorer)
        # scorer-reuse: a pure disjunction's score keys ARE the match set
        hits = (s if is_pure_disjunction(node)
                else compiled.doc_ids.join(s, "doc_id", "left"))
        out = (
            hits.select(
                "doc_id",
                F.round(F.coalesce(F.col("score"), F.lit(0.0)), 4)
                .alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("doc_id"))
        )
    if offset:
        # ES from/size pagination: offset+limit then client-side drop of
        # the first `offset` — Spark has no OFFSET pushdown on sorted
        # limits, and from+size stays tiny by ES convention (deep paging
        # belongs to the scroll cursor, which is keyset-based)
        if offset + size > MAX_RESULT_WINDOW:
            raise ValueError(
                f"from+size ({offset + size}) exceeds max_result_window "
                f"({MAX_RESULT_WINDOW}); use the scroll cursor for deep "
                "paging"
            )
        rows = out.limit(offset + size).collect()[offset:]
        return local_frame(
            out.sparkSession,
            ", ".join(f"`{c}` {t}" for c, t in out.dtypes),
            [r.asDict() for r in rows])
    return out.limit(size)


_METRIC_AGGS = {
    "min": F.min, "max": F.max, "avg": F.avg, "sum": F.sum,
    "value_count": F.count,
    "cardinality": F.count_distinct,
}


def es_aggs(df: DataFrame, aggs: dict[str, Any]) -> DataFrame:
    """ES `aggs` body over a typed DataFrame (dsl.cpp:518-556 surface):
    one bucket agg (`terms` or `date_histogram`) with optional nested
    metric sub-aggs, or top-level metric aggs. Returns one row per bucket
    (or one row for pure metrics), columns named by the agg names."""
    (name, spec), = aggs.items()
    (kind, body) = next(iter(spec.items() if "aggs" not in spec else
                             ((k, v) for k, v in spec.items() if k != "aggs")))

    def _metrics(sub: dict[str, Any]) -> list:
        out = []
        for sub_name, sub_spec in sub.items():
            (mk, mb), = sub_spec.items()
            out.append(_METRIC_AGGS[mk](mb["field"]).alias(sub_name))
        return out

    if kind == "terms":
        field = body["field"]
        size = int(body.get("size", 10))
        metrics = _metrics(spec.get("aggs", {}))
        return (
            df.groupBy(F.col(field).alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"), *metrics)
            .orderBy(F.col("doc_count").desc(), F.col("key"))
            .limit(size)
        )

    if kind == "date_histogram":
        field = body["field"]
        interval = body.get("calendar_interval", body.get("interval", "day"))
        unit = {"1d": "day", "1h": "hour", "1M": "month"}.get(interval, interval)
        metrics = _metrics(spec.get("aggs", {}))
        return (
            df.groupBy(F.date_trunc(unit, F.col(field)).alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"), *metrics)
            .orderBy("key")
        )

    if kind in _METRIC_AGGS:
        return df.agg(_METRIC_AGGS[kind](body["field"]).alias(name))

    raise ValueError(f"unsupported ES aggregation kind {kind!r}")


def es_terms_agg(idx: InvertedIndex, field: str, size: int = 10) -> DataFrame:
    """ES `terms` aggregation — the dsl.cpp:518 translation target: facets
    straight from the term dictionary (doc_count ordering, term tiebreak)."""
    return (
        idx.term_stats.where(F.col("field") == field)
        .select("term", F.col("df").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), "term")
        .limit(size)
    )


def es_significant_terms_agg(
    idx: InvertedIndex,
    fg_doc_ids: DataFrame,
    field: str,
    size: int = 10,
    min_doc_count: int = 2,
) -> DataFrame:
    """ES `significant_terms` aggregation: terms over-represented in the
    query's match set vs the whole index (ES default scoring is JLH; here
    the documented `lift` heuristic shared with the cookbook recipe —
    fg_docs − bg_docs·fg_total/bg_total — which preserves the ES ordering
    contract of 'surprising first, frequency as tiebreak')."""
    from serenedb_spark.operators.cookbook import significant_terms

    return significant_terms(
        idx, fg_doc_ids, field=field,
        min_fg_docs=min_doc_count, limit=size,
    ).select("term", F.col("fg_docs").alias("doc_count"),
             F.col("bg_docs").alias("bg_count"), "lift")
