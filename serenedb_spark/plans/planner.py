"""TSQUERY → DataFrame-plan compiler (the IRESEARCH_SCAN analogue).

Reference flow: predicates are claimed at plan time and compiled to an
irs::Filter executed per segment, producing doc ids that are then
materialized from the columnstore (server/connector/duckdb_table_function.cpp
:1178-1226, search_filter_builder.cpp). IResearch evaluates the whole
boolean filter as one iterator tree over the posting lists. Here the same
claim produces a DataFrame graph, then a late-materialization join back to
the docstore:
  * a boolean tree over Term/AnyOf/AllOf/Phrase leaves is ONE postings
    scan and ONE groupBy(doc_id) carrying a presence flag per term (and the
    positions of phrase words), with the tree evaluated as a column
    predicate (_flag_compile);
  * every other shape (dictionary expansions, phrase sequences, n-gram
    similarity, compounds, unanchored trees) falls back to one
    term-filtered postings scan per leaf and set algebra on doc_id.

Scale discipline (100 TB):
  * every leaf starts from postings filtered by literal term predicates —
    pushed into the scan (a parquet filter that also prunes term buckets on
    a reopened save_index layout); the corpus is never scanned.
  * term-dictionary expansions (prefix/wildcard/regexp/fuzzy/range) filter
    the tiny term_stats table and BROADCAST the matched term list into the
    postings join.
  * the fallback's doc-id set algebra uses semi/anti joins on doc_id, which
    AQE converts to broadcast joins when one side is small (the common
    case: selective predicates).
  * NULL soundness: `col @@ q` is NULL for NULL col under SQL 3VL, so NOT
    excludes those docs. We carry a per-field `universe` of non-null docs and
    compute NOT as anti-join against it (reference soundness note:
    search_filter_builder.hpp:43-56).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serenedb_spark.operators.indexing import InvertedIndex
from serenedb_spark.plans import tsquery as q
from serenedb_spark.sources.local import local_frame

#: SET sdb_levenshtein_max_terms analogue (config_variables.cpp): a
#: session-wide cap on fuzzy dictionary expansion, tightening any
#: per-node max_terms when set
LEVENSHTEIN_MAX_TERMS: int | None = None


@dataclass
class CompiledQuery:
    """doc_ids: distinct matching doc ids; score_terms: (term, boost) pairs —
    literal or term-dict-expanded — feeding the scorer."""

    doc_ids: DataFrame
    score_terms: DataFrame  # columns: term STRING, boost DOUBLE
    #: literal (term, boost) pairs when the score-term set is known
    #: driver-side (no dictionary expansion) — lets the scorer skip the
    #: collect job it would otherwise run on the tiny local relation
    terms_local: list | None = None


def _postings(idx: InvertedIndex, field: str) -> DataFrame:
    return idx.postings.where(F.col("field") == field)


def _postings_for_terms(idx: InvertedIndex, field: str, terms: list[str]) -> DataFrame:
    """Term-filtered postings; when the index was saved with term buckets
    (save_index partitionBy), add the bucket predicate so the scan touches
    at most |terms| of N partition directories (partition pruning — the
    100 TB path)."""
    P = _postings(idx, field).where(F.col("term").isin(terms))
    if "bucket" in idx.postings.columns:
        from serenedb_spark.operators.indexing import py_term_bucket

        buckets = sorted({py_term_bucket(t) for t in terms})
        P = P.where(F.col("bucket").isin(buckets))
    return P


def _terms_df(idx: InvertedIndex, terms: list[str]) -> DataFrame:
    return local_frame(idx.postings.sparkSession, "term string",
                       [{"term": t} for t in terms])


def _empty_terms(idx: InvertedIndex) -> DataFrame:
    return _boosted_terms(idx, {})


def _boosted_terms(idx: InvertedIndex, boosts: dict[str, float]) -> DataFrame:
    """The (term, boost) relation of a driver-held term list."""
    return local_frame(idx.postings.sparkSession, "term string, boost double",
                       [{"term": t, "boost": float(b)}
                        for t, b in boosts.items()])


_POSIX_CLASSES = {
    "alpha": r"\p{Alpha}", "digit": r"\p{Digit}", "alnum": r"\p{Alnum}",
    "upper": r"\p{Upper}", "lower": r"\p{Lower}", "space": r"\s",
    "punct": r"\p{Punct}", "xdigit": r"\p{XDigit}", "blank": r"\p{Blank}",
    "cntrl": r"\p{Cntrl}", "graph": r"\p{Graph}", "print": r"\p{Print}",
}


def _posix_classes_to_java(pat: str) -> str:
    def sub(m: re.Match) -> str:
        return _POSIX_CLASSES.get(m.group(1), m.group(0))

    # inside a bracket expression `[[:alpha:]]` the class expands to the
    # bare \p{...}; Java accepts it both inside and outside brackets
    return re.sub(r"\[:([a-z]+):\]", sub, pat)


def _damerau_le(col, w: str, d: int):
    """Column predicate: optimal-string-alignment Damerau-Levenshtein
    distance(col, w) <= d.  Runs only on the length- and 2d-Levenshtein-
    pruned candidate slice of the term dictionary, batched via Arrow."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("boolean", PandasUDFType.SCALAR)
    def _ok(s):
        def dist(a: str) -> int:
            if a is None:
                return d + 1
            la, lb = len(a), len(w)
            prev2: list[int] = []
            prev = list(range(lb + 1))
            for i in range(1, la + 1):
                cur = [i] + [0] * lb
                for j in range(1, lb + 1):
                    cost = 0 if a[i - 1] == w[j - 1] else 1
                    cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                                 prev[j - 1] + cost)
                    if (i > 1 and j > 1 and a[i - 1] == w[j - 2]
                            and a[i - 2] == w[j - 1]):
                        cur[j] = min(cur[j], prev2[j - 2] + 1)
                prev2, prev = prev, cur
            return prev[lb]

        return s.map(lambda a: dist(a) <= d)

    return _ok(col)


def _expand(idx: InvertedIndex, field: str, node: q.TSQuery) -> DataFrame:
    """Term-dictionary expansion for multi-term leaves → DataFrame[term]."""
    td = idx.term_dict(field)
    if isinstance(node, q.Prefix):
        return td.where(F.col("term").startswith(node.prefix)).select("term")
    if isinstance(node, q.Wildcard):
        return td.where(F.col("term").like(node.pattern)).select("term")
    if isinstance(node, q.Regexp):
        pat = node.pattern
        if getattr(node, "syntax", "perl") == "posix":
            # Java regex lacks POSIX bracket classes — translate
            # [[:alpha:]] etc. to the \p{...} US-ASCII classes
            pat = _posix_classes_to_java(pat)
        return td.where(
            F.col("term").rlike(f"^(?:{pat})$")
        ).select("term")
    if isinstance(node, q.Fuzzy):
        # prune by |len(term) - len(w)| <= d before the edit-distance check —
        # the poor man's Levenshtein automaton (SURVEY §7 hard part (c)).
        # An exact `prefix` pins the start of the candidate; the distance
        # is measured on the remainder (ts_levenshtein.cpp prefix arg).
        w, d, pre = node.term, node.distance, node.prefix
        rest = F.col("term")
        if pre:
            td = td.where(F.col("term").startswith(pre))
            rest = F.substring(F.col("term"), len(pre) + 1, 2 ** 30)
        cand = td.where(
            (F.length(rest) >= len(w) - d) & (F.length(rest) <= len(w) + d))
        lev = F.levenshtein(rest, F.lit(w))
        if node.transpositions:
            # Damerau ≤ plain Levenshtein, and a transposition costs at
            # most 2 plain edits — so lev ≤ d accepts outright, lev > 2d
            # rejects outright, and only the ring in between needs the
            # exact Damerau check (Arrow-batched, tiny candidate set)
            cand = cand.where(lev <= 2 * d)
            cand = cand.where((lev <= d) | _damerau_le(rest, w, d))
        else:
            cand = cand.where(lev <= d)
        cap = node.max_terms
        if LEVENSHTEIN_MAX_TERMS is not None:
            cap = min(cap, LEVENSHTEIN_MAX_TERMS)
        return cand.orderBy("term").limit(cap).select("term")
    if isinstance(node, q.Between):
        c = F.lit(True)
        if node.lo is not None:
            c = c & (
                F.col("term") >= node.lo
                if node.lo_inclusive
                else F.col("term") > node.lo
            )
        if node.hi is not None:
            c = c & (
                F.col("term") <= node.hi
                if node.hi_inclusive
                else F.col("term") < node.hi
            )
        return td.where(c).select("term")
    raise TypeError(f"not an expansion leaf: {node!r}")


def is_pure_disjunction(node: q.TSQuery) -> bool:
    """True when `docs containing ≥1 positive query term` ≡ the match set —
    then a scored search can reuse the scoring relation's key set and skip
    the separate match branch entirely (the reference's scorer-reuse
    rewrite, iresearch_plan.cpp:819 ReuseExistingScoreColumn)."""
    if isinstance(node, q.Term):
        return True
    if isinstance(node, q.AnyOf):
        return node.min_match <= 1
    if isinstance(node, q.Or):
        return all(is_pure_disjunction(p) for p in node.parts)
    if isinstance(node, q.Boost):
        return is_pure_disjunction(node.part)
    return False


def _wildcard_gram_claim(idx: InvertedIndex, field: str, node: q.TSQuery,
                         boost: float) -> "CompiledQuery | None":
    """ts_like / ts_starts_with over a WILDCARD-template index
    (create_tsdictionary.cpp:771; site_docs create_text_search_dictionary/
    wildcard.test): the index terms are boundary-marked value grams, so
    the pattern compiles to an AND over the anchored grams of its literal
    runs (the Lucene wildcard-over-ngrams prefilter) followed by an EXACT
    LIKE verify against the docstore column — a gram term matching
    'sea%' must not claim docs merely containing 'sea'."""
    import re as _re

    from serenedb_spark.analysis.analyzers import (WILDCARD_META,
                                                   get_analyzer)

    meta = WILDCARD_META.get(idx.fields.get(field))
    if meta is None:
        return None
    n, inner = meta
    pat = (node.pattern if isinstance(node, q.Wildcard)
           else node.prefix + "%").lower()
    dec = (("" if pat.startswith(("%", "_")) else "$") + pat
           + ("" if pat.endswith("%") or pat.endswith("_") else "$"))
    runs = [r for r in _re.split(r"[%_]", dec) if r]
    grams = list(dict.fromkeys(
        g for r in runs for g in
        (r[i:i + n] for i in range(len(r) - n + 1))))
    if grams:
        # count ≡ count_distinct: postings unique per (term, doc_id)
        claim = (
            _postings_for_terms(idx, field, grams)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("m"))
            .where(F.col("m") >= len(grams))
            .select("doc_id")
        )
    else:  # pattern too short for any gram: verify over the field's docs
        claim = idx.universe.where(F.col("field") == field) \
            .select("doc_id")
    store = idx.docstore.join(claim, "doc_id", "left_semi")
    if inner is None:
        ok = F.lower(F.col(field)).like(pat)
    else:
        ia = get_analyzer(inner)
        ok = F.exists(ia.expr(F.lower(F.col(field))),
                      lambda t: t.like(pat))
    docs = store.where(ok).select("doc_id")
    tdf = _terms_df(idx, grams).withColumn("boost", F.lit(boost))
    return CompiledQuery(docs, tdf)


def compile_query(
    idx: InvertedIndex, field: str, node: q.TSQuery, boost: float = 1.0
) -> CompiledQuery:
    """Recursively compile an AST node to (doc_ids, score_terms). The AST
    is simplified first (plans/optimizer.py — the reference's
    filter_optimizer pass); the rewrite is idempotent so recursive calls
    are free."""
    from serenedb_spark.plans.optimizer import optimize

    node = optimize(node)
    P = _postings(idx, field)

    if isinstance(node, q.Term):
        docs = _postings_for_terms(idx, field, [node.term]).select("doc_id")
        terms = _terms_df(idx, [node.term]).withColumn("boost", F.lit(boost))
        return CompiledQuery(docs, terms, [(node.term, boost)])

    if isinstance(node, q.AnyOf):
        terms = list(dict.fromkeys(node.terms))
        if node.min_match <= 1:
            # pure disjunction: distinct is one exchange; the
            # count-distinct aggregate would be two
            docs = (
                _postings_for_terms(idx, field, terms)
                .select("doc_id").distinct()
            )
        else:
            # postings are unique per (term, doc_id), so every query
            # term appears at most once per group: count ≡ count_distinct
            # without the two-level distinct-aggregate rewrite
            docs = (
                _postings_for_terms(idx, field, terms)
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("m"))
                .where(F.col("m") >= node.min_match)
                .select("doc_id")
            )
        tdf = _terms_df(idx, terms).withColumn("boost", F.lit(boost))
        return CompiledQuery(docs, tdf, [(t, boost) for t in terms])

    if isinstance(node, q.AllOf):
        terms = list(dict.fromkeys(node.terms))
        # count ≡ count_distinct: postings unique per (term, doc_id)
        docs = (
            _postings_for_terms(idx, field, terms)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("m"))
            .where(F.col("m") >= len(terms))
            .select("doc_id")
        )
        tdf = _terms_df(idx, terms).withColumn("boost", F.lit(boost))
        return CompiledQuery(docs, tdf, [(t, boost) for t in terms])

    if isinstance(node, q.Phrase):
        docs = _compile_phrase(idx, field, node)
        tdf = _terms_df(idx, list(dict.fromkeys(node.words))).withColumn(
            "boost", F.lit(boost)
        )
        return CompiledQuery(
            docs, tdf, [(t, boost) for t in dict.fromkeys(node.words)])

    if isinstance(node, q.PhraseSeq):
        docs = _compile_phrase_seq(idx, field, node)
        tdf = _phrase_seq_terms(idx, field, node).withColumn(
            "boost", F.lit(boost)
        )
        return CompiledQuery(docs, tdf)

    if isinstance(node, (q.Prefix, q.Wildcard)):
        wc = _wildcard_gram_claim(idx, field, node, boost)
        if wc is not None:
            return wc

    if isinstance(node, (q.Prefix, q.Wildcard, q.Regexp, q.Fuzzy, q.Between)):
        terms = _expand(idx, field, node)
        docs = (
            P.join(F.broadcast(terms), "term", "left_semi")
            .select("doc_id")
            .distinct()
        )
        tdf = terms.withColumn("boost", F.lit(boost))
        return CompiledQuery(docs, tdf)

    if isinstance(node, q.NgramSim):
        an = idx.analyzer(field)
        grams = list(dict.fromkeys(an.tokens(node.text)))
        need = math.ceil(node.threshold * len(grams))
        # count ≡ count_distinct: postings unique per (term, doc_id)
        docs = (
            _postings_for_terms(idx, field, grams)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("m"))
            .where(F.col("m") >= need)
            .select("doc_id")
        )
        tdf = _terms_df(idx, grams).withColumn("boost", F.lit(boost))
        return CompiledQuery(docs, tdf, [(t, boost) for t in grams])

    if isinstance(node, (q.And, q.Or, q.Not)):
        fp = _flag_compile(idx, field, node, boost)
        if fp is not None:
            return fp

    if isinstance(node, q.And):
        parts = [compile_query(idx, field, p, boost) for p in node.parts]
        docs = parts[0].doc_ids
        for p in parts[1:]:
            docs = docs.join(p.doc_ids, "doc_id", "left_semi")
        return CompiledQuery(docs.distinct(), _union_terms(idx, parts),
                             _union_terms_local(parts))

    if isinstance(node, q.Or):
        parts = [compile_query(idx, field, p, boost) for p in node.parts]
        docs = parts[0].doc_ids
        for p in parts[1:]:
            docs = docs.unionByName(p.doc_ids)
        return CompiledQuery(docs.distinct(), _union_terms(idx, parts),
                             _union_terms_local(parts))

    if isinstance(node, q.Not):
        inner = compile_query(idx, field, node.part, boost)
        universe = idx.universe.where(F.col("field") == field).select("doc_id")
        docs = universe.join(inner.doc_ids, "doc_id", "left_anti")
        # negative clauses do not contribute to relevance (Lucene/reference)
        return CompiledQuery(docs, _empty_terms(idx), [])

    if isinstance(node, q.Boost):
        return compile_query(idx, field, node.part, boost * node.factor)

    if isinstance(node, q.Compound):
        must = [compile_query(idx, field, p, boost) for p in node.must]
        must_not = [compile_query(idx, field, p, boost) for p in node.must_not]
        should = [compile_query(idx, field, p, boost) for p in node.should]

        if not (must or must_not or should):
            # ts_compound(NULL, NULL, NULL) compiles to the Empty filter —
            # no clauses match nothing (null_semantics.test:500)
            return CompiledQuery(
                _postings_for_terms(idx, field, []).select("doc_id"),
                _empty_terms(idx), [])
        if must:
            docs = must[0].doc_ids
            for p in must[1:]:
                docs = docs.join(p.doc_ids, "doc_id", "left_semi")
        elif should:
            docs = None
        else:
            docs = idx.universe.where(F.col("field") == field).select("doc_id")

        msm = node.min_should_match
        if should and (docs is None or msm > 0):
            eff_msm = max(msm, 1) if docs is None else msm
            marked = [
                p.doc_ids.distinct().withColumn("part", F.lit(i))
                for i, p in enumerate(should)
            ]
            u = marked[0]
            for m in marked[1:]:
                u = u.unionByName(m)
            # each marked part is distinct per doc_id before the
            # union, so (doc_id, part) is unique: count ≡ count_distinct
            satisfied = (
                u.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("m"))
                .where(F.col("m") >= eff_msm)
                .select("doc_id")
            )
            docs = (
                satisfied
                if docs is None
                else docs.join(satisfied, "doc_id", "left_semi")
            )

        for p in must_not:
            docs = docs.join(p.doc_ids, "doc_id", "left_anti")

        return CompiledQuery(
            docs.distinct(), _union_terms(idx, must + should),
            _union_terms_local(must + should)
        )

    raise TypeError(f"unsupported TSQuery node: {node!r}")


#: cap on the per-term flag columns of the single-aggregation boolean
#: fast path; wider term sets fall back to the per-leaf set algebra
_FLAG_MAX_TERMS = 64


def _flag_compile(idx: InvertedIndex, field: str, node: q.TSQuery,
                  boost: float) -> "CompiledQuery | None":
    """Boolean trees over Term/AnyOf/AllOf/Phrase leaves compiled as ONE
    aggregation (guide §2.4 — remove shuffles outright): filter postings
    to every involved term, groupBy(doc_id) with a presence flag per
    term, and evaluate the tree as a column predicate over the flags.
    A phrase word also gets its positions array in the same aggregate
    (postings are unique per (term, doc_id), so `first` sees one value
    at most); the phrase predicate is _compile_phrase's slop fold over
    those columns, a word absent from the doc being an empty array. The
    per-leaf shape shuffled one distinct aggregate per leaf, chained
    semi/anti joins and ran a driver job to order each phrase's join;
    this is one exchange regardless of tree size, and the exchange
    carries only the involved terms' rows (plus phrase positions).

    Sound only when the all-leaves-false evaluation is False
    ("positive-anchored"): every matching doc then carries at least one
    involved term, so the grouped relation covers the match set. NOT
    stays 3VL-correct because every candidate doc has a posting in this
    field, hence is in the field's non-null universe. Returns None (→
    set-algebra fallback) for other leaves (dictionary expansions,
    phrase sequences, n-gram similarity, compounds), unanchored shapes
    (e.g. a bare NOT), or oversized term sets. compile_query routes only
    And/Or/Not here; a bare phrase keeps _compile_phrase."""
    terms: list[str] = []
    t_ix: dict[str, int] = {}
    positional: set[int] = set()

    def intern(t: str) -> int:
        if t not in t_ix:
            t_ix[t] = len(terms)
            terms.append(t)
        return t_ix[t]

    # conv → (pred_builder, value-under-all-false, [(term, boost)...]) | None
    # where pred_builder(flag columns, positions columns) → predicate
    def conv(n, b):
        if isinstance(n, q.Boost):
            return conv(n.part, b * n.factor)
        if isinstance(n, q.Phrase) and len(n.words) == 1:
            n = q.Term(n.words[0])
        if isinstance(n, q.Term):
            i = intern(n.term)
            return (lambda fl, pos, i=i: fl[i]), False, [(n.term, b)]
        if isinstance(n, q.Phrase):
            if not n.words:
                return None
            ixs = [intern(w) for w in n.words]
            positional.update(ixs)

            def pred(fl, pos, ixs=ixs, gaps=n.gaps):
                return F.size(_slop_fold([pos[i] for i in ixs], gaps)) > 0

            return pred, False, [(w, b) for w in dict.fromkeys(n.words)]
        if isinstance(n, (q.AnyOf, q.AllOf)):
            ts = list(dict.fromkeys(n.terms))
            if not ts:
                return None
            need = (len(ts) if isinstance(n, q.AllOf)
                    else max(1, n.min_match))
            ixs = [intern(t) for t in ts]
            if need > len(ts):
                return ((lambda fl, pos: F.lit(False)), False,
                        [(t, b) for t in ts])

            def pred(fl, pos, ixs=ixs, need=need):
                if need == 1:
                    c = fl[ixs[0]]
                    for i in ixs[1:]:
                        c = c | fl[i]
                    return c
                s = fl[ixs[0]].cast("int")
                for i in ixs[1:]:
                    s = s + fl[i].cast("int")
                return s >= need

            return pred, False, [(t, b) for t in ts]
        if isinstance(n, (q.And, q.Or)):
            subs = [conv(p, b) for p in n.parts]
            if any(s is None for s in subs):
                return None
            is_and = isinstance(n, q.And)

            def pred(fl, pos, subs=subs, is_and=is_and):
                c = subs[0][0](fl, pos)
                for s in subs[1:]:
                    c = (c & s[0](fl, pos)) if is_and else (c | s[0](fl, pos))
                return c

            af = (all if is_and else any)(s[1] for s in subs)
            tl = [tb for s in subs for tb in s[2]]
            return pred, af, tl
        if isinstance(n, q.Not):
            sub = conv(n.part, b)
            if sub is None:
                return None
            # negative clauses contribute no score terms (Lucene/reference)
            return ((lambda fl, pos, sub=sub: ~sub[0](fl, pos)),
                    (not sub[1]), [])
        return None

    res = conv(node, boost)
    if res is None or len(terms) > _FLAG_MAX_TERMS:
        return None
    pred, all_false, tl = res
    if all_false:
        return None  # not positive-anchored: needs the universe relation
    P = _postings_for_terms(idx, field, terms)
    is_t = [F.col("term") == F.lit(t) for t in terms]
    g = P.groupBy("doc_id").agg(
        *[F.max(c).alias(f"__f{i}") for i, c in enumerate(is_t)],
        *[F.first(F.when(is_t[i], F.col("positions")), ignorenulls=True)
          .alias(f"__p{i}") for i in sorted(positional)])
    flags = [F.col(f"__f{i}") for i in range(len(terms))]
    pos = {i: F.coalesce(F.col(f"__p{i}"), F.array().cast("array<int>"))
           for i in positional}
    docs = g.where(pred(flags, pos)).select("doc_id")
    merged: dict[str, float] = {}
    for t, b in tl:
        merged[t] = max(merged.get(t, b), b)
    return CompiledQuery(docs, _boosted_terms(idx, merged),
                         list(merged.items()))


def _union_terms_local(parts: list["CompiledQuery"]) -> list | None:
    """Driver-side mirror of _union_terms: max boost per term, or None as
    soon as any part's term set required dictionary expansion."""
    merged: dict[str, float] = {}
    for p in parts:
        if p.terms_local is None:
            return None
        for t, b in p.terms_local:
            merged[t] = max(merged.get(t, b), b)
    return list(merged.items())


def _union_terms(idx: InvertedIndex, parts: list[CompiledQuery]) -> DataFrame:
    """Merge score-term sets; duplicate terms keep their max boost (the
    reference unifies duplicate scorer calls, iresearch_plan.cpp:819)."""
    dfs = [p.score_terms for p in parts]
    if not dfs:
        return _empty_terms(idx)
    u = dfs[0]
    for d in dfs[1:]:
        u = u.unionByName(d)
    return u.groupBy("term").agg(F.max("boost").alias("boost"))


def _compile_phrase(idx: InvertedIndex, field: str, ph: q.Phrase) -> DataFrame:
    """Positions-correct phrase/slop matching (SURVEY §7 hard part (a)).

    One postings row per phrase word (positions pre-sorted at build), joined
    on doc_id; the slop windows are verified with a JVM-side fold over the
    positions arrays — filter/exists higher-order functions, no Python UDF:

        valid_0 = positions(w0)
        valid_i = [p ∈ positions(wi) | ∃ q ∈ valid_{i-1}: lo_i ≤ p-q ≤ hi_i]
        match  ⇔ valid_{n-1} ≠ ∅

    Matches reference semantics in ts_phrase.cpp + slop_phrase.hpp (ordered,
    per-gap [min,max] windows).
    """
    words = ph.words
    if len(words) == 1:
        return _postings_for_terms(idx, field, [words[0]]).select("doc_id")

    # conjunction leads (reference §4.2: smallest posting list drives the
    # join): order the doc_id join chain by ascending document frequency,
    # looked up from the tiny term_stats table; a word missing from the
    # dictionary (df=0) leads and short-circuits to empty immediately.
    # The positions-validation fold below still runs in phrase order.
    dfs = {
        r.term: r.df
        for r in idx.term_dict(field)
        .where(F.col("term").isin(list(set(words))))
        .select("term", "df").collect()
    }
    join_order = sorted(range(len(words)), key=lambda i: (dfs.get(words[i], 0), i))

    joined = None
    for i in join_order:
        part = (
            _postings_for_terms(idx, field, [words[i]])
            .select("doc_id", F.col("positions").alias(f"pos{i}"))
        )
        joined = part if joined is None else joined.join(part, "doc_id")

    valid = _slop_fold([F.col(f"pos{i}") for i in range(len(words))],
                       ph.gaps)
    return joined.where(F.size(valid) > 0).select("doc_id")


def _slop_fold(positions: list, gaps) -> "F.Column":
    """The positions of the phrase's last word that end a match — the
    fold _compile_phrase documents; the phrase matches iff non-empty."""

    def gap_pred(prev, lo, hi):
        def pred(p):
            return F.exists(
                prev, lambda v: (p - v >= F.lit(lo)) & (p - v <= F.lit(hi))
            )

        return pred

    valid = positions[0]
    for col, (lo, hi) in zip(positions[1:], gaps):
        valid = F.filter(col, gap_pred(valid, lo, hi))
    return valid


#: leaves allowed as phrase-sequence parts (reference search.h:37-39)
_SEQ_PART_TYPES = (q.Term, q.AnyOf, q.Prefix, q.Wildcard, q.Regexp,
                   q.Fuzzy, q.Between)


def _seq_part_positions(idx: InvertedIndex, field: str,
                        part: q.TSQuery, i: int) -> DataFrame:
    """(doc_id, pos{i}) — per-doc sorted union of positions over the part's
    candidate term set. Literal parts stay a term-IN postings filter;
    expansion parts broadcast the term-dict match into the postings join
    (same shape as the non-positional expansion leaves)."""
    if isinstance(part, q.Term):
        P = _postings_for_terms(idx, field, [part.term])
        return P.select("doc_id", F.col("positions").alias(f"pos{i}"))
    if isinstance(part, q.AnyOf):
        # any-of as a phrase part: position set = union over its terms
        # (min_match is meaningless inside a positional part; enforced =1)
        P = _postings_for_terms(idx, field, list(dict.fromkeys(part.terms)))
    elif isinstance(part, _SEQ_PART_TYPES):
        terms = _expand(idx, field, part)
        P = _postings(idx, field).join(F.broadcast(terms), "term", "left_semi")
    else:
        raise TypeError(f"unsupported phrase-sequence part: {part!r}")
    return (
        P.groupBy("doc_id")
        .agg(F.sort_array(F.flatten(F.collect_list("positions")))
             .alias(f"pos{i}"))
    )


def _compile_phrase_seq(idx: InvertedIndex, field: str,
                        ph: q.PhraseSeq) -> DataFrame:
    """Positions-correct heterogeneous phrase (`##` chains): identical slop
    fold to _compile_phrase, but each position's candidate set comes from a
    term-set leaf instead of one literal word (reference stitches
    term/prefix/fuzzy/any/between parts into one irs phrase filter,
    search.h:87; demo3:181-205)."""
    parts = ph.parts
    if len(parts) == 1:
        return _seq_part_positions(idx, field, parts[0], 0).select("doc_id")

    joined = None
    for i, part in enumerate(parts):
        rel = _seq_part_positions(idx, field, part, i)
        joined = rel if joined is None else joined.join(rel, "doc_id")

    valid = _slop_fold([F.col(f"pos{i}") for i in range(len(parts))],
                       ph.gaps)
    return joined.where(F.size(valid) > 0).select("doc_id")


def _phrase_seq_terms(idx: InvertedIndex, field: str,
                      ph: q.PhraseSeq) -> DataFrame:
    """Union of every part's candidate terms — the score-term relation."""
    literal: list[str] = []
    expanded: list[DataFrame] = []
    for part in ph.parts:
        if isinstance(part, q.Term):
            literal.append(part.term)
        elif isinstance(part, q.AnyOf):
            literal.extend(part.terms)
        else:
            expanded.append(_expand(idx, field, part))
    out = _terms_df(idx, list(dict.fromkeys(literal)))
    for e in expanded:
        out = out.unionByName(e)
    return out.distinct()
