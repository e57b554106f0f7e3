"""Relevance scorers — BM25 / TFIDF / LM-Dirichlet over postings + stats.

Reference scorer list: ``BM25(oid[,k1,b]) TFIDF lm_jm lm_dirichlet
indri_dirichlet dfi raw_boost raw_tf raw_dl``
(server/catalog/scorer_options.cpp:197-199; irs impls
libs/iresearch/include/iresearch/search/{bm25,tfidf,lm_dirichlet}.cpp).

Formulas (documented; the DuckDB oracle in plans/oracle.py mirrors them
symbol-for-symbol so scores hash-match):

  BM25(k1, b):      idf = ln(1 + (N - df + 0.5)/(df + 0.5))
                    tfn = freq*(k1+1) / (freq + k1*(1 - b + b*dl/avgdl))
                    contribution = boost * idf * tfn
  TFIDF:            contribution = boost * sqrt(freq) *
                    ln(1 + (N+1)/(df+1))   — the reference's idf
                    (full_text_search.test:535 pins ln(2.5) at N=5,df=3)
  LM-Dirichlet(mu): contribution = boost *
                    max(0, ln(1 + freq/(mu * ctf/total_dl)) + ln(mu/(dl+mu))/|q|)
                    — Zhai & Lafferty smoothing; the per-doc length penalty
                    ln(mu/(dl+mu)) is folded per term (|q| = #query terms)
                    to keep the contribution shape uniform.
  raw_tf:           contribution = boost * freq
  raw_dl:           dl

One function builds the scoring rows, scored_contributions_multi: it
takes (field, term, boost) triples — a compiled query's driver-held
score terms, tagged with their field — and returns one (doc_id, field,
contrib) row per matched (doc × query term) pair, in one term-filtered
postings scan (bucket-pruned on a saved layout) whatever the number of
fields (SereneDB scores with one scorer over one iterator forest,
server/network/http/es/dsl.cpp:394-407). Per-term stats arrive as
literal CASE columns up to SCORED_TERMS_LIMIT pairs and through a
broadcast stats join above it; a field without the `norm` feature reads
dl as avgdl. score, scored_topk and every ES / SQL / session scorer
aggregate those rows. Everything is built-in column expressions; no
Python per row.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from serenedb_spark.operators.indexing import InvertedIndex
from serenedb_spark.plans.planner import _postings_for_terms
from serenedb_spark.sources.local import local_frame


def _bm25_contrib(k1: float, b: float) -> Column:
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("freq") * F.lit(k1 + 1.0)) / (
        F.col("freq")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    return F.col("boost") * idf * tfn


def _tfidf_contrib() -> Column:
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") + F.lit(1.0))
                / (F.col("df") + F.lit(1.0)))
    return F.col("boost") * F.sqrt(F.col("freq")) * idf


def _lm_dirichlet_contrib(mu: float, n_query_terms: Column) -> Column:
    # add-one smoothed collection probability, like lm_jm
    # (full_text_search.test:561 pins p_c = (ctf+1)/(C+1) at mu=2000)
    p_c = (F.col("ctf") + F.lit(1.0)) / (F.col("total_dl") + F.lit(1.0))
    per_term = F.log(F.lit(1.0) + F.col("freq") / (F.lit(mu) * p_c))
    dl_penalty = F.log(F.lit(mu) / (F.col("dl") + F.lit(mu))) / n_query_terms
    return F.col("boost") * F.greatest(per_term + dl_penalty, F.lit(0.0))


def _lm_jm_contrib(lam: float) -> Column:
    """Jelinek-Mercer smoothing (reference lm_jm scorer): per-term
    ln(1 + ((1-λ)·tf/dl) / (λ·(ctf+1)/(total_dl+1))) — the
    collection probability is add-one smoothed and λ defaults to 0.1:
    full_text_search.test:548 pins ln(1 + 9·(tf/dl)·(C+1)/(ctf+1))
    exactly (doc2 3.1570003 at tf=3, dl=6, ctf=5, C=29)."""
    p_d = F.col("freq") / F.col("dl")
    p_c = (F.col("ctf") + F.lit(1.0)) / (F.col("total_dl") + F.lit(1.0))
    return F.col("boost") * F.log(
        F.lit(1.0) + (F.lit(1.0 - lam) * p_d) / (F.lit(lam) * p_c)
    )


def _dfi_contrib() -> Column:
    """Divergence From Independence (reference dfi scorer): expected freq
    e = ctf·dl/total_dl; contribution ln(1 + (tf − e)/sqrt(e)) when tf > e,
    else 0 (standardized DFI, chi-squared normalization)."""
    e = F.col("ctf") * F.col("dl") / F.col("total_dl")
    dev = (F.col("freq") - e) / F.sqrt(e)
    return F.col("boost") * F.when(
        F.col("freq") > e, F.log(F.lit(1.0) + dev)
    ).otherwise(F.lit(0.0))


def score(
    idx: InvertedIndex,
    field: str,
    score_terms: list[tuple[str, float]],
    scorer: str = "bm25",
    doc_filter: DataFrame | None = None,
    **params,
) -> DataFrame:
    """Return (doc_id, score) for every doc containing ≥1 query term of
    ``score_terms`` (CompiledQuery.score_terms). With doc_filter (a doc_id
    relation), scoring is restricted to those docs — the max-score
    candidate path."""
    rows = scored_contributions_multi(
        idx, [(field, t, b) for t, b in score_terms], scorer, **params)
    if doc_filter is not None:
        rows = rows.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
    return rows.groupBy("doc_id").agg(
        scorer_aggregator(scorer)("contrib").alias("score"))


def score_fields(parts, scorer: str = "bm25", **params) -> DataFrame:
    """(doc_id, score) of a statement with `@@` on several columns: each
    (idx, field, score_terms) match is scored on its own and the scores
    are summed per doc (demo3 §7 "ranked by BM25 across all matched
    terms")."""
    scores = [score(idx, f, terms, scorer, **params)
              for idx, f, terms in parts]
    if len(scores) == 1:
        return scores[0]
    u = scores[0]
    for s in scores[1:]:
        u = u.unionByName(s)
    return u.groupBy("doc_id").agg(F.sum("score").alias("score"))


def scored_contributions_multi(
    idx: InvertedIndex,
    field_terms: list[tuple[str, str, float]],
    scorer: str = "bm25",
    **params,
) -> DataFrame:
    """(doc_id, field, contrib) per matched (doc × query term) pair of the
    (field, term, boost) triples, BEFORE the per-doc aggregation, in ONE
    postings scan: N fields do not multiply scans, and callers union or
    aggregate the rows once (one shuffle keyed doc_id). Rows carry their
    own field's df/ctf, dl and globals; the lm_dirichlet |q| length
    penalty uses each field's own query-term count.

    The expressions (the stat columns, the keep predicate on several
    fields, the contribution) are memoized per (index, query shape) with
    the stats cache; the plan is still built and executed fresh per call.
    """
    memo = idx.memo("multi_exprs")
    mck = (tuple(field_terms), scorer, tuple(sorted(params.items())),
           len(field_terms) > SCORED_TERMS_LIMIT)
    if mck not in memo:
        memo[mck] = _contributions_builder(idx, field_terms, scorer, params)
    return memo[mck](idx)


def _contributions_builder(idx: InvertedIndex, field_terms, scorer: str,
                           params: dict):
    """The driver-side half of scored_contributions_multi: resolves the
    stats and builds the expressions once, and returns the function that
    builds the rows' plan from them.

    Literal stats come from the _bound_stats cache. A field with no
    globals row (no postings) contributes nothing and is left out, as
    is a term absent from its field's dictionary."""
    n_by_field = Counter(f for f, _, _ in field_terms)
    wide = len(field_terms) > SCORED_TERMS_LIMIT
    boosts = {(f, t): float(b) for f, t, b in field_terms}
    gl, stats = {}, {}
    for f in n_by_field:
        g, known = _bound_stats(
            idx, f, [] if wide else [t for ff, t in boosts if ff == f])
        if g is None:
            continue
        gl[f] = g
        for ff, t in boosts:
            if ff == f and (wide or known.get(t) is not None):
                stats[(f, t)] = known.get(t)
    fields = list(dict.fromkeys(f for f, _ in stats))
    terms = list(dict.fromkeys(t for _, t in stats))
    if not fields:  # no query term has postings
        return lambda ix: _postings_for_terms(ix, [], []).select(
            "doc_id", "field", F.lit(0.0).alias("contrib"))
    one = len(fields) == 1

    def by_field(val_of):
        if one:
            return val_of(fields[0])
        c = None
        for f in fields:
            c = (F.when(F.col("field") == f, val_of(f)) if c is None
                 else c.when(F.col("field") == f, val_of(f)))
        return c

    def by_pair(val_of):
        c = None
        for (f, t), d in stats.items():
            cond = (F.col("term") == t if one
                    else (F.col("field") == f) & (F.col("term") == t))
            v = F.lit(val_of(f, t, d))
            c = F.when(cond, v) if c is None else c.when(cond, v)
        return c.otherwise(F.lit(0.0))

    cols = [by_field(lambda f: F.lit(float(gl[f][c]))).alias(c)
            for c in ("n_docs", "avgdl", "total_dl")]
    cols.append(by_field(lambda f: F.lit(float(n_by_field[f])))
                .alias("n_terms"))
    keep = None
    if wide:
        cols += ["boost", "df", "ctf"]
    else:
        cols += [
            by_pair(lambda f, t, d: boosts[(f, t)]).alias("boost"),
            by_pair(lambda f, t, d: float(d["df"])).alias("df"),
            by_pair(lambda f, t, d: float(d["ctf"])).alias("ctf"),
        ]
        if not one:
            # rows for (field, term) pairs absent from the query must not
            # score: the postings filter admits every field × term
            for f, t in stats:
                cond = (F.col("field") == f) & (F.col("term") == t)
                keep = cond if keep is None else (keep | cond)

    # the reference stores document lengths only when the field's
    # dictionary declares the `norm` feature (tokenizer_options.h:63,
    # default false); without norms the BM25 length term is the
    # constant 1 (bm25.cpp:353-359 fills norm[i]=1) — headline.test
    # ranks tf-3 docs of different lengths as TIES
    def has_norm(f):
        try:
            return "norm" in idx.analyzer(f).features
        except Exception:
            return True

    normed = [f for f in fields if has_norm(f)]
    dl = None if len(normed) == len(fields) else by_field(
        lambda f: F.col("dl") if f in normed
        else F.lit(float(gl[f]["avgdl"])))
    keys = ["doc_id"] if one else ["field", "doc_id"]
    contrib = _contrib_expr(scorer, F.col("n_terms"), params)
    wide_rows = [{"field": f, "term": t, "boost": boosts[(f, t)]}
                 for f, t in stats]

    def build(ix: InvertedIndex) -> DataFrame:
        P = _postings_for_terms(ix, fields[0] if one else fields, terms)
        if wide:
            # relational per-(field, term) stats: O(pairs) literal CASE
            # branches would balloon analysis and codegen (the planner's
            # _FLAG_MAX_TERMS guard, applied here); the join scales in
            # data, not in plan size
            query = local_frame(ix.postings.sparkSession,
                                "field string, term string, boost double",
                                wide_rows)
            ts = ix.term_stats.where(F.col("field").isin(fields)).select(
                "field", "term", "df", "ctf")
            P = (P.join(F.broadcast(query), ["field", "term"])
                 .join(F.broadcast(ts), ["field", "term"]))
        elif keep is not None:
            P = P.where(keep)
        base = P.select("doc_id", "field", "freq", *cols)
        if normed:
            base = base.join(
                ix.doc_stats.where(F.col("field").isin(normed))
                .select(*keys, "dl"), keys, "left" if dl is not None
                else "inner")
        if dl is not None:
            base = base.withColumn("dl", dl)
        return base.select("doc_id", "field", contrib.alias("contrib"))

    return build


def scorer_aggregator(scorer: str):
    """How scored_contributions_multi rows combine into one per-doc
    score: raw_dl is a per-doc property (max == the value); every other
    scorer sums per-term contributions."""
    return F.max if scorer == "raw_dl" else F.sum


def _contrib_expr(scorer, n_terms_col, params):
    """Contribution Column for a scorer name; ``n_terms_col`` supplies the
    lm_dirichlet |q| (a per-row column: each field's query-term count)."""
    if scorer == "bm25":
        contrib = _bm25_contrib(params.get("k1", 1.2), params.get("b", 0.75))
    elif scorer == "tfidf":
        contrib = _tfidf_contrib()
    elif scorer == "lm_dirichlet":
        contrib = _lm_dirichlet_contrib(params.get("mu", 2000.0), n_terms_col)
    elif scorer == "lm_jm":
        contrib = _lm_jm_contrib(params.get("lam", 0.1))
    elif scorer == "dfi":
        contrib = _dfi_contrib()
    elif scorer == "indri_dirichlet":
        # Indri's variant: log of the smoothed probability itself
        # (no reference-length normalization), always negative
        mu = params.get("mu", 2000.0)
        p_c = (F.col("ctf") + F.lit(1.0)) / (F.col("total_dl")
                                             + F.lit(1.0))
        contrib = F.col("boost") * F.log(
            (F.col("freq") + F.lit(mu) * p_c) / (F.col("dl") + F.lit(mu))
        )
    elif scorer == "raw_tf":
        contrib = F.col("boost") * F.col("freq")
    elif scorer == "raw_boost":
        # reference raw/boost scorer: frequency-independent — each matched
        # query term contributes its boost once
        contrib = F.col("boost").cast("double")
    elif scorer == "raw_dl":
        contrib = F.col("dl").cast("double")
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    return contrib


# ---- max-score / WAND top-k pruning ---------------------------------------
# Reference: libs/iresearch search/max_score_iterator.hpp + top_k_heap.hpp —
# streaming evaluation keeps a score floor θ (current k-th best) and skips
# postings whose optimistic bound can't reach it. Batch re-expression:
#   phase A: the k-th best SINGLE-TERM contribution of the term with the
#            LARGEST upper bound is a conservative floor θ (each such doc's
#            full score is at least its contribution) — one small job over
#            one posting list, never full scoring.
#   phase B: terms are sorted by upper bound ascending; the longest prefix
#            with ΣUB < θ is "non-essential" — a doc matching ONLY those
#            can score at most ΣUB < θ, strictly below k already-seen docs,
#            so the candidate set is docs matching ≥1 ESSENTIAL term, and
#            only their postings are re-read (term-filtered).
# Exact, not approximate: pruning uses strict bounds with a margin wider
# than the output rounding quantum, so the rounded (score, doc_id) ordering
# is bit-identical to the unpruned plan.

#: SET sdb_disable_top_k_optimization analogue
#: (server/query/config_variables.cpp): forces the unpruned plan — the
#: reference's escape hatch when bound math is suspected, ours too
DISABLE_TOPK_PRUNING = False

#: SET sdb_scored_terms_limit analogue: a query wider than this many
#: (field, term) pairs skips bound computation and reads its per-term
#: stats through a join instead of literal columns (driver-side per-term
#: stats stop paying off)
SCORED_TERMS_LIMIT = 64

# Three statistics of an index are memoized ON the index (idx.memo), so
# they die with it and a rebuilt index starts empty:
#  * "bound_stats": per field, the collected stats rows used for bounds —
#    index stats are immutable once built (DML produces new InvertedIndex
#    objects), so the tiny collects run once per index, not per query;
#  * "theta": per query shape, the phase-A pruning floor θ — a statistic
#    of the immutable index (the k-th best single-term contribution of
#    the strongest term), NOT a result: it only decides which terms are
#    non-essential, and the pruned plan is provably identical to the
#    unpruned one;
#  * "multi_exprs": per query shape, the stat columns and contribution
#    scored_contributions_multi builds (expressions only — see the
#    function body).


def _bound_stats(idx: InvertedIndex, field: str, terms: list[str]):
    """(globals_row | None, {term: stats_dict}) with incremental caching."""
    cache = idx.memo("bound_stats")
    if field not in cache:
        g_rows = idx.globals_.where(F.col("field") == field).collect()
        cache[field] = (g_rows[0] if g_rows else None, {})
    g, known = cache[field]
    missing = [t for t in terms if t not in known]
    if missing and g is not None:
        for r in idx.term_stats.where(
            (F.col("field") == field) & F.col("term").isin(missing)
        ).collect():
            known[r["term"]] = r.asDict()
        for t in missing:  # absent from the index: no postings
            known.setdefault(t, None)
    return g, known


def _term_upper_bound(scorer: str, st: dict, g, n_terms: int,
                      params: dict) -> float | None:
    """Max possible contribution of one term to any doc's score, from
    per-term stats (df, ctf, max_freq) + field globals (min_dl maximizes
    the length-normalized part). None = scorer has no usable bound."""
    import math

    boost = st["boost"]
    if scorer == "bm25":
        k1, b = params.get("k1", 1.2), params.get("b", 0.75)
        idf = math.log(1.0 + (g.n_docs - st["df"] + 0.5) / (st["df"] + 0.5))
        tfn = (st["max_freq"] * (k1 + 1.0)) / (
            st["max_freq"] + k1 * (1.0 - b + b * g.min_dl / g.avgdl)
        )
        return boost * idf * tfn
    if scorer == "tfidf":
        idf = math.log(1.0 + (g.n_docs + 1.0) / (st["df"] + 1.0))
        return boost * math.sqrt(st["max_freq"]) * idf
    if scorer == "lm_dirichlet":
        mu = params.get("mu", 2000.0)
        p_c = (st["ctf"] + 1.0) / (g.total_dl + 1.0)
        per_term = math.log(1.0 + st["max_freq"] / (mu * p_c))
        penalty = math.log(mu / (g.min_dl + mu)) / n_terms
        return boost * max(per_term + penalty, 0.0)
    return None


def scored_topk(
    idx: InvertedIndex,
    field: str,
    score_terms: list[tuple[str, float]],
    k: int,
    scorer: str = "bm25",
    round_to: int = 4,
    info: dict | None = None,
    **params,
) -> DataFrame:
    """Exact (doc_id, score) top-k over a pure disjunction with max-score
    pruning. Falls back to full scoring when the scorer has no bound, the
    expansion is degenerate (1 term) or too wide to bound driver-side.
    `info`, when passed, receives {pruned_terms, total_terms, theta} — the
    observability hook tests assert on (like ordered_scan.files_scanned)."""
    qt = list(score_terms)
    full = lambda: (  # noqa: E731 — the unpruned plan, used by fallbacks
        score(idx, field, qt, scorer, **params)
        .select("doc_id", F.round(F.col("score"), round_to).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id").limit(k)
    )
    if DISABLE_TOPK_PRUNING or len(qt) < 2 or len(qt) > SCORED_TERMS_LIMIT:
        return full()
    terms = [t for t, _ in qt]
    boosts = dict(qt)
    g, known = _bound_stats(idx, field, terms)
    if g is None or "min_dl" not in g.asDict():
        return full()
    ubs = {}
    for t in terms:
        d = known.get(t)
        if d is None:
            continue  # term absent from the index — contributes nothing
        if d.get("max_freq") is None:
            return full()  # index predates the max_freq stat
        ub = _term_upper_bound(scorer, {**d, "boost": boosts[t]}, g,
                               len(qt), params)
        if ub is None:
            return full()
        ubs[t] = ub
    if len(ubs) < 2:
        return full()

    # cheap gate: pruning is only possible when the weakest term's bound
    # can fall under a floor that is at most max_ub + (second-term slack);
    # with near-equal bounds (the common AnyOf case) nothing can prune, so
    # skip the floor job entirely
    ub_sorted = sorted(ubs.values())
    if ub_sorted[0] >= ub_sorted[-1] * 0.9:
        return full()

    # phase A — a LOWER bound on the true k-th best score, from ONE term's
    # single-term contributions (each such doc's full score is ≥ its t*
    # contribution, so the k-th contribution is a valid, conservative
    # floor). One small job over t*'s postings — never full scoring —
    # and, being a statistic of the immutable index, cached per
    # (index, t*, k, scorer, params) so repeated top-k runs skip the job.
    t_star = max(ubs, key=ubs.get)
    thetas = idx.memo("theta")
    tck = (field, t_star, boosts[t_star], k, scorer, round_to,
           tuple(sorted(params.items())))
    if tck in thetas:
        theta = thetas[tck]
        if theta is None:
            return full()  # cached "not enough floor docs" outcome
    else:
        top_a = (
            score(idx, field, [(t_star, boosts[t_star])], scorer, **params)
            .orderBy(F.col("score").desc(), "doc_id").limit(k).collect()
        )
        if len(top_a) < k:
            thetas[tck] = None
            return full()  # not enough floor docs — no pruning possible
        # margin: strictly wider than the 10^-round_to rounding quantum,
        # so a pruned doc can never round into a tie with the k-th kept doc
        theta = top_a[-1]["score"] - 10.0 ** (-round_to + 1)
        thetas[tck] = theta

    # phase B — essential terms: drop the longest ascending-UB prefix with
    # cumulative bound < θ
    by_ub = sorted(ubs, key=ubs.get)
    cum, cut = 0.0, 0
    for i, t in enumerate(by_ub):
        if cum + ubs[t] >= theta:
            break
        cum += ubs[t]
        cut = i + 1
    essential = by_ub[cut:]
    if info is not None:
        info.update(pruned_terms=cut, total_terms=len(by_ub), theta=theta)
    if not essential or len(essential) == len(by_ub):
        return full()  # nothing pruned — skip the extra join
    cand = _postings_for_terms(idx, field, essential).select("doc_id") \
        .distinct()
    return (
        score(idx, field, qt, scorer, doc_filter=cand, **params)
        .select("doc_id", F.round(F.col("score"), round_to).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id").limit(k)
    )
