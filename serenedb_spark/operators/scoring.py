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

Everything is computed with built-in column expressions: postings join
(small, term-pruned) × broadcast stats. No Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from serenedb_spark.operators.indexing import InvertedIndex
from serenedb_spark.sources.local import local_frame


def _scored_base(idx: InvertedIndex, field: str, score_terms: DataFrame) -> DataFrame:
    """(doc_id, term, freq, dl, df, ctf, n_docs, avgdl, total_dl, boost) for
    each (matched doc × query term) pair."""
    P = idx.postings.where(F.col("field") == field)
    matched = P.join(F.broadcast(score_terms), "term")
    ts = idx.term_stats.where(F.col("field") == field).select("term", "df", "ctf")
    ds = idx.doc_stats.where(F.col("field") == field).select("doc_id", "dl")
    g = idx.globals_.where(F.col("field") == field).select(
        "n_docs", "avgdl", "total_dl"
    )
    out = (
        matched.join(F.broadcast(ts), "term")
        .join(ds, "doc_id")
        .crossJoin(F.broadcast(g))
    )
    try:
        features = idx.analyzer(field).features
    except Exception:
        features = ("norm",)
    if "norm" not in features:
        # the reference stores document lengths only when the field's
        # dictionary declares the `norm` feature (tokenizer_options.h:63,
        # default false); without norms the BM25 length term is the
        # constant 1 (bm25.cpp:353-359 fills norm[i]=1) — headline.test
        # ranks tf-3 docs of different lengths as TIES
        out = out.withColumn("dl", F.col("avgdl"))
    return out


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


def _scored_base_local(idx: InvertedIndex, field: str,
                       qt: list) -> DataFrame | None:
    """_scored_base with the per-term stats (df/ctf) and field globals
    inlined as LITERAL CASE expressions from the _bound_stats cache —
    for queries whose (term, boost) list is known driver-side. Drops
    three broadcast builds per scoring run (the local score_terms
    relation, the term_stats slice, the globals cross join); only the
    doc_stats dl join remains, and even that disappears for norm-less
    fields. Returns None when the globals row is unavailable (empty
    index) — caller falls back to the relational base."""
    terms = [t for t, _ in qt]
    g, known = _bound_stats(idx, field, terms)
    if g is None:
        return None
    live = [(t, b, known[t]) for t, b in qt if known.get(t) is not None]

    def case_of(pairs, default=0.0):
        c = None
        for t, v in pairs:
            c = (F.when(F.col("term") == t, F.lit(v)) if c is None
                 else c.when(F.col("term") == t, F.lit(v)))
        return c.otherwise(F.lit(default)) if c is not None \
            else F.lit(default)

    P = _postings_for_terms_sc(idx, field, [t for t, _, _ in live] or terms)
    out = P.select(
        "doc_id", "term", "freq",
        case_of([(t, float(b)) for t, b, _ in live], 1.0).alias("boost"),
        case_of([(t, float(d["df"])) for t, _, d in live]).alias("df"),
        case_of([(t, float(d["ctf"])) for t, _, d in live]).alias("ctf"),
        F.lit(float(g["n_docs"])).alias("n_docs"),
        F.lit(float(g["avgdl"])).alias("avgdl"),
        F.lit(float(g["total_dl"])).alias("total_dl"),
    )
    try:
        features = idx.analyzer(field).features
    except Exception:
        features = ("norm",)
    if "norm" not in features:
        return out.withColumn("dl", F.lit(float(g["avgdl"])))
    ds = idx.doc_stats.where(F.col("field") == field).select("doc_id", "dl")
    return out.join(ds, "doc_id")


def _postings_for_terms_sc(idx: InvertedIndex, field: str, terms: list[str]):
    from serenedb_spark.plans.planner import _postings_for_terms

    return _postings_for_terms(idx, field, terms)


def score(
    idx: InvertedIndex,
    field: str,
    score_terms: DataFrame,
    scorer: str = "bm25",
    doc_filter: DataFrame | None = None,
    terms_local: list | None = None,
    **params,
) -> DataFrame:
    """Return (doc_id, score) for every doc containing ≥1 query term.
    With doc_filter (a doc_id relation), scoring is restricted to those
    docs — the max-score candidate path. ``terms_local`` carries the
    literal (term, boost) pairs when known driver-side, switching to the
    literal-stats base (fewer broadcast jobs)."""
    base = (_scored_base_local(idx, field, terms_local)
            if terms_local else None)
    if base is None:
        base = _scored_base(idx, field, score_terms)
        contrib, agg_of = _contrib_expr(scorer, score_terms, params)
    else:
        n_q = float(len(terms_local)) if scorer == "lm_dirichlet" else 0.0
        contrib = _contrib_expr_n(scorer, F.lit(n_q), params)
        agg_of = F.max if scorer == "raw_dl" else F.sum
    if doc_filter is not None:
        base = base.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
    agg = agg_of(contrib)
    return base.groupBy("doc_id").agg(agg.alias("score"))


def scored_contributions(
    idx: InvertedIndex,
    field: str,
    score_terms: DataFrame,
    scorer: str = "bm25",
    **params,
) -> DataFrame:
    """(doc_id, contrib) per matched (doc × query term) pair, BEFORE the
    per-doc aggregation — lets multi-field scorers union several fields'
    contributions and aggregate ONCE (one shuffle keyed doc_id instead of
    one per field plus an outer join). Per-field stats are resolved before
    the union, so rows carry their own field's df/dl/globals."""
    base = _scored_base(idx, field, score_terms)
    contrib, _ = _contrib_expr(scorer, score_terms, params)
    return base.select("doc_id", contrib.alias("contrib"))


def scored_contributions_multi(
    idx: InvertedIndex,
    field_terms: list[tuple[str, str, float]],
    scorer: str = "bm25",
    **params,
) -> DataFrame:
    """(doc_id, field, contrib) for a MULTI-FIELD term query in ONE
    postings scan: ``field_terms`` is the literal (field, term, boost)
    query relation, broadcast and joined on (field, term), so N fields
    stop multiplying postings scans (the per-field path re-read postings
    once per field — reference dis_max/multi_match read one iterator
    forest, server/network/http/es/dsl.cpp:394-407). Per-field stats
    (df/ctf, dl, globals) arrive keyed by field in the same joins; the
    lm_dirichlet |q| length penalty uses each field's own query-term
    count, carried as a column of the literal relation."""
    from collections import Counter

    n_by_field = Counter(f for f, _, _ in field_terms)
    fields = sorted(n_by_field)
    terms = sorted({t for _, t, _ in field_terms})
    if len(field_terms) > SCORED_TERMS_LIMIT:
        # very wide multi_match: O(pairs × 7 stat columns) literal CASE
        # branches would balloon analysis/codegen (the planner's
        # _FLAG_MAX_TERMS guard, applied here) — fall back to the
        # relational per-field base unioned, which scales in data not in
        # plan size
        parts = []
        spark = idx.postings.sparkSession
        for f in fields:
            st = local_frame(spark, "term string, boost double", [
                {"term": t, "boost": b} for ff, t, b in field_terms
                if ff == f])
            contrib = scored_contributions(idx, f, st, scorer, **params)
            parts.append(contrib.select(
                "doc_id", F.lit(f).alias("field"), "contrib"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    # literal per-(field, term) stats from the _bound_stats cache: the
    # query relation, term_stats slice and globals were three broadcast
    # builds per run; the (field, term) list is known driver-side, so
    # they inline as CASE literals. A field with no globals row (no
    # postings) contributed nothing through the inner join — skipping it
    # here is identical. The whole CASE-column set (7 stat columns + the
    # keep predicate + contribution, hundreds of py4j calls) is memoized
    # per (index, query shape) alongside the stats cache — expressions
    # only; the plan is still built and executed fresh per call.
    multi_exprs = idx.memo("multi_exprs")
    mck = (tuple(field_terms), scorer, tuple(sorted(params.items())))
    cached = multi_exprs.get(mck)
    if cached is None:
        stats: dict = {}
        gl: dict = {}
        for f in fields:
            g, known = _bound_stats(idx, f, [t for ff, t, _ in field_terms
                                             if ff == f])
            if g is None:
                continue
            gl[f] = g
            for ff, t, b in field_terms:
                if ff == f and known.get(t) is not None:
                    stats[(f, t)] = (float(b), known[t])

        def pair_case(val_of):
            c = None
            for (f, t), (b, d) in stats.items():
                cond = (F.col("field") == f) & (F.col("term") == t)
                c = (F.when(cond, F.lit(val_of(f, t, b, d))) if c is None
                     else c.when(cond, F.lit(val_of(f, t, b, d))))
            return c.otherwise(F.lit(0.0)) if c is not None else F.lit(0.0)

        def field_case(val_of):
            c = None
            for f, g in gl.items():
                c = (F.when(F.col("field") == f, F.lit(val_of(f, g)))
                     if c is None
                     else c.when(F.col("field") == f, F.lit(val_of(f, g))))
            return c.otherwise(F.lit(0.0)) if c is not None else F.lit(0.0)

        # rows for (field, term) pairs absent from the query relation must
        # not score: the broadcast join dropped them; filter keeps parity
        live = list(stats)
        keep = None
        for f, t in live:
            cond = (F.col("field") == f) & (F.col("term") == t)
            keep = cond if keep is None else (keep | cond)
        sel = None
        if live:
            sel = [
                "doc_id", "field", "freq",
                pair_case(lambda f, t, b, d: b).alias("boost"),
                pair_case(lambda f, t, b, d: float(d["df"])).alias("df"),
                pair_case(lambda f, t, b, d: float(d["ctf"])).alias("ctf"),
                field_case(lambda f, g: float(g["n_docs"])).alias("n_docs"),
                field_case(lambda f, g: float(g["avgdl"])).alias("avgdl"),
                field_case(
                    lambda f, g: float(g["total_dl"])).alias("total_dl"),
                field_case(
                    lambda f, g: float(n_by_field[f])).alias("n_terms"),
            ]
        contrib = _contrib_expr_n(scorer, F.col("n_terms"), params)
        cached = multi_exprs[mck] = (keep, sel, contrib)
    keep, sel, contrib = cached

    # the isin filters push into the scan: a parquet filter on a reopened
    # save_index layout, the cached-scan predicate on a persisted index
    # (no bucket predicate is added, so no partition pruning)
    P = idx.postings.where(
        F.col("field").isin(fields) & F.col("term").isin(terms))
    if sel is None:
        return P.select(
            "doc_id", "field", F.lit(0.0).alias("contrib")).where(F.lit(False))
    base = P.where(keep).select(*sel)
    ds = idx.doc_stats.where(F.col("field").isin(fields)).select(
        "field", "doc_id", "dl")
    base = base.join(ds, ["field", "doc_id"])
    return base.select("doc_id", "field", contrib.alias("contrib"))


def scorer_aggregator(scorer: str):
    """How scored_contributions rows combine into one per-doc score:
    raw_dl is a per-doc property (max == the value); every other scorer
    sums per-term contributions."""
    return F.max if scorer == "raw_dl" else F.sum


def _contrib_expr(scorer, score_terms, params):
    """(contribution Column, aggregator) for a scorer name; the per-doc
    aggregator comes with it. lm_dirichlet needs |q| — counted from the
    score_terms relation here; callers with a literal term list use
    _contrib_expr_n directly."""
    n_terms = (score_terms.count() if scorer == "lm_dirichlet" else 0)
    contrib = _contrib_expr_n(scorer, F.lit(float(n_terms)), params)
    agg_of = F.max if scorer == "raw_dl" else F.sum
    return contrib, agg_of


def _contrib_expr_n(scorer, n_terms_col, params):
    """Contribution Column for a scorer name; ``n_terms_col`` supplies the
    lm_dirichlet |q| (a literal for single-field paths, a per-row column
    for the multi-field shared scan)."""
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

#: SET sdb_scored_terms_limit analogue: expansions wider than this skip
#: bound computation (driver-side per-term stats stop paying off)
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
#  * "multi_exprs": per multi-field query shape, the literal-stats CASE
#    columns scored_contributions_multi builds (expressions only — see
#    the function body).


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
    score_terms: DataFrame,
    k: int,
    scorer: str = "bm25",
    round_to: int = 4,
    info: dict | None = None,
    terms_local: list | None = None,
    **params,
) -> DataFrame:
    """Exact (doc_id, score) top-k over a pure disjunction with max-score
    pruning. Falls back to full scoring when the scorer has no bound, the
    expansion is degenerate (1 term) or too wide to bound driver-side.
    `info`, when passed, receives {pruned_terms, total_terms, theta} — the
    observability hook tests assert on (like ordered_scan.files_scanned).
    ``terms_local`` (CompiledQuery.terms_local) carries the literal
    (term, boost) pairs when the query needed no dictionary expansion, so
    no job is spent collecting the tiny local relation."""
    if terms_local is not None:
        qt = list(terms_local)
    else:
        qt = [(r["term"], r["boost"]) for r in score_terms.collect()]
    full = lambda: (  # noqa: E731 — the unpruned plan, used by fallbacks
        score(idx, field, score_terms, scorer, terms_local=qt, **params)
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
        single = score_terms.where(F.col("term") == t_star)
        top_a = (
            score(idx, field, single, scorer,
                  terms_local=[(t_star, boosts[t_star])], **params)
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
    cand = (
        idx.postings.where((F.col("field") == field)
                           & F.col("term").isin(essential))
        .select("doc_id").distinct()
    )
    return (
        score(idx, field, score_terms, scorer, doc_filter=cand,
              terms_local=qt, **params)
        .select("doc_id", F.round(F.col("score"), round_to).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id").limit(k)
    )
