"""Multi-relation search SQL: JOIN / GROUP BY statements with @@ matches.

The reference plans these as an IRESEARCH_SCAN feeding a regular
relational plan — demo6 Q2 joins a code-grams match set against a second
index relation, Q7 GROUP-BYs across two index relations
(examples/demo6/demo.sql:36-46,87-99); secondary_index.test:1014 shows
the same shape over tables. Spark-first lowering: each @@-matched
relation is lowered to its claimed (and optionally scored) docstore
DataFrame and registered as a temp view; the statement TEXT is rewritten
to reference those views — match conjuncts become TRUE, scorer calls
become the view's __score column — and the whole rewritten statement is
handed to Catalyst, which then owns join strategy and ordering
(broadcasting a small match set into a big fact side is exactly the plan
a 100 TB run wants, and AQE picks it from the claimed side's real size).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serenedb_spark.plans import tsquery as q
from serenedb_spark.plans.search_sql import (
    SCORER_FUNCS, Tok, _Stream, _find_clause, _render, _rewrite_casts,
    parse_tsquery_tokens, tokenize)

#: clause keywords that terminate the FROM zone at paren depth 0
_TAIL_CLAUSES = (("WHERE",), ("GROUP", "BY"), ("HAVING",), ("ORDER", "BY"),
                 ("LIMIT",), ("QUALIFY",))
#: identifiers that cannot be a relation alias
_NOT_ALIAS = {"JOIN", "ON", "LEFT", "RIGHT", "FULL", "INNER", "CROSS",
              "OUTER", "USING", "NATURAL", "AND", "OR", "WHERE", "GROUP",
              "HAVING", "ORDER", "LIMIT", "QUALIFY", "AS"}
@dataclass
class _Rel:
    pos: int                 # token index of the relation-name token
    name: str
    alias: str | None
    matches: list = field(default_factory=list)   # [(col, TSQuery)]
    scored: bool = False
    view: str = ""
    nullable: bool = False   # on the NULL-extended side of an outer join


def _clause_end(toks: list[Tok], start: int) -> int:
    ends = [p for p in (_find_clause(toks, kw, start)
                        for kw in _TAIL_CLAUSES) if p >= 0]
    return min(ends) if ends else len(toks)


def needs_multirel(toks: list[Tok]) -> bool:
    """True when the restricted single-relation executor cannot plan the
    statement: more than one FROM relation (JOIN / comma list) or a
    GROUP BY clause."""
    fpos = _find_clause(toks, ("FROM",))
    if fpos < 0:
        return False
    fend = _clause_end(toks, fpos)
    if any(t.upper == "JOIN" or t.text == ","
           for t in toks[fpos + 1:fend]):
        return True
    return _find_clause(toks, ("GROUP", "BY"), fpos) >= 0


def _parse_relations(toks: list[Tok], start: int, end: int) -> list[_Rel]:
    rels: list[_Rel] = []
    depth = 0
    expecting = True
    next_nullable = False    # LEFT/FULL: the joined-in relation NULL-extends
    i = start
    while i < end:
        t = toks[i]
        if t.text in ("(", "["):
            if expecting:
                raise ValueError(
                    "subqueries in FROM are not supported by the search "
                    "dialect — CREATE a view first")
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and expecting:
            if t.kind != "IDENT" or "." in t.text:
                raise ValueError(f"expected relation name, got {t.text!r}")
            alias = None
            j = i + 1
            if j < end and toks[j].upper == "AS":
                j += 1
            if (j < end and toks[j].kind == "IDENT"
                    and toks[j].upper not in _NOT_ALIAS
                    and "." not in toks[j].text):
                alias = toks[j].text
            rels.append(_Rel(i, t.text, alias, nullable=next_nullable))
            next_nullable = False
            expecting = False
            i = j if alias is None else j + 1
            continue
        elif depth == 0 and (t.upper == "JOIN" or t.text == ","):
            if t.upper == "JOIN":
                k = i - 1
                if k >= start and toks[k].upper == "OUTER":
                    k -= 1
                jt = toks[k].upper if k >= start else ""
                if jt in ("LEFT", "FULL"):
                    next_nullable = True
                if jt in ("RIGHT", "FULL"):  # prior side NULL-extends
                    for r in rels:
                        r.nullable = True
            expecting = True
        i += 1
    if not rels:
        raise ValueError("FROM clause names no relations")
    return rels


def _conjunct_spans(toks: list[Tok], start: int,
                    end: int) -> list[tuple[int, int]]:
    spans = []
    depth = 0
    s = start
    for i in range(start, end):
        t = toks[i]
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.upper == "AND":
            spans.append((s, i))
            s = i + 1
    spans.append((s, end))
    return spans


def _top_level_at(toks: list[Tok], start: int, end: int) -> int | None:
    depth = 0
    for i in range(start, end):
        t = toks[i]
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.text == "@@":
            return i
    return None


def _resolve_rel(qualifier: str | None, col: str | None,
                 rels: list[_Rel], byq: dict, get_index) -> _Rel:
    if qualifier is not None:
        r = byq.get(qualifier.lower())
        if r is None:
            raise ValueError(f"unknown relation qualifier {qualifier!r}")
        return r
    if len(rels) == 1:
        return rels[0]
    if col is not None:
        served = []
        for r in rels:
            try:
                get_index(r.name, col)
                served.append(r)
            except ValueError:
                continue
        if len(served) == 1:
            return served[0]
    raise ValueError(
        f"ambiguous reference in a multi-relation statement — qualify "
        f"the column ({col!r}) with its relation alias")


@dataclass
class _MRPlan:
    toks: list
    fpos: int
    fend: int
    rels: list
    byq: dict
    repl: dict
    scorer: str | None
    params: dict
    idx_of: dict
    compiled_of: dict


def _plan(sql_text: str, get_index) -> _MRPlan:
    """Analysis phase shared by execute and EXPLAIN: parse the FROM
    relation list, lift @@ conjuncts onto their relations, compile the
    claims, and resolve scorer calls — no DataFrame is built."""
    from serenedb_spark.plans.planner import compile_query

    toks = tokenize(sql_text.strip().rstrip(";"))
    if any(t.text in ("<=>", "<->", "<#>") for t in toks):
        raise ValueError(
            "vector distance operators are not supported in "
            "multi-relation statements — run the ANN stage as its own "
            "single-relation SELECT")

    fpos = _find_clause(toks, ("FROM",))
    if fpos < 0:
        raise ValueError("multi-relation statement requires FROM")
    fend = _clause_end(toks, fpos)
    rels = _parse_relations(toks, fpos + 1, fend)
    byq: dict[str, _Rel] = {}
    for r in rels:
        if r.alias:
            byq[r.alias.lower()] = r
    names = [r.name.lower() for r in rels]
    for r in rels:  # a bare name only resolves when unambiguous
        if names.count(r.name.lower()) == 1:
            byq.setdefault(r.name.lower(), r)

    #: token-index → (end-exclusive, replacement tokens)
    repl: dict[int, tuple[int, list[Tok]]] = {}

    # ---- @@ match conjuncts --------------------------------------------
    wpos = _find_clause(toks, ("WHERE",), fpos)
    if wpos >= 0:
        wend = _clause_end(toks, wpos + 1)
        for s, e in _conjunct_spans(toks, wpos + 1, wend):
            cs, ce = s, e
            at = _top_level_at(toks, cs, ce)
            while (at is None and ce - cs >= 2 and toks[cs].text == "("
                   and toks[ce - 1].text == ")"):
                cs, ce = cs + 1, ce - 1
                at = _top_level_at(toks, cs, ce)
            if at is None:
                continue
            left = toks[cs:at]
            if len(left) == 1 and left[0].kind == "IDENT":
                parts = left[0].text.split(".")
                qual = parts[0] if len(parts) > 1 else None
                col = parts[-1]
            elif (len(left) > 2 and left[0].kind == "IDENT"
                  and left[1].text == "("):
                # expression-key field: the index names the field by its
                # expression text (ts_dict_view.test
                # `ts_split_by_non_alpha(Body, true) @@ ...`)
                qual = None
                col = _render(left)
            else:
                raise ValueError(
                    f"@@ left side must be a column, got {_render(left)!r}")
            rel = _resolve_rel(qual, col, rels, byq, get_index)
            an = get_index(rel.name, col).analyzer(col)
            ts = _Stream(toks[at + 1:ce])
            node = parse_tsquery_tokens(ts, an)
            if ts.peek() is not None:
                raise ValueError(
                    f"trailing tokens after tsquery: {ts.peek().text!r}")
            if rel.nullable:
                # a WHERE conjunct post-filters the join, so on a
                # NULL-extended side it collapses the outer join to inner
                # — pre-filtering the claimed view would instead KEEP the
                # NULL-extended rows. Refuse rather than silently differ.
                raise ValueError(
                    f"@@ match on {rel.alias or rel.name!r}, the "
                    f"NULL-extended side of an outer join: the WHERE "
                    f"filter makes the join inner — use INNER JOIN, or "
                    f"pre-filter via a CREATEd view")
            rel.matches.append((col, node))
            repl[s] = (e, [Tok("IDENT", "TRUE")])

    # indexes + compiled claims per matched relation (before scorer
    # resolution: a scorer qualifier may name the serving INDEX)
    idx_of: dict[int, object] = {}
    compiled_of: dict[int, list] = {}
    for k, r in enumerate(rels):
        if not r.matches:
            continue
        comp = []
        idx0 = None
        for col, node in r.matches:
            idx = get_index(r.name, col)
            idx0 = idx0 or idx
            comp.append((idx, col, compile_query(idx, col, node)))
            byq.setdefault(idx.name.lower(), r)
        idx_of[k] = idx0
        compiled_of[k] = comp

    # ---- scorer calls ---------------------------------------------------
    scorer: str | None = None
    params: dict = {}
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        low = t.text.lower()
        if (t.kind == "IDENT" and low in SCORER_FUNCS
                and i + 1 < n and toks[i + 1].text == "("
                and not (fpos < i < fend)):
            name, pnames = SCORER_FUNCS[low]
            if scorer is not None and scorer != name:
                raise ValueError(
                    f"mixed scorers in one statement: {scorer} vs {name}")
            scorer = name
            depth = 0
            j = i + 1
            args: list[list[Tok]] = [[]]
            while j < n:
                tj = toks[j]
                if tj.text == "(":
                    depth += 1
                    if depth > 1:
                        args[-1].append(tj)
                elif tj.text == ")":
                    depth -= 1
                    if depth == 0:
                        break
                    args[-1].append(tj)
                elif depth == 1 and tj.text == ",":
                    args.append([])
                else:
                    args[-1].append(tj)
                j += 1
            if depth != 0:
                raise ValueError("unbalanced parens in scorer call")
            for pi, a in enumerate(args[1:]):
                if pi >= len(pnames) or len(a) != 1 or a[0].kind != "NUM":
                    raise ValueError(
                        f"bad scorer parameter in {low}: {_render(a)!r}")
                params[pnames[pi]] = float(a[0].text)
            qual = None
            if args[0] and args[0][0].kind == "IDENT":
                qual = args[0][0].text.split(".")[0]
            cand = [r for r in rels if r.matches]
            rel = (byq.get(qual.lower()) if qual else None) or (
                cand[0] if len(cand) == 1 else None)
            if rel is None or not rel.matches:
                raise ValueError(
                    f"scorer {low}(...) does not resolve to an @@-matched "
                    f"relation — pass its index or alias as the argument")
            rel.scored = True
            end = j + 1
            if (end + 1 < n and toks[end].text == "::"
                    and toks[end + 1].kind == "IDENT"):
                end += 2  # swallow a trailing ::numeric cast
            ref = rel.alias or rel.name
            repl[i] = (end, [Tok("IDENT", f"{ref}.__score")])
            i = end
            continue
        i += 1

    return _MRPlan(toks, fpos, fend, rels, byq, repl, scorer, params,
                   idx_of, compiled_of)


def execute_multirel(sql_text: str, get_index, get_relation,
                     spark: SparkSession) -> DataFrame:
    """Rewrite-and-run a multi-relation (or GROUP BY) search statement."""
    from serenedb_spark.operators.scoring import score_fields
    from serenedb_spark.plans.dialect import sql_compat

    p = _plan(sql_text, get_index)
    toks, rels, repl = p.toks, p.rels, p.repl
    scorer, params, idx_of, compiled_of = (
        p.scorer, p.params, p.idx_of, p.compiled_of)

    # ---- build + register per-relation DataFrames ----------------------
    for k, r in enumerate(rels):
        r.view = f"__serene_mr{k}_{r.name}"
        if not r.matches:
            df = get_relation(r.name)
        else:
            comp = compiled_of[k]
            doc_ids = comp[0][2].doc_ids
            for _, _, c in comp[1:]:
                doc_ids = doc_ids.join(c.doc_ids, "doc_id", "left_semi")
            df = idx_of[k].docstore.join(doc_ids, "doc_id", "left_semi")
            if r.scored:
                score_df = score_fields(
                    [(idx, col, c.score_terms) for idx, col, c in comp],
                    scorer, **params)
                df = df.join(score_df, "doc_id", "left").withColumn(
                    "__score", F.coalesce(F.col("score"), F.lit(0.0))
                ).drop("score")
        df.createOrReplaceTempView(r.view)
        rep = [Tok("IDENT", r.view)]
        if r.alias is None:  # keep `name.col` references resolvable
            rep += [Tok("IDENT", "AS"), Tok("IDENT", r.name)]
        repl[r.pos] = (r.pos + 1, rep)

    # ---- splice, render, run through the dialect shims ------------------
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        if i in repl:
            end, rep = repl[i]
            out.extend(rep)
            i = end
        else:
            out.append(toks[i])
            i += 1
    # fn renames (approx_quantile → approx_percentile, ...) happen inside
    # sql_compat's dialect shims, shared with the plain-SQL door
    return sql_compat(spark, _render(_rewrite_casts(out)))


def explain_multirel(sql_text: str, get_index) -> str:
    """Claimed-vs-residual EXPLAIN for a multi-relation statement: one
    IRESEARCH_SCAN block per @@-matched relation (reference renders one
    scan per index relation feeding the join,
    tests/sqllogic/sdb/pg/explain/basic.test:7-13), then a RELATIONAL
    block naming the full-scan sides and the clauses Catalyst owns."""
    from serenedb_spark.plans.explain import explain_search

    p = _plan(sql_text, get_index)
    blocks: list[str] = []
    for k, r in enumerate(p.rels):
        if not r.matches:
            continue
        idx = p.idx_of[k]
        matches = [(col, node, idx.fields[col]) for col, node in r.matches]
        block = explain_search(
            idx.name, matches,
            scorer=p.scorer if r.scored else None,
            scorer_params=p.params if r.scored else None)
        ref = r.alias or r.name
        blocks.append(block.replace(
            "IRESEARCH_SCAN", f"IRESEARCH_SCAN ({ref} = {r.name})", 1))
    full = [f"{r.alias or r.name} = {r.name}"
            for r in p.rels if not r.matches]
    lines = ["RELATIONAL (Catalyst)"]
    if full:
        lines.append(f"  Full-scan relations: {', '.join(full)}")
    clauses = []
    if any(t.upper == "JOIN" or (p.fpos < i < p.fend and t.text == ",")
           for i, t in enumerate(p.toks)):
        clauses.append("join")
    if _find_clause(p.toks, ("GROUP", "BY"), p.fpos) >= 0:
        clauses.append("group-by")
    if _find_clause(p.toks, ("HAVING",), p.fpos) >= 0:
        clauses.append("having")
    if _find_clause(p.toks, ("ORDER", "BY"), p.fpos) >= 0:
        clauses.append("order-by")
    if _find_clause(p.toks, ("LIMIT",), p.fpos) >= 0:
        clauses.append("limit")
    lines.append(f"  Delegated clauses: {', '.join(clauses) or 'none'}")
    lines.append("  Join strategy: Catalyst/AQE over the claimed views "
                 "(match-set size drives broadcast)")
    blocks.append("\n".join(lines))
    return "\n".join(blocks)


_SET_OPS = {"UNION", "INTERSECT", "EXCEPT"}


def _strip_outer_parens(span: list[Tok]) -> list[Tok]:
    while len(span) >= 2 and span[0].text == "(" and span[-1].text == ")":
        depth = 0
        for i, t in enumerate(span):
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
                if depth == 0 and i != len(span) - 1:
                    return span  # not one balanced wrapper
        span = span[1:-1]
    return span


def split_set_ops(toks: list[Tok]):
    """Split a statement on top-level UNION/INTERSECT/EXCEPT [ALL].
    Returns (arm_texts, ops, tail_text) — ops[i] = (kind, all_flag)
    joins arms[i] and arms[i+1]; a trailing ORDER BY/LIMIT/OFFSET after
    the last un-parenthesized arm applies to the whole set result (PG) —
    or None when the statement has no top-level set operation.
    `SELECT * EXCEPT (cols)` (the Spark projection modifier) is not a
    set op: EXCEPT only counts when not preceded by `*` and followed by
    SELECT / ALL / DISTINCT / `(`."""
    cuts: list[tuple[int, int, str, bool]] = []   # (start, end, kind, all)
    depth = 0
    for i, t in enumerate(toks):
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.upper in _SET_OPS:
            if i > 0 and toks[i - 1].text == "*":
                continue
            j = i + 1
            all_ = False
            if j < len(toks) and toks[j].upper in ("ALL", "DISTINCT"):
                all_ = toks[j].upper == "ALL"
                j += 1
            if j >= len(toks) or not (toks[j].upper == "SELECT"
                                      or toks[j].text == "("):
                continue
            cuts.append((i, j, t.upper, all_))
    if not cuts:
        return None
    arms: list[list[Tok]] = []
    ops: list[tuple[str, bool]] = []
    pos = 0
    for s, e, kind, all_ in cuts:
        arms.append(toks[pos:s])
        ops.append((kind, all_))
        pos = e
    arms.append(toks[pos:])
    # trailing ORDER BY / LIMIT / OFFSET of the LAST arm → whole-set tail
    last = arms[-1]
    tail: list[Tok] = []
    if last and last[0].text != "(":   # parenthesized arm keeps its own
        ends = [p for p in (_find_clause(last, kw)
                            for kw in (("ORDER", "BY"), ("LIMIT",),
                                       ("OFFSET",))) if p >= 0]
        if ends:
            cut = min(ends)
            tail = last[cut:]
            arms[-1] = last[:cut]
    elif last and last[0].text == "(":
        # `(SELECT ...) UNION ALL (SELECT ...) ORDER BY ...` — anything
        # after the close of a parenthesized last arm is the whole-set
        # tail (inverted_index_score.test:327)
        depth = 0
        for i, t in enumerate(last):
            if t.text in ("(", "["):
                depth += 1
            elif t.text in (")", "]"):
                depth -= 1
                if depth == 0:
                    if i + 1 < len(last):
                        tail = last[i + 1:]
                        arms[-1] = last[:i + 1]
                    break
    arm_texts = [_render(_strip_outer_parens(a)) for a in arms]
    if any(not a.strip() for a in arm_texts):
        raise ValueError("empty arm in a set operation")
    return arm_texts, ops, _render(tail)


def execute_set_ops(arms: list[str], ops: list[tuple[str, bool]],
                    tail: str, run_select,
                    spark: SparkSession) -> DataFrame:
    """Combine SELECT arms with UNION/INTERSECT/EXCEPT — positional
    columns and PG precedence (INTERSECT binds tighter) — then apply the
    trailing ORDER BY/LIMIT to the whole set result. Each DataFrame-side
    op maps 1:1 onto a Catalyst set operator (Union/Intersect/Except),
    so partial aggregation and AQE apply as if the text had been one
    statement."""
    from serenedb_spark.plans.dialect import sql_compat

    dfs = [run_select(a) for a in arms]
    # pass 1: fold INTERSECT runs (higher precedence in PG)
    vals: list[DataFrame] = [dfs[0]]
    kept: list[tuple[str, bool]] = []
    for (op, all_), df in zip(ops, dfs[1:]):
        if op == "INTERSECT":
            vals[-1] = (vals[-1].intersectAll(df) if all_
                        else vals[-1].intersect(df))
        else:
            kept.append((op, all_))
            vals.append(df)
    # pass 2: UNION / EXCEPT left-to-right
    out = vals[0]
    for (op, all_), df in zip(kept, vals[1:]):
        if op == "UNION":
            out = out.union(df) if all_ else out.union(df).distinct()
        else:
            out = out.exceptAll(df) if all_ else out.subtract(df)
    if tail:
        out.createOrReplaceTempView("__serene_setop")
        return sql_compat(spark, f"SELECT * FROM __serene_setop {tail}")
    return out


def rewrite_search_subqueries(q_text: str, run_select, spark):
    """Pre-execute parenthesized SELECT subqueries that contain search
    constructs — `WHERE doc_id IN (SELECT doc_id FROM idx WHERE text @@
    ...)` (reference secondary_index.test semi-join shapes): each
    subquery runs through the search door into a temp view and the outer
    text references the view, so the outer statement (plain, multirel,
    or itself searched) plans normally with the match set as an ordinary
    relation — Catalyst turns IN into a semi-join against the claimed
    set. Correlated search subqueries are unsupported; the inner run
    surfaces unresolved outer columns as an analysis error. Returns
    (new_text, changed)."""
    from serenedb_spark.plans.search_sql import has_search_construct

    toks = tokenize(q_text.strip().rstrip(";"))
    out: list[Tok] = []
    i, n = 0, len(toks)
    k = 0
    changed = False
    while i < n:
        t = toks[i]
        if t.text == "(" and i + 1 < n and toks[i + 1].upper == "SELECT":
            depth = 0
            j = i
            while j < n:
                if toks[j].text == "(":
                    depth += 1
                elif toks[j].text == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise ValueError("unbalanced parens in statement")
            inner = _render(toks[i + 1:j])
            if has_search_construct(inner):
                view = f"__serene_sub{k}"
                k += 1
                run_select(inner).createOrReplaceTempView(view)
                out += [Tok("IDENT", "("), Tok("IDENT", "SELECT"),
                        Tok("IDENT", "*"), Tok("IDENT", "FROM"),
                        Tok("IDENT", view), Tok("IDENT", ")")]
                changed = True
            else:
                out.extend(toks[i:j + 1])
            i = j + 1
            continue
        out.append(t)
        i += 1
    return _render(out), changed
