"""SQL front door for the search dialect — the reference's primary UX.

The reference exposes full-text search as PG SQL text: ``WHERE col @@
to_tsquery('...')``, native combinators ``&& || !! ## ^`` over tsquery
leaves (``ts_phrase``, ``ts_starts_with``, ``ts_levenshtein``, …), scorer
calls in the projection and ORDER BY (``ORDER BY BM25(idx.tableoid) DESC
LIMIT k``), and index DDL (``CREATE INDEX n ON t USING inverted(col
analyzer, plain_col)``).  References: server/connector/functions/
search.h:75-132 (the claimed function surface), examples/demo3/demo.sql
(every query shape below appears there), tests/sqllogic/sdb/pg/site_docs/
sql/functions/full_text_search.test (## gap / boost / to_tsquery forms).

This module parses that restricted SQL shape and lowers it onto the
existing engine: plans.tsquery AST → plans.planner.compile_query →
operators.scoring.  It is deliberately NOT a general SQL parser — a
statement with no search construct is handed to Spark SQL untouched
(plans.dialect.sql_compat); a statement that mixes search constructs with
shapes this parser does not cover raises, never silently misparses.

Grammar (token-level, paren-aware):

    select   := SELECT items FROM name [WHERE bool]
                [ORDER BY key [ASC|DESC] (, key [ASC|DESC])*] [LIMIT n]
    bool     := bool_and (OR bool_and)*   -- full SQL boolean algebra over
    bool_and := bool_not (AND bool_not)*  -- claims (filter_optimizer_*.test)
    bool_not := NOT bool_not | '(' bool ')' ['::' boost '(' num ')']
              | leaf
    leaf     := ident @@ tsexpr          -- claimed match
              | ident vecop vec cmp num  -- claimed vector range
              | <any SQL span>           -- residual, evaluated post-match
    tsexpr   := ts_or
    ts_or    := ts_and ('||' ts_and)*
    ts_and   := ts_seq ('&&' ts_seq)*
    ts_seq   := ts_unary ('##' gap? ts_unary)*      -- ## phrase chain
    gap      := int | ARRAY[lo, hi]                  -- tokens between
    ts_unary := '!!' ts_unary | primary ('^' num | '::' ident)*
    primary  := '(' ts_or ')' | func '(' args ')' | 'string literal'

Scorer calls (BM25/TFIDF/lm_dirichlet/lm_jm/dfi/…) may appear in the
select list and ORDER BY keys; each call (plus a trailing ``::numeric``
cast) is rewritten to the internal ``__score`` column, so surrounding SQL
(``round(BM25(x)::numeric, 2) AS score``) evaluates as ordinary Spark SQL
over the computed score.

Gap semantics: ``a ## n ## b`` = exactly n tokens between (position diff
n+1); ``a ## ARRAY[lo,hi] ## b`` = lo..hi tokens between — matching the
documented forms in full-text-search.test:173 and demo3 §8.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serenedb_spark.plans import tsquery as q

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+|--[^\n]*)
      | (?P<str>'(?:[^']|'')*')
      | (?P<num>(?:\d+\.\d+|\d+)(?:[eE][+-]?\d+)?)
      | (?P<op>@@|&&|\|\||!!|\#\#|::|:=|<=>|<->|<\#>|<\+>|<=|>=|<>|!=|[(),\[\]^*;=<>+\-/%.:])
      | (?P<ident>[A-Za-z_][A-Za-z_0-9$]*(?:\.[A-Za-z_][A-Za-z_0-9$]*)*
                  |"(?:[^"]|"")*")
    """,
    re.X,
)


@dataclass
class Tok:
    kind: str  # STR NUM OP IDENT
    text: str

    @property
    def upper(self) -> str:
        return self.text.upper()


def tokenize(sql: str) -> list[Tok]:
    out: list[Tok] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise ValueError(f"cannot tokenize SQL at {sql[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(Tok(kind.upper() if kind else "OP", m.group()))
    return out


def _unquote(s: str) -> str:
    return s[1:-1].replace("''", "'")


class _Stream:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of SQL")
        self.i += 1
        return t

    def match(self, text: str) -> bool:
        t = self.peek()
        if t is not None and t.upper == text.upper():
            self.i += 1
            return True
        return False

    def expect(self, text: str) -> Tok:
        t = self.next()
        if t.upper != text.upper():
            raise ValueError(f"expected {text!r}, got {t.text!r}")
        return t


# ---------------------------------------------------------------------------
# tsquery expression parser (the text inside `col @@ ...`)
# ---------------------------------------------------------------------------


def _text_leaf(s: str, an) -> q.TSQuery:
    """Bare 'string literal': analyzed through the column analyzer —
    one token → Term, several → ANY-of the tokens, min_match=1 (the
    plan's `col @@ 'Quick Fox' ≡ ANY_OF(tokens)` rule,
    search_filter_builder.cpp:1896, tsquery_match.test:79)."""
    toks = an.tokens(s)
    if not toks:
        # '' tokenizes to nothing → the Empty filter: FALSE on every
        # non-NULL value, so NOT(col @@ '') is exactly the non-NULL rows
        # (null_semantics.test:459-527 degenerate-match family)
        return q.AnyOf([])
    return q.Term(toks[0]) if len(toks) == 1 else q.AnyOf(toks)


def _parse_array(ts: _Stream) -> list:
    """ARRAY[a, b, ...] of scalars (negative numbers included);
    per-element `::type` casts are declarative and absorbed
    (headline.test ARRAY['quick'::tsquery, ...])."""
    ts.expect("[")
    vals = []
    while not ts.match("]"):
        t = ts.peek()
        if (t is not None and t.text == "::"
                and ts.peek(1) is not None
                and ts.peek(1).kind == "IDENT"):
            ts.next()
            ts.next()
            continue
        t = ts.next()
        if t.kind == "STR":
            vals.append(_unquote(t.text))
        elif t.kind == "NUM":
            vals.append(float(t.text) if "." in t.text else int(t.text))
        elif t.text == "-":
            nt = ts.next()
            if nt.kind != "NUM":
                raise ValueError(
                    f"unexpected token in ARRAY literal: -{nt.text!r}")
            vals.append(-(float(nt.text) if "." in nt.text else int(nt.text)))
        elif t.text == ",":
            continue
        else:
            raise ValueError(f"unexpected token in ARRAY literal: {t.text!r}")
    return vals


class _PreTokenized(list):
    """Token list already produced by ts_tokenize — ts_any/ts_all must
    not re-analyze its elements."""


def _absorb_boost_suffix(node: q.TSQuery, ts: _Stream) -> q.TSQuery:
    """Consume trailing `^ K` / `::boost(K)` after a node-valued
    argument (per-clause boosts inside list arguments)."""
    while ts.peek() is not None:
        if (ts.peek().text == "^" and ts.peek(1) is not None
                and ts.peek(1).kind == "NUM"):
            ts.next()
            node = node.boost(float(ts.next().text))
        elif (ts.peek().text == "::" and ts.peek(1) is not None
                and ts.peek(1).upper == "BOOST"):
            ts.next()
            ts.next()
            (f,) = _parse_args(ts)
            node = node.boost(float(f))
        else:
            break
    return node


def _scalar_arg(ts: _Stream, an=None):
    t = ts.peek()
    if t is None:
        raise ValueError("unexpected end of argument list")
    if (an is not None and t.kind == "IDENT"
            and (t.text.lower().startswith("ts_")
                 or t.text.lower() in (
                     "tsquery_phrase", "to_tsquery", "plainto_tsquery",
                     "phraseto_tsquery", "websearch_to_tsquery"))
            and t.text.lower() != "ts_tokenize"
            and ts.peek(1) is not None and ts.peek(1).text == "("):
        # nested tsquery node argument: ts_compound(ts_phrase('a'), ...)
        # (full_text_search.test:345); a trailing `^ K` / ::boost(K)
        # boosts the clause (tsquery_match.test:2021)
        name = ts.next().text
        return _absorb_boost_suffix(_parse_call(name, ts, an), ts)
    if t.text == "(" and an is not None:
        # parenthesized tsquery expression argument:
        # tsquery_phrase((ts_phrase('quick') ## ts_phrase('brown')), ...)
        # (tsquery_match.test:862)
        ts.next()
        node = parse_tsquery_tokens(ts, an)
        ts.expect(")")
        return node
    if t.text == "[" and an is not None:
        # bare list argument, possibly of nested nodes:
        # ts_all([ts_phrase('quick'), ts_phrase('brown')])
        ts.next()
        vals = []
        while not ts.match("]"):
            if ts.peek().text == ",":
                ts.next()
                continue
            vals.append(_scalar_arg(ts, an))
        # absorb a `::TSQUERY[n]` fixed-size array cast on the list —
        # declarative metadata (tsquery_match.test TSQUERY[2] ARRAY form)
        if (ts.peek() is not None and ts.peek().text == "::"
                and ts.peek(1) is not None and ts.peek(1).kind == "IDENT"):
            ts.next()
            ts.next()
            if ts.peek() is not None and ts.peek().text == "[":
                ts.next()
                if ts.peek() is not None and ts.peek().kind == "NUM":
                    ts.next()
                ts.expect("]")
        return vals
    if (t.kind == "IDENT" and t.text.lower() == "ts_tokenize"
            and ts.peek(1) is not None and ts.peek(1).text == "("):
        # demo6: ts_all(ts_tokenize(ARRAY['...'], 'analyzer')) — analyze
        # the strings through the NAMED analyzer, flatten to a term list
        from serenedb_spark.analysis.analyzers import get_analyzer

        ts.next()
        args = _parse_args(ts, an)
        if not 1 <= len(args) <= 2:
            raise ValueError("ts_tokenize(texts[, analyzer_name])")
        texts = args[0]
        if isinstance(texts, str):
            texts = [texts]
        # analyzer defaults to the column's ambient one
        # (tsquery_match.test:1654 "Ambient (1-arg) form")
        a2 = get_analyzer(str(args[1])) if len(args) > 1 else an
        return _PreTokenized(
            tok for s in texts for tok in a2.tokens(s))
    if t.kind == "STR":
        val = _unquote(ts.next().text)
        if (an is not None and ts.peek() is not None
                and ts.peek().text == "::" and ts.peek(1) is not None
                and ts.peek(1).upper == "TSQUERY"):
            # 'quick'::TSQUERY inside a function argument
            # (full_text_search.test tsquery_phrase)
            ts.next(); ts.next()
            return q.to_tsquery(val)
        return val
    if t.kind == "NUM":
        txt = ts.next().text
        # absorb a width cast (`1::INTEGER`, `100::BIGINT`) — constant
        # folding renders the literal back (tsquery_match.test:523)
        if (ts.peek() is not None and ts.peek().text == "::"
                and ts.peek(1) is not None and ts.peek(1).kind == "IDENT"):
            ts.next()
            ts.next()
        return (float(txt) if "." in txt or "e" in txt.lower()
                else int(txt))
    if t.upper == "ARRAY":
        ts.next()
        return _parse_array(ts)
    if t.upper in ("TRUE", "FALSE"):
        return ts.next().upper == "TRUE"
    if t.upper == "NULL":
        ts.next()
        return None
    if t.text == "-" and ts.peek(1) is not None and ts.peek(1).kind == "NUM":
        ts.next()
        txt = ts.next().text
        return -(float(txt) if "." in txt else int(txt))
    raise ValueError(f"unsupported function argument: {t.text!r}")


def _parse_args(ts: _Stream, an=None) -> list:
    ts.expect("(")
    args = []
    while not ts.match(")"):
        args.append(_scalar_arg(ts, an))
        if not ts.match(","):
            ts.expect(")")
            break
    return args


def _phrase_from_args(args: list, an) -> q.TSQuery:
    """ts_phrase('w1', ARRAY[lo,hi], 'w2', ...) — strings are analyzed
    (multi-token strings expand to adjacent words); ARRAY[lo,hi] between
    two strings sets that gap in tokens-between units (demo3 §1)."""
    words: list[str] = []
    gaps: list[tuple[int, int]] = []
    pending: tuple[int, int] | None = None
    for a in args:
        if isinstance(a, (int, float)) and not isinstance(a, bool):
            # bare integer gap: ts_phrase('quick', 1, 'fox') = exactly
            # one token between (tsquery_match.test:2056)
            if not words:
                raise ValueError(f"misplaced gap spec in ts_phrase: {a!r}")
            pending = (int(a) + 1, int(a) + 1)
        elif isinstance(a, list):
            if len(a) != 2 or words == []:
                raise ValueError(f"misplaced gap spec in ts_phrase: {a!r}")
            pending = (int(a[0]) + 1, int(a[1]) + 1)
        elif isinstance(a, str):
            toks = an.tokens(a)
            if not toks:
                raise ValueError(f"ts_phrase part {a!r} analyzes to nothing")
            for t in toks:
                if words:
                    gaps.append(pending if pending is not None else (1, 1))
                    pending = None
                words.append(t)
        else:
            raise ValueError(f"unsupported ts_phrase argument: {a!r}")
    if pending is not None:
        raise ValueError("trailing gap spec in ts_phrase")
    if not words:
        raise ValueError("empty ts_phrase")
    if len(words) == 1:
        return q.Term(words[0])
    return q.Phrase(words, gaps=gaps)


def _parse_call(name: str, ts: _Stream, an) -> q.TSQuery:
    args = _parse_args(ts, an)
    n = name.lower()
    if n in ("ts_between", "ts_lt", "ts_le", "ts_gt", "ts_ge"):
        nb = 2 if n == "ts_between" else 1
        for f in args[nb:]:
            if not isinstance(f, bool):
                raise ValueError(
                    f"{n} inclusivity flags must be BOOLEAN constants")

        def _cls(v):
            if v is None:
                return None
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, (int, float)):
                return "numeric"
            return "varchar"

        if n != "ts_between" and (not args or args[0] is None):
            raise ValueError(
                f"{n} bound must not be NULL — use ts_between(NULL, ...) "
                "for an unbounded side")  # tsquery_match.test:667
        classes = {c for c in map(_cls, args[:nb]) if c is not None}
        if len(classes) > 1:
            # bind-time error: min and max must agree on their value
            # class (tsquery_match.test:506-520)
            raise ValueError(
                f"{n} bounds must agree on their value class, got "
                f"{sorted(classes)}")
        numeric_col = getattr(an, "name", "") == "encoded_int"
        want = {"numeric"} if numeric_col else {"varchar"}
        if classes and classes != want:
            # bounds must match the column's type family
            # (tsquery_match.test:537-551, 620-623)
            raise ValueError(
                f"{n} bound type {sorted(classes)} is incompatible with "
                f"the column's type family {sorted(want)}")
        if (classes == {"varchar"} and n != "ts_between"
                and not _is_raw_analyzer(an)):
            # single-bound shortcuts tokenize the bound through the
            # ambient analyzer (ts_between.cpp:139-178): zero tokens →
            # the Empty filter, several → bind-time error
            toks = an.tokens(str(args[0]))
            if not toks:
                return q.AnyOf([])
            if len(toks) > 1:
                raise ValueError(
                    f"{n} bound produced multiple tokens; range "
                    "comparison requires a single token")
            args = [toks[0], *args[1:]]
        if numeric_col:
            # numeric fields index the memcmp-encoded key: encode the
            # range bounds the same way (key_encoding contract); the
            # trailing inclusivity flags are booleans, and bool is an
            # int subclass, so they stay (tsquery_match.test:421)
            from serenedb_spark.functions.key_encoding import (
                py_encode_int,
            )
            args = [py_encode_int(int(float(a)))
                    if pi < nb and isinstance(a, (int, float))
                    and not isinstance(a, bool)
                    else a
                    for pi, a in enumerate(args)]
    if n == "to_tsquery":
        return q.to_tsquery(args[0])
    if n == "plainto_tsquery":
        return q.plainto_tsquery(args[0], an.name)
    if n == "phraseto_tsquery":
        return q.phraseto_tsquery(args[0], an.name)
    if n == "websearch_to_tsquery":
        return q.websearch_to_tsquery(args[0], an.name)
    if n == "ts_phrase":
        return _phrase_from_args(args, an)
    if n == "ts_starts_with":
        return q.Prefix(args[0])
    if n == "ts_like":
        return q.Wildcard(args[0])
    if n == "ts_regexp":
        if getattr(an, "name", "") == "encoded_int":
            raise ValueError(
                "ts_regexp requires a VARCHAR column")  # bind-time error
        syntax = str(args[1]).lower() if len(args) > 1 else "perl"
        if syntax not in ("perl", "posix"):
            raise ValueError(
                f"ts_regexp syntax must be one of [Perl, Posix], "
                f"got '{args[1]}'")
        return q.Regexp(args[0], syntax)
    if n == "ts_levenshtein":
        # ts_levenshtein(text[, distance[, transpositions[, prefix]]]) —
        # distance defaults by term length (ts_levenshtein.cpp:50-52)
        txt = str(args[0])
        if len(args) > 1:
            d = int(args[1])
        else:
            d = 0 if len(txt) <= 2 else (1 if len(txt) <= 5 else 2)
        trans = bool(args[2]) if len(args) > 2 else True
        prefix = str(args[3]) if len(args) > 3 else ""
        if not 0 <= d <= 4:
            raise ValueError(
                f"ts_levenshtein distance must be between 0 and 4, got {d}")
        if trans and d > 3:
            raise ValueError(
                "ts_levenshtein distance must be between 0 and 3 when "
                f"transpositions is true, got {d}")
        return q.Fuzzy(txt, d, transpositions=trans, prefix=prefix)
    if n == "ts_ngram":
        thr = float(args[1]) if len(args) > 1 else 0.7  # ts_ngram.cpp:49
        if not 0.0 <= thr <= 1.0:
            raise ValueError(
                f"ts_ngram threshold must be between 0 and 1, got {thr}")
        return q.NgramSim(args[0], thr)
    if n == "ts_any":
        mm = int(args[1]) if len(args) > 1 else 1
        items = args[0] if isinstance(args[0], list) else [args[0]]
        if any(isinstance(x, q.TSQuery) for x in items):
            if mm > max(len(items), 1):
                raise ValueError(
                    f"ts_any min_match {mm} exceeds the "
                    f"{len(items)}-element clause list")
            # node list: ES dis-max-ish should with min_should_match
            nodes = tuple(x if isinstance(x, q.TSQuery)
                          else _text_leaf(x, an) for x in items)
            return q.Compound(should=nodes, min_should_match=mm)
        # string items tokenize through the ambient analyzer and flatten
        # into one ByTerms (tsquery_match.test:2165 'Quick Turtle',
        # :2184 single string + min_match over its tokens); ts_tokenize
        # output is already analyzed and passes through
        if isinstance(args[0], _PreTokenized):
            toks = list(items)
        else:
            toks = [t for s in items for t in an.tokens(str(s))]
        if mm > max(len(toks), 1):
            # bind-time error (tsquery_match.test:233); an empty token
            # flatten with the default min_match stays the Empty filter
            raise ValueError(
                f"ts_any min_match {mm} exceeds the {len(toks)}-element "
                "clause list")
        return q.AnyOf(toks, mm)
    if n == "ts_all":
        if len(args) > 1:
            # no `(list, int)` overload exists (tsquery_match.test:237)
            raise ValueError("ts_all takes a single list argument")
        items = args[0] if isinstance(args[0], list) else [args[0]]
        if any(isinstance(x, q.TSQuery) for x in items):
            nodes = [x if isinstance(x, q.TSQuery)
                     else _text_leaf(x, an) for x in items]
            out = nodes[0]
            for x in nodes[1:]:
                out = q.And((out, x)) if not isinstance(out, q.And) \
                    else q.And(tuple(out.parts) + (x,))
            return out
        if isinstance(args[0], _PreTokenized):
            return q.AllOf(list(items))
        return q.AllOf([t for s in items for t in an.tokens(str(s))])
    if n == "tsquery_phrase":
        # PG tsquery_phrase(q1, q2[, distance]): the two FRAGMENTS sit
        # `distance` positions apart; each fragment keeps its own inner
        # gap structure (tsquery_match.test:826,873)
        dist = int(args[2]) if len(args) > 2 else 1
        if dist < 1:
            # PG's `<0>` is invalid, `<1>` is adjacent
            # (tsquery_match.test:912-916)
            raise ValueError(
                f"tsquery_phrase distance must be at least 1, got {dist}")
        frags = [(_seq_frag(a if isinstance(a, q.TSQuery)
                            else _text_leaf(str(a), an)))
                 for a in args[:2]]
        (p1, g1), (p2, g2) = frags
        return q.PhraseSeq(p1 + p2, gaps=g1 + [(dist, dist)] + g2)
    if n == "ts_compound":
        def _nodes(a) -> tuple:
            if a is None:
                return ()
            items = a if isinstance(a, list) else [a]
            return tuple(x if isinstance(x, q.TSQuery)
                         else _text_leaf(str(x), an) for x in items)
        msm = int(args[3]) if len(args) > 3 and args[3] is not None else 0
        should = _nodes(args[2] if len(args) > 2 else None)
        if len(args) > 3 and args[3] is not None:
            if not should:
                raise ValueError(
                    "min_should_match makes no sense without should "
                    "clauses")  # tsquery_match.test:2004
            if not 1 <= msm <= len(should):
                raise ValueError(
                    f"min_should_match must be in [1, {len(should)}], "
                    f"got {msm}")
        return q.Compound(
            must=_nodes(args[0] if len(args) > 0 else None),
            must_not=_nodes(args[1] if len(args) > 1 else None),
            should=should,
            min_should_match=msm)
    if n == "ts_between":
        li = bool(args[2]) if len(args) > 2 else True
        hi = bool(args[3]) if len(args) > 3 else True
        return q.Between(args[0], args[1], li, hi, strict=True)
    if n == "ts_lt":
        return q.Between(hi=args[0], hi_inclusive=False)
    if n == "ts_le":
        return q.Between(hi=args[0])
    if n == "ts_gt":
        return q.Between(lo=args[0], lo_inclusive=False)
    if n == "ts_ge":
        return q.Between(lo=args[0])
    if n == "ts_tokenize":
        # `body @@ ts_tokenize('text'[, 'analyzer'])` — the explicit form
        # of the bare-string promotion: analyze with the NAMED analyzer
        # (defaulting to the field's), ANY-of the tokens
        # (tsquery_match.test:88, full_text_search.test:229)
        from serenedb_spark.analysis.analyzers import get_analyzer
        a2 = get_analyzer(str(args[1])) if len(args) > 1 else an
        return _text_leaf(str(args[0]), a2)
    # the reference surfaces unknown ts_* calls as missing scalar
    # functions (null_semantics.test:283 pins this wording)
    raise ValueError(
        f"Scalar Function with name {name} does not exist!")


#: regex is NOT a supported phrase part — the emitter accepts
#: term-shaped parts only (tsquery_match.test:808-811)
_SEQ_PART_TYPES = (q.Term, q.AnyOf, q.Prefix, q.Wildcard,
                   q.Fuzzy, q.Between)



def _seq_frag(node: q.TSQuery) -> tuple[list[q.TSQuery], list]:
    """A phrase fragment as (parts, inner gaps) — splicing a nested
    PhraseSeq preserves its own gap structure (tsquery_match.test:873
    nested tsquery_phrase distances)."""
    if isinstance(node, q.AnyOf) and node.min_match > 1:
        # a single phrase position holds at most one token
        # (tsquery_match.test:1016)
        raise ValueError(
            "ts_any with min_match > 1 is unsatisfiable at a single "
            "phrase position")
    if isinstance(node, _SEQ_PART_TYPES):
        return [node], []
    if isinstance(node, q.Phrase) and all(g == (1, 1) for g in node.gaps):
        terms = [q.Term(w) for w in node.words]
        return terms, [(1, 1)] * (len(terms) - 1)
    if isinstance(node, q.PhraseSeq):
        return list(node.parts), list(node.gaps)
    kind = "^" if isinstance(node, q.Boost) else type(node).__name__
    raise ValueError(
        f"## part type not supported yet: {kind}. Supported phrase "
        "parts: bare 'word', ts_starts_with, ts_like, ts_levenshtein, "
        "ts_phrase, ts_any, ts_between.")


def _parse_ts_seq(ts: _Stream, an) -> q.TSQuery:
    first = _parse_ts_unary(ts, an)
    if ts.peek() is None or ts.peek().text != "##":
        return first
    parts, gaps = _seq_frag(first)
    while ts.match("##"):
        t = ts.peek()
        pending: tuple[int, int] | None = None
        if t is not None and t.kind == "NUM":
            # `a ## n ## b`: exactly n tokens between → pos diff n+1
            n = int(ts.next().text)
            pending = (n + 1, n + 1)
            ts.expect("##")
        elif t is not None and (t.upper == "ARRAY" or t.text == "["):
            # ARRAY[lo,hi] or the bare-list spelling [lo,hi], optionally
            # with an ::INTEGER[2] cast (tsquery_match.test:703-720)
            if t.upper == "ARRAY":
                ts.next()
            lo, hi = _parse_array(ts)
            if (ts.peek() is not None and ts.peek().text == "::"
                    and ts.peek(1) is not None
                    and ts.peek(1).kind == "IDENT"):
                ts.next()
                ts.next()
                if ts.peek() is not None and ts.peek().text == "[":
                    ts.next()
                    if ts.peek() is not None and ts.peek().kind == "NUM":
                        ts.next()
                    ts.expect("]")
            if int(lo) < 0 or int(lo) > int(hi):
                raise ValueError(
                    f"## gap interval [{lo}, {hi}] requires "
                    "0 <= min <= max")  # tsquery_match.test:1363
            pending = (int(lo) + 1, int(hi) + 1)
            ts.expect("##")
        sub_p, sub_g = _seq_frag(_parse_ts_unary(ts, an))
        gaps.append(pending if pending is not None else (1, 1))
        gaps.extend(sub_g)
        parts.extend(sub_p)
    return q.PhraseSeq(parts, gaps=gaps)


def _parse_ts_unary(ts: _Stream, an) -> q.TSQuery:
    if ts.match("!!"):
        return ~_parse_ts_unary(ts, an)
    node = _parse_ts_primary(ts, an)
    while True:
        t = ts.peek()
        if t is None:
            return node
        if t.text == "^":
            ts.next()
            node = node.boost(float(ts.next().text))
        elif t.text == "::":
            ts.next()
            nxt = ts.next()
            if nxt.upper in ("TSQUERY", "TEXT"):
                # transit casts through the TSQUERY/text family are
                # no-ops on an already-built node (UnwrapTSQueryCast;
                # tsquery_match.test:2712 (node)::text::tsquery)
                continue
            if nxt.upper == "SLOP":
                (n,) = _parse_args(ts)
                if not isinstance(node, q.PhraseSeq):
                    raise ValueError("::slop(n) applies to a ## chain")
                node = node.with_slop(int(n))
            elif nxt.upper == "BOOST":
                # `ts_phrase('quick')::boost(2.0)` — composable analogue
                # of ^ K (tsquery_match.test:1790)
                (f,) = _parse_args(ts)
                if f is None or float(f) < 0:
                    raise ValueError(
                        f"boost factor must be a non-negative number, "
                        f"got {f!r}")
                node = node.boost(float(f))
            elif nxt.upper == "TOKENIZE":
                # node-level ::tokenize('name') re-analyzes the node's
                # text through the named analyzer
                # (tsquery_match.test:1809-1816)
                from serenedb_spark.analysis.analyzers import get_analyzer
                (name,) = _parse_args(ts)
                an2 = get_analyzer(
                    str(name) if name is not None else "keyword")
                node = _retokenize(node, an2)
            else:
                raise ValueError(f"unsupported cast ::{nxt.text}")
        else:
            return node


#: structured tsquery value text starts with a whitelisted constructor
#: (possibly under redundant parens); anything else stays leaf tokens
_STRUCT_TSQ_RE = re.compile(
    r"^[\s(]*(ts_[a-z_]+|tsquery_phrase|to_tsquery|plainto_tsquery|"
    r"phraseto_tsquery|websearch_to_tsquery)\s*\(")

#: structured-text size cap (the reference caps and falls back to leaf
#: tokens, tsquery_match.test:2738)
_STRUCT_TSQ_MAX = 65536


def _tsquery_text_cast(raw: str, an) -> q.TSQuery:
    """'ts_phrase(''quick'')'::tsquery — a string whose text is a
    whitelisted constructor expression compiles structurally; anything
    else (plain words, non-whitelisted names, oversized text) tokenizes
    as leaf text."""
    if len(raw) <= _STRUCT_TSQ_MAX and _STRUCT_TSQ_RE.match(raw):
        try:
            return parse_tsquery_text(raw, an)
        except Exception:
            pass
    return _text_leaf(raw, an)


def _retokenize(node: q.TSQuery, an2) -> q.TSQuery:
    """Re-analyze a text-leaf node through another analyzer (the
    ::tokenize cast modifier on constructor results)."""
    if isinstance(node, q.Boost):
        return q.Boost(_retokenize(node.part, an2), node.factor)
    if isinstance(node, q.Term):
        return _text_leaf(node.term, an2)
    if isinstance(node, q.Phrase):
        toks = [w2 for w in node.words for w2 in an2.tokens(w)]
        return (q.Phrase(toks) if len(toks) > 1
                else q.Term(toks[0]) if toks else q.AnyOf([]))
    if isinstance(node, q.AnyOf):
        toks = [w2 for w in node.terms for w2 in an2.tokens(w)]
        return q.AnyOf(toks, node.min_match)
    raise ValueError(
        f"::tokenize does not apply to {type(node).__name__}")


def _try_const_string_fold(ts: _Stream, an):
    """`('lit' || repeat('c', n))::tsquery` — a constant VARCHAR concat
    expression folds driver-side before the tsquery cast
    (tsquery_match.test:2736-2745).  Called with ts positioned just
    after the opening paren; returns a node and consumes through the
    cast, or None leaving the stream untouched."""
    j, depth = ts.i, 1
    span: list[Tok] = []
    while j < len(ts.toks):
        tk = ts.toks[j]
        if tk.text == "(":
            depth += 1
        elif tk.text == ")":
            depth -= 1
            if depth == 0:
                break
        span.append(tk)
        j += 1
    if depth != 0 or not span:
        return None
    allowed = {"||", "(", ")", ","}
    uses_fn = False
    for tk in span:
        if tk.kind in ("STR", "NUM") or tk.text in allowed:
            continue
        if tk.kind == "IDENT" and tk.text.lower() == "repeat":
            uses_fn = True
            continue
        return None
    if not uses_fn:
        return None  # pure-literal `'a' || 'b'` stays tsquery OR
    # fold: evaluate the tiny concat grammar
    sub = _Stream(span)

    def atom() -> str:
        tk = sub.next()
        if tk.kind == "STR":
            return _unquote(tk.text)
        if tk.kind == "IDENT" and tk.text.lower() == "repeat":
            args = _parse_args(sub)
            return str(args[0]) * int(args[1])
        raise ValueError(f"not a constant string: {tk.text!r}")

    try:
        val = atom()
        while sub.match("||"):
            val += atom()
        if sub.peek() is not None:
            return None
    except ValueError:
        return None
    ts.i = j + 1  # past the close paren
    if (ts.peek() is not None and ts.peek().text == "::"
            and ts.peek(1) is not None and ts.peek(1).upper == "TSQUERY"):
        ts.next()
        ts.next()
    return _tsquery_text_cast(val, an)


def _parse_ts_primary(ts: _Stream, an) -> q.TSQuery:
    t = ts.next()
    if t.text == "(":
        folded = _try_const_string_fold(ts, an)
        if folded is not None:
            return folded
        node = parse_tsquery_tokens(ts, an)
        ts.expect(")")
        return node
    if t.kind == "IDENT" and t.upper in ("TRUE", "FALSE", "NULL") and (
            ts.peek() is None or ts.peek().text != "("):
        # trivial constants in TSQUERY context: true → All, false →
        # Empty, NULL folds the predicate to NULL → 0 rows
        # (tsquery_match.test:1893-1906)
        if t.upper == "TRUE":
            return q.Not(q.AnyOf([]))
        return q.AnyOf([])
    if t.kind == "STR":
        raw = _unquote(t.text)
        # 'text'::tokenize('name') — the cast modifier bypasses the
        # column analyzer (tsquery_match.test:97, UnwrapTSQueryCast's
        # modifier-bearing casts)
        if (ts.peek() is not None and ts.peek().text == "::"
                and ts.peek(1) is not None
                and ts.peek(1).text.lower() == "tokenize"):
            from serenedb_spark.analysis.analyzers import get_analyzer
            ts.next()
            ts.next()
            (name,) = _parse_args(ts)
            # ::tokenize(NULL) is sugar for ::tokenize('keyword')
            # (tsquery_match.test:121)
            return _text_leaf(raw, get_analyzer(
                str(name) if name is not None else "keyword"))
        # 'ts_phrase(...)'::tsquery — structured value text compiles
        # structurally; non-whitelisted or oversized text stays leaf
        # tokens (tsquery_match.test:2689-2745)
        if (ts.peek() is not None and ts.peek().text == "::"
                and ts.peek(1) is not None
                and ts.peek(1).upper == "TSQUERY"):
            ts.next()
            ts.next()
            return _tsquery_text_cast(raw, an)
        return _text_leaf(raw, an)
    if t.kind == "IDENT" and ts.peek() is not None and ts.peek().text == "(":
        return _parse_call(t.text, ts, an)
    raise ValueError(f"unexpected token in tsquery expression: {t.text!r}")


def parse_tsquery_tokens(ts: _Stream, an) -> q.TSQuery:
    parts = [_parse_ts_and(ts, an)]
    while ts.match("||"):
        parts.append(_parse_ts_and(ts, an))
    # n-ary, not left-nested pairs: `a || b || c` is one Or([a, b, c]) —
    # matches the combinator builders and round-trips tsquery_to_sql
    return parts[0] if len(parts) == 1 else q.Or(parts)


def _parse_ts_and(ts: _Stream, an) -> q.TSQuery:
    parts = [_parse_ts_seq(ts, an)]
    while ts.match("&&"):
        parts.append(_parse_ts_seq(ts, an))
    return parts[0] if len(parts) == 1 else q.And(parts)


def parse_tsquery_text(text: str, an) -> q.TSQuery:
    ts = _Stream(tokenize(text))
    node = parse_tsquery_tokens(ts, an)
    if ts.peek() is not None:
        raise ValueError(f"trailing tokens in tsquery: {ts.peek().text!r}")
    return node


# ---------------------------------------------------------------------------
# statement parser
# ---------------------------------------------------------------------------

#: scorer-call name → (engine scorer name, positional param names after the
#: leading index-reference argument) — demo3 §5 calls these in SELECT and
#: ORDER BY with the index oid as first arg.
SCORER_FUNCS: dict[str, tuple[str, tuple[str, ...]]] = {
    "bm25": ("bm25", ("k1", "b")),
    "tfidf": ("tfidf", ()),
    "lm_dirichlet": ("lm_dirichlet", ("mu",)),
    "lm_jm": ("lm_jm", ("lam",)),
    "indri_dirichlet": ("indri_dirichlet", ("mu",)),
    "dfi": ("dfi", ()),
    "raw_tf": ("raw_tf", ()),
    "raw_df": ("raw_df", ()),
    "raw_dl": ("raw_dl", ()),
    "raw_boost": ("raw_boost", ()),
}


@dataclass
class SearchSelect:
    select_items: list[str]          # SQL text, scorer calls → __score
    from_name: str
    matches: list[tuple[str, q.TSQuery]]  # (column, tsquery)
    residual: str | None             # post-match SQL predicate
    order: list[tuple[str, bool]]    # (SQL text with __score, is_desc)
    limit: int | None
    scorer: str | None
    scorer_params: dict = field(default_factory=dict)
    #: highlight/offsets projection calls found in the select list:
    #: (placeholder column, func name, text column, extra scalar args)
    proj_calls: list = field(default_factory=list)
    #: the `col <=> ARRAY[...]` distance referenced by ORDER BY / SELECT
    #: (demo4 Q1/Q3: ANN top-k) — (column, metric, query vector)
    vector_dist: tuple | None = None
    #: WHERE `col <=> qvec < r` range conjuncts (demo4 Q2):
    #: (column, metric, qvec, cmp, radius)
    vector_ranges: list = field(default_factory=list)
    #: top-level OR conjuncts mixing columns / residuals (BoolNode trees;
    #: filter_optimizer_*.test) — lowered by doc-id set algebra
    or_groups: list = field(default_factory=list)


#: PG type spellings → Spark CAST targets (the rest pass through)
_CAST_TYPES = {"numeric": "double", "float4": "float", "float8": "double",
               "int4": "int", "int8": "bigint", "text": "string",
               "varchar": "string", "bool": "boolean",
               # geometry/tsvector carry text here (WKT / lexeme text)
               "geometry": "string", "geography": "string",
               "tsvector": "string", "tsquery": "string"}


def _rewrite_casts(toks: list[Tok]) -> list[Tok]:
    """PG `expr::type` → `CAST(expr AS type)` for the residual/projection
    spans that run as Spark SQL (demo1 Q3 `label::float`, `round(x)::
    numeric`). The operand is the preceding identifier/literal or
    parenthesized group."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (t.text == "::" and out and i + 1 < len(toks)
                and toks[i + 1].kind == "IDENT"):
            typ = toks[i + 1].text.lower()
            typ = _CAST_TYPES.get(typ, typ)
            # `::FLOAT[3]` — sized array type (full_text_search.test):
            # absorb the bracket suffix; size is declarative metadata.
            # `::GEOMETRY('OGC:CRS84')` — a type ARGUMENT (the CRS):
            # declarative too, absorbed.
            extra = 0
            j = i + 2
            if (j < len(toks) and toks[j].text == "("
                    and toks[i + 1].text.lower() in
                    ("geometry", "geography")):
                depth = 0
                while j < len(toks):
                    if toks[j].text == "(":
                        depth += 1
                    elif toks[j].text == ")":
                        depth -= 1
                        if depth == 0:
                            j += 1
                            break
                    j += 1
                extra = j - (i + 2)
            while (j < len(toks) and toks[j].text == "["):
                k = j + 1
                if k < len(toks) and toks[k].kind == "NUM":
                    k += 1
                if k < len(toks) and toks[k].text == "]":
                    typ = f"array<{typ}>"
                    extra += k + 1 - j
                    j = k + 1
                else:
                    break
            # find the operand start in `out`
            if out[-1].text == ")":
                depth = 0
                j = len(out) - 1
                while j >= 0:
                    if out[j].text == ")":
                        depth += 1
                    elif out[j].text == "(":
                        depth -= 1
                        if depth == 0:
                            break
                    j -= 1
                # include a function name before the group
                if j > 0 and out[j - 1].kind == "IDENT":
                    j -= 1
            else:
                j = len(out) - 1
            operand = out[j:]
            del out[j:]
            out.extend([Tok("IDENT", "CAST"), Tok("OP", "(")] + operand
                       + [Tok("IDENT", "AS"), Tok("IDENT", typ),
                          Tok("OP", ")")])
            i += 2 + extra
        else:
            out.append(t)
            i += 1
    return out


def _split_top(toks: list[Tok], seps: tuple[str, ...]) -> list[list[Tok]]:
    """Split a token list on top-level (paren-depth-0) separators."""
    out: list[list[Tok]] = [[]]
    depth = 0
    for t in toks:
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        if depth == 0 and (t.upper in seps or t.text in seps):
            out.append([])
        else:
            out[-1].append(t)
    return out


def _find_clause(toks: list[Tok], kw: tuple[str, ...], start: int = 0) -> int:
    depth = 0
    i = start
    while i < len(toks):
        t = toks[i]
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.upper == kw[0]:
            if all(i + j < len(toks) and toks[i + j].upper == kw[j]
                   for j in range(len(kw))):
                return i
        i += 1
    return -1


def _render(toks: list[Tok]) -> str:
    return " ".join(t.text for t in toks)


def _rewrite_scorers(toks: list[Tok]) -> tuple[list[Tok], str | None, dict]:
    """Replace every scorer call (name '(' … ')' [ '::' type ]) with the
    __score identifier; return (rewritten tokens, scorer, params)."""
    out: list[Tok] = []
    scorer: str | None = None
    params: dict = {}
    i = 0
    while i < len(toks):
        t = toks[i]
        low = t.text.lower()
        if (t.kind == "IDENT" and low in SCORER_FUNCS
                and i + 1 < len(toks) and toks[i + 1].text == "("):
            name, pnames = SCORER_FUNCS[low]
            if scorer is not None and scorer != name:
                raise ValueError(
                    "Only one scorer function is allowed per inverted "
                    "index; use UNION to combine different score "
                    f"functions (saw {scorer} and {name})")
            scorer = name
            # consume through the matching close paren
            depth = 0
            j = i + 1
            args: list[list[Tok]] = [[]]
            while j < len(toks):
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
            # first arg is the index reference (idx.tableoid) — ignored;
            # remaining numeric args bind positionally (demo3 §5c)
            for pi, a in enumerate(args[1:]):
                if pi >= len(pnames) or len(a) != 1 or a[0].kind != "NUM":
                    raise ValueError(
                        f"bad scorer parameter in {low}: {_render(a)!r}")
                params[pnames[pi]] = float(a[0].text)
            i = j + 1
            # swallow a trailing ::numeric / ::double cast
            if (i + 1 < len(toks) and toks[i].text == "::"
                    and toks[i + 1].kind == "IDENT"):
                i += 2
            out.append(Tok("IDENT", "__score"))
        else:
            out.append(t)
            i += 1
    return out, scorer, params


# ---------------------------------------------------------------------------
# WHERE boolean tree: AND/OR/NOT over claimed leaves (filter_optimizer_*.test,
# null_semantics.test).  Same-column subtrees fold into one tsquery node so
# the per-field planner optimizes them; cross-column / residual-mixed
# disjunctions survive as BoolNode groups lowered by doc-id set algebra.
# ---------------------------------------------------------------------------


@dataclass
class MatchLeaf:
    col: str
    node: q.TSQuery


@dataclass
class VecLeaf:
    vr: tuple  # (col, metric, qvec, cmp, radius)


@dataclass
class ResidualLeaf:
    sql: str


@dataclass
class BoolNode:
    op: str  # 'and' | 'or'
    children: list


def _is_raw_analyzer(an) -> bool:
    """True when the analyzer stores terms byte-identical to the source
    (keyword/identity) or uses the memcmp numeric encoding — the cases
    where range bounds compare meaningfully against indexed terms."""
    if getattr(an, "name", "") == "encoded_int":
        return True
    try:
        return an.tokens("AbZ.qX9") == ["AbZ.qX9"]
    except Exception:
        return False


def _check_standalone_ranges(node: q.TSQuery, an) -> None:
    """A standalone RANGE with string bounds over a transforming text
    analyzer is rejected at bind time — the indexed tokens don't match
    the raw bound bytes meaningfully; inside `##` the bounds compare
    against analyzed terms at a phrase position and are allowed
    (tsquery_match.test:451-458)."""
    if isinstance(node, q.Between):
        bounds = [b for b in (node.lo, node.hi) if b is not None]
        if (node.strict and bounds
                and all(isinstance(b, str) for b in bounds)
                and not _is_raw_analyzer(an)):
            raise ValueError(
                "ts_between on VARCHAR field requires keyword-analyzed "
                "column; use ts_lt/ts_le/ts_gt/ts_ge for analyzed-text "
                "bounds, or wrap the range in a ## phrase position")
        return
    if isinstance(node, (q.PhraseSeq, q.Phrase)):
        return  # ## positions interpret bounds against analyzed terms
    for sub in (getattr(node, "parts", ()) or ()):
        _check_standalone_ranges(sub, an)
    for attr in ("part",):
        sub = getattr(node, attr, None)
        if isinstance(sub, q.TSQuery):
            _check_standalone_ranges(sub, an)
    if isinstance(node, q.Compound):
        for grp in (node.must, node.must_not, node.should):
            for sub in grp:
                _check_standalone_ranges(sub, an)


def _has_search(toks: list[Tok]) -> bool:
    return any(t.text == "@@" or t.text in _VEC_OPS for t in toks)


def _split_top_kw(toks: list[Tok], kw: str) -> list[list[Tok]]:
    """Split on a top-level boolean keyword; the AND that closes a
    BETWEEN ... AND ... span is part of the operand, not a separator."""
    out: list[list[Tok]] = [[]]
    depth = 0
    pending_between = 0
    for t in toks:
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        if depth == 0 and t.upper == "BETWEEN":
            pending_between += 1
        if depth == 0 and t.upper == kw:
            if kw == "AND" and pending_between:
                pending_between -= 1
                out[-1].append(t)
                continue
            out.append([])
        else:
            out[-1].append(t)
    return out


def _negate_tree(tree):
    if isinstance(tree, MatchLeaf):
        if isinstance(tree.node, q.Not):  # NOT(NOT x) = x
            return MatchLeaf(tree.col, tree.node.part)
        return MatchLeaf(tree.col, q.Not(tree.node))
    if isinstance(tree, ResidualLeaf):
        return ResidualLeaf(f"NOT ({tree.sql})")
    if isinstance(tree, VecLeaf):
        col, metric, qvec, cmp, r = tree.vr
        flip = {"<": ">=", "<=": ">", ">": "<=", ">=": "<"}[cmp]
        return VecLeaf((col, metric, qvec, flip, r))
    assert isinstance(tree, BoolNode)
    kinds = {type(c).__name__ for c in tree.children}
    if "MatchLeaf" in kinds and kinds - {"MatchLeaf", "VecLeaf"}:
        # the reference refuses this shape rather than risk an unsound
        # row-filter under negation (null_semantics.test:489)
        raise ValueError(
            "negated group over nullable columns mixes index-only search "
            "predicates with a shape that must stay a row filter; rewrite "
            "the negation as a strict disjunction, or add IS NOT NULL "
            "conjuncts on the nullable columns")
    op = "and" if tree.op == "or" else "or"  # De Morgan
    return BoolNode(op, [_negate_tree(c) for c in tree.children])


def _fold_tree(tree):
    """Bottom-up: flatten nested same-op nodes; an all-one-column boolean
    subtree folds into a single tsquery node (the planner's per-field
    optimizer then sees the whole expression, filter_optimizer parity);
    an all-residual subtree folds back into one SQL span."""
    if not isinstance(tree, BoolNode):
        return tree
    flat: list = []
    for c in (_fold_tree(c) for c in tree.children):
        if isinstance(c, BoolNode) and c.op == tree.op:
            flat.extend(c.children)
        else:
            flat.append(c)
    if (all(isinstance(c, MatchLeaf) for c in flat)
            and len({c.col for c in flat}) == 1):
        comb = q.Or if tree.op == "or" else q.And
        return MatchLeaf(flat[0].col, comb([c.node for c in flat]))
    if all(isinstance(c, ResidualLeaf) for c in flat):
        sep = " OR " if tree.op == "or" else " AND "
        return ResidualLeaf(sep.join(f"({c.sql})" for c in flat))
    return BoolNode(tree.op, flat)


def _parse_bool_or(toks: list[Tok], an_of):
    parts = [_parse_bool_and(p, an_of) for p in _split_top_kw(toks, "OR")]
    return parts[0] if len(parts) == 1 else BoolNode("or", parts)


def _parse_bool_and(toks: list[Tok], an_of):
    parts = [_parse_bool_unary(p, an_of)
             for p in _split_top_kw(toks, "AND")]
    return parts[0] if len(parts) == 1 else BoolNode("and", parts)


def _parse_bool_unary(toks: list[Tok], an_of):
    if not toks:
        raise ValueError("empty boolean operand in WHERE")
    if not _has_search(toks):
        return ResidualLeaf(_render(_rewrite_casts(toks)))
    if toks[0].upper == "NOT":
        return _negate_tree(_parse_bool_unary(toks[1:], an_of))
    if toks[0].text == "(":
        depth = 0
        close = None
        for j, t in enumerate(toks):
            if t.text in ("(", "["):
                depth += 1
            elif t.text in (")", "]"):
                depth -= 1
                if depth == 0:
                    close = j
                    break
        if close == len(toks) - 1:
            return _parse_bool_or(toks[1:-1], an_of)
        rest = toks[close + 1:]
        # (col @@ q)::boost(f) — boost cast over a match predicate
        # (filter_optimizer_boost.test:36)
        if (len(rest) == 5 and rest[0].text == "::"
                and rest[1].text.lower() == "boost"
                and rest[2].text == "(" and rest[3].kind == "NUM"
                and rest[4].text == ")"):
            sub = _fold_tree(_parse_bool_or(toks[1:close], an_of))
            if not isinstance(sub, MatchLeaf):
                raise ValueError("::boost applies to a single @@ match")
            return MatchLeaf(sub.col, q.Boost(sub.node,
                                              float(rest[3].text)))
    return _parse_search_leaf(toks, an_of)


def _parse_search_leaf(toks: list[Tok], an_of):
    at = next((k for k, t in enumerate(toks) if t.text == "@@"), None)
    if at is None:
        vr = _parse_vector_range(toks)
        if vr is not None:
            return VecLeaf(vr)
        return ResidualLeaf(_render(_rewrite_casts(toks)))
    left = toks[:at]
    right = toks[at + 1:]
    if (len(left) != 1 or left[0].kind != "IDENT") \
            and len(right) == 1 and right[0].kind == "IDENT":
        # mirrored form: `'quick'::tokenize('keyword') @@ b`
        # (tsquery_match.test:1146) — the column may sit on either side
        left, right = right, left
    if len(left) == 1 and left[0].kind == "IDENT":
        col = left[0].text.split(".")[-1]
    else:
        # expression-indexed field: the field is NAMED by its expression
        # text at CREATE INDEX time, so the same rendering resolves it
        # (inverted_index_matrix_varchar.test upper(v) @@ ...)
        exp = left
        while (len(exp) >= 2 and exp[0].text == "("
               and exp[-1].text == ")"):
            exp = exp[1:-1]
        col = _render(exp)
    an = an_of(col)
    ts = _Stream(right)
    node = parse_tsquery_tokens(ts, an)
    _check_standalone_ranges(node, an)
    if ts.peek() is not None:
        raise ValueError(
            f"trailing tokens after tsquery: {ts.peek().text!r}")
    return MatchLeaf(col, node)


def parse_select(sql: str, analyzer_of) -> SearchSelect:
    """Parse the restricted search-SELECT shape. ``analyzer_of(from_name,
    column)`` resolves the analyzer used for bare-string query terms."""
    toks = tokenize(sql.strip().rstrip(";"))
    if not toks or toks[0].upper != "SELECT":
        raise ValueError("search dialect handles SELECT statements only")
    fpos = _find_clause(toks, ("FROM",))
    if fpos < 0:
        raise ValueError("search SELECT requires FROM")
    sel_toks = toks[1:fpos]
    wpos = _find_clause(toks, ("WHERE",), fpos)
    opos = _find_clause(toks, ("ORDER", "BY"), fpos)
    lpos = _find_clause(toks, ("LIMIT",), fpos)
    from_end = min(x for x in (wpos, opos, lpos, len(toks)) if x >= 0)
    from_toks = toks[fpos + 1:from_end]
    if len(from_toks) != 1 or from_toks[0].kind != "IDENT":
        raise ValueError(
            f"search dialect supports a single FROM relation, got "
            f"{_render(from_toks)!r}")
    from_name = from_toks[0].text

    matches: list[tuple[str, q.TSQuery]] = []
    residuals: list[str] = []
    vec_holder: dict = {}
    vector_ranges: list = []
    or_groups: list = []
    scorer: str | None = None
    params: dict = {}

    def _merge(s: str | None, p: dict) -> None:
        nonlocal scorer, params
        if s is None:
            return
        if scorer is not None and (
                scorer != s or (p and params and p != params)):
            # inverted_index_score.test:310 pins this wording
            raise ValueError(
                "Only one scorer function is allowed per inverted "
                "index; use UNION to combine different score functions "
                f"(saw {scorer}{params or ''} and {s}{p or ''})")
        scorer = s
        params = {**params, **p}

    def _route(tree) -> None:
        if isinstance(tree, MatchLeaf):
            matches.append((tree.col, tree.node))
        elif isinstance(tree, VecLeaf):
            vector_ranges.append(tree.vr)
        elif isinstance(tree, ResidualLeaf):
            residuals.append(tree.sql)
        elif isinstance(tree, BoolNode) and tree.op == "and":
            for c in tree.children:
                _route(c)
        else:
            or_groups.append(tree)

    if wpos >= 0:
        wend = min(x for x in (opos, lpos, len(toks)) if x >= 0)
        an_of = lambda col: analyzer_of(from_name, col)  # noqa: E731
        # a scorer call in WHERE (BM25(idx.tableoid) > 0) evaluates
        # against the computed __score (inverted_index_score.test)
        wtoks, ws, wp = _rewrite_scorers(toks[wpos + 1:wend])
        _merge(ws, wp)
        for conj in _split_top_kw(wtoks, "AND"):
            if not _has_search(conj):
                residuals.append(_render(_rewrite_casts(conj)))
                continue
            _route(_fold_tree(_parse_bool_or(conj, an_of)))

    order: list[tuple[str, bool]] = []

    if opos >= 0:
        oend = lpos if lpos >= 0 else len(toks)
        for key in _split_top(toks[opos + 2:oend], (",",)):
            desc = False
            if key and key[-1].upper in ("ASC", "DESC"):
                desc = key[-1].upper == "DESC"
                key = key[:-1]
            key, s, p = _rewrite_scorers(key)
            _merge(s, p)
            key = _rewrite_vector_dist(key, vec_holder)
            order.append((_render(_rewrite_casts(key)), desc))

    limit = None
    if lpos >= 0:
        if lpos + 1 >= len(toks) or toks[lpos + 1].kind != "NUM":
            raise ValueError("LIMIT requires an integer")
        limit = int(toks[lpos + 1].text)

    items: list[str] = []
    proj_calls: list = []
    for item in _split_top(sel_toks, (",",)):
        item, s, p = _rewrite_scorers(item)
        _merge(s, p)
        before = len(proj_calls)
        item = _rewrite_proj_calls(item, proj_calls)
        if (len(item) == 1 and item[0].text.startswith("__proj")
                and len(proj_calls) == before + 1):
            # unaliased projection call: PG titles the column by the
            # bare function name (headline.test:272)
            fn = proj_calls[-1][1]
            item = item + [Tok("IDENT", "AS"), Tok("IDENT", fn.lower())]
        item = _rewrite_vector_dist(item, vec_holder)
        items.append(_render(_rewrite_casts(item)))

    return SearchSelect(items, from_name, matches,
                        " AND ".join(f"({r})" for r in residuals) or None,
                        order, limit, scorer, params,
                        proj_calls=proj_calls,
                        vector_dist=vec_holder.get("ref"),
                        vector_ranges=vector_ranges,
                        or_groups=or_groups)


# ---------------------------------------------------------------------------
# pgvector-style distance operators (demo4): `col <=> ARRAY[...]` in
# ORDER BY / SELECT (ANN top-k) and `col <=> qvec < r` in WHERE (range)
# ---------------------------------------------------------------------------

_VEC_OPS = {"<=>": "cosine", "<->": "l2", "<#>": "neg_ip",
            "<+>": "l1"}


def _parse_vec_literal(ts: _Stream) -> list[float]:
    """ARRAY[...] or ai_embed('text', 'model'[, 'provider']) with an
    optional `::FLOAT[d]` cast (the cast folds at plan time, demo4 Q1 /
    demo5 Q4-Q5 — ai_embed on the query string runs ONCE driver-side,
    exactly like the reference folds the bind-parameter cast)."""
    t = ts.next()
    if t.text == "(":
        # parenthesized operand (a substituted PREPARE parameter wraps
        # its argument): unwrap and continue
        vals = _parse_vec_literal(ts)
        ts.expect(")")
        return vals
    if t.kind == "IDENT" and t.upper == "CAST":
        # CAST(ARRAY[...] AS array<float>) — the statement door's cast
        # rewrite of a substituted parameter; the target type is
        # declarative metadata
        ts.expect("(")
        vals = _parse_vec_literal(ts)
        depth = 1
        while depth > 0:
            nt = ts.next()
            if nt.text == "(":
                depth += 1
            elif nt.text == ")":
                depth -= 1
        return vals
    if t.kind == "IDENT" and t.text.lower() == "ai_embed":
        from serenedb_spark.functions.embedding import _resolve_provider

        args = _parse_args(ts)
        if not 2 <= len(args) <= 3:
            raise ValueError("ai_embed(text, model[, provider])")
        key = str(args[2]) if len(args) == 3 else str(args[1])
        vals = [float(x) for x in _resolve_provider(key)([str(args[0])])[0]]
    elif t.upper == "ARRAY" and ts.peek() is not None \
            and ts.peek().text == "(":
        # Spark call syntax `array(0.1, ...)` — what _rewrite_arrays
        # renders a substituted ARRAY[...] parameter into
        ts.next()
        vals = []
        while not ts.match(")"):
            tk = ts.next()
            if tk.text == ",":
                continue
            if tk.text == "-":
                vals.append(-float(ts.next().text))
            else:
                vals.append(float(tk.text))
    elif t.upper == "ARRAY":
        vals = [float(v) for v in _parse_array(ts)]
    elif t.text == "[":
        # bare DuckDB list literal `[1, 0, 0]::FLOAT[3]`
        # (full_text_search.test:811)
        vals = []
        while not ts.match("]"):
            tk = ts.next()
            if tk.text == ",":
                continue
            if tk.text == "-":
                vals.append(-float(ts.next().text))
            else:
                vals.append(float(tk.text))
    else:
        raise ValueError(
            f"vector operand must be ARRAY[...] or ai_embed(...), "
            f"got {t.text!r}")
    if ts.peek() is not None and ts.peek().text == "::":
        ts.next()
        ts.next()  # type name
        if ts.peek() is not None and ts.peek().text == "[":
            ts.next()
            ts.next()  # dimension
            ts.expect("]")
    return vals


def _parse_vector_range(conj: list[Tok]):
    """`col <op> ARRAY[...] < r` / `<= r` → (col, metric, qvec, cmp, r);
    None when the conjunct is not this shape."""
    at = next((k for k, t in enumerate(conj) if t.text in _VEC_OPS), None)
    if at is None:
        return None
    left = conj[:at]
    if len(left) != 1 or left[0].kind != "IDENT":
        raise ValueError(
            f"vector-op left side must be a column, got {_render(left)!r}")
    col = left[0].text.split(".")[-1]
    metric = _VEC_OPS[conj[at].text]
    ts = _Stream(conj[at + 1:])
    qvec = _parse_vec_literal(ts)
    cmp_tok = ts.next()
    if cmp_tok.text not in ("<", "<=", ">", ">="):
        raise ValueError(
            f"vector range comparator must be one of < <= > >=, "
            f"got {cmp_tok.text!r}")
    r_tok = ts.next()
    if r_tok.kind != "NUM":
        raise ValueError("vector range radius must be a number")
    if ts.peek() is not None:
        raise ValueError(
            f"trailing tokens after vector range: {ts.peek().text!r}")
    return (col, metric, qvec, cmp_tok.text, float(r_tok.text))


def _rewrite_vector_dist(toks: list[Tok], holder: dict) -> list[Tok]:
    """Replace `col <op> ARRAY[...][::cast]` with the __vdist identifier;
    all references in one statement must agree on (col, metric, qvec)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (t.text in _VEC_OPS and out and out[-1].kind == "IDENT"):
            col = out.pop().text.split(".")[-1]
            metric = _VEC_OPS[t.text]
            ts = _Stream(toks[i + 1:])
            qvec = _parse_vec_literal(ts)
            ref = (col, metric, tuple(qvec))
            if "ref" in holder and holder["ref"] != ref:
                raise ValueError(
                    "one statement may reference ONE vector distance; "
                    f"saw both {holder['ref'][:2]} and {ref[:2]}")
            holder["ref"] = ref
            out.append(Tok("IDENT", "__vdist"))
            i += 1 + ts.i
        else:
            out.append(t)
            i += 1
    return out


#: projection functions computed by the search executor, not Spark SQL:
#: OFFSETS(col [, 'term'] [, limit]) → array<struct<start,len>> of every
#: whole-token match (demo3 §6 "byte ranges of every match"), and
#: ts_highlight(col [, 'term'] [, 'open', 'close' [, window]]) → snippet
#: around the first match (NULL when the doc's match came from another
#: clause). Default terms derive from the @@ match on the same column.
_PROJ_FUNCS = ("offsets", "ts_offsets", "ts_highlight")


def _rewrite_proj_calls(toks: list[Tok], out_calls: list) -> list[Tok]:
    """Replace OFFSETS/ts_highlight calls with __projN placeholder
    identifiers, recording (placeholder, func, column, args)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        low = t.text.lower()
        if (t.kind == "IDENT" and low in _PROJ_FUNCS
                and i + 1 < len(toks) and toks[i + 1].text == "("):
            ts = _Stream(toks[i + 1:])
            ts.expect("(")
            col_tok = ts.next()
            if col_tok.kind != "IDENT":
                raise ValueError(
                    f"{t.text}() first argument must be a column")
            args = []
            while ts.match(","):
                nxt = ts.peek()
                if (nxt is not None and nxt.kind == "IDENT"
                        and nxt.text.lower() == "ts_offsets"
                        and ts.peek(1) is not None
                        and ts.peek(1).text == "("):
                    # ts_highlight(body, ts_offsets(body)): highlight at
                    # the match offsets = full-text mode
                    # (full_text_search.test:665)
                    depth = 0
                    while True:
                        t2 = ts.next()
                        if t2.text == "(":
                            depth += 1
                        elif t2.text == ")":
                            depth -= 1
                            if depth == 0:
                                break
                    args.append("__OFFSETS__")
                    continue
                args.append(_scalar_arg(ts))
            ts.expect(")")
            ph = f"__proj{len(out_calls)}"
            out_calls.append(
                (ph, {"ts_highlight": "ts_highlight",
                      "ts_offsets": "ts_offsets"}.get(low, "offsets"),
                 col_tok.text.split(".")[-1], args))
            out.append(Tok("IDENT", ph))
            i += 1 + ts.i
        else:
            out.append(t)
            i += 1
    return out


# ---------------------------------------------------------------------------
# CREATE INDEX ... USING inverted(...) DDL
# ---------------------------------------------------------------------------


@dataclass
class CreateInvertedIndex:
    name: str
    table: str
    fields: dict[str, str]   # column -> analyzer name
    includes: list[str]      # plain covered columns (demo3: `label`)
    where: str | None        # partial-index predicate
    exprs: dict | None = None  # expression keys: field name -> expr SQL
    vectors: dict | None = None  # vector cols: col -> options SQL
    #   (full_text_search.test: `emb ivf (metric = 'l2')`)
    if_not_exists: bool = False


def parse_create_index(sql: str) -> CreateInvertedIndex | None:
    """``CREATE INDEX n ON t USING inverted(col analyzer, plain_col, ...)
    [WHERE pred]`` (demo3 imdb_fts_idx; site_docs/sql/indexes/inverted).
    Returns None when the statement is not this shape."""
    toks = tokenize(sql.strip().rstrip(";"))
    if len(toks) < 4 or toks[0].upper != "CREATE" or toks[1].upper != "INDEX":
        return None
    upos = _find_clause(toks, ("USING",))
    if upos < 0 or toks[upos + 1].text.lower() != "inverted":
        return None
    npos = 2
    if_not_exists = False
    if (toks[2].upper == "IF" and len(toks) > 4
            and toks[3].upper == "NOT" and toks[4].upper == "EXISTS"):
        if_not_exists = True
        npos = 5
    name = toks[npos].text
    if toks[npos + 1].upper != "ON":
        raise ValueError("CREATE INDEX requires ON <table>")
    table = toks[npos + 2].text
    ts = _Stream(toks[upos + 2:])
    ts.expect("(")
    fields: dict[str, str] = {}
    includes: list[str] = []
    exprs: dict[str, str] = {}
    vectors: dict[str, str] = {}
    depth = 1
    spec: list[Tok] = []

    def flush(spec: list[Tok]) -> None:
        if not spec:
            return
        if (len(spec) >= 3 and spec[0].kind == "IDENT"
                and spec[1].kind == "IDENT"
                and spec[1].text.lower() in ("ivf", "hnsw", "flat")
                and spec[2].text == "("):
            # vector column spec: `emb ivf (metric = 'l2')` — the ANN
            # method and options are declarative; scans compute exact
            # distances (full_text_search.test vecs_* indexes)
            vectors[spec[0].text] = _render(spec[1:])
            return
        if spec[0].text == "(":
            # expression key `(expr) [analyzer]` (reference
            # inverted_index.h expression keys; the field is NAMED by
            # its expression text so queries over it resolve)
            d = 0
            for i, t in enumerate(spec):
                if t.text == "(":
                    d += 1
                elif t.text == ")":
                    d -= 1
                    if d == 0:
                        break
            expr_sql = _render(spec[1:i])
            rest = spec[i + 1:]
            an = rest[0].text if rest else "keyword"
            if re.search(r"CAST\s*\(.*\bAS\s+(\w+)", expr_sql,
                         re.IGNORECASE):
                cast_t = re.search(r"\bAS\s+(\w+)\s*\)?$", expr_sql,
                                   re.IGNORECASE)
                if cast_t and cast_t.group(1).lower() not in (
                        "string", "text", "varchar", "int", "integer",
                        "bigint", "double", "float", "boolean", "date",
                        "timestamp", "decimal", "numeric", "blob"):
                    # user-defined types in indexed expressions: the
                    # inverted sink can't slice arbitrary user-type
                    # values (index_expr_user_refs_rejected.test)
                    raise ValueError(
                        f"unsupported type {cast_t.group(1)!r}: the "
                        "expression result can not be indexed")
            fields[expr_sql] = an
            exprs[expr_sql] = expr_sql
            return
        if (spec[0].kind == "IDENT"
                and spec[0].text.lower() == "ts_lexize"
                and len(spec) > 1 and spec[1].text == "("):
            # ts_lexize('dict', col) as an index key: the reference
            # resolves the dictionary first (basic.test:270)
            dic = next((t.text for t in spec if t.kind == "STR"), "''")
            raise ValueError(
                f"text search dictionary \"{_unquote(dic)}\" does not "
                "exist")
        if len(spec) == 1:
            includes.append(spec[0].text)
        elif len(spec) == 2:
            fields[spec[0].text] = spec[1].text
        else:
            if any(t.text == "(" for t in spec):
                inner = spec[3:-1] if len(spec) > 4 else []
                if any(t.kind == "IDENT" and "=" not in t.text
                       for t in inner if t.text not in ("=", ",")):
                    # `(foo=bar)` — a non-constant option value
                    # (basic.test:262)
                    raise ValueError(
                        "Opclass option must be a constant value")
                # `col analyzer ()` — parens imply an opclass, and the
                # only built-in opclasses are included/ivf (basic.test:24)
                raise ValueError(
                    f"Unknown built-in opclass '{spec[1].text}' on "
                    f"'{spec[0].text}' (known: included, ivf)")
            raise ValueError(f"bad index column spec: {_render(spec)!r}")

    while True:
        t = ts.next()
        if t.text == "(":
            depth += 1
            spec.append(t)
        elif t.text == ")":
            depth -= 1
            if depth == 0:
                break
            spec.append(t)
        elif depth == 1 and t.text == ",":
            flush(spec)
            spec = []
        else:
            spec.append(t)
    flush(spec)
    where = None
    if ts.peek() is not None and ts.peek().upper == "WHERE":
        ts.next()
        where = _render(ts.toks[ts.i:])
    if not fields and not vectors and not includes:
        raise ValueError("USING inverted requires at least one analyzed column")
    return CreateInvertedIndex(name, table, fields, includes, where,
                               exprs or None, vectors or None,
                               if_not_exists)


# ---------------------------------------------------------------------------
# executor
# ---------------------------------------------------------------------------


def has_search_construct(sql: str) -> bool:
    """True when the statement needs the search dialect: a top-level `@@`
    match, inverted-index DDL, text-search-dictionary DDL, or DROP INDEX
    (string literals are already excluded by the tokenizer)."""
    try:
        toks = tokenize(sql)
    except ValueError:
        return False
    if any(t.text == "@@" or t.text in _VEC_OPS
           or (t.kind == "IDENT" and t.text.lower().startswith("ts_dict_"))
           for t in toks):
        return True
    # FROM-less ts_lexize/ts_tokenize inspection (session._scalar_ts_lexize)
    if (len(toks) >= 2 and toks[0].upper == "SELECT"
            and toks[1].upper in ("TS_LEXIZE", "TS_TOKENIZE")):
        return True
    if any(t.text.lower() == "inverted" and i > 0
           and toks[i - 1].upper == "USING"
           for i, t in enumerate(toks)):
        return True
    ups = [t.upper for t in toks[:4]]
    if len(toks) >= 3 and ups[:2] == ["DROP", "INDEX"]:
        return True
    return (len(toks) >= 5
            and ups[0] in ("CREATE", "DROP")
            and ups[1:4] == ["TEXT", "SEARCH", "DICTIONARY"])


def execute_select(stmt: SearchSelect, get_index,
                   get_table=None) -> DataFrame:
    """Lower a parsed search SELECT onto the DataFrame engine.

    ``get_index(from_name, column)`` → InvertedIndex serving that column;
    ``get_table(from_name)`` → base DataFrame for pure vector statements
    (demo4 Q1/Q2 — no @@ conjunct, so no index is required: the exact
    distance scan is the flat fallback the reference also plans when no
    ANN index serves the column).
    Late-materialization shape (reference iresearch_plan.cpp:466-533):
    claimed @@ conjuncts run over postings and intersect as doc-id
    relations; the docstore is joined only for surviving ids; residual SQL
    evaluates post-join; scorer (if any) left-joins as __score; the
    vector distance (if any) computes as __vdist.
    """
    from serenedb_spark.operators.scoring import score_fields
    from serenedb_spark.plans.planner import compile_query, is_pure_disjunction

    group_has_match = any(_tree_match_cols(g) for g in stmt.or_groups)
    if not stmt.matches and not group_has_match:
        if not (stmt.vector_dist or stmt.vector_ranges
                or stmt.or_groups):
            raise ValueError(
                "search SELECT requires an @@ conjunct or a vector "
                "distance operator")
        if get_table is None:
            raise ValueError("pure vector SELECT needs a table resolver")
        out = get_table(stmt.from_name)
        for g in stmt.or_groups:  # match-free trees filter as columns
            out = out.where(_group_predicate(g))
        return _finish_select(stmt, out)

    compiled = []
    idx0 = None
    for col, node in stmt.matches:
        idx = get_index(stmt.from_name, col)
        idx0 = idx0 or idx
        compiled.append((idx, col, node, compile_query(idx, col, node)))
    if idx0 is None:  # all matches live inside or_groups
        col0 = next(c for g in stmt.or_groups
                    for c in _tree_match_cols(g))
        idx0 = get_index(stmt.from_name, col0)

    group_docs = []
    if stmt.or_groups:
        ds = idx0.docstore
        key = getattr(idx0, "key", "doc_id")
        if key != "doc_id" and key not in ds.columns:
            ds = ds.withColumn(key, F.col("doc_id"))
        for g in stmt.or_groups:
            group_docs.append(
                _group_doc_ids(g, ds, get_index, stmt.from_name,
                               compiled, compile_query))

    if compiled and stmt.matches:
        doc_ids = compiled[0][3].doc_ids
        for _, _, _, c in compiled[1:len(stmt.matches)]:
            doc_ids = doc_ids.join(c.doc_ids, "doc_id", "left_semi")
    else:
        doc_ids = group_docs.pop(0)
    for g in group_docs:
        doc_ids = doc_ids.join(g, "doc_id", "left_semi")

    score_df = None
    if stmt.scorer is not None:
        topk = None if stmt.or_groups else _try_wand_topk(stmt, compiled)
        if topk is not None:
            out = idx0.docstore.join(topk, "doc_id", "inner").withColumn(
                "__score", F.col("score")).drop("score")
            return _finish_select(stmt, _restore_key_name(idx0, out),
                                  idx=idx0)
        score_df = score_fields(
            [(idx, col, c.score_terms) for idx, col, _, c in compiled],
            stmt.scorer, **stmt.scorer_params)

    if score_df is None:
        out = idx0.docstore.join(doc_ids, "doc_id", "left_semi")
    else:
        if (len(compiled) == 1 and not stmt.or_groups
                and is_pure_disjunction(compiled[0][2])):
            # scorer-reuse: the score relation's keys ARE the match set,
            # so one inner join replaces the semi join + left join
            out = idx0.docstore.join(score_df, "doc_id", "inner")
        else:
            out = (idx0.docstore.join(doc_ids, "doc_id", "left_semi")
                   .join(score_df, "doc_id", "left"))
        out = out.withColumn(
            "__score", F.coalesce(F.col("score"), F.lit(0.0))
        ).drop("score")
    return _finish_select(stmt, _restore_key_name(idx0, out), idx=idx0)


def _tree_match_cols(tree) -> list[str]:
    """Columns of every @@ match leaf in a boolean tree."""
    if isinstance(tree, MatchLeaf):
        return [tree.col]
    if isinstance(tree, BoolNode):
        return [c for ch in tree.children for c in _tree_match_cols(ch)]
    return []


def _vec_leaf_pred(vr):
    col, metric, qvec, cmp, r = vr
    d = _vec_dist_col(col, metric, list(qvec))
    return {"<": d < r, "<=": d <= r, ">": d > r, ">=": d >= r}[cmp]


def _group_predicate(tree):
    """Lower a match-free boolean tree to a Column predicate (the
    no-index path: residual + vector leaves filter the table scan)."""
    if isinstance(tree, ResidualLeaf):
        return F.expr(tree.sql)
    if isinstance(tree, VecLeaf):
        return _vec_leaf_pred(tree.vr)
    if isinstance(tree, BoolNode):
        parts = [_group_predicate(c) for c in tree.children]
        out = parts[0]
        for p in parts[1:]:
            out = (out | p) if tree.op == "or" else (out & p)
        return out
    raise ValueError("@@ match requires an index on the relation")


def _group_doc_ids(tree, ds: DataFrame, get_index, from_name: str,
                   compiled: list, compile_query) -> DataFrame:
    """Lower a boolean tree to a doc-id relation by set algebra: match
    leaves come from postings (compile_query — appended to `compiled` so
    their terms feed the scorer), residual / vector leaves filter the
    docstore; OR = distinct union, AND = semi-join chain.  NOT was pushed
    onto the leaves at parse time (q.Not keeps the per-field non-null
    universe — the reference's local null exclusion under disjunction,
    null_semantics.test)."""
    if isinstance(tree, MatchLeaf):
        idx = get_index(from_name, tree.col)
        c = compile_query(idx, tree.col, tree.node)
        compiled.append((idx, tree.col, tree.node, c))
        return c.doc_ids
    if isinstance(tree, (ResidualLeaf, VecLeaf)):
        pred = (F.expr(tree.sql) if isinstance(tree, ResidualLeaf)
                else _vec_leaf_pred(tree.vr))
        return ds.where(pred).select("doc_id")
    parts = [_group_doc_ids(c, ds, get_index, from_name,
                            compiled, compile_query)
             for c in tree.children]
    out = parts[0]
    for p in parts[1:]:
        if tree.op == "or":
            out = out.unionByName(p)
        else:
            out = out.join(p, "doc_id", "left_semi")
    return out.distinct() if tree.op == "or" else out


def _restore_key_name(idx, out: DataFrame) -> DataFrame:
    """The docstore renames the source key column to ``doc_id``; give it
    back its table name so ``SELECT a FROM t WHERE b @@ q`` resolves for
    tables keyed on `a` (reference search tables select their own PK
    column, search_table.test:70-77)."""
    key = getattr(idx, "key", "doc_id")
    if key != "doc_id" and key not in out.columns:
        return out.withColumnRenamed("doc_id", key)
    return out


#: only the explicitly-rounded form delegates — scored_topk always
#: rounds, so a plain unrounded `ORDER BY __score` must keep the
#: general plan to preserve its exact values and tie order
_SCORE_ORDER_RE = re.compile(r"round \( __score , (\d+) \)")


def _try_wand_topk(stmt: SearchSelect, compiled) -> DataFrame | None:
    """Delegate `... ORDER BY round(<scorer>, d) DESC [, doc_id] LIMIT k`
    to the max-score/WAND pruned top-k (operators/scoring.scored_topk —
    the reference's top-k pushdown) when the statement is exactly the
    safe shape: ONE pure-disjunction @@ match, no residual/projection/
    vector work, and the primary order key is the rounded score
    descending with at most a doc_id tiebreak. Anything else returns
    None and the general match+score plan runs."""
    from serenedb_spark.operators.scoring import scored_topk
    from serenedb_spark.plans.planner import is_pure_disjunction

    if (len(compiled) != 1 or stmt.residual or stmt.proj_calls
            or stmt.vector_dist is not None or stmt.vector_ranges
            or stmt.limit is None or not stmt.order):
        return None
    idx, col, node, c = compiled[0]
    if not is_pure_disjunction(node):
        return None
    key0, desc0 = stmt.order[0]
    m = _SCORE_ORDER_RE.fullmatch(key0)
    if not (desc0 and m):
        return None
    if len(stmt.order) > 1 and stmt.order[1] != ("doc_id", False):
        return None
    if len(stmt.order) > 2:
        return None
    round_to = int(m.group(1))
    # any select-list use of the score must be the same rounded form —
    # scored_topk's output IS rounded, so an unrounded projection would
    # surface different values than the general plan
    rounded = f"round ( __score , {round_to} )"
    if any("__score" in item.replace(rounded, "")
           for item in stmt.select_items):
        return None
    return scored_topk(idx, col, c.score_terms, stmt.limit, stmt.scorer,
                       round_to=round_to, **stmt.scorer_params)


def _vec_dist_col(col: str, metric: str, qvec) -> "F.Column":
    from serenedb_spark.functions import vector as V

    qc = V.lit_vector(list(qvec))
    c = F.col(col)
    if metric == "cosine":
        return V.cosine_distance(c, qc)
    if metric == "l2":
        return V.l2_distance(c, qc)
    if metric == "l1":
        return V.l1_distance(c, qc)  # pgvector's <+>
    return V.negative_inner_product(c, qc)  # neg_ip, pgvector's <#>


def _alias_map(select_items: list[str]) -> dict[str, str]:
    """alias -> underlying expression, from rendered `expr AS alias`
    select items (ORDER BY may reference select aliases, which the
    executor sorts BEFORE projecting)."""
    out: dict[str, str] = {}
    for it in select_items:
        parts = it.rsplit(" AS ", 1)
        if len(parts) == 2 and parts[1].strip().isidentifier():
            out[parts[1].strip()] = parts[0].strip()
    return out


def _order_keys(stmt_order, select_items):
    amap = _alias_map(select_items)
    # PG null ordering: ASC → NULLS LAST, DESC → NULLS FIRST (Spark
    # defaults are the opposite)
    return [
        (F.expr(amap.get(k, k)).desc_nulls_first() if d
         else F.expr(amap.get(k, k)).asc_nulls_last())
        for k, d in stmt_order
    ]


def _finish_select(stmt: SearchSelect, out: DataFrame,
                   idx=None) -> DataFrame:
    """The post-match tail shared by indexed and pure-vector statements:
    vector ranges/distance, residual SQL, projections, order, limit."""
    for vr in stmt.vector_ranges:
        out = out.where(_vec_leaf_pred(vr))
    if stmt.vector_dist is not None:
        col, metric, qvec = stmt.vector_dist
        out = out.withColumn("__vdist", _vec_dist_col(col, metric, qvec))
    if stmt.residual:
        out = out.where(F.expr(stmt.residual))
    for ph, func, col, args in stmt.proj_calls:
        out = out.withColumn(
            ph, _proj_expr(func, col, args, dict(stmt.matches),
                           idx=idx))
        if func in ("offsets", "ts_offsets"):
            # DuckDB length() over a list = cardinality
            # (headline.test:330 length(ts_offsets(body)))
            def _card(it: str) -> str:
                new_it = re.sub(rf"\blength\s*\(\s*{ph}\s*\)",
                                f"cardinality({ph})", it)
                if (new_it != it
                        and not re.search(r"\bAS\b", it, re.IGNORECASE)
                        and re.fullmatch(
                            rf"\s*length\s*\(\s*{ph}\s*\)\s*", it)):
                    # PG titles the unaliased call by its name
                    # (ts_offsets_isolation.test:36 column `length`)
                    new_it += " AS length"
                return new_it

            stmt.select_items[:] = [_card(it)
                                    for it in stmt.select_items]
    if stmt.order:
        out = out.orderBy(*_order_keys(stmt.order, stmt.select_items))
    if stmt.limit is not None:
        out = out.limit(stmt.limit)
    if not (len(stmt.select_items) == 1 and stmt.select_items[0] == "*"):
        out = out.selectExpr(*stmt.select_items)
    else:
        out = out.drop("__score", "__vdist")
    return out


# ---------------------------------------------------------------------------
# CREATE/DROP TEXT SEARCH DICTIONARY + DROP INDEX DDL
# ---------------------------------------------------------------------------


@dataclass
class CreateDictionary:
    name: str
    options: dict  # includes 'template'


def parse_create_dictionary(sql: str) -> CreateDictionary | None:
    """``CREATE TEXT SEARCH DICTIONARY name (template = 'ngram',
    mingram = 3, ...)`` (reference create_tsdictionary.cpp; demo3's
    dictionary definitions). Returns None when not this shape."""
    toks = tokenize(sql.strip().rstrip(";"))
    heads = ("CREATE", "TEXT", "SEARCH", "DICTIONARY")
    if len(toks) < 6 or any(toks[i].upper != h for i, h in enumerate(heads)):
        return None
    name = toks[4].text
    ts = _Stream(toks[5:])
    ts.expect("(")
    opts: dict = {}
    while not ts.match(")"):
        key = ts.next().text.lower()
        ts.expect("=")
        opts[key] = _scalar_arg(ts)
        ts.match(",")
    return CreateDictionary(name, opts)


def parse_drop(sql: str) -> tuple[str, str] | None:
    """DROP INDEX name / DROP TEXT SEARCH DICTIONARY name →
    ('index'|'dictionary', name); None otherwise."""
    toks = tokenize(sql.strip().rstrip(";"))
    if len(toks) >= 3 and toks[0].upper == "DROP" and toks[1].upper == "INDEX":
        return ("index", toks[2].text)
    if (len(toks) >= 5 and toks[0].upper == "DROP"
            and [t.upper for t in toks[1:4]] == ["TEXT", "SEARCH",
                                                 "DICTIONARY"]):
        return ("dictionary", toks[4].text)
    return None


def _literal_terms(node: q.TSQuery) -> list[str]:
    """Positive literal terms of a match node, in query order (drives
    OFFSETS/ts_highlight defaults — same set the reference's OFFSETS
    emits ranges for). Negative clauses contribute nothing."""
    out: list[str] = []

    def walk(n):
        if isinstance(n, q.Term):
            out.append(n.term)
        elif isinstance(n, (q.AnyOf, q.AllOf)):
            out.extend(n.terms)
        elif isinstance(n, q.Phrase):
            out.extend(n.words)
        elif isinstance(n, q.PhraseSeq):
            for p in n.parts:
                walk(p)
        elif isinstance(n, q.Boost):
            walk(n.part)
        elif isinstance(n, (q.And, q.Or)):
            for p in n.parts:
                walk(p)
        elif isinstance(n, q.Compound):
            for p in (*n.must, *n.should):
                walk(p)
        # Not / Prefix / Wildcard / Regexp / Fuzzy / Between / NgramSim:
        # no literal term to mark

    walk(node)
    seen: set = set()
    return [t for t in out if not (t in seen or seen.add(t))]


def _proj_expr(func: str, col: str, args: list, matches: dict,
               idx=None):
    """Build the Column for an OFFSETS/ts_highlight projection call."""
    from serenedb_spark.functions.highlight import (highlight_parts,
                                                    term_offsets_col)

    full_mode = "__OFFSETS__" in args
    args = [a for a in args if a != "__OFFSETS__"]
    opt_args = [a for a in args if isinstance(a, str) and "=" in a]
    if opt_args:
        # option strings imply the full-text PG form
        # (full_text_search.test:678 StartSel/StopSel)
        full_mode = True
        args = [a for a in args if not (isinstance(a, str) and "=" in a)]
    str_args = [a for a in args if isinstance(a, str)]
    num_args = [a for a in args
                if isinstance(a, (int, float)) and not isinstance(a, bool)]
    if func == "ts_highlight" and not str_args:
        # virtual-column form ts_highlight(col[, opts]) — the optimizer
        # synthesizes ts_offsets(col) (headline.test:448)
        full_mode = True
    node = matches.get(col)
    groups = (_match_groups(node)
              if node is not None and not str_args else [])
    terms = ([str_args[0]] if str_args
             else (_literal_terms(node) if node is not None else []))
    if not groups:
        groups = [[t] for t in terms]
    if (not groups and node is not None and idx is not None
            and isinstance(node, (q.Prefix, q.Wildcard, q.Regexp,
                                  q.Fuzzy, q.Between))):
        # term-dict-expanded leaves (ts_like/ts_starts_with/…): the
        # highlight terms are the dictionary expansion — a tiny
        # driver-side collect over term_stats (headline.test ts_like)
        from serenedb_spark.plans.planner import expanded_terms
        groups = [[t] for t in expanded_terms(idx, col, node)]
    if not groups:
        raise ValueError(
            f"{func}({col}): no literal query terms — pass the term "
            f"explicitly, e.g. {func}({col}, 'word')")
    if not terms:
        terms = [" ".join(x for x in g if isinstance(x, str))
                 for g in groups if all(isinstance(x, str) for x in g)]

    if func == "offsets":
        def to_ranges(t):
            n = len(t)

            def mk(i):
                return F.struct(i.alias("start"), F.lit(n).alias("len"))

            return F.transform(term_offsets_col(F.col(col), t), mk)

        arr = F.array_sort(F.concat(*[to_ranges(t) for t in terms]))
        if num_args:
            arr = F.slice(arr, 1, int(num_args[0]))
        return arr

    if func == "ts_offsets":
        # the reference's shape (offsets.test: `{6,9}`): a FLAT int
        # array of 0-based [start, end) pairs, sorted by start; a
        # phrase emits ONE pair covering its run (headline.test:300)
        arr = _match_offsets_udf(groups)(F.col(col))
        if num_args:
            arr = F.slice(arr, 1, 2 * int(num_args[0]))
        return arr

    # ts_highlight
    tag_open, tag_close = "<b>", "</b>"
    for o in opt_args:
        for part in o.split(","):
            if "=" in part:
                k, v = part.split("=", 1)
                k = k.strip().lower()
                if k == "startsel":
                    tag_open = v.strip()
                elif k == "stopsel":
                    tag_close = v.strip()
    if len(str_args) >= 3:
        tag_open, tag_close = str_args[1], str_args[2]
    if full_mode:
        # render through the shared py_highlight contract: spans from
        # the match groups, sentence-passage selection, merged adjacent
        # spans (headline.test end-to-end pipeline)
        opts = f"StartSel={tag_open}, StopSel={tag_close}"
        extra = [o for o in opt_args
                 if not re.search(r"(?i)(start|stop)sel", o)]
        if extra:
            opts += ", " + ", ".join(extra)
        return _highlight_udf(groups, opts)(F.col(col))
    window = int(num_args[0]) if num_args else 40
    first, snippet = highlight_parts(
        F.col(col), terms[0], tag_open=tag_open, tag_close=tag_close,
        window=window)
    return F.when(first.isNotNull(), snippet)


def _match_groups(node) -> list[list[str]]:
    """Word groups for offset/highlight rendering: single terms are
    1-element groups; adjacent phrases one group (their span renders as
    one pair)."""
    if isinstance(node, q.Term):
        return [[node.term]]
    if isinstance(node, q.Phrase):
        slots: list = [([w], 1, 1) if i == 0
                       else ([w], *node.gaps[i - 1])
                       for i, w in enumerate(node.words)]
        if all(g == (1, 1) for g in node.gaps):
            return [list(node.words)]
        return [slots]
    if isinstance(node, q.NgramSim):
        # the mini-segment path matches ts_ngram terms exactly
        # (headline.test:1397)
        return [[node.text]]
    if isinstance(node, q.PhraseSeq) and all(
            isinstance(p, (q.Term, q.AnyOf)) for p in node.parts):
        slots: list = []
        for i, p in enumerate(node.parts):
            words = ([p.term] if isinstance(p, q.Term)
                     else list(p.terms))
            lo, hi = (1, 1) if i == 0 else node.gaps[i - 1]
            slots.append((words, lo, hi))
        return [slots]
    if isinstance(node, q.AnyOf):
        return [[t] for t in node.terms]
    if isinstance(node, q.AllOf):
        return [[t] for t in node.terms]
    if isinstance(node, q.Prefix):
        return [[{"kind": "prefix", "p": node.prefix}]]
    if isinstance(node, q.Wildcard):
        return [[{"kind": "like", "p": node.pattern}]]
    if isinstance(node, q.Regexp):
        return [[{"kind": "regexp", "p": node.pattern}]]
    if isinstance(node, q.Fuzzy):
        return [[{"kind": "fuzzy", "w": node.term, "d": node.distance,
                  "prefix": node.prefix}]]
    if isinstance(node, (q.And, q.Or)):
        return [g for p in node.parts for g in _match_groups(p)]
    if isinstance(node, q.Boost):
        return _match_groups(node.part)
    if isinstance(node, q.Compound):
        return [g for grp in (node.must, node.should)
                for p in grp for g in _match_groups(p)]
    return []


def _match_offsets_udf(groups: list):
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from serenedb_spark.functions.highlight import py_match_offsets

    @pandas_udf("array<int>", PandasUDFType.SCALAR)
    def _off(s):
        return s.map(lambda t: None if t is None
                     else py_match_offsets(t, groups))

    return _off


def _highlight_udf(groups: list, opts: str):
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from serenedb_spark.functions.highlight import py_match_offsets
    from serenedb_spark.plans.statements import py_highlight

    @pandas_udf("string", PandasUDFType.SCALAR)
    def _hl(s):
        return s.map(lambda t: None if t is None else py_highlight(
            t, py_match_offsets(t, groups), opts))

    return _hl


# ---------------------------------------------------------------------------
# ts_dict_* term-dictionary statements (reference
# site_docs/sql/functions/term_dictionary.test):
#   SELECT unnest(ts_dict_agg(col)) AS term,
#          unnest(ts_dict_count(col)) AS docs,
#          unnest(ts_dict_freq(col)) AS freq
#   FROM idx [WHERE col LIKE 'g%'] [ORDER BY ...] [LIMIT n]
# The WHERE predicate ranges over the TERM DICTIONARY (col stands for
# the term), exactly like the reference's claimed aggregate plan.
# ---------------------------------------------------------------------------

_TSDICT_MAP = {"ts_dict_agg": "term", "ts_dict_raw_agg": "term",
               "ts_dict_count": "doc_count", "ts_dict_freq": "total_freq",
               "ts_dict_score": "score"}

#: select-item forms a ts_dict call can appear in
#:   unnest  — one output row per term (column of the dict relation)
#:   list    — list_sort(ts_dict_X(f)): sorted list, single row
#:   bare    — ts_dict_X(f): term-order-aligned list, single row
#:   scalar  — ts_dict_min/max(f): scalar over the dictionary
_TSDICT_KEYWORDS = {
    "AND", "OR", "NOT", "LIKE", "ILIKE", "BETWEEN", "IN", "IS", "NULL",
    "TRUE", "FALSE", "ESCAPE", "ASC", "DESC", "CASE", "WHEN", "THEN",
    "ELSE", "END", "DISTINCT", "AS",
}


@dataclass
class TsDictCall:
    ph: str                 # placeholder column __tsdN
    fn: str                 # agg | raw_agg | count | freq | score | min | max
    field: str
    form: str               # unnest | list | bare | scalar
    hexcast: bool = False   # raw_agg ::VARCHAR → \x-hex text
    wrap: str = "sort"      # list form: list_sort → sorted list,
                            # list_sum → scalar sum (ts_dict_minmax_matrix)


@dataclass
class TsDictSelect:
    select_items: list[str]
    from_name: str
    field: str                       # first enumerated field
    residual: str | None             # legacy single-field term residual
    order: list[tuple[str, bool]]
    limit: int | None
    calls: list = field(default_factory=list)
    #: sibling DOCUMENT-row aggregates (count(*)/min/sum over the doc
    #: scan, cross-joined — ts_dict_mixing.test:223): (placeholder, sql)
    row_aggs: list = field(default_factory=list)
    #: per-field TERM-level predicates (SQL over `term`)
    term_residuals: list = field(default_factory=list)
    #: DOC-level WHERE text (original column names; @@ claims allowed)
    doc_where: str | None = None
    #: (column_alias → matcher TSQuery leaf) pushed down from an outer
    #: subquery filter — drives fuzzy completion scoring
    term_matcher: object | None = None


def _tsdict_expr(call: TsDictCall, term_col: str = "term") -> str:
    """The dict-relation SQL expression one call projects."""
    base = {"agg": term_col, "raw_agg": term_col,
            "count": "doc_count", "freq": "total_freq",
            "score": "score"}[call.fn]
    if call.fn == "raw_agg":
        # raw term BYTES; ::VARCHAR renders the blob PG-style as \x-hex
        # (reference ts_dict.test:59)
        if call.hexcast:
            return f"concat('\\\\x', lower(hex({term_col})))"
        return f"encode({term_col}, 'UTF-8')"
    return base


def parse_ts_dict(sql: str) -> TsDictSelect | None:
    """Parse the ts_dict_* statement family (reference
    server/connector/optimizer/ts_dict_plan.cpp; sqllogic
    sdb/pg/index/ts_dict*.test):

      SELECT unnest(ts_dict_agg(col)) ... FROM idx
      SELECT list_sort(ts_dict_X(col)), ts_dict_min(col) ... FROM idx
      [WHERE <term-level predicates on col | doc-level @@/other-column>]
      [ORDER BY ...] [LIMIT n]

    WHERE conjuncts referencing only the enumerated column are TERM
    acceptors/post-filters (ts_dict.test:118); conjuncts with `@@` or
    other columns filter DOCUMENTS (ts_dict_doc_restricted.test).
    Returns None when no ts_dict_* call is present."""
    toks = tokenize(sql.strip().rstrip(";"))
    if not any(t.kind == "IDENT" and t.text.lower().startswith("ts_dict_")
               for t in toks):
        return None
    if any(_find_clause(toks, (op,)) >= 0
           for op in ("UNION", "INTERSECT", "EXCEPT")):
        return None     # set-op arms parse individually (ts_dict_compose)
    if not toks or toks[0].upper != "SELECT":
        raise ValueError("ts_dict_* only supported in SELECT")
    for i2, t2 in enumerate(toks):
        if (t2.kind == "IDENT" and t2.text.lower().startswith("ts_dict_")
                and i2 + 1 < len(toks) and toks[i2 + 1].text == "("):
            d2 = 0
            j2 = i2 + 1
            while j2 < len(toks):
                if toks[j2].text == "(":
                    d2 += 1
                elif toks[j2].text == ")":
                    d2 -= 1
                    if d2 == 0:
                        break
                j2 += 1
            if j2 + 1 < len(toks) and toks[j2 + 1].upper == "OVER":
                # ts_dict_mixing.test:252 — no dictionary scan under a
                # per-row window frame
                raise ValueError(
                    f"{t2.text.lower()}() cannot be used as a window "
                    "function")
    if _find_clause(toks, ("GROUP",)) >= 0:
        # grouped mixed aggregates stay rejected
        # (ts_dict_mixing.test:245)
        raise ValueError(
            "ts_dict_* aggregates cannot be combined with other "
            "aggregates over the same scan")
    fpos = _find_clause(toks, ("FROM",))
    if fpos < 0:
        # scalar-subquery items (`SELECT (SELECT ts_dict_agg..) AS b`):
        # the subquery machinery owns these (ts_dict_compose.test:88)
        return None
    sel_toks = toks[1:fpos]
    wpos = _find_clause(toks, ("WHERE",), fpos)
    opos = _find_clause(toks, ("ORDER", "BY"), fpos)
    lpos = _find_clause(toks, ("LIMIT",), fpos)
    from_end = min(x for x in (wpos, opos, lpos, len(toks)) if x >= 0)
    from_toks = toks[fpos + 1:from_end]
    if not from_toks or from_toks[0].kind != "IDENT":
        return None     # FROM (subquery): extracted by the rewriter
    if len(from_toks) == 2 and from_toks[1].kind == "IDENT":
        pass                        # FROM idx alias — alias ignored
    elif len(from_toks) != 1:
        raise ValueError("ts_dict SELECT supports a single FROM relation")
    from_name = from_toks[0].text

    calls: list[TsDictCall] = []

    def add_call(fn: str, col: str, form: str,
                 hexcast: bool = False) -> str:
        ph = f"__tsd{len(calls)}"
        calls.append(TsDictCall(ph, fn, col.split(".")[-1], form, hexcast))
        return ph

    def rewrite(span: list[Tok], in_agg_ctx: bool = False) -> list[Tok]:
        """Replace every ts_dict call form with its placeholder ident."""
        out: list[Tok] = []
        i = 0
        n = len(span)
        while i < n:
            t = span[i]
            low = t.text.lower()
            # unnest( [list_sort(] ts_dict_X(col) [)] ) [::type]
            if low == "unnest" and i + 1 < n and span[i + 1].text == "(":
                j = i + 2
                wrapped = False
                if (j + 1 < n and span[j].text.lower() == "list_sort"
                        and span[j + 1].text == "("):
                    wrapped = True
                    j += 2
                if (j + 4 < n + 1 and j + 3 < n
                        and span[j].text.lower() in _TSDICT_MAP
                        and span[j + 1].text == "("
                        and span[j + 2].kind == "IDENT"
                        and span[j + 3].text == ")"):
                    fn = span[j].text.lower().replace("ts_dict_", "")
                    col = span[j + 2].text
                    k = j + 4
                    if wrapped:
                        if k < n and span[k].text == ")":
                            k += 1
                    if k < n and span[k].text == ")":
                        k += 1
                    hexcast = False
                    if (fn == "raw_agg" and k + 1 < n
                            and span[k].text == "::"
                            and span[k + 1].text.lower() in
                            ("varchar", "text", "string")):
                        hexcast = True
                        k += 2
                    out.append(Tok("IDENT", add_call(fn, col, "unnest",
                                                     hexcast)))
                    i = k
                    continue
            # list_sort/list_sum/len( ts_dict_X(col) ) (not inside unnest)
            if (low in ("list_sort", "list_sum", "len", "length",
                        "cardinality") and i + 5 < n
                    and span[i + 1].text == "("
                    and span[i + 2].text.lower() in _TSDICT_MAP
                    and span[i + 3].text == "("
                    and span[i + 4].kind == "IDENT"
                    and span[i + 5].text == ")"
                    and i + 6 < n and span[i + 6].text == ")"):
                fn = span[i + 2].text.lower().replace("ts_dict_", "")
                ph = add_call(fn, span[i + 4].text, "list")
                calls[-1].wrap = ("sum" if low == "list_sum" else
                                  "len" if low in ("len", "length",
                                                   "cardinality")
                                  else "sort")
                out.append(Tok("IDENT", ph))
                i += 7
                continue
            # ts_dict_min/max(col)
            if (low in ("ts_dict_min", "ts_dict_max")
                    and i + 3 < n and span[i + 1].text == "("
                    and span[i + 2].kind == "IDENT"
                    and span[i + 3].text == ")"):
                fn = low.replace("ts_dict_", "")
                out.append(Tok("IDENT",
                               add_call(fn, span[i + 2].text, "scalar")))
                i += 4
                continue
            # bare ts_dict_X(col) — aligned-list aggregate
            if (low in _TSDICT_MAP and i + 3 < n
                    and span[i + 1].text == "("
                    and span[i + 2].kind == "IDENT"
                    and span[i + 3].text == ")"):
                fn = low.replace("ts_dict_", "")
                out.append(Tok("IDENT",
                               add_call(fn, span[i + 2].text, "bare")))
                i += 4
                continue
            out.append(t)
            i += 1
        return out

    _ROW_AGG_FNS = {"count", "sum", "min", "max", "avg", "stddev",
                    "variance", "array_agg", "string_agg", "list"}
    raw_items = _split_top(sel_toks, (",",))
    items = []
    row_aggs: list[tuple[str, str]] = []
    for it in raw_items:
        toks2 = rewrite(it)
        # extract sibling DOCUMENT aggregates (count(*)/min/array_agg
        # over the doc scan) into their own placeholders — they compute
        # over the document relation and cross-join in
        # (ts_dict_mixing.test:223, ts_dict_array_agg.test:323)
        out2: list[Tok] = []
        k = 0
        while k < len(toks2):
            t = toks2[k]
            if (t.kind == "IDENT" and t.text.lower() in _ROW_AGG_FNS
                    and k + 1 < len(toks2)
                    and toks2[k + 1].text == "("):
                depth = 0
                j2 = k + 1
                while j2 < len(toks2):
                    if toks2[j2].text == "(":
                        depth += 1
                    elif toks2[j2].text == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    j2 += 1
                span = toks2[k:j2 + 1]
                if not any(x.text.startswith("__tsd") for x in span):
                    ph = f"__tsr{len(row_aggs)}"
                    row_aggs.append((ph, _render(_rewrite_casts(span))))
                    out2.append(Tok("IDENT", ph))
                    k = j2 + 1
                    continue
            out2.append(t)
            k += 1
        rendered = _render(_rewrite_casts(out2))
        if (it and not any(t2.upper == "AS" for t2 in it)
                and re.fullmatch(r"__ts[dr]\d+", rendered)):
            # no alias: PG names the output after the outermost call
            # (ts_dict_doc_restricted.test header `list_sort`)
            rendered = f"{rendered} AS {it[0].text.lower()}"
        items.append(rendered)
    if not calls:
        raise ValueError("no ts_dict_*(column) call found")
    field0 = calls[0].field
    fields = {c.field for c in calls}

    # ---- WHERE classification -------------------------------------------
    def _split_and(span: list[Tok]) -> list[list[Tok]]:
        """Split on top-level AND, keeping BETWEEN ... AND ... intact."""
        parts: list[list[Tok]] = [[]]
        depth = 0
        pending_between = 0
        for t in span:
            if t.text in ("(", "["):
                depth += 1
            elif t.text in (")", "]"):
                depth -= 1
            if depth == 0 and t.upper == "BETWEEN":
                pending_between += 1
            elif depth == 0 and t.upper == "AND":
                if pending_between:
                    pending_between -= 1
                else:
                    parts.append([])
                    continue
            parts[-1].append(t)
        return parts

    term_residuals: list[tuple[str, str]] = []
    doc_parts: list[str] = []
    if wpos >= 0:
        wend = min(x for x in (opos, lpos, len(toks)) if x >= 0)
        for conj in _split_and(toks[wpos + 1:wend]):
            if not conj:
                continue
            has_atat = any(t.text == "@@" for t in conj)
            col_refs = set()
            for k2, t in enumerate(conj):
                if t.kind != "IDENT" or t.upper in _TSDICT_KEYWORDS:
                    continue
                nxt = conj[k2 + 1].text if k2 + 1 < len(conj) else ""
                if nxt == "(":
                    continue        # a function name
                col_refs.add(t.text.split(".")[-1])
            if (not has_atat and col_refs
                    and col_refs <= fields):
                # TERM-level: every referenced column is an enumerated
                # dict field — the predicate ranges over its terms
                f = next(iter(col_refs & fields), field0)
                mapped = [Tok("IDENT", "term")
                          if (t.kind == "IDENT"
                              and t.text.split(".")[-1] in fields)
                          else t for t in conj]
                term_residuals.append(
                    (f, _render(_rewrite_casts(mapped))))
            else:
                doc_parts.append(_render(conj))
    doc_where = " AND ".join(f"({p})" for p in doc_parts) or None

    # legacy single-field residual text (kept for callers that read it)
    residual = term_residuals[0][1] if term_residuals else None

    order: list[tuple[str, bool]] = []
    if opos >= 0:
        oend = lpos if lpos >= 0 else len(toks)
        for key in _split_top(toks[opos + 2:oend], (",",)):
            desc = False
            if key and key[-1].upper in ("ASC", "DESC"):
                desc = key[-1].upper == "DESC"
                key = key[:-1]
            # resolve ts_dict_X(col) to the SELECT list's existing
            # placeholder (never a fresh call — a duplicate would
            # change the execution shape); only THEN map remaining
            # bare field idents to the term axis (mapping first would
            # turn ts_dict_freq(body) into ts_dict_freq(term) and
            # register field='term')
            resolved: list[Tok] = []
            k2 = 0
            while k2 < len(key):
                t = key[k2]
                low2 = t.text.lower()
                if (low2 in _TSDICT_MAP and k2 + 3 < len(key)
                        and key[k2 + 1].text == "("
                        and key[k2 + 2].kind == "IDENT"
                        and key[k2 + 3].text == ")"):
                    fn2 = low2.replace("ts_dict_", "")
                    f2 = key[k2 + 2].text.split(".")[-1]
                    hit = next(
                        (c for c in calls
                         if c.fn == fn2 and c.field == f2), None)
                    if hit is not None:
                        resolved.append(Tok("IDENT", hit.ph))
                        k2 += 4
                        continue
                resolved.append(t)
                k2 += 1
            mapped = [Tok("IDENT", "term")
                      if (t.kind == "IDENT"
                          and t.text.split(".")[-1] in fields)
                      else t for t in resolved]
            order.append((_render(_rewrite_casts(rewrite(mapped))), desc))
    limit = None
    if lpos >= 0:
        limit = int(toks[lpos + 1].text)
    return TsDictSelect(items, from_name, field0, residual, order, limit,
                        calls=calls, row_aggs=row_aggs,
                        term_residuals=term_residuals,
                        doc_where=doc_where)


def _tsdict_relation(idx, f: str, doc_ids, need_score: bool):
    """The dict relation (term, doc_count, total_freq[, score]) for one
    field — from term_stats when unrestricted, postings ⋉ doc set when a
    doc-level WHERE narrows the corpus (delete-aware live counts)."""
    from serenedb_spark.operators import facets as FC

    if doc_ids is not None:
        df = FC.ts_dict_filtered(idx, doc_ids, f)
    else:
        df = FC.ts_dict(idx, f)
    if need_score:
        # a plain enumeration carries no per-term match score — every
        # term scores 1; a fuzzy/term matcher overrides this
        # (ts_dict_fuzzy.test:133 'doc-level fuzzy WHERE has no
        # per-term score')
        df = df.withColumn("score", F.lit(1.0))
    return df


def execute_ts_dict(stmt: TsDictSelect, get_index,
                    doc_ids_for=None) -> DataFrame:
    """The claimed term-dictionary aggregate: answered from term stats /
    postings, never scanning document text (reference ts_dict_plan.cpp).

    ``doc_ids_for(from_name, where_sql) -> DataFrame[key]`` evaluates a
    doc-level WHERE (``@@`` claims and plain predicates) to the matched
    doc-id set; postings are then semi-joined to it
    (ts_dict_doc_restricted.test).

    Multi-field unnests ZIP positionally with NULL padding — DuckDB's
    multi-unnest semantics, preserved by the reference
    (ts_dict_multi_field.test:81) — so the general path aggregates each
    field's dictionary to a term-sorted struct array, zips across
    fields, and re-explodes. The common single-field all-unnest shape
    skips the collect entirely and stays a flat distributed relation."""
    calls = stmt.calls
    if not calls:   # pre-r11 callers constructed TsDictSelect directly
        raise ValueError("TsDictSelect without calls")
    idx = get_index(stmt.from_name, stmt.field)
    for c in calls:
        if c.field not in idx.fields:
            raise ValueError(
                f"ts_dict_{c.fn}(): column has no text term dictionary")
        an_name = idx.fields[c.field]
        if an_name == "encoded_int":
            # numeric columns index granular-encoded keys, not text
            # terms (ts_dict_numeric.test:24)
            raise ValueError(
                f"ts_dict_{c.fn}(): column has no text term dictionary")
    from serenedb_spark.plans.dialect import compat_fragment

    doc_ids = None
    if stmt.doc_where is not None:
        if doc_ids_for is None:
            raise ValueError(
                "doc-level WHERE under ts_dict requires a session "
                "(doc_ids_for) to evaluate the document filter")
        doc_ids = doc_ids_for(stmt.from_name, stmt.doc_where)

    need_score = any(c.fn == "score" for c in calls)
    fields_in_order: list[str] = []
    for c in calls:
        if c.field not in fields_in_order:
            fields_in_order.append(c.field)

    residual_by_field: dict[str, list[str]] = {}
    for f, pred in stmt.term_residuals:
        residual_by_field.setdefault(f, []).append(pred)

    enum_fields = {c.field for c in calls}
    if len(enum_fields) > 1:
        for f, pred in stmt.term_residuals:
            if re.search(r"\w\s*\(", pred):
                # scalar residues cannot post-filter multi-field rows
                # (other fields' term columns are NULL on them) —
                # ts_dict_multi_field.test:219
                raise ValueError(
                    "multi-field ts_dict_agg() WHERE accepts indexed "
                    "document predicates and keyword term acceptors "
                    "only")

    def dict_rel(f: str) -> DataFrame:
        D = _tsdict_relation(idx, f, doc_ids, need_score)
        for pred in residual_by_field.get(f, ()):
            D = D.where(F.expr(compat_fragment(pred)))
        if stmt.term_matcher is not None:
            D = _apply_term_matcher(D, idx, f, stmt.term_matcher)
        return D

    row_df = None
    if stmt.row_aggs:
        R = idx.docstore
        key = getattr(idx, "key", "doc_id")
        if key != "doc_id" and key not in R.columns:
            R = R.withColumnRenamed("doc_id", key)
        if doc_ids is not None:
            R = R.join(
                doc_ids.select(F.col("doc_id").alias(key)).distinct(),
                key, "left_semi")
        row_df = R.selectExpr(
            *[f"{compat_fragment(e)} AS {ph}"
              for ph, e in stmt.row_aggs])

    unnest_calls = [c for c in calls if c.form == "unnest"]
    unnest_fields: list[str] = []
    for c in unnest_calls:
        if c.field not in unnest_fields:
            unnest_fields.append(c.field)

    if unnest_calls and len(calls) == len(unnest_calls) \
            and len(unnest_fields) == 1:
        # fast path: one enumerated field, every item row-wise — the
        # dict relation IS the result shape, no collect, stays
        # distributed (the reference's unnest→scan collapse,
        # ts_dict.test:168 plan check)
        D = dict_rel(unnest_fields[0])
        out = D.selectExpr(
            *[f"{_tsdict_expr(c)} AS {c.ph}" for c in calls])
        if row_df is not None:
            out = out.crossJoin(F.broadcast(row_df))
        if stmt.order:
            out = out.orderBy(*_order_keys(stmt.order, stmt.select_items))
        if stmt.limit is not None:
            out = out.limit(stmt.limit)
        return out.selectExpr(
            *[compat_fragment(i) for i in stmt.select_items])

    # general path: per-field single-row aggregation, zip + re-explode
    # for the unnest calls
    per_field: list[DataFrame] = []
    for f in fields_in_order:
        D = dict_rel(f)
        exprs: list[str] = []
        fu = [c for c in unnest_calls if c.field == f]
        if fu:
            inner = ", ".join(
                f"{_tsdict_expr(c)} AS {c.ph}" for c in fu)
            exprs.append(
                f"array_sort(collect_list(struct(term AS _t, {inner})))"
                f" AS __arr_{f}")
        for c in calls:
            if c.field != f or c.form == "unnest":
                continue
            if c.form == "list":
                if c.wrap == "sum":
                    exprs.append(f"sum({_tsdict_expr(c)}) AS {c.ph}")
                elif c.wrap == "len":
                    # len(ts_dict_X(col)) = the dictionary's term count
                    exprs.append(f"count({_tsdict_expr(c)}) AS {c.ph}")
                else:
                    exprs.append(
                        f"sort_array(collect_list({_tsdict_expr(c)})) "
                        f"AS {c.ph}")
            elif c.form == "bare":
                # align every bare list by sorting on the term —
                # cross-segment emission order is unspecified
                # (ts_dict.test:100 comment)
                exprs.append(
                    f"transform(array_sort(collect_list(struct("
                    f"term AS _t, {_tsdict_expr(c)} AS _v))), "
                    f"_s -> _s._v) AS {c.ph}")
            else:  # scalar min/max
                mm = "min" if c.fn == "min" else "max"
                exprs.append(f"{mm}(term) AS {c.ph}")
        per_field.append(D.selectExpr(*exprs))

    out = per_field[0]
    for D in per_field[1:]:
        out = out.crossJoin(D)     # single rows: a 1×1 join
    if row_df is not None:
        out = out.crossJoin(row_df)
    if unnest_calls:
        if len(unnest_fields) == 1:
            zip_expr = f"__arr_{unnest_fields[0]}"
            proj = {c.ph: f"__z.{c.ph}" for c in unnest_calls}
        else:
            zip_expr = "arrays_zip(" + ", ".join(
                f"__arr_{f}" for f in unnest_fields) + ")"
            proj = {c.ph: f"__z.__arr_{c.field}.{c.ph}"
                    for c in unnest_calls}
        keep = [c.ph for c in calls if c.form != "unnest"] \
            + [ph for ph, _ in stmt.row_aggs]
        out = (out.selectExpr(f"explode({zip_expr}) AS __z", *keep)
               .selectExpr(*[f"{src} AS {ph}"
                             for ph, src in proj.items()], *keep))
    if stmt.order:
        out = out.orderBy(*_order_keys(stmt.order, stmt.select_items))
    if stmt.limit is not None:
        out = out.limit(stmt.limit)
    return out.selectExpr(
        *[compat_fragment(i) for i in stmt.select_items])


def _apply_term_matcher(D: DataFrame, idx, f: str, matcher) -> DataFrame:
    """Push an outer `term @@ <matcher>` filter into the enumeration:
    restrict to matched terms and carry the per-term similarity score
    (reference levenshtein_filter.cpp:49 — 1 - d/min(|term|, |query|))."""
    from serenedb_spark.plans import planner as PL
    from serenedb_spark.plans import tsquery as q

    if isinstance(matcher, q.Fuzzy):
        w, d = matcher.term, matcher.distance
        cand = D.where(
            (F.length("term") >= len(w) - d)
            & (F.length("term") <= len(w) + d))
        lev = F.levenshtein(F.col("term"), F.lit(w))
        cand = cand.where(lev <= d)
        sim = (F.lit(1.0) - lev.cast("double")
               / F.least(F.length("term"), F.lit(len(w))).cast("double"))
        if "score" in cand.columns:
            cand = cand.withColumn("score", sim)
        return cand
    terms = PL._expand(idx, f, matcher).withColumnRenamed("term", "__mt")
    return D.join(terms, D["term"] == terms["__mt"], "left_semi")


def parse_tsdict_outer(sql: str):
    """``SELECT ... FROM ( <ts_dict select> ) alias WHERE <pred>`` —
    fuzzy/prefix completion over the emitted terms. The reference pushes
    the outer term filter down into the dictionary enumeration, and an
    ``@@`` matcher there carries its per-term similarity score
    (ts_dict_fuzzy.test:58-66). Returns (TsDictSelect, outer_items,
    matcher_leaf|None, plain_preds, order, limit) or None."""
    toks = tokenize(sql.strip().rstrip(";"))
    if not any(t.kind == "IDENT" and t.text.lower().startswith("ts_dict_")
               for t in toks):
        return None
    if not toks or toks[0].upper != "SELECT":
        return None
    fpos = _find_clause(toks, ("FROM",))
    if fpos < 0 or fpos + 1 >= len(toks) or toks[fpos + 1].text != "(":
        return None
    depth = 0
    j = fpos + 1
    while j < len(toks):
        if toks[j].text == "(":
            depth += 1
        elif toks[j].text == ")":
            depth -= 1
            if depth == 0:
                break
        j += 1
    inner = toks[fpos + 2:j]
    if any(_find_clause(inner, (op,)) >= 0
           for op in ("UNION", "INTERSECT", "EXCEPT")):
        return None     # set-op composition: the subquery path owns it
    td = parse_ts_dict(_render(inner))
    if td is None:
        return None
    k = j + 1
    if (k < len(toks) and toks[k].kind == "IDENT"
            and toks[k].upper not in ("WHERE", "ORDER", "LIMIT")):
        k += 1                      # subquery alias, positional binding
    outer_items = [_render(x) for x in _split_top(toks[1:fpos], (",",))]
    wpos = _find_clause(toks, ("WHERE",), k)
    opos = _find_clause(toks, ("ORDER", "BY"), k)
    lpos = _find_clause(toks, ("LIMIT",), k)
    matcher = None
    plain: list[str] = []
    if wpos >= 0:
        wend = min(x for x in (opos, lpos, len(toks)) if x >= 0)
        for conj in _split_top(toks[wpos + 1:wend], ("AND",)):
            ats = [i for i, t in enumerate(conj) if t.text == "@@"]
            if ats:
                a = ats[0]
                name = conj[a + 1].text.lower()
                ts = _Stream(conj[a + 2:])
                matcher = _parse_call(name, ts, None)
            else:
                plain.append(_render(conj))
    order: list[tuple[str, bool]] = []
    if opos >= 0:
        oend = lpos if lpos >= 0 else len(toks)
        for key in _split_top(toks[opos + 2:oend], (",",)):
            desc = False
            if key and key[-1].upper in ("ASC", "DESC"):
                desc = key[-1].upper == "DESC"
                key = key[:-1]
            order.append((_render(key), desc))
    limit = int(toks[lpos + 1].text) if lpos >= 0 else None
    if matcher is None:
        # no @@ term matcher to push down: the generic subquery
        # machinery serves plain outer filters/aggregates better
        return None
    return td, outer_items, matcher, plain, order, limit


def execute_tsdict_outer(parsed, get_index, doc_ids_for=None) -> DataFrame:
    """Run a parse_tsdict_outer statement: the inner dictionary select
    executes with the matcher pushed into its enumeration, then the
    outer projection/filter/order apply over the aliased result."""
    td, outer_items, matcher, plain, order, limit = parsed
    if matcher is not None:
        td.term_matcher = matcher
    df = execute_ts_dict(td, get_index, doc_ids_for)
    for p in plain:
        df = df.where(F.expr(p))
    if order:
        df = df.orderBy(*_order_keys(order, outer_items))
    if limit is not None:
        df = df.limit(limit)
    return df.selectExpr(*outer_items)


# ---------------------------------------------------------------------------
# AST → dialect-SQL renderer (the inverse of parse_tsquery_text): lets
# programmatic TSQuery ASTs be displayed/persisted as reference-dialect
# text, and powers the parser round-trip fuzz (test_search_sql.py)
# ---------------------------------------------------------------------------


def _q(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _arr(vals) -> str:
    return "ARRAY[" + ", ".join(_q(v) for v in vals) + "]"


def tsquery_to_sql(node: q.TSQuery) -> str:
    """Render a TSQuery AST as search-dialect SQL text. Round-trip
    contract: for terms that are analyzer fixed points,
    ``parse_tsquery_text(tsquery_to_sql(n), an) == n``."""
    if isinstance(node, q.Term):
        return _q(node.term)
    if isinstance(node, q.AnyOf):
        mm = f", {node.min_match}" if node.min_match != 1 else ""
        return f"ts_any({_arr(node.terms)}{mm})"
    if isinstance(node, q.AllOf):
        return f"ts_all({_arr(node.terms)})"
    if isinstance(node, q.Phrase):
        parts: list[str] = []
        for i, w in enumerate(node.words):
            if i > 0:
                lo, hi = node.gaps[i - 1]
                if (lo, hi) != (1, 1):
                    parts.append(f"ARRAY[{lo - 1},{hi - 1}]")
            parts.append(_q(w))
        return f"ts_phrase({', '.join(parts)})"
    if isinstance(node, q.PhraseSeq):
        bits: list[str] = []
        for i, p in enumerate(node.parts):
            if i > 0:
                lo, hi = node.gaps[i - 1]
                if (lo, hi) != (1, 1):
                    bits.append(f"ARRAY[{lo - 1},{hi - 1}]")
            bits.append(tsquery_to_sql(p))
        return "(" + " ## ".join(bits) + ")"
    if isinstance(node, q.Prefix):
        return f"ts_starts_with({_q(node.prefix)})"
    if isinstance(node, q.Wildcard):
        return f"ts_like({_q(node.pattern)})"
    if isinstance(node, q.Regexp):
        if getattr(node, "syntax", "perl") != "perl":
            return f"ts_regexp({_q(node.pattern)}, {_q(node.syntax)})"
        return f"ts_regexp({_q(node.pattern)})"
    if isinstance(node, q.Fuzzy):
        bits = [_q(node.term), str(node.distance)]
        if not node.transpositions or node.prefix:
            # transpositions default TRUE — spell it out only when it
            # deviates or a prefix needs the positional slot
            bits.append("true" if node.transpositions else "false")
        if node.prefix:
            bits.append(_q(node.prefix))
        return f"ts_levenshtein({', '.join(bits)})"
    if isinstance(node, q.NgramSim):
        return f"ts_ngram({_q(node.text)}, {node.threshold!r})"
    if isinstance(node, q.Between):
        if node.lo is None:
            return (f"ts_le({_q(node.hi)})" if node.hi_inclusive
                    else f"ts_lt({_q(node.hi)})")
        if node.hi is None:
            return (f"ts_ge({_q(node.lo)})" if node.lo_inclusive
                    else f"ts_gt({_q(node.lo)})")
        return (f"ts_between({_q(node.lo)}, {_q(node.hi)},"
                f" {str(node.lo_inclusive).lower()},"
                f" {str(node.hi_inclusive).lower()})")
    if isinstance(node, q.And):
        return "(" + " && ".join(tsquery_to_sql(p) for p in node.parts) + ")"
    if isinstance(node, q.Or):
        return "(" + " || ".join(tsquery_to_sql(p) for p in node.parts) + ")"
    if isinstance(node, q.Not):
        return f"!!{tsquery_to_sql(node.part)}"
    if isinstance(node, q.Boost):
        # parenthesize the operand: `!!x ^ f` is ambiguous (prefix-not vs
        # postfix-boost); `((!!x) ^ f)` round-trips exactly
        return f"(({tsquery_to_sql(node.part)}) ^ {node.factor!r})"
    raise TypeError(f"cannot render {type(node).__name__} as dialect SQL")
