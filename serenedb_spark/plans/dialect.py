"""Small SQL dialect shims — the "PG→Spark rewriter only where dialects
diverge" (SURVEY §3 lifecycle mapping).

Spark SQL lacks a QUALIFY clause (the reference inherits it from DuckDB,
site_docs/sql/query_syntax/qualify). ``rewrite_qualify`` lowers

    SELECT <cols> FROM ... QUALIFY <pred> [ORDER BY ...] [LIMIT n]

into the standard subquery form: project the window predicate as a hidden
column, filter, drop. The rewriter is a line-level transform, not a full
parser — it handles the single-statement, top-level-QUALIFY shape the
reference's tests exercise; anything else raises (fail loud, not wrong).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

def _find_top_level(s: str, words: tuple[str, ...]) -> int:
    """Index of the first top-level (paren-depth-0) occurrence of any of
    `words` (case-insensitive, word-boundary), or -1."""
    upper = s.upper()
    depth = 0
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            for w in words:
                end = i + len(w)
                if (
                    upper.startswith(w, i)
                    and (i == 0 or not upper[i - 1].isalnum())
                    and (end >= len(s) or not upper[end].isalnum())
                ):
                    return i
        i += 1
    return -1


def rewrite_qualify(sql: str) -> str:
    """Lower a top-level QUALIFY into a filtered subquery:

        SELECT <sel> FROM <rest> QUALIFY <pred> <tail>
        → SELECT * EXCEPT (__qualify__) FROM (
            SELECT <sel>, (<pred>) AS __qualify__ FROM <rest>
          ) WHERE __qualify__ <tail>

    Paren-depth-aware splitting, so ORDER BY inside an OVER (...) window
    spec is never mistaken for the trailing ORDER BY.
    """
    s = sql.strip().rstrip(";")
    qpos = _find_top_level(s, ("QUALIFY",))
    if qpos < 0:
        return sql
    head, after = s[:qpos], s[qpos + len("QUALIFY"):]
    if not re.match(r"^\s*SELECT\b", head, re.IGNORECASE):
        raise ValueError("QUALIFY shim handles a single top-level SELECT only")
    fpos = _find_top_level(head, ("FROM",))
    if fpos < 0:
        raise ValueError("QUALIFY without FROM")
    sel = head[len("SELECT"):fpos].strip()
    rest = head[fpos + len("FROM"):].strip()
    tpos = _find_top_level(after, ("ORDER", "LIMIT"))
    pred = (after if tpos < 0 else after[:tpos]).strip()
    tail = "" if tpos < 0 else after[tpos:]
    return (
        f"SELECT * EXCEPT (__qualify__) FROM ("
        f"SELECT {sel}, ({pred}) AS __qualify__ FROM {rest}"
        f") WHERE __qualify__ {tail}"
    )


#: DuckDB/PG spellings → Spark SQL function names, applied at call sites
#: only (identifier immediately followed by `(`), never inside string
#: literals or quoted identifiers — demo6 Q5/Q7 aggregate with
#: approx_quantile through the plain-SQL door
_FN_RENAMES = {"approx_quantile": "approx_percentile",
               # PG/DuckDB spellings → Spark (prepared_statements.test)
               "starts_with": "startswith", "ends_with": "endswith",
               # DuckDB string-claim aliases (tsquery_match.test:2506+)
               "suffix": "endswith", "prefix": "startswith",
               "regexp_matches": "regexp_like",
               # DuckDB list fns (ts_dict_minmax_count.test list_sort)
               "list_sort": "array_sort", "list_distinct": "array_distinct",
               "list_contains": "array_contains",
               # PG set-returning unnest over an array expression
               # (ts_dict_array_agg.test:351) — Spark's generator
               "unnest": "explode",
               # PG composite constructor (ddl/composite.test)
               "row": "struct",
               # DuckDB len() over arrays (functions-info.test
               # duckdb_functions parameters)
               "len": "size"}


def rewrite_fn_renames(sql: str) -> str:
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):          # skip literal / quoted identifier
            j = i + 1
            while j < n:
                if sql[j] == ch:
                    if ch == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2        # '' escape
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            word = sql[i:j]
            k = j
            while k < n and sql[k] in " \t\n":
                k += 1
            repl = _FN_RENAMES.get(word.lower())
            qualified = i > 0 and sql[i - 1] == "."
            if repl and not qualified and k < n and sql[k] == "(":
                out.append(repl)
            else:
                out.append(word)
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


#: PG type spellings after `::` → Spark types (Spark 4 parses `::` casts
#: natively; only the PG-specific type NAMES need renaming)
_PG_CAST_TYPES = {
    "numeric": "double", "float4": "float", "float8": "double",
    "int2": "smallint", "int4": "int", "int8": "bigint",
    "text": "string", "varchar": "string", "bpchar": "string",
    "bool": "boolean",
}

_PG_CAST_RE = re.compile(
    r"::\s*(" + "|".join(_PG_CAST_TYPES)
    + r")\b(?:\s*\(\s*\d+\s*\))?", re.IGNORECASE)


def rewrite_pg_casts(sql: str) -> str:
    """`expr::text` → `expr::string` etc., outside string literals and
    quoted identifiers (ctas.test `salary::text`)."""
    if "::" not in sql:
        return sql
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if sql[j] == ch:
                    if ch == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        m = _PG_CAST_RE.match(sql, i)
        if m:
            out.append("::" + _PG_CAST_TYPES[m.group(1).lower()])
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


#: `generate_series(a, b[, step]) [AS] alias(col)` → a range() subquery
#: (reference limit.test / ctas.test FROM-clause series)
_GENSERIES_RE = re.compile(
    r"generate_series\s*\(([^()]*)\)\s*(?:AS\s+)?"
    r"(?:(\w+)\s*\(\s*(\w+)\s*\)|(\w+))?",
    re.IGNORECASE)

_GS_KEYWORDS = {"where", "group", "order", "limit", "on", "join", "inner",
                "left", "right", "full", "cross", "union", "intersect",
                "except", "qualify", "having", "as"}


def rewrite_generate_series(sql: str) -> str:
    """PG's series TVF as Spark's `range` (end-exclusive → +1). The
    column name defaults to PG's `generate_series`."""
    if "generate_series" not in sql.lower():
        return sql
    k = [0]

    def repl(m: re.Match) -> str:
        args = [a.strip() for a in m.group(1).split(",")]
        if len(args) == 2:
            a, b = args
            rng = f"range({a}, ({b})+1)"
        elif len(args) == 3:
            a, b, s = args
            rng = f"range({a}, ({b})+1, {s})"
        else:
            return m.group(0)
        alias = m.group(2) or m.group(4)
        if alias is not None and alias.lower() in _GS_KEYWORDS:
            alias = None
            trailing = " " + (m.group(2) or m.group(4))
        else:
            trailing = ""
        # PG names a set-returning function's single column after the
        # bare table alias (`... AS iq` → column iq)
        col = m.group(3) or alias or "generate_series"
        k[0] += 1
        name = alias or f"__gs{k[0]}"
        return (f"(SELECT id AS {col} FROM {rng}) AS {name}{trailing}")

    return _GENSERIES_RE.sub(repl, sql)


_VALUES_COL_RE = re.compile(r"\bcolumn(\d+)\b")


def rewrite_values_columns(sql: str) -> str:
    """PG names anonymous VALUES columns `column1..N`; Spark names them
    `col1..N` (limit.test). Applied only when the statement has a bare
    VALUES relation, so a real user column named columnN elsewhere is
    untouched."""
    if not re.search(r"\bVALUES\s*\(", sql, re.IGNORECASE):
        return sql
    if re.search(r"\)\s*(AS\s+)?\w+\s*\(", sql):  # aliased VALUES: named
        return sql
    return _VALUES_COL_RE.sub(r"col\1", sql)


_OFFSET_LIMIT_RE = re.compile(
    r"\bOFFSET\s+(\d+)\s+LIMIT\s+(\d+)", re.IGNORECASE)


def rewrite_offset_limit(sql: str) -> str:
    """PG accepts `OFFSET n LIMIT m` in either order; Spark only parses
    LIMIT-then-OFFSET (limit.test)."""
    return _OFFSET_LIMIT_RE.sub(r"LIMIT \2 OFFSET \1", sql)


_PUBLIC_SCHEMA_RE = re.compile(
    r"\b(?:public\.(?=[A-Za-z_])"
    r"|pg_catalog\.(?=pg_)"
    r"|information_schema\.(?=[a-z_]))")


def rewrite_public_schema(sql: str) -> str:
    """Schema qualifiers → the session's temp-view names: `public.t` →
    `t`, `pg_catalog.pg_x` → `pg_x`, `information_schema.columns` →
    `information_schema_columns` (the catalog's view names)."""
    low = sql.lower()
    if ("public." not in low and "pg_catalog." not in low
            and "information_schema." not in low):
        return sql
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if sql[j] == ch:
                    if ch == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        m = _PUBLIC_SCHEMA_RE.match(sql, i)
        if m and (i == 0 or not (sql[i - 1].isalnum()
                                 or sql[i - 1] in "._")):
            if m.group().lower() == "information_schema.":
                out.append("information_schema_")
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def rewrite_array_literals(sql: str) -> str:
    """PG/DuckDB ``ARRAY[a, b]`` literals → ``array(a, b)`` and 1-based
    subscripts ``expr[i]`` → ``element_at(expr, i)`` (Spark's [] is
    0-based; element_at is 1-based like PG). Token-level, bracket
    matched; applied only when the statement contains '['."""
    if "[" not in sql:
        return sql
    from serenedb_spark.plans.search_sql import Tok, _render, tokenize

    try:
        toks = tokenize(sql.strip().rstrip(";"))
    except ValueError:
        return sql
    out: list[Tok] = []
    # each stack frame: 'lit' (ARRAY literal → close with ')'),
    # 'sub' (subscript → close with ', ... )' via element_at), or
    # 'idx' (untouched bracket)
    stack: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (t.kind == "IDENT" and t.upper == "ARRAY"
                and i + 1 < len(toks) and toks[i + 1].text == "["):
            out.append(Tok("IDENT", "array"))
            out.append(Tok("OP", "("))
            stack.append("lit")
            i += 2
            continue
        if t.text == "[":
            prev = out[-1] if out else None
            if (prev is not None and prev.kind == "IDENT"
                    and len(out) >= 2 and out[-2].text == "::"):
                # `x::FLOAT[3]` — sized array cast, not a subscript
                j = i + 1
                if j < len(toks) and toks[j].kind == "NUM":
                    j += 1
                if j < len(toks) and toks[j].text == "]":
                    base = prev.text.lower()
                    out[-1] = Tok(
                        "IDENT",
                        f"array<{_PG_CAST_TYPES.get(base, base)}>")
                    i = j + 1
                    continue
            if prev is not None and (prev.kind in ("IDENT", "STR")
                                     or prev.text in (")", "]")):
                # subscript: find the operand start and wrap element_at
                if prev.text == ")":
                    depth, j = 0, len(out) - 1
                    while j >= 0:
                        if out[j].text == ")":
                            depth += 1
                        elif out[j].text == "(":
                            depth -= 1
                            if depth == 0:
                                break
                        j -= 1
                    if j > 0 and out[j - 1].kind == "IDENT":
                        j -= 1
                else:
                    j = len(out) - 1
                operand = out[j:]
                del out[j:]
                out.extend([Tok("IDENT", "element_at"), Tok("OP", "(")]
                           + operand
                           + [Tok("OP", ","), Tok("IDENT", "CAST"),
                              Tok("OP", "(")])
                stack.append("sub")
                i += 1
                continue
            out.append(Tok("IDENT", "array"))
            out.append(Tok("OP", "("))
            stack.append("lit")
            i += 1
            continue
        if t.text == "]" and stack:
            kind = stack.pop()
            if kind == "sub":
                # element_at needs an INT ordinal (bigint from range()
                # would fail the resolver): close the CAST then the call
                out.extend([Tok("IDENT", "AS"), Tok("IDENT", "INT"),
                            Tok("OP", ")"), Tok("OP", ")")])
            else:
                out.append(Tok("OP", ")") if kind == "lit" else t)
            i += 1
            continue
        out.append(t)
        i += 1
    return _render(out)


#: PG regex operators: `x ~ 'p'` is an ANCHORED full match (DuckDB
#: rewrites ~ into regexp_full_match, tsquery_match.test:1508-1563);
#: `~*` case-insensitive, `!~`/`!~*` negated (3VL: NULL stays NULL)
_PG_REGEX_OP_RE = re.compile(
    r"('(?:[^']|'')*'|[\w.\"]+|\([^()]*\))\s*(!~\*|!~|~\*|~)"
    r"\s*'((?:[^']|'')*)'")


#: `x ^@ 'p'` — PG/DuckDB starts-with operator
_CARET_AT_RE = re.compile(r"([\w.\"]+|\([^()]*\))\s*\^@\s*('(?:[^']|'')*')")


def _match_paren(s: str, k: int) -> int:
    """Index of the ')' matching the '(' at s[k], quote-aware; -1 if
    unbalanced."""
    depth = 0
    i = k
    n = len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


_ORDERED_AGG_FNS = ("list", "array_agg", "string_agg")

_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)


def rewrite_ordered_aggs(sql: str) -> str:
    """DuckDB/PG ordered aggregates — ``list(e ORDER BY k [DESC])``,
    ``array_agg(e ORDER BY k)``, ``string_agg(e, sep ORDER BY k)``
    (ts_dict.test:105) — have no Spark spelling. Lower to collecting
    (key, value) structs and sorting the array: struct comparison is
    field-by-field, so ``array_sort`` orders by the key. Bare ``list(e)``
    maps to ``collect_list(e)``."""
    low = sql.lower()
    if not any(f + "(" in low.replace(" (", "(") for f in _ORDERED_AGG_FNS):
        return sql
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if sql[j] == ch:
                    if ch == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            word = sql[i:j].lower()
            k = j
            while k < n and sql[k] in " \t\n":
                k += 1
            qualified = i > 0 and sql[i - 1] == "."
            if (word in _ORDERED_AGG_FNS and not qualified
                    and k < n and sql[k] == "("):
                close = _match_paren(sql, k)
                if close < 0:
                    out.append(sql[i:j])
                    i = j
                    continue
                inner = rewrite_ordered_aggs(sql[k + 1:close])
                m = None
                depth = 0
                for om in _ORDER_BY_RE.finditer(inner):
                    if inner[:om.start()].count("(") == \
                            inner[:om.start()].count(")"):
                        m = om
                        break
                if m is None:
                    if word == "string_agg":
                        out.append(f"string_agg({inner})")
                    elif word == "array_agg":
                        # PG array_agg KEEPS NULL elements (Spark's
                        # drops them) — collect non-null structs and
                        # unwrap (ts_dict_mixing.test:156 {x,y,NULL})
                        body = inner
                        distinct = False
                        dm = re.match(r"\s*DISTINCT\b(.*)$", body,
                                      re.IGNORECASE | re.DOTALL)
                        if dm:
                            distinct = True
                            body = dm.group(1)
                        e = (f"transform(collect_list(struct({body} "
                             f"AS _v)), _s -> _s._v)")
                        if distinct:
                            e = f"array_distinct({e})"
                        out.append(e)
                    else:
                        out.append(f"collect_list({inner})")
                else:
                    head = inner[:m.start()].rstrip().rstrip(",")
                    distinct = False
                    dm = re.match(r"\s*DISTINCT\b(.*)$", head,
                                  re.IGNORECASE | re.DOTALL)
                    if dm:
                        distinct = True
                        head = dm.group(1).strip()
                    key = inner[m.end():].strip()
                    desc = False
                    if key.upper().endswith(" DESC"):
                        desc, key = True, key[:-5].rstrip()
                    elif key.upper().endswith(" ASC"):
                        key = key[:-4].rstrip()
                    sep = None
                    if word == "string_agg":
                        # quote-aware depth-0 scan for the LAST
                        # argument comma — the separator literal
                        # usually contains one itself (', ')
                        depth0 = 0
                        split_at = None
                        k = 0
                        while k < len(head):
                            c = head[k]
                            if c == "'":
                                k += 1
                                while k < len(head):
                                    if head[k] == "'":
                                        if (k + 1 < len(head)
                                                and head[k + 1] == "'"):
                                            k += 2
                                            continue
                                        break
                                    k += 1
                            elif c == "(":
                                depth0 += 1
                            elif c == ")":
                                depth0 -= 1
                            elif c == "," and depth0 == 0:
                                split_at = k
                            k += 1
                        if split_at is None:
                            raise ValueError(
                                "string_agg requires a separator")
                        head, sep = (head[:split_at].strip(),
                                     head[split_at + 1:].strip())
                    # leading null-flag gives PG's NULLS LAST on ASC
                    # (struct fields with NULL would sort first)
                    sorted_arr = (
                        f"array_sort(collect_list(struct("
                        f"({key}) IS NULL AS _nn, {key} AS _ob, "
                        f"{head} AS _v)))")
                    if desc:
                        sorted_arr = f"reverse({sorted_arr})"
                    expr = f"transform({sorted_arr}, _s -> _s._v)"
                    if distinct:
                        expr = f"array_distinct({expr})"
                    if word == "string_agg":
                        expr = f"array_join({expr}, {sep})"
                    out.append(expr)
                i = close + 1
                continue
            out.append(sql[i:j])
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


_SIMILAR_RE = re.compile(
    r"(NOT\s+)?SIMILAR\s+TO\s+'((?:[^']|'')*)'"
    r"(?:\s+ESCAPE\s+'((?:[^']|'')*)')?", re.IGNORECASE)


def similar_to_regex_body(pat: str, esc: str | None = "\\") -> str:
    """PG's similar_escape_internal (regexp.c) re-expressed: SIMILAR TO
    pattern → regex body, in the reference's DISPLAY form where every
    regex-escaping backslash is doubled (similar.test pins the exact
    text, e.g. '....' → ``\\\\.\\\\.\\\\.\\\\.``). % and _ carry LIKE
    semantics, ``(`` opens a non-capturing group, ``[...]`` classes pass
    through, ``.`` ``\\`` ``^`` ``$`` are literals, the escape char
    quotes the next char, and escape-double-quote emits the SQL99
    substring segment markers."""
    if esc is not None and len(esc) > 1:
        raise ValueError("invalid escape string")
    if esc == "":
        esc = None
    out: list[str] = []
    incls = False
    afterescape = False
    nquotes = 0
    for ch in pat:
        if afterescape:
            if ch == '"' and not incls:
                out.append("){1,1}?(" if nquotes % 2 == 0
                           else "){1,1}(")
                nquotes += 1
            else:
                out.append("\\\\" + ("\\\\" if ch == "\\" else ch))
            afterescape = False
            continue
        if esc is not None and ch == esc:
            afterescape = True
            continue
        if incls:
            out.append(ch)
            if ch == "]":
                incls = False
            continue
        if ch == "[":
            incls = True
            out.append(ch)
        elif ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        elif ch == "(":
            out.append("(?:")
        elif ch in ".\\^$":
            out.append("\\\\" + ("\\\\" if ch == "\\" else ch))
        else:
            out.append(ch)
    return "".join(out)


#: cast spelling → PG type name, for pg_typeof's syntactic fold
_PG_TYPEOF_NAMES = {
    "bool": "boolean", "boolean": "boolean",
    "int2": "smallint", "smallint": "smallint",
    "int4": "integer", "int": "integer", "integer": "integer",
    "int8": "bigint", "bigint": "bigint",
    "float4": "real", "real": "real",
    "float8": "double precision",
    "double precision": "double precision",
    "text": "text", "varchar": "character varying",
    "bytea": "bytea", "date": "date",
    "timestamp": "timestamp without time zone",
    "timestamptz": "timestamp with time zone",
    "numeric": "numeric", "decimal": "numeric",
    "interval": "interval", "uuid": "uuid", "json": "json",
}

#: Spark typeof() result → PG name, for the non-literal fallback
_SPARK_TO_PG = [
    ("int", "integer"), ("string", "text"), ("float", "real"),
    ("double", "double precision"), ("binary", "bytea"),
    ("timestamp", "timestamp without time zone"),
    ("timestamp_ntz", "timestamp without time zone"),
]


def rewrite_pg_typeof(sql: str) -> str:
    """PG's ``pg_typeof(expr)`` (system/pg_typeof.test). A literal with
    an explicit PG cast folds to the PG type name at rewrite time
    (before the ::type renames lose the PG identity); anything else
    lowers to a CASE over Spark's typeof()."""
    if "pg_typeof" not in sql.lower():
        return sql
    out = []
    pos = 0
    low = sql.lower()
    while True:
        k = low.find("pg_typeof", pos)
        if k < 0:
            out.append(sql[pos:])
            break
        if k > 0 and (sql[k - 1].isalnum() or sql[k - 1] in "_."):
            out.append(sql[pos:k + 9])
            pos = k + 9
            continue
        p = sql.find("(", k + 9)
        if p < 0 or sql[k + 9:p].strip():
            out.append(sql[pos:k + 9])
            pos = k + 9
            continue
        close = _match_paren(sql, p)
        if close < 0:
            out.append(sql[pos:])
            break
        inner = sql[p + 1:close].strip()
        out.append(sql[pos:k])
        name = None
        if re.match(r"pg_typeof\s*\(", inner, re.IGNORECASE):
            # pg_typeof returns regtype (pg_typeof.test:180)
            name = "regtype"
            m = None
        else:
            m = re.search(r"::\s*([a-z_]+(?:\s+precision)?)\s*$",
                          inner, re.IGNORECASE)
        if m:
            name = _PG_TYPEOF_NAMES.get(" ".join(
                m.group(1).lower().split()))
        elif re.match(r"^ARRAY\s*\[", inner, re.IGNORECASE):
            elems = inner[inner.index("[") + 1:inner.rindex("]")]
            first = elems.split(",")[0].strip()
            em = re.search(r"::\s*([a-z_]+(?:\s+precision)?)\s*$",
                           first, re.IGNORECASE)
            if em:
                base = _PG_TYPEOF_NAMES.get(" ".join(
                    em.group(1).lower().split()))
            elif re.fullmatch(r"(true|false)", first, re.IGNORECASE):
                base = "boolean"
            elif re.fullmatch(r"-?\d+", first):
                base = "integer"
            elif re.fullmatch(r"-?\d*\.\d+", first):
                base = "numeric"
            elif first.startswith("'"):
                base = "text"
            else:
                base = None
            name = base + "[]" if base else None
        elif re.fullmatch(r"(true|false)", inner, re.IGNORECASE):
            name = "boolean"
        elif re.fullmatch(r"-?\d+", inner):
            name = "integer"
        elif re.fullmatch(r"-?\d*\.\d+", inner):
            name = "numeric"
        elif re.fullmatch(r"'(?:[^']|'')*'", inner):
            name = "unknown"
        if name is not None:
            out.append(f"'{name}'")
        else:
            # runtime fallback over Spark's typeof()
            branches = " ".join(
                f"WHEN '{s}' THEN '{p2}'" for s, p2 in _SPARK_TO_PG)
            out.append(
                f"(CASE typeof({inner}) {branches} "
                f"WHEN 'decimal(38,18)' THEN 'numeric' ELSE "
                f"CASE WHEN typeof({inner}) LIKE 'decimal%' "
                f"THEN 'numeric' WHEN typeof({inner}) LIKE 'array<%' "
                f"THEN concat(regexp_replace(regexp_replace("
                f"regexp_replace(regexp_replace(substring("
                f"typeof({inner}), 7, length(typeof({inner})) - 7), "
                f"'^int$', 'integer'), '^string$', 'text'), "
                f"'^double$', 'double precision'), "
                f"'^float$', 'real'), '[]') "
                f"ELSE typeof({inner}) END END)")
        # a bare SELECT item gets PG's default output name — a trailing
        # ::cast keeps it (PG titles through casts)
        pos = close + 1
        cm = re.match(r"\s*::\s*[a-z_0-9]+", sql[pos:], re.IGNORECASE)
        if cm:
            out.append(cm.group(0))
            pos += cm.end()
        after = sql[pos:].lstrip()
        before2 = sql[:k].rstrip()
        if (re.search(r"(SELECT|,)\s*$", before2, re.IGNORECASE)
                and re.match(r"($|,|;|FROM\b)", after, re.IGNORECASE)):
            out.append(" AS pg_typeof")
    return "".join(out)


def _decode_spark_literal(text: str) -> str:
    """Literal text → its string VALUE under Spark's escape rules for
    the escapes the raw-literal pre-pass produces ('' and doubled
    backslashes)."""
    return text.replace("''", "'").replace("\\\\", "\\")


def rewrite_raw_literals(sql: str) -> str:
    """PG string literals are RAW (backslash is an ordinary char);
    Spark's parser processes escapes. Double every backslash inside
    single-quoted literals so values survive verbatim through
    spark.sql (similar.test:162 'Serene\\DB'). Applied once at the
    plain-SQL door — rewrites that DECODE literal text afterwards use
    ``_decode_spark_literal``."""
    if "\\" not in sql:
        return sql
    parts = re.split(r"('(?:[^']|'')*')", sql)
    return "".join(
        p.replace("\\", "\\\\") if i % 2 == 1 else p
        for i, p in enumerate(parts))


_SIMILAR_ESCAPE_FN_RE = re.compile(
    r"\bsimilar_to_escape\s*\(\s*'((?:[^']|'')*)'"
    r"(?:\s*,\s*'((?:[^']|'')*)')?\s*\)",
    re.IGNORECASE)


def rewrite_similar_to_escape(sql: str) -> str:
    """Constant-fold ``similar_to_escape('pat'[, 'esc'])`` — PG's
    pattern→regex rendering function (similar.test) — into a string
    literal. The display form's backslashes double again so the Spark
    literal parses back to the pinned text."""
    if "similar_to_escape" not in sql.lower():
        return sql

    def sub(m: re.Match) -> str:
        pat = _decode_spark_literal(m.group(1))
        esc = m.group(2)
        esc = "\\" if esc is None else _decode_spark_literal(esc)
        body = f"^(?:{similar_to_regex_body(pat, esc)})$"
        lit = body.replace("\\", "\\\\").replace("'", "''")
        return f"'{lit}' AS similar_to_escape"

    # only fold when the call is a bare top-level SELECT item (needs
    # the alias); inside an expression fold without the alias
    def sub_inner(m: re.Match) -> str:
        pat = _decode_spark_literal(m.group(1))
        esc = m.group(2)
        esc = "\\" if esc is None else _decode_spark_literal(esc)
        body = f"^(?:{similar_to_regex_body(pat, esc)})$"
        lit = body.replace("\\", "\\\\").replace("'", "''")
        return f"'{lit}'"

    out = []
    last = 0
    for m in _SIMILAR_ESCAPE_FN_RE.finditer(sql):
        out.append(sql[last:m.start()])
        before = sql[:m.start()].rstrip()
        after = sql[m.end():].lstrip()
        bare = (re.search(r"(SELECT|,)\s*$", before, re.IGNORECASE)
                and re.match(r"($|,|FROM\b|;)", after, re.IGNORECASE))
        out.append(sub(m) if bare else sub_inner(m))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def rewrite_similar_to(sql: str) -> str:
    """PG ``expr SIMILAR TO 'pat' [ESCAPE 'e']`` — an ANCHORED regex
    where % and _ carry LIKE semantics
    (ts_dict_residual_filter_complex.test:848, similar.test)."""
    if "similar" not in sql.lower():
        return sql

    def sub(m: re.Match) -> str:
        esc = m.group(3)
        esc = "\\" if esc is None else _decode_spark_literal(esc)
        pat = similar_to_regex_body(
            _decode_spark_literal(m.group(2)), esc)
        # the display form's doubled backslashes parse back to single
        # at Spark's literal layer — exactly the regex PG would run
        pat = pat.replace("'", "''")
        neg = "NOT " if m.group(1) else ""
        return f"{neg}RLIKE '^(?:{pat})$'"

    parts = re.split(r"('(?:[^']|'')*')", sql)
    # operate on operator-then-literal runs like the regex-op rewrite;
    # an ESCAPE clause spans two more segments (` ESCAPE `, literal)
    out = []
    i = 0
    while i < len(parts):
        seg = parts[i]
        if (i % 2 == 0 and i + 1 < len(parts)
                and re.search(r"SIMILAR\s+TO\s*$", seg,
                              re.IGNORECASE)):
            combined = seg + parts[i + 1]
            step = 2
            if (i + 3 < len(parts)
                    and re.fullmatch(r"\s*ESCAPE\s*", parts[i + 2],
                                     re.IGNORECASE)):
                combined += parts[i + 2] + parts[i + 3]
                step = 4
            combined = _SIMILAR_RE.sub(sub, combined)
            out.append(combined)
            i += step
            continue
        out.append(seg)
        i += 1
    return "".join(out)


_GLOB_OP_RE = re.compile(
    r"('(?:[^']|'')*'|[\w.\"]+|\([^()]*\))\s+GLOB\s+'((?:[^']|'')*)'",
    re.IGNORECASE)


def glob_to_regex_body(pat: str) -> str:
    """DuckDB GLOB pattern → regex body: ``*`` any run, ``?`` one char,
    ``[!a-z]`` negated class, other regex metas literal (backslashes
    doubled for the Spark literal layer)."""
    out: list[str] = []
    k = 0
    n = len(pat)
    while k < n:
        ch = pat[k]
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch == "[":
            j = k + 1
            neg = j < n and pat[j] == "!"
            if neg:
                j += 1
            body_start = j
            while j < n and pat[j] != "]":
                j += 1
            cls = pat[body_start:j]
            out.append("[^" + cls + "]" if neg else "[" + cls + "]")
            k = j
        elif ch in ".\\^$+(){}|":
            out.append("\\\\" + ("\\\\" if ch == "\\" else ch))
        else:
            out.append(ch)
        k += 1
    return "".join(out)


def rewrite_glob_op(sql: str) -> str:
    """``expr GLOB 'pattern'`` (DuckDB/SQLite) → anchored RLIKE
    (site_docs/sql/functions/pattern_matching)."""
    if not re.search(r"\bGLOB\b", sql, re.IGNORECASE):
        return sql

    def sub(m: re.Match) -> str:
        pat = glob_to_regex_body(
            _decode_spark_literal(m.group(2))).replace("'", "''")
        return f"{m.group(1)} RLIKE '^(?:{pat})$'"

    parts = re.split(r"('(?:[^']|'')*')", sql)
    out = []
    i = 0
    while i < len(parts):
        seg = parts[i]
        if (i % 2 == 0 and i + 1 < len(parts)
                and re.search(r"\bGLOB\s*$", seg, re.IGNORECASE)):
            prefix = ""
            if (re.fullmatch(r"\s*GLOB\s*", seg, re.IGNORECASE)
                    and out and i >= 2):
                # literal LHS sits in the PREVIOUS segment
                prefix = out.pop()
            combined = prefix + seg + parts[i + 1]
            out.append(_GLOB_OP_RE.sub(sub, combined))
            i += 2
            continue
        out.append(seg)
        i += 1
    return "".join(out)


_TS_SPLIT_RE = re.compile(r"\bts_split_by_non_alpha\s*\(", re.IGNORECASE)


def rewrite_ts_split(sql: str) -> str:
    """``ts_split_by_non_alpha(col[, to_lower])`` — the reference's cheap
    tokenizer fn (server/connector/functions/split_by_non_alpha.cpp:164)
    — as a pure column expression: split on non-alpha runs, drop
    empties, optionally lowercase."""
    while True:
        m = _TS_SPLIT_RE.search(sql)
        if m is None:
            return sql
        close = _match_paren(sql, m.end() - 1)
        if close < 0:
            return sql
        inner = sql[m.end():close]
        depth = 0
        split_at = None
        for i, c in enumerate(inner):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 0:
                split_at = i
                break
        if split_at is None:
            col, to_lower = inner.strip(), False
        else:
            col = inner[:split_at].strip()
            to_lower = inner[split_at + 1:].strip().lower() in (
                "true", "1", "t")
        expr = f"filter(split({col}, '[^A-Za-z]+'), _t -> _t != '')"
        if to_lower:
            expr = f"transform({expr}, _t -> lower(_t))"
        sql = sql[:m.start()] + expr + sql[close + 1:]


def rewrite_pg_regex_ops(sql: str) -> str:
    def sub(m: re.Match) -> str:
        lhs, op, pat = m.group(1), m.group(2), m.group(3)
        flags = "(?i)" if op.endswith("*") else ""
        # PG `~` matches ANYWHERE in the string (unanchored), exactly
        # like Spark's RLIKE (ts_dict_residual_filter_complex.test:803
        # `svc ~ '^front'` is a prefix match)
        expr = f"{lhs} RLIKE '{flags}{pat}'"
        return f"NOT ({expr})" if op.startswith("!") else expr

    # quote-aware: a literal like 'a ~ ''x''' must not be rewritten —
    # only segments outside string literals are candidates. The regex
    # RHS pattern ('...') sits in the segment FOLLOWING the operator
    # split, so re-join operator-segment with its literal before sub.
    if not re.search(r"[~^]", sql):
        return sql
    parts = re.split(r"('(?:[^']|'')*')", sql)
    out: list[str] = []
    i = 0
    while i < len(parts):
        seg = parts[i]
        if i % 2 == 1:                 # a string literal segment
            out.append(seg)
            i += 1
            continue
        # does this non-literal segment END with a regex/startswith
        # operator whose RHS is the next literal segment?
        m = re.search(r"(!~\*|!~|~\*|~|\^@)\s*$", seg)
        if m and i + 1 < len(parts):
            prefix = ""
            if (re.fullmatch(r"\s*(!~\*|!~|~\*|~|\^@)\s*", seg)
                    and out and i >= 2):
                # a string-literal LHS sits in the PREVIOUS segment
                # ('Serene.DB' ~ 'Serene\.DB', similar.test)
                prefix = out.pop()
            combined = prefix + seg + parts[i + 1]
            combined = _CARET_AT_RE.sub(r"startswith(\1, \2)", combined)
            combined = _PG_REGEX_OP_RE.sub(sub, combined)
            out.append(combined)
            i += 2
            continue
        out.append(seg)
        i += 1
    return "".join(out)


#: PG/DuckDB `^` is exponentiation (Spark's is XOR) — rewrite simple
#: operand forms; tsquery boost `^` never reaches this path (search
#: statements route through the search parser first)
#: one exponent operand: number, simple call `abs(x)`, identifier, or a
#: bare paren group NOT preceded by an identifier (so `abs(x)^2` binds
#: the whole call, never just `(x)`)
_POW_OPERAND = (r"(?:\d+(?:\.\d+)?"
                r"|[\w.\"]+\([^()]*\)"
                r"|[\w.\"]+"
                r"|(?<![\w.\"])\([^()]*\))")

_CARET_CHAIN_RE = re.compile(
    rf"({_POW_OPERAND})(?:\s*\^\s*-?{_POW_OPERAND})+")


def _fold_pow_chain(m: re.Match) -> str:
    """`a^b^c` → left-associative `power(power(a, b), c)`; split on `^`
    at paren depth 0 so `(a^b)^2`'s inner caret stays for the next
    fixpoint pass."""
    text = m.group(0)
    parts: list[str] = []
    depth = 0
    start = 0
    for i, c in enumerate(text):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "^" and depth == 0:
            parts.append(text[start:i].strip())
            start = i + 1
    parts.append(text[start:].strip())
    acc = parts[0]
    for p in parts[1:]:
        acc = f"power({acc}, {p})"
    return acc


def rewrite_caret_power(sql: str) -> str:
    # quote-aware: only segments outside string literals rewrite; the
    # fixpoint loop lets carets nested inside paren operands rewrite on
    # a later pass
    if "^" not in sql:
        return sql
    parts = re.split(r"('(?:[^']|'')*')", sql)
    for i in range(0, len(parts), 2):
        seg, prev = parts[i], None
        while prev != seg:
            prev = seg
            seg = _CARET_CHAIN_RE.sub(_fold_pow_chain, seg)
        parts[i] = seg
    return "".join(parts)


_ORDER_BY_POS_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)

_ORDER_TERMINATORS = {"LIMIT", "OFFSET", "FETCH", "FOR", "UNION",
                      "INTERSECT", "EXCEPT", "ROWS", "RANGE", "GROUPS"}


def rewrite_order_nulls(sql: str) -> str:
    """PG sorts NULLS LAST on ASC and NULLS FIRST on DESC; Spark does
    the opposite (ts_dict_view.test:56 `ORDER BY n DESC, b`). Make the
    PG default explicit on every ORDER BY key that doesn't already
    state a NULLS direction."""
    if "order" not in sql.lower():
        return sql
    for m in reversed(list(_ORDER_BY_POS_RE.finditer(sql))):
        start = m.end()
        n = len(sql)
        depth = 0
        i = start
        end = n
        while i < n:
            c = sql[i]
            if c == "'":
                i += 1
                while i < n:
                    if sql[i] == "'":
                        if i + 1 < n and sql[i + 1] == "'":
                            i += 2
                            continue
                        break
                    i += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif depth == 0 and (c.isalpha() or c == "_"):
                w = re.match(r"[A-Za-z_]+", sql[i:]).group(0)
                if w.upper() in _ORDER_TERMINATORS:
                    end = i
                    break
                i += len(w) - 1
            i += 1
        clause = sql[start:end]
        items: list[str] = []
        d2 = 0
        cur = []
        for ch in clause:
            if ch == "(":
                d2 += 1
            elif ch == ")":
                d2 -= 1
            if ch == "," and d2 == 0:
                items.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        items.append("".join(cur))
        out_items = []
        for it in items:
            s = it.strip()
            if not s or re.search(r"\bNULLS\s+(FIRST|LAST)\b", s,
                                  re.IGNORECASE):
                out_items.append(s)
            elif re.search(r"\bDESC\s*$", s, re.IGNORECASE):
                out_items.append(s + " NULLS FIRST")
            else:
                out_items.append(s + " NULLS LAST")
        sql = (sql[:start] + " " + ", ".join(out_items)
               + (" " if end < n else "") + sql[end:])
    return sql


def rewrite_bare_fn_alias(sql: str) -> str:
    """PG titles an unaliased single-call select item by the function's
    name (`SELECT list_sort(...)` → column ``list_sort``,
    ts_dict_array_agg.test:80); Spark titles it by the full expression
    text — which the expression rewrites then mangle further. Alias such
    items up front."""
    mm = re.match(r"(\s*SELECT\s+)(.*)$", sql, re.IGNORECASE | re.DOTALL)
    if mm is None or re.match(r"\s*DISTINCT\b", mm.group(2),
                              re.IGNORECASE):
        return sql
    head, rest = mm.group(1), mm.group(2)
    depth = 0
    i = 0
    n = len(rest)
    frm = n
    while i < n:
        c = rest[i]
        if c == "'":
            i += 1
            while i < n:
                if rest[i] == "'":
                    if i + 1 < n and rest[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (depth == 0 and rest[i:i + 4].upper() == "FROM"
              and (i == 0 or not (rest[i - 1].isalnum()
                                  or rest[i - 1] == "_"))
              and (i + 4 >= n or not (rest[i + 4].isalnum()
                                      or rest[i + 4] == "_"))):
            frm = i
            break
        i += 1
    items_txt = rest[:frm]
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    j = 0
    while j < len(items_txt):
        c = items_txt[j]
        if c == "'":
            k = j + 1
            while k < len(items_txt):
                if items_txt[k] == "'":
                    if k + 1 < len(items_txt) and items_txt[k + 1] == "'":
                        k += 2
                        continue
                    break
                k += 1
            cur.append(items_txt[j:k + 1])
            j = k + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        j += 1
    parts.append("".join(cur))
    out_parts: list[str] = []
    for p in parts:
        s = p.strip()
        m2 = re.match(r"([A-Za-z_]\w*)\s*\(", s)
        if (m2 and m2.group(1).lower() not in ("cast",)
                and _match_paren(s, s.index("(", m2.start())) ==
                len(s) - 1):
            out_parts.append(f"{p.rstrip()} AS {m2.group(1).lower()}")
        else:
            out_parts.append(p)
    return head + ",".join(out_parts) + " " + rest[frm:]


_READ_PARQUET_RE = re.compile(
    r"\bread_parquet\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE)
_READ_CSV_RE = re.compile(
    r"\bread_csv(?:_auto)?\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE)


_GLOB_TVF_RE = re.compile(
    r"\bglob\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE)


def _glob_tvf(m: re.Match) -> str:
    """``FROM glob('pattern')`` → inline VALUES of matching paths, one
    ``file`` column (site_docs pattern_matching example_011). The glob
    itself is driver-side metadata work — the same listing Spark's own
    file sources do on the driver."""
    import glob as _glob

    files = sorted(_glob.glob(m.group(1), recursive=True))
    if not files:
        return ("(SELECT CAST(NULL AS STRING) AS file "
                "WHERE false) AS glob")
    vals = ", ".join(
        "('" + f.replace("'", "''") + "')" for f in files)
    return f"(VALUES {vals}) AS glob(file)"


_EQ_ANY_RE = re.compile(
    r"([\w.\"]+)\s*=\s*ANY\s*\(\s*(?!SELECT\b)([\w.\"]+)\s*\)",
    re.IGNORECASE)


def rewrite_eq_any(sql: str) -> str:
    """PG ``x = ANY(array_col)`` over an ARRAY operand →
    array_contains; subquery ANY stays Spark-native
    (catalog_introspection.test attnum = ANY(indkey))."""
    if not re.search(r"=\s*ANY\s*\(", sql, re.IGNORECASE):
        return sql
    return _EQ_ANY_RE.sub(r"array_contains(\2, \1)", sql)


def rewrite_quote_ident(sql: str) -> str:
    """PG quote_ident/quote_literal as runtime expressions
    (catalog_introspection.test explorer SQL)."""
    low = sql.lower()
    if "quote_ident" not in low and "quote_literal" not in low:
        return sql
    out = []
    pos = 0
    pat = re.compile(r"\b(quote_ident|quote_literal)\s*\(",
                     re.IGNORECASE)
    while True:
        m = pat.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            break
        close = _match_paren(sql, m.end() - 1)
        if close < 0:
            out.append(sql[pos:])
            break
        inner = sql[m.end():close]
        out.append(sql[pos:m.start()])
        if m.group(1).lower() == "quote_ident":
            out.append(
                f"(CASE WHEN ({inner}) RLIKE '^[a-z_][a-z0-9_]*$' "
                f"THEN ({inner}) ELSE concat('\"', "
                f"replace(({inner}), '\"', '\"\"'), '\"') END)")
        else:
            out.append(
                f"concat(\"'\", replace(({inner}), \"'\", \"''\"), "
                f"\"'\")")
        pos = close + 1
    return "".join(out)


def rewrite_read_files(sql: str) -> str:
    """DuckDB's file-reading TVFs → Spark's path-table syntax
    (inverted_index_view_isolation.test read_parquet)."""
    sql = _READ_PARQUET_RE.sub(lambda m: f"parquet.`{m.group(1)}`", sql)
    sql = _READ_CSV_RE.sub(lambda m: f"csv.`{m.group(1)}`", sql)
    if re.search(r"\bFROM\s+glob\s*\(", sql, re.IGNORECASE):
        sql = _GLOB_TVF_RE.sub(_glob_tvf, sql)
    return sql


def compat_fragment(sql: str) -> str:
    """The expression-level dialect shims (fn renames, casts, regex
    ops, caret power, ordered aggs) for SQL fragments that run through
    F.expr/selectExpr instead of sql_compat (ts_dict residuals)."""
    return rewrite_ordered_aggs(rewrite_ts_split(rewrite_pg_regex_ops(
        rewrite_caret_power(rewrite_pg_casts(rewrite_fn_renames(sql))))))


_ACL_CAST_RE = re.compile(
    r"((?:[A-Za-z_]\w*\.)?"
    r"(?:relacl|attacl|datacl|proacl|nspacl|defaclacl|spcacl))"
    r"\s*::\s*text(\s*\[\s*\])?", re.IGNORECASE)


def rewrite_acl_casts(sql: str) -> str:
    """acl columns are array<string> of aclitem texts: `::text[]` is a
    no-op; `::text` renders PG's `{a,b}` aggregate text form
    (any/pg/rbac/cp_column_grant_matrix.test attacl::text)."""
    if "acl::" not in sql.lower().replace(" ", ""):
        return sql

    def sub(m):
        col = m.group(1)
        if m.group(2):                  # ::text[] — already the array
            return col
        return (f"(CASE WHEN {col} IS NULL THEN NULL ELSE "
                f"concat('{{', array_join({col}, ','), '}}') END)")
    return _ACL_CAST_RE.sub(sub, sql)


_LATERAL_UNNEST_RE = re.compile(
    r",\s*LATERAL\s+(?:unnest|explode)\s*\(([^()]*)\)\s*"
    r"(WITH\s+ORDINALITY\s+)?"
    r"(?:AS\s+)?(\w+)(?:\s*\(\s*(\w+)(?:\s*,\s*(\w+))?\s*\))?",
    re.IGNORECASE)


def rewrite_lateral_unnest(sql: str) -> str:
    """PG `FROM t, LATERAL unnest(arr) AS e` → Spark LATERAL VIEW
    (cat_role_attrs_vedernikoff.test pg_db_role_setting walk). `AS e`
    names the COLUMN in PG when unnest yields scalars; `AS t(c)` names
    table and column; `WITH ORDINALITY u(e, ord)` adds the 1-based
    position via posexplode."""
    if not re.search(r"\bLATERAL\s+(unnest|explode)\s*\(", sql,
                     re.IGNORECASE):
        return sql

    ord_col = [None]

    def sub(m):
        col = m.group(4) or m.group(3)
        if m.group(2):                      # WITH ORDINALITY
            ord_col[0] = m.group(5) or "ordinality"
            return (f" LATERAL VIEW posexplode({m.group(1)}) "
                    f"_sdb_unnest AS _sdb_ord0, {col}")
        return (f" LATERAL VIEW explode({m.group(1)}) "
                f"_sdb_unnest AS {col}")
    sql = _LATERAL_UNNEST_RE.sub(sub, sql)
    if ord_col[0]:
        def osub(mm):
            before = sql0[:mm.start()].rstrip()
            after = sql0[mm.end():].lstrip()
            rep = "(_sdb_ord0 + 1)"
            if (re.search(r"(SELECT|,)\s*$", before, re.IGNORECASE)
                    and re.match(r"($|,|;|FROM\b)", after,
                                 re.IGNORECASE)):
                return f"{rep} AS {ord_col[0]}"
            return rep
        sql0 = sql
        sql = re.sub(rf"(?<![\w.']){ord_col[0]}\b", osub, sql)
    return sql


def sql_compat(spark: SparkSession, sql: str) -> DataFrame:
    """Run SQL with the dialect shims applied."""
    sql = rewrite_acl_casts(rewrite_lateral_unnest(sql))
    lowered = rewrite_qualify(rewrite_fn_renames(
        rewrite_generate_series(rewrite_pg_casts(
            rewrite_values_columns(rewrite_offset_limit(
                rewrite_public_schema(rewrite_array_literals(
                    rewrite_order_nulls(rewrite_ordered_aggs(
                        rewrite_ts_split(rewrite_pg_regex_ops(
                            rewrite_similar_to(rewrite_glob_op(rewrite_quote_ident(rewrite_eq_any(
                                rewrite_similar_to_escape(
                                    rewrite_caret_power(
                                        rewrite_read_files(
                                            rewrite_bare_fn_alias(
                                                rewrite_pg_typeof(
                                                    sql)))))))))))))))))))))
    return spark.sql(lowered)
