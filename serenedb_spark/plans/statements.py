"""Statement-level SQL door — the rest of the reference's PG surface.

The reference's end-user interface is SQL text only: its sqllogic suites
drive a live session with CREATE TABLE / INSERT / UPDATE / DELETE /
BEGIN / SET / SHOW / GRANT / ALTER / EXPLAIN statements
(tests/sqllogic/sdb/pg/simple/search_table.test,
tests/sqllogic/sdb/pg/explain/{basic,delete,insert,update}.test,
tests/sqllogic/any/pg/ddl/, tests/sqllogic/any/pg/txn/). The SELECT
half of that surface (search dialect, set ops, subqueries, index DDL)
already lives in plans/search_sql.py; this module parses every other
statement form and routes it onto the session's existing engine methods
(constraint-checked DML, transactional catalog snapshots, RBAC,
engine variables) so a reference user can drive the whole engine through
``session.sql()`` strings.

Everything stays declarative and distributed: a VALUES list becomes a
Spark inline ``VALUES`` relation, ``INSERT ... SELECT`` reuses the full
SELECT door (search constructs included), and UPDATE/DELETE with an
``@@`` predicate resolve the claimed match set through the inverted
index and apply it as a primary-key semi-/anti-join — no driver-side
row loop at any size.
"""

from __future__ import annotations

import re
import time

from pyspark.sql import DataFrame, functions as F

from serenedb_spark.plans.search_sql import (
    Tok,
    _find_clause,
    _render,
    _rewrite_casts,
    _split_top,
    _Stream,
    _unquote,
    has_search_construct,
    tokenize,
)
from serenedb_spark.sources.local import local_frame

# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

#: PG type spellings → Spark SQL DDL types (reference sqllogic CREATE
#: TABLE forms; NUMERIC/DECIMAL keep their (p,s) arguments verbatim)
_PG_TYPE_MAP = {
    "INTEGER": "int", "INT": "int", "INT4": "int",
    "SMALLINT": "smallint", "INT2": "smallint",
    "BIGINT": "bigint", "INT8": "bigint",
    "SERIAL": "int", "BIGSERIAL": "bigint", "SMALLSERIAL": "smallint",
    "TEXT": "string", "VARCHAR": "string", "CHAR": "string",
    "CHARACTER": "string", "BPCHAR": "string", "STRING": "string",
    "DOUBLE": "double", "FLOAT8": "double", "FLOAT": "double",
    "REAL": "float", "FLOAT4": "float",
    "BOOLEAN": "boolean", "BOOL": "boolean",
    "DATE": "date", "TIMESTAMP": "timestamp", "TIMESTAMPTZ": "timestamp",
    "NUMERIC": "decimal", "DECIMAL": "decimal",
    "HUGEINT": "decimal(38,0)", "UBIGINT": "decimal(20,0)",
    "UINTEGER": "bigint", "USMALLINT": "int", "UTINYINT": "smallint",
    "TINYINT": "tinyint", "INT1": "tinyint",
    "BLOB": "binary",
    "INTERVAL": "string", "TIME": "string",
    "JSON": "string", "JSONB": "string", "UUID": "string",
    "BYTEA": "binary",
    # geometry carries WKT/GeoJSON text (functions/geometry.py parses)
    "GEOMETRY": "string", "GEOGRAPHY": "string",
    "TSQUERY": "string", "TSVECTOR": "string",
}

_DML_VERBS = ("INSERT", "UPDATE", "DELETE", "TRUNCATE")


def _rewrite_arrays(toks: list[Tok]) -> list[Tok]:
    """PG ``ARRAY[a, b]`` and DuckDB bare ``[a, b]`` literals → Spark
    ``array(a, b)`` (bracket-matched, so nested literals and index
    brackets elsewhere are untouched). A ``[`` is a LITERAL opener when
    it does not follow a value (identifier/literal/closing bracket) —
    otherwise it is indexing."""
    out: list[Tok] = []
    stack: list[bool] = []  # True = this '[' came from an ARRAY literal
    i = 0
    while i < len(toks):
        t = toks[i]
        if (t.kind == "IDENT" and t.upper == "ARRAY"
                and i + 1 < len(toks) and toks[i + 1].text == "["):
            out.append(Tok("IDENT", "array"))
            out.append(Tok("OP", "("))
            stack.append(True)
            i += 2
            continue
        if t.text == "[":
            prev = out[-1] if out else None
            if prev is None or (prev.kind == "OP"
                                and prev.text not in (")", "]")):
                out.append(Tok("IDENT", "array"))
                out.append(Tok("OP", "("))
                stack.append(True)
                i += 1
                continue
        if t.text == "[":
            stack.append(False)
            out.append(t)
        elif t.text == "]":
            if stack and stack.pop():
                out.append(Tok("OP", ")"))
            else:
                out.append(t)
        else:
            out.append(t)
        i += 1
    return out


def _rewrite_usertypes(toks: list[Tok], session) -> list[Tok]:
    """ROW(...) → struct(...), `x::enumtype` → x, `x::composite` →
    `x::struct<...>` (ddl/composite.test INSERT bodies)."""
    if session is None:
        return toks
    etypes = session._enum_types
    ctypes = session._composite_types
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (t.kind == "IDENT" and t.upper == "ROW"
                and i + 1 < len(toks) and toks[i + 1].text == "("):
            out.append(Tok("IDENT", "struct"))
            i += 1
            continue
        if (t.text == "::" and i + 1 < len(toks)
                and toks[i + 1].kind == "IDENT"):
            nm = toks[i + 1].text
            nm = nm if (nm in etypes or nm in ctypes) else nm.lower()
            if nm in etypes:
                i += 2  # enum cast: the label string IS the value
                continue
            if nm in ctypes:
                out.append(t)
                out.append(Tok("IDENT", _composite_ddl(session, nm)))
                i += 2
                continue
        out.append(t)
        i += 1
    return out


def _pg_literals(toks: list[Tok]) -> list[Tok]:
    """PG string literals are RAW (no backslash escapes); Spark treats
    backslash as an escape — double them so `'path\\to'` survives
    verbatim (composite.test messy_record rows)."""
    return [Tok("STR", t.text.replace("\\", "\\\\"))
            if t.kind == "STR" and "\\" in t.text else t
            for t in toks]


def _expr_sql(toks: list[Tok], session=None) -> str:
    """Render an expression token span as Spark-compatible SQL text."""
    return _render(_rewrite_casts(
        _rewrite_usertypes(_rewrite_arrays(_pg_literals(toks)),
                           session)))


def _plan_df(session, lines: list[str]) -> DataFrame:
    """Rows of plan text under PG's ``QUERY PLAN`` column name."""
    return local_frame(session.spark, "`QUERY PLAN` string",
                       [{"QUERY PLAN": ln} for ln in lines])


def _status_df(session, tag: str, detail: str = "") -> DataFrame:
    return local_frame(session.spark, "status string, detail string",
                       [{"status": tag, "detail": detail}])


def _text_reply(session, name: str, val: str | None) -> DataFrame:
    """One string value under column `name` (a scalar fold, SHOW)."""
    return local_frame(session.spark, f"{name} string", [{name: val}])


def _ident(ts: _Stream) -> str:
    t = ts.next()
    if t.kind == "STR":
        return _unquote(t.text)
    if t.text.startswith('"') and t.text.endswith('"'):
        return t.text[1:-1]
    low = t.text.lower()
    if low.startswith(("public.", "main.")):
        # PG's default schema qualifier: our catalog is single-schema
        # (truncate.test TRUNCATE public.gayazov)
        return t.text.split(".", 1)[1]
    return t.text


def _literal_value(tok: Tok):
    """A single literal token → python value (SET arguments)."""
    if tok.kind == "STR":
        return _unquote(tok.text)
    if tok.text.startswith('"') and tok.text.endswith('"'):
        return tok.text[1:-1].replace('""', '"')
    if tok.kind == "NUM":
        return float(tok.text) if "." in tok.text else int(tok.text)
    low = tok.text.lower()
    if low in ("on", "true", "yes"):
        return True
    if low in ("off", "false", "no"):
        return False
    return tok.text


# --------------------------------------------------------------------------
# the router
# --------------------------------------------------------------------------

def route_statement(session, sql: str) -> DataFrame | None:
    """Parse-and-execute a non-SELECT statement; None = not ours (the
    caller falls through to the SELECT/search door)."""
    s = sql.strip().rstrip(";").strip()
    if not s:
        return None
    head = re.match(r"[A-Za-z_]+", s)
    if head is None:
        return None
    kw = head.group().upper()
    if kw in ("BEGIN", "START", "COMMIT", "END", "ROLLBACK", "ABORT"):
        return _txn(session, kw, s)
    if kw == "CHECKPOINT":
        # durability flush: the shared store IS the durable layer, so
        # a checkpoint has nothing left to write
        # (recovery/catalog_ddl_attributes.test)
        return _status_df(session, "CHECKPOINT")
    if kw == "PREPARE":
        return _prepare(session, s)
    if kw == "EXECUTE":
        return _execute(session, s)
    if kw == "DEALLOCATE":
        return _deallocate(session, s)
    if kw == "DISCARD":
        # pooled-driver reset (settings/discard.test): every variant
        # collapses to DEALLOCATE ALL — the engine has no temp tables or
        # session sequences, so the prepared cache is the only state
        target = (s.split(None, 1)[1].strip().upper()
                  if len(s.split(None, 1)) > 1 else "")
        if target not in ("ALL", "PLANS", "SEQUENCES", "TEMP",
                          "TEMPORARY"):
            raise ValueError(f'syntax error at or near "{target}"')
        session._prepared.clear()
        return _status_df(session, "DISCARD", target)
    if kw == "USE":
        target = s.split(None, 1)[-1].strip().rstrip(";")
        if (target in ("serene", "$__DATABASE__",
                       session._current_db)
                and target not in session._schemas
                and (session._databases == {"serene": None}
                     or target == session._current_db)):
            # single-database default (the registry never changed) /
            # USE of the CURRENT database (the docs tests' USE
            # $__DATABASE__): a no-op
            return _status_df(session, "USE", target)
        if "." in target:
            db, schema = target.split(".", 1)
            session.use_database(db)
            if schema not in session._schemas:
                raise ValueError(f'schema "{schema}" does not exist')
            session._current_schema = schema
            session._pg_vars_store["search_path"] = schema
        elif target in session._schemas:
            # a schema in the current database wins over a database of
            # the same name (use/index.test example_005)
            session._current_schema = target
            session._pg_vars_store["search_path"] = target
        else:
            session.use_database(target)
            session._current_schema = "public"
            session._pg_vars_store["search_path"] = '"$user", public'
        return _status_df(session, "USE", target)
    if kw in ("CREATE", "DROP") and re.match(
            r"\s*(CREATE|DROP)\s+DATABASE\b", s, re.IGNORECASE):
        toks2 = s.split()
        j = 2
        if_clause = False
        if kw == "CREATE" and [w.upper() for w in toks2[2:5]] == \
                ["IF", "NOT", "EXISTS"]:
            if_clause = True
            j = 5
        elif kw == "DROP" and [w.upper() for w in toks2[2:4]] == \
                ["IF", "EXISTS"]:
            if_clause = True
            j = 4
        name = toks2[j].rstrip(";")
        if kw == "CREATE":
            session.create_database(name, if_not_exists=if_clause)
        else:
            session.drop_database(name, if_exists=if_clause)
        return _status_df(session, f"{kw} DATABASE", name)
    if kw in ("SAVEPOINT", "RELEASE"):
        # the reference has no savepoint executor and fails these with a
        # clean syntax error (transaction_control.test:11-28)
        parts = s.split()
        near = parts[1] if len(parts) > 1 else parts[0]
        raise ValueError(f'syntax error at or near "{near}"')
    if kw == "SET":
        return _set(session, s)
    if kw == "RESET":
        return _reset(session, s)
    if kw == "SHOW":
        return _show(session, s)
    if kw == "EXPLAIN":
        return _explain(session, s)
    if kw == "INSERT":
        return _insert(session, s)
    if kw == "UPDATE":
        return _update(session, s)
    if kw == "DELETE":
        return _delete(session, s)
    if kw == "TRUNCATE":
        return _truncate(session, s)
    if kw == "GRANT":
        return _grant(session, s, revoke=False)
    if kw == "REVOKE":
        return _grant(session, s, revoke=True)
    if kw == "REASSIGN":
        # REASSIGN OWNED BY a TO b — ownership transfer
        ts2 = _Stream(tokenize(s))
        ts2.expect("REASSIGN"); ts2.expect("OWNED"); ts2.expect("BY")
        olds = [_ident(ts2)]
        while ts2.match(","):
            olds.append(_ident(ts2))
        ts2.expect("TO")
        new = _ident(ts2)
        owners = session._owners
        for t, o in list(owners.items()):
            if o in olds:
                owners[t] = new
        return _status_df(session, "REASSIGN OWNED", new)
    if kw in ("CREATE", "DROP") and \
            session._txn_backup is not None and \
            session.show_variable("sdb_strict_ddl"):
        # strict mode refuses DDL inside a block with the reference's
        # wording (recovery/ddl_in_transaction.test:60)
        raise ValueError(
            "DDL statements are not supported inside a transaction "
            "block: DDL commits immediately and cannot be rolled back "
            "(sdb_strict_ddl is enabled)")
    if kw == "CREATE":
        return _create(session, s)
    if kw == "DROP":
        return _drop(session, s)
    if kw == "ALTER":
        return _alter(session, s)
    if kw == "ANALYZE":
        return _analyze(session, s)
    if kw == "VACUUM":
        return _vacuum(session, s)
    if kw == "COMMENT":
        return _comment(session, s)
    if kw == "COPY":
        return _copy(session, s)
    if kw == "SELECT":
        sv = _scalar_seq_select(session, s)
        if sv is not None:
            return sv
        sv = _scalar_highlight(session, s)
        if sv is not None:
            return sv
        sv = _scalar_highlight_dict(session, s)
        if sv is not None:
            return sv
        sv = _scalar_ts_offsets(session, s)
        if sv is not None:
            return sv
        if _hl_nonconst_opts(s):
            # per-row options would silently fall through to defaults —
            # refuse at bind time (headline.test:195)
            raise ValueError(
                "ts_highlight: options must be a constant expression")
        if _hl_nonconst_dict(s):
            raise ValueError(
                "ts_highlight: dictionary name must be a constant "
                "expression")  # headline.test:932
        sv = _inline_seq_select(session, s)
        if sv is not None:
            return sv
        if re.search(r"\bINTO\b", s, re.IGNORECASE):
            return _select_into(session, s)
    return None


#: a ts_highlight text argument: quoted literals and chr(n) calls joined
#: by || (headline.test 'kraan' || chr(10) || '...')
_HL_TEXT = (r"(?:'(?:[^']|'')*'|chr\(\d+\)|NULL)"
            r"(?:\s*\|\|\s*(?:'(?:[^']|'')*'|chr\(\d+\)))*")

#: ICU/UAX#29-ish sentence boundary: . ! ? followed by whitespace and a
#: non-lowercase continuation (SB8 suppresses the break before
#: lowercase — 'here. tail' is ONE sentence, headline.test:1274), or
#: end-of-text, or a newline; ':' is NOT a boundary (headline.test:95)
_HL_BOUND = re.compile(r"[.!?](?=\s+[^\sa-z]|\s*$)\s*|\n")


def _hl_nonconst_opts(s: str) -> bool:
    """True when a ts_highlight call's 3rd (options) argument is a bare
    identifier — a per-row expression the bind-time parse refuses."""
    for m in re.finditer(r"ts_highlight\s*\(", s, re.IGNORECASE):
        depth, args, cur = 1, [], []
        for ch in s[m.end():]:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
                continue
            cur.append(ch)
        args.append("".join(cur).strip())
        if (len(args) == 3
                and re.fullmatch(r"[A-Za-z_]\w*", args[2] or "")):
            return True
    return False


def _hl_nonconst_dict(s: str) -> bool:
    """True when a dict-standalone ts_highlight call's dictionary-name
    argument is a bare identifier (per-row) — refused at bind time."""
    for m in re.finditer(r"ts_highlight\s*\(", s, re.IGNORECASE):
        parsed = _split_call_args(s[m.end():])
        if parsed is None:
            continue
        args, _ = parsed
        if (len(args) >= 3
                and re.fullmatch(r"[A-Za-z_]\w*", args[0] or "")
                and re.fullmatch(r"'(?:[^']|'')*'", args[1] or "")
                and re.search(r"\b(ts_\w+|to_tsquery|tsquery)\b",
                              args[2] or "")):
            # 3rd arg shaped like a TSQUERY filter distinguishes the
            # dict-standalone overload from the legacy
            # (col, term, open, close) form
            return True
    return False


def _osa_distance(a: str, b: str) -> int:
    """Optimal-string-alignment distance for the option-typo hint."""
    la, lb = len(a), len(b)
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def _hl_fold_text(expr: str):
    """Fold the constant text expression to a Python string (None for
    NULL)."""
    if expr.strip().upper() == "NULL":
        return None
    out = []
    for part in re.findall(r"'(?:[^']|'')*'|chr\(\d+\)", expr):
        if part.startswith("'"):
            out.append(part[1:-1].replace("''", "'"))
        else:
            out.append(chr(int(part[4:-1])))
    return "".join(out)


def _scalar_highlight(session, s: str):
    """FROM-less ``SELECT ts_highlight(text, offsets[, opts])``
    (full_text_search.test:640, headline.test): wrap each [start, stop)
    span with the PG selectors; adjacent spans (gap ≤ 1) merge into one
    tag; the rendered output is the sentence passage(s) holding the
    hits (trailing boundary punctuation trimmed — V1 behavior), the
    whole document with HighlightAll=true, or the first MaxWords tokens
    when there are no hits."""
    m = re.match(
        r"\s*SELECT\s+ts_highlight\(\s*(" + _HL_TEXT + r")\s*,\s*"
        r"(?:(?:ARRAY\s*)?\[([^\]]*)\]\s*(?:::\s*INTEGER\s*\[\s*\])?"
        r"|(NULL))\s*"
        r"(?:,\s*'((?:[^']|'')*)')?\s*\)\s*(?:AS\s+(\w+))?\s*;?\s*$",
        s, re.IGNORECASE | re.DOTALL)
    if m is None:
        return None
    col = m.group(5) or "ts_highlight"
    text = _hl_fold_text(m.group(1))
    if text is None or m.group(3) is not None:
        # NULL document or NULL offsets → NULL output
        return _text_reply(session, col, None)
    # elements may carry ::INTEGER casts and parenthesized negatives
    # (headline.test ARRAY form)
    nums = [int(x) for x in re.findall(r"(?<![\w])-?\d+(?!\w)",
                                       m.group(2))
            ] if m.group(2).strip() else []
    return _text_reply(session, col, py_highlight(text, nums, m.group(4)))


def py_highlight(text: str | None, nums, opts: str | None) -> str | None:
    """The ts_highlight rendering contract (headline.test): validate the
    flat [start, stop) offset array, merge adjacent spans, then render
    the sentence passage(s) holding the hits (V1 trims the trailing
    boundary punctuation), the whole document with HighlightAll=true,
    or the first MaxWords tokens when there are no hits."""
    if text is None or nums is None:
        return None
    nums = [int(x) for x in nums]
    if len(nums) % 2:
        raise ValueError(
            "ts_highlight: offsets array must contain an even number "
            "of elements")
    pairs = list(zip(nums[::2], nums[1::2]))
    prev_start = None
    for a, b in pairs:
        if a < 0 or b < a:
            raise ValueError(
                f"ts_highlight: malformed offset pair [{a}, {b})")
        if a > len(text):
            raise ValueError(
                f"ts_highlight: start offset {a} is past document "
                f"size {len(text)}")
        if prev_start is not None and a < prev_start:
            raise ValueError(
                "ts_highlight: offsets array must be sorted ascending "
                f"by start; saw start={a} after start={prev_start}")
        prev_start = a
    start_sel, stop_sel, max_frag = "<b>", "</b>", None
    highlight_all, max_words = False, 35
    frag_delim = " ... "
    known_opts = ("startsel", "stopsel", "maxwords", "minwords",
                  "shortword", "highlightall", "maxfragments",
                  "fragmentdelimiter", "maxoffsets")

    def _as_int(k: str, v: str) -> int:
        try:
            return int(v)
        except ValueError:
            raise ValueError(
                f'invalid value for ts_highlight parameter "{k}": '
                f'"{v}"') from None

    if opts:
        for part in opts.split(","):
            if "=" not in part:
                continue
            k, v = part.split("=", 1)
            kl, v = k.strip().lower(), v.strip()
            if kl not in known_opts:
                sug = min(known_opts,
                          key=lambda w: _osa_distance(kl, w))
                hint = (f'; did you mean "{sug}"?'
                        if _osa_distance(kl, sug) <= 2 else "")
                raise ValueError(
                    f'ts_highlight: option "{k.strip()}" not '
                    f"recognized{hint}")
            if kl == "startsel":
                start_sel = v
            elif kl == "stopsel":
                stop_sel = v
            elif kl == "maxfragments":
                max_frag = _as_int(kl, v)
            elif kl == "highlightall":
                highlight_all = v.lower() == "true"
            elif kl == "maxwords":
                max_words = _as_int(kl, v)
                if max_words <= 0:
                    raise ValueError(
                        'ts_highlight: "maxwords" must be a positive '
                        "integer")
            elif kl == "maxoffsets":
                n = _as_int(kl, v)
                if n <= 0:
                    raise ValueError(
                        'ts_highlight: "maxoffsets" must be a positive '
                        "integer")
                pairs = pairs[:n]
            elif kl == "fragmentdelimiter":
                frag_delim = v
            elif kl in ("minwords", "shortword"):
                _as_int(kl, v)
    def _merge(ps, adjacent: bool) -> list[list[int]]:
        out: list[list[int]] = []
        for a, b in sorted(ps):
            if out and (a - out[-1][1] <= 1 if adjacent
                        else a < out[-1][1]):
                out[-1][1] = max(out[-1][1], b)
            else:
                out.append([a, b])
        return out

    def tag(t: str, spans, base: int) -> str:
        out, pos = [], 0
        for a, b in spans:
            out.append(t[pos:a - base])
            out.append(start_sel + t[a - base:b - base] + stop_sel)
            pos = b - base
        out.append(t[pos:])
        return "".join(out)

    if not pairs:
        # PG fallback: the doc prefix through the MaxWords-th token
        # (TokenizeDocPrefix, headline.test:1290)
        toks = []
        for i, mt in enumerate(re.finditer(r"\w+", text)):
            toks.append(mt)
            if i + 1 >= max_words:
                break
        return text[:toks[-1].end()].strip() if toks else ""
    if highlight_all:
        # whole-document render: overlapping hits coalesce into one
        # span, merely-adjacent hits keep their own tag pairs
        # (headline.test:856 vs :1137)
        return tag(text, _merge(pairs, adjacent=False), 0)

    # passage mode merges adjacent hits too (doc 5's run of ten 'fox')
    merged = _merge(pairs, adjacent=True)

    def sentence_of(a: int, b: int) -> tuple[int, int]:
        lo = 0
        for mb in _HL_BOUND.finditer(text, 0, a):
            lo = mb.end()
        mh = _HL_BOUND.search(text, b)
        hi = mh.start() if mh else len(text)
        return lo, hi

    # group merged spans by containing sentence; each passage renders
    # once with all of its spans tagged
    passages: list[tuple[int, int, list[list[int]]]] = []
    for sp in merged:
        lo, hi = sentence_of(sp[0], sp[1])
        if passages and passages[-1][0] == lo:
            passages[-1][2].append(sp)
        else:
            passages.append((lo, hi, [sp]))
    k = max_frag if max_frag is not None else 1
    if len(passages) > k:
        # the fragmenter scores passages by how early the first hit
        # sits in its sentence (SloppyWeight bias, headline.test:1085),
        # keeps the top-K, and renders them in document order
        def first_hit_tokens(p) -> int:
            lo, _, sps = p
            return len(re.findall(r"\w+", text[lo:sps[0][0]]))

        ranked = sorted(passages,
                        key=lambda p: (first_hit_tokens(p), p[0]))[:k]
        passages = sorted(ranked, key=lambda p: p[0])
    return frag_delim.join(
        tag(text[lo:hi], sps, lo) for lo, hi, sps in passages)


def _split_call_args(rest: str) -> tuple[list[str], int] | None:
    """Split the argument text of a call (given the text AFTER the
    opening paren) into top-level arguments; returns (args, idx past the
    closing paren) or None if unbalanced."""
    depth, args, cur = 1, [], []
    in_str = False
    i = 0
    while i < len(rest):
        ch = rest[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(rest) and rest[i + 1] == "'":
                    cur.append("''")
                    i += 2
                    continue
                in_str = False
            cur.append(ch)
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth == 0:
                args.append("".join(cur).strip())
                return args, i + 1
        elif ch == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    return None


def _scalar_highlight_dict(session, s: str):
    """Dict-standalone ``SELECT ts_highlight('dict', 'text', filter
    [, opts])`` (headline.test:870+): analyze the literal text through
    the named dictionary, match the filter in place, highlight — no
    SearchScan involved."""
    m = re.match(r"\s*SELECT\s+ts_highlight\s*\(", s, re.IGNORECASE)
    if m is None:
        return None
    parsed = _split_call_args(s[m.end():])
    if parsed is None:
        return None
    args, end = parsed
    tail = s[m.end() + end:].strip().rstrip(";").strip()
    alias = "ts_highlight"
    tm = re.fullmatch(r"AS\s+(\w+)", tail, re.IGNORECASE)
    if tm:
        alias = tm.group(1)
    elif tail:
        return None
    if len(args) < 3 or not re.fullmatch(r"'\w+'", args[0]):
        return None
    from serenedb_spark.analysis.analyzers import get_analyzer
    from serenedb_spark.functions.highlight import py_match_offsets
    from serenedb_spark.plans.search_sql import (_match_groups,
                                                 parse_tsquery_text)

    an = get_analyzer(args[0][1:-1])
    text = _hl_fold_text(args[1])
    if text is None:
        return _text_reply(session, alias, None)
    node = parse_tsquery_text(args[2], an)
    groups = _match_groups(node)
    offs = py_match_offsets(text, groups)
    opts = None
    if len(args) > 3 and re.fullmatch(r"'(?:[^']|'')*'", args[3]):
        opts = args[3][1:-1].replace("''", "'")
    return _text_reply(session, alias, py_highlight(text, offs, opts))


def _scalar_ts_offsets(session, s: str):
    """FROM-less ``SELECT ts_offsets('analyzer', 'text', 'q'::TSQUERY)``
    (full_text_search.test:715): offsets of the query's terms in the
    literal text, as the flat [start, end) int array."""
    m = re.match(
        r"\s*SELECT\s+ts_offsets\(\s*'([\w.]+)'\s*,\s*"
        r"'((?:[^']|'')*)'\s*,\s*'((?:[^']|'')*)'\s*::\s*TSQUERY\s*\)"
        r"\s*(?:AS\s+(\w+))?\s*;?\s*$", s, re.IGNORECASE)
    if m is None:
        return None
    from serenedb_spark.analysis.analyzers import get_analyzer
    from serenedb_spark.plans import tsquery as q

    get_analyzer(m.group(1))  # named analyzer must exist
    text = m.group(2).replace("''", "'")
    node = q.to_tsquery(m.group(3).replace("''", "'"))
    terms = []

    def walk(n):
        if isinstance(n, q.Term):
            terms.append(n.term)
        for f in ("parts", "part", "terms"):
            v = getattr(n, f, None)
            if isinstance(v, tuple):
                for x in v:
                    walk(x) if isinstance(x, q.TSQuery) else None
            elif isinstance(v, q.TSQuery):
                walk(v)
    walk(node)
    spans = []
    low = text.lower()
    for t in terms:
        start = 0
        while True:
            i = low.find(t, start)
            if i < 0:
                break
            spans.extend([i, i + len(t)])
            start = i + 1
    name = m.group(4) or "ts_offsets"
    return local_frame(session.spark, f"{name} array<int>",
                       [{name: spans}])


_SEQFN_RE = re.compile(
    r"\b(nextval|currval|setval|lastval)\s*\(\s*(?:'([\w.]+)')?"
    r"\s*(?:,\s*(\d+))?\s*(?:,\s*(true|false))?\s*\)", re.IGNORECASE)


def _inline_seq_select(session, s: str):
    """FROM-less SELECTs MIXING sequence calls with other expressions
    (drop_cascade_view_sequence.test: SELECT nextval('s') AS x,
    'hello'::TEXT AS payload): evaluate each call driver-side ONCE,
    substitute the value, run the rest as plain SQL. Per-ROW advancement
    (a FROM clause) stays an honest refusal — that path is
    sequences.assign, reachable through the DataFrame API."""
    if not _SEQFN_RE.search(s):
        return None
    try:
        toks = tokenize(s)
    except ValueError:
        return None
    if _find_clause(toks, ("FROM",)) >= 0:
        return None

    def repl(m: re.Match) -> str:
        fn, seq, num, flag = m.groups()
        fn = fn.lower()
        try:
            if fn == "lastval":
                return str(session.sequences.lastval())
            if fn == "setval":
                return str(session.sequences.setval(
                    seq, int(num),
                    flag is None or flag.lower() == "true"))
            if fn == "currval":
                return str(session.sequences.currval(seq))
            return str(session.sequences.nextval(seq))
        except KeyError:
            raise ValueError(
                f'sequence "{seq}" does not exist') from None

    return session.sql(_SEQFN_RE.sub(repl, s))


def _scalar_seq_select(session, s: str) -> DataFrame | None:
    """FROM-less ``SELECT nextval('s')[, currval('s'), lastval(),
    setval('s', n)]...`` (reference sequence tests) — driver-side calls
    on the session's sequence catalog, evaluated LEFT TO RIGHT, PG's
    function-name columns."""
    item = (r"(nextval|currval|lastval|setval)\s*\(\s*(?:'([\w.]+)')?"
            r"\s*(?:,\s*(\d+))?\s*(?:,\s*(true|false))?\s*\)"
            r"\s*(?:AS\s+(\w+))?")
    if not re.match(rf"\s*SELECT\s+{item}\s*(?:,\s*{item}\s*)*;?\s*$",
                    s, re.IGNORECASE):
        return None
    cols, vals = [], []
    for m in re.finditer(item, s, re.IGNORECASE):
        fn, seq, num, flag, alias = m.groups()
        fn = fn.lower()
        try:
            if fn == "lastval":
                val = session.sequences.lastval()
            elif fn == "setval":
                val = session.sequences.setval(
                    seq, int(num),
                    flag is None or flag.lower() == "true")
            elif fn == "currval":
                val = session.sequences.currval(seq)
            else:
                val = session.sequences.nextval(seq)
        except KeyError:
            raise ValueError(
                f'sequence "{seq}" does not exist') from None
        cols.append(alias or fn)
        vals.append(val)
    # positional names inside, PG's (possibly repeated) names outside
    return local_frame(
        session.spark, ", ".join(f"c{i} long" for i in range(len(vals))),
        [{f"c{i}": v for i, v in enumerate(vals)}]).toDF(*cols)


#: COPY WITH options the engine honors (copy.test rejects unknown ones)
_COPY_FORMATS = {"csv": "csv", "parquet": "parquet", "json": "json",
                 "text": "csv"}


def _copy(session, s: str, dry_run: bool = False):
    """``COPY t [(cols)] TO/FROM 'path' [WITH (FORMAT ..., HEADER ...)]
    [WHERE pred]`` (reference copy.test; duckdb_pg_text_copy.cpp
    analogue) — TO writes via sources.io.write_table (single-file mode:
    wire-COPY parity for small exports), FROM reads via read_table and
    INSERTs through the same constraint-checked path as INSERT. The
    ``COPY (SELECT ...) TO`` form exports any query. dry_run (EXPLAIN
    COPY) validates and returns the plan lines without executing."""
    from serenedb_spark.sources.io import read_table, write_table

    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("COPY")
    query_sql = None
    table = None
    cols: list[str] | None = None
    if ts.peek() and ts.peek().text == "(":
        query_sql = _paren_group(ts)
    else:
        table = _ident(ts)
        if ts.peek() and ts.peek().text == "(":
            ts.next()
            cols = []
            while True:
                cols.append(_ident(ts))
                if ts.match(")"):
                    break
                ts.expect(",")
    direction = ts.next().upper
    if direction not in ("TO", "FROM"):
        raise ValueError(f"COPY expects TO or FROM, got {direction!r}")
    if direction == "FROM" and table is not None:
        _require_base_table(session, table, "{t} is not an table")
        if (table not in session._tables
                and table in session._indexes):
            src = session._index_sources.get(table)
            if not src:
                # indexes built via the DataFrame API have no source
                # table registered — nothing to write through to
                raise ValueError(f"cannot open relation {table}")
            table = src
    path_tok = ts.next()
    if path_tok.kind != "STR":
        raise ValueError("COPY expects a quoted file path")
    path = _unquote(path_tok.text)
    fmt = None
    header = True
    sep = None
    if ts.peek() and ts.peek().upper == "WITH":
        ts.next()
    if ts.peek() and ts.peek().text == "(":
        ts.next()
        while True:
            key = ts.next().upper
            val = ts.next()
            if key == "FORMAT":
                f = val.text.strip("'").lower()
                if f not in _COPY_FORMATS:
                    raise ValueError(f"unsupported COPY FORMAT {f!r}")
                fmt = _COPY_FORMATS[f]
            elif key == "HEADER":
                header = val.upper in ("TRUE", "ON", "1")
            elif key in ("DELIMITER", "SEP", "SEPARATOR"):
                sep = _unquote(val.text) if val.kind == "STR" else val.text
            elif key in ("ROW_GROUP_SIZE", "ROW_GROUP_SIZE_BYTES",
                         "COMPRESSION", "CODEC",
                         "PER_THREAD_OUTPUT", "USE_TMP_FILE"):
                # parquet writer tuning knobs: Spark sizes row groups
                # via parquet.block.size — accepted, not forwarded
                # (recovery/search_table_wal.test ROW_GROUP_SIZE 2048)
                pass
            else:
                raise NotImplementedError(
                    f'unsupported COPY option "{key}"')
            if ts.match(")"):
                break
            ts.expect(",")
    if fmt is None:
        ext = path.rsplit(".", 1)[-1].lower()
        fmt = _COPY_FORMATS.get(ext, "csv")
    where_sql = None
    w = _find_clause(toks, ("WHERE",))
    if w >= 0:
        if direction == "TO":
            # PG: WHERE is a COPY FROM-only clause
            raise ValueError("WHERE condition is not allowed with COPY TO")
        where_sql = _expr_sql(toks[w + 1:])
    if dry_run:
        src = query_sql or table
        return [f"COPY {direction} {path}", f"  Source: {src}",
                f"  Format: {fmt}"]
    if direction == "TO":
        df = (session.sql(query_sql) if query_sql is not None
              else session.table(table))
        if cols is not None:
            df = df.select(*cols)
        w_opts = {}
        if fmt == "csv":
            w_opts["header"] = str(header).lower()
            if sep is not None:
                w_opts["sep"] = sep
        write_table(df, path, fmt, single_file=True, **w_opts)
        return _status_df(session, "COPY", path)
    if table is None:
        raise ValueError("COPY FROM requires a target table")
    opts = {"header": str(header).lower()} if fmt == "csv" else {}
    if fmt == "csv" and sep is not None:
        opts["sep"] = sep
    import os as _os
    if ("://" not in path and "*" not in path
            and not _os.path.exists(path)):
        raise ValueError(
            f'No files found that match the pattern "{path}"')
    rows = read_table(session.spark, path, fmt, **opts)
    if where_sql is not None:
        rows = rows.where(F.expr(where_sql))
    target = session._tables[table]
    dtypes = dict(target.dtypes)
    use_cols = cols if cols is not None else target.columns[
        :len(rows.columns)]
    if len(rows.columns) != len(use_cols):
        raise ValueError(
            f"COPY FROM file has {len(rows.columns)} columns for "
            f"{len(use_cols)} target columns")
    rows = rows.toDF(*use_cols)
    session.insert(table, _align_rows(session, table, rows, use_cols))
    return _status_df(session, "COPY", table)


def _select_into(session, s: str) -> DataFrame | None:
    """PG ``SELECT ... INTO t FROM ...`` — CTAS spelled inline
    (ctas.test:95-135). The INTO span is excised token-wise; the rest
    runs through the full SELECT door."""
    toks = tokenize(s)
    at = _find_clause(toks, ("INTO",))
    if at < 0:
        return None
    name = toks[at + 1].text
    rest = toks[:at] + toks[at + 2:]
    if name in session._tables:
        raise ValueError(f'relation "{name}" already exists')
    df = session.sql(_render(rest))
    if len(set(df.columns)) != len(df.columns):
        dup = sorted({c for c in df.columns if df.columns.count(c) > 1})
        raise ValueError(f'duplicate column name "{dup[0]}"')
    session.create_table(name, df)
    return _status_df(session, "SELECT INTO", name)


# --------------------------------------------------------------------------
# prepared statements (reference pg_wire_session.cpp:539-586 rebinds the
# plan on EVERY execution — parameters become constants and the full
# planner runs again, which is what lets ANN claims fire on a $1 vector
# and RBAC revokes take effect between EXECUTEs)
# --------------------------------------------------------------------------

def _prepare(session, s: str) -> DataFrame:
    m = re.match(
        r"\s*PREPARE\s+(\w+)\s*(?:\(([^()]*)\))?\s+AS\s+(.+)$",
        s, re.IGNORECASE | re.DOTALL)
    if m is None:
        raise ValueError("PREPARE expects: PREPARE name [(types)] AS stmt")
    name, types, body = m.group(1), m.group(2), m.group(3).strip()
    tlist = [t.strip() for t in types.split(",")] if types else None
    session._prepared[name] = (body, tlist)
    return _status_df(session, "PREPARE", name)


def _deallocate(session, s: str) -> DataFrame:
    ts = _Stream(tokenize(s))
    ts.expect("DEALLOCATE")
    if ts.peek() and ts.peek().upper == "PREPARE":
        ts.next()
    store = session._prepared
    if ts.peek() is None:
        raise ValueError("DEALLOCATE expects a statement name or ALL")
    if ts.peek().upper == "ALL":
        store.clear()
        return _status_df(session, "DEALLOCATE", "ALL")
    name = _ident(ts)
    if name not in store:
        raise ValueError(
            f'prepared statement "{name}" does not exist')
    del store[name]
    return _status_df(session, "DEALLOCATE", name)


def _substitute_params(body: str, pos: list[str],
                       named: dict[str, str], types) -> str:
    """Replace ?, $N and $name parameter markers with argument SQL text
    — a quote-aware scan, so markers inside string literals and quoted
    identifiers survive verbatim."""
    out: list[str] = []
    i, n = 0, len(body)
    next_pos = 0

    def wrap(a: str) -> str:
        # bare literals stay bare — downstream rewrites (enum
        # definition-order comparisons) pattern-match on them
        if re.fullmatch(r"\s*(?:'(?:[^']|'')*'|-?\d+(?:\.\d+)?"
                        r"|true|false|null)\s*", a, re.IGNORECASE):
            return a.strip()
        return f"({a})"

    def arg(idx: int) -> str:
        if idx >= len(pos):
            raise ValueError(
                f"prepared statement requires at least {idx + 1} "
                f"parameters, {len(pos)} given")
        a = wrap(pos[idx])
        if types and idx < len(types):
            a = f"CAST({a} AS {types[idx]})"
        return a

    while i < n:
        ch = body[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if body[j] == "'" and j + 1 < n and body[j + 1] == "'":
                    j += 2
                elif body[j] == "'":
                    break
                else:
                    j += 1
            out.append(body[i:j + 1])
            i = j + 1
        elif ch == '"':
            j = body.find('"', i + 1)
            j = n - 1 if j < 0 else j
            out.append(body[i:j + 1])
            i = j + 1
        elif ch == "?":
            out.append(arg(next_pos))
            next_pos += 1
            i += 1
        elif ch == "$":
            m = re.match(r"\$(\d+|\w+)", body[i:])
            if m is None:
                out.append(ch)
                i += 1
                continue
            tok = m.group(1)
            if tok.isdigit():
                out.append(arg(int(tok) - 1))
            elif tok in named:
                out.append(wrap(named[tok]))
            else:
                raise ValueError(f'unbound parameter "${tok}"')
            i += m.end()
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _execute(session, s: str) -> DataFrame:
    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("EXECUTE")
    name = _ident(ts)
    store = session._prepared
    if name not in store:
        raise ValueError(f'prepared statement "{name}" does not exist')
    body, types = store[name]
    pos: list[str] = []
    named: dict[str, str] = {}
    if ts.peek() and ts.peek().text == "(":
        depth, start = 0, ts.i
        while True:
            t = ts.next()
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
                if depth == 0:
                    break
        for span in _split_top(toks[start + 1: ts.i - 1], (",",)):
            if (len(span) >= 3 and span[1].text == ":"
                    and span[2].text == "="):
                named[span[0].text] = _expr_sql(span[3:])
            elif len(span) >= 2 and span[1].text == ":=":
                named[span[0].text] = _expr_sql(span[2:])
            else:
                pos.append(_expr_sql(span))
        # DuckDB allows positional args to satisfy $name params in
        # declaration order — not needed by the reference's tests; named
        # params bind by name only
    # full re-plan on every execution (the reference's rebind semantics)
    return session.sql(_substitute_params(body, pos, named, types))


# --------------------------------------------------------------------------
# transaction control / variables
# --------------------------------------------------------------------------

def _txn(session, kw: str, s: str) -> DataFrame:
    """BEGIN/COMMIT/ROLLBACK with the PG tails the reference accepts:
    WORK/TRANSACTION noise words, BEGIN READ ONLY/READ WRITE
    (transaction_control.test), COMMIT/ROLLBACK AND [NO] CHAIN
    (txn/chain.test — CHAIN re-enters a new block with the same
    characteristics; AND CHAIN outside a block errors), and ROLLBACK TO
    refused with the reference's clean syntax error."""
    words = [w.upper().rstrip(";") for w in s.split()][1:]
    if kw == "ROLLBACK" and words[:1] == ["TO"]:
        raise ValueError('syntax error at or near "TO"')
    while words and words[0] in ("WORK", "TRANSACTION"):
        words = words[1:]
    chain = False
    if words[:2] == ["AND", "CHAIN"]:
        chain = True
        words = words[2:]
    elif words[:3] == ["AND", "NO", "CHAIN"]:
        words = words[3:]
    if kw in ("BEGIN", "START"):
        if session._txn_backup is not None:
            # PG: BEGIN inside a block is a WARNING no-op
            # (settings/txn.test)
            return _status_df(
                session, "WARNING",
                "there is already a transaction in progress")
        isolation = None
        if words[:2] == ["ISOLATION", "LEVEL"]:
            n_lvl = 1 if words[2:3] == ["SERIALIZABLE"] else 2
            isolation = " ".join(words[2:2 + n_lvl])
            words = words[2 + n_lvl:]
        read_only = words[:2] == ["READ", "ONLY"]
        session.begin(isolation=isolation)
        session._txn_read_only = read_only
        # each block starts at the session default isolation (PG)
        session._pg_vars_store["transaction_isolation"] = \
            (isolation.lower() if isolation
             else session._pg_vars_store["default_transaction_isolation"])
        return _status_df(session, "BEGIN")
    if session._txn_backup is None:
        if chain:
            # AND CHAIN outside a block has no characteristics to carry
            raise ValueError(
                f"{kw} AND CHAIN can only be used in transaction blocks")
        # PG: COMMIT/ROLLBACK outside a block is a WARNING, not an error
        # (txn/chain.test opens with a bare COMMIT)
        return _status_df(session, "WARNING",
                          "there is no transaction in progress")
    level = session._pg_vars_store["transaction_isolation"]
    read_only = session._txn_read_only
    session._pg_vars_store["transaction_isolation"] = \
        session._pg_vars_store["default_transaction_isolation"]
    if kw in ("COMMIT", "END"):
        session.commit()
        tag = "COMMIT"
    else:
        session.rollback()
        tag = "ROLLBACK"
    if chain:
        # re-enter immediately, carrying the characteristics over
        session.begin()
        session._txn_read_only = read_only
        session._pg_vars_store["transaction_isolation"] = level
    return _status_df(session, tag)


#: PG session variables carried for compatibility (txn/variables.test);
#: isolation levels are DECLARATIVE here — every read sees the session's
#: current snapshot, the strongest of the accepted levels
_PG_VAR_DEFAULTS = {
    "transaction_isolation": "read committed",
    "default_transaction_isolation": "read committed",
    # recorded for SHOW round-trips; the catalog is single-schema, so
    # the path never changes name resolution
    "search_path": '"$user", public',
}


def _set(session, s: str) -> DataFrame | None:
    try:
        toks = tokenize(s)
    except ValueError:
        return None  # values we don't tokenize: Spark's SET
    ts = _Stream(toks)
    ts.expect("SET")
    nxt = ts.peek()
    if nxt is not None and nxt.upper == "TRANSACTION":
        # SET TRANSACTION ISOLATION LEVEL x: applies to the current
        # block; outside one PG only warns (txn/variables.test)
        ts.next()
        level = _isolation_level(ts)
        if session._txn_backup is not None:
            session._pg_vars_store["transaction_isolation"] = level
            return _status_df(session, "SET", "transaction_isolation")
        return _status_df(
            session, "WARNING",
            "SET TRANSACTION can only be used in transaction blocks")
    if (nxt is not None and nxt.upper == "SESSION"
            and ts.peek(1) is not None
            and ts.peek(1).upper == "CHARACTERISTICS"):
        ts.next(); ts.next(); ts.expect("AS"); ts.expect("TRANSACTION")
        level = _isolation_level(ts)
        session._pg_vars_store["default_transaction_isolation"] = level
        session._pg_vars_store["transaction_isolation"] = level
        return _status_df(session, "SET",
                          "default_transaction_isolation")
    if nxt is not None and nxt.upper in ("LOCAL", "SESSION",
                                          "GLOBAL"):
        ts.next()
    name = _ident(ts).lower()
    if name == "role":
        ts.match("=") or ts.match("TO")
        who = _ident(ts)
        session.set_user(None if who.lower() == "none" else who)
        return _status_df(session, "SET ROLE", who)
    if name.startswith("sdb_"):
        if not (ts.match("=") or ts.match("TO")):
            raise ValueError("SET expects '=' or 'TO'")
        tok = ts.next()
        if tok.upper == "DEFAULT":
            # SET x TO DEFAULT ≡ RESET x (recovery/faults.test)
            session.set_variable(name,
                                 session._VARIABLE_DEFAULTS[name])
        else:
            session.set_variable(name, _literal_value(tok))
        return _status_df(session, "SET", name)
    if name in _PG_VAR_DEFAULTS:
        if not (ts.match("=") or ts.match("TO")):
            raise ValueError("SET expects '=' or 'TO'")
        if name == "search_path":
            # PG entry forms (any/pg/system/functions.test):
            #   bare ident          → case-folded schema name
            #   "quoted,ident"      → ONE atomic entry, verbatim
            #   'string literal'    → ONE atomic entry ('' = empty path)
            #   db.schema           → catalog-qualified entry
            #   DEFAULT             → reset to '"$user", public'
            def _one_entry() -> str | None:
                t = ts.next()
                if t.kind == "STR":
                    v = _unquote(t.text)
                    return v if v else None
                txt = t.text
                if txt.startswith('"') and txt.endswith('"'):
                    base = txt[1:-1]
                else:
                    if txt.upper() == "DEFAULT":
                        return '"$user", public'
                    base = txt.lower()
                if ts.peek() and ts.peek().text == ".":
                    ts.next()
                    nxt = ts.next().text
                    sch2 = (nxt[1:-1] if nxt.startswith('"')
                            else nxt.lower())
                    return f"{base}.{sch2}"
                return base

            entries = []
            first = _one_entry()
            if first == '"$user", public':
                session._pg_vars_store["search_path"] = first
                return _status_df(session, "SET", name)
            if first is not None:
                entries.append(first)
            while ts.match(","):
                e = _one_entry()
                if e is not None:
                    entries.append(e)

            def _q(e: str) -> str:
                tail = e.split(".")[-1]
                if re.fullmatch(r"[a-z_][a-z0-9_]*", tail):
                    return e
                head = e[:-len(tail)]
                return f'{head}"{tail}"'
            session._pg_vars_store["search_path"] = ", ".join(
                _q(e) for e in entries)
            return _status_df(session, "SET", name)
        val = str(_literal_value(ts.next())).lower()
        if name.endswith("transaction_isolation") and val not in (
                "read committed", "repeatable read"):
            raise ValueError(
                f'transaction isolation level "{val}" is not supported. '
                "Available values: repeatable read, read committed.")
        session._pg_vars_store[name] = val
        if name == "default_transaction_isolation" and \
                session._txn_backup is None:
            session._pg_vars_store["transaction_isolation"] = val
        return _status_df(session, "SET", name)
    return None  # Spark SQL handles its own SET k=v


def _isolation_level(ts: _Stream) -> str:
    ts.expect("ISOLATION"); ts.expect("LEVEL")
    words = []
    while ts.peek() is not None:
        words.append(ts.next().text.lower())
    level = " ".join(words)
    if level not in ("read committed", "repeatable read"):
        # the reference supports exactly these two
        # (txn/variables.test:156)
        raise ValueError(
            f'transaction isolation level "{level}" is not supported. '
            "Available values: repeatable read, read committed.")
    return level


def _reset(session, s: str) -> DataFrame | None:
    ts = _Stream(tokenize(s))
    ts.expect("RESET")
    name = _ident(ts).lower()
    if name == "role":
        session.set_user(None)
        return _status_df(session, "RESET ROLE")
    if not name.startswith("sdb_"):
        return None
    session.set_variable(name, session._VARIABLE_DEFAULTS[name])
    return _status_df(session, "RESET", name)


def _show(session, s: str) -> DataFrame | None:
    ts = _Stream(tokenize(s))
    ts.expect("SHOW")
    t = ts.peek()
    if t is None:
        raise ValueError("SHOW expects a variable name or ALL")
    if t.upper == "ALL":
        return session.show_variables()
    name = _ident(ts).lower()
    if name in _PG_VAR_DEFAULTS:
        val = session._pg_vars_store[name]
        if name == "search_path":
            # SHOW strips catalog prefixes that name the current DB
            # (any/pg/system/functions.test: postgres.public → public;
            # 'postgres' is PG's connection-default catalog)
            db = session._current_db
            parts = []
            for e in _split_search_path(val):
                head, _, tail = e.rpartition(".")
                if head.strip('"') in (db, "postgres"):
                    e = tail
                parts.append(e)
            val = ", ".join(parts)
        return _text_reply(session, name, val)
    if not name.startswith("sdb_"):
        return None  # SHOW TABLES etc. stay Spark's
    return _text_reply(session, name, str(session.show_variable(name)))


# --------------------------------------------------------------------------
# EXPLAIN [ANALYZE]
# --------------------------------------------------------------------------

def _split_search_path(val: str) -> list[str]:
    """Split a search_path display string on commas OUTSIDE quoted
    identifiers ('"a,b", z' → ['"a,b"', 'z'])."""
    parts: list[str] = []
    cur: list[str] = []
    inq = False
    for ch in val:
        if ch == '"':
            inq = not inq
        if ch == "," and not inq:
            if "".join(cur).strip():
                parts.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


def _explain(session, s: str) -> DataFrame:
    """EXPLAIN renders the claimed-vs-residual split (plans/explain.py —
    the IRESEARCH_SCAN visibility of explain/basic.test, plain indented
    text rather than the reference's box drawing, a documented
    deviation); EXPLAIN over DML renders the statement head plus the
    scan that feeds it (explain/{delete,insert,update}.test); EXPLAIN
    ANALYZE executes the statement — PG semantics: ANALYZE over DML
    really mutates — and appends actual row counts and wall time."""
    m = re.match(r"\s*EXPLAIN(\s+ANALYZE)?\s+(.*)$", s,
                 re.IGNORECASE | re.DOTALL)
    if m is None:
        raise ValueError("EXPLAIN expects a statement")
    analyze, inner = bool(m.group(1)), m.group(2).strip()
    verb = re.match(r"[A-Za-z_]+", inner)
    verb = verb.group().upper() if verb else ""
    if verb == "COPY":
        lines = _copy(session, inner, dry_run=True)
        if analyze:
            t0 = time.perf_counter()
            _copy(session, inner)
            lines.append(
                f"Execution Time: {(time.perf_counter() - t0) * 1e3:.3f} ms")
        return _plan_df(session, lines)
    if verb in _DML_VERBS:
        lines = _explain_dml(session, inner, verb)
        if analyze:
            t0 = time.perf_counter()
            route_statement(session, inner)
            lines.append(
                f"Execution Time: {(time.perf_counter() - t0) * 1e3:.3f} ms")
        return _plan_df(session, lines)
    if verb == "CREATE":
        # PG explains only the data-producing CREATEs (CREATE TABLE AS /
        # CREATE MATERIALIZED VIEW); EXPLAIN ANALYZE really EXECUTES the
        # statement — ctas.test:211 counts the created rows afterwards.
        # Falling through to session.explain() would hand the raw DDL to
        # spark.sql, which cannot plan it.
        m2 = re.match(
            r"CREATE\s+(?:MATERIALIZED\s+VIEW|TABLE)\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?([\w.\"]+)\s+AS\b(.*)$",
            inner, re.IGNORECASE | re.DOTALL)
        if m2 is None:
            raise ValueError(
                "EXPLAIN over CREATE supports only CREATE TABLE AS / "
                "CREATE MATERIALIZED VIEW ... AS")
        lines = [f"CREATE TABLE AS on {m2.group(1)}"]
        try:
            sel = session.explain(m2.group(2).strip())
            lines += ["  " + ln for ln in sel.splitlines()]
        except Exception:
            # the feeding SELECT may use constructs only the routed
            # executor lowers (generate_series TVFs); the head line is
            # still an honest plan summary
            lines.append("  Source: (plan unavailable)")
        if analyze:
            t0 = time.perf_counter()
            route_statement(session, inner)
            lines.append(
                f"Execution Time: {(time.perf_counter() - t0) * 1e3:.3f} ms")
        return _plan_df(session, lines)
    if not analyze:
        try:
            from serenedb_spark.plans.boxplan import (
                try_explain_box, try_tsdict_explain)
            box = try_tsdict_explain(session, inner)
            if box is None:
                box = try_explain_box(session, inner)
        except Exception:
            box = None
        if box is not None:
            return _plan_df(session, box)
    lines = session.explain(inner).splitlines()
    if analyze:
        t0 = time.perf_counter()
        n = session.sql(inner).count()
        lines += [f"Actual Rows: {n}",
                  f"Execution Time: {(time.perf_counter() - t0) * 1e3:.3f} ms"]
    return _plan_df(session, lines)


def _explain_dml(session, inner: str, verb: str) -> list[str]:
    toks = tokenize(inner)
    table, where_sql = "", None
    if verb == "DELETE":
        ts = _Stream(toks)
        ts.expect("DELETE"); ts.expect("FROM")
        table = _ident(ts)
        w = _find_clause(toks, ("WHERE",))
        if w >= 0:
            where_sql = _render(toks[w + 1:])
    elif verb == "UPDATE":
        ts = _Stream(toks)
        ts.expect("UPDATE")
        table = _ident(ts)
        w = _find_clause(toks, ("WHERE",))
        if w >= 0:
            where_sql = _render(toks[w + 1:])
    elif verb == "INSERT":
        ts = _Stream(toks)
        ts.expect("INSERT"); ts.expect("INTO")
        table = _ident(ts)
    elif verb == "TRUNCATE":
        ts = _Stream(toks)
        ts.expect("TRUNCATE")
        if ts.peek() and ts.peek().upper == "TABLE":
            ts.next()
        table = _ident(ts)
    lines = [f"{verb} on {table}"]
    if where_sql is not None:
        if has_search_construct(where_sql):
            scan = session.explain(
                f"SELECT * FROM {table} WHERE {where_sql}")
            lines += ["  " + ln for ln in scan.splitlines()]
        else:
            lines.append(f"  Filter: {where_sql}")
    return lines


# --------------------------------------------------------------------------
# DML
# --------------------------------------------------------------------------

def _dml_where(session, table: str, where_toks: list[Tok]):
    """A WHERE span → either a Column (plain predicate) or a claimed
    key DataFrame (search predicate, resolved through the index and
    applied as a PK semi-/anti-join). Returns ('col', Column) or
    ('keys', DataFrame, pk)."""
    where_sql = _render(where_toks)
    if not has_search_construct(where_sql):
        return ("col", F.expr(_expr_sql(where_toks, session)))
    pk = session._pks.get(table)
    if pk is None:
        raise ValueError(
            f"DML with a search predicate needs a PRIMARY KEY on "
            f"{table!r} (the reference's search tables declare one; it "
            "is the join key for the claimed match set)")
    sel = ", ".join(pk) if isinstance(pk, tuple) else pk
    keys = session._run_select(
        f"SELECT {sel} FROM {table} WHERE {where_sql}")
    return ("keys", keys, pk)


def _refuse_index_relation(session, table: str) -> None:
    if (table not in session._tables
            and table in session._indexes):
        raise ValueError(
            f'cannot open relation "{table}"\nDETAIL: This operation '
            "is not supported for indexes.")


def _require_base_table(session, table: str, msg: str) -> None:
    """DML targets must be base tables — a view resolves as a relation
    but refuses writes (basic.test:363-385)."""
    if table in session._tables:
        return
    base = table.split(".")[-1]
    if base in session._tables:
        return
    try:
        session.spark.table(table)
    except Exception:
        return  # unknown relation: let the handler's own error surface
    raise ValueError(msg.format(t=table))


def _insert(session, s: str) -> DataFrame:
    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("INSERT"); ts.expect("INTO")
    table = _ident(ts)
    _require_base_table(session, table, "{t} is not an table")
    if (table not in session._tables
            and table in session._indexes):
        # INSERT INTO an index relation writes through to its source
        # table (basic.test:403)
        src = session._index_sources.get(table)
        if not src:
            raise ValueError(f"cannot open relation {table}")
        table = src
    cols: list[str] | None = None
    if ts.peek() and ts.peek().text == "(":
        ts.next()
        cols = []
        while True:
            cols.append(_ident(ts))
            if ts.match(")"):
                break
            ts.expect(",")
    # column-level INSERT enforcement: an explicit column list charges
    # those columns; a bare INSERT charges every column
    # (cp_column_insert.test)
    if table in session._tables:
        session._check_privilege(
            table, "INSERT",
            columns={c.lower() for c in
                     (cols or session._tables[table].columns)})
    body = toks[ts.i:]
    returning = None
    rc = _find_clause(body, ("RETURNING",))
    if rc >= 0:
        returning = _render(body[rc + 1:])
        body = body[:rc]
    conflict = "error"
    oc = _find_clause(body, ("ON", "CONFLICT"))
    if oc >= 0:
        conflict = _parse_conflict(body[oc:])
        body = body[:oc]
    if not body:
        raise ValueError("INSERT expects VALUES or a SELECT")
    target = session._tables[table]
    dtypes = dict(target.dtypes)
    gen_cols = set(session._generated.get(table, {}))
    if (len(body) == 2 and body[0].upper == "DEFAULT"
            and body[1].upper == "VALUES"):
        # INSERT ... DEFAULT VALUES (default_values.test): one row, every
        # column from its DEFAULT or NULL
        rows = session.spark.range(1)
        use_cols = []
    elif body[0].upper == "VALUES":
        groups = _split_top(body[1:], (",",))
        arity = len(_split_top(groups[0][1:-1], (",",)))
        use_cols = cols if cols is not None else target.columns[:arity]
        if arity != len(use_cols):
            raise ValueError(
                f"INSERT has {arity} values per row for "
                f"{len(use_cols)} columns")
        defaults = session._col_defaults.get(table, {})
        tuples_sql = []
        for g in groups:
            cells = []
            for k, cell in enumerate(_split_top(g[1:-1], (",",))):
                is_default = (len(cell) == 1
                              and cell[0].upper == "DEFAULT")
                if use_cols[k] in gen_cols:
                    # a generated column may be named only as DEFAULT
                    # (default_values.test:353 vs :368)
                    if not is_default:
                        raise ValueError(
                            "cannot insert a non-DEFAULT value into "
                            f'column "{use_cols[k]}": it is a generated '
                            "column")
                    cells.append("NULL")  # insert() recomputes it
                elif is_default:
                    # PG: DEFAULT as a VALUES cell (default_values.test)
                    d = defaults.get(use_cols[k])
                    m = (_NEXTVAL_RE.match(str(d))
                         if isinstance(d, str) else None)
                    if m:
                        cells.append(
                            str(session.sequences.nextval(m.group(1))))
                    else:
                        cells.append(
                            f"({d})" if isinstance(d, str)
                            else ("NULL" if d is None else repr(d)))
                elif (len(cell) == 4 and cell[0].upper
                      in ("NEXTVAL", "CURRVAL") and cell[1].text == "("
                      and cell[2].kind == "STR"):
                    # inline sequence call in a VALUES cell: one driver
                    # call per literal row (VALUES lists are small)
                    seq = _unquote(cell[2].text)
                    fn = getattr(session.sequences, cell[0].text.lower())
                    cells.append(str(fn(seq)))
                else:
                    cells.append(_expr_sql(cell, session))
            tuples_sql.append("(" + ", ".join(cells) + ")")
        from serenedb_spark.plans.dialect import sql_compat
        if len(use_cols) == 1:
            # Spark's inline-table parser reads `VALUES (struct(1,2))`
            # as a TWO-column row (the outer parens are the row): build
            # single-column rows as a UNION ALL of scalar SELECTs
            body_sql = " UNION ALL ".join(
                f"SELECT {t[1:-1]} AS {use_cols[0]}" for t in tuples_sql)
            rows = sql_compat(session.spark, body_sql)
        else:
            rows = sql_compat(
                session.spark,
                f"SELECT * FROM VALUES {', '.join(tuples_sql)} AS __ins"
                f"({', '.join(use_cols)})")
    else:
        rows = session.sql(_render(body))
        use_cols = (cols if cols is not None
                    else target.columns[:len(rows.columns)])
        if gen_cols & set(use_cols):
            bad = sorted(gen_cols & set(use_cols))[0]
            raise ValueError(
                f'cannot insert a non-DEFAULT value into column "{bad}"'
                ": it is a generated column")
        if len(rows.columns) != len(use_cols):
            raise ValueError(
                f"INSERT SELECT produces {len(rows.columns)} columns "
                f"for {len(use_cols)} target columns")
        rows = rows.toDF(*use_cols)
    aligned = _align_rows(session, table, rows, use_cols)
    try:
        session.insert(table, aligned, on_conflict=conflict)
    except Exception as e:
        mm = re.search(r"(?:For input string|CAST_INVALID_INPUT.*?value)"
                       r"[:\s]*['\"]([^'\"]+)['\"]", str(e))
        if mm and ("NumberFormatException" in str(e)
                   or "CAST_INVALID_INPUT" in str(e)):
            # PG/DuckDB wording for a failed literal coercion
            # (basic.test:403) — the target type comes from the Spark
            # exception (CAST_INVALID_INPUT names it), INT32 only as
            # the NumberFormatException fallback
            tm = re.search(r'cannot be cast to "([A-Z_]+)"', str(e))
            spark_t = tm.group(1) if tm else "INT"
            pg_t = {"INT": "INT32", "BIGINT": "INT64",
                    "SMALLINT": "INT16", "TINYINT": "INT8",
                    "FLOAT": "FLOAT", "DOUBLE": "DOUBLE"}.get(
                        spark_t, spark_t)
            raise ValueError(
                f"Could not convert string '{mm.group(1)}' to {pg_t}"
            ) from None
        raise
    if returning is not None:
        # PG RETURNING: project the clause over the inserted rows
        # (core_sql_setup_claims.test INSERT ... RETURNING *)
        sel = "*" if returning.strip() == "*" else returning
        aligned.createOrReplaceTempView("__returning")
        return session.spark.sql(f"SELECT {sel} FROM __returning")
    return _status_df(session, "INSERT", table)


def _rewrite_excluded(toks: list[Tok]) -> list[Tok]:
    """``EXCLUDED.c`` → ``__exc_c`` (the incoming row's columns as
    dml.upsert_set joins them in)."""
    out = []
    for t in toks:
        if t.kind == "IDENT" and t.upper.startswith("EXCLUDED."):
            out.append(Tok("IDENT", "__exc_" + t.text.split(".", 1)[1]))
        else:
            out.append(t)
    return out


def _parse_conflict(toks: list[Tok]) -> dict:
    """ON CONFLICT [(cols) [WHERE pred] | ON CONSTRAINT name] DO
    NOTHING/UPDATE SET ... [WHERE pred] → a spec dict for
    session.insert: {'action': 'nothing'|'replace'|'update',
    'target': [col,...] | ('constraint', name) | None,
    'set': {col: expr_sql}, 'where': expr_sql | None}. Every DO UPDATE
    goes through the assignment-list form (dml.upsert_set): columns not
    assigned keep the TARGET row's value — PG semantics, which a
    full-row replace would get wrong on tables wider than the
    assignment list (insert_conflict.test t3: SET a = 99 keeps b)."""
    ts = _Stream(toks)
    ts.expect("ON"); ts.expect("CONFLICT")
    target = None
    if ts.peek() and ts.peek().text == "(":
        ts.next()
        target = []
        while True:
            target.append(_ident(ts))
            if ts.match(")"):
                break
            ts.expect(",")
        if ts.peek() and ts.peek().upper == "WHERE":
            # partial-index arbiter inference: no partial indexes here —
            # the predicate narrows WHICH index arbitrates, never the
            # match set, so it is accepted and dropped
            while ts.peek() and ts.peek().upper != "DO":
                ts.next()
    elif ts.peek() and ts.peek().upper == "ON":
        ts.next(); ts.expect("CONSTRAINT")
        target = ("constraint", _ident(ts))
    ts.expect("DO")
    if ts.match("NOTHING"):
        return {"action": "nothing", "target": target}
    ts.expect("UPDATE"); ts.expect("SET")
    body = toks[ts.i:]
    where_sql = None
    w = _find_clause(body, ("WHERE",))
    if w >= 0:
        where_sql = _expr_sql(_rewrite_excluded(body[w + 1:]))
        body = body[:w]
    set_sql: dict[str, str] = {}
    for asg in _split_top(body, (",",)):
        eq = _find_clause(asg, ("=",))
        if eq < 0:
            raise ValueError(
                f"bad ON CONFLICT assignment: {_render(asg)!r}")
        lhs = _render(asg[:eq])
        set_sql[lhs] = _expr_sql(_rewrite_excluded(asg[eq + 1:]))
    return {"action": "update", "target": target, "set": set_sql,
            "where": where_sql}


def _update(session, s: str) -> DataFrame:
    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("UPDATE")
    table = _ident(ts)
    _refuse_index_relation(session, table)
    _require_base_table(session, table, "Can only update base table")
    ts.expect("SET")
    w = _find_clause(toks, ("WHERE",), start=ts.i)
    set_span = toks[ts.i:w] if w >= 0 else toks[ts.i:]
    assignments: dict[str, object] = {}
    defaults = session._col_defaults.get(table, {})
    dtypes = dict(session._tables[table].dtypes)
    for asg in _split_top(set_span, (",",)):
        eq = _find_clause(asg, ("=",))
        if eq < 0:
            raise ValueError(f"bad UPDATE assignment: {_render(asg)!r}")
        lhs = _render(asg[:eq])
        if lhs in assignments:  # PG (update_pk.test:60)
            raise ValueError(
                f'multiple assignments to same column "{lhs}"')
        rhs = asg[eq + 1:]
        if lhs in session._generated.get(table, {}):
            raise ValueError(
                f'column "{lhs}" can only be updated to DEFAULT: it is '
                "a generated column")
        if len(rhs) == 1 and rhs[0].upper == "DEFAULT":
            # PG: SET col = DEFAULT (default_values.test)
            d = defaults.get(lhs)
            col = (F.expr(d) if isinstance(d, str)
                   else F.lit(d)).cast(dtypes.get(lhs))
            assignments[lhs] = col
        else:
            assignments[lhs] = F.expr(_expr_sql(rhs, session))
    # column-level enforcement (cp_column_grant_matrix.test): UPDATE
    # charges per assigned column; columns READ by the RHS or WHERE
    # charge SELECT
    session._check_privilege(table, "UPDATE",
                             columns={c.lower() for c in assignments})
    tcols = {c.lower() for c in dtypes}
    rhs_toks: list = []
    for asg in _split_top(set_span, (",",)):
        eq = _find_clause(asg, ("=",))
        rhs_toks += [t.text.lower() for t in asg[eq + 1:]]
    if w >= 0:
        rhs_toks += [t.text.lower() for t in toks[w + 1:]]
    reads = {c for c in tcols if c in rhs_toks}
    if reads:
        session._check_read_columns(table, reads)
    if w < 0:
        session.update(table, F.lit(True), assignments)
    else:
        cond = _dml_where(session, table, toks[w + 1:])
        if cond[0] == "col":
            session.update(table, cond[1], assignments)
        else:
            session.update_matching(table, cond[1], cond[2], assignments)
    return _status_df(session, "UPDATE", table)


def _delete(session, s: str) -> DataFrame:
    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("DELETE"); ts.expect("FROM")
    table = _ident(ts)
    _refuse_index_relation(session, table)
    _require_base_table(session, table,
                        "Can only delete from base table")
    w = _find_clause(toks, ("WHERE",), start=ts.i)
    if w >= 0 and table in session._tables:
        # WHERE reads charge SELECT per referenced column
        tcols = {c.lower() for c in session._tables[table].columns}
        wtoks = {t.text.lower() for t in toks[w + 1:]}
        reads = tcols & wtoks
        if reads:
            session._check_read_columns(table, reads)
    if w < 0:
        session.delete(table, F.lit(True))
    else:
        cond = _dml_where(session, table, toks[w + 1:])
        if cond[0] == "col":
            session.delete(table, cond[1])
        else:
            session.delete_matching(table, cond[1], cond[2])
    return _status_df(session, "DELETE", table)


def _truncate(session, s: str) -> DataFrame:
    ts = _Stream(tokenize(s))
    ts.expect("TRUNCATE")
    if ts.peek() and ts.peek().upper == "TABLE":
        ts.next()
    if ts.peek() and ts.peek().upper == "ONLY":
        ts.next()  # no inheritance: ONLY is a no-op (truncate.test:443)
    tables = [_ident(ts)]
    while ts.peek() is not None and (ts.match(",") or ts.match("*")):
        if ts.peek() is not None and ts.peek().upper == "ONLY":
            ts.next()  # per-relation ONLY (truncate.test:514)
        if ts.peek() is not None and ts.peek().kind == "IDENT" \
                and ts.peek().upper not in ("RESTART", "CONTINUE",
                                            "CASCADE", "RESTRICT",
                                            "IDENTITY"):
            tables.append(_ident(ts))
    # trailing `*` / RESTART|CONTINUE IDENTITY / CASCADE|RESTRICT are
    # accepted PG noise here (no inheritance, no identity columns)
    for table in tables:
        if table not in session._tables:
            if table in session._view_defs:
                raise ValueError(
                    f'Can only delete from base table: "{table}" is a '
                    "view")
            raise ValueError(
                f"Table with name {table} does not exist")
    for table in tables:
        session._check_privilege(table, "DELETE")
        session._tables[table] = session._tables[table].limit(0)
        session._reregister(table)
    return _status_df(session, "TRUNCATE", ", ".join(tables))


#: PG's full table-privilege set, relacl letter order (aclitemout)
_TABLE_PRIVS = ("INSERT", "SELECT", "UPDATE", "DELETE", "TRUNCATE",
                "REFERENCES", "TRIGGER")
_OBJ_PRIVS = {
    "database": ("CREATE", "TEMPORARY", "CONNECT"),
    "schema": ("USAGE", "CREATE"),
    "function": ("EXECUTE",),
    "sequence": ("USAGE", "SELECT", "UPDATE"),
    "type": ("USAGE",),
    "language": ("USAGE",),
}


def _grant(session, s: str, revoke: bool) -> DataFrame:
    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("REVOKE" if revoke else "GRANT")
    if ts.peek() and ts.peek().upper in ("GRANT", "ADMIN") \
            and ts.peek(1) is not None \
            and ts.peek(1).upper == "OPTION":
        # REVOKE GRANT OPTION FOR ... / ADMIN OPTION FOR ...
        opt_only = ts.next().upper
        ts.expect("OPTION"); ts.expect("FOR")
    else:
        opt_only = None
    # parse the first comma-list; ON afterwards ⇒ privilege form,
    # TO/FROM ⇒ role-membership form (PG GRANT role TO role)
    privs: list = []           # (PRIV, cols-or-None, raw-text)
    raws: list = []
    while True:
        tok = ts.next()
        p = tok.upper
        raws.append(tok.text.strip('"'))
        if p == "ALL" and ts.peek() and \
                ts.peek().upper == "PRIVILEGES":
            ts.next()
        cols = None
        if ts.peek() and ts.peek().text == "(":
            ts.next()
            cols = []
            while not ts.match(")"):
                t = ts.next()
                if t.text != ",":
                    cols.append(t.text.strip('"').lower())
        privs.append((p, cols))
        if not ts.match(","):
            break
    nxt = ts.peek()
    if nxt is not None and nxt.upper in ("TO", "FROM"):
        return _grant_membership(session, ts, raws, revoke, opt_only)
    ts.expect("ON")
    kind = "table"
    obj_kw = ts.peek().upper if ts.peek() else ""
    if obj_kw == "ALL":
        # GRANT ... ON ALL TABLES/SEQUENCES/FUNCTIONS IN SCHEMA s
        ts.next()
        what = ts.next().upper          # TABLES/SEQUENCES/FUNCTIONS
        ts.expect("IN"); ts.expect("SCHEMA")
        sch = _ident(ts)
        targets = []
        pref = "" if sch in ("public", "main") else sch + "."
        if what == "TABLES":
            targets = [t for t in session._tables
                       if (t.startswith(pref) if pref
                           else "." not in t)]
        elif what == "FUNCTIONS":
            targets = [f for f in session._macros_meta
                       if (f.startswith(pref) if pref
                           else "." not in f)]
        elif what == "SEQUENCES":
            targets = [s2 for s2 in getattr(session.sequences,
                                            "_seqs", {})
                       if (s2.startswith(pref) if pref
                           else "." not in s2)]
        kind = "table" if what == "TABLES" else what.lower()[:-1]
    elif obj_kw in ("DATABASE", "SCHEMA", "FUNCTION", "PROCEDURE",
                    "ROUTINE", "SEQUENCE", "TYPE", "LANGUAGE",
                    "FOREIGN", "TABLESPACE"):
        ts.next()
        if obj_kw == "FOREIGN":          # FOREIGN SERVER / DATA WRAPPER
            while ts.peek() and ts.peek().upper != "TO" \
                    and ts.peek().upper != "FROM":
                if ts.peek(1) and ts.peek(1).upper in ("TO", "FROM"):
                    break
                ts.next()
        kind = {"PROCEDURE": "function", "ROUTINE": "function"}.get(
            obj_kw, obj_kw.lower())
        targets = [_ident(ts)]
        if ts.peek() and ts.peek().text == "(":   # fn signature
            while ts.next().text != ")":
                pass
        while ts.match(","):
            targets.append(_ident(ts))
    else:
        if obj_kw == "TABLE":
            ts.next()
        targets = [_ident(ts)]
        while ts.match(","):
            targets.append(_ident(ts))
    ts.expect("FROM" if revoke else "TO")
    roles = []
    while True:
        if ts.peek() and ts.peek().upper == "GROUP":
            ts.next()
        roles.append(_ident(ts))
        if not ts.match(","):
            break
    grant_opt = False
    grantor = session.current_user or "postgres"
    cascade = False
    while ts.peek() is not None:
        kw = ts.next().upper
        if kw == "WITH":
            ts.expect("GRANT"); ts.expect("OPTION")
            grant_opt = True
        elif kw == "GRANTED":
            ts.expect("BY")
            grantor = _ident(ts)
        elif kw in ("CASCADE", "RESTRICT"):
            cascade = kw == "CASCADE"
    _ = cascade
    known = session.role_attrs()
    for r in roles:
        if r.lower() != "public" and r not in known:
            raise ValueError(f'role "{r}" does not exist')
    rnames = ["public" if r.lower() == "public" else r for r in roles]
    if kind == "table":
        for table in targets:
            if table not in session._tables and \
                    table not in session._view_defs:
                raise ValueError(
                    f'relation "{table}" does not exist')
            for r in rnames:
                for p, cols in privs:
                    if p == "ALL":
                        # column-applicable ALL = arwx only
                        # (cp_column_all_grant.test)
                        ps = (["INSERT", "SELECT", "UPDATE",
                               "REFERENCES"] if cols is not None
                              else list(_TABLE_PRIVS))
                    else:
                        ps = [p]
                    for one in ps:
                        if cols is not None:
                            if one in ("DELETE", "TRUNCATE",
                                       "TRIGGER", "MAINTAIN"):
                                raise ValueError(
                                    f"invalid privilege type {one} "
                                    "for column")
                            cg = session._col_grants
                            cm2 = cg.setdefault(r, {}).setdefault(
                                table, {})
                            cset = cm2.setdefault(one, set())
                            if revoke:
                                if opt_only is None:
                                    cset -= set(cols)
                                cm2.setdefault(
                                    one + "*",
                                    set()).difference_update(cols)
                            else:
                                cset |= set(cols)
                                if grant_opt:
                                    cm2.setdefault(one + "*",
                                                   set()).update(cols)
                                session._grantors[(r, table)] = grantor
                        elif revoke:
                            session.revoke(r, table, one)
                            if opt_only is None:
                                session.revoke(r, table, one + "*")
                                # a revoke of the priv also clears any
                                # column-level grant of it (PG folds
                                # attacl into the relation revoke)
                                session._col_grants.get(
                                    r, {}).get(table, {}).pop(one,
                                                              None)
                            else:
                                session.revoke(r, table, one + "*")
                        else:
                            session.grant(r, table, one)
                            if grant_opt:
                                session.grant(r, table, one + "*")
                            session._grantors[(r, table)] = grantor
        return _status_df(session, "REVOKE" if revoke else "GRANT",
                          ", ".join(targets))
    # non-table object privileges (DATABASE/SCHEMA/FUNCTION/...)
    og = session._obj_grants
    if kind == "type":
        for name in targets:
            if name not in session._enum_types and \
                    name not in session._composite_types:
                raise ValueError(
                    "cannot change privileges of built-in type "
                    f"{name}")
    for name in targets:
        key = (kind, name)
        # materialize the acl on first touch — PG's REVOKE ... FROM
        # PUBLIC instantiates the default acl minus the PUBLIC entry,
        # which is exactly what makes the revoke observable
        # (gobjacl_function_argtypes_babsky.test)
        gm = og.setdefault(key, {})
        for r in rnames:
            for p, _cols in privs:
                ps = (list(_OBJ_PRIVS.get(kind, ("USAGE",)))
                      if p == "ALL" else
                      ["TEMPORARY" if p == "TEMP" else p])
                for one in ps:
                    if revoke:
                        gm.get(r, {}).pop(one, None)
                        if opt_only is None:
                            gm.get(r, {}).pop(one + "*", None)
                    else:
                        ent = gm.setdefault(r, {})
                        ent[one] = grantor
                        if grant_opt:
                            ent[one + "*"] = grantor
    return _status_df(session, "REVOKE" if revoke else "GRANT",
                      ", ".join(targets))


def _grant_membership(session, ts, granted_roles, revoke: bool,
                      opt_only) -> DataFrame:
    """GRANT role[, role] TO member[, member] [WITH ADMIN OPTION]
    [GRANTED BY g] — the pg_auth_members edge surface
    (catm_authmembers_oid_unique.test)."""
    ts.expect("FROM" if revoke else "TO")
    members = []
    while True:
        if ts.peek() and ts.peek().upper == "GROUP":
            ts.next()
        members.append(_ident(ts))
        if not ts.match(","):
            break
    admin = False
    grantor = session.current_user or "postgres"
    while ts.peek() is not None:
        kw = ts.next().upper
        if kw == "WITH":
            ts.expect("ADMIN"); ts.expect("OPTION")
            admin = True
        elif kw == "GRANTED":
            ts.expect("BY")
            grantor = _ident(ts)
        elif kw in ("CASCADE", "RESTRICT"):
            pass
    attrs = session.role_attrs()
    for r in granted_roles + members:
        if r.lower() != "public" and r not in attrs:
            raise ValueError(f'role "{r}" does not exist')
    rm = session._role_members
    for r in granted_roles:
        for m in members:
            if not revoke and r == m:
                raise ValueError(
                    f'role "{r}" is a member of role "{m}"')
            if revoke:
                if opt_only == "ADMIN":
                    e = rm.get((r, m))
                    if e is not None:
                        e["admin"] = False
                else:
                    rm.pop((r, m), None)
            else:
                e = rm.get((r, m))
                if e is None:
                    rm[(r, m)] = {"admin": admin, "grantor": grantor,
                                  "oid": session._next_oid()}
                elif admin:
                    e["admin"] = True
    return _status_df(session, "REVOKE" if revoke else "GRANT",
                      ", ".join(granted_roles))


def _role_options(ts, a: dict) -> list:
    """Consume a CREATE/ALTER ROLE option list into attrs dict `a`.
    Returns membership requests [(kind, rolename)] for IN ROLE / ROLE /
    ADMIN clauses (PG role_specification grammar)."""
    flags = {
        "LOGIN": ("canlogin", True), "NOLOGIN": ("canlogin", False),
        "SUPERUSER": ("super", True), "NOSUPERUSER": ("super", False),
        "CREATEDB": ("createdb", True),
        "NOCREATEDB": ("createdb", False),
        "CREATEROLE": ("createrole", True),
        "NOCREATEROLE": ("createrole", False),
        "INHERIT": ("inherit", True), "NOINHERIT": ("inherit", False),
        "REPLICATION": ("replication", True),
        "NOREPLICATION": ("replication", False),
        "BYPASSRLS": ("bypassrls", True),
        "NOBYPASSRLS": ("bypassrls", False),
    }
    memberships: list = []
    while ts.peek() is not None:
        kw = ts.peek().upper
        if kw == "WITH":
            ts.next()
            continue
        if kw in flags:
            ts.next()
            k, v = flags[kw]
            a[k] = v
            continue
        if kw in ("ENCRYPTED", "UNENCRYPTED"):
            ts.next()
            continue
        if kw == "PASSWORD":
            ts.next()
            t = ts.next()
            a["password"] = (None if t.upper == "NULL"
                             else t.text.strip("'"))
            continue
        if kw == "CONNECTION":
            ts.next(); ts.expect("LIMIT")
            a["connlimit"] = int(ts.next().text)
            continue
        if kw == "VALID":
            ts.next(); ts.expect("UNTIL")
            a["validuntil"] = ts.next().text.strip("'")
            continue
        if kw == "SYSID":
            ts.next(); ts.next()
            continue
        if kw == "IN":
            ts.next()
            nxt = ts.next()          # ROLE or GROUP
            if nxt.upper not in ("ROLE", "GROUP"):
                raise ValueError(f"expected ROLE, got {nxt.text!r}")
            while True:
                memberships.append(("in_role", _ident(ts)))
                if not ts.match(","):
                    break
            continue
        if kw in ("ROLE", "USER"):
            ts.next()
            while True:
                memberships.append(("role", _ident(ts)))
                if not ts.match(","):
                    break
            continue
        if kw == "ADMIN":
            ts.next()
            while True:
                memberships.append(("admin", _ident(ts)))
                if not ts.match(","):
                    break
            continue
        raise ValueError(
            f"unrecognized role option {ts.peek().text!r}")
    return memberships


# --------------------------------------------------------------------------
# DDL
# --------------------------------------------------------------------------

def _create(session, s: str) -> DataFrame | None:
    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("CREATE")
    or_replace = False
    if ts.peek() and ts.peek().upper == "OR":
        ts.next(); ts.expect("REPLACE")
        or_replace = True
    nxt = ts.peek()
    if nxt is None:
        return None
    if nxt.upper == "TABLE":
        ts.next()
        return _create_table(session, s, toks, ts, or_replace)
    if nxt.upper == "VIEW":
        ts.next()
        return _create_view(session, toks, ts, or_replace)
    if nxt.upper == "SEQUENCE":
        ts.next()
        if_not_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("NOT"); ts.expect("EXISTS")
            if_not_exists = True
        sname = _ident(ts)
        kw = {}
        owned = None
        while ts.peek() is not None:
            w = ts.next().upper
            if w == "START":
                if ts.peek() and ts.peek().upper == "WITH":
                    ts.next()
                kw["start"] = int(ts.next().text)
            elif w == "INCREMENT":
                if ts.peek() and ts.peek().upper == "BY":
                    ts.next()
                kw["increment"] = int(ts.next().text)
            elif w == "MINVALUE":
                kw["minvalue"] = int(ts.next().text)
            elif w == "MAXVALUE":
                kw["maxvalue"] = int(ts.next().text)
            elif w == "CYCLE":
                kw["cycle"] = True
            elif w == "NO":
                nw = ts.next().upper
                if nw == "CYCLE":
                    kw["cycle"] = False
            elif w == "CACHE":
                ts.next()  # accepted, meaningless for a driver counter
            elif w == "OWNED":
                ts.expect("BY")
                owned = _ident(ts)
            else:
                raise NotImplementedError(
                    f"unsupported CREATE SEQUENCE option {w!r}")
        if sname in session.sequences._seqs and if_not_exists:
            return _status_df(session, "CREATE SEQUENCE",
                              f"{sname} (exists)")
        session.sequences.create(sname, **kw)
        if owned is not None:
            session.own_sequence(owned.split(".")[0], sname)
        return _status_df(session, "CREATE SEQUENCE", sname)
    if nxt.upper == "TYPE":
        # CREATE TYPE name AS ENUM (labels | SELECT ...) (ddl/enum.test,
        # site_docs/sql/data_types/enum.test). Enum columns map to
        # constrained strings (SURVEY §1.2) with definition-order
        # comparison/sorting restored by plans/enums.rewrite_enums.
        ts.next()
        tname = _ident(ts)
        if "." in tname:
            tsch = tname.split(".", 1)[0]
            if tsch not in session._schemas:
                raise ValueError(f'schema "{tsch}" does not exist')
        ts.expect("AS")
        etypes = session._enum_types
        ctypes = session._composite_types
        if tname in etypes or tname in ctypes:
            raise ValueError(f'type "{tname}" already exists')
        if ts.peek() is not None and ts.peek().text == "(":
            # CREATE TYPE name AS (field type, ...) — a composite type
            # (ddl/composite.test), mapped to a Spark struct
            ts.next()
            fields: list[tuple[str, str]] = []
            while True:
                fname = _ident(ts)
                if fname in {f for f, _ in fields}:
                    raise ValueError(
                        f'duplicate field name "{fname}" in composite '
                        "type")
                fields.append((fname, _user_type_ddl(session, ts)))
                if ts.match(")"):
                    break
                ts.expect(",")
            ctypes[tname] = fields
            return _status_df(session, "CREATE TYPE", tname)
        kindw = ts.next().upper
        if kindw != "ENUM":
            raise NotImplementedError(
                f"CREATE TYPE AS {kindw} is not supported "
                "(ENUM and composite only)")
        ts.expect("(")
        labels: list[str] = []
        if ts.peek() and ts.peek().upper == "SELECT":
            depth, start = 1, ts.i
            while depth:
                t = ts.next()
                if t.text == "(":
                    depth += 1
                elif t.text == ")":
                    depth -= 1
            df = session.sql(_render(toks[start:ts.i - 1]))
            seen = set()
            for r in df.collect():
                v = r[0]
                if v is not None and v not in seen:
                    seen.add(v)
                    labels.append(str(v))
        else:
            while not ts.match(")"):
                t = ts.next()
                if t.text == ",":
                    continue
                if t.kind != "STR":
                    raise ValueError(
                        "enum labels must be string literals")
                lab = _unquote(t.text)
                if lab in labels:
                    raise ValueError(
                        f'enum label "{lab}" used more than once')
                labels.append(lab)
        etypes[tname] = labels
        return _status_df(session, "CREATE TYPE", tname)
    if nxt.upper == "SCHEMA":
        # user schemas (schema.test): catalog keys become `schema.table`
        # and temp views mangle the dot (session._view_name); SQL-text
        # references map over via session._schema_rewrite
        ts.next()
        if_not_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("NOT"); ts.expect("EXISTS")
            if_not_exists = True
        sch = _ident(ts)
        if sch.startswith("pg_"):
            if if_not_exists and sch == "pg_catalog":
                return _status_df(session, "CREATE SCHEMA",
                                  f"{sch} (exists)")
            raise ValueError(
                f'unacceptable schema name "{sch}"\n'
                'DETAIL: The prefix "pg_" is reserved for system '
                "schemas.")
        schemas = session._schemas
        if sch in schemas or sch == "information_schema":
            if if_not_exists:
                return _status_df(session, "CREATE SCHEMA",
                                  f"{sch} (exists)")
            raise ValueError(f'schema "{sch}" already exists')
        schemas.add(sch)
        return _status_df(session, "CREATE SCHEMA", sch)
    if nxt.upper in ("ROLE", "USER", "GROUP"):
        # RBAC principals (any/pg/rbac/attributes.test): the full PG
        # attribute surface lands in the role store so pg_authid /
        # pg_roles render it and login connections enforce it.
        # CREATE USER defaults LOGIN; CREATE ROLE defaults NOLOGIN.
        is_user = ts.next().upper == "USER"
        rname = _ident(ts)
        roles = session._roles
        attrs = session.role_attrs()
        if rname in roles or rname in attrs:
            raise ValueError(f'role "{rname}" already exists')
        a = dict(session._ROLE_DEFAULTS, canlogin=is_user,
                 oid=session._next_oid())
        memberships = _role_options(ts, a)
        roles.add(rname)
        attrs[rname] = a
        rm = session._role_members
        for kind, other in memberships:
            if kind == "in_role":      # new role becomes member of other
                rm[(other, rname)] = {"admin": False,
                                      "grantor": "postgres",
                                      "oid": session._next_oid()}
            elif kind == "role":       # other becomes member of new role
                rm[(rname, other)] = {"admin": False,
                                      "grantor": "postgres",
                                      "oid": session._next_oid()}
            elif kind == "admin":
                rm[(rname, other)] = {"admin": True,
                                      "grantor": "postgres",
                                      "oid": session._next_oid()}
        return _status_df(session, "CREATE ROLE", rname)
    if nxt.upper in ("FUNCTION", "MACRO"):
        # DuckDB-style scalar macro: CREATE FUNCTION f(x INT) AS x * x
        # (reference catalog/function.h; session.create_macro)
        ts.next()
        fname = _ident(ts)
        ts.expect("(")
        params = []
        while not ts.match(")"):
            t = ts.next()
            if t.text != ",":
                params.append(t.text)
            else:
                params.append(",")
        if ts.peek() and ts.peek().upper == "RETURNS":
            # PG-standard SQL function (alter_rename.test): CREATE
            # FUNCTION f() RETURNS TABLE(a int, b text) LANGUAGE SQL
            # BEGIN ATOMIC <select>; END  |  ... RETURN <expr>
            ts.next()
            ret_schema = None
            if ts.peek() and ts.peek().upper == "TABLE":
                ts.next(); ts.expect("(")
                parts, start = [], ts.i
                depth = 1
                while depth:
                    t = ts.next()
                    if t.text == "(":
                        depth += 1
                    elif t.text == ")":
                        depth -= 1
                cols = _split_top(toks[start:ts.i - 1], (",",))
                defs = []
                for cdef in cols:
                    cts = _Stream(cdef)
                    defs.append(f"{_ident(cts)} {_spark_type(cts)}")
                ret_schema = ", ".join(defs)
            else:
                scalar_ret = _spark_type(ts)  # recorded for routines
            if ts.peek() and ts.peek().upper == "LANGUAGE":
                ts.next(); ts.next()
            if ts.peek() and ts.peek().upper == "BEGIN":
                ts.next(); ts.expect("ATOMIC")
                body = toks[ts.i:]
                e = _find_clause(body, ("END",))
                if e >= 0:
                    body = body[:e]
                body_sql = _render(body).rstrip("; ")
            elif ts.peek() and ts.peek().upper == "RETURN":
                ts.next()
                body_sql = _render(toks[ts.i:])
            else:
                ts.expect("AS")
                if ts.peek() is not None and ts.peek().kind == "STR":
                    # PG dollar-/string-quoted SQL body:
                    # AS 'SELECT $1 + 1' LANGUAGE sql
                    # (cat_acl_columns_db_func.test) — a scalar SELECT
                    # body is the select expression; $N positional
                    # refs resolve to the declared parameter names
                    body_sql = _unquote(ts.next().text).strip()
                    body_sql = re.sub(r"^\s*SELECT\s+", "", body_sql,
                                      flags=re.IGNORECASE).rstrip(";")
                    pnames = []
                    grp: list = []
                    for p in params + [","]:
                        if p == ",":
                            if grp:
                                pnames.append(grp[0])
                            grp = []
                        else:
                            grp.append(p)
                    body_sql = re.sub(
                        r"\$(\d+)",
                        lambda mm: pnames[int(mm.group(1)) - 1],
                        body_sql)
                else:
                    body_sql = _render(toks[ts.i:])
                    mlang = re.search(r"\s+LANGUAGE\s+\w+\s*$",
                                      body_sql, re.IGNORECASE)
                    if mlang:
                        body_sql = body_sql[:mlang.start()]
            if ret_schema is not None:
                session.create_table_macro(fname, " ".join(params),
                                           ret_schema, body_sql)
            else:
                session.create_macro(fname, " ".join(params), body_sql)
                meta = session._macros_meta.get(fname)
                if meta is not None and "scalar_ret" in dir():
                    # keep the declared return type for
                    # information_schema.routines (pg_catalog_data:610)
                    session._macros_meta[fname] = (
                        tuple(meta)[:3] + (None, scalar_ret))
            return _status_df(session, "CREATE FUNCTION", fname)
        ts.expect("AS")
        if ts.peek() and ts.peek().upper == "TABLE":
            ts.next()
            session.create_table_macro(fname, " ".join(params), "x int",
                                       _render(toks[ts.i:]))
        else:
            session.create_macro(fname, " ".join(params),
                                 _expr_sql(toks[ts.i:]))
        return _status_df(session, "CREATE FUNCTION", fname)
    if nxt.upper == "UNIQUE" and ts.peek(1) is not None \
            and ts.peek(1).upper == "INDEX":
        # CREATE UNIQUE INDEX n ON t(c): a real uniqueness constraint
        # (constraints_with_index.test) — enforced on every write
        ts.next(); ts.next()
        iname = _ident(ts)
        ts.expect("ON")
        table = _ident(ts)
        ts.expect("(")
        col = _ident(ts)
        if not ts.match(")"):
            raise NotImplementedError(
                "composite UNIQUE indexes are not supported")
        session.add_unique(table, col, iname, constraint=False)
        return _status_df(session, "CREATE INDEX", iname)
    if nxt.upper == "INDEX" and not any(
            t.upper == "INVERTED" for t in toks):
        # plain secondary CREATE INDEX (alter_rename.test, ART-index
        # analogue): a CATALOG object only — Spark's physical access
        # path is the parquet scan with pushdown/zonemaps, so the index
        # carries no structure; recorded for pg_index/DROP INDEX parity.
        # On a search-backed table the reference's wording applies
        # (search_table.test:205).
        ts.next()
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("NOT"); ts.expect("EXISTS")
        iname = _ident(ts)
        ts.expect("ON")
        table = _ident(ts)
        if session._storage.get(table) == "search":
            raise ValueError(
                "CREATE INDEX on a search-backed table is not yet "
                "supported")
        if table not in session._tables:
            raise ValueError(f'relation "{table}" does not exist')
        cols = []
        expr_index = False
        if ts.peek() and ts.peek().text == "(":
            ts.next()
            depth = 1
            while depth:
                t = ts.next()
                if t.text == "(":
                    depth += 1
                    expr_index = True  # e.g. CREATE INDEX ON t(abs(x))
                elif t.text == ")":
                    depth -= 1
                elif t.text != ",":
                    cols.append(t.text)
        if not expr_index:
            mods = {"ASC", "DESC", "NULLS", "FIRST", "LAST"}
            for c in cols:
                if c.upper() in mods:
                    continue
                if c.isidentifier() and c not in session._tables[
                        table].columns:
                    raise ValueError(f'column "{c}" does not exist')
        if ts.peek() and ts.peek().upper == "WHERE":
            # the reference scopes partial indexes to inverted ones
            # (core_sql_setup_claims.test)
            raise ValueError(
                "partial indexes are only supported for inverted "
                "indexes")
        si = session._secondary_indexes
        if iname in si:
            raise ValueError(f'index "{iname}" already exists')
        si[iname] = (table, tuple(cols))
        return _status_df(session, "CREATE INDEX", iname)
    return None  # CREATE INDEX / TEXT SEARCH DICTIONARY / MACRO: not ours


def _create_view(session, toks, ts, or_replace: bool) -> DataFrame:
    name = _ident(ts)
    ts.expect("AS")
    if name in session._view_defs and not or_replace:
        raise ValueError(f"view {name!r} already exists "
                         "(use CREATE OR REPLACE VIEW)")
    session.create_view(name, _render(toks[ts.i:]))
    return _status_df(session, "CREATE VIEW", name)


def _create_table(session, s, toks, ts: _Stream,
                  or_replace: bool) -> DataFrame:
    if_not_exists = False
    if ts.peek() and ts.peek().upper == "IF":
        ts.next(); ts.expect("NOT"); ts.expect("EXISTS")
        if_not_exists = True
    name = _ident(ts)
    if "." in name:
        sch = name.split(".", 1)[0]
        if sch not in session._schemas:
            raise ValueError(f'schema "{sch}" does not exist')
    nxt = ts.peek()
    storage = None
    if (nxt is not None and nxt.upper == "WITH"
            and ts.peek(1) is not None and ts.peek(1).text == "("):
        # CTAS spells options BEFORE AS (search_table.test:379)
        start = ts.i
        ts.next()
        depth = 0
        while True:
            t = ts.next()
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
                if depth == 0:
                    break
        storage = _parse_with_options(toks[start:ts.i])
        nxt = ts.peek()
    if nxt is not None and nxt.upper == "AS":          # CTAS
        ts.next()
        if name in session._tables and if_not_exists:
            return _status_df(session, "CREATE TABLE", f"{name} (exists)")
        session.create_table(name, session.sql(_render(toks[ts.i:])),
                             or_replace=or_replace)
        if storage is not None:
            st = session._storage
            st[name] = storage
            if storage == "search":
                _implicit_search_index(session, name)
        return _status_df(session, "CREATE TABLE", name)
    if nxt is None or nxt.text != "(":
        raise ValueError("CREATE TABLE expects (column defs) or AS SELECT")
    # capture the parenthesized coldef group
    depth = 0
    start = ts.i
    while True:
        t = ts.next()
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
            if depth == 0:
                break
    coldefs = toks[start + 1: ts.i - 1]
    if storage is None:
        storage = _parse_with_options(toks[ts.i:])
    if name in session._tables:
        if if_not_exists:
            return _status_df(session, "CREATE TABLE", f"{name} (exists)")
        if not or_replace:
            raise ValueError(f"table {name!r} already exists")
    schema_parts, after = _parse_coldefs(session, coldefs)
    df = local_frame(session.spark, ", ".join(schema_parts), [])
    session.create_table(name, df, or_replace=or_replace)
    session._generated.pop(name, None)  # replaced table
    if storage is not None:
        st = session._storage
        st[name] = storage
    try:
        for apply_constraint in after:
            apply_constraint(name)
        session.generated_order(name)  # cycle check at CREATE time
        if storage == "search":
            _implicit_search_index(session, name)
    except Exception:
        session.drop_table(name)  # all-or-nothing CREATE
        session._generated.pop(name, None)
        raise
    return _status_df(session, "CREATE TABLE", name)


def _implicit_search_index(session, table: str) -> None:
    """A search-backed table IS its index in the reference (the kSearch
    shard creates an iresearch directory at CREATE, search_table.test:
    10-17): mirror that with an implicit inverted index over the text
    columns, refreshed by VACUUM (REFRESH_TABLE). Explicit CREATE INDEX
    on the table is refused, matching the reference."""
    from serenedb_spark.plans.search_sql import CreateInvertedIndex

    fields = {c: "simple" for c, t in session._tables[table].dtypes
              if t == "string"}
    if not fields:
        return
    ddl = CreateInvertedIndex(name=f"{table}_search", table=table,
                              fields=fields, includes=[], where=None)
    session._create_inverted_index_sql(ddl, internal=True)
    marks = session._internal_indexes
    marks.add(ddl.name)


def _parse_with_options(tail: list[Tok]) -> str | None:
    """``WITH (storage = '...')`` — validated with the reference's exact
    error wording (search_table.test:44-55)."""
    if not tail or tail[0].upper != "WITH":
        return None
    ts = _Stream(tail)
    ts.expect("WITH"); ts.expect("(")
    storage = None
    interval_keys = []
    while True:
        key = _ident(ts).lower()
        if key.endswith("_interval"):
            interval_keys.append(key)
        ts.expect("=")
        val = ts.next()
        if key in ("refresh_interval", "commit_interval",
                   "consolidation_interval"):
            # search-table background-tick options (search_table.test):
            # accepted, must be integer literals
            if val.kind != "NUM" or "." in val.text:
                raise ValueError(
                    f'WITH option "{key}" expects an integer literal')
        if key == "storage":
            if val.kind != "STR":
                raise ValueError(
                    'WITH option "storage" expects a string literal')
            storage = _unquote(val.text)
            if storage.lower() not in ("transactional", "search"):
                raise ValueError(
                    'WITH option "storage" must be \'transactional\' or '
                    f'\'search\', got "{storage}"')
            storage = storage.lower()
        # skip to the matching bracket for list-valued options
        while ts.peek() and ts.peek().text == "[":
            depth = 0
            while True:
                t = ts.next()
                if t.text == "[":
                    depth += 1
                elif t.text == "]":
                    depth -= 1
                    if depth == 0:
                        break
        if key == "storage" and val.text == "[":
            raise ValueError(
                'WITH option "storage" expects a string literal')
        if ts.match(")"):
            break
        ts.expect(",")
    if interval_keys and storage != "search":
        # tick intervals are search-storage options (search_table.test)
        raise ValueError(
            f'unrecognized parameter "{interval_keys[0]}"')
    return storage


def _composite_ddl(session, tname: str) -> str:
    """A registered composite type name → its Spark struct DDL."""
    fields = session._composite_types[tname]
    return "struct<" + ",".join(f"{f}:{t}" for f, t in fields) + ">"


def _user_type_ddl(session, ts: _Stream) -> str:
    """One column/field type, resolving USER types first: composite →
    struct DDL (nested composites recurse through the registry), enum →
    string; everything else through _spark_type. A trailing `[]` makes
    an array (pudge_place[])."""
    t = ts.peek()
    out = None
    if t is not None and t.kind == "IDENT":
        name = (t.text if t.text in session._composite_types
                else t.text.lower())
        if name in session._composite_types:
            ts.next()
            out = _composite_ddl(session, name)
        elif (t.text in session._enum_types
              or t.text.lower() in session._enum_types):
            ts.next()
            out = "string"
    if out is None:
        return _spark_type(ts)
    while ts.peek() and ts.peek().text == "[":
        ts.next(); ts.expect("]")
        out = f"array<{out}>"
    return out


def _spark_type(ts: _Stream) -> str:
    """One PG column type → a Spark DDL type string."""
    t = ts.next()
    up = t.upper
    if up == "DOUBLE" and ts.peek() and ts.peek().upper == "PRECISION":
        ts.next()
        base = "double"
    elif up == "CHARACTER" and ts.peek() and ts.peek().upper == "VARYING":
        ts.next()
        base = "string"
    elif up in _PG_TYPE_MAP:
        base = _PG_TYPE_MAP[up]
    else:
        base = t.text.lower()  # already a Spark type spelling
    args = ""
    if ts.peek() and ts.peek().text == "(":
        ts.next()
        parts = []
        while not ts.match(")"):
            tk = ts.next()
            if tk.text != ",":
                parts.append(tk.text)
        if base == "decimal":
            args = f"({','.join(parts)})"
        # varchar(n)/char(n) length args drop: Spark strings are unbounded
    if base == "decimal" and not args:
        args = "(38,9)"
    if (ts.peek() and ts.peek().upper == "WITH"
            and ts.peek(1) and ts.peek(1).upper == "TIME"):
        ts.next(); ts.next(); ts.expect("ZONE")
    out = base + args
    while ts.peek() and ts.peek().text == "[":
        ts.next()
        if ts.peek() and ts.peek().kind == "NUM":
            ts.next()  # FLOAT[3]: fixed size is metadata, arrays unbound
        ts.expect("]")
        out = f"array<{out}>"
    return out


def _parse_coldefs(session, coldefs: list[Tok]):
    """Column/constraint defs → (Spark DDL parts, post-create hooks)."""
    schema: list[str] = []
    after: list = []
    check_i = [0]
    seen: set[str] = set()
    for item in _split_top(coldefs, (",",)):
        if not item:
            continue
        head = item[0].upper
        if head in ("PRIMARY", "CONSTRAINT", "CHECK", "FOREIGN", "UNIQUE"):
            after.append(_table_constraint(session, item))
            continue
        ts = _Stream(item)
        col = _ident(ts)
        if col.lower() in seen:  # create_table_errors.test
            raise ValueError(f'duplicate column name "{col}"')
        seen.add(col.lower())
        etypes = session._enum_types
        ctypes = session._composite_types
        tpk = ts.peek()
        if tpk is not None and tpk.kind == "IDENT" and (
                tpk.text in ctypes or tpk.text.lower() in ctypes):
            cty = tpk.text if tpk.text in ctypes else tpk.text.lower()
            ts.next()
            ddl = _composite_ddl(session, cty)
            while ts.peek() and ts.peek().text == "[":
                ts.next(); ts.expect("]")
                ddl = f"array<{ddl}>"
            schema.append(f"{col} {ddl}")

            def _mkcompcol(t, c=col, ty=cty):
                cc = session._composite_cols
                cc.setdefault(t, {})[c] = ty
            after.append(_mkcompcol)
            after.extend(_col_constraints(session, col, ts, check_i))
            continue
        if tpk is not None and (tpk.text in etypes
                                or tpk.text.lower() in etypes):
            # enum-typed column → constrained string + membership CHECK
            ety = tpk.text if tpk.text in etypes else tpk.text.lower()
            ts.next()
            schema.append(f"{col} string")

            def _mkenumcol(t, c=col, ty=ety):
                ec = session._enum_cols
                ec.setdefault(t, {})[c] = ty
                labels = session._enum_types[ty]
                quoted = ", ".join(
                    "'" + lab.replace("'", "''") + "'" for lab in labels)
                pred = (f"{c} IN ({quoted})" if labels
                        else f"{c} IS NULL")
                session.add_check(t, f"{t}_{c}_enum_check", pred)
            after.append(_mkenumcol)
            after.extend(_col_constraints(session, col, ts, check_i))
            continue
        serial = (ts.peek() is not None
                  and ts.peek().upper in ("SERIAL", "BIGSERIAL",
                                          "SMALLSERIAL"))
        # the implicit sequence caps at the column type's max so nextval
        # errors "reached maximum value" instead of an INSERT cast
        # failure burning ids (serial.test:528)
        serial_cap = {"SMALLSERIAL": 32767, "SERIAL": 2147483647,
                      "BIGSERIAL": 9223372036854775807}.get(
                          ts.peek().upper if serial else "")
        schema.append(f"{col} {_spark_type(ts)}")
        if serial:
            # SERIAL = owned sequence + nextval default (PG;
            # drop_cascade_edge.test)
            def _mkseq(t, c=col, cap=serial_cap):
                # PG name mangling: a pre-existing sequence with the
                # natural name pushes the implicit one to a `_seq1`
                # suffix instead of reusing or failing (serial.test:380)
                seq, n = f"{t}_{c}_seq", 0
                while seq in session.sequences._seqs:
                    n += 1
                    seq = f"{t}_{c}_seq{n}"
                session.sequences.create(seq, maxvalue=cap)
                session.alter_set_default(t, c, f"nextval('{seq}')")
                session.own_sequence(t, seq)
            after.append(_mkseq)
        after.extend(_col_constraints(session, col, ts, check_i))
    return schema, after


_NEXTVAL_RE = re.compile(
    r"^\s*nextval\s*\(\s*'([\w.]+)'\s*\)\s*$", re.IGNORECASE)


def _align_rows(session, table: str, rows: DataFrame,
                use_cols: list[str]) -> DataFrame:
    """Cast provided columns to the target schema and fill the rest from
    column DEFAULTs (nextval defaults via a distributed block-reserved
    sequences.assign — never a driver row loop) or NULL."""
    target = session._tables[table]
    dtypes = dict(target.dtypes)
    defaults = session._col_defaults.get(table, {})
    out, seq_cols = [], []
    for c in target.columns:
        if c in use_cols:
            out.append(F.col(c).cast(dtypes[c]).alias(c))
        elif c in defaults:
            d = defaults[c]
            m = _NEXTVAL_RE.match(str(d)) if isinstance(d, str) else None
            if m:
                seq_cols.append((c, m.group(1)))
                continue
            col = F.expr(d) if isinstance(d, str) else F.lit(d)
            out.append(col.cast(dtypes[c]).alias(c))
        else:
            out.append(F.lit(None).cast(dtypes[c]).alias(c))
    aligned = rows.select(*out)
    for c, seq in seq_cols:
        aligned = session.sequences.assign(aligned, seq, c)
        aligned = aligned.withColumn(c, F.col(c).cast(dtypes[c]))
    return aligned.select(*target.columns)


def _col_constraints(session, col: str, ts: _Stream, check_i: list):
    hooks = []
    nullability: str | None = None  # 'null' | 'notnull'
    saw_default = False

    def set_null(kind: str) -> None:
        nonlocal nullability
        if nullability is not None and nullability != kind:
            # constraint.test:1 — PRIMARY KEY NULL and friends
            raise ValueError(
                f"conflicting NULL/NOT NULL declarations for column "
                f'"{col}"')
        nullability = kind

    while ts.peek() is not None:
        kw = ts.next().upper
        name = None
        if kw == "CONSTRAINT":  # alter_table.test inline-named CHECKs
            name = _ident(ts)
            kw = ts.next().upper
        if kw == "PRIMARY":
            ts.expect("KEY")
            set_null("notnull")
            hooks.append(lambda t, c=col, n=name:
                         session.set_primary_key(t, c, constraint_name=n))
        elif kw == "NOT":
            ts.expect("NULL")
            set_null("notnull")
            hooks.append(lambda t, c=col, n=name:
                         session.alter_set_not_null(t, c,
                                                    constraint_name=n))
        elif kw == "NULL":
            set_null("null")
        elif kw == "UNIQUE":
            hooks.append(lambda t, c=col, n=name:
                         _unique(session, t, c, n))
        elif kw == "DEFAULT":
            if saw_default:  # default_values.test
                raise ValueError(
                    "multiple default values specified for column "
                    f'"{col}"')
            saw_default = True
            span = []
            stop = ("PRIMARY", "NOT", "NULL", "UNIQUE", "CHECK",
                    "REFERENCES", "CONSTRAINT", "DEFAULT", "GENERATED")
            while ts.peek() is not None and not (
                    ts.peek().kind == "IDENT" and ts.peek().upper in stop):
                span.append(ts.next())
            if any(t.upper == "SELECT" for t in span):
                raise ValueError(
                    "cannot use subquery in DEFAULT expression")
            hooks.append(lambda t, c=col, e=_expr_sql(span):
                         session.alter_set_default(t, c, e))
        elif kw == "CHECK":
            pred = _paren_group(ts)
            check_i[0] += 1
            def _addcheck(t, n=name, c=col, p=pred):
                if n is None:
                    # PG auto-name shape (constraint_index_catalog.test)
                    n = f"{t}_{c}_check"
                    k = 1
                    while n in session._checks.get(t, {}):
                        k += 1
                        n = f"{t}_{c}_check{k}"
                session.add_check(t, n, p)
            hooks.append(_addcheck)
        elif kw == "REFERENCES":
            rt = _ident(ts)
            rc = None
            if ts.peek() and ts.peek().text == "(":
                ts.next()
                rc = _ident(ts)
                ts.expect(")")
            hooks.append(lambda t, c=col, r=rt, k=rc, n=name:
                         session.add_foreign_key(t, c, r, k or c,
                                                 name=n))
        elif kw == "GENERATED":
            # GENERATED ALWAYS AS (expr) STORED (default_values.test):
            # recomputed on every INSERT/UPDATE; chains allowed, cycles
            # rejected at CREATE (session.generated_order)
            if ts.peek() is not None and ts.peek().upper != "ALWAYS":
                raise ValueError(  # PG wording, default_values.test:23
                    "for a generated column, GENERATED ALWAYS must be "
                    "specified")
            ts.expect("ALWAYS"); ts.expect("AS")
            expr = _paren_group(ts)
            # STORED and VIRTUAL coincide over immutable DataFrames:
            # both are expressions recomputed in the write lineage
            if not (ts.match("STORED") or ts.match("VIRTUAL")):
                raise ValueError(
                    "generated column requires STORED or VIRTUAL")
            if "SELECT" in expr.upper().split():
                raise ValueError(
                    "cannot use subquery in generation expression")
            if saw_default:  # default_values.test:17
                raise ValueError(
                    "both default and generation expression specified "
                    f'for column "{col}"')
            saw_default = True  # a later DEFAULT conflicts the same way

            def _gen(t, c=col, e=expr):
                g = session._generated
                g.setdefault(t, {})[c] = e
            hooks.append(_gen)
        elif kw == "USING":
            # USING COMPRESSION zstd — a storage codec hint; Spark's
            # parquet writer picks codecs via conf
            # (recovery/catalog_ddl_attributes.test)
            ts.expect("COMPRESSION"); ts.next()
        elif kw == "COLLATE":
            # per-column collation recorded as declared-only metadata
            cname = ts.next().text.strip("'\"")
            colls = session._collations
            colls[col] = cname
        else:
            raise NotImplementedError(
                f"unsupported column constraint {kw!r}")
    return hooks


def _unique(session, table: str, col: str,
            name: str | None = None) -> None:
    """UNIQUE goes through session.add_unique — the NULL-tolerant
    _uniques path (PG allows any number of NULLs in a UNIQUE column;
    hijacking the PK slot would reject them, constraint.test). The
    column still arbitrates ON CONFLICT targets via _uniques."""
    if session._pks.get(table) == col:
        return  # already the PK: UNIQUE is implied
    session.add_unique(table, col, name=name)


def _paren_group(ts: _Stream) -> str:
    ts.expect("(")
    depth = 1
    span: list[Tok] = []
    while depth:
        t = ts.next()
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
            if depth == 0:
                break
        span.append(t)
    return _expr_sql(span)


def _table_constraint(session, item: list[Tok]):
    ts = _Stream(item)
    name = None
    if ts.peek().upper == "CONSTRAINT":
        ts.next()
        name = _ident(ts)
    kw = ts.next().upper
    if kw == "PRIMARY":
        ts.expect("KEY"); ts.expect("(")
        cols = []
        while True:
            c = _ident(ts)
            if c in cols:  # create_table_errors.test PRIMARY KEY(y, y)
                raise ValueError(
                    f'column "{c}" appears twice in primary key '
                    "constraint")
            cols.append(c)
            if ts.match(")"):
                break
            ts.expect(",")
        return lambda t, c=tuple(cols), n=name: session.set_primary_key(
            t, c[0] if len(c) == 1 else c, constraint_name=n)
    if kw == "UNIQUE":
        ts.expect("(")
        col = _ident(ts)
        ts.expect(")")
        return lambda t, c=col, n=name: _unique(session, t, c, n)
    if kw == "CHECK":
        pred = _paren_group(ts)
        return lambda t, n=name, p=pred: session.add_check(
            t, n or f"{t}_check", p)
    if kw == "FOREIGN":
        ts.expect("KEY"); ts.expect("(")
        col = _ident(ts)
        ts.expect(")"); ts.expect("REFERENCES")
        rt = _ident(ts)
        rc = col
        if ts.peek() and ts.peek().text == "(":
            ts.next()
            rc = _ident(ts)
            ts.expect(")")
        return lambda t, c=col, r=rt, k=rc, n=name: \
            session.add_foreign_key(t, c, r, k, name=n)
    raise NotImplementedError(f"unsupported table constraint {kw!r}")


def _drop(session, s: str) -> DataFrame | None:
    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("DROP")
    kind = ts.next().upper
    if kind == "OWNED":
        # DROP OWNED BY role: revokes every privilege granted TO the
        # role and drops objects it owns (drm_acl_*.test teardown)
        ts.expect("BY")
        names = [_ident(ts)]
        while ts.match(","):
            names.append(_ident(ts))
        while ts.peek() is not None:          # CASCADE/RESTRICT
            ts.next()
        for rname in names:
            session._grants.pop(rname, None)
            session._col_grants.pop(rname, None)
            for gm in session._obj_grants.values():
                gm.pop(rname, None)
            owners = session._owners
            for t in [t for t, o in owners.items() if o == rname]:
                if t in session._tables:
                    session.drop_table(t, cascade=True)
                owners.pop(t, None)
        return _status_df(session, "DROP OWNED", ", ".join(names))
    if kind == "TYPE":
        if_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("EXISTS")
            if_exists = True
        tname = _ident(ts)
        cascade = bool(ts.peek() and ts.peek().upper == "CASCADE")
        etypes = session._enum_types
        ctypes = session._composite_types
        if tname not in etypes and tname not in ctypes:
            if if_exists:
                return _status_df(session, "DROP TYPE")
            raise ValueError(f'type "{tname}" does not exist')
        store = ("_enum_cols" if tname in etypes else "_composite_cols")
        deps = [(t, c) for t, cols in getattr(session, store,
                                              {}).items()
                for c, ty in cols.items() if ty == tname
                and t in session._tables]
        if deps and not cascade:
            raise ValueError(
                f'cannot drop type {tname} because other objects '
                "depend on it")
        for t, c in deps:
            # PG: DROP TYPE CASCADE drops the dependent COLUMNS
            session.alter_drop_column(t, c)
            getattr(session, store)[t].pop(c, None)
            session._checks.get(t, {}).pop(
                f"{t}_{c}_enum_check", None)
        (etypes if tname in etypes else ctypes).pop(tname)
        return _status_df(session, "DROP TYPE", tname)
    if kind == "SCHEMA":
        if_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("EXISTS")
            if_exists = True
        sch = _ident(ts)
        cascade = bool(ts.peek() and ts.peek().upper == "CASCADE")
        if sch in ("pg_catalog", "information_schema", "pg_toast"):
            # system schemas are undroppable (system/schema.test)
            raise ValueError(
                f"cannot drop schema {sch} because it is required by "
                "the database system")
        schemas = session._schemas
        if sch not in schemas:
            if if_exists:
                return _status_df(session, "DROP SCHEMA")
            raise ValueError(f'schema "{sch}" does not exist')
        if sch == "public":
            # PG allows dropping public; bare-named tables live there
            bare = [t for t in session._tables if "." not in t]
            if bare and not cascade:
                raise ValueError(
                    'cannot drop schema "public" because other '
                    "objects depend on it\n"
                    "HINT: Use DROP ... CASCADE to drop the dependent "
                    "objects too.")
        members = [t for t in session._tables
                   if t.startswith(sch + ".")]
        vmembers = [v for v in session._view_defs
                    if v.startswith(sch + ".")]
        smembers = [q for q in session.sequences._seqs
                    if q.startswith(sch + ".")]
        if (members or vmembers or smembers) and not cascade:
            raise ValueError(
                f'cannot drop schema "{sch}" because other objects '
                "depend on it")
        for v in vmembers:
            session.drop_view(v, cascade=True)
        for t in members:
            if t in session._tables:
                session.drop_table(t, cascade=True)
        for q in smembers:
            if q in session.sequences._seqs:
                session.drop_sequence_checked(q, cascade=True)
        schemas.discard(sch)
        session._obj_grants.pop(("schema", sch), None)
        return _status_df(session, "DROP SCHEMA", sch)
    if kind in ("ROLE", "USER", "GROUP"):
        if_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("EXISTS")
            if_exists = True
        names = [_ident(ts)]
        while ts.match(","):
            names.append(_ident(ts))
        roles = session._roles
        attrs = session.role_attrs()
        for rname in names:
            if rname not in roles and rname not in attrs:
                if if_exists:
                    continue
                raise ValueError(f'role "{rname}" does not exist')
            if rname == session.current_user:
                raise ValueError(
                    f'current user cannot be dropped')
            # PG 2BP01: refuse while privileges/objects depend on it
            # (dr_drop_role_dependency.test)
            has_grants = bool(
                any(session._grants.get(rname, {})
                    .values())
                or any(v for t in session._col_grants
                       .get(rname, {}).values() for v in t.values())
                or any(gm.get(rname) for gm in
                       session._obj_grants.values())
                or any(o == rname for o in
                       session._owners.values()))
            if has_grants:
                raise ValueError(
                    f'role "{rname}" cannot be dropped because some '
                    "objects depend on it")
            roles.discard(rname)
            attrs.pop(rname, None)
            rm = session._role_members
            for key in [k for k in rm if rname in k]:
                rm.pop(key)
            session._grants.pop(rname, None)
            session._col_grants.pop(rname, None)
        return _status_df(session, "DROP ROLE", ", ".join(names))
    if kind in ("FUNCTION", "MACRO"):
        if_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("EXISTS")
            if_exists = True
        fname = _ident(ts)
        if fname not in session._macros_meta and not if_exists:
            raise ValueError(
                f'could not find a function named "{fname}"')
        if ts.peek() and ts.peek().text == "(":  # signature form
            while ts.next().text != ")":
                pass
        casc = bool(ts.peek() and ts.peek().upper == "CASCADE")
        session.drop_macro(fname, cascade=casc)
        return _status_df(session, "DROP FUNCTION", fname)
    if kind == "SEQUENCE":
        if_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("EXISTS")
            if_exists = True
        sname = _ident(ts)
        casc = bool(ts.peek() and ts.peek().upper == "CASCADE")
        if sname not in session.sequences._seqs:
            if if_exists:
                return _status_df(session, "DROP SEQUENCE")
            raise ValueError(f'sequence "{sname}" does not exist')
        session.drop_sequence_checked(sname, cascade=casc)
        return _status_df(session, "DROP SEQUENCE", sname)
    if kind == "INDEX":
        if_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("EXISTS")
            if_exists = True
        iname = _ident(ts)
        si = session._secondary_indexes
        if iname in si:
            del si[iname]
            return _status_df(session, "DROP INDEX", iname)
        if if_exists and iname not in session._indexes:
            return _status_df(session, "DROP INDEX")
        return None  # inverted indexes: search_sql's DROP INDEX
    if kind not in ("TABLE", "VIEW"):
        return None  # DROP INDEX / TEXT SEARCH DICTIONARY: search_sql's
    if_exists = False
    if ts.peek() and ts.peek().upper == "IF":
        ts.next(); ts.expect("EXISTS")
        if_exists = True
    names = []
    while True:
        names.append(_ident(ts))
        if not ts.match(","):
            break
    cascade = bool(ts.peek() and ts.peek().upper == "CASCADE")
    for n in names:
        if kind == "TABLE":
            n = session.resolve_relation(n)
            if n not in session._tables:
                if n in session._secondary_indexes or n in session._indexes:
                    # drop.test: even with IF EXISTS, PG names the kind
                    raise ValueError(
                        f'"{n}" is not a table. Use DROP INDEX to '
                        "remove an index")
                if if_exists:
                    continue
                raise ValueError(f"table {n!r} does not exist")
            session.drop_table(n, cascade=cascade)
            session._storage.pop(n, None)
        else:
            if n not in session._view_defs:
                if if_exists:
                    continue
                raise ValueError(f"view {n!r} does not exist")
            session.drop_view(n, cascade=cascade)
    return _status_df(session, f"DROP {kind}", ", ".join(names))


def _rename_any(session, kindw: str, name: str, new: str) -> DataFrame:
    """RENAME for any relation kind (alter_rename.test — DuckDB routes
    ALTER TABLE/INDEX through one relation-rename path, so each works on
    tables, views and indexes; ALTER VIEW insists on a view)."""
    vd = session._view_defs
    si = session._secondary_indexes
    is_view = name in vd
    is_table = name in session._tables
    is_index = name in si or name in session._indexes
    if kindw == "VIEW":
        if is_table or is_index:
            raise ValueError(f'"{name}" is not a view')
        if not is_view:
            raise ValueError(f"View with name {name} does not exist!")
    elif not (is_table or is_view or is_index):
        raise ValueError(f"Table with name {name} does not exist!")
    if new in session._tables or new in vd or new in si:
        raise ValueError(f'relation "{new}" already exists')
    if is_table:
        _rename_table(session, name, new)
    elif is_view:
        d = vd.pop(name)
        vd[new] = d
        lazy = session._lazy_views
        if name in lazy:
            lazy.discard(name)
            lazy.add(new)
        else:
            session.spark.catalog.dropTempView(session._view_name(name))
            if isinstance(d, str):
                session.sql(d).createOrReplaceTempView(
                    session._view_name(new))
    elif name in si:
        si[new] = si.pop(name)
    else:  # inverted index
        session._indexes[new] = session._indexes.pop(name)
        srcs = session._index_sources
        if name in srcs:
            srcs[new] = srcs.pop(name)
        ddls = session._index_ddl
        if name in ddls:
            ddls[new] = ddls.pop(name)
    return _status_df(session, f"ALTER {kindw}", new)


def _alter(session, s: str) -> DataFrame | None:
    toks = tokenize(s)
    ts = _Stream(toks)
    ts.expect("ALTER")
    kindw = ts.peek().upper if ts.peek() else ""
    if kindw == "DEFAULT":
        # ALTER DEFAULT PRIVILEGES [FOR ROLE r] [IN SCHEMA s]
        # GRANT/REVOKE priv ON TABLES/... TO/FROM role — a
        # pg_default_acl row (cat_acl_columns_schema_defacl_type.test)
        ts.next(); ts.expect("PRIVILEGES")
        owner = "postgres"
        sch = None
        while ts.peek() and ts.peek().upper in ("FOR", "IN"):
            if ts.next().upper == "FOR":
                ts.next()                     # ROLE/USER
                owner = _ident(ts)
            else:
                ts.expect("SCHEMA")
                sch = _ident(ts)
        revoke2 = ts.next().upper == "REVOKE"
        privs2 = []
        while True:
            p = ts.next().upper
            if p == "ALL" and ts.peek() and \
                    ts.peek().upper == "PRIVILEGES":
                ts.next()
            privs2.append(p)
            if not ts.match(","):
                break
        ts.expect("ON")
        what = ts.next().upper        # TABLES/SEQUENCES/FUNCTIONS/...
        objtype = {"TABLES": "r", "SEQUENCES": "S",
                   "FUNCTIONS": "f", "ROUTINES": "f",
                   "TYPES": "T", "SCHEMAS": "n"}.get(what, "r")
        ts.expect("FROM" if revoke2 else "TO")
        grantees = [_ident(ts)]
        while ts.match(","):
            grantees.append(_ident(ts))
        da = session._default_acls
        ent = da.setdefault((owner, sch, objtype), {})
        for g in grantees:
            pm = ent.setdefault(g, set())
            for p in privs2:
                ps = (["SELECT", "INSERT", "UPDATE", "DELETE",
                       "TRUNCATE", "REFERENCES", "TRIGGER"]
                      if p == "ALL" and objtype == "r" else [p])
                for one in ps:
                    if revoke2:
                        pm.discard(one)
                    else:
                        pm.add(one)
            if revoke2 and not pm:
                ent.pop(g, None)
        if revoke2 and not ent:
            da.pop((owner, sch, objtype), None)
        return _status_df(session, "ALTER DEFAULT PRIVILEGES", what)
    if kindw in ("ROLE", "USER", "GROUP"):
        # ALTER ROLE name [WITH] option... | RENAME TO new
        # (any/pg/rbac/alter_role_attrs.test)
        ts.next()
        rname = _ident(ts)
        attrs = session.role_attrs()
        if rname not in attrs:
            raise ValueError(f'role "{rname}" does not exist')
        if ts.peek() and ts.peek().upper == "RENAME":
            ts.next(); ts.expect("TO")
            new = _ident(ts)
            if new in attrs:
                raise ValueError(f'role "{new}" already exists')
            attrs[new] = attrs.pop(rname)
            roles = session._roles
            roles.discard(rname)
            roles.add(new)
            rm = session._role_members
            for (r, m) in list(rm):
                if rname in (r, m):
                    rm[(new if r == rname else r,
                        new if m == rname else m)] = rm.pop((r, m))
            g = session._grants
            if rname in g:
                g[new] = g.pop(rname)
            cg = session._col_grants
            if rname in cg:
                cg[new] = cg.pop(rname)
            return _status_df(session, "ALTER ROLE", new)
        if ts.peek() and ts.peek().upper in ("SET", "RESET"):
            # ALTER ROLE ... SET guc TO v / RESET guc: rolconfig
            # carries `guc=v` entries (cat_role_attrs_vedernikoff.test)
            is_reset = ts.next().upper == "RESET"
            param = _ident(ts).lower()
            cfg = attrs[rname].setdefault("config", [])
            cfg[:] = [e for e in cfg
                      if not e.startswith(param + "=")]
            if not is_reset:
                if param != "all":
                    ts.match("=") or ts.match("TO")
                    vals = []
                    while ts.peek() is not None:
                        t = ts.next()
                        if t.text != ",":
                            vals.append(t.text.strip("'"))
                    cfg.append(f"{param}={','.join(vals)}")
            else:
                if param == "all":
                    cfg.clear()
            return _status_df(session, "ALTER ROLE", rname)
        _role_options(ts, attrs[rname])
        return _status_df(session, "ALTER ROLE", rname)
    if kindw in ("VIEW", "INDEX", "FUNCTION", "MACRO"):
        # only the RENAME TO form is ours; ALTER VIEW ... AS stays Spark
        ts.next()
        if_exists = False
        if ts.peek() and ts.peek().upper == "IF":
            ts.next(); ts.expect("EXISTS")
            if_exists = True
        name = _ident(ts)
        if if_exists and name not in session._tables \
                and name not in session._view_defs \
                and name not in session._secondary_indexes \
                and name not in session._indexes:
            return _status_df(session, f"ALTER {kindw}",
                              f"{name} (skipped, no such relation)")
        if not (ts.peek() and ts.peek().upper == "RENAME"):
            return None
        ts.next(); ts.expect("TO")
        new = _ident(ts)
        if kindw in ("FUNCTION", "MACRO"):
            meta = session._macros_meta
            if name not in meta:
                raise ValueError(
                    f'could not find a function named "{name}"')
            if new in meta or new in session._tables:
                raise ValueError(f'relation "{new}" already exists')
            params, is_table, body, *rest = meta.pop(name)
            session.spark.sql(
                f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
            if is_table:
                session.create_table_macro(
                    new, params, rest[0] if rest else "x int", body)
            else:
                session.create_macro(new, params, body)
            return _status_df(session, "ALTER FUNCTION", new)
        return _rename_any(session, kindw, name, new)
    if kindw != "TABLE":
        return None
    ts.next()
    if ts.peek() and ts.peek().upper == "IF":
        ts.next(); ts.expect("EXISTS")
        name = _ident(ts)
        if name not in session._tables:
            return _status_df(session, "ALTER TABLE",
                              f"{name} (skipped, no such table)")
        # rewind-free: continue parsing from here with the real table
        table = name
    else:
        table = _ident(ts)
    if table not in session._tables:
        if (ts.peek() and ts.peek().upper == "RENAME"
                and ts.peek(1) and ts.peek(1).upper == "TO"):
            # DuckDB routes ALTER TABLE RENAME through the generic
            # relation path: views and indexes rename too
            # (alter_rename.test:99-108)
            ts.next(); ts.next()
            return _rename_any(session, "TABLE", table, _ident(ts))
        if table in session._view_defs:
            if (ts.peek() and ts.peek().upper == "RENAME"
                    and ts.peek(1) and ts.peek(1).upper == "COLUMN"):
                raise ValueError(
                    "cannot rename columns of a non-table relation")
            if (ts.peek() and ts.peek().upper == "RENAME"
                    and ts.peek(1) and ts.peek(1).upper == "CONSTRAINT"):
                cname = toks[ts.i + 2].text
                raise ValueError(
                    f'constraint "{cname}" for table "{table}" does '
                    "not exist")
            raise ValueError(
                f'ALTER action cannot be performed on relation '
                f'"{table}": this operation is not supported for views')
        raise ValueError(f"Table with name {table} does not exist!")
    action = ts.next().upper
    if session._storage.get(table) == "search":
        # fixed iresearch schema: structural ALTERs rejected, renames
        # (catalog-only) allowed (search_table.test:218-252)
        nxt = ts.peek().upper if ts.peek() else ""
        form = {("ADD", "COLUMN"): "ADD COLUMN",
                ("DROP", "COLUMN"): "DROP COLUMN",
                ("ALTER", "COLUMN"): "ALTER COLUMN TYPE",
                ("DROP", "CONSTRAINT"): "DROP CONSTRAINT"}.get(
                    (action, nxt))
        if action == "ADD" and nxt not in ("CONSTRAINT", "PRIMARY",
                                           "CHECK", "FOREIGN", "UNIQUE",
                                           "COLUMN"):
            form = "ADD COLUMN"  # bare ADD col type
        if form is not None:
            raise ValueError(
                f"ALTER TABLE {form} on a search-backed table is not "
                "yet supported")
    if action == "ADD":
        return _alter_add(session, table, toks, ts)
    if action == "DROP":
        sub = ts.next().upper
        if sub == "COLUMN":
            session.alter_drop_column(table, _ident(ts))
            return _status_df(session, "ALTER TABLE", table)
        if sub == "CONSTRAINT":
            if_exists = False
            if ts.peek() and ts.peek().upper == "IF":
                ts.next(); ts.expect("EXISTS")
                if_exists = True
            session.drop_check(table, _ident(ts), if_exists=if_exists)
            return _status_df(session, "ALTER TABLE", table)
        raise NotImplementedError(f"unsupported ALTER TABLE DROP {sub}")
    if action == "RENAME":
        if ts.peek().upper == "TO":
            ts.next()
            new = _ident(ts)
            if "." in table and "." not in new:
                # PG: RENAME TO keeps the relation in its schema
                new = table.rsplit(".", 1)[0] + "." + new
            _rename_table(session, table, new)
            return _status_df(session, "ALTER TABLE", table)
        if ts.peek().upper == "CONSTRAINT":
            # ALTER TABLE ... RENAME CONSTRAINT old TO new
            # (alter_rename.test:292)
            ts.next()
            old = _ident(ts)
            ts.expect("TO")
            new = _ident(ts)
            checks = session._checks.get(table, {})
            fks = session._fks
            uq = session._uq_names.get(table, {})
            nn = session._nn_names.get(table, {})
            pkn = session._pk_names
            if old in checks:
                checks[new] = checks.pop(old)
            elif old in fks and fks[old][0] == table:
                fks[new] = fks.pop(old)
            elif old in uq.values():
                for c, n in list(uq.items()):
                    if n == old:
                        uq[c] = new
            elif old in nn.values():
                for c, n in list(nn.items()):
                    if n == old:
                        nn[c] = new
            elif pkn.get(table) == old:
                pkn[table] = new
            else:
                raise ValueError(
                    f'constraint "{old}" for table "{table}" does not '
                    "exist")
            return _status_df(session, "ALTER TABLE", table)
        if ts.peek().upper == "COLUMN":
            ts.next()
        old = _ident(ts)
        ts.expect("TO")
        new = _ident(ts)
        if old not in session._tables[table].columns:
            raise ValueError(
                f'column "{old}" of relation "{table}" does not exist')
        if new in session._tables[table].columns:
            raise ValueError(
                f'column "{new}" of relation "{table}" already exists')
        session.alter_rename_column(table, old, new)
        return _status_df(session, "ALTER TABLE", table)
    if action == "ALTER":
        if ts.peek().upper == "COLUMN":
            ts.next()
        col = _ident(ts)
        if col not in session._tables[table].columns:
            raise ValueError(
                f'column "{col}" of relation "{table}" does not exist')
        sub = ts.next().upper
        if sub == "SET":
            what = ts.next().upper
            if what == "DEFAULT":
                if col in session._generated.get(
                        table, {}):
                    raise ValueError(
                        "cannot set a default on generated column "
                        f'"{col}"')
                session.alter_set_default(
                    table, col, _expr_sql(toks[ts.i:]))
            elif what == "NOT":
                ts.expect("NULL")
                session.alter_set_not_null(table, col)
            else:
                raise NotImplementedError(f"unsupported ALTER COLUMN SET {what}")
        elif sub == "DROP":
            what = ts.next().upper
            if what == "DEFAULT":
                session._col_defaults.get(
                    table, {}).pop(col, None)
            elif what == "NOT":
                ts.expect("NULL")
                session._not_null.get(
                    table, set()).discard(col)
            else:
                raise NotImplementedError(f"unsupported ALTER COLUMN DROP {what}")
        elif sub == "TYPE":
            typ = _spark_type(ts)
            session._tables[table] = session._tables[table].withColumn(
                col, F.col(col).cast(typ))
            session._reregister(table)
        else:
            raise NotImplementedError(f"unsupported ALTER COLUMN action {sub}")
        return _status_df(session, "ALTER TABLE", table)
    raise NotImplementedError(f"unsupported ALTER TABLE action {action}")


def _alter_add(session, table: str, toks, ts: _Stream) -> DataFrame:
    nxt = ts.peek()
    if nxt.upper in ("CONSTRAINT", "PRIMARY", "FOREIGN", "CHECK", "UNIQUE"):
        _table_constraint(session, toks[ts.i:])(table)
        return _status_df(session, "ALTER TABLE", table)
    if nxt.upper == "COLUMN":
        ts.next()
    col = _ident(ts)
    typ = _spark_type(ts)
    default = None
    not_null = pk = False
    while ts.peek() is not None:
        kw = ts.next().upper
        if kw == "DEFAULT":
            span = []
            stop = ("NOT", "NULL", "PRIMARY", "UNIQUE", "CHECK")
            while ts.peek() is not None and not (
                    ts.peek().kind == "IDENT"
                    and ts.peek().upper in stop):
                span.append(ts.next())
            default = _expr_sql(span)
        elif kw == "NOT":
            ts.expect("NULL")
            not_null = True
        elif kw == "PRIMARY":
            ts.expect("KEY")
            pk = True
        elif kw == "NULL":
            pass
        elif kw == "USING":
            ts.expect("COMPRESSION"); ts.next()
        elif kw == "COLLATE":
            ts.next()
        else:
            raise NotImplementedError(
                f"unsupported ADD COLUMN constraint {kw!r}")
    if (not_null or pk) and default is None:
        # existing rows would hold NULLs (add_column_constraints.test)
        if session._tables[table].limit(1).count():
            raise ValueError(
                f'column "{col}" of relation "{table}" contains null '
                "values: ADD COLUMN NOT NULL/PRIMARY KEY needs a "
                "DEFAULT on a non-empty table")
    if default is not None:
        session.alter_add_column(table, col,
                                 expr=F.expr(default).cast(typ))
        session.alter_set_default(table, col, default)
    else:
        session.alter_add_column(table, col,
                                 expr=F.lit(None).cast(typ))
    if not_null:
        session.alter_set_not_null(table, col)
    if pk:
        session.set_primary_key(table, col)
    return _status_df(session, "ALTER TABLE", table)


def _rename_table(session, old: str, new: str) -> None:
    if new in session._tables:
        raise ValueError(f"table {new!r} already exists")
    session._tables[new] = session._tables.pop(old)
    for store in ("_pks", "_checks", "_comments", "_analyze_stats",
                  "_col_defaults", "_not_null", "_col_masks",
                  "_row_policies", "_storage", "_generated", "_uniques",
                  "_pk_names", "_nn_names", "_uq_names", "_enum_cols",
                  "_composite_cols"):
        d = getattr(session, store, None)
        if isinstance(d, dict) and old in d:
            d[new] = d.pop(old)
    srcs = session._index_sources
    for iname, src in list(srcs.items()):
        if src == old:
            srcs[iname] = new
    si = session._secondary_indexes
    for iname, (t, cols) in list(si.items()):
        if t == old:
            si[iname] = (new, cols)
    import dataclasses
    ddls = session._index_ddl
    for iname, ddl in list(ddls.items()):
        if ddl.table == old:
            ddls[iname] = dataclasses.replace(ddl, table=new)
    session.spark.catalog.dropTempView(session._view_name(old))
    session._reregister(new)


def _analyze(session, s: str) -> DataFrame:
    ts = _Stream(tokenize(s))
    ts.expect("ANALYZE")
    table = _ident(ts) if ts.peek() is not None else None
    if ts.peek() and ts.peek().text == "(":
        ts.next()
        while not ts.match(")"):
            c = _ident(ts)
            if c != "," and c not in session._tables[table].columns:
                raise ValueError(
                    f'Column with name "{c}" does not exist')
    session.analyze(table)
    return _status_df(session, "ANALYZE", table or "")


def _vacuum(session, s: str) -> DataFrame:
    """VACUUM [(REFRESH_TABLE)] [t] — storage here is immutable
    DataFrames, so plain VACUUM has nothing to reclaim; the
    REFRESH_TABLE form (search_table.test:70) rebuilds every SQL-created
    inverted index over the table so DML since CREATE INDEX becomes
    visible to `@@`."""
    ts = _Stream(tokenize(s))
    ts.expect("VACUUM")
    refresh = False
    if ts.peek() and ts.peek().text == "(":
        ts.next()
        while not ts.match(")"):
            if ts.next().upper == "REFRESH_TABLE":
                refresh = True
    table = _ident(ts) if ts.peek() is not None else None
    if refresh and table is not None:
        if table not in session._tables:
            # a missing table — or an index name, which is not a table
            # relation here (basic.test:61-68)
            raise ValueError(f'relation "{table}" does not exist')
        session.refresh_indexes(table)
    return _status_df(session, "VACUUM", table or "")


def _comment(session, s: str) -> DataFrame:
    ts = _Stream(tokenize(s))
    ts.expect("COMMENT"); ts.expect("ON")
    kind = ts.next().upper
    obj = _ident(ts)
    if kind == "COLUMN" and ts.peek() and ts.peek().text == ".":
        ts.next()
        obj = f"{obj}.{_ident(ts)}"
    ts.expect("IS")
    t = ts.next()
    session.comment_on(obj, None if t.upper == "NULL" else _unquote(t.text))
    return _status_df(session, "COMMENT", obj)
