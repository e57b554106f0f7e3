"""Analyzer (tokenizer) registry.

Mirrors the reference's ``CREATE TEXT SEARCH DICTIONARY`` templates
(reference: server/pg/commands/create_tsdictionary.cpp:255-776 and
server/pg/tokenizer_options.h:63-200) as a Python registry. Each analyzer
carries THREE mutually consistent representations:

  * ``expr(col)``   -> pyspark Column producing ``array<string>`` tokens.
                       JVM-side (no Python UDF) so index builds stay inside
                       whole-stage codegen at 100 TB scale.
  * ``tokens(s)``   -> pure-Python tokenization, used at query time on the
                       (tiny) query string, and by differential tests.
  * ``duckdb(sql)`` -> a DuckDB SQL fragment computing the same tokens, used
                       to state oracle queries for the correctness gate.

Keeping the three in lock-step is THE invariant: the reference enforces the
same property via its index-scan ≡ full-scan fuzz oracle
(tests/fuzz/null_semantics_fuzz.py:4-8).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small, fixed english stopword list (subset; deterministic, replicable in
# DuckDB SQL literals). The reference's `text` template uses ICU + snowball
# stopword lists; we pin an explicit list so oracles are reproducible.
ENGLISH_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)

_NON_ALNUM = "[^a-z0-9]+"


def _seq(lo: int, hi: Column) -> Column:
    """1-based index range lo..hi as a Column, EMPTY when hi < lo.

    (Plain ``F.sequence(lit(lo), hi)`` is a trap: Spark generates a
    DESCENDING sequence when hi < lo — sequence(1, 0) == [1, 0] — which
    silently produces garbage tokens for short inputs.)"""
    return F.filter(
        F.sequence(F.lit(lo), F.greatest(hi, F.lit(lo))),
        lambda i: i <= hi,
    )


@dataclass(frozen=True)
class Analyzer:
    """One named tokenizer pipeline (reference: server/catalog/tokenizer.h:48)."""

    name: str
    _expr: Callable[[Column], Column]
    _py: Callable[[str], list[str]]
    _duckdb: Callable[[str], str]
    # feature flags mirroring tokenizer_options.h:63-77; built-in
    # analyzers ship with norms (document lengths) so the DataFrame-API
    # scoring surface is fully length-normalized — CREATE TEXT SEARCH
    # DICTIONARY dictionaries opt in via `norm = true` (reference
    # default false, tokenizer_options.h:64)
    features: tuple[str, ...] = ("frequency", "position", "norm")

    def expr(self, col: Column) -> Column:
        """tokens as a JVM-side array<string> expression."""
        return self._expr(col)

    def tokens(self, s: str) -> list[str]:
        """Python tokenization of a query string."""
        if s is None:
            return []
        return self._py(s)

    def duckdb(self, sql_expr: str) -> str:
        """DuckDB SQL fragment producing the same token array."""
        return self._duckdb(sql_expr)


def _simple_expr(col: Column) -> Column:
    toks = F.split(F.lower(col), _NON_ALNUM)
    return F.filter(toks, lambda t: t != F.lit(""))


def _simple_py(s: str) -> list[str]:
    return [t for t in re.split(_NON_ALNUM, s.lower()) if t]


def _simple_duckdb(e: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({e}), '{_NON_ALNUM}'),"
        " t -> t <> '')"
    )


def _keyword_expr(col: Column) -> Column:
    return F.when(col.isNull(), F.lit(None).cast("array<string>")).otherwise(
        F.array(col.cast("string"))
    )


def _keyword_py(s: str) -> list[str]:
    return [str(s)]


def _keyword_duckdb(e: str) -> str:
    return f"CASE WHEN {e} IS NULL THEN NULL ELSE [CAST({e} AS VARCHAR)] END"


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"


def _nostem_text_expr(col: Column) -> Column:
    stop = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    return F.filter(_simple_expr(col), lambda t: ~F.array_contains(stop, t))


def _nostem_text_py(s: str) -> list[str]:
    stop = set(ENGLISH_STOPWORDS)
    return [t for t in _simple_py(s) if t not in stop]


def _nostem_text_duckdb(e: str) -> str:
    return (
        f"list_filter({_simple_duckdb(e)},"
        f" t -> NOT list_contains({_STOP_SQL}, t))"
    )


# ---- stemming -------------------------------------------------------------
# The reference's `text` template stems by default (snowball via ICU,
# create_tsdictionary.cpp:261). A full snowball stemmer is not expressible
# as portable SQL; we implement the Harman S-stemmer (1991) — the
# plural-conflation subset (ies→y, es→e, s→∅ with the standard exclusion
# suffixes) — identically in all three representations. Documented
# deviation: derivational suffixes (-ing, -ation, …) are not stripped.

def _sstem_token_col(t: Column) -> Column:
    return (
        F.when(
            t.endswith("ies") & ~(t.endswith("eies") | t.endswith("aies")),
            F.concat(F.substring(t, F.lit(1), F.length(t) - F.lit(3)),
                     F.lit("y")),
        )
        .when(
            t.endswith("es")
            & ~(t.endswith("aes") | t.endswith("ees") | t.endswith("oes")),
            F.substring(t, F.lit(1), F.length(t) - F.lit(1)),
        )
        .when(
            t.endswith("s") & ~(t.endswith("us") | t.endswith("ss")),
            F.substring(t, F.lit(1), F.length(t) - F.lit(1)),
        )
        .otherwise(t)
    )


def _sstem_token_py(t: str) -> str:
    if t.endswith("ies") and not (t.endswith("eies") or t.endswith("aies")):
        return t[:-3] + "y"
    if t.endswith("es") and not (
        t.endswith("aes") or t.endswith("ees") or t.endswith("oes")
    ):
        return t[:-1]
    if t.endswith("s") and not (t.endswith("us") or t.endswith("ss")):
        return t[:-1]
    return t


def _sstem_token_duck(t: str) -> str:
    return (
        f"CASE WHEN {t} LIKE '%ies' AND {t} NOT LIKE '%eies'"
        f" AND {t} NOT LIKE '%aies'"
        f" THEN substr({t}, 1, length({t}) - 3) || 'y'"
        f" WHEN {t} LIKE '%es' AND {t} NOT LIKE '%aes'"
        f" AND {t} NOT LIKE '%ees' AND {t} NOT LIKE '%oes'"
        f" THEN substr({t}, 1, length({t}) - 1)"
        f" WHEN {t} LIKE '%s' AND {t} NOT LIKE '%us' AND {t} NOT LIKE '%ss'"
        f" THEN substr({t}, 1, length({t}) - 1)"
        f" ELSE {t} END"
    )


def _text_expr(col: Column) -> Column:
    return F.transform(_nostem_text_expr(col), _sstem_token_col)


def _text_py(s: str) -> list[str]:
    return [_sstem_token_py(t) for t in _nostem_text_py(s)]


def _text_duckdb(e: str) -> str:
    return (
        f"list_transform({_nostem_text_duckdb(e)},"
        f" t -> {_sstem_token_duck('t')})"
    )


def _stem_expr(col: Column) -> Column:
    return F.transform(_simple_expr(col), _sstem_token_col)


def _stem_py(s: str) -> list[str]:
    return [_sstem_token_py(t) for t in _simple_py(s)]


def _stem_duckdb(e: str) -> str:
    return f"list_transform({_simple_duckdb(e)}, t -> {_sstem_token_duck('t')})"


def _ngram(n: int):
    """Character n-grams over the lowercased raw string (reference `ngram`
    template, create_tsdictionary.cpp:443; mingram=maxgram=n)."""

    def expr(col: Column) -> Column:
        s = F.lower(col)
        # start offsets 1..len-n+1 (1-based substr), JVM-side
        return F.transform(
            _seq(1, F.length(s) - F.lit(n - 1)), lambda i: s.substr(i, F.lit(n))
        )

    def py(s: str) -> list[str]:
        s = s.lower()
        return [s[i : i + n] for i in range(len(s) - n + 1)]

    def duck(e: str) -> str:
        return (
            f"list_transform(range(1, greatest(length(lower({e})) - {n - 1}, 0) + 1),"
            f" i -> substr(lower({e}), i, {n}))"
        )

    return expr, py, duck


def _ngram_range(lo: int, hi: int):
    """Ranged character n-grams (mingram < maxgram): at each offset the
    lengths lo..hi, in iresearch's position-then-length emission order
    (ngram_token_stream.cpp)."""
    def expr(col: Column) -> Column:
        s = F.lower(col)
        return F.flatten(F.transform(
            _seq(1, F.length(s)),
            lambda i: F.transform(
                _seq(lo, F.least(F.lit(hi), F.length(s) - i + 1)),
                lambda k: F.substring(s, i, k))))

    def py(v: str) -> list[str]:
        s = v.lower()
        return [s[i:i + k]
                for i in range(len(s))
                for k in range(lo, min(hi, len(s) - i) + 1)]

    def duck(e: str) -> str:
        s = f"lower({e})"
        inner = (f"list_transform(range({lo},"
                 f" least({hi}, length({s}) - i + 1) + 1),"
                 f" k -> substr({s}, CAST(i AS INT), CAST(k AS INT)))")
        return (f"flatten(list_transform(range(1, length({s}) + 1),"
                f" i -> {inner}))")

    return expr, py, duck


def _shingle(k: int):
    """Word k-shingles over simple tokens — the MinHash/near-dup unit."""

    def expr(col: Column) -> Column:
        # bind toks once — slicing a raw expression inside the lambda
        # re-tokenizes per shingle (O(len²), see _bind)
        return _bind(
            _simple_expr(col),
            lambda toks: F.transform(
                _seq(1, F.size(toks) - F.lit(k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        )

    def py(s: str) -> list[str]:
        toks = _simple_py(s)
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    def duck(e: str) -> str:
        t = _simple_duckdb(e)
        return (
            f"list_transform(range(1, greatest(len({t}) - {k - 1}, 0) + 1),"
            f" i -> array_to_string(list_slice({t}, i, i + {k - 1}), ' '))"
        )

    return expr, py, duck


def _bind(val: Column, fn) -> Column:
    """Evaluate `val` ONCE and pass it into `fn` as a materialized lambda
    variable. Spark HOF lambdas materialize their arguments, while plain
    expression references are re-evaluated at every use site (no CSE
    across lambda boundaries) — so `element_at(x, j)` on a bound variable
    is O(1), but on a raw transform() expression it re-runs the whole
    array construction per access."""
    return F.element_at(F.transform(F.array(val), fn), 1)


def _sparse_ngram(n: int):
    """`sparse_ngram` template (create_tsdictionary.cpp:465; demo6's
    GitHub-code-search scheme): of all character n-grams, keep only those
    whose md5 is a STRICT local minimum among both immediate neighbors.

    Superstring invariance is the load-bearing property: an interior gram's
    neighbors are the same in every occurrence of the string, so a gram
    selected inside a query is guaranteed selected (hence indexed) in every
    document containing the query — the covering query mode stays lossless
    while the postings shrink to ~1/3 of all grams. (The reference uses a
    monotonic-stack selection with the same invariant; local-min is the
    portable formulation.)"""

    def _grams_expr(col: Column) -> Column:
        s = F.lower(col)
        return F.transform(
            _seq(1, F.length(s) - F.lit(n - 1)), lambda i: s.substr(i, F.lit(n))
        )

    def expr(col: Column) -> Column:
        # grams and hashes are _bind-ed so each is computed exactly once
        # per row; element_at on the bound variables is then O(1) (indexing
        # a raw transform() expression instead re-evaluates the whole array
        # per access — an O(len²) trap that stalls at corpus scale)
        def with_g(g):
            def with_h(h):
                sel = F.filter(
                    _seq(2, F.size(g) - F.lit(1)),
                    lambda j: (F.element_at(h, j) < F.element_at(h, j - 1))
                    & (F.element_at(h, j) < F.element_at(h, j + 1)),
                )
                return F.transform(sel, lambda j: F.element_at(g, j))

            return _bind(F.transform(g, F.md5), with_h)

        return _bind(_grams_expr(col), with_g)

    def py(s: str) -> list[str]:
        import hashlib

        s = s.lower()
        grams = [s[i : i + n] for i in range(len(s) - n + 1)]
        h = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return [
            grams[j]
            for j in range(1, len(grams) - 1)
            if h[j] < h[j - 1] and h[j] < h[j + 1]
        ]

    def duck(e: str) -> str:
        g = (
            f"list_transform(range(1, greatest(length(lower({e})) - {n - 1}, 0) + 1),"
            f" i -> substr(lower({e}), i, {n}))"
        )
        return (
            f"list_transform(list_filter(range(2, greatest(len({g}) - 1, 1) + 1),"
            f" j -> md5({g}[j]) < md5({g}[j - 1])"
            f" AND md5({g}[j]) < md5({g}[j + 1])), j -> {g}[j])"
        )

    return expr, py, duck


#: explicit accent-fold map (latin-1/latin-ext subset) — pinned so the
#: Spark translate(), Python str.translate and DuckDB translate() agree
#: exactly (the reference's `norm` template folds via ICU; this map is the
#: portable core, documented deviation beyond it)
_ACCENTS_FROM = "àáâãäåèéêëìíîïòóôõöùúûüýÿñçšžāēīōū"
_ACCENTS_TO = "aaaaaaeeeeiiiiooooouuuuyyncszaeiou"


def _norm():
    """`norm`(alizing) template (create_tsdictionary.cpp:351): lowercase +
    accent fold, then the simple split — 'café' and 'cafe' index to the
    same term."""
    tr = str.maketrans(_ACCENTS_FROM, _ACCENTS_TO)

    def expr(col: Column) -> Column:
        folded = F.translate(F.lower(col), _ACCENTS_FROM, _ACCENTS_TO)
        return F.filter(F.split(folded, _NON_ALNUM), lambda t: t != F.lit(""))

    def py(s: str) -> list[str]:
        folded = s.lower().translate(tr)
        return [t for t in re.split(_NON_ALNUM, folded) if t]

    def duck(e: str) -> str:
        folded = f"translate(lower({e}), '{_ACCENTS_FROM}', '{_ACCENTS_TO}')"
        return (
            f"list_filter(regexp_split_to_array({folded}, '{_NON_ALNUM}'),"
            " t -> t <> '')"
        )

    return expr, py, duck


def _collation():
    """`collation` template (create_tsdictionary.cpp:342): the value as ONE
    token whose byte order IS the locale order. The reference emits full
    ICU sort keys; the portable subset here is a three-level key —
    primary  = lowercase + accent fold (case and accents ignored),
    secondary = lowercase (accents break primary ties),
    tertiary  = the original (case breaks the rest) —
    joined with \\x01 so binary string comparison applies the levels in
    ICU's order. Locale-specific tailoring (phonebook ö→oe etc.) is a
    documented deviation."""
    tr = str.maketrans(_ACCENTS_FROM, _ACCENTS_TO)
    sep = "\x01"

    def expr(col: Column) -> Column:
        primary = F.translate(F.lower(col), _ACCENTS_FROM, _ACCENTS_TO)
        key = F.concat_ws(sep, primary, F.lower(col), col)
        return F.when(col.isNull(), F.lit(None).cast("array<string>")) \
            .otherwise(F.array(key))

    def py(s: str) -> list[str]:
        return [sep.join((s.lower().translate(tr), s.lower(), s))]

    def duck(e: str) -> str:
        primary = f"translate(lower({e}), '{_ACCENTS_FROM}', '{_ACCENTS_TO}')"
        return (
            f"CASE WHEN {e} IS NULL THEN NULL ELSE "
            f"[concat_ws(chr(1), {primary}, lower({e}), {e})] END"
        )

    return expr, py, duck


def _classification(num_classes: int = 8, top_k: int = 1):
    """`classification` template (create_tsdictionary.cpp:535): emit the
    model's top-k class labels for the whole input. The reference loads a
    fastText supervised model; that lib is absent here, so the DEFAULT
    model is a deterministic md5 hash-classifier — 'lbl<h % C>' from the
    top_k leading hex groups of md5(lower(text)) — which keeps the
    analyzer's plumbing (index build, facets, oracles) fully checkable in
    all three representations. A real model plugs in executor-side via
    functions/embedding-style registration at the call site (pandas_udf
    over the same signature); documented deviation: no trained weights."""

    def expr(col: Column) -> Column:
        h = F.md5(F.lower(col))
        labels = [
            F.concat(
                F.lit("lbl"),
                (F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10).cast("long")
                 % num_classes).cast("string"),
            )
            for i in range(top_k)
        ]
        return F.when(col.isNull(), F.lit(None).cast("array<string>")) \
            .otherwise(F.array(*labels))

    def py(s: str) -> list[str]:
        import hashlib

        h = hashlib.md5(s.lower().encode()).hexdigest()
        return [
            f"lbl{int(h[4 * i:4 * i + 4], 16) % num_classes}"
            for i in range(top_k)
        ]

    def duck(e: str) -> str:
        # hex→int without a DuckDB builtin: positional digit fold
        def hex4(off: int) -> str:
            h = f"md5(lower({e}))"
            digits = [
                f"(strpos('0123456789abcdef', substr({h}, {off + j}, 1)) - 1)"
                f" * {16 ** (3 - j)}"
                for j in range(4)
            ]
            return "(" + " + ".join(digits) + ")"

        items = ", ".join(
            f"'lbl' || ({hex4(1 + 4 * i)} % {num_classes})"
            for i in range(top_k)
        )
        return f"CASE WHEN {e} IS NULL THEN NULL ELSE [{items}] END"

    return expr, py, duck


def _nearest_neighbors(k: int = 2):
    """`nearest_neighbors` template (create_tsdictionary.cpp:549): expand
    each word to its k nearest terms in an embedding model (reference:
    fastText). Deterministic stand-in: neighbor_i(w) = 'nn' ||
    substr(md5(i:w), 1, 6) — the expansion SHAPE (k terms per word,
    flattened, query/index symmetric) is what the engine exercises; real
    vectors are a documented deviation."""

    def expr(col: Column) -> Column:
        toks = _simple_expr(col)
        return F.flatten(F.transform(
            toks,
            lambda t: F.array(*[
                F.concat(F.lit("nn"),
                         F.substring(F.md5(F.concat_ws(":", F.lit(str(i)), t)),
                                     1, 6))
                for i in range(k)
            ]),
        ))

    def py(s: str) -> list[str]:
        import hashlib

        out = []
        for t in _simple_py(s):
            for i in range(k):
                h = hashlib.md5(f"{i}:{t}".encode()).hexdigest()
                out.append("nn" + h[:6])
        return out

    def duck(e: str) -> str:
        inner = ", ".join(
            f"'nn' || substr(md5('{i}:' || t), 1, 6)" for i in range(k)
        )
        return (
            f"flatten(list_transform({_simple_duckdb(e)}, t -> [{inner}]))"
        )

    return expr, py, duck


#: geopoint cell levels (degrees). The reference's geopoint analyzer emits
#: S2 cells at several levels so queries match coverings at any scale
#: (create_tsdictionary.cpp:613, libs/geo/); the flat-grid analogue emits
#: one term per level: "g<deg>:<row>:<col>".
_GEO_LEVELS = (4.0, 1.0, 0.25)


def _geopoint(levels: tuple[float, ...] = _GEO_LEVELS):
    """`geopoint` template: a "lat,lon" string → grid-cell terms at each
    level. Query side = covering cells → term disjunction → postings —
    the identical two-phase shape as functions/geo.radius_search but
    through the INVERTED INDEX (the reference's scheme), so geo predicates
    compose with text predicates in one boolean query."""

    def expr(col: Column) -> Column:
        parts = F.split(col, ",")
        lat = F.try_element_at(parts, F.lit(1)).try_cast("double")
        lon = F.try_element_at(parts, F.lit(2)).try_cast("double")
        toks = [
            F.concat_ws(":", F.lit(f"g{d}"),
                        F.floor(lat / F.lit(d)).cast("long"),
                        F.floor(lon / F.lit(d)).cast("long"))
            for d in levels
        ]
        return (
            F.when(col.isNull(), F.lit(None).cast("array<string>"))
            .when(lat.isNull() | lon.isNull(),
                  F.array().cast("array<string>"))  # not a point: no terms
            .otherwise(F.array(*toks))
        )

    def py(s: str) -> list[str]:
        import math

        parts = s.split(",")
        try:
            la, lo = float(parts[0]), float(parts[1])
        except (ValueError, IndexError):
            return []
        return [
            f"g{d}:{math.floor(la / d)}:{math.floor(lo / d)}"
            for d in levels
        ]

    def duck(e: str) -> str:
        la = f"TRY_CAST(string_split({e}, ',')[1] AS DOUBLE)"
        lo = f"TRY_CAST(string_split({e}, ',')[2] AS DOUBLE)"
        items = ", ".join(
            f"concat('g{d}', ':', CAST(floor({la} / {d}) AS BIGINT),"
            f" ':', CAST(floor({lo} / {d}) AS BIGINT))"
            for d in levels
        )
        return (
            f"CASE WHEN {e} IS NULL THEN NULL"
            f" WHEN {la} IS NULL OR {lo} IS NULL THEN []"
            f" ELSE [{items}] END"
        )

    return expr, py, duck


def _geojson(levels: tuple[float, ...] = _GEO_LEVELS):
    """`geojson` template (create_tsdictionary.cpp:652): a GeoJSON
    Point / LineString / Polygon string → grid-cell terms at each level.
    GeoJSON coordinate order is [lon, lat]. Non-point geometries are
    covered by their BOUNDING-BOX cells (all cells the bbox touches,
    row-major) — lossless but coarser than the reference's exact S2
    interior covering (documented deviation; the exact geometry check
    always runs on retrieved candidates, functions/geometry.py). Other
    geometry types and unparseable input emit no terms."""

    def expr(col: Column) -> Column:
        typ = F.get_json_object(col, "$.type")
        coords = F.get_json_object(col, "$.coordinates")
        pt = F.from_json(coords, "array<double>")
        ln = F.from_json(coords, "array<array<double>>")
        pg = F.from_json(coords, "array<array<array<double>>>")
        pos = (
            F.when(typ == "Point", F.array(pt))
            .when(typ == "LineString", ln)
            .when(typ == "Polygon", F.flatten(pg))
        )
        bad = F.size(F.filter(
            pos, lambda p: p.isNull() | (F.size(p) < 2)
            | F.element_at(p, 1).isNull() | F.element_at(p, 2).isNull()
        )) > 0
        lons = F.transform(pos, lambda p: F.element_at(p, 1))
        lats = F.transform(pos, lambda p: F.element_at(p, 2))
        x0, x1 = F.array_min(lons), F.array_max(lons)
        y0, y1 = F.array_min(lats), F.array_max(lats)
        per_level = []
        for d in levels:
            r0 = F.floor(y0 / F.lit(d)).cast("long")
            r1 = F.floor(y1 / F.lit(d)).cast("long")
            c0 = F.floor(x0 / F.lit(d)).cast("long")
            c1 = F.floor(x1 / F.lit(d)).cast("long")
            per_level.append(F.flatten(F.transform(
                F.sequence(r0, r1),
                lambda r: F.transform(
                    F.sequence(c0, c1),
                    lambda c: F.concat_ws(":", F.lit(f"g{d}"), r, c)),
            )))
        return (
            F.when(col.isNull(), F.lit(None).cast("array<string>"))
            .when(pos.isNull() | (F.size(pos) == 0) | bad,
                  F.array().cast("array<string>"))
            .otherwise(F.concat(*per_level))
        )

    def py(s: str) -> list[str]:
        import json
        import math

        try:
            obj = json.loads(s)
            typ = obj.get("type") if isinstance(obj, dict) else None
            if typ == "Point":
                pos = [obj["coordinates"]]
            elif typ == "LineString":
                pos = obj["coordinates"]
            elif typ == "Polygon":
                pos = [p for ring in obj["coordinates"] for p in ring]
            else:
                return []
            pos = [(float(p[0]), float(p[1])) for p in pos]
            if not pos:
                return []
        except (ValueError, KeyError, IndexError, TypeError):
            return []
        x0, x1 = min(x for x, _ in pos), max(x for x, _ in pos)
        y0, y1 = min(y for _, y in pos), max(y for _, y in pos)
        out = []
        for d in levels:
            for r in range(math.floor(y0 / d), math.floor(y1 / d) + 1):
                for c in range(math.floor(x0 / d), math.floor(x1 / d) + 1):
                    out.append(f"g{d}:{r}:{c}")
        return out

    def duck(e: str) -> str:
        typ = f"json_extract_string({e}, '$.type')"
        coords = f"json_extract({e}, '$.coordinates')"
        pos = (
            f"CASE WHEN {typ} = 'Point'"
            f" THEN [json_transform({coords}, '[\"DOUBLE\"]')]"
            f" WHEN {typ} = 'LineString'"
            f" THEN json_transform({coords}, '[[\"DOUBLE\"]]')"
            f" WHEN {typ} = 'Polygon'"
            f" THEN flatten(json_transform({coords}, '[[[\"DOUBLE\"]]]'))"
            f" END"
        )
        bad = (
            f"len(list_filter({pos}, p -> p IS NULL OR len(p) < 2"
            f" OR p[1] IS NULL OR p[2] IS NULL)) > 0"
        )
        x0 = f"list_min(list_transform({pos}, p -> p[1]))"
        x1 = f"list_max(list_transform({pos}, p -> p[1]))"
        y0 = f"list_min(list_transform({pos}, p -> p[2]))"
        y1 = f"list_max(list_transform({pos}, p -> p[2]))"
        per_level = []
        for d in levels:
            r0 = f"CAST(floor({y0} / {d}) AS BIGINT)"
            r1 = f"CAST(floor({y1} / {d}) AS BIGINT)"
            c0 = f"CAST(floor({x0} / {d}) AS BIGINT)"
            c1 = f"CAST(floor({x1} / {d}) AS BIGINT)"
            per_level.append(
                f"flatten(list_transform(range({r0}, {r1} + 1),"
                f" r -> list_transform(range({c0}, {c1} + 1),"
                f" c -> concat('g{d}', ':', r, ':', c))))"
            )
        cells = " || ".join(per_level)
        # explicit VARCHAR[] casts: with a literal input DuckDB constant-
        # folds the branches and then refuses to unify []'s "NULL"[] type
        return (
            f"CASE WHEN {e} IS NULL THEN NULL"
            f" WHEN NOT json_valid({e}) THEN []::VARCHAR[]"  # json_* throws
            f" WHEN {pos} IS NULL OR len({pos}) = 0 OR {bad}"
            f" THEN []::VARCHAR[]"
            f" ELSE CAST({cells} AS VARCHAR[]) END"
        )

    return expr, py, duck


def geopoint_cover_terms(lat: float, lon: float, radius_m: float,
                         level: float = 1.0) -> list[str]:
    """Query-side covering: the cell terms a radius query must OR together
    (level must be one of the analyzer's levels)."""
    from serenedb_spark.functions.geo import covering_cells

    return [f"g{level}:{cell}"
            for cell in covering_cells(lat, lon, radius_m, level)]


_REGISTRY: dict[str, Analyzer] = {}

#: analyzers every session shares; CREATE/DROP TEXT SEARCH DICTIONARY
#: refuse these names
BUILTIN_ANALYZERS = ("keyword", "simple", "text")


def register(a: Analyzer) -> Analyzer:
    _REGISTRY[a.name] = a
    return a


def get_analyzer(name: str) -> Analyzer:
    try:
        return _REGISTRY[name]
    except KeyError:
        # the reference words this "tokenizer not found in catalog"
        # (tsquery_match.test:1775 pins the phrase)
        raise KeyError(
            f"tokenizer not found in catalog: unknown analyzer {name!r}; "
            f"known: {sorted(_REGISTRY)}"
        ) from None


def analyzers() -> dict[str, Analyzer]:
    return dict(_REGISTRY)


def _delimiter(delim: str):
    """Split on a literal delimiter (reference `delimiter` template,
    create_tsdictionary.cpp:364). Empty tokens are kept out, case kept."""
    import re as _re

    def expr(col: Column) -> Column:
        return F.filter(
            F.split(col, _re.escape(delim)), lambda t: t != F.lit("")
        )

    def py(s: str) -> list[str]:
        return [t for t in s.split(delim) if t]

    def duck(e: str) -> str:
        d = delim.replace("'", "''")
        return f"list_filter(string_split({e}, '{d}'), t -> t <> '')"

    return expr, py, duck


def _pattern(pat: str):
    """Split on a regex (reference `pattern`/`multi_delimiter` templates,
    create_tsdictionary.cpp:381-401). Pattern must be in the
    Java-regex ∩ RE2 common dialect."""
    import re as _re

    rx = _re.compile(pat)

    def expr(col: Column) -> Column:
        return F.filter(F.split(col, pat), lambda t: t != F.lit(""))

    def py(s: str) -> list[str]:
        return [t for t in rx.split(s) if t]

    def duck(e: str) -> str:
        p = pat.replace("'", "''")
        return f"list_filter(regexp_split_to_array({e}, '{p}'), t -> t <> '')"

    return expr, py, duck


def _path_hierarchy(sep: str = "/"):
    """Prefix-path tokens: /a/b/c → [/a, /a/b, /a/b/c] (reference
    `path_hierarchy` template, create_tsdictionary.cpp:420)."""

    def py(s: str) -> list[str]:
        parts = [p for p in s.split(sep) if p]
        return [sep + sep.join(parts[: i + 1]) for i in range(len(parts))]

    def expr(col: Column) -> Column:
        parts = F.filter(F.split(col, sep), lambda t: t != F.lit(""))
        return F.transform(
            _seq(1, F.size(parts)),
            lambda i: F.concat(F.lit(sep), F.array_join(F.slice(parts, 1, i), sep)),
        )

    def duck(e: str) -> str:
        return (
            f"list_transform(range(1, greatest(len(list_filter(string_split({e}, '{sep}'), t -> t <> '')), 0) + 1),"
            f" i -> '{sep}' || array_to_string(list_filter(string_split({e}, '{sep}'), t -> t <> '')[1:i], '{sep}'))"
        )

    return expr, py, duck


def _edge_ngram(min_n: int, max_n: int):
    """Edge n-grams of the lowercased string: prefixes of length
    min_n..max_n (the reference ngram template's preserve-prefix mode,
    tokenizer_options.h mingram/maxgram)."""

    def expr(col: Column) -> Column:
        s = F.lower(col)
        out = F.transform(
            _seq(min_n, F.least(F.length(s), F.lit(max_n))),
            lambda n: s.substr(F.lit(1), n),
        )
        # least() skips NULLs, so guard explicitly: NULL in → NULL out
        return F.when(col.isNull(), F.lit(None).cast("array<string>")).otherwise(out)

    def py(s: str) -> list[str]:
        s = s.lower()
        return [s[:n] for n in range(min_n, min(len(s), max_n) + 1)]

    def duck(e: str) -> str:
        lo = f"lower({e})"
        return (
            f"list_filter(list_transform(range({min_n},"
            f" greatest(least(length({lo}), {max_n}), {min_n - 1}) + 1),"
            f" n -> substr({lo}, 1, n)), t -> length(t) >= {min_n})"
        )

    return expr, py, duck


def _segmentation():
    """UAX#29-flavored word segmentation (reference `segmentation` template,
    create_tsdictionary.cpp:477): split on whitespace, trim edge
    punctuation, keep interior marks ("don't", "a.b" stay one token),
    lowercase.  Approximation of ICU BreakIterator — the MidLetter /
    MidNumLet keep-together behavior is the part we reproduce; full
    locale-aware breaks are a documented deviation (pyicu not available)."""
    trim = "^[^a-z0-9]+|[^a-z0-9]+$"

    def expr(col: Column) -> Column:
        raw = F.split(F.lower(col), r"\s+")
        return F.filter(
            F.transform(raw, lambda t: F.regexp_replace(t, trim, "")),
            lambda t: t != F.lit(""),
        )

    def py(s: str) -> list[str]:
        out = []
        for t in re.split(r"\s+", s.lower()):
            t = re.sub(trim, "", t)
            if t:
                out.append(t)
        return out

    def duck(e: str) -> str:
        return (
            f"list_filter(list_transform("
            f"regexp_split_to_array(lower({e}), '\\s+'),"
            f" t -> regexp_replace(t, '{trim}', '', 'g')), t -> t <> '')"
        )

    return expr, py, duck


def _minhash(num_hashes: int, base: str = "simple"):
    """`minhash` template (create_tsdictionary.cpp:758): the token stream
    becomes its MinHash signature — num_hashes tokens, each the
    lexicographic min of md5(seed || ':' || token) over distinct base
    tokens (md5-as-permutation, same trick as operators/dedup.py)."""

    def expr(col: Column) -> Column:
        def with_toks(toks):
            def _seed_min(prefix: str) -> Column:
                # NB: keep the transform lambda single-argument — a 2-arg
                # lambda is interpreted by F.transform as (element, index)
                return F.array_min(
                    F.transform(toks, lambda t: F.md5(F.concat(F.lit(prefix), t)))
                )

            mins = [_seed_min(f"{i}:") for i in range(num_hashes)]
            empty = F.array_remove(F.array(F.lit("")), "")
            return F.when(F.size(toks) > 0, F.array(*mins)).otherwise(empty)

        return F.when(col.isNull(), F.lit(None).cast("array<string>")).otherwise(
            _bind(F.array_distinct(get_analyzer(base).expr(col)), with_toks)
        )

    def py(s: str) -> list[str]:
        import hashlib

        toks = sorted(set(get_analyzer(base).tokens(s)))
        if not toks:
            return []
        return [
            min(hashlib.md5(f"{i}:{t}".encode()).hexdigest() for t in toks)
            for i in range(num_hashes)
        ]

    def duck(e: str) -> str:
        inner = f"list_distinct({get_analyzer(base).duckdb(e)})"
        mins = ", ".join(
            f"list_min(list_transform({inner}, t -> md5('{i}:' || t)))"
            for i in range(num_hashes)
        )
        return (
            f"CASE WHEN {e} IS NULL THEN NULL"
            f" WHEN len({inner}) > 0 THEN [{mins}]"
            f" ELSE list_filter([''], x -> x <> '') END"
        )

    return expr, py, duck


#: wildcard-template analyzers: name -> (gram size, inner tokenizer name
#: or None). The planner uses this to compile ts_like/ts_starts_with
#: over gram indexes as anchored-gram claims + an exact LIKE verify
#: (plans/planner._wildcard_gram_claim) — without it a gram term
#: matching `sea%` would claim docs merely CONTAINING 'sea'.
WILDCARD_META: dict[str, tuple[int, str | None]] = {}


def _wildcard_grams(n: int = 3):
    """`wildcard` template (create_tsdictionary.cpp:771): boundary-marked
    character n-grams of the whole value ('$spark$' → $sp, spa, …, rk$) —
    the gram prefilter that accelerates ts_like over an index (Lucene-style
    wildcard-over-ngrams)."""
    mark = "$"

    def expr(col: Column) -> Column:
        s = F.concat(F.lit(mark), F.lower(col), F.lit(mark))
        return F.transform(
            _seq(1, F.length(s) - F.lit(n - 1)), lambda i: s.substr(i, F.lit(n))
        )

    def py(s: str) -> list[str]:
        s = mark + s.lower() + mark
        return [s[i : i + n] for i in range(len(s) - n + 1)]

    def duck(e: str) -> str:
        s = f"('{mark}' || lower({e}) || '{mark}')"
        return (
            f"list_transform(range(1, greatest(length({s}) - {n - 1}, 0) + 1),"
            f" i -> substr({s}, i, {n}))"
        )

    return expr, py, duck


def make_pipeline(name: str, base: str, filters: tuple[str, ...]) -> "Analyzer":
    """`pipeline` template (create_tsdictionary.cpp:665): one tokenizer
    followed by token-level filter stages, applied in order. Supported
    stages: 'stopwords' (english list), 'stem' (S-stemmer)."""
    b = get_analyzer(base)

    def expr(col: Column) -> Column:
        out = b.expr(col)
        for f_ in filters:
            if f_ == "stopwords":
                stop = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
                out = F.filter(out, lambda t: ~F.array_contains(stop, t))
            elif f_ == "stem":
                out = F.transform(out, _sstem_token_col)
            else:
                raise KeyError(f"unknown pipeline stage {f_!r}")
        return out

    def py(s: str) -> list[str]:
        out = b.tokens(s)
        for f_ in filters:
            if f_ == "stopwords":
                stop = set(ENGLISH_STOPWORDS)
                out = [t for t in out if t not in stop]
            elif f_ == "stem":
                out = [_sstem_token_py(t) for t in out]
        return out

    def duck(e: str) -> str:
        out = b.duckdb(e)
        for f_ in filters:
            if f_ == "stopwords":
                out = f"list_filter({out}, t -> NOT list_contains({_STOP_SQL}, t))"
            elif f_ == "stem":
                out = f"list_transform({out}, t -> {_sstem_token_duck('t')})"
        return out

    return register(Analyzer(name, expr, py, duck))


register(Analyzer("keyword", _keyword_expr, _keyword_py, _keyword_duckdb,
                  features=("frequency",)))
register(Analyzer("simple", _simple_expr, _simple_py, _simple_duckdb))
# `array`: index an array<string> column DIRECTLY — each element is one
# term, element order is the position stream, so phrase/slop queries mean
# adjacency in the array (reference indexes list columns the same way,
# tests inverted_index_array_include/_direct_list_array). The Python side
# accepts a list (query literals) or a single string (one term).
register(Analyzer(
    "array",
    lambda col: F.filter(col, lambda t: t.isNotNull()),
    lambda v: ([t for t in v if t is not None]
               if isinstance(v, (list, tuple)) else [v]),
    lambda e: f"list_filter({e}, t -> t IS NOT NULL)",
    features=("frequency", "position", "array_input"),
))
# `text` stems by default like the reference (create_tsdictionary.cpp:261);
# the unstemmed variant stays available as text_nostem
register(Analyzer("text", _text_expr, _text_py, _text_duckdb))
register(Analyzer("text_nostem", _nostem_text_expr, _nostem_text_py,
                  _nostem_text_duckdb))
register(Analyzer("stem", _stem_expr, _stem_py, _stem_duckdb))
_e, _p, _d = _norm()
register(Analyzer("norm", _e, _p, _d))
_e, _p, _d = _collation()
register(Analyzer("collation", _e, _p, _d, features=()))
#: shipped REAL fastText-format model (trained offline by
#: scripts/train_langid_model.py — softmax over averaged word vectors,
#: the published fastText supervised objective)
_LANGID_MODEL = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "models",
    "langid_tiny.bin")

_FT_SCORE_CACHE: dict = {}


def _ft_scores(path: str):
    """(labels, {word: [per-label score]}) for a supervised fastText
    model. argmax_c(out_c · mean(emb_w)) = argmax_c Σ_w (out_c · emb_w),
    so per-word per-class scores make the classifier expressible in all
    three representations (Column expr via lookup map, Python, DuckDB
    join-aggregate twin)."""
    if path in _FT_SCORE_CACHE:
        return _FT_SCORE_CACHE[path]
    from serenedb_spark.functions.fasttext_io import FastTextModel

    m = FastTextModel.load(path)
    labels = [lb[len("__label__"):] if lb.startswith("__label__") else lb
              for lb in m.labels]
    scores = {}
    for w, wid in zip(m.words, range(len(m.words))):
        emb = m.input[wid]
        scores[w] = [sum(o[i] * emb[i] for i in range(m.dim))
                     for o in m.output]
    _FT_SCORE_CACHE[path] = (labels, scores)
    return labels, scores


def _classification_model(path: str, top_k: int = 1):
    """`classification` template with a model_location
    (create_tsdictionary.cpp:535): REAL fastText supervised inference —
    top-k argmax of the softmax linear model over averaged word vectors.
    Executed via an Arrow-batched pandas UDF; the DuckDB oracle twin
    computes the identical per-word score-sum join-aggregate."""
    labels, scores = _ft_scores(path)

    def classify_py(text):
        if text is None:
            return None
        toks = [t for t in str(text).lower().split() if t in scores]
        if not toks:
            return []
        totals = [0.0] * len(labels)
        for t in toks:
            sc = scores[t]
            for i in range(len(labels)):
                totals[i] += sc[i]
        order = sorted(range(len(labels)),
                       key=lambda j: (-totals[j], j))[:top_k]
        return [labels[j] for j in order]

    def expr(col: Column) -> Column:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def _cls(sr):
            return sr.map(classify_py)

        return _cls(col)

    def py(s: str) -> list[str]:
        return classify_py(s) or []

    def duck(e: str) -> str:
        rows = ", ".join(
            "('" + w.replace("'", "''") + "', "
            + ", ".join(f"{v!r}" for v in sc) + ")"
            for w, sc in sorted(scores.items()))
        cols = ", ".join(f"s{i}" for i in range(len(labels)))
        sums = ", ".join(f"sum(s{i}) AS t{i}" for i in range(len(labels)))
        lbl_arr = "[" + ", ".join(f"'{lb}'" for lb in labels) + "]"
        tot_arr = "[" + ", ".join(f"t{i}" for i in range(len(labels)))             + "]"
        structs = ", ".join(
            f"{{'k': -t{i}, 'i': {i + 1}}}" for i in range(len(labels)))
        return (
            f"CASE WHEN {e} IS NULL THEN NULL ELSE coalesce((SELECT "
            f"list_transform(list_slice(list_sort([{structs}]), 1, "
            f"{top_k}), p -> list_extract({lbl_arr}, p.i)) "
            f"FROM (SELECT {sums} FROM (SELECT unnest(string_split("
            f"lower({e}), ' ')) AS w) toks "
            f"JOIN (VALUES {rows}) vocab(w, {cols}) USING (w) "
            f"HAVING count(*) > 0)), []) END"
        )

    return expr, py, duck


_e, _p, _d = _classification()
register(Analyzer("classification", _e, _p, _d, features=("frequency",)))
_e, _p, _d = _classification_model(_LANGID_MODEL)
register(Analyzer("classification_model", _e, _p, _d,
                  features=("frequency",)))
_e, _p, _d = _classification(num_classes=8, top_k=2)
register(Analyzer("classification_top2", _e, _p, _d, features=("frequency",)))
_e, _p, _d = _nearest_neighbors()
register(Analyzer("nearest_neighbors", _e, _p, _d, features=("frequency",)))
_e, _p, _d = _geopoint()
register(Analyzer("geopoint", _e, _p, _d, features=("frequency",)))
_e, _p, _d = _geojson()
register(Analyzer("geojson", _e, _p, _d, features=("frequency",)))


def _encint_expr(col: Column) -> Column:
    from serenedb_spark.functions.key_encoding import encode_int

    # guarded cast (ANSI-safe): non-numeric input → empty token array
    s = F.trim(col.cast("string"))
    ok = s.rlike(r"^-?\d+(\.\d+)?$")
    return F.when(
        ok, F.array(encode_int(s.cast("double").cast("long")))
    ).otherwise(F.array().cast("array<string>"))


def _encint_py(s) -> list[str]:
    from serenedb_spark.functions.key_encoding import py_encode_int

    try:
        return [py_encode_int(int(float(s)))]
    except (TypeError, ValueError):
        return []  # non-numeric input: no encoded key


def _encint_duckdb(e: str) -> str:
    from serenedb_spark.functions.key_encoding import duckdb_encode_int

    return (f"CASE WHEN try_cast(trim({e}) AS DOUBLE) IS NOT NULL THEN "
            f"[{duckdb_encode_int(f'try_cast(trim({e}) AS DOUBLE)')}]"
            " ELSE [] END")


# numeric index fields store the memcmp-ordered encoded key so range
# claims (`id @@ ts_between(2, 3)`, full_text_search.test:283) answer
# from the term dictionary — the reference's key_encoding.h contract
register(Analyzer("encoded_int", _encint_expr, _encint_py,
                  _encint_duckdb, features=("frequency",)))


def _encts_expr(col: Column) -> Column:
    from serenedb_spark.functions.key_encoding import encode_int

    # timestamps index their epoch-micros memcmp key (granular range
    # claims, filter_optimizer_boolean.test ts BETWEEN TIMESTAMP ...);
    # try_cast: a malformed string yields no token, not an ANSI error
    t = col.try_cast("timestamp")
    return F.when(
        col.isNull() | t.isNull(), F.array().cast("array<string>")
    ).otherwise(F.array(encode_int(F.unix_micros(t))))


def _encts_py(v) -> list[str]:
    import datetime as _dt

    from serenedb_spark.functions.key_encoding import py_encode_int

    if v is None:
        return []
    if isinstance(v, str):
        try:
            v = _dt.datetime.fromisoformat(v)
        except ValueError:
            return []
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    # integer math keeps pre-1970 values exact (total_seconds()
    # truncation toward zero + microsecond add would mis-encode
    # 1969-12-31 23:59:59.5 as +500000µs instead of -500000µs)
    delta = v - _dt.datetime(1970, 1, 1)
    micros = ((delta.days * 86_400 + delta.seconds) * 1_000_000
              + delta.microseconds)
    return [py_encode_int(micros)]


def _encts_duckdb(e: str) -> str:
    from serenedb_spark.functions.key_encoding import duckdb_encode_int

    enc = duckdb_encode_int(f"epoch_us(try_cast({e} AS TIMESTAMP))")
    return (f"CASE WHEN try_cast({e} AS TIMESTAMP) IS NULL "
            f"THEN [] ELSE [{enc}] END")


register(Analyzer("encoded_ts", _encts_expr, _encts_py,
                  _encts_duckdb, features=("frequency",)))
_e, _p, _d = _segmentation()
register(Analyzer("segmentation", _e, _p, _d))
_e, _p, _d = _minhash(4)
register(Analyzer("minhash4", _e, _p, _d, features=("frequency",)))
_e, _p, _d = _wildcard_grams(3)
register(Analyzer("wildcard", _e, _p, _d, features=("frequency",)))
WILDCARD_META["wildcard"] = (3, None)
for _n in (2, 3, 4):
    _e, _p, _d = _ngram(_n)
    register(Analyzer(f"ngram{_n}", _e, _p, _d, features=("frequency",)))
_e, _p, _d = _sparse_ngram(3)
register(Analyzer("sparse_ngram3", _e, _p, _d, features=("frequency",)))
for _k in (2, 3, 5):
    _e, _p, _d = _shingle(_k)
    register(Analyzer(f"shingle{_k}", _e, _p, _d, features=("frequency",)))
_e, _p, _d = _delimiter(",")
register(Analyzer("delimiter_comma", _e, _p, _d, features=("frequency", "position")))
_e, _p, _d = _pattern("[,;|]+")
register(Analyzer("multi_delimiter", _e, _p, _d, features=("frequency", "position")))
_e, _p, _d = _path_hierarchy("/")
register(Analyzer("path_hierarchy", _e, _p, _d, features=("frequency",)))
_e, _p, _d = _edge_ngram(2, 6)
register(Analyzer("edge_ngram", _e, _p, _d, features=("frequency",)))


def make_synonyms(name: str, mapping: dict[str, tuple[str, ...]],
                  base: str = "simple") -> Analyzer:
    """Synonym expansion over a base tokenizer (reference solr_synonyms /
    wordnet_synonyms templates, create_tsdictionary.cpp:561-578): each
    token expands to itself + its synonyms, in mapping order."""
    b = get_analyzer(base)
    items = sorted(mapping.items())

    def expr(col: Column) -> Column:
        toks = b.expr(col)
        out = F.transform(toks, lambda t: F.array(t))
        for w, syns in items:
            add = F.array(*[F.lit(s) for s in syns])
            out = F.zip_with(
                out, toks,
                lambda acc, t: F.when(t == F.lit(w), F.concat(acc, add))
                .otherwise(acc),
            )
        return F.flatten(out)

    def py(s: str) -> list[str]:
        out = []
        for t in b.tokens(s):
            out.append(t)
            out.extend(mapping.get(t, ()))
        return out

    def duck(e: str) -> str:
        inner = b.duckdb(e)
        cell = "[t]"
        for w, syns in items:
            lits = ", ".join("'" + s.replace("'", "''") + "'" for s in syns)
            cell = f"CASE WHEN t = '{w}' THEN {cell} || [{lits}] ELSE {cell} END"
        return f"flatten(list_transform({inner}, t -> {cell}))"

    return register(Analyzer(name, expr, py, duck, features=("frequency",)))


def make_union(name: str, parts: tuple[str, ...]) -> Analyzer:
    """`union` template (create_tsdictionary.cpp:697): run several
    analyzers and MERGE their token streams by position — token i of
    every member comes before token i+1 of any (union.test:
    delimiter+keyword over 'hello world' → {hello,"hello world",world})."""
    ans = [get_analyzer(p) for p in parts]

    def expr(col: Column) -> Column:
        streams = F.array(*[a.expr(col) for a in ans])
        return _bind(streams, lambda ms: F.filter(
            F.flatten(F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(*[F.size(F.element_at(ms, i + 1))
                                 for i in range(len(ans))], F.lit(1))),
                lambda i: F.transform(
                    F.sequence(F.lit(1), F.lit(len(ans))),
                    # F.get is 0-based and NULL on out-of-range (ANSI
                    # element_at would throw past a member's end)
                    lambda m: F.get(F.element_at(ms, m), i - 1)))),
            lambda t: t.isNotNull()))

    def py(s: str) -> list[str]:
        streams = [a.tokens(s) for a in ans]
        out = []
        for i in range(max(len(st) for st in streams) if streams else 0):
            for st in streams:
                if i < len(st):
                    out.append(st[i])
        return out

    def duck(e: str) -> str:
        members = ", ".join(a.duckdb(e) for a in ans)
        picks = ", ".join(f"ms[{m + 1}][CAST(i AS INT)]"
                          for m in range(len(ans)))
        lens = ", ".join(f"len(ms[{m + 1}])" for m in range(len(ans)))
        return (
            f"list_transform([[{members}]], ms -> list_filter("
            f"flatten(list_transform(range(1, greatest({lens}, 1) + 1),"
            f" i -> [{picks}])), t -> t IS NOT NULL))[1]"
        )

    return register(Analyzer(name, expr, py, duck, features=("frequency",)))


# a worked example mirroring the reference's synonym demo shape
make_synonyms("synonyms_demo", {
    "fast": ("quick", "rapid"),
    "big": ("large",),
})
make_union("union_demo", ("simple", "ngram3"))
make_pipeline("pipeline_demo", "segmentation", ("stopwords", "stem"))

# ---- per-locale `text` templates (snowball stemming) ----------------------
# The reference resolves the `locale` option per dictionary
# (create_tsdictionary.cpp:255-340, tokenizer_options.h:88-106) and stems
# through ICU+snowball; here each locale's published Snowball rule table
# (analysis/snowball.py) generates the three lock-step representations.
# Stopword lists are pinned explicitly (small, high-frequency function
# words) so oracles stay reproducible — same policy as ENGLISH_STOPWORDS.

LOCALE_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit",
           "ist", "des", "im", "für", "auf", "ein", "eine", "als", "auch",
           "es", "an", "werden", "aus", "er", "hat", "dass", "sie", "nach",
           "wird", "bei", "einer"),
    "fr": ("le", "la", "les", "de", "des", "du", "et", "en", "un", "une",
           "dans", "est", "que", "qui", "pour", "sur", "au", "aux", "avec",
           "ne", "pas", "ce", "se", "par", "plus", "sont", "ou", "mais",
           "comme", "il"),
    "es": ("el", "la", "los", "las", "de", "del", "y", "en", "un", "una",
           "que", "es", "por", "con", "para", "su", "al", "lo", "como",
           "más", "pero", "sus", "le", "ya", "o", "este", "sí", "porque",
           "esta", "son"),
    "ru": ("и", "в", "не", "на", "я", "быть", "он", "с", "что", "а", "по",
           "это", "она", "этот", "к", "но", "они", "мы", "как", "из", "у",
           "который", "то", "за", "свой", "весь", "год", "от", "так", "о"),
    "it": ("di", "e", "il", "la", "che", "in", "un", "a", "per", "è",
           "una", "sono", "da", "non", "si", "le", "con", "dei", "del",
           "al", "lo", "i", "gli", "nel", "alla", "più", "come", "anche",
           "o", "ma"),
    "pt": ("de", "a", "o", "que", "e", "do", "da", "em", "um", "para",
           "é", "com", "não", "uma", "os", "no", "se", "na", "por",
           "mais", "as", "dos", "como", "mas", "foi", "ao", "ele", "das",
           "tem", "ou"),
    "nl": ("de", "het", "een", "en", "van", "in", "is", "dat", "op", "te",
           "zijn", "met", "voor", "niet", "aan", "er", "om", "ook", "als",
           "dan", "maar", "bij", "uit", "nog", "door", "over", "naar",
           "meer", "deze", "wordt"),
    "sv": ("och", "i", "att", "det", "som", "en", "på", "är", "av", "för",
           "med", "den", "till", "inte", "om", "han", "var", "sig", "men",
           "ett", "har", "vid", "vi", "så", "kan", "man", "när", "år",
           "från", "ska"),
    "da": ("og", "i", "det", "at", "en", "den", "til", "er", "som", "på",
           "de", "med", "han", "af", "for", "ikke", "der", "var", "mig",
           "sig", "men", "et", "har", "om", "vi", "min", "havde", "ham",
           "hun", "nu"),
    "no": ("og", "i", "jeg", "det", "at", "en", "et", "den", "til", "er",
           "som", "på", "de", "med", "han", "av", "ikke", "der", "så",
           "var", "meg", "seg", "men", "har", "om", "vi", "mitt", "ha",
           "hadde", "hun"),
    "fi": ("ja", "on", "ei", "että", "oli", "se", "hän", "kun", "niin",
           "joka", "myös", "mutta", "ole", "jos", "sen", "tai", "ovat",
           "kuin", "vain", "sitä", "he", "nyt", "voi", "mitä", "tämä",
           "kaikki", "mukaan", "vielä", "sekä", "siitä"),
    "hu": ("a", "az", "és", "hogy", "nem", "is", "egy", "de", "ez", "mint",
           "el", "még", "csak", "meg", "már", "volt", "ha", "vagy", "azt",
           "van", "lesz", "pedig", "ki", "be", "ezt", "mert", "aki", "ami",
           "ő", "mi"),
    "tr": ("ve", "bir", "bu", "da", "de", "için", "ile", "mi", "ne", "o",
           "çok", "daha", "en", "gibi", "ama", "ben", "sen", "biz", "siz",
           "var", "yok", "her", "kadar", "sonra", "olarak", "olan", "ki",
           "şu", "ya", "hem"),
    "ro": ("și", "de", "la", "a", "în", "un", "o", "pe", "cu", "ce", "care",
           "nu", "este", "mai", "din", "se", "sa", "să", "că", "pentru",
           "dar", "lui", "al", "cel", "cea", "sunt", "fost", "fi", "au",
           "era"),
    "el": ("και", "το", "η", "ο", "του", "της", "των", "να", "με", "που",
           "σε", "για", "δεν", "από", "τα", "τον", "την", "στο", "στη",
           "οι", "ως", "αν", "θα", "ότι", "αυτό", "είναι", "μια", "ένα",
           "τις", "τους"),
    "lt": ("ir", "yra", "kad", "į", "iš", "su", "tai", "bet", "kaip", "o",
           "dėl", "per", "apie", "po", "prie", "už", "nuo", "ar", "jis",
           "ji", "jo", "jos", "mes", "jūs", "šis", "ši", "tik", "dar",
           "jau", "visi"),
    "id": ("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini",
           "dari", "dalam", "akan", "pada", "juga", "saya", "ke", "karena",
           "tersebut", "bisa", "ada", "mereka", "lebih", "kata", "tahun",
           "sudah", "atau", "saat", "oleh", "menjadi", "orang", "ia"),
    "ga": ("agus", "an", "na", "is", "go", "le", "ar", "do", "de", "mar",
           "atá", "bhí", "tá", "sé", "sí", "mé", "tú", "siad", "seo",
           "sin", "ach", "nach", "ní", "ag", "as", "os", "faoi", "idir",
           "chun", "dá"),
}

# Unicode-aware tokenization (the ASCII `simple` split would shred
# umlauts/Cyrillic). Java regex and RE2 share \p{L}\p{N}; Python's \w is
# unicode-aware by default, so [\W_]+ states the identical class.
_UNI_SPLIT_JVM = r"[^\p{L}\p{N}]+"
_UNI_SPLIT_PY = r"[\W_]+"


def _locale_text(locale: str):
    from serenedb_spark.analysis import snowball as SB

    loc = SB.LOCALES[locale]
    stop = LOCALE_STOPWORDS[locale]
    stop_sql = "[" + ", ".join(f"'{w}'" for w in stop) + "]"

    def expr(col: Column) -> Column:
        toks = F.split(F.lower(col), _UNI_SPLIT_JVM)
        stopc = F.array(*[F.lit(w) for w in stop])
        toks = F.filter(
            toks, lambda t: (t != F.lit("")) & ~F.array_contains(stopc, t))
        return SB.stem_expr_list(loc, toks)

    def py(s: str) -> list[str]:
        sset = set(stop)
        toks = [t for t in re.split(_UNI_SPLIT_PY, s.lower())
                if t and t not in sset]
        return [SB.stem_py(loc, t) for t in toks]

    def duck(e: str) -> str:
        toks = (
            f"list_filter(regexp_split_to_array(lower({e}),"
            f" '{_UNI_SPLIT_JVM}'),"
            f" t -> t <> '' AND NOT list_contains({stop_sql}, t))"
        )
        return SB.stem_sql_list(loc, toks)

    return expr, py, duck


for _lc in ("de", "fr", "es", "ru", "it", "pt", "nl", "sv", "da", "no",
            "fi", "hu", "tr", "ro", "el", "lt", "id", "ga"):
    _e, _p, _d = _locale_text(_lc)
    register(Analyzer(f"text_{_lc}", _e, _p, _d))


def _porter2_text():
    """English joins the locale family with the REAL Porter2 snowball
    (analysis/porter2.py, tri-path): lowercase word split, English
    stopword removal, porter2 per token. The legacy `text` analyzer
    keeps the documented S-stemmer subset for back-compat; `text_en` is
    the reference-faithful one (create_tsdictionary.cpp:255-340)."""
    from serenedb_spark.analysis import porter2 as P2

    stop_sql = _STOP_SQL

    def expr(col: Column) -> Column:
        return P2.stem_expr_list(_nostem_text_expr(col))

    def py(s: str) -> list[str]:
        return [P2.stem_py(t) for t in _nostem_text_py(s)]

    def duck(e: str) -> str:
        return P2.stem_sql_list(_nostem_text_duckdb(e))

    return expr, py, duck


_e, _p, _d = _porter2_text()
register(Analyzer("text_en", _e, _p, _d))


#: uppercase mirror of the accent-fold map (text template with
#: case='none'/'upper' must still fold when accent=false)
_ACC_U_FROM = "ÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÝŸÑÇŠŽĀĒĪŌŪ"
_ACC_U_TO = "AAAAAAEEEEIIIIOOOOOUUUUYYNCSZAEIOU"
_ACC_ALL_FROM = _ACCENTS_FROM + _ACC_U_FROM
_ACC_ALL_TO = _ACCENTS_TO + _ACC_U_TO


#: word characters for the segmentation/text splitters (ASCII + the
#:  latin accent range the fold map covers)
_WORD_CLASS = "a-zA-Z0-9À-ɏ"


def _segmentation_config(case: str, brk: str):
    """`segmentation` template with the documented break modes
    (create_text_search_dictionary/segmentation.test):
      alpha   — alphanumeric runs only ('fox-trot.' → fox, trot)
      all     — every segment, whitespace and punctuation included
      graphic — visible segments only (punctuation yes, whitespace no)
    `case` transforms the whole value first ('lower'/'upper'/'none')."""
    if brk == "alpha":
        pat = f"[{_WORD_CLASS}]+"
    elif brk == "all":
        pat = f"[{_WORD_CLASS}]+|[\\s\\S]"
    else:  # graphic
        pat = f"[{_WORD_CLASS}]+|[^\\s]"

    def xform_py(s: str) -> str:
        return (s.lower() if case == "lower"
                else s.upper() if case == "upper" else s)

    def expr(col: Column) -> Column:
        v = (F.lower(col) if case == "lower"
             else F.upper(col) if case == "upper" else col)
        return F.regexp_extract_all(v, F.lit(pat))

    def py(s: str) -> list[str]:
        return re.findall(pat, xform_py(s), flags=re.DOTALL)

    def duck(e: str) -> str:
        v = (f"lower({e})" if case == "lower"
             else f"upper({e})" if case == "upper" else e)
        return f"regexp_extract_all({v}, '{pat}')"

    return expr, py, duck


def _as_bool(v) -> bool:
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() in ("true", "on", "1", "yes")


def _stem_single(locale: str):
    """`stem` template (stem.test): the whole value, lowercased, stemmed
    as ONE token — no word split (ts_lexize('stem_dict','running') →
    {run})."""
    from serenedb_spark.analysis import snowball as SB

    if locale == "en":
        from serenedb_spark.analysis import porter2 as P2

        def expr(col: Column) -> Column:
            return F.array(P2.stem_expr(F.lower(col)))

        def py(s: str) -> list[str]:
            return [P2.stem_py(s.lower())]

        def duck(e: str) -> str:
            return f"[{P2.stem_sql(f'lower({e})')}]"

        return expr, py, duck
    loc = SB.LOCALES.get(locale)
    if loc is None:
        raise ValueError(f"no stemmer for locale {locale!r}")

    def expr(col: Column) -> Column:
        return SB.stem_expr_list(loc, F.array(F.lower(col)))

    def py(s: str) -> list[str]:
        return [SB.stem_py(loc, s.lower())]

    def duck(e: str) -> str:
        return SB.stem_sql_list(loc, f"[lower({e})]")

    return expr, py, duck


def _parse_stoplist(val, hex_: bool = False) -> tuple[str, ...]:
    """stopwords option value: `'"the","a","an"'` (stopwords.test); with
    HEX=true each entry is the utf-8 hex of the word."""
    items = [w.strip().strip('"') for w in str(val).split(",")
             if w.strip()]
    if hex_:
        items = [bytes.fromhex(w).decode("utf-8") for w in items]
    return tuple(items)


def _text_config(locale: str, case: str, accent: bool, stemming: bool,
                 stops: tuple[str, ...], lo: int | None, hi: int | None,
                 preserve: bool):
    """The reference `text` template's full option set
    (tokenizer_options.h:88-140; site_docs create_text_search_dictionary/
    text.test): word split → case transform → accent fold (accent=false)
    → stopword filter → per-locale stemming → optional per-token edge
    grams (mingram/maxgram [+ PRESERVEORIGINAL]). English stemming uses
    the repo's documented S-stemmer subset; other locales run the
    declarative snowball tables."""
    from serenedb_spark.analysis import snowball as SB

    loc = SB.LOCALES.get(locale) if stemming and locale != "en" else None
    if stemming and locale != "en" and loc is None:
        raise ValueError(f"no stemmer for locale {locale!r}")
    tr = str.maketrans(_ACC_ALL_FROM, _ACC_ALL_TO)
    sset = set(stops)
    stop_sql = "[" + ", ".join(f"'{w}'" for w in stops) + "]"

    def expr(col: Column) -> Column:
        s = (F.lower(col) if case == "lower"
             else F.upper(col) if case == "upper" else col)
        toks = F.filter(F.split(s, _UNI_SPLIT_JVM),
                        lambda t: t != F.lit(""))
        if not accent:
            toks = F.transform(
                toks, lambda t: F.translate(t, _ACC_ALL_FROM, _ACC_ALL_TO))
        if stops:
            stopc = F.array(*[F.lit(w) for w in stops])
            toks = F.filter(toks, lambda t: ~F.array_contains(stopc, t))
        if stemming:
            if locale == "en":
                from serenedb_spark.analysis import porter2 as P2
                toks = P2.stem_expr_list(toks)
            else:
                toks = SB.stem_expr_list(loc, toks)
        if lo is not None:
            def grams(t: Column) -> Column:
                g = F.transform(_seq(lo, F.least(F.lit(hi), F.length(t))),
                                lambda i: t.substr(F.lit(1), i))
                if not preserve:
                    return g
                extra = ((F.length(t) > F.lit(hi))
                         | (F.length(t) < F.lit(lo)))
                return F.when(extra, F.concat(g, F.array(t))).otherwise(g)
            toks = F.array_distinct(F.flatten(F.transform(toks, grams)))
        return toks

    def py(s: str) -> list[str]:
        v = s.lower() if case == "lower" else (
            s.upper() if case == "upper" else s)
        toks = [t for t in re.split(_UNI_SPLIT_PY, v) if t]
        if not accent:
            toks = [t.translate(tr) for t in toks]
        if stops:
            toks = [t for t in toks if t not in sset]
        if stemming:
            if locale == "en":
                from serenedb_spark.analysis import porter2 as P2
                toks = [P2.stem_py(t) for t in toks]
            else:
                toks = [SB.stem_py(loc, t) for t in toks]
        if lo is not None:
            out: list[str] = []
            for t in toks:
                g = [t[:i] for i in range(lo, min(hi, len(t)) + 1)]
                if preserve and (len(t) > hi or len(t) < lo):
                    g.append(t)
                out.extend(g)
            seen: set[str] = set()
            toks = [t for t in out
                    if not (t in seen or seen.add(t))]
        return toks

    def duck(e: str) -> str:
        v = (f"lower({e})" if case == "lower"
             else f"upper({e})" if case == "upper" else e)
        out = (f"list_filter(regexp_split_to_array({v},"
               f" '{_UNI_SPLIT_JVM}'), t -> t <> '')")
        if not accent:
            out = (f"list_transform({out}, t -> translate(t,"
                   f" '{_ACC_ALL_FROM}', '{_ACC_ALL_TO}'))")
        if stops:
            out = (f"list_filter({out},"
                   f" t -> NOT list_contains({stop_sql}, t))")
        if stemming:
            if locale == "en":
                from serenedb_spark.analysis import porter2 as P2
                out = P2.stem_sql_list(out)
            else:
                out = SB.stem_sql_list(loc, out)
        if lo is not None:
            g = (f"list_transform(range({lo},"
                 f" least({hi}, length(t)) + 1),"
                 f" i -> substr(t, 1, CAST(i AS INT)))")
            if preserve:
                g = (f"CASE WHEN length(t) > {hi} OR length(t) < {lo}"
                     f" THEN {g} || [t] ELSE {g} END")
            flat = f"flatten(list_transform({out}, t -> {g}))"
            out = (f"list_filter({flat},"
                   f" (t, i) -> list_position({flat}, t) = i)")
        return out

    return expr, py, duck


def _stopwords_template(stops: tuple[str, ...]):
    """`stopwords` template: the whole value is one token unless it is a
    stopword (stopwords.test ts_lexize('stop_filter','the') → {})."""
    sset = set(stops)
    stop_sql = "[" + ", ".join(f"'{w}'" for w in stops) + "]"

    def expr(col: Column) -> Column:
        return F.when(col.isin(*stops) if stops else F.lit(False),
                      F.array().cast("array<string>")) \
            .otherwise(F.array(col))

    def py(s: str) -> list[str]:
        return [] if s in sset else [s]

    def duck(e: str) -> str:
        return (f"CASE WHEN list_contains({stop_sql}, {e}) THEN"
                f" CAST([] AS VARCHAR[]) ELSE [{e}] END")

    return expr, py, duck


def _replace_synonyms(mapping: dict[str, tuple[str, ...]],
                      empty_on_miss: bool = False):
    """Replacement-style synonym lookup over the whole value: solr groups
    expand to the sorted group (solr-synonyms.test); wordnet tokens map
    to their synset ids, unknown → {} (wordnet-synonyms.test)."""
    items = sorted(mapping.items())

    def py(s: str) -> list[str]:
        hit = mapping.get(s)
        if hit is not None:
            return list(hit)
        return [] if empty_on_miss else [s]

    def expr(col: Column) -> Column:
        miss = (F.array().cast("array<string>") if empty_on_miss
                else F.array(col))
        out = miss
        for w, syns in items:
            out = F.when(col == F.lit(w),
                         F.array(*[F.lit(x) for x in syns])).otherwise(out)
        return out

    def duck(e: str) -> str:
        miss = "CAST([] AS VARCHAR[])" if empty_on_miss else f"[{e}]"
        out = miss
        for w, syns in items:
            lits = ", ".join("'" + x.replace("'", "''") + "'"
                             for x in syns)
            out = (f"CASE WHEN {e} = '{w}' THEN [{lits}]"
                   f" ELSE {out} END")
        return out

    return expr, py, duck


def _parse_solr_synonyms(text: str) -> dict[str, tuple[str, ...]]:
    """Solr synonym lines: `a, b, c` = bidirectional group (each maps to
    the sorted full group); `x => y[, z]` maps left side to the right."""
    mapping: dict[str, tuple[str, ...]] = {}
    for line in str(text).splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if "=>" in line:
            lhs, rhs = line.split("=>", 1)
            rights = tuple(sorted(w.strip() for w in rhs.split(",")
                                  if w.strip()))
            for w in lhs.split(","):
                if w.strip():
                    mapping[w.strip()] = rights
        else:
            group = tuple(sorted(w.strip() for w in line.split(",")
                                 if w.strip()))
            for w in group:
                mapping[w] = group
    return mapping


def _parse_wordnet_synonyms(text: str) -> dict[str, tuple[str, ...]]:
    """WordNet prolog `s(synset_id, ord, 'word', pos, ...)` records:
    each word maps to the synset ids containing it."""
    mapping: dict[str, list[str]] = {}
    for m in re.finditer(r"s\(\s*(\d+)\s*,\s*\d+\s*,\s*'([^']*)'", str(text)):
        mapping.setdefault(m.group(2), []).append(m.group(1))
    return {w: tuple(sorted(set(ids))) for w, ids in mapping.items()}


def _compose_flatmap(parent: Analyzer, step: Analyzer):
    """Pipeline composition: the step analyzer re-tokenizes each of the
    parent's tokens; empty step output drops the token (stopword steps)."""
    def expr(col: Column) -> Column:
        return F.flatten(F.transform(parent.expr(col),
                                     lambda t: step.expr(t)))

    def py(s: str) -> list[str]:
        return [u for t in parent.tokens(s) for u in step.tokens(t)]

    def duck(e: str) -> str:
        return (f"flatten(list_transform({parent.duckdb(e)},"
                f" t -> {step.duckdb('t')}))")

    return expr, py, duck


def _sub_opts(opts: dict, prefix: str) -> dict:
    keys = [k for k in list(opts) if k.startswith(prefix)]
    return {k[len(prefix):]: opts.pop(k) for k in keys}


def create_dictionary(name: str, template: str, **opts) -> Analyzer:
    """CREATE TEXT SEARCH DICTIONARY — instantiate a template with
    options and register it under ``name`` (reference
    create_tsdictionary.cpp: template + option grammar; demo3's
    `imdb_fts_ngram(template='ngram', mingram=3, maxgram=3, ...)`;
    the full option set of site_docs/sql/statements/
    create_text_search_dictionary/: text case/stemming/accent/stopwords/
    mingram/maxgram, stem locale, stopwords [+HEX], pipeline stepN_*,
    union tokenizerN_*, wildcard ngramsize + tokenizer_*, solr_synonyms /
    wordnet_synonyms inline synonym text).

    Options consumed per template; `frequency`/`position`/
    `preserveoriginal` map to the Analyzer feature flags. Unknown
    templates or unsupported option combinations raise — never a silent
    fallback analyzer."""
    if name in BUILTIN_ANALYZERS:
        raise ValueError(f"cannot replace built-in analyzer {name!r}")
    opts = {k.lower(): v for k, v in opts.items()}
    tpl = template.lower()
    feats = tuple(
        f for f, on in (
            ("frequency", opts.pop("frequency", True)),
            ("position", opts.pop("position", True)),
            ("norm", opts.pop("norm", False)),
            ("offset", opts.pop("offset", False)),
        ) if on)
    preserve = bool(opts.pop("preserveoriginal", False))

    if tpl in ("classification", "nearest_neighbors"):
        loc = opts.pop("model_location", opts.pop("model", None))
        top_k = int(opts.pop("top_k", 1))
        opts.pop("threshold", None)
        if loc:
            e, p, d = _classification_model(str(loc), top_k)
        else:
            e, p, d = _classification(top_k=top_k)
        if opts:
            raise ValueError(
                f"unknown options for {template!r}: {opts}")
        return register(Analyzer(name, e, p, d, features=feats))
    if tpl == "ngram":
        lo = int(opts.pop("mingram", 3))
        hi = int(opts.pop("maxgram", lo))
        e, p, d = _ngram(lo) if lo == hi else _ngram_range(lo, hi)
    elif tpl == "edge_ngram":
        e, p, d = _edge_ngram(int(opts.pop("mingram", 2)),
                              int(opts.pop("maxgram", 6)))
    elif tpl == "delimiter":
        e, p, d = _delimiter(str(opts.pop("delimiter", ",")))
    elif tpl in ("pattern", "multi_delimiter"):
        e, p, d = _pattern(str(opts.pop("pattern", r"\W+")))
    elif tpl == "path_hierarchy":
        e, p, d = _path_hierarchy(str(opts.pop("delimiter", "/")))
    elif tpl == "shingle":
        e, p, d = _shingle(int(opts.pop("n", 2)))
    elif tpl == "minhash":
        e, p, d = _minhash(int(opts.pop("num_hashes", 4)),
                           str(opts.pop("base", "simple")))
    elif tpl == "sparse_ngram":
        e, p, d = _sparse_ngram(int(opts.pop("n", 3)))
    elif tpl == "segmentation":
        case = str(opts.pop("case", "none")).lower()
        brk = str(opts.pop("break", "alpha")).lower()
        if brk not in ("alpha", "all", "graphic"):
            raise ValueError(f"segmentation: unknown break {brk!r}")
        e, p, d = _segmentation_config(case, brk)
    elif tpl == "text":
        locale = str(opts.pop("locale", "en")).split("_")[0].split(".")[0]
        configured = any(k in opts for k in (
            "case", "stemming", "accent", "stopwords", "mingram",
            "maxgram")) or preserve
        if configured:
            case = str(opts.pop("case", "lower")).lower()
            lo = opts.pop("mingram", None)
            hi = opts.pop("maxgram", lo)
            lo = int(lo) if lo is not None else None
            hi = int(hi) if hi is not None else lo
            # stemming defaults ON like the bare template, except in the
            # gram (autocomplete) form where grams of stems would be
            # surprising (text.test example_003 pairs grams with case
            # only)
            stemming = _as_bool(opts.pop("stemming", lo is None))
            accent = _as_bool(opts.pop("accent", False))
            stops = _parse_stoplist(opts.pop("stopwords", ""),
                                    _as_bool(opts.pop("hex", False)))
            e, p, d = _text_config(locale, case, accent, stemming, stops,
                                   lo, hi, preserve)
        else:
            src = get_analyzer(
                "text" if locale == "en" else f"text_{locale}")
            e, p, d = src._expr, src._py, src._duckdb
    elif tpl == "stem":
        locale = str(opts.pop("locale", "en")).split("_")[0].split(".")[0]
        e, p, d = _stem_single(locale)
    elif tpl == "stopwords":
        stops = _parse_stoplist(opts.pop("stopwords", ""),
                                _as_bool(opts.pop("hex", False)))
        e, p, d = _stopwords_template(stops)
    elif tpl == "union":
        parts = []
        i = 1
        while any(k.startswith(f"tokenizer{i}_") for k in opts):
            sub = _sub_opts(opts, f"tokenizer{i}_")
            stpl = sub.pop("template", "keyword")
            parts.append(create_dictionary(
                f"{name}__t{i}", str(stpl), **sub).name)
            i += 1
        if not parts:
            raise ValueError("union template needs tokenizerN_template")
        a = make_union(name, tuple(parts))
        if opts:
            raise ValueError(f"unknown options for {template!r}: {opts}")
        return a
    elif tpl == "pipeline":
        if any(k.startswith("step1_") for k in opts):
            steps = []
            i = 1
            while any(k.startswith(f"step{i}_") for k in opts):
                sub = _sub_opts(opts, f"step{i}_")
                stpl = sub.pop("template", "keyword")
                steps.append(create_dictionary(
                    f"{name}__s{i}", str(stpl), **sub))
                i += 1
            if opts:
                raise ValueError(
                    f"unknown options for {template!r}: {opts}")
            a = steps[0]
            for step in steps[1:]:
                e, p, d = _compose_flatmap(a, step)
                a = Analyzer(name, e, p, d, features=feats)
            if a.name != name:  # single-step pipeline: rename
                a = Analyzer(name, a._expr, a._py, a._duckdb,
                             features=feats)
            return register(a)
        base = str(opts.pop("base", "simple"))
        filters = opts.pop("filters", "")
        if isinstance(filters, str):
            filters = tuple(f for f in filters.split(",") if f)
        a = make_pipeline(name, base, tuple(filters))
        if opts:
            raise ValueError(f"unknown options for {template!r}: {opts}")
        return a
    elif tpl == "wildcard":
        n = int(opts.pop("ngramsize", 3))
        sub = _sub_opts(opts, "tokenizer_")
        e, p, d = _wildcard_grams(n)
        inner_name = None
        if sub:
            stpl = sub.pop("template", "keyword")
            inner = create_dictionary(f"{name}__tok", str(stpl), **sub)
            inner_name = inner.name
            grams = Analyzer(f"{name}__grams", e, p, d)
            e, p, d = _compose_flatmap(inner, grams)
        WILDCARD_META[name] = (n, inner_name)
    elif tpl == "solr_synonyms":
        mapping = _parse_solr_synonyms(opts.pop("synonyms", ""))
        e, p, d = _replace_synonyms(mapping, empty_on_miss=False)
    elif tpl == "wordnet_synonyms":
        mapping = _parse_wordnet_synonyms(opts.pop("synonyms", ""))
        e, p, d = _replace_synonyms(mapping, empty_on_miss=True)
    elif tpl == "norm" and opts:
        # norm with options (pipeline/index.test): case-transform +
        # accent fold + word split — the configurable text path with
        # stemming off and accent folding on
        opts.pop("locale", None)
        case = str(opts.pop("case", "lower")).lower()
        e, p, d = _text_config("en", case, False, False, (), None, None,
                               False)
    elif tpl == "geopoint" and ("latitude" in opts
                                or "longitude" in opts):
        # JSON-keyed geopoint (inverted_index_matrix_geopoint.test):
        # coordinates read from configured JSON paths, then the same
        # grid-cell terms as the "lat,lon" form
        opts.pop("coding", None)
        lat_key = str(opts.pop("latitude", "lat"))
        lng_key = str(opts.pop("longitude", "lng"))
        base_e, base_p, base_d = _geopoint()

        def p(s: str, _bp=base_p) -> list[str]:
            import json as _json
            try:
                o = _json.loads(s)
                la, lo = o.get(lat_key), o.get(lng_key)
                if la is None or lo is None:
                    return []
                return _bp(f"{la},{lo}")
            except Exception:
                return []

        def e(col, _be=base_e):
            from pyspark.sql import functions as F
            return _be(F.concat_ws(
                ",", F.get_json_object(col, f"$.{lat_key}"),
                F.get_json_object(col, f"$.{lng_key}")))

        def d(x: str, _bd=base_d) -> str:
            return _bd(f"concat(json_extract_string({x}, "
                       f"'$.{lat_key}'), ',', json_extract_string({x},"
                       f" '$.{lng_key}'))")

        e, p, d = e, p, d
    elif tpl in ("keyword", "simple", "norm", "collation",
                 "geopoint", "geojson"):
        if tpl in ("geopoint", "geojson"):
            # reference geo dictionaries take a storage `coding`
            # (s2point/source/vpack, full_text_search.test:100) — how
            # the ORIGINAL value is stored, not how cells tokenize;
            # this engine late-materializes from the docstore, so the
            # option is declarative
            opts.pop("coding", None)
        src = get_analyzer(tpl)
        e, p, d = src._expr, src._py, src._duckdb
    else:
        raise ValueError(f"unknown dictionary template {template!r}")
    if opts:
        raise ValueError(f"unknown options for {template!r}: {opts}")
    return register(Analyzer(name, e, p, d, features=feats))


def drop_dictionary(name: str) -> None:
    """DROP TEXT SEARCH DICTIONARY — built-ins are protected."""
    if name in BUILTIN_ANALYZERS:
        raise ValueError(f"cannot drop built-in analyzer {name!r}")
    _REGISTRY.pop(name, None)
