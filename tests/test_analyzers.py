"""Analyzer 3-way consistency — THE invariant of the engine: for every
registered analyzer, the JVM expression (``expr``), the pure-Python
tokenizer (``tokens``) and the DuckDB SQL fragment (``duckdb``) must
produce identical token arrays on the same inputs (the reference enforces
the analogous property via its index≡scan fuzz oracle,
tests/fuzz/null_semantics_fuzz.py)."""

from __future__ import annotations

import duckdb
import pytest

from serenedb_spark.analysis.analyzers import analyzers

SAMPLES = [
    "The quick brown Fox; jumps-over the lazy dog!",
    "spark data JOIN merge,sort;batch|stream",
    "a/b/c/deep/path",
    "x",
    "",
    "  punctuation...only!!!  ",
    "MixedCASE tokens 123 456-789",
    "unicode café naïve 中文",
    '{"type":"Point","coordinates":[10.5,20.5]}',
    '{"type":"Polygon","coordinates":'
    '[[[1.0,1.0],[2.5,1.0],[2.5,2.5],[1.0,2.5],[1.0,1.0]]]}',
    '{"type":"LineString","coordinates":[[-0.9,0.1],[1.9,0.4]]}',
    '{"type":"MultiPolygon","coordinates":[]}',
]


@pytest.mark.parametrize("name", sorted(analyzers()))
def test_three_way_consistency(name, spark):
    an = analyzers()[name]
    if "array_input" in an.features:
        pytest.skip("array-input analyzer — covered by "
                    "test_array_analyzer_three_way")
    con = duckdb.connect()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)], "i long, s string")
    spark_rows = {
        r.i: list(r.toks) if r.toks is not None else None
        for r in df.select("i", an.expr(df.s).alias("toks")).collect()
    }
    for i, s in enumerate(SAMPLES):
        py_toks = an.tokens(s)
        lit = s.replace("'", "''")
        duck_toks = con.sql(
            "SELECT " + an.duckdb(f"'{lit}'") + " AS t"
        ).fetchone()[0]
        assert spark_rows[i] == py_toks, (name, s, spark_rows[i], py_toks)
        assert list(duck_toks or []) == py_toks, (name, s, duck_toks, py_toks)


def test_null_handling(spark):
    for name, an in analyzers().items():
        if "array_input" in an.features:
            df = spark.createDataFrame([(1, None)],
                                       "i long, s array<string>")
        else:
            df = spark.createDataFrame([(1, None)], "i long, s string")
        row = df.select(an.expr(df.s).alias("t")).collect()[0]
        # NULL input must never produce tokens (3VL soundness upstream)
        assert row.t is None or row.t == [], (name, row.t)


def test_array_analyzer_three_way(spark):
    """The `array` analyzer indexes an array<string> column directly:
    elements are terms (NULL elements dropped), element order is the
    position stream — all three representations agree on array input."""
    import duckdb as _dd

    an = analyzers()["array"]
    samples = [["a", "b", "a"], [], ["x"], ["q", None, "r"], None]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)],
        "i long, s array<string>")
    got = {r.i: (list(r.t) if r.t is not None else None)
           for r in df.select("i", an.expr(df.s).alias("t")).collect()}
    assert got[0] == ["a", "b", "a"] and got[1] == [] and got[2] == ["x"]
    assert got[3] == ["q", "r"] and got[4] is None
    assert an.tokens(["q", None, "r"]) == ["q", "r"]
    assert an.tokens("single") == ["single"]
    con = _dd.connect()
    dk = con.sql("SELECT " + an.duckdb("['q', NULL, 'r']")
                 + " AS t").fetchone()[0]
    assert list(dk) == ["q", "r"]


def test_create_dictionary_refuses_builtin_names():
    """Built-in analyzers are shared by every session in the process:
    CREATE TEXT SEARCH DICTIONARY refuses their names like DROP does."""
    from serenedb_spark.analysis.analyzers import (create_dictionary,
                                                   get_analyzer)

    simple = get_analyzer("simple")
    for name in ("keyword", "simple", "text"):
        with pytest.raises(ValueError, match="built-in"):
            create_dictionary(name, "ngram", mingram=2, maxgram=2)
    assert get_analyzer("simple") is simple
    assert simple.tokens("Hello World") == ["hello", "world"]
