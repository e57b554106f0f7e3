"""SQL front door for the search dialect (plans/search_sql.py +
SereneSession.sql): statement parsing, tsquery-expression lowering, the
CREATE INDEX ... USING inverted DDL form, and end-to-end execution parity
with the AST engine. Reference shapes: examples/demo3/demo.sql,
tests/sqllogic/sdb/pg/site_docs/sql/functions/full_text_search.test."""

from __future__ import annotations

import pytest

from serenedb_spark.analysis.analyzers import get_analyzer
from serenedb_spark.plans import search_sql as SS
from serenedb_spark.plans import tsquery as q
from tests.conftest import SF_DIR

AN = get_analyzer("simple")


def _an_of(_t, _c):
    return AN


def _parse_ts(text: str) -> q.TSQuery:
    return SS.parse_tsquery_text(text, AN)


# ---------------------------------------------------------------------------
# tsquery expression parsing
# ---------------------------------------------------------------------------


def test_native_combinators_precedence():
    # chains parse n-ary (a && b && c = one And([a, b, c])), matching
    # the combinator builders and the tsquery_to_sql round-trip
    node = _parse_ts("'spark' && ('data' || 'batch') && !!'slow'")
    assert node == q.And([q.Term("spark"),
                          q.Term("data") | q.Term("batch"),
                          ~q.Term("slow")])
    # || binds looser than &&
    assert _parse_ts("'a' && 'b' || 'c'") == (
        q.Term("a") & q.Term("b")) | q.Term("c")


def test_boost_binds_tighter_than_or():
    # full_text_search.test: ts_phrase('fox') || ts_phrase('quick') ^ 2.0
    node = _parse_ts("ts_phrase('fox') || ts_phrase('quick') ^ 2.0")
    assert node == q.Term("fox") | q.Term("quick").boost(2.0)


def test_bare_multiword_string_is_any_of_tokens():
    # `col @@ 'Quick Fox' ≡ ANY_OF(tokens)` min_match=1
    # (search_filter_builder.cpp:1896, tsquery_match.test:79)
    assert _parse_ts("'hash join'") == q.AnyOf(["hash", "join"])


def test_seq_chain_exact_gap_int():
    # 'quick' ## 1 ## 'fox' = exactly one token between → pos diff 2
    node = _parse_ts("'quick' ## 1 ## 'fox'")
    assert isinstance(node, q.PhraseSeq)
    assert node.gaps == ((2, 2),)


def test_seq_chain_array_gap_and_splice():
    node = _parse_ts(
        "ts_levenshtein('tarintino', 2) ## ARRAY[1,5] ## "
        "ts_starts_with('direct') ## ARRAY[0,8] ## 'film'")
    assert node.parts == (q.Fuzzy("tarintino", 2), q.Prefix("direct"),
                          q.Term("film"))
    assert node.gaps == ((2, 6), (1, 9))


def test_ts_phrase_with_gap_arrays():
    # demo3 §1: ts_phrase('plot', ARRAY[0,3], 'twist')
    node = _parse_ts("ts_phrase('plot', ARRAY[0,3], 'twist')")
    assert node == q.Phrase(["plot", "twist"], gaps=[(1, 4)])


def test_ts_phrase_multiword_string_expands():
    assert _parse_ts("ts_phrase('special effects')") == q.Phrase(
        ["special", "effects"])


def test_tsquery_cast_is_noop():
    assert _parse_ts("'quick'::TSQUERY ## 1 ## 'fox'::TSQUERY").parts == (
        q.Term("quick"), q.Term("fox"))


def test_func_leaves():
    assert _parse_ts("ts_any(ARRAY['a','b'], 2)") == q.AnyOf(["a", "b"], 2)
    assert _parse_ts("ts_all(ARRAY['a','b'])") == q.AllOf(["a", "b"])
    assert _parse_ts("ts_like('photo%graphy')") == q.Wildcard("photo%graphy")
    assert _parse_ts("ts_regexp('osc[ae]r')") == q.Regexp("osc[ae]r")
    assert _parse_ts("ts_ngram('directur', 0.6)") == q.NgramSim(
        "directur", 0.6)
    assert _parse_ts("ts_between('a', 'b', true, false)") == q.Between(
        "a", "b", True, False, strict=True)
    assert _parse_ts("ts_lt('m')") == q.Between(hi="m", hi_inclusive=False)
    assert _parse_ts("ts_ge('m')") == q.Between(lo="m")


def test_to_tsquery_word_operators():
    assert q.to_tsquery("quick AND brown") == q.Term("quick") & q.Term("brown")
    assert q.to_tsquery('"plot twist" OR -boring') == (
        q.Phrase(["plot", "twist"]) | ~q.Term("boring"))


# ---------------------------------------------------------------------------
# statement parsing
# ---------------------------------------------------------------------------


def test_parse_select_with_residual_and_limit():
    st = SS.parse_select(
        "SELECT doc_id FROM documents WHERE text @@ 'spark' "
        "AND lang = 'en' ORDER BY doc_id LIMIT 5", _an_of)
    assert st.matches == [("text", q.Term("spark"))]
    assert st.residual == "(lang = 'en')"
    assert st.order == [("doc_id", False)]
    assert st.limit == 5


def test_parse_select_scorer_rewrite():
    st = SS.parse_select(
        "SELECT doc_id, round(BM25(d.tableoid)::numeric, 2) AS score "
        "FROM d WHERE text @@ 'x' ORDER BY BM25(d.tableoid) DESC", _an_of)
    assert st.scorer == "bm25"
    assert st.select_items[1] == "round ( __score , 2 ) AS score"
    assert st.order == [("__score", True)]


def test_parse_select_scorer_params():
    # demo3 §5c: lm_dirichlet(oid, 5.0) — positional param binds to mu
    st = SS.parse_select(
        "SELECT doc_id FROM d WHERE text @@ 'x' "
        "ORDER BY lm_dirichlet(d.tableoid, 5.0) DESC", _an_of)
    assert st.scorer == "lm_dirichlet"
    assert st.scorer_params == {"mu": 5.0}


def test_parse_select_mixed_scorers_raise():
    with pytest.raises(ValueError, match="Only one scorer function"):
        SS.parse_select(
            "SELECT BM25(d.x) FROM d WHERE t @@ 'a' "
            "ORDER BY TFIDF(d.x) DESC", _an_of)


def test_string_literal_at_at_is_not_search():
    assert not SS.has_search_construct("SELECT '@@' AS x FROM t")
    assert SS.has_search_construct(
        "SELECT 1 FROM t WHERE c @@ to_tsquery('x')")


def test_parse_create_index():
    ddl = SS.parse_create_index(
        "CREATE INDEX imdb_idx ON imdb USING inverted("
        "text imdb_en, text_ngram imdb_ng, label)")
    assert ddl.name == "imdb_idx" and ddl.table == "imdb"
    assert ddl.fields == {"text": "imdb_en", "text_ngram": "imdb_ng"}
    assert ddl.includes == ["label"]
    assert SS.parse_create_index("CREATE TABLE t (a INT)") is None


def test_parse_create_index_partial():
    ddl = SS.parse_create_index(
        "CREATE INDEX i ON documents USING inverted(text simple) "
        "WHERE lang = 'en'")
    assert ddl.where == "lang = 'en'"


# ---------------------------------------------------------------------------
# end-to-end through SereneSession.sql
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def session(spark):
    from serenedb_spark.session import SereneSession

    ss = SereneSession(spark)
    ss.load_dir(SF_DIR, tables=("documents", "nation"))
    ss.sql("CREATE INDEX doc_idx ON documents USING inverted(text simple)")
    return ss


def test_sql_ddl_returns_status(session):
    row = session.sql(
        "CREATE INDEX doc_idx2 ON documents USING inverted(text simple)"
    ).first()
    assert row.index_name == "doc_idx2" and row.table_name == "documents"


def test_sql_match_parity_with_ast_engine(session):
    got = session.sql(
        "SELECT doc_id FROM documents WHERE text @@ "
        "('spark' && ('data' || 'batch')) ORDER BY doc_id"
    ).toPandas()
    want = session.match(
        session._indexes["doc_idx"],
        q.Term("spark") & (q.Term("data") | q.Term("batch")),
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert list(got.doc_id) == list(want.doc_id)
    assert len(got) > 0


def test_sql_from_index_name(session):
    # reference queries the index relation directly: FROM imdb_fts_idx
    a = session.sql(
        "SELECT doc_id FROM doc_idx WHERE text @@ 'spark' ORDER BY doc_id"
    ).toPandas()
    b = session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark' ORDER BY doc_id"
    ).toPandas()
    assert list(a.doc_id) == list(b.doc_id)


def test_sql_scored_topk(session):
    df = session.sql(
        "SELECT doc_id, round(BM25(doc_idx.tableoid)::numeric, 4) AS score "
        "FROM documents WHERE text @@ ts_any(ARRAY['spark','stream']) "
        "ORDER BY round(BM25(doc_idx.tableoid)::numeric, 4) DESC, doc_id "
        "LIMIT 10").toPandas()
    assert list(df.columns) == ["doc_id", "score"]
    assert len(df) == 10
    assert list(df.score) == sorted(df.score, reverse=True)
    assert (df.score > 0).all()


def test_sql_scored_topk_wand_delegation(session, monkeypatch):
    """The canonical `ORDER BY round(bm25,d) DESC, doc_id LIMIT k` shape
    delegates to the WAND-pruned scored_topk; unsafe shapes (unrounded
    order, mixed unrounded projection) keep the general plan; and the
    delegated rows equal the general plan's rows exactly."""
    from serenedb_spark.plans.planner import compile_query

    idx = session._indexes["doc_idx"]

    def _compiled(sql):
        st = SS.parse_select(sql, lambda t, c: idx.analyzer(c))
        return st, [(idx, col, node, compile_query(idx, col, node))
                    for col, node in st.matches]

    topk_sql = (
        "SELECT doc_id, round(BM25(doc_idx.tableoid)::numeric, 4) AS score "
        "FROM documents WHERE text @@ ts_any(ARRAY['spark','stream']) "
        "ORDER BY round(BM25(doc_idx.tableoid)::numeric, 4) DESC, doc_id "
        "LIMIT 10")
    st, comp = _compiled(topk_sql)
    assert SS._try_wand_topk(st, comp) is not None

    st, comp = _compiled(
        "SELECT doc_id FROM documents WHERE text @@ 'spark' "
        "ORDER BY BM25(doc_idx.tableoid) DESC, doc_id LIMIT 5")
    assert SS._try_wand_topk(st, comp) is None  # unrounded order

    st, comp = _compiled(
        "SELECT doc_id, BM25(doc_idx.tableoid) AS s FROM documents "
        "WHERE text @@ 'spark' "
        "ORDER BY round(BM25(doc_idx.tableoid)::numeric, 4) DESC, doc_id "
        "LIMIT 5")
    assert SS._try_wand_topk(st, comp) is None  # unrounded projection

    delegated = session.sql(topk_sql).toPandas()
    monkeypatch.setattr(SS, "_try_wand_topk", lambda *_: None)
    general = session.sql(topk_sql).toPandas()
    assert delegated.values.tolist() == general.values.tolist()


def _postings_scans(df) -> int:
    """Top-level reads of the persisted postings in df's executed (after
    a collect, final adaptive) plan:
    InMemoryTableScan nodes whose cached relation carries `positions`.
    Scans nested inside another cached relation's plan (term_stats is
    built from postings) are not reads of this query."""
    def walk(p) -> int:
        name = p.nodeName()
        if name == "InMemoryTableScan":
            cols = p.relation().output()
            return int(any(cols.apply(i).name() == "positions"
                           for i in range(cols.size())))
        if name == "AdaptiveSparkPlan":
            return walk(p.executedPlan())
        if name.endswith("QueryStage"):
            return walk(p.plan())
        kids = p.children()
        return sum(walk(kids.apply(i)) for i in range(kids.size()))

    return walk(df._jdf.queryExecution().executedPlan())


@pytest.mark.parametrize("sql,node", [
    ("SELECT doc_id FROM documents WHERE text @@ websearch_to_tsquery("
     "'spark -dup \"hash join\" OR stream') ORDER BY doc_id",
     (q.Term("spark") & ~q.Term("dup") & q.Phrase(["hash", "join"]))
     | q.Term("stream")),
    # the ES shim's `match` SQL: ordered by the unrounded score
    ("SELECT doc_id, round(BM25(doc_idx.tableoid)::numeric, 4) AS score "
     "FROM documents WHERE text @@ ts_any(ARRAY['spark','stream']) "
     "ORDER BY BM25(doc_idx.tableoid) DESC, doc_id LIMIT 7",
     q.AnyOf(["spark", "stream"])),
])
def test_one_postings_pass_per_query(session, duck, sql, node):
    """A boolean tree with a phrase leaf is one aggregation over one
    postings scan, and the unrounded BM25 order (which misses the WAND
    top-k) scores in the one pass that also yields the match set."""
    from serenedb_spark.plans.oracle import match_sql, scored_sql

    df = session.sql(sql)
    rows = df.collect()
    assert rows and _postings_scans(df) == 1
    if "BM25" not in sql:
        want = [r[0] for r in duck.sql(match_sql(
            "documents", "text", "simple", node, order="doc_id")).fetchall()]
        assert [r.doc_id for r in rows] == want
        return
    want = duck.sql(scored_sql("documents", "text", "simple", node,
                               k=None)).fetchall()
    by_id = {d: float(s) for d, s in want}
    for r, (_, ws) in zip(rows, want):
        assert abs(float(r.score) - by_id[r.doc_id]) < 1e-4
        assert abs(float(r.score) - float(ws)) < 1e-4
    assert len(rows) == min(7, len(want))


def test_sql_residual_predicate(session):
    df = session.sql(
        "SELECT doc_id, lang FROM documents "
        "WHERE text @@ 'spark' AND lang = 'en' ORDER BY doc_id").toPandas()
    assert (df.lang == "en").all()
    unfiltered = session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark'").count()
    assert 0 < len(df) < unfiltered


def test_sql_non_search_passthrough(session):
    df = session.sql("SELECT count(*) AS n FROM nation").toPandas()
    assert df.n[0] == 25


def test_sql_no_index_raises(session):
    with pytest.raises(ValueError, match="no inverted index"):
        session.sql("SELECT n_name FROM nation WHERE n_name @@ 'x'")


# ---------------------------------------------------------------------------
# claimed-vs-residual EXPLAIN
# ---------------------------------------------------------------------------


def test_explain_claimed_residual_split(session):
    txt = session.explain(
        "SELECT doc_id, round(BM25(doc_idx.tableoid)::numeric, 4) AS score "
        "FROM documents WHERE text @@ ('spark' && ('data' || 'batch')) "
        "AND lang = 'en' "
        "ORDER BY BM25(doc_idx.tableoid) DESC LIMIT 10")
    assert txt.startswith("IRESEARCH_SCAN")
    assert "Index: doc_idx" in txt
    assert "field=text analyzer=simple" in txt
    # the claimed tree is post-optimizer: 'data' || 'batch' collapses to
    # a Terms (AnyOf) leaf
    assert "Term value='spark'" in txt
    assert "Terms values=['data', 'batch']" in txt
    assert "Column Filter (residual): (lang = 'en')" in txt
    assert "Scorer: bm25" in txt
    assert "Top-K: 10" in txt


def test_explain_not_and_fuzzy_leaves(session):
    txt = session.explain(
        "SELECT doc_id FROM documents "
        "WHERE text @@ (ts_levenshtein('sprk', 1) && !!'slow')")
    assert "Fuzzy value='sprk' distance=1" in txt
    assert "Not" in txt and "Term value='slow'" in txt
    assert "Column Filter (residual): none" in txt


def test_explain_plain_sql_falls_through(session):
    txt = session.explain("SELECT count(*) AS n FROM nation")
    assert "IRESEARCH_SCAN" not in txt
    assert "Physical Plan" in txt


def test_explain_ann_probe_counts():
    from serenedb_spark.plans.explain import explain_ann

    txt = explain_ann(64, 8, 10, metric="cosine", quantization="sq8")
    assert "Centroids: 64" in txt
    assert "Probes: 8" in txt
    assert "Pruned partitions: 56" in txt
    assert "Quantization: sq8" in txt


# ---------------------------------------------------------------------------
# CREATE/DROP TEXT SEARCH DICTIONARY + DROP INDEX (demo3's full DDL cycle)
# ---------------------------------------------------------------------------


def test_create_dictionary_ddl_and_use(session):
    row = session.sql(
        "CREATE TEXT SEARCH DICTIONARY my_ngram(template = 'ngram', "
        "mingram = 3, maxgram = 3, preserveoriginal = false, "
        "frequency = true, position = true)").first()
    assert row.dictionary == "my_ngram" and row.template == "ngram"
    # the new dictionary serves an index + @@ query end-to-end
    session.sql(
        "CREATE INDEX doc_ng_idx ON documents USING inverted(text my_ngram)")
    hits = session.sql(
        "SELECT doc_id FROM doc_ng_idx WHERE text @@ ts_ngram('sparc', 0.5) "
        "ORDER BY doc_id").count()
    assert hits > 0
    # cleanup cycle from demo3's footer
    session.sql("DROP INDEX doc_ng_idx")
    assert "doc_ng_idx" not in session._indexes
    session.sql("DROP TEXT SEARCH DICTIONARY my_ngram")
    from serenedb_spark.analysis.analyzers import get_analyzer
    with pytest.raises(KeyError):
        get_analyzer("my_ngram")


def test_create_dictionary_unknown_template_raises(session):
    with pytest.raises(ValueError, match="unknown dictionary template"):
        session.sql(
            "CREATE TEXT SEARCH DICTIONARY x(template = 'nope')")


def test_drop_missing_index_raises(session):
    with pytest.raises(ValueError, match="does not exist"):
        session.sql("DROP INDEX never_created")


# ---------------------------------------------------------------------------
# OFFSETS / ts_highlight projections (demo3 §6)
# ---------------------------------------------------------------------------


def test_sql_offsets_projection(session):
    rows = session.sql(
        "SELECT doc_id, OFFSETS(text) AS match_ranges FROM documents "
        "WHERE text @@ 'spark' ORDER BY doc_id LIMIT 5").collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r.match_ranges) > 0
        for rng in r.match_ranges:
            assert rng.len == len("spark") and rng.start >= 1
    # explicit term + range cap
    capped = session.sql(
        "SELECT doc_id, OFFSETS(text, 'spark', 2) AS mr FROM documents "
        "WHERE text @@ 'spark' ORDER BY doc_id LIMIT 3").collect()
    assert all(len(r.mr) <= 2 for r in capped)


def test_sql_offsets_multi_term_sorted(session):
    rows = session.sql(
        "SELECT doc_id, OFFSETS(text) AS mr FROM documents "
        "WHERE text @@ ('hash' && 'join') ORDER BY doc_id LIMIT 3").collect()
    for r in rows:
        starts = [x.start for x in r.mr]
        assert starts == sorted(starts)
        assert {x.len for x in r.mr} <= {4}  # hash/join are both 4 chars


def test_sql_highlight_projection(session):
    rows = session.sql(
        "SELECT doc_id, ts_highlight(text) AS snippet FROM documents "
        "WHERE text @@ 'spark' ORDER BY doc_id LIMIT 5").collect()
    assert all("<b>spark</b>" in r.snippet for r in rows)
    custom = session.sql(
        "SELECT ts_highlight(text, 'spark', '[', ']') AS s FROM documents "
        "WHERE text @@ 'spark' LIMIT 3").collect()
    assert all("[spark]" in r.s for r in custom)


# ---------------------------------------------------------------------------
# pgvector-style distance operators (demo4 Q1/Q2/Q3)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vec_session(spark):
    from serenedb_spark.session import SereneSession

    ss = SereneSession(spark)
    ss.load_dir(SF_DIR, tables=("embeddings",))
    return ss


def _qarr(dim=64):
    vals = ", ".join(repr(((i * 37) % 19 - 9) / 10.0) for i in range(dim))
    return f"ARRAY[{vals}]::FLOAT[{dim}]"


def test_sql_vector_knn(vec_session):
    rows = vec_session.sql(
        f"SELECT vec_id, round(embedding <=> {_qarr()}, 6) AS distance "
        f"FROM embeddings ORDER BY round(embedding <=> {_qarr()}, 6), vec_id "
        f"LIMIT 5").collect()
    assert len(rows) == 5
    ds = [r.distance for r in rows]
    assert ds == sorted(ds)
    # parity with the exact knn operator
    from serenedb_spark.operators.similarity import knn_exact
    from serenedb_spark.queries import QUERY_VEC
    want = [r.vec_id for r in knn_exact(
        vec_session.table("embeddings"), "embedding", QUERY_VEC,
        k=5, metric="cosine").collect()]
    assert [r.vec_id for r in rows] == want


def test_sql_vector_range(vec_session):
    rows = vec_session.sql(
        f"SELECT vec_id FROM embeddings "
        f"WHERE embedding <=> {_qarr()} < 0.95 ORDER BY vec_id").collect()
    n_all = vec_session.table("embeddings").count()
    assert 0 < len(rows) < n_all


def test_sql_vector_l2_and_ip(vec_session):
    l2 = vec_session.sql(
        f"SELECT vec_id FROM embeddings "
        f"ORDER BY embedding <-> {_qarr()}, vec_id LIMIT 3").collect()
    ip = vec_session.sql(
        f"SELECT vec_id FROM embeddings "
        f"ORDER BY embedding <#> {_qarr()}, vec_id LIMIT 3").collect()
    assert len(l2) == 3 and len(ip) == 3


def test_sql_vector_mixed_refs_raise(vec_session):
    with pytest.raises(ValueError, match="ONE vector distance"):
        vec_session.sql(
            f"SELECT embedding <=> {_qarr()} AS a FROM embeddings "
            f"ORDER BY embedding <-> {_qarr()} LIMIT 1")


def test_sql_hybrid_text_plus_vector(spark):
    """demo4 Q3: @@ filter + ORDER BY vector distance over ONE relation
    (documents joined to aligned embeddings)."""
    from serenedb_spark.session import SereneSession
    from pyspark.sql import functions as F

    ss = SereneSession(spark)
    ss.load_dir(SF_DIR, tables=("documents", "embeddings"))
    hybrid = (ss.table("documents")
              .join(ss.table("embeddings"),
                    F.col("doc_id") == F.col("vec_id"), "inner")
              .select("doc_id", "text", "embedding"))
    ss._tables["hybrid"] = hybrid
    hybrid.createOrReplaceTempView("hybrid")
    ss.sql("CREATE INDEX hybrid_idx ON hybrid USING inverted(text simple)")
    rows = ss.sql(
        f"SELECT doc_id FROM hybrid WHERE text @@ 'spark' "
        f"ORDER BY embedding <=> {_qarr()}, doc_id LIMIT 5").collect()
    assert 0 < len(rows) <= 5
    # every returned doc matches the text filter
    match_ids = {r.doc_id for r in ss.sql(
        "SELECT doc_id FROM hybrid WHERE text @@ 'spark'").collect()}
    assert {r.doc_id for r in rows} <= match_ids


# ---------------------------------------------------------------------------
# demo1 Q3 aggregates, demo6 ts_tokenize, demo5 ai_embed operand
# ---------------------------------------------------------------------------


def test_sql_aggregate_over_match_set(session):
    row = session.sql(
        "SELECT count(*) AS hits, round(avg(doc_id)::numeric, 3) AS a "
        "FROM documents WHERE text @@ ts_phrase('hash join') "
        "AND lang = 'en'").first()
    assert row.hits > 0 and row.a is not None
    # hits equals the plain match count under the same residual
    n = session.sql(
        "SELECT doc_id FROM documents WHERE text @@ ts_phrase('hash join') "
        "AND lang = 'en'").count()
    assert row.hits == n


def test_sql_ts_tokenize_inside_ts_all(session):
    a = session.sql(
        "SELECT doc_id FROM documents WHERE text @@ "
        "ts_all(ts_tokenize(ARRAY['hash join'], 'simple')) "
        "ORDER BY doc_id").toPandas()
    b = session.sql(
        "SELECT doc_id FROM documents WHERE text @@ ts_all(ARRAY['hash', "
        "'join']) ORDER BY doc_id").toPandas()
    assert list(a.doc_id) == list(b.doc_id) and len(a) > 0


def test_sql_ai_embed_vector_operand(spark):
    """demo5: ORDER BY embedding <=> ai_embed('query', 'stub') — the
    query string embeds ONCE driver-side; the nearest row is the one
    whose stored embedding came from the same text."""
    from serenedb_spark.session import SereneSession
    from serenedb_spark.functions.embedding import embed_table

    ss = SereneSession(spark)
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        "id long, text string")
    ss._tables["minidocs"] = embed_table(docs)
    top = ss.sql(
        "SELECT id FROM minidocs "
        "ORDER BY embedding <=> ai_embed('gamma delta', 'stub'), id "
        "LIMIT 1").first()
    assert top.id == 2


def test_explain_vector_scan(vec_session):
    txt = vec_session.explain(
        f"SELECT vec_id FROM embeddings "
        f"WHERE embedding <=> {_qarr()} < 0.9 "
        f"ORDER BY embedding <=> {_qarr()}, vec_id LIMIT 5")
    assert "VECTOR_SCAN" in txt
    assert "Metric: cosine" in txt
    assert "Range: embedding < 0.9" in txt
    assert "Top-K: 5" in txt


def test_sql_ts_dict_statement(session):
    # the reference binds ts_dict to the index RELATION (ts_dict.test:222
    # errors on the base table), so query FROM doc_idx
    rows = session.sql(
        "SELECT unnest(ts_dict_agg(text)) AS term, "
        "unnest(ts_dict_count(text)) AS docs, "
        "unnest(ts_dict_freq(text)) AS freq "
        "FROM doc_idx WHERE text LIKE 's%' ORDER BY term LIMIT 10"
    ).collect()
    assert rows and all(r.term.startswith("s") for r in rows)
    assert all(r.freq >= r.docs > 0 for r in rows)
    mm = session.sql(
        "SELECT ts_dict_min(text) AS lo, ts_dict_max(text) AS hi "
        "FROM doc_idx").first()
    assert mm.lo <= mm.hi


def test_explain_ts_dict(session):
    txt = session.explain(
        "SELECT unnest(ts_dict_agg(text)) AS term FROM documents "
        "WHERE text LIKE 'g%' LIMIT 5")
    assert txt.startswith("TS_DICT_SCAN")
    assert "Source: term_stats (no row access)" in txt
    assert "Term Filter: term LIKE 'g%'" in txt


# ---------------------------------------------------------------------------
# parser ⟷ renderer round-trip fuzz
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_WORD = st.from_regex(r"[a-z][a-z0-9]{0,7}", fullmatch=True)


def _leaf_nodes():
    return st.one_of(
        _WORD.map(q.Term),
        st.lists(_WORD, min_size=1, max_size=4, unique=True).map(q.AllOf),
        st.tuples(st.lists(_WORD, min_size=2, max_size=4, unique=True),
                  st.integers(1, 2)).map(lambda t: q.AnyOf(*t)),
        st.tuples(
            st.lists(_WORD, min_size=2, max_size=3),
            st.lists(st.tuples(st.integers(1, 3), st.integers(3, 6)),
                     min_size=2, max_size=2),
        ).map(lambda t: q.Phrase(t[0], gaps=t[1][:len(t[0]) - 1])),
        _WORD.map(q.Prefix),
        _WORD.map(lambda w: q.Wildcard(w + "%")),
        st.tuples(_WORD, st.integers(1, 2)).map(lambda t: q.Fuzzy(*t)),
        st.tuples(_WORD, st.floats(0.1, 0.9).map(
            lambda f: round(f, 2))).map(lambda t: q.NgramSim(*t)),
        # two-bounded ranges render as ts_between(...), whose reparse is
        # the strict (keyword-column-only) form
        st.tuples(_WORD, _WORD, st.booleans(), st.booleans()).map(
            lambda t: q.Between(min(t[0], t[1]), max(t[0], t[1]),
                                t[2], t[3], strict=True)),
        _WORD.map(lambda w: q.Between(lo=w, lo_inclusive=False)),
        _WORD.map(lambda w: q.Between(hi=w)),
    )


_NODES = st.recursive(
    _leaf_nodes(),
    lambda kids: st.one_of(
        st.lists(kids, min_size=2, max_size=3).map(q.And),
        st.lists(kids, min_size=2, max_size=3).map(q.Or),
        kids.map(q.Not),
        st.tuples(kids, st.floats(0.5, 4.0).map(
            lambda f: round(f, 2))).map(lambda t: q.Boost(*t)),
        # phrase parts: term-shaped only; a single phrase position holds
        # at most one token, so AnyOf needs min_match <= 1
        # (tsquery_match.test:1016)
        st.lists(kids.filter(lambda n: isinstance(
            n, (q.Term, q.AnyOf, q.Prefix, q.Wildcard, q.Fuzzy,
                q.Between))
            and not (isinstance(n, q.AnyOf) and n.min_match > 1)),
            min_size=2, max_size=3).map(q.PhraseSeq),
    ),
    max_leaves=8,
)


@settings(max_examples=200, deadline=None)
@given(node=_NODES)
def test_tsquery_sql_roundtrip_fuzz(node):
    """tsquery_to_sql ∘ parse_tsquery_text is the identity for every
    AST over analyzer-fixed-point terms — the parser and renderer can
    never drift from each other."""
    sql = SS.tsquery_to_sql(node)
    assert SS.parse_tsquery_text(sql, AN) == node


# ---------------------------------------------------------------------------
# multi-relation statements (JOIN / comma-list / GROUP BY) — demo6 Q2/Q7
# shapes (examples/demo6/demo.sql:36-46,87-99), secondary_index.test:1014
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mr_session(spark):
    from serenedb_spark.session import SereneSession

    ss = SereneSession(spark)
    ss.load_dir(SF_DIR, tables=("documents", "embeddings", "nation"))
    ss.sql("CREATE INDEX doc_idx ON documents USING inverted(text simple)")
    return ss


def test_mr_join_matches_single_relation_semi(mr_session):
    got = mr_session.sql(
        "SELECT d.doc_id, e.label FROM documents d "
        "JOIN embeddings e ON e.vec_id = d.doc_id "
        "WHERE d.text @@ ('spark' && 'join') ORDER BY d.doc_id").toPandas()
    want = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ ('spark' && 'join') "
        "ORDER BY doc_id").toPandas()
    emb = {r.vec_id for r in
           mr_session.sql("SELECT vec_id FROM embeddings").collect()}
    assert list(got.doc_id) == [d for d in want.doc_id if d in emb]
    assert len(got) > 0


def test_mr_comma_list_from(mr_session):
    a = mr_session.sql(
        "SELECT d.doc_id FROM documents d, embeddings e "
        "WHERE e.vec_id = d.doc_id AND d.text @@ 'spark' "
        "ORDER BY d.doc_id").toPandas()
    b = mr_session.sql(
        "SELECT d.doc_id FROM documents d "
        "JOIN embeddings e ON e.vec_id = d.doc_id "
        "WHERE d.text @@ 'spark' ORDER BY d.doc_id").toPandas()
    assert list(a.doc_id) == list(b.doc_id) and len(a) > 0


def test_mr_group_by_single_relation(mr_session):
    rows = mr_session.sql(
        "SELECT lang, count(*) AS hits FROM documents "
        "WHERE text @@ ('spark' || 'stream') GROUP BY lang "
        "HAVING count(*) > 1 ORDER BY lang").collect()
    base = mr_session.sql(
        "SELECT doc_id, lang FROM documents "
        "WHERE text @@ ('spark' || 'stream')").toPandas()
    want = base.groupby("lang").size()
    want = want[want > 1].sort_index()
    assert [(r.lang, r.hits) for r in rows] == list(want.items())


def test_mr_scored_join_matches_single_relation_scores(mr_session):
    got = mr_session.sql(
        "SELECT d.doc_id, e.label, "
        "round(bm25(d.tableoid)::numeric, 4) AS score "
        "FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id "
        "WHERE d.text @@ ts_any(ARRAY['spark','stream']) "
        "ORDER BY round(bm25(d.tableoid)::numeric, 4) DESC, d.doc_id "
        "LIMIT 10").toPandas()
    want = mr_session.sql(
        "SELECT doc_id, round(bm25(doc_idx.tableoid)::numeric, 4) AS score "
        "FROM documents WHERE text @@ ts_any(ARRAY['spark','stream']) "
        "ORDER BY round(bm25(doc_idx.tableoid)::numeric, 4) DESC, doc_id "
        "LIMIT 10").toPandas()
    assert list(got.doc_id) == list(want.doc_id)
    assert list(got.score) == list(want.score)


def test_mr_join_group_having(mr_session):
    rows = mr_session.sql(
        "SELECT d.lang, count(*) AS n, min(e.label) AS lo "
        "FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id "
        "WHERE d.text @@ 'stream' GROUP BY d.lang "
        "HAVING count(*) >= 2 ORDER BY n DESC, d.lang").collect()
    assert len(rows) > 0
    assert all(r.n >= 2 and r.lo is not None for r in rows)
    assert [(-r.n, r.lang) for r in rows] == sorted(
        (-r.n, r.lang) for r in rows)


def test_mr_fn_rename_approx_quantile(mr_session):
    row = mr_session.sql(
        "SELECT lang, approx_quantile(doc_id, 0.5) AS med "
        "FROM documents WHERE text @@ 'spark' GROUP BY lang "
        "ORDER BY lang LIMIT 1").first()
    assert row.med is not None


def test_mr_ambiguous_unqualified_column_raises(mr_session):
    with pytest.raises(ValueError, match="ambiguous|qualify"):
        mr_session.sql(
            "SELECT 1 FROM documents d JOIN documents e ON e.doc_id = "
            "d.doc_id WHERE text @@ 'spark'")


def test_mr_vector_operator_rejected(mr_session):
    with pytest.raises(ValueError, match="vector distance"):
        mr_session.sql(
            "SELECT d.doc_id FROM documents d JOIN embeddings e "
            "ON e.vec_id = d.doc_id WHERE d.text @@ 'spark' "
            "ORDER BY e.embedding <=> e.embedding LIMIT 3")


def test_mr_from_subquery_rejected(mr_session):
    with pytest.raises(ValueError, match="subquer"):
        mr_session.sql(
            "SELECT x.doc_id FROM (SELECT doc_id FROM documents) x "
            "JOIN embeddings e ON e.vec_id = x.doc_id "
            "WHERE text @@ 'spark'")


def test_plain_sql_over_index_relation(mr_session):
    # demo6 Q5-Q7: FROM idx_name with NO search construct in the text —
    # the docstore is exposed under the index name for plain Spark SQL
    n = mr_session.sql("SELECT count(*) AS n FROM doc_idx").first().n
    m = mr_session.sql("SELECT count(*) AS n FROM documents").first().n
    assert n == m > 0


def test_mr_explain_claimed_blocks(mr_session):
    txt = mr_session.explain(
        "SELECT d.doc_id, e.label, "
        "round(bm25(d.tableoid)::numeric, 4) AS score "
        "FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id "
        "WHERE d.text @@ ('spark' && 'join') "
        "GROUP BY d.doc_id, e.label "
        "ORDER BY 3 DESC LIMIT 5")
    assert txt.startswith("IRESEARCH_SCAN (d = documents)")
    assert "field=text analyzer=simple" in txt
    assert "Scorer: bm25" in txt
    assert "RELATIONAL (Catalyst)" in txt
    assert "Full-scan relations: e = embeddings" in txt
    assert "Delegated clauses: join, group-by, order-by, limit" in txt


def test_mr_left_join_match_on_preserved_side(mr_session):
    # match on the preserved side: pre-filtering the claimed view is
    # equivalent to the post-join WHERE — allowed, equals inner here
    # (embeddings covers every doc_id)
    a = mr_session.sql(
        "SELECT d.doc_id FROM documents d "
        "LEFT JOIN embeddings e ON e.vec_id = d.doc_id "
        "WHERE d.text @@ 'spark' ORDER BY d.doc_id").toPandas()
    b = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark' "
        "ORDER BY doc_id").toPandas()
    assert list(a.doc_id) == list(b.doc_id) and len(a) > 0


def test_mr_outer_join_match_on_nullable_side_rejected(mr_session):
    with pytest.raises(ValueError, match="NULL-extended"):
        mr_session.sql(
            "SELECT e.vec_id, d.doc_id FROM embeddings e "
            "LEFT JOIN documents d ON d.doc_id = e.vec_id "
            "WHERE d.text @@ 'spark'")
    with pytest.raises(ValueError, match="NULL-extended"):
        mr_session.sql(
            "SELECT d.doc_id FROM documents d "
            "RIGHT JOIN embeddings e ON e.vec_id = d.doc_id "
            "WHERE d.text @@ 'spark'")
    with pytest.raises(ValueError, match="NULL-extended"):
        mr_session.sql(
            "SELECT d.doc_id FROM documents d "
            "FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id "
            "WHERE d.text @@ 'spark'")


def test_mr_two_matched_relations_self_join(mr_session):
    # demo6 Q7 true shape: two @@-matched index relations in one
    # statement — each gets its own claimed view
    a = mr_session.sql(
        "SELECT a.doc_id FROM documents a "
        "JOIN documents b ON b.doc_id = a.doc_id "
        "WHERE a.text @@ 'spark' AND b.text @@ 'stream' "
        "ORDER BY a.doc_id").toPandas()
    b = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ ('spark' && 'stream') "
        "ORDER BY doc_id").toPandas()
    assert list(a.doc_id) == list(b.doc_id) and len(a) > 0


def test_fn_rename_call_sites_only():
    from serenedb_spark.plans.dialect import rewrite_fn_renames as R

    assert R("approx_quantile(x, 0.5)") == "approx_percentile(x, 0.5)"
    assert R("APPROX_QUANTILE (x, 0.5)") == "approx_percentile (x, 0.5)"
    # string literals and quoted identifiers are untouched
    assert R("SELECT 'approx_quantile(') ") == "SELECT 'approx_quantile(') "
    assert R('SELECT "approx_quantile"(x)') == 'SELECT "approx_quantile"(x)'
    # a bare column reference (no call parens) is untouched
    assert R("SELECT approx_quantile FROM t") == (
        "SELECT approx_quantile FROM t")
    # qualified names are untouched
    assert R("s.approx_quantile(x)") == "s.approx_quantile(x)"
    # '' escape does not end the literal early
    assert R("SELECT 'it''s approx_quantile(' , approx_quantile(x, 1)") == (
        "SELECT 'it''s approx_quantile(' , approx_percentile(x, 1)")


def test_plain_sql_index_relation_group_by(mr_session):
    # demo6 Q5/Q7 shape through the PLAIN door: FROM idx_name, GROUP BY,
    # approx_quantile — no search construct anywhere in the statement
    rows = mr_session.sql(
        "SELECT lang, count(*) AS n, "
        "round(approx_quantile(doc_id, 0.5)) AS p50 "
        "FROM doc_idx GROUP BY lang HAVING count(*) >= 2 "
        "ORDER BY n DESC, lang LIMIT 5").collect()
    assert len(rows) > 0 and all(r.p50 is not None for r in rows)


# ---------------------------------------------------------------------------
# set operations over search statements
# ---------------------------------------------------------------------------


def test_setop_intersect_equals_and(mr_session):
    a = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark' "
        "INTERSECT "
        "SELECT doc_id FROM documents WHERE text @@ 'stream' "
        "ORDER BY doc_id").toPandas()
    b = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ ('spark' && 'stream') "
        "ORDER BY doc_id").toPandas()
    assert list(a.doc_id) == list(b.doc_id) and len(a) > 0


def test_setop_union_equals_or(mr_session):
    a = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark' "
        "UNION "
        "SELECT doc_id FROM documents WHERE text @@ 'stream' "
        "ORDER BY doc_id").toPandas()
    b = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ ('spark' || 'stream') "
        "ORDER BY doc_id").toPandas()
    assert list(a.doc_id) == list(b.doc_id) and len(a) > 0


def test_setop_union_all_keeps_duplicates(mr_session):
    n_all = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark' "
        "UNION ALL "
        "SELECT doc_id FROM documents WHERE text @@ 'spark'").count()
    n = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark'").count()
    assert n_all == 2 * n > 0


def test_setop_mixed_plain_and_search_arm(mr_session):
    rows = mr_session.sql(
        "SELECT doc_id FROM documents WHERE doc_id < 3 "
        "UNION "
        "SELECT doc_id FROM documents WHERE text @@ 'spark' AND doc_id < 3 "
        "ORDER BY doc_id").toPandas()
    assert list(rows.doc_id) == [0, 1, 2]


def test_setop_tail_limit_applies_to_whole(mr_session):
    rows = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark' "
        "UNION "
        "SELECT doc_id FROM documents WHERE text @@ 'stream' "
        "ORDER BY doc_id DESC LIMIT 3").toPandas()
    assert len(rows) == 3
    assert list(rows.doc_id) == sorted(rows.doc_id, reverse=True)


def test_setop_star_except_modifier_is_not_a_set_op(mr_session):
    cols = mr_session.sql(
        "SELECT * EXCEPT (text, lang) FROM documents LIMIT 1").columns
    assert "text" not in cols and "doc_id" in cols


# ---------------------------------------------------------------------------
# search subqueries inside relational statements
# ---------------------------------------------------------------------------


def test_subquery_in_semi_join(mr_session):
    a = mr_session.sql(
        "SELECT vec_id FROM embeddings WHERE vec_id IN "
        "(SELECT doc_id FROM documents WHERE text @@ ('spark' && 'join')) "
        "ORDER BY vec_id").toPandas()
    b = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ ('spark' && 'join') "
        "ORDER BY doc_id").toPandas()
    assert list(a.vec_id) == list(b.doc_id) and len(a) > 0


def test_subquery_scalar(mr_session):
    row = mr_session.sql(
        "SELECT count(*) AS n, "
        "(SELECT count(*) FROM documents WHERE text @@ 'spark') AS m "
        "FROM embeddings").first()
    m = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark'").count()
    assert row.m == m > 0 and row.n == 500


def test_subquery_inside_search_outer(mr_session):
    a = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'stream' AND doc_id IN "
        "(SELECT doc_id FROM documents WHERE text @@ 'spark') "
        "ORDER BY doc_id").toPandas()
    b = mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ ('stream' && 'spark') "
        "ORDER BY doc_id").toPandas()
    assert list(a.doc_id) == list(b.doc_id) and len(a) > 0


def test_subquery_not_in_with_multirel_outer(mr_session):
    rows = mr_session.sql(
        "SELECT d.doc_id FROM documents d "
        "JOIN embeddings e ON e.vec_id = d.doc_id "
        "WHERE d.text @@ 'stream' AND d.doc_id NOT IN "
        "(SELECT doc_id FROM documents WHERE text @@ 'spark') "
        "ORDER BY d.doc_id").toPandas()
    spark_ids = set(mr_session.sql(
        "SELECT doc_id FROM documents WHERE text @@ 'spark'"
    ).toPandas().doc_id)
    assert len(rows) > 0
    assert not (set(rows.doc_id) & spark_ids)
