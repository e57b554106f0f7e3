"""Vector-operator semantics beyond the oracle gate: IVF recall vs exact,
radius ≡ filter, SQ8 error bounds, ai_embed determinism, ES bulk ingest
round-trip into a searchable table."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from serenedb_spark import queries as Q
from serenedb_spark.operators import similarity as SIM
from tests.conftest import SF_DIR

QV = Q.QUERY_VEC


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def test_ivf_recall(spark, emb):
    exact = [r.vec_id for r in SIM.knn_exact(emb, "embedding", QV, k=10).collect()]
    ivf = SIM.ivf_build(emb, "embedding", "vec_id", nlist=8, metric="cosine")
    # probing half the lists must recover most of the exact top-10
    got = [r.vec_id for r in SIM.ivf_search(ivf, QV, k=10, nprobe=4).collect()]
    recall = len(set(exact) & set(got)) / 10
    assert recall >= 0.5, f"nprobe=4 recall {recall}"
    # probing all lists IS exact search
    full = [r.vec_id for r in SIM.ivf_search(ivf, QV, k=10, nprobe=8).collect()]
    assert full == exact


def test_radius_equals_filter(spark, emb):
    r = SIM.radius_search(emb, "embedding", QV, radius=0.9, metric="cosine")
    ids = {x.vec_id for x in r.collect()}
    d = SIM.knn_exact(emb, "embedding", QV, k=10_000).where(F.col("distance") < 0.9)
    assert ids == {x.vec_id for x in d.collect()}


def test_sq8_error_bounded(spark, emb):
    sq = SIM.SQ8.train(emb, "embedding")
    from serenedb_spark.functions import vector as V

    decoded = sq.decode_col(sq.encode_col(F.col("embedding")))
    err = emb.select(
        F.max(V.l2_distance(decoded, F.col("embedding"))).alias("e")
    ).first().e
    # max reconstruction error ≤ (span/510) * sqrt(dim) by construction
    dim = len(sq.mins)
    bound = max(
        (mx - mn) for mn, mx in zip(sq.mins, sq.maxs)
    ) / 510.0 * (dim ** 0.5) * 1.01
    assert err <= bound, (err, bound)


def test_ai_embed_deterministic(spark):
    from serenedb_spark.functions.embedding import DIM, embed_table

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, None)],
        "id long, text string",
    )
    rows = {r.id: r.embedding for r in embed_table(df).collect()}
    assert rows[1] == rows[2]
    assert len(rows[1]) == DIM and all(0 <= v < 1 for v in rows[1])
    assert len(rows[3]) == DIM  # NULL text embeds as empty string


def test_es_bulk_ingest_searchable(spark):
    from serenedb_spark.operators.maintenance import SearchTable
    from serenedb_spark.plans import tsquery as q
    from serenedb_spark.plans.planner import compile_query
    from serenedb_spark.sources.es_bulk import es_bulk, project_source

    payload = "\n".join([
        '{"index": {"_index": "docs", "_id": "1"}}',
        '{"text": "spark streaming joins", "n": 1}',
        '{"index": {"_index": "docs", "_id": "2"}}',
        '{"text": "batch analytics", "n": 2}',
    ])
    bulk = es_bulk(spark, payload)
    typed = project_source(bulk, "text string, n int").select(
        F.col("_id").alias("doc_id"), "text"
    )
    st = SearchTable(typed.limit(0), {"text": "simple"}, key="doc_id")
    st.insert(typed)
    hits = {
        r.doc_id
        for r in compile_query(st.index(), "text", q.Term("spark")).doc_ids.collect()
    }
    assert hits == {"1"}


def test_pq_trained_recall(spark):
    """MLlib-trained PQ (the quality path): ADC top-10 must recover most of
    the exact cosine top-10 — and the sampled-codebook parity path must
    agree with its own oracle shape (codes in [1, ksub])."""
    from serenedb_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    pq = SIM.PQ.train(emb, "embedding", m=16, ksub=16, seed=7)
    assert pq.m == 16 and pq.ksub == 16 and pq.ds == 4

    # uniform-random 64-dim data concentrates pairwise distances, so raw
    # ADC ordering is noisy — the production shape is ADC candidates +
    # exact re-rank (the reference's sdb_rerank_factor)
    approx = SIM.rerank_knn(SIM.encode(emb, pq, "embedding"), emb, pq,
                            [0.5] * 64, k=10, shortlist=100)
    exact = SIM.knn_exact(emb, "embedding", [0.5] * 64, k=10, metric="l2_sqr")
    a = {r.vec_id for r in approx.collect()}
    e = {r.vec_id for r in exact.collect()}
    assert len(a & e) >= 7, (a, e)

    codes = emb.select(pq.encode_col(F.col("embedding")).alias("c")).first().c
    assert len(codes) == 16 and all(1 <= c <= 16 for c in codes)


def test_binary_quant_bits_roundtrip(spark):
    from serenedb_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    bq = SIM.BinaryQuant.train(emb, "embedding")
    assert len(bq.mids) == 64
    top = SIM.knn_codes(SIM.encode(emb, bq, "embedding"), bq, [0.5] * 64,
                        k=5).collect()
    assert len(top) == 5
    assert all(0 <= r.hamming <= 64 for r in top)
    assert top == sorted(top, key=lambda r: (r.hamming, r.vec_id))


def test_rabitq_estimator_and_rerank(spark):
    """RaBitQ (rotation + correction + unbiased estimator): the 1-bit
    estimator alone gives useful-but-lossy ordering; the designed usage
    (shortlist -> exact re-rank) recovers exact top-k."""
    from serenedb_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rq = SIM.RaBitQ.train(emb, "embedding")
    q = list(emb.where(F.col("vec_id") == 11).first()["embedding"])
    codes = SIM.encode(emb, rq, "embedding").persist()

    exact = [r.vec_id for r in SIM.knn_exact(
        emb, "embedding", q, k=10, metric="l2").collect()]
    est = [r.vec_id for r in SIM.knn_codes(codes, rq, q, k=10).collect()]
    # self-match always survives quantization; estimator recall is lossy
    assert est[0] == 11
    assert len(set(exact) & set(est)) >= 3

    rerank = [r.vec_id for r in SIM.rerank_knn(
        codes, emb, rq, q, k=10, shortlist=120).collect()]
    assert len(set(exact) & set(rerank)) >= 9

    # rotation is orthogonal: norms preserved (seeded, deterministic)
    import numpy as np

    R = np.array(SIM.RaBitQ.rotation_matrix(len(q)))
    assert np.allclose(R @ R.T, np.eye(len(q)), atol=1e-9)
    assert SIM.RaBitQ.rotation_matrix(len(q)) == \
        SIM.RaBitQ.rotation_matrix(len(q))


def test_rabitq_numpy_path_matches_expr_path(spark):
    """The Arrow/numpy encode path must agree with the expression path
    (same math, summation-order-only differences): identical bits and
    near-identical correction scalars on real data."""
    from serenedb_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .limit(200)
    rq = SIM.RaBitQ.train(emb, "embedding")
    by_expr = {r.vec_id: r for r in SIM.encode(
        emb, rq, "embedding", method="expr").collect()}
    by_np = {r.vec_id: r for r in SIM.encode(
        emb, rq, "embedding", method="numpy").collect()}
    assert set(by_expr) == set(by_np)
    for vid, e in by_expr.items():
        n = by_np[vid]
        assert e.bits == n.bits, vid
        assert abs(e.norm - n.norm) < 1e-9
        assert abs(e.obar_o - n.obar_o) < 1e-9


def test_rabitq_at_1536_dims_bounded(spark):
    """RaBitQ at REAL embedding dims: the dim x dim literal rotation
    cannot codegen at 1536 (2.4M expression nodes); the numpy path must
    build and query in bounded time. (r6 verdict item 8.)"""
    import random
    import time

    from serenedb_spark.operators import similarity as SIM

    dim, n = 1536, 300
    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .repartition(8)

    t0 = time.perf_counter()
    rot = SIM.RaBitQ.rotation_matrix(dim)
    rq = SIM.RaBitQ([0.0] * dim, rot)
    codes = SIM.encode(df, rq, "embedding").persist()
    assert codes.count() == n
    build = time.perf_counter() - t0

    q = rows[17][1]
    t0 = time.perf_counter()
    est = SIM.knn_codes(codes, rq, q, k=10).collect()
    rerank = SIM.rerank_knn(codes, df, rq, q, k=5, shortlist=50).collect()
    query = time.perf_counter() - t0

    assert est[0].vec_id == 17       # self-match survives 1-bit codes
    assert rerank[0].vec_id == 17 and rerank[0].d2 == 0.0
    # generous bounds — the point is "minutes, not hours/OOM"
    assert build < 120, f"encode took {build:.1f}s"
    assert query < 120, f"query took {query:.1f}s"
    codes.unpersist()


# ---- pins: exact rows of the quantized paths no DuckDB oracle gates -------
# Generated on the sf0.001 embeddings (500 rows, one scan partition); each
# row is (vec_id, the path's rounded distance).

_PINNED = os.path.basename(SF_DIR) == "sf0.001"
pinned = pytest.mark.skipif(not _PINNED, reason="pins are for sf0.001")


@pinned
def test_pin_ivf_sq8_rerank(emb):
    ivf = SIM.ivf_build(emb, "embedding", "vec_id", nlist=8, quant="sq8")
    got = SIM.ivf_search(ivf, QV, k=10, nprobe=3, rerank_factor=2)
    assert got.columns == ["vec_id", "distance"]
    assert [tuple(r) for r in got.collect()] == [
        (179, 0.710169), (423, 0.718416), (307, 0.749039), (183, 0.759101),
        (372, 0.762017), (320, 0.777968), (487, 0.787731), (229, 0.788319),
        (247, 0.791498), (170, 0.805649)]


@pinned
def test_pin_pq_rerank(emb):
    pq = SIM.PQ.from_seed_rows(
        [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()],
        8)
    got = SIM.rerank_knn(SIM.encode(emb, pq, "embedding"), emb, pq, QV,
                         k=10, shortlist=20)
    assert got.columns == ["vec_id", "distance"]
    assert [tuple(r) for r in got.collect()] == [
        (287, 19.221171), (298, 19.645669), (461, 19.716637),
        (271, 19.758573), (170, 19.854929), (448, 19.910474),
        (336, 20.229503), (193, 20.258365), (109, 20.352551),
        (32, 20.42395)]


@pinned
def test_pin_binary_top_k(emb):
    bq = SIM.BinaryQuant.train(emb, "embedding")
    got = SIM.knn_codes(SIM.encode(emb, bq, "embedding"), bq, QV, k=10)
    assert got.columns == ["vec_id", "hamming"]
    assert [tuple(r) for r in got.collect()] == [
        (219, 21), (179, 22), (336, 22), (138, 23), (152, 23), (160, 23),
        (237, 23), (339, 23), (155, 24), (284, 24)]


@pinned
def test_pin_ann_index_sq8(spark, emb):
    from serenedb_spark.session import SereneSession

    ss = SereneSession(spark)
    # 32 lists × the default sample factor 16 ≥ 500 rows: full-corpus fit
    idx = ss.create_ann_index(emb, quant="sq8", nlist=32)
    got = ss.ann_search(idx, QV, k=10, rerank_factor=1)
    assert got.columns == ["vec_id", "distance"]
    assert [tuple(r) for r in got.collect()] == [
        (365, 0.762052), (298, 0.782607), (461, 0.790421), (178, 0.795847),
        (312, 0.80461), (5, 0.824861), (446, 0.838967), (284, 0.846231),
        (397, 0.881499), (31, 0.881792)]


@pinned
def test_pin_rabitq_highdim(spark):
    got = Q.REGISTRY["vec_rabitq_highdim"].fn(spark, SF_DIR)
    assert got.columns == ["vec_id", "d2"]
    assert [tuple(r) for r in got.collect()] == [
        (219, 446.074352), (179, 455.707269), (423, 457.504743),
        (152, 459.754432), (287, 461.308113), (307, 464.179357),
        (339, 465.903832), (183, 466.372667), (372, 467.008167),
        (365, 467.015845)]


def test_one_top_k_tail():
    """Every `.limit(` in similarity.py is the one top-k helper's: no
    operator re-inlines ORDER BY distance, id LIMIT k."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(SIM))
    offenders = [
        f"{fn.name}:{node.lineno}"
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name != "_top_k"
        for node in ast.walk(fn)
        if isinstance(node, ast.Attribute) and node.attr == "limit"
    ]
    assert not offenders, offenders
