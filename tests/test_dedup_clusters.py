"""dup_clusters (operators/dedup.py): iterative min-label propagation must
equal union-find connected components on arbitrary pair graphs — including
long chains that force multi-round propagation — and dedup_keep_canonical
must keep exactly the min-id member of every cluster plus all non-members."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from serenedb_spark.operators import dedup as DD


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _spark_clusters(spark, edges, **kw):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = DD.dup_clusters(pairs, **kw)
    return {r["id"]: r["cluster"] for r in out.collect()}


def test_chain_forces_multihop_distributed(spark):
    # a 40-node chain through the DISTRIBUTED loop (local_threshold=0):
    # min label must travel the full diameter via pointer doubling
    edges = [(i, i + 1) for i in range(40)]
    got = _spark_clusters(spark, edges, local_threshold=0)
    assert got == {i: 0 for i in range(41)}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for i in range(3):
        n = 60
        edges = sorted({
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(10, 50))
        })
        # alternate the driver-side shortcut and the distributed loop
        thr = 0 if i == 0 else 100_000
        got = _spark_clusters(spark, edges, local_threshold=thr)
        assert got == _union_find(edges)


def test_keep_canonical_partitions_members(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    docs = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    clusters = DD.dup_clusters(pairs)
    kept = {
        r["doc_id"]
        for r in DD.dedup_keep_canonical(docs, clusters, "doc_id").collect()
    }
    dropped = {2, 3, 11, 21, 22}
    assert kept == set(range(30)) - dropped


def test_minhash_pairs_follow_a_redefined_shingle_dictionary(spark):
    """The memoized shingle+MinHash tree belongs to the analyzer
    definition, not its name: redefining the dictionary changes the
    candidate pairs."""
    from serenedb_spark.analysis.analyzers import (create_dictionary,
                                                   drop_dictionary)

    # same 2-gram set {ab, ba}; disjoint 6-gram sets {ababab}/{bababa}
    docs = spark.createDataFrame([(1, "ababab"), (2, "bababa")],
                                 "doc_id long, text string")

    def pairs():
        return [(r[0], r[1]) for r in DD.minhash_lsh_pairs(
            docs, shingle="dd_redef_shingle").collect()]

    try:
        create_dictionary("dd_redef_shingle", "ngram", mingram=2,
                          maxgram=2)
        assert pairs() == [(1, 2)]
        drop_dictionary("dd_redef_shingle")
        create_dictionary("dd_redef_shingle", "ngram", mingram=6,
                          maxgram=6)
        assert pairs() == []
    finally:
        drop_dictionary("dd_redef_shingle")
