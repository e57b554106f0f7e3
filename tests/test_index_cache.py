"""Lifetime of the on-disk index parts (InvertedIndex.persist).

The parts fill on the first query and are released with the index
object: DROP INDEX, CREATE OR REPLACE TABLE, a refresh that replaces the
index, a ROLLBACK that discards one and an ES snapshot invalidation all
bring the count of persisted RDDs back down. Counts are deltas against a
baseline taken in each test, since the Spark session is shared.
"""

from __future__ import annotations

import gc
import json

import pytest

from serenedb_spark.session import SereneSession

QUERY = "SELECT doc_id FROM c WHERE text @@ 'alpha' ORDER BY doc_id"


def held(spark) -> int:
    """Persisted RDDs in the context, once garbage is collected."""
    gc.collect()
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture()
def ss(spark):
    s = SereneSession(spark)
    s.sql("CREATE TABLE c (doc_id INTEGER PRIMARY KEY, text TEXT)")
    s.sql("INSERT INTO c VALUES (1, 'alpha beta'), (2, 'beta gamma'), "
          "(3, 'alpha gamma')")
    return s


def test_first_query_fills_and_drop_index_releases(spark, ss):
    base = held(spark)
    ss.sql("CREATE INDEX c_idx ON c USING inverted(text simple)")
    assert held(spark) == base  # lazy: CREATE INDEX alone holds nothing
    assert [r.doc_id for r in ss.sql(QUERY).collect()] == [1, 3]
    assert held(spark) > base
    ss.sql("DROP INDEX c_idx")
    assert held(spark) == base


def test_twin_indexes_share_until_both_drop(spark, ss):
    # Spark caches by plan: two indexes with one definition share the
    # entries, and dropping one must not release the other's parts
    base = held(spark)
    ss.sql("CREATE INDEX c_a ON c USING inverted(text simple)")
    ss.sql("CREATE INDEX c_b ON c USING inverted(text simple)")
    ss.sql("SELECT doc_id FROM c_a WHERE text @@ 'alpha'").collect()
    ss.sql("SELECT doc_id FROM c_b WHERE text @@ 'alpha'").collect()
    both = held(spark)
    assert both > base
    ss.sql("DROP INDEX c_a")
    assert held(spark) == both
    ss.sql("DROP INDEX c_b")
    assert held(spark) == base


def test_replace_table_releases(spark, ss):
    base = held(spark)
    ss.sql("CREATE INDEX c_idx ON c USING inverted(text simple)")
    ss.sql(QUERY).collect()
    assert held(spark) > base
    ss.sql("CREATE OR REPLACE TABLE c AS SELECT doc_id, text FROM c")
    assert "c_idx" not in ss._indexes
    assert held(spark) == base


def test_refresh_cycles_do_not_grow(spark, ss):
    ss.sql("CREATE INDEX c_idx ON c USING inverted(text simple)")
    counts = []
    for i in range(5):
        ss.sql(f"INSERT INTO c VALUES ({10 + i}, 'alpha cycle{i}')")
        ss.sql("VACUUM (REFRESH_TABLE) c")
        assert ss.sql(
            f"SELECT count(*) AS n FROM c WHERE text @@ 'cycle{i}'"
        ).first().n == 1
        counts.append(held(spark))
    assert counts == counts[:1] * 5


def test_rollback_releases_the_discarded_index(spark, ss):
    ss.sql("CREATE INDEX c_idx ON c USING inverted(text simple)")
    ss.sql(QUERY).collect()
    before = held(spark)
    ss.sql("BEGIN")
    ss.sql("INSERT INTO c VALUES (4, 'alpha delta')")
    ss.sql("VACUUM (REFRESH_TABLE) c")
    assert [r.doc_id for r in ss.sql(QUERY).collect()] == [1, 3, 4]
    assert held(spark) > before
    ss.sql("ROLLBACK")
    assert held(spark) == before
    assert [r.doc_id for r in ss.sql(QUERY).collect()] == [1, 3]


def test_es_bulk_refresh_cycles_do_not_grow(spark):
    from serenedb_spark.server.es_http import EsShim

    shim = EsShim(spark)
    shim.create_index_from_mapping(
        "c", {"mappings": {"properties": {"text": {"type": "text"}}}})
    counts = []
    for i in range(5):
        shim.bulk(json.dumps({"index": {"_index": "c", "_id": str(i)}})
                  + "\n" + json.dumps({"text": f"alpha cycle{i}"}) + "\n")
        shim.refresh("c")
        hits = shim.search("c", {"query": {"match": {"text": "alpha"}},
                                 "size": 10})["hits"]["hits"]
        assert len(hits) == i + 1
        counts.append(held(spark))
    assert counts == counts[:1] * 5
    # a write drops the snapshot from the session too, releasing it now
    shim.bulk(json.dumps({"index": {"_index": "c", "_id": "x"}}) + "\n"
              + json.dumps({"text": "omega"}) + "\n")
    assert "c" not in shim.session._indexes
    assert held(spark) < counts[-1]
