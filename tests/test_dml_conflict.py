"""INSERT conflict handling (reference insert_conflict.test): plain
INSERT rejects duplicates — against the target AND within the batch —
with nothing applied; DO NOTHING skips; OR REPLACE upserts."""

from __future__ import annotations

import pytest

from serenedb_spark.operators.dml import insert_rows


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "a long, b long"
    )


def test_plain_insert_rejects_target_conflict(spark, base):
    rows = spark.createDataFrame([(1, 10), (4, 40)], "a long, b long")
    with pytest.raises(ValueError, match="primary key"):
        insert_rows(base, rows, "a")


def test_plain_insert_rejects_batch_conflict(spark, base):
    rows = spark.createDataFrame([(100, 1), (100, 1)], "a long, b long")
    with pytest.raises(ValueError, match="within the inserted batch"):
        insert_rows(base, rows, "a")


def test_plain_insert_appends(spark, base):
    rows = spark.createDataFrame([(4, 400), (5, 500)], "a long, b long")
    out = {r.a: r.b for r in insert_rows(base, rows, "a").collect()}
    assert out == {1: 10, 2: 20, 3: 30, 4: 400, 5: 500}


def test_do_nothing_skips_conflicts(spark, base):
    rows = spark.createDataFrame([(1, 100), (2, 200), (6, 600)],
                                 "a long, b long")
    out = {r.a: r.b for r in
           insert_rows(base, rows, "a", on_conflict="nothing").collect()}
    assert out == {1: 10, 2: 20, 3: 30, 6: 600}


def test_or_replace_upserts(spark, base):
    rows = spark.createDataFrame([(1, 100), (7, 700)], "a long, b long")
    out = {r.a: r.b for r in
           insert_rows(base, rows, "a", on_conflict="replace").collect()}
    assert out == {1: 100, 2: 20, 3: 30, 7: 700}


# ---- merge_into: literal rows for every arm ------------------------------

def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: tuple((x is None, x) for x in r))


@pytest.fixture()
def merge_source(spark):
    # duplicate key 9 (unmatched), NULL key (never matches)
    return spark.createDataFrame(
        [(2, 200), (3, 333), (9, 900), (9, 901), (None, 999)],
        "a long, b long")


def test_merge_upsert_inserts_duplicates_and_null_keys(base, merge_source):
    from serenedb_spark.operators.dml import merge_into

    assert _rows(merge_into(base, merge_source, "a")) == [
        (1, 10), (2, 200), (3, 333), (9, 900), (9, 901), (None, 999)]


def test_merge_matched_delete(base, merge_source):
    from pyspark.sql import functions as F

    from serenedb_spark.operators.dml import merge_into

    out = merge_into(base, merge_source, "a",
                     when_matched_delete=F.col("s.b") == 333)
    assert _rows(out) == [
        (1, 10), (2, 200), (9, 900), (9, 901), (None, 999)]


def test_merge_matched_update_expression(base, merge_source):
    from pyspark.sql import functions as F

    from serenedb_spark.operators.dml import merge_into

    out = merge_into(base, merge_source, "a",
                     when_matched_update={"b": F.col("t.b") + F.col("s.b")})
    assert _rows(out) == [
        (1, 10), (2, 220), (3, 363), (9, 900), (9, 901), (None, 999)]


def test_merge_without_inserts_emits_no_row_for_unmatched_source(
        base, merge_source):
    """PG MERGE with no NOT MATCHED arm leaves unmatched source rows out
    entirely — a NULL-key source row included (no all-NULL row)."""
    from serenedb_spark.operators.dml import merge_into

    out = merge_into(base, merge_source, "a",
                     when_not_matched_insert=False)
    assert out.columns == base.columns
    assert _rows(out) == [(1, 10), (2, 200), (3, 333)]
