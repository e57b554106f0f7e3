"""Streaming refresh: file-source micro-batches → SearchTable inserts →
index snapshot equals a batch rebuild (the refresh-loop invariant); plus
watermarked windowed aggregation ≡ its batch equivalent."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from serenedb_spark.operators.indexing import build_index
from serenedb_spark.operators.maintenance import SearchTable
from serenedb_spark.plans import tsquery as q
from serenedb_spark.plans.planner import compile_query
from serenedb_spark.streaming.refresh import (
    stream_into_search_table, windowed_event_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="serene_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_refresh_matches_batch(spark, tmpdir):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    # stage the corpus as streaming input files (3 shards = ≥1 micro-batch)
    src = f"{tmpdir}/in"
    docs.repartition(3).write.parquet(src)

    st = SearchTable(docs.limit(0), {"text": "simple"}, key="doc_id")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qy = stream_into_search_table(stream, st, f"{tmpdir}/ckpt")
    qy.awaitTermination(120)

    got = {
        r.doc_id
        for r in compile_query(st.index(), "text", q.Term("spark")).doc_ids.collect()
    }
    want = {
        r.doc_id
        for r in compile_query(
            build_index(docs, {"text": "simple"}, key="doc_id"), "text",
            q.Term("spark"),
        ).doc_ids.collect()
    }
    assert got == want and len(want) > 0


def test_windowed_counts_batch_equivalence(spark):
    from tests.conftest import load_events

    events = load_events(spark)
    agg = windowed_event_counts(events).orderBy("window_start", "event_type")
    rows = agg.collect()
    naive = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("window_start", "event_type")
        .collect()
    )
    assert [(r.window_start, r.event_type, r.n_events) for r in rows] == [
        (r.window_start, r.event_type, r.n_events) for r in naive
    ]


def test_session_window_matches_lag_oracle(spark, duck):
    """Built-in session_window gap aggregation ≡ the lag-based SQL stated
    once for both engines (gap >= 30 min starts a new session — the
    session_window [start, last+gap) contract)."""
    from serenedb_spark.streaming.sessionize import (
        SESSIONIZE_ORACLE_SQL, session_window_counts,
    )
    from tests.conftest import assert_frames_match, load_events

    ev = load_events(spark)
    got = session_window_counts(ev)
    ev.createOrReplaceTempView("events")
    want = spark.sql(SESSIONIZE_ORACLE_SQL)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_stateful_sessionizer_stream(spark, tmpdir):
    """applyInPandasWithState sessionizer over a real stream: the emitted
    CLOSED sessions must equal the batch-computed sessions minus each
    user's final (still-open) session."""
    import pandas as pd
    from pyspark.sql import functions as F

    from serenedb_spark.streaming.sessionize import sessionize_stream_stateful
    from tests.conftest import load_events

    # watermarks require TIMESTAMP (not NTZ) — cast at the source; the
    # batch expectation reads the same written file so both sides agree
    ev = load_events(spark).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    src = f"{tmpdir}/sess_src"
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    ev = spark.read.parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    out = sessionize_stream_stateful(stream)
    qy = (
        out.writeStream.format("memory").queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination(180)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
    }

    # batch expectation: sweep each user's timeline. Sessions closed by a
    # later event MUST be emitted; each user's tail session MAY also be
    # emitted when the final watermark passes its timeout — so assert
    # closed ⊆ got ⊆ all.
    pdf = ev.orderBy("user_id", "ts").toPandas()
    closed_want, all_want = set(), set()
    gap_us = 30 * 60 * 1_000_000
    for uid, grp in pdf.groupby("user_id"):
        ts = sorted(int(t) for t in
                    pd.to_datetime(grp["ts"]).astype("int64") // 1000)
        sessions, start, last, n = [], None, None, 0
        for t in ts:
            if last is not None and t - last >= gap_us:
                sessions.append((start, last, n))
                start, last, n = None, None, 0
            start = t if start is None else start
            last, n = t, n + 1
        tail = (start, last, n) if n else None
        for s, e, k in sessions:
            closed_want.add((uid, pd.Timestamp(s, unit="us"),
                             pd.Timestamp(e, unit="us"), k))
        all_want |= {
            (uid, pd.Timestamp(s, unit="us"), pd.Timestamp(e, unit="us"), k)
            for s, e, k in sessions + ([tail] if tail else [])
        }
    assert closed_want and closed_want <= got <= all_want


def test_stream_into_disk_table_durable(spark, tmpdir):
    """Durable streaming ingest: micro-batches land as committed parquet
    segments; a FRESH handle opened from the path (recovery) sees the
    full streamed corpus."""
    from serenedb_spark.operators.maintenance import DiskSearchTable

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    src = f"{tmpdir}/din"
    docs.repartition(3).write.parquet(src)

    dst = DiskSearchTable.create(
        docs.limit(0), f"{tmpdir}/dtab", {"text": "simple"}, key="doc_id"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qy = stream_into_search_table(stream, dst, f"{tmpdir}/dckpt")
    qy.awaitTermination(120)

    st2 = DiskSearchTable.open(spark, f"{tmpdir}/dtab")
    assert st2.current().count() == docs.count()
    got = {
        r.doc_id
        for r in compile_query(st2.index(), "text",
                               q.Term("spark")).doc_ids.collect()
    }
    assert len(got) > 0
