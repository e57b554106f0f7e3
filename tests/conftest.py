"""Shared fixtures: one SparkSession per test run + a DuckDB connection with
the driver's view layout (tables pre-registered by name), plus the
differential compare helper used across the suite."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SERENE_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("serenedb-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


def load_events(spark):
    """Read the events table, converting an int64-ns `ts` to TIMESTAMP only
    when the parquet actually carries nanos-as-long (driver testdata has
    shipped both layouts — mirror of queries.load_tables's guard)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    return ev


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — the driver's
    order-insensitive compare."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_frames_match(spark_df, duck_rel, float_tol: float = 1e-9) -> None:
    """Differential assert: Spark result ≡ DuckDB result (schema-insensitive
    on types, order-insensitive on rows, tolerance on floats)."""
    sp = normalize(spark_df.toPandas())
    du = normalize(duck_rel.df() if hasattr(duck_rel, "df") else duck_rel)
    assert list(sp.columns) == list(du.columns), (
        f"column mismatch: spark={list(sp.columns)} duck={list(du.columns)}"
    )
    assert len(sp) == len(du), f"row count: spark={len(sp)} duck={len(du)}"
    for c in sp.columns:
        a, b = sp[c], du[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a = pd.to_numeric(a, errors="coerce").astype(float)
            b = pd.to_numeric(b, errors="coerce").astype(float)
            diff = (a - b).abs()
            bad = diff[~(diff <= float_tol) & ~(a.isna() & b.isna())]
            assert bad.empty, f"float mismatch in {c!r}:\n{bad.head()}"
        else:
            eq = a.astype(str).values == b.astype(str).values
            assert eq.all(), (
                f"value mismatch in {c!r}: "
                f"{[(x, y) for x, y, ok in zip(a, b, eq) if not ok][:5]}"
            )


@pytest.fixture()
def catalog_views(spark, monkeypatch):
    """Names of the catalog views (pg_* / information_schema_* / sdb_*)
    registered during the test, in registration order."""
    frame_cls = type(spark.range(0))
    seen = []
    register = frame_cls.createOrReplaceTempView

    def recording(df, name):
        if name.startswith(("pg_", "information_schema_", "sdb_")):
            seen.append(name)
        return register(df, name)

    monkeypatch.setattr(frame_cls, "createOrReplaceTempView", recording)
    return seen
