"""Golden pins for every PG catalog relation: header, Spark types and
sorted rows over one small fixture catalog that exercises each kind of
catalog state (constraints, indexes, a view, a sequence, user types, a
schema, roles, grants, comments, a prepared statement, default
privileges, a row policy and a macro).

The golden file lists every relation `install_pg_catalog()` registers.
Regenerate it at a known-good commit with

    python -m tests.test_pg_catalog_shape

Only values that vary from run to run are masked; each masked column is
named in `_MASKED` / `_DROP_ROWS` below."""

from __future__ import annotations

import json
import pathlib

import pytest

from serenedb_spark.session import SereneSession

GOLDEN = pathlib.Path(__file__).with_name("pg_catalog_shape.json")

_FIXTURE = (
    "CREATE SCHEMA shp_s",
    "CREATE TABLE shp_parent (id INT PRIMARY KEY, code TEXT UNIQUE,"
    " qty INT NOT NULL DEFAULT 7, CHECK (qty >= 0))",
    "CREATE TABLE shp_child (cid INT PRIMARY KEY,"
    " pid INT REFERENCES shp_parent (id), note TEXT)",
    "CREATE TABLE shp_s.shp_inner (k INT, v TEXT)",
    "INSERT INTO shp_parent VALUES (1, 'a', 3), (2, 'b', 5)",
    "INSERT INTO shp_child VALUES (10, 1, 'alpha beta'),"
    " (11, 2, 'beta gamma')",
    "CREATE INDEX shp_inv ON shp_child USING inverted(note simple)",
    "CREATE INDEX shp_sec ON shp_parent (qty)",
    "CREATE VIEW shp_view AS SELECT id, code FROM shp_parent",
    "CREATE SEQUENCE shp_seq START 5 INCREMENT 2",
    "SELECT nextval('shp_seq')",
    "CREATE TYPE shp_mood AS ENUM ('sad', 'ok', 'happy')",
    "CREATE TYPE shp_pair AS (a INT, b TEXT)",
    "CREATE ROLE shp_admin WITH LOGIN CREATEDB PASSWORD 'pw'"
    " CONNECTION LIMIT 3",
    "CREATE ROLE shp_reader",
    "GRANT shp_reader TO shp_admin",
    "ALTER ROLE shp_admin SET work_mem = '64MB'",
    "GRANT SELECT, INSERT ON shp_parent TO shp_reader",
    "GRANT SELECT (note) ON shp_child TO shp_admin",
    "COMMENT ON TABLE shp_parent IS 'parent rows'",
    "PREPARE shp_q AS SELECT id FROM shp_parent WHERE id >= $1",
    "ALTER DEFAULT PRIVILEGES GRANT SELECT ON TABLES TO shp_reader",
    "CREATE MACRO shp_twice(x INT) AS x * 2",
    "ANALYZE shp_parent",
)

#: relation → columns whose value varies between runs (the process id,
#: and settings derived from the Spark conf of the running session)
_MASKED = {
    "pg_stat_activity": ("pid",),
    "sdb_settings": ("setting",),
    # oids number the process-wide dictionary registry, which other
    # sessions in the process may extend
    "pg_ts_dict": ("oid",),
    # NOT NULL constraint rows are numbered in set-iteration order
    "pg_constraint": ("oid",),
}

#: relation → (column, predicate) rows dropped before pinning: Spark
#: conf entries in pg_settings (dotted names, set by whatever ran
#: before in the process) and dictionaries other sessions registered
_BUILTIN_DICTS = ("keyword", "simple", "text")
_DROP_ROWS = {
    "pg_settings": ("name", lambda v: "." in str(v)),
    "pg_ts_dict": ("dictname", lambda v: v not in _BUILTIN_DICTS),
}


def build_fixture(spark) -> SereneSession:
    ss = SereneSession(spark)
    for stmt in _FIXTURE:
        ss.sql(stmt).collect()
    ss.set_row_policy("shp_parent", "qty > 0")
    return ss


def snapshot(spark, names) -> dict:
    """name → {columns, types, sorted rows} for every named relation,
    read in ONE Spark job (each row travels as JSON, nulls kept)."""
    from functools import reduce

    from pyspark.sql import functions as F

    frames, shapes = [], {}
    for name in names:
        df = spark.table(name)
        shapes[name] = (df.columns, [t for _c, t in df.dtypes])
        frames.append(df.select(
            F.lit(name).alias("rel"),
            F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]),
                      {"ignoreNullFields": "false"}).alias("row")))
    rows = {name: [] for name in names}
    for r in reduce(lambda a, b: a.unionAll(b), frames).collect():
        cols = shapes[r.rel][0]
        row = json.loads(r.row)
        drop = _DROP_ROWS.get(r.rel)
        if drop is not None and drop[1](row[drop[0]]):
            continue
        for c in _MASKED.get(r.rel, ()):
            row[c] = "<masked>"
        rows[r.rel].append([row[c] for c in cols])
    return {name: {"columns": shapes[name][0], "types": shapes[name][1],
                   "rows": sorted(rows[name], key=lambda r: json.dumps(
                       r, sort_keys=True))}
            for name in names}


def dump(shapes: dict) -> str:
    """The golden file's layout: one relation per block, one row per
    line."""
    blocks = []
    for name in sorted(shapes):
        rel = shapes[name]
        rows = "".join(f"\n  {json.dumps(r)}," for r in rel["rows"])
        blocks.append(
            f" {json.dumps(name)}: {{\"columns\": {json.dumps(rel['columns'])},"
            f" \"types\": {json.dumps(rel['types'])},"
            f" \"rows\": [{rows.rstrip(',')}]}}")
    return "{\n" + ",\n".join(blocks) + "\n}\n"


@pytest.fixture(scope="module")
def catalog(spark):
    ss = build_fixture(spark)
    ss.install_pg_catalog()
    return ss


@pytest.fixture(scope="module")
def golden():
    return json.loads(GOLDEN.read_text())


def test_every_relation_is_pinned(golden):
    assert len(golden) >= 200
    assert {"pg_class", "pg_attribute_core", "sdb_settings",
            "information_schema_tables", "pg_stat_progress_copy"} \
        <= set(golden)


def test_relation_matches_golden(spark, catalog, golden):
    got = snapshot(spark, sorted(golden))
    diffs = [f"{name}: {json.dumps(got[name])[:300]}"
             for name, want in sorted(golden.items()) if got[name] != want]
    assert not diffs, "\n".join(diffs)


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    before = {t.name for t in spark.catalog.listTables()}
    ss = build_fixture(spark)
    fixture_views = {t.name for t in spark.catalog.listTables()}
    ss.install_pg_catalog()
    names = sorted({t.name for t in spark.catalog.listTables()}
                   - fixture_views - before)
    out = snapshot(spark, names)
    GOLDEN.write_text(dump(out))
    print(f"wrote {len(out)} relations")
