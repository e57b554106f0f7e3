"""Pins for SereneSession's catalog state: shared-mode (attached
session) visibility, commit merge and rollback, DDL that survives
ROLLBACK, per-database stores, the declared state table itself, and a
guard against lazily-created session attributes.

Tables are tiny in-memory relations; each test uses its own names
because temp views are global to the SparkSession."""

from __future__ import annotations

import pathlib
import re

import pytest

from serenedb_spark.session import SereneSession


def _ids(ss, table: str, col: str = "id") -> list:
    return sorted(r[0] for r in ss.sql(
        f"SELECT {col} FROM {table}").collect())


@pytest.fixture()
def pair(spark):
    """Two connections on one shared catalog store."""
    a = SereneSession(spark)
    a._ensure_shared_store()
    b = SereneSession(spark)
    b.attach_shared(a)
    return a, b


def test_read_committed_block_sees_peer_commit(pair):
    a, b = pair
    a.sql("CREATE TABLE st_rc (id INT PRIMARY KEY, v INT)")
    a.sql("INSERT INTO st_rc VALUES (1, 10)")
    a.sql("BEGIN")
    assert _ids(a, "st_rc") == [1]
    b.sql("INSERT INTO st_rc VALUES (2, 20)")     # autocommit on the peer
    assert _ids(a, "st_rc") == [1, 2]             # visible mid-block
    a.sql("COMMIT")
    assert _ids(b, "st_rc") == [1, 2]


def test_disjoint_pk_inserts_in_two_blocks_both_survive(pair):
    a, b = pair
    a.sql("CREATE TABLE st_merge (id INT PRIMARY KEY, v INT)")
    a.sql("INSERT INTO st_merge VALUES (1, 10)")
    a.sql("BEGIN")
    b.sql("BEGIN")
    a.sql("INSERT INTO st_merge VALUES (2, 20)")
    b.sql("INSERT INTO st_merge VALUES (3, 30)")
    a.sql("COMMIT")
    b.sql("COMMIT")
    assert _ids(a, "st_merge") == [1, 2, 3]
    assert _ids(b, "st_merge") == [1, 2, 3]


def test_shared_rollback_keeps_peer_drop(pair):
    a, b = pair
    a.sql("CREATE TABLE st_gone (id INT)")
    a.sql("CREATE TABLE st_mine (id INT)")
    a.sql("BEGIN")
    a.sql("INSERT INTO st_mine VALUES (1)")
    b.sql("DROP TABLE st_gone")
    a.sql("ROLLBACK")
    assert "st_gone" not in a._tables
    assert "st_gone" not in b._tables
    assert _ids(a, "st_mine") == []


@pytest.mark.parametrize("mode", ["single", "shared"])
def test_table_created_in_block_survives_rollback(spark, mode):
    ss = SereneSession(spark)
    if mode == "shared":
        ss._ensure_shared_store()
    t = f"st_ddl_{mode}"
    ss.sql("BEGIN")
    ss.sql(f"CREATE TABLE {t} (id INT PRIMARY KEY, v INT)")
    ss.sql(f"INSERT INTO {t} VALUES (1, 10)")
    ss.sql("ROLLBACK")
    assert _ids(ss, t) == []
    assert ss._pks.get(t) == "id"
    ss.sql(f"INSERT INTO {t} VALUES (5, 50)")
    with pytest.raises(Exception, match="(?i)duplicate|primary key"):
        ss.sql(f"INSERT INTO {t} VALUES (5, 51)")


def test_new_database_has_its_own_store(spark):
    ss = SereneSession(spark)
    ss.sql("CREATE TABLE st_db_t (id INT)")
    ss.sql("INSERT INTO st_db_t VALUES (7)")
    ss.grant("alice", "st_db_t")
    ss.sql("CREATE DATABASE st_db2")
    ss.sql("USE st_db2")
    try:
        assert ss._search_path_live() == ["public"]
        assert "st_db_t" not in ss._tables
        assert ss._grants == {}
        ss.sql("CREATE SEQUENCE st_db_seq")
        assert ss.sql("SELECT nextval('st_db_seq') AS n").first().n == 1
    finally:
        ss.sql("USE serene")
    assert _ids(ss, "st_db_t") == [7]
    assert "st_db_t" in ss._grants["alice"]
    assert "st_db_seq" not in ss.sequences._seqs
    ss.sql("DROP DATABASE st_db2")


def test_every_declared_name_is_set_with_its_declared_type(spark):
    """A fresh session and a fresh database store give every declared
    attribute the same empty form (a database once got a plain dict
    where a SequenceCatalog belongs)."""
    ss = SereneSession(spark)
    for name in SereneSession._STATE:
        assert name in ss.__dict__, name
    store = SereneSession._fresh_store()
    assert set(store) == set(SereneSession._SHARED_STATE)
    for name, value in store.items():
        assert type(value) is type(getattr(ss, name)), name
    assert set(SereneSession._TXN_STATE) <= set(store)


def test_catalog_installs_once_without_a_change(spark, catalog_views):
    """Each pg_* reference builds the relations it names and nothing
    else: two pg_tables reads build pg_tables twice, no other view."""
    ss = SereneSession(spark)
    ss.sql("SELECT * FROM pg_tables").collect()
    ss.sql("SELECT * FROM pg_tables").collect()
    assert catalog_views == ["pg_tables", "pg_tables"]


def _tablenames(ss) -> list:
    return [r.tablename for r in ss.sql(
        "SELECT tablename FROM pg_tables ORDER BY tablename").collect()]


def test_two_sessions_on_one_spark_keep_their_own_catalog(spark):
    """Temp views belong to the SparkSession: a session's pg_tables
    must come from its own catalog even after a second session on the
    same SparkSession read its own."""
    a = SereneSession(spark)
    b = SereneSession(spark)
    a.sql("CREATE TABLE st_xs_a (id INT)")
    assert _tablenames(a) == ["st_xs_a"]
    b.sql("CREATE TABLE st_xs_b (id INT)")
    assert _tablenames(b) == ["st_xs_b"]
    assert _tablenames(a) == ["st_xs_a"]


def test_shared_commit_keeps_set_valued_changes(pair):
    """A detached block's CREATE SCHEMA (set-valued state) reaches the
    shared store at COMMIT, so the peer's pg_namespace lists it."""
    a, b = pair
    a.sql("BEGIN")
    a.sql("CREATE SCHEMA dtx_s")
    a.sql("COMMIT")
    assert "dtx_s" in a._schemas
    names = {r.nspname for r in b.sql(
        "SELECT nspname FROM pg_namespace").collect()}
    assert "dtx_s" in names


_LAZY = re.compile(
    r"\b(?:getattr|hasattr)\(\s*[\w.]+\s*,\s*[\"'](_\w+)[\"']")


def test_no_lazy_reads_of_declared_state():
    """Declared session attributes always exist: reading one through
    getattr/hasattr with a default restates (and can disagree with)
    its declared empty form."""
    root = pathlib.Path(__file__).resolve().parents[1] / "serenedb_spark"
    declared = set(SereneSession._STATE)
    offenders = []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        for m in _LAZY.finditer(text):
            if m.group(1) in declared:
                line = text.count("\n", 0, m.start()) + 1
                offenders.append(
                    f"{path.relative_to(root.parent)}:{line} {m.group(0)}")
    assert not offenders, "\n".join(offenders)
