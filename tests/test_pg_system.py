"""PG system/introspection subset (reference system.cpp + pg_catalog):
pg_typeof/format_type spellings, current_setting/set_config over session
conf, pg_table_size, the pg_catalog view shim, has_table_privilege."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serenedb_spark.functions import pg_system as PSY
from serenedb_spark.session import SereneSession
from tests.conftest import SF_DIR


@pytest.fixture()
def ss(spark):
    s = SereneSession(spark)
    s.load_dir(SF_DIR, tables=("orders", "documents"))
    return s


def test_format_type():
    assert PSY.format_type("string") == "text"
    assert PSY.format_type("double") == "double precision"
    assert PSY.format_type("decimal(12,2)") == "numeric(12,2)"
    assert PSY.format_type("array<string>") == "text[]"
    assert PSY.format_type("binary") == "bytea"


def test_pg_typeof(spark):
    df = spark.createDataFrame([(1, "x", 2.5)], "a long, b string, c double")
    r = df.select(
        PSY.pg_typeof(F.col("a")).alias("ta"),
        PSY.pg_typeof(F.col("b")).alias("tb"),
        PSY.pg_typeof(F.col("c")).alias("tc"),
    ).first()
    assert (r.ta, r.tb, r.tc) == ("bigint", "text", "double precision")


def test_settings_roundtrip(spark):
    PSY.set_config(spark, "serene.custom.knob", "42")
    assert PSY.current_setting(spark, "serene.custom.knob") == "42"
    assert PSY.current_setting(spark, "serene.not.there",
                               missing_ok=True) is None
    with pytest.raises(Exception):
        PSY.current_setting(spark, "serene.not.there")


def test_pg_table_size(ss):
    n = PSY.pg_table_size(ss.spark, ss._tables["orders"])
    assert n > 0


def test_pg_catalog_views(ss):
    ss.create_index("documents", {"text": "simple"}, key="doc_id",
                    name="docs_catalog_idx")
    ss.install_pg_catalog()
    tabs = {r.tablename for r in ss.sql("SELECT * FROM pg_tables").collect()}
    assert {"orders", "documents"} <= tabs
    cols = ss.sql(
        "SELECT attname, atttypid FROM pg_attribute "
        "WHERE attrelid = 'orders'::regclass ORDER BY attnum"
    ).collect()
    names = [r.attname for r in cols]
    assert names[0] == "o_orderkey"
    # atttypid is PG's type OID (20 = int8/bigint)
    assert dict((r.attname, r.atttypid) for r in cols)["o_orderkey"] == 20
    idx = ss.sql("SELECT * FROM pg_indexes").collect()
    assert any(r.indexname == "docs_catalog_idx" for r in idx)


def test_has_table_privilege(ss):
    assert not ss.has_table_privilege("bob", "orders")
    ss.grant("bob", "orders")
    assert ss.has_table_privilege("bob", "orders")
    assert not ss.has_table_privilege("bob", "orders", "INSERT")


def test_pg_catalog_core_roundtrip(ss):
    """BI-tool-shaped introspection: columns of a table via the OID joins
    (attrelid -> pg_class.oid -> pg_namespace), types via pg_type,
    indexes via pg_index's indrelid/indexrelid pair."""
    ss.create_index("documents", {"text": "simple"}, key="doc_id",
                    name="docs_core_idx")
    ss.install_pg_catalog()
    cols = ss.sql("""
        SELECT a.attname, t.typname, a.attnum
        FROM pg_attribute_core a
        JOIN pg_class c ON a.attrelid = c.oid
        JOIN pg_namespace n ON c.relnamespace = n.oid
        JOIN pg_type t ON a.atttypid = t.oid
        WHERE c.relname = 'orders' AND n.nspname = 'public'
          AND c.relkind = 'r' AND NOT a.attisdropped
        ORDER BY a.attnum
    """).collect()
    assert cols[0].attname == "o_orderkey" and cols[0].typname == "int8"
    assert len(cols) == len(ss._tables["orders"].columns)

    idx = ss.sql("""
        SELECT ci.relname AS index_name, ct.relname AS table_name,
               i.indkey
        FROM pg_index i
        JOIN pg_class ci ON i.indexrelid = ci.oid
        JOIN pg_class ct ON i.indrelid = ct.oid
        WHERE ci.relkind = 'i' AND ct.relname = 'documents'
    """).collect()
    # indkey is PG's int2vector of attnums (reference
    # test_index_position.test: array_position(i.indkey, 2::smallint));
    # 'text' is attnum 2 of documents
    assert any(r.index_name == "docs_core_idx" and list(r.indkey) == [2]
               for r in idx)

    # oids are stable regclass-style handles
    assert ss.relid("orders") is not None
    assert ss.relid("nope") is None

    info = {r.table_name for r in ss.sql(
        "SELECT table_name FROM information_schema_tables").collect()}
    assert {"orders", "documents"} <= info
    ic = ss.sql("""
        SELECT column_name, data_type FROM information_schema_columns
        WHERE table_name = 'orders' AND ordinal_position = 1
    """).first()
    assert (ic.column_name, ic.data_type) == ("o_orderkey", "bigint")


def test_column_privilege_and_user(spark):
    from serenedb_spark.functions import pg_system as PSY
    from serenedb_spark.session import SereneSession

    ss = SereneSession(spark)
    df = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS secret")
    ss._tables["t_priv"] = df
    df.createOrReplaceTempView("t_priv")
    assert PSY.current_user(ss) == "postgres"
    ss.set_user("alice")
    assert PSY.current_user(ss) == "alice"
    assert PSY.current_role(ss) == "alice"
    ss.grant("alice", "t_priv", "SELECT")
    assert ss.has_column_privilege("alice", "t_priv", "secret")
    # masked column = not readable in the clear
    ss.set_column_mask("t_priv", "secret", "NULL")
    assert not ss.has_column_privilege("alice", "t_priv", "secret")
    assert ss.has_column_privilege("alice", "t_priv", "id")
    # no table grant -> no column privilege either
    assert not ss.has_column_privilege("bob", "t_priv", "id")
    ss.set_user(None)


def test_total_relation_size(spark, tmp_path):
    from serenedb_spark.functions import pg_system as PSY

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(100).write.parquet(p1)
    spark.range(50).write.parquet(p2)
    a, b = spark.read.parquet(p1), spark.read.parquet(p2)
    tot = PSY.pg_total_relation_size(spark, a, b)
    assert tot == PSY.pg_table_size(spark, a) + PSY.pg_table_size(spark, b)
    assert tot > 0


def test_pg_catalog_extras_psql_d_equivalent(ss):
    """psql \\d-equivalent introspection of a table with a PK, a CHECK,
    and a COMMENT: pg_constraint + pg_description + key_column_usage
    must surface them through catalog SQL (reference
    server/pg/pg_catalog/)."""
    from pyspark.sql import functions as F

    ss.set_primary_key("orders", "o_orderkey")
    ss.add_check("orders", "orders_price_pos", F.col("o_totalprice") > 0)
    ss.comment_on("orders", "TPC-H orders fact")
    ss.grant("analyst", "orders", "SELECT")
    ss.create_macro("twice", "x DOUBLE", "x * 2")
    ss.install_pg_catalog()

    pk = ss.sql("""
        SELECT con.conname, c.relname, con.contype, con.conkey
        FROM pg_constraint con JOIN pg_class c ON con.conrelid = c.oid
        WHERE c.relname = 'orders' AND con.contype = 'p'
    """).first()
    assert pk.conname == "orders_pkey" and pk.conkey == [1]

    chk = ss.sql("""
        SELECT conname, conbin FROM pg_constraint WHERE contype = 'c'
    """).collect()
    assert any(r.conname == "orders_price_pos" for r in chk)

    kcu = ss.sql("""
        SELECT column_name, ordinal_position
        FROM information_schema_key_column_usage
        WHERE table_name = 'orders' AND constraint_name = 'orders_pkey'
    """).first()
    assert (kcu.column_name, kcu.ordinal_position) == ("o_orderkey", 1)

    descr = ss.sql("""
        SELECT d.description FROM pg_description d
        JOIN pg_class c ON d.objoid = c.oid WHERE c.relname = 'orders'
    """).first()
    assert descr.description == "TPC-H orders fact"

    roles = {r.rolname for r in ss.sql(
        "SELECT rolname FROM pg_roles").collect()}
    assert {"postgres", "analyst"} <= roles

    proc = ss.sql(
        "SELECT pronargs, proretset FROM pg_proc"
        " WHERE proname = 'twice'").first()
    assert proc.pronargs == 1 and not proc.proretset

    setting = ss.sql("""
        SELECT setting FROM pg_settings
        WHERE name = 'spark.sql.shuffle.partitions'
    """).first()
    assert setting is not None


def test_query_and_query_table_functions(ss):
    """Reference query()/query_table() cookbook semantics: dynamic SQL
    strings and dynamic identifiers as relations; DML rejected."""
    import pytest

    n = ss.query("SELECT count(*) AS n FROM orders").first().n
    assert n == ss._tables["orders"].count()
    assert ss.query_table("orders").columns \
        == ss._tables["orders"].columns
    assert ss.query_table(["public", "orders"]).count() == n
    with pytest.raises(ValueError):
        ss.query("DELETE FROM orders")
    with pytest.raises(ValueError):
        ss.query_table(["other_schema", "orders"])


def test_pg_catalog_second_tier(ss):
    """pg_database / pg_am / pg_views / pg_sequences / pg_extension /
    pg_collation / pg_stat_user_tables — the psql \\l, \\dv, \\ds, \\dx
    surfaces."""
    ss.create_sequence("ticket", start=5, increment=2)
    ss.nextval("ticket")
    ss.create_view("big_orders",
                   "SELECT * FROM orders WHERE o_totalprice > 1000")
    ss.install_pg_catalog()

    assert ss.sql("SELECT datname FROM pg_database").first().datname \
        == "serene"
    ams = {r.amname for r in ss.sql("SELECT amname FROM pg_am").collect()}
    # the reference's exact access-method set (pg_catalog_data.test:279):
    # iresearch backs tables; secondary/inverted back indexes — no heap
    assert {"iresearch", "inverted", "secondary"} <= ams
    v = ss.sql("SELECT schemaname, viewname FROM pg_views").first()
    assert (v.schemaname, v.viewname) == ("public", "big_orders")
    s = ss.sql("""
        SELECT last_value, increment_by, cycle FROM pg_sequences
        WHERE sequencename = 'ticket'
    """).first()
    assert (s.last_value, s.increment_by, s.cycle) == (5, 2, False)
    assert ss.sql("SELECT extname FROM pg_extension").first().extname \
        == "serene_spark"
    assert ss.sql("SELECT count(*) AS n FROM pg_collation").first().n >= 2
    stat = {r.relname: r.n_live_tup for r in ss.sql(
        "SELECT relname, n_live_tup FROM pg_stat_user_tables").collect()}
    assert "orders" in stat  # estimates unknown (-1) until ANALYZE

    ss.drop_view("big_orders")
    ss.install_pg_catalog()
    assert ss.sql("SELECT count(*) AS n FROM pg_views").first().n == 0


def test_analyze_refreshes_stats(ss):
    """ANALYZE fills pg_stat_user_tables.n_live_tup and
    pg_class.reltuples; unanalyzed tables stay at -1."""
    ss.install_pg_catalog()
    before = ss.sql("""
        SELECT n_live_tup FROM pg_stat_user_tables
        WHERE relname = 'orders'""").first().n_live_tup
    assert before == -1.0
    ss.analyze("orders")
    ss.install_pg_catalog()
    n = ss._tables["orders"].count()
    got = ss.sql("""
        SELECT n_live_tup FROM pg_stat_user_tables
        WHERE relname = 'orders'""").first().n_live_tup
    assert got == float(n)
    rel = ss.sql(
        "SELECT reltuples FROM pg_class WHERE relname = 'orders'"
    ).first().reltuples
    # reltuples tracks the live count (reference pg_class.test:241)
    assert rel == float(n)
    other = ss.sql("""
        SELECT n_live_tup FROM pg_stat_user_tables
        WHERE relname = 'documents'""").first().n_live_tup
    assert other == -1.0


def test_pg_catalog_tranche3(ss):
    """pg_attrdef / pg_depend / pg_locks / pg_stat_activity +
    information_schema table_constraints / referential_constraints, and
    the relation-count floor (>=30 registered catalog relations)."""
    import os

    ss.load_dir(SF_DIR, tables=("nation", "region"))
    ss.set_primary_key("nation", "n_nationkey")
    ss.add_check("orders", "price_pos", F.col("o_totalprice") > 0)
    ss.alter_set_default("orders", "o_comment", "n/a")
    ss.add_foreign_key("nation", "n_regionkey", "region", "r_regionkey")
    ss.create_index("documents", {"text": "simple"}, key="doc_id",
                    name="d_idx")
    ss.install_pg_catalog()

    # pg_attrdef carries the SET DEFAULT
    row = ss.sql("SELECT adnum, adbin FROM pg_attrdef").first()
    assert row.adbin == "'n/a'"

    # pg_depend: index->table edge resolvable through pg_class
    dep = ss.sql("""
        SELECT c1.relname AS obj, c2.relname AS ref, d.deptype
        FROM pg_depend d
        JOIN pg_class c1 ON d.objid = c1.oid
        JOIN pg_class c2 ON d.refobjid = c2.oid
        WHERE d.deptype = 'index'
    """).collect()
    assert ("d_idx", "documents", "index") in [tuple(r) for r in dep]
    fk_dep = ss.sql(
        "SELECT count(*) AS n FROM pg_depend WHERE deptype = 'fkey'"
    ).first().n
    assert fk_dep == 1

    # pg_locks: empty outside a txn, relation locks inside one
    assert ss.sql("SELECT count(*) AS n FROM pg_locks").first().n == 0
    ss.begin()
    ss.install_pg_catalog()
    locked = ss.sql(
        """SELECT c.relname FROM pg_locks l
           JOIN pg_class c ON l.relation = c.oid
           WHERE l.granted ORDER BY c.relname"""
    ).collect()
    assert [r.relname for r in locked] == sorted(ss._tables)
    ss.rollback()

    # pg_stat_activity reflects this process and the last query text
    act = ss.sql("SELECT * FROM pg_stat_activity").first()
    assert act.pid == os.getpid() and act.state == "active"
    assert "pg_locks" in act.query or "pg_stat_activity" in act.query

    # information_schema constraint views
    tc = {(r.constraint_name, r.constraint_type) for r in ss.sql(
        "SELECT * FROM information_schema_table_constraints").collect()}
    assert ("nation_pkey", "PRIMARY KEY") in tc
    assert ("price_pos", "CHECK") in tc
    assert ("nation_n_regionkey_fkey", "FOREIGN KEY") in tc
    rc = ss.sql(
        "SELECT * FROM information_schema_referential_constraints"
    ).first()
    assert rc.constraint_name == "nation_n_regionkey_fkey"
    assert rc.unique_constraint_name == "region_pkey"
    assert rc.delete_rule == "NO ACTION"

    # the relation-count floor
    pg_rels = [t.name for t in ss.spark.catalog.listTables()
               if t.name.startswith(("pg_", "information_schema"))]
    assert len(set(pg_rels)) >= 30, sorted(set(pg_rels))


def test_foreign_key_validation(ss):
    ss.load_dir(SF_DIR, tables=("nation", "region"))
    ss.add_foreign_key("nation", "n_regionkey", "region", "r_regionkey")
    assert ss.validate_foreign_key(
        "nation_n_regionkey_fkey").count() == 0
    # a violating FK is refused at ADD time (PG validate-on-add)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="foreign key"):
        ss.add_foreign_key("nation", "n_nationkey", "region", "r_regionkey",
                           name="bad_fk")
    assert "bad_fk" not in ss._fks


def test_pg_catalog_tranche4(ss):
    ss.create_macro("twice", "x DOUBLE", "x * 2")
    ss.create_view("big_orders",
                   "SELECT * FROM orders WHERE o_totalprice > 100")
    ss.install_pg_catalog()
    # search + vector operators documented in pg_operator
    ops = {r.oprname for r in ss.sql(
        "SELECT oprname FROM pg_operator").collect()}
    assert {"@@", "##", "<=>", "<->", "<#>", "="} <= ops
    # roles mirror pg_roles with login flags
    assert ss.sql(
        "SELECT rolname FROM pg_authid WHERE rolsuper").first().rolname \
        == "postgres"
    # view definition text round-trips
    v = ss.sql(
        "SELECT view_definition FROM information_schema_views "
        "WHERE table_name = 'big_orders'").first()
    assert "o_totalprice > 100" in v.view_definition
    # macros appear as routines
    r = ss.sql(
        "SELECT routine_type FROM information_schema_routines "
        "WHERE routine_name = 'twice'").first()
    assert r.routine_type == "FUNCTION"
    # aggregate heads present
    assert ss.sql(
        "SELECT count(*) AS n FROM pg_aggregate").first().n >= 15
    rels = {t.name for t in ss.spark.catalog.listTables()
            if t.name.startswith(("pg_", "information_schema"))}
    assert len(rels) >= 38, sorted(rels)


def test_pg_catalog_tranche5_rbac_tail(ss):
    """pg_policy + information_schema table/column privileges mirror the
    LIVE RBAC state, including the masked-column exclusion rule."""
    ss.set_row_policy("orders", F.col("o_totalprice") > 0)
    ss.grant("analyst", "orders", "SELECT")
    ss.grant("analyst", "orders", "INSERT")
    ss.set_column_mask("orders", "o_comment", F.lit("x"))
    ss.install_pg_catalog()

    pol = ss.sql("""
        SELECT p.polname, c.relname, p.polqual FROM pg_policy p
        JOIN pg_class c ON p.polrelid = c.oid
    """).first()
    assert pol.relname == "orders" and "o_totalprice" in pol.polqual

    tp = {(r.grantee, r.privilege_type) for r in ss.sql(
        "SELECT * FROM information_schema_table_privileges "
        "WHERE table_name = 'orders'").collect()}
    assert {("analyst", "SELECT"), ("analyst", "INSERT")} <= tp

    cols = {r.column_name for r in ss.sql(
        "SELECT * FROM information_schema_column_privileges "
        "WHERE table_name = 'orders' AND grantee = 'analyst' "
        "AND privilege_type = 'SELECT'").collect()}
    assert "o_orderkey" in cols and "o_comment" not in cols
    # catalog agrees with the enforcement function
    assert not ss.has_column_privilege("analyst", "orders", "o_comment")
    assert ss.has_column_privilege("analyst", "orders", "o_orderkey")

    rels = {t.name for t in ss.spark.catalog.listTables()
            if t.name.startswith(("pg_", "information_schema"))}
    assert len(rels) >= 41, sorted(rels)


def test_pg_typeof_builds_no_catalog_relation(spark, catalog_views):
    """pg_typeof names no catalog relation, so nothing is built."""
    ss = SereneSession(spark)
    assert ss.sql("SELECT pg_typeof(1) AS t").first().t == "integer"
    assert catalog_views == []


def test_pg_tables_after_create_builds_only_pg_tables(spark, catalog_views):
    ss = SereneSession(spark)
    ss.sql("CREATE TABLE sc_only_t (id INT)")
    assert [r.tablename for r in ss.sql(
        "SELECT tablename FROM pg_tables").collect()] == ["sc_only_t"]
    assert catalog_views == ["pg_tables"]


def test_pg_roles_reads_after_grant_api_agree(spark, catalog_views):
    """The grant() API's principal gets its role row (and oid) on the
    first read; a second read sees the same rows and builds only
    pg_roles again."""
    ss = SereneSession(spark)
    ss.sql("CREATE TABLE gr_api_t (id INT)")
    ss.grant("gr_api_bob", "gr_api_t")
    q = "SELECT rolname, oid FROM pg_roles ORDER BY rolname"
    first = ss.sql(q).collect()
    assert "gr_api_bob" in {r.rolname for r in first}
    assert ss.sql(q).collect() == first
    assert catalog_views == ["pg_roles", "pg_roles"]


def test_role_and_privilege_functions_fold(spark):
    """pg_get_userbyid / has_table_privilege fold at rewrite time over
    the session's roles and grants: an oid literal, a column operand,
    and a granted/ungranted pair."""
    ss = SereneSession(spark)
    ss.sql("CREATE TABLE pf_t (id INT)")
    ss.sql("CREATE ROLE pf_alice")
    ss.sql("CREATE ROLE pf_bob")
    ss.sql("GRANT SELECT ON pf_t TO pf_alice")
    alice = ss.role_oid("pf_alice")
    assert ss.sql(
        "SELECT pg_get_userbyid(1000000) AS u").first().u == "postgres"
    assert ss.sql(
        f"SELECT pg_get_userbyid({alice}) AS u").first().u == "pf_alice"
    rows = ss.sql(
        "SELECT rolname, pg_get_userbyid(oid) AS u FROM pg_roles").collect()
    assert {r.rolname for r in rows} >= {"postgres", "pf_alice", "pf_bob"}
    assert all(r.rolname == r.u for r in rows)
    got = ss.sql(
        "SELECT has_table_privilege('pf_alice', 'pf_t', 'SELECT') AS a,"
        " has_table_privilege('pf_bob', 'pf_t', 'SELECT') AS b").first()
    assert (got.a, got.b) == (True, False)


def test_pg_database_lists_every_database(spark):
    """pg_database follows CREATE / DROP DATABASE: the current database,
    then postgres, then the others."""
    ss = SereneSession(spark)
    ss.sql("CREATE DATABASE pgdb_two")
    try:
        assert [r.datname for r in ss.sql(
            "SELECT datname FROM pg_database ORDER BY oid").collect()] == [
            "serene", "postgres", "pgdb_two"]
    finally:
        ss.sql("DROP DATABASE pgdb_two")
    assert [r.datname for r in ss.sql(
        "SELECT datname FROM pg_database ORDER BY oid").collect()] == [
        "serene", "postgres"]
