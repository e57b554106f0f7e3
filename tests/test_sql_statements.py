"""The statement-level SQL door (plans/statements.py): the reference's
sqllogic suites drive a live session with nothing but SQL text —
CREATE TABLE / INSERT / UPDATE / DELETE / BEGIN / SET / GRANT / ALTER /
EXPLAIN (tests/sqllogic/sdb/pg/simple/search_table.test,
tests/sqllogic/sdb/pg/explain/{basic,delete}.test,
tests/sqllogic/any/pg/txn/). Every test here goes through
``session.sql()`` strings only, never the python methods directly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serenedb_spark.session import SereneSession


@pytest.fixture()
def ss(spark):
    s = SereneSession(spark)
    s.sql("""CREATE TABLE t (a INTEGER PRIMARY KEY, b TEXT NOT NULL,
             v DOUBLE PRECISION DEFAULT 1.5)""")
    s.sql("INSERT INTO t VALUES (1, 'hello world', 10.0), "
          "(2, 'spark joins fast', 20.0), (3, 'hash join', 30.0)")
    return s


# ---- CREATE TABLE ---------------------------------------------------------

def test_create_table_types_and_defaults(ss):
    got = dict(ss.table("t").dtypes)
    assert got == {"a": "int", "b": "string", "v": "double"}
    # DEFAULT fills an omitted column; NOT NULL rejects explicit NULLs
    ss.sql("INSERT INTO t (a, b) VALUES (4, 'x')")
    assert ss.sql("SELECT v FROM t WHERE a = 4").first().v == 1.5
    with pytest.raises(ValueError, match="NOT NULL"):
        ss.sql("INSERT INTO t (a) VALUES (9)")


def test_create_table_array_and_decimal(ss):
    ss.sql("CREATE TABLE ty (k BIGINT, tags TEXT[], price NUMERIC(10,2))")
    got = dict(ss.table("ty").dtypes)
    assert got == {"k": "bigint", "tags": "array<string>",
                   "price": "decimal(10,2)"}
    ss.sql("INSERT INTO ty VALUES (1, ARRAY['x','y'], 9.5)")
    row = ss.table("ty").first()
    assert row.tags == ["x", "y"] and float(row.price) == 9.5


def test_create_table_pk_enforced_via_sql(ss):
    with pytest.raises(ValueError, match="duplicate key"):
        ss.sql("INSERT INTO t VALUES (1, 'dup', 0.0)")
    # all-or-nothing: nothing applied
    assert ss.table("t").count() == 3


def test_create_table_check_constraint(ss):
    ss.sql("CREATE TABLE ck (k INT, v DOUBLE, CHECK (v > 0))")
    ss.sql("INSERT INTO ck VALUES (1, 5.0)")
    with pytest.raises(ValueError, match="check"):
        ss.sql("INSERT INTO ck VALUES (2, -1.0)")


def test_storage_option_validation(ss):
    # exact reference error wording (search_table.test:44-55)
    with pytest.raises(ValueError,
                       match="must be 'transactional' or 'search'"):
        ss.sql("CREATE TABLE se (a INT) WITH (storage = 'bogus')")
    with pytest.raises(ValueError, match="expects a string literal"):
        ss.sql("CREATE TABLE se (a INT) WITH (storage = ['search'])")
    ss.sql("CREATE TABLE se (a INT PRIMARY KEY) WITH (storage = 'SEARCH')")
    assert ss._storage["se"] == "search"


def test_create_if_not_exists_and_replace(ss):
    ss.sql("CREATE TABLE IF NOT EXISTS t (z INT)")  # exists: no-op
    assert "z" not in ss.table("t").columns
    with pytest.raises(ValueError, match="already exists"):
        ss.sql("CREATE TABLE t (z INT)")
    ss.sql("CREATE OR REPLACE TABLE t2 AS SELECT a FROM t")
    assert ss.table("t2").count() == 3


# ---- INSERT ---------------------------------------------------------------

def test_insert_select_body(ss):
    ss.sql("CREATE TABLE dst (a INT, b TEXT)")
    ss.sql("INSERT INTO dst SELECT a, b FROM t WHERE a <= 2")
    assert ss.table("dst").count() == 2


def test_insert_on_conflict_nothing_and_replace(ss):
    ss.sql("INSERT INTO t VALUES (1, 'skip', 0.0) ON CONFLICT DO NOTHING")
    assert ss.sql("SELECT b FROM t WHERE a = 1").first().b == "hello world"
    ss.sql("INSERT INTO t VALUES (1, 'won', 7.0) "
           "ON CONFLICT (a) DO UPDATE SET b = EXCLUDED.b, v = EXCLUDED.v")
    r = ss.sql("SELECT b, v FROM t WHERE a = 1").first()
    assert (r.b, r.v) == ("won", 7.0)
    # partial assignment list: unassigned columns keep the TARGET value
    ss.sql("INSERT INTO t VALUES (1, 'x', 0.0) "
           "ON CONFLICT (a) DO UPDATE SET b = 'literal'")
    r = ss.sql("SELECT b, v FROM t WHERE a = 1").first()
    assert (r.b, r.v) == ("literal", 7.0)
    # the target must bind to a unique constraint (PG)
    with pytest.raises(ValueError, match="no unique or exclusion"):
        ss.sql("INSERT INTO t VALUES (9, 'y', 1.0) "
               "ON CONFLICT (b) DO NOTHING")


# ---- UPDATE / DELETE / TRUNCATE ------------------------------------------

def test_update_where_and_no_where(ss):
    ss.sql("UPDATE t SET v = v + 1 WHERE a >= 2")
    got = {r.a: r.v for r in ss.table("t").collect()}
    assert got == {1: 10.0, 2: 21.0, 3: 31.0}
    ss.sql("UPDATE t SET v = 0.0")
    assert ss.sql("SELECT sum(v) AS s FROM t").first().s == 0.0


def test_delete_and_truncate(ss):
    ss.sql("DELETE FROM t WHERE a = 2")
    assert sorted(r.a for r in ss.table("t").collect()) == [1, 3]
    ss.sql("TRUNCATE t")
    assert ss.table("t").count() == 0


def test_search_predicate_dml(ss):
    ss.sql("CREATE INDEX t_idx ON t USING inverted(b simple)")
    got = ss.sql("SELECT a, b FROM t WHERE b @@ 'join'").collect()
    assert [r.a for r in got] == [3]  # 'joins' != 'join': no stemming
    ss.sql("UPDATE t SET v = 99.0 WHERE b @@ 'join'")
    assert ss.sql("SELECT v FROM t WHERE a = 3").first().v == 99.0
    ss.sql("DELETE FROM t WHERE b @@ ('hello' || 'join')")
    assert [r.a for r in ss.table("t").collect()] == [2]


def test_search_dml_requires_pk(ss, spark):
    ss._tables["nopk"] = spark.createDataFrame(
        [(1, "hello")], "k int, b string")
    ss._tables["nopk"].createOrReplaceTempView("nopk")
    ss.sql("CREATE INDEX nopk_idx ON nopk USING inverted(b simple)")
    with pytest.raises(ValueError, match="PRIMARY KEY"):
        ss.sql("DELETE FROM nopk WHERE b @@ 'hello'")


# ---- transactions / variables through SQL text ----------------------------

def test_txn_statements(ss):
    ss.sql("BEGIN")
    ss.sql("DELETE FROM t WHERE a = 1")
    ss.sql("UPDATE t SET v = 0.0 WHERE a = 2")
    assert ss.table("t").count() == 2
    ss.sql("ROLLBACK")
    assert ss.table("t").count() == 3
    assert ss.sql("SELECT v FROM t WHERE a = 2").first().v == 20.0
    ss.sql("START TRANSACTION")
    ss.sql("DELETE FROM t WHERE a = 1")
    ss.sql("COMMIT")
    assert ss.table("t").count() == 2


def test_set_show_reset(ss):
    ss.sql("SET sdb_nprobe = 8")
    assert ss.show_variable("sdb_nprobe") == 8
    assert ss.sql("SHOW sdb_nprobe").first()[0] == "8"
    ss.sql("SET sdb_strict_ddl TO on")
    assert ss.show_variable("sdb_strict_ddl") is True
    ss.sql("RESET sdb_nprobe")
    assert ss.show_variable("sdb_nprobe") == 4
    names = [r.name for r in ss.sql("SHOW ALL").collect()]
    assert "sdb_nprobe" in names
    # non-sdb SET falls through to Spark's own SET; the SparkSession is
    # shared by the whole run, so the setting is restored
    old = ss.spark.conf.get("spark.sql.ansi.enabled")
    try:
        ss.sql("SET spark.sql.ansi.enabled = false")
        assert ss.spark.conf.get("spark.sql.ansi.enabled") == "false"
    finally:
        ss.spark.conf.set("spark.sql.ansi.enabled", old)


# ---- GRANT / REVOKE -------------------------------------------------------

def test_grant_revoke_sql(ss, spark):
    # PG: granting to a role that does not exist is an error — the SQL
    # surface validates against pg_roles (rbac sqllogic parity), so the
    # principal must be created first (the bare grant() API still
    # auto-registers, covered by test_catalog_dml)
    ss.sql("CREATE ROLE bob")
    ss.sql("GRANT SELECT, INSERT ON t TO bob")
    ss.set_user("bob")
    try:
        ss.sql("INSERT INTO t VALUES (7, 'ok', 0.0)")
        with pytest.raises(PermissionError):
            ss.sql("DELETE FROM t WHERE a = 7")
        ss.set_user(None)
        ss.sql("REVOKE INSERT ON t FROM bob")
        ss.set_user("bob")
        with pytest.raises(PermissionError):
            ss.sql("INSERT INTO t VALUES (8, 'no', 0.0)")
    finally:
        ss.set_user(None)


# ---- EXPLAIN --------------------------------------------------------------

def test_explain_select_query_plan_column(ss):
    ss.sql("CREATE INDEX t_idx ON t USING inverted(b simple)")
    df = ss.sql("EXPLAIN SELECT a FROM t WHERE b @@ 'hello' AND v > 5")
    assert df.columns == ["QUERY PLAN"]
    text = "\n".join(r[0] for r in df.collect())
    assert "IRESEARCH_SCAN" in text
    assert "Term value='hello'" in text
    assert "residual" in text


def test_status_and_plan_replies_run_no_job(ss):
    """A statement's reply is a local relation: collecting it runs no
    Spark job (a createDataFrame reply runs one per collect)."""
    sc = ss.spark.sparkContext
    for i, (sql, schema, first) in enumerate([
            ("INSERT INTO t VALUES (4, 'four', 40.0)",
             "struct<status:string,detail:string>",
             ("INSERT", "t")),
            ("EXPLAIN SELECT a FROM t WHERE a = 1",
             "struct<QUERY PLAN:string>",
             ("== Parsed Logical Plan ==",))]):
        df = ss.sql(sql)
        group = f"reply-{i}"
        sc.setJobGroup(group, sql)
        try:
            rows = df.collect()
        finally:
            sc.setJobGroup("", "")
        assert sc.statusTracker().getJobIdsForGroup(group) == [], sql
        assert df.schema.simpleString() == schema
        assert all(f.nullable for f in df.schema)
        assert tuple(rows[0]) == first


def test_explain_dml_does_not_execute(ss):
    df = ss.sql("EXPLAIN DELETE FROM t WHERE a = 1")
    text = "\n".join(r[0] for r in df.collect())
    assert text.startswith("DELETE on t")
    assert "Filter: a = 1" in text
    assert ss.table("t").count() == 3  # nothing deleted


def test_explain_analyze_executes(ss):
    df = ss.sql("EXPLAIN ANALYZE SELECT a FROM t WHERE a > 1")
    text = "\n".join(r[0] for r in df.collect())
    assert "Actual Rows: 2" in text and "Execution Time" in text
    # PG semantics: EXPLAIN ANALYZE over DML really mutates
    ss.sql("EXPLAIN ANALYZE DELETE FROM t WHERE a = 1")
    assert ss.table("t").count() == 2


# ---- ALTER / DROP / views / misc -----------------------------------------

def test_alter_table_forms(ss):
    ss.sql("ALTER TABLE t ADD COLUMN w INT DEFAULT 7")
    assert ss.table("t").select("w").first().w == 7
    ss.sql("INSERT INTO t (a, b) VALUES (5, 'five')")
    assert ss.sql("SELECT w FROM t WHERE a = 5").first().w == 7
    ss.sql("ALTER TABLE t RENAME COLUMN w TO w2")
    ss.sql("ALTER TABLE t ALTER COLUMN w2 TYPE BIGINT")
    assert dict(ss.table("t").dtypes)["w2"] == "bigint"
    ss.sql("ALTER TABLE t DROP COLUMN w2")
    assert "w2" not in ss.table("t").columns
    ss.sql("ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v >= 0)")
    with pytest.raises(ValueError, match="v_pos"):
        ss.sql("INSERT INTO t VALUES (9, 'neg', -1.0)")
    ss.sql("ALTER TABLE t DROP CONSTRAINT v_pos")
    ss.sql("INSERT INTO t VALUES (9, 'neg', -1.0)")


def test_alter_rename_table(ss):
    ss.sql("ALTER TABLE t RENAME TO t_new")
    assert "t" not in ss._tables and ss.table("t_new").count() == 3
    assert ss._pks["t_new"] == "a"
    with pytest.raises(ValueError, match="duplicate key"):
        ss.sql("INSERT INTO t_new VALUES (1, 'dup', 0.0)")


def test_drop_table_sql(ss):
    with pytest.raises(ValueError, match="does not exist"):
        ss.sql("DROP TABLE missing")
    ss.sql("DROP TABLE IF EXISTS missing")  # no-op
    ss.sql("CREATE INDEX t_idx ON t USING inverted(b simple)")
    # PG semantics: indexes are part of the table — bare DROP takes them
    ss.sql("DROP TABLE t")
    assert "t" not in ss._tables and "t_idx" not in ss._indexes


def test_create_drop_view_sql(ss):
    ss.sql("CREATE VIEW big AS SELECT a, b FROM t WHERE v >= 20")
    assert ss.sql("SELECT count(*) AS n FROM big").first().n == 2
    with pytest.raises(ValueError, match="already exists"):
        ss.sql("CREATE VIEW big AS SELECT a FROM t")
    ss.sql("CREATE OR REPLACE VIEW big AS SELECT a FROM t")
    ss.sql("DROP VIEW big")
    with pytest.raises(ValueError, match="does not exist"):
        ss.sql("DROP VIEW big")


def test_vacuum_refresh_reindexes(ss):
    ss.sql("CREATE INDEX t_idx ON t USING inverted(b simple)")
    ss.sql("INSERT INTO t VALUES (10, 'fresh doc', 1.0)")
    # the index was built at CREATE INDEX time: new row invisible to @@
    assert ss.sql("SELECT a FROM t WHERE b @@ 'fresh'").count() == 0
    ss.sql("VACUUM (REFRESH_TABLE) t")
    assert [r.a for r in
            ss.sql("SELECT a FROM t WHERE b @@ 'fresh'").collect()] == [10]


def test_analyze_and_comment(ss):
    ss.sql("ANALYZE t")
    assert ss._analyze_stats["t"] == 3.0
    ss.sql("COMMENT ON TABLE t IS 'the demo table'")
    assert ss.get_comment("t") == "the demo table"
    ss.sql("COMMENT ON TABLE t IS NULL")
    assert ss.get_comment("t") is None


def test_foreign_key_in_create_table(ss):
    ss.sql("CREATE TABLE child (k INT, ta INT REFERENCES t (a))")
    ss.sql("INSERT INTO child VALUES (77, 2)")
    with pytest.raises(ValueError, match="foreign key"):
        ss.sql("ALTER TABLE child ADD CONSTRAINT bad_fk "
               "FOREIGN KEY (k) REFERENCES t (a)")


def test_unique_null_tolerant(ss):
    # UNIQUE is the NULL-tolerant _uniques path, NOT the PK slot: PG
    # allows any number of NULLs in a UNIQUE column (ADVICE r9)
    ss.sql("CREATE TABLE u (k INT UNIQUE, x TEXT)")
    ss.sql("INSERT INTO u VALUES (1, 'a')")
    with pytest.raises(ValueError, match="duplicate"):
        ss.sql("INSERT INTO u VALUES (1, 'b')")
    ss.sql("INSERT INTO u VALUES (NULL, 'n1')")
    ss.sql("INSERT INTO u VALUES (NULL, 'n2')")
    assert ss.table("u").count() == 3
    # ON CONFLICT binds to the UNIQUE column (insert_conflict.test t3)
    ss.sql("INSERT INTO u VALUES (1, 'skip') ON CONFLICT (k) DO NOTHING")
    assert ss.sql("SELECT x FROM u WHERE k = 1").first().x == "a"
    ss.sql("INSERT INTO u VALUES (1, 'z') "
           "ON CONFLICT (k) DO UPDATE SET x = EXCLUDED.x")
    assert ss.sql("SELECT x FROM u WHERE k = 1").first().x == "z"


def test_rename_column_migrates_catalog(ss):
    # ADVICE r9: RENAME COLUMN must re-key defaults/checks/generated/
    # uniques/FKs — a CHECK on the renamed column kept working and the
    # DEFAULT survives
    ss.sql("""CREATE TABLE rc (id INT PRIMARY KEY, qty INT DEFAULT 7
              CHECK (qty >= 0), twice INT GENERATED ALWAYS AS
              (qty * 2) STORED, tag TEXT UNIQUE)""")
    ss.sql("INSERT INTO rc (id, qty, tag) VALUES (1, 3, 'a')")
    ss.sql("ALTER TABLE rc RENAME COLUMN qty TO amount")
    # DEFAULT migrated: omitted column fills with 7
    ss.sql("INSERT INTO rc (id, tag) VALUES (2, 'b')")
    r = ss.sql("SELECT amount, twice FROM rc WHERE id = 2").first()
    assert (r.amount, r.twice) == (7, 14)
    # CHECK migrated and still enforces under the new name
    with pytest.raises(ValueError, match="CHECK"):
        ss.sql("INSERT INTO rc (id, amount, tag) VALUES (3, -1, 'c')")
    # UNIQUE membership migrated
    ss.sql("ALTER TABLE rc RENAME COLUMN tag TO label")
    with pytest.raises(ValueError, match="duplicate"):
        ss.sql("INSERT INTO rc (id, amount, label) VALUES (4, 1, 'a')")
    # FK endpoints migrate on both sides
    ss.sql("CREATE TABLE child (fk INT REFERENCES rc(id))")
    ss.sql("ALTER TABLE rc RENAME COLUMN id TO rcid")
    with pytest.raises(ValueError, match="foreign key"):
        ss.sql("INSERT INTO child VALUES (99)")
    ss.sql("INSERT INTO child VALUES (1)")


def test_copy_to_where_rejected(ss, tmp_path):
    # PG: WHERE is COPY FROM-only
    with pytest.raises(ValueError, match="not allowed with COPY TO"):
        ss.sql(f"COPY t TO '{tmp_path}/x.csv' WHERE a = 1")


# ---- prepared statements / schemas / user types ----------------------------

def test_prepare_execute_deallocate(ss):
    ss.sql("PREPARE q1 AS SELECT a, b FROM t WHERE a >= $1 ORDER BY a")
    got = [r.a for r in ss.sql("EXECUTE q1(2)").collect()]
    assert got == [2, 3]
    # ? positional and named := forms
    ss.sql("PREPARE q2 AS SELECT count(*) AS n FROM t WHERE a >= ?")
    assert ss.sql("EXECUTE q2(3)").first().n == 1
    ss.sql("PREPARE q3 AS SELECT count(*) AS n FROM t WHERE a >= $lo")
    assert ss.sql("EXECUTE q3(lo := 2)").first().n == 2
    # re-plan per EXECUTE: sees data changes without re-prepare
    ss.sql("INSERT INTO t VALUES (9, 'nine', 0.0)")
    assert ss.sql("EXECUTE q2(3)").first().n == 2
    ss.sql("DEALLOCATE q1")
    with pytest.raises(ValueError, match="does not exist"):
        ss.sql("EXECUTE q1(1)")
    ss.sql("DISCARD ALL")
    with pytest.raises(ValueError, match="does not exist"):
        ss.sql("EXECUTE q2(1)")


def test_create_schema_qualified_tables(ss):
    ss.sql("CREATE SCHEMA s1")
    ss.sql("CREATE TABLE s1.t (x INT)")
    ss.sql("INSERT INTO s1.t VALUES (1), (2)")
    assert ss.sql("SELECT count(*) AS n FROM s1.t").first().n == 2
    # same bare name in public is a different relation
    assert "a" in ss.table("t").columns
    with pytest.raises(ValueError, match="does not exist"):
        ss.sql("CREATE TABLE nosuch.t (x INT)")
    with pytest.raises(ValueError, match="depend"):
        ss.sql("DROP SCHEMA s1")
    ss.sql("DROP SCHEMA s1 CASCADE")
    assert "s1.t" not in ss._tables


def test_enum_type_order_semantics(ss):
    ss.sql("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    ss.sql("CREATE TABLE m (id INT PRIMARY KEY, mo mood)")
    ss.sql("INSERT INTO m VALUES (1,'happy'), (2,'sad'), (3,'ok'), "
           "(4, NULL)")
    with pytest.raises(ValueError, match="CHECK|enum"):
        ss.sql("INSERT INTO m VALUES (9, 'angry')")
    # definition order, not lexicographic
    got = [r.mo for r in ss.sql(
        "SELECT mo FROM m WHERE mo IS NOT NULL ORDER BY mo").collect()]
    assert got == ["sad", "ok", "happy"]
    assert [r.id for r in ss.sql(
        "SELECT id FROM m WHERE mo > 'sad' ORDER BY id").collect()] \
        == [1, 3]
    r = ss.sql("SELECT MIN(mo), MAX(mo) FROM m").first()
    assert (r[0], r[1]) == ("sad", "happy")
    with pytest.raises(ValueError, match="depend"):
        ss.sql("DROP TYPE mood")
    ss.sql("DROP TYPE mood CASCADE")
    assert "mo" not in ss.table("m").columns


def test_composite_type_struct_columns(ss):
    ss.sql("CREATE TYPE addr AS (street VARCHAR, zip INTEGER)")
    ss.sql("CREATE TABLE loc (id INT PRIMARY KEY, a addr)")
    ss.sql("INSERT INTO loc VALUES (1, ROW('main st', 12345))")
    row = ss.sql("SELECT a FROM loc").first().a
    assert (row.street, row.zip) == ("main st", 12345)
    # field access through Spark struct syntax
    assert ss.sql("SELECT a.zip AS z FROM loc").first().z == 12345
    ss.sql("DROP TABLE loc")
    ss.sql("DROP TYPE addr")


def test_roles_and_set_role(ss):
    ss.sql("CREATE ROLE alice")
    with pytest.raises(ValueError, match="already exists"):
        ss.sql("CREATE ROLE alice")
    ss.sql("GRANT SELECT ON t TO alice")
    ss.sql("SET ROLE alice")
    assert ss.current_user == "alice"
    with pytest.raises(PermissionError):
        ss.sql("DELETE FROM t WHERE a = 1")
    ss.sql("RESET ROLE")
    assert ss.current_user is None
    # PG: DROP ROLE refuses while the role still holds privileges
    with pytest.raises(ValueError, match="depend on it"):
        ss.sql("DROP ROLE alice")
    ss.sql("REVOKE SELECT ON t FROM alice")
    ss.sql("DROP ROLE alice")


def test_show_and_dictionary_replies_run_no_job(ss):
    """SHOW and the TEXT SEARCH DICTIONARY replies are local relations
    too: collecting one runs no Spark job, rows and schema as before."""
    sc = ss.spark.sparkContext
    nprobe = str(ss.show_variable("sdb_nprobe"))
    for i, (sql, schema, first) in enumerate([
            ("SHOW sdb_nprobe", "struct<sdb_nprobe:string>", (nprobe,)),
            ("CREATE TEXT SEARCH DICTIONARY reply_dict (template = 'simple')",
             "struct<dictionary:string,template:string,features:string>",
             ("reply_dict", "simple", "frequency,position")),
            ("DROP TEXT SEARCH DICTIONARY reply_dict",
             "struct<dropped:string,name:string>",
             ("dictionary", "reply_dict"))]):
        df = ss.sql(sql)
        group = f"show-reply-{i}"
        sc.setJobGroup(group, sql)
        try:
            rows = df.collect()
        finally:
            sc.setJobGroup("", "")
        assert sc.statusTracker().getJobIdsForGroup(group) == [], sql
        assert df.schema.simpleString() == schema
        assert [tuple(r) for r in rows] == [first]
