"""SereneSession — the engine facade (PG-wire/ES-REST analogue is a Python
API; SURVEY §3 lifecycle mapping).

Usage:
    ss = SereneSession(spark)
    ss.load_dir("/root/testdata/sf0.01")          # registers temp views
    idx = ss.create_index("documents", {"text": "simple"}, key="doc_id")
    hits = ss.search(idx, Phrase(["plot", "twist"]), scorer="bm25", limit=5)
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serenedb_spark.operators.indexing import InvertedIndex, build_index
from serenedb_spark.operators.scoring import score as _score
from serenedb_spark.operators.sequences import SequenceCatalog
from serenedb_spark.plans import tsquery as tsq
from serenedb_spark.plans.planner import compile_query
from serenedb_spark.sources.local import local_frame

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

#: the one per-statement test for a possible catalog reference
_CATALOG_RE = re.compile(
    r"\b(pg_[a-z_]+|information_schema"
    r"|sdb_settings|sdb_metrics|sdb_progress)\b")


def get_spark(app: str = "serenedb-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # the stated environment is a single 128 GiB JVM (local[32]); 16g
        # left the unified pool ~9 GB and the 10x bench's two persisted
        # indexes (~180M postings rows) thrashed the storage region —
        # es_multi_match read 6.9s under eviction vs 1.1s steady-state
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata parquet carries TIMESTAMP(NANOS); Spark has no ns type —
        # read as long and convert to µs at load (documented precision rule,
        # SURVEY §1.2 / §7(f))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )


#: ns-timestamp columns in the driver testdata (read as long nanos, see above)
NS_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _pad_highlight_calls(q: str) -> str:
    """Pad 2-argument ``ts_highlight(doc, offs)`` calls with a NULL
    options argument so the single registered 3-ary UDF serves both
    arities."""
    import re as _re

    out = []
    pos = 0
    for m in _re.finditer(r"\bts_highlight\s*\(", q, _re.IGNORECASE):
        if m.start() < pos:
            continue
        depth, commas, i = 1, 0, m.end()
        while i < len(q) and depth:
            ch = q[i]
            if ch == "'":           # skip string literals ('' escapes)
                i += 1
                while i < len(q):
                    if q[i] == "'":
                        if i + 1 < len(q) and q[i + 1] == "'":
                            i += 2
                            continue
                        break
                    i += 1
            elif ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 1:
                commas += 1
            i += 1
        out.append(q[pos:i - 1])
        if commas == 1:
            out.append(", CAST(NULL AS STRING)")
        out.append(")")
        pos = i
    out.append(q[pos:])
    return "".join(out)


def _is(value):
    """Factory for an immutable empty form."""
    return lambda: value


def _bootstrap_roles() -> dict:
    # the bootstrap superuser — oid matches the repo's existing
    # pg_class.relowner/pg_get_userbyid convention
    return {"postgres": dict(SereneSession._ROLE_DEFAULTS, super=True,
                             inherit=True, createrole=True,
                             createdb=True, canlogin=True,
                             replication=True, bypassrls=True,
                             oid=1000000)}


def _pg_var_defaults() -> dict:
    from serenedb_spark.plans.statements import _PG_VAR_DEFAULTS
    return dict(_PG_VAR_DEFAULTS)


#: state scopes: TXN state is snapshotted by BEGIN; TXN and SHARED state
#: make up a database's catalog store (shared by attached connections,
#: swapped by USE); CONN state belongs to the connection alone
_TXN, _SHARED, _CONN = "txn", "shared", "conn"


class SereneSession:
    #: every attribute of the session's state: name → (empty form, scope).
    #: __init__ sets each one, so readers use the attribute directly.
    _STATE = {
        "_tables": (dict, _TXN),
        "_pks": (dict, _TXN),
        "_row_policies": (dict, _TXN),
        "_col_masks": (dict, _TXN),
        "_grants": (dict, _TXN),
        "_comments": (dict, _TXN),
        "_checks": (dict, _TXN),
        "_not_null": (dict, _TXN),
        "_indexes": (dict, _TXN),
        "_index_sources": (dict, _TXN),
        "_variables": (dict, _TXN),
        "_fks": (dict, _TXN),
        "_col_defaults": (dict, _TXN),
        "_generated": (dict, _TXN),
        "_uniques": (dict, _TXN),
        "_storage": (dict, _TXN),
        "_index_ddl": (dict, _TXN),
        "_view_defs": (dict, _TXN),
        "_analyze_stats": (dict, _TXN),
        "_pg_vars_store": (_pg_var_defaults, _TXN),
        "_schemas": (lambda: {"public"}, _TXN),
        "_roles": (set, _TXN),
        "_role_attrs": (_bootstrap_roles, _TXN),
        "_role_members": (dict, _TXN),
        "_col_grants": (dict, _TXN),
        "_obj_grants": (dict, _TXN),
        "_owners": (dict, _TXN),
        "_default_acls": (dict, _TXN),
        "_enum_types": (dict, _TXN),
        "_enum_cols": (dict, _TXN),
        "_composite_types": (dict, _TXN),
        "_composite_cols": (dict, _TXN),
        "_secondary_indexes": (dict, _TXN),
        "_pk_names": (dict, _TXN),
        "_nn_names": (dict, _TXN),
        "_uq_names": (dict, _TXN),
        # sequences and macros are not transactional (PG nextval)
        "_sequences": (SequenceCatalog, _SHARED),
        "_vector_indexes": (dict, _SHARED),
        "_internal_indexes": (set, _SHARED),
        "_macros_meta": (dict, _SHARED),
        # transaction block
        "_txn_backup": (_is(None), _CONN),
        "_txn_prebegin": (_is(None), _CONN),
        "_txn_detached": (_is(False), _CONN),
        "_txn_rc": (_is(False), _CONN),
        "_txn_snapshot_pending": (_is(False), _CONN),
        "_txn_aborted": (_is(False), _CONN),
        "_txn_read_only": (_is(False), _CONN),
        # multi-connection mode and databases
        "_shared_store": (_is(None), _CONN),
        "_shared_base": (_is(None), _CONN),
        "_databases": (lambda: {"serene": None}, _CONN),
        "_current_db": (_is("serene"), _CONN),
        "_current_schema": (_is("public"), _CONN),
        "_current_user": (_is(None), _CONN),
        "_session_user": (_is(None), _CONN),
        "_dead": (_is(False), _CONN),
        "_crash_seen": (_is(0), _CONN),
        # PG session-scoped objects: ROLLBACK keeps them
        "_prepared": (dict, _CONN),
        "_grantors": (dict, _CONN),
        "_unique_indexes": (dict, _CONN),
        "_owned_seqs_store": (dict, _CONN),
        "_collations": (dict, _CONN),
        # caches and bookkeeping
        "_last_query": (_is(None), _CONN),
        "_dirty_rows": (dict, _CONN),
        "_reltuples_cache": (dict, _CONN),
        "_lazy_views": (set, _CONN),
        "_refreshing_views": (_is(False), _CONN),
        "_hl_udf_registered": (_is(False), _CONN),
    }
    _TXN_STATE = tuple(a for a, (_, s) in _STATE.items() if s == _TXN)
    #: a database's catalog store (shared between attached sessions)
    _SHARED_STATE = tuple(a for a, (_, s) in _STATE.items()
                          if s != _CONN)

    def __init__(self, spark: SparkSession):
        self.spark = spark
        for a, (empty, _scope) in self._STATE.items():
            setattr(self, a, empty())
        self._register_vector_sql_functions()

    def _register_vector_sql_functions(self) -> None:
        """The reference's scalar vector-distance functions as Spark SQL
        UDFs (full_text_search.test l2_distance/cosine_distance/…):
        pure built-in expression bodies — zip_with + aggregate stay in
        whole-stage codegen, no Python per row."""
        dot = ("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * y)"
               ", 0.0D, (acc, v) -> acc + v)")
        norm = ("sqrt(aggregate({0}, 0.0D, (acc, v) -> acc + "
                "CAST(v AS DOUBLE) * v))")
        bodies = {
            "l2_distance": ("sqrt(aggregate(zip_with(a, b, (x, y) -> "
                            "(CAST(x AS DOUBLE) - y) * (x - y)), 0.0D, "
                            "(acc, v) -> acc + v))"),
            "l1_distance": ("aggregate(zip_with(a, b, (x, y) -> "
                            "abs(CAST(x AS DOUBLE) - y)), 0.0D, "
                            "(acc, v) -> acc + v)"),
            "inner_product": dot,
            "negative_inner_product": f"-({dot})",
            "cosine_similarity": (f"({dot}) / ({norm.format('a')} * "
                                  f"{norm.format('b')})"),
            "cosine_distance": (f"1.0D - ({dot}) / ({norm.format('a')} *"
                                f" {norm.format('b')})"),
        }
        bodies["l2_sqr_distance"] = (
            "aggregate(zip_with(a, b, (x, y) -> (CAST(x AS DOUBLE) - y)"
            " * (x - y)), 0.0D, (acc, v) -> acc + v)")
        unary = {
            "l2_norm": ("sqrt(aggregate(a, 0.0D, (acc, v) -> acc + "
                        "CAST(v AS DOUBLE) * v))"),
            "l1_norm": ("aggregate(a, 0.0D, (acc, v) -> acc + "
                        "abs(CAST(v AS DOUBLE)))"),
        }
        for name, body in bodies.items():
            try:
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
                    f"(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE "
                    f"RETURN {body}")
            except Exception:
                pass  # older Spark without SQL UDFs: DataFrame API only
        for name, body in unary.items():
            try:
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
                    f"(a ARRAY<DOUBLE>) RETURNS DOUBLE RETURN {body}")
            except Exception:
                pass
        for name, nrm in (("l2_normalize", unary["l2_norm"]),
                          ("l1_normalize", unary["l1_norm"])):
            try:
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
                    f"(a ARRAY<DOUBLE>) RETURNS ARRAY<DOUBLE> RETURN "
                    f"transform(a, v -> CAST(v AS DOUBLE) / ({nrm}))")
            except Exception:
                pass

    # ---- catalog ---------------------------------------------------------
    def load_dir(self, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
        for t in tables:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.exists(path):
                df = self.spark.read.parquet(path)
                for c in NS_TS_COLUMNS.get(t, ()):
                    if dict(df.dtypes).get(c) == "bigint":
                        df = df.withColumn(
                            c,
                            F.timestamp_micros(
                                (F.col(c) / F.lit(1000)).cast("long")
                            ),
                        )
                self._tables[t] = df
                df.createOrReplaceTempView(t)

    def table(self, name: str) -> DataFrame:
        self._check_privilege(name, "SELECT")
        df = self._tables[name]
        pred = self._row_policies.get(name)
        if pred is not None:
            df = df.where(pred)
        return self._apply_masks(name, df)

    def sql(self, q: str) -> DataFrame:
        """The SQL front door. Search-dialect statements — `col @@
        tsquery` matches, scorer calls in SELECT/ORDER BY, `CREATE INDEX
        ... USING inverted(...)` DDL (reference
        server/connector/functions/search.h:75-132,
        examples/demo3/demo.sql) — lower onto the index engine;
        non-SELECT statements route through plans/statements.py; anything
        else runs as Spark SQL with the dialect shims (QUALIFY).

        PG aborted-block semantics (txn/aborted_block.test): after an
        error inside BEGIN, every statement except COMMIT/ROLLBACK is
        refused with PG's exact wording until the block ends, and COMMIT
        of an aborted block converts to a rollback."""
        import re as _re

        self._last_query = q  # surfaced by pg_stat_activity
        head = _re.match(r"\s*([A-Za-z_]+)", q)
        head = head.group(1).upper() if head else ""
        if self._txn_aborted and head not in (
                "COMMIT", "END", "ROLLBACK", "ABORT"):
            raise RuntimeError(
                "current transaction is aborted, commands ignored until "
                "end of transaction block")
        gate = self._connection_gate(head, q)
        if gate is not None:
            return gate
        if self._txn_snapshot_pending and head not in (
                "COMMIT", "END", "ROLLBACK", "ABORT", "BEGIN", "START"):
            self._take_txn_snapshot()
        if self._txn_detached and self._txn_rc:
            self._rc_sync()
        try:
            return self._sql_body(q)
        except Exception as e:
            if self._txn_backup is not None:
                self._txn_aborted = True
            if ("UNRESOLVED_ROUTINE" in str(e)
                    and "`nextval`" in str(e)):
                # scalar-SELECT / DEFAULT / VALUES nextval forms ARE
                # supported; per-row advancement inside an arbitrary
                # query body is not (an honest refusal, not a parse bug)
                raise NotImplementedError(
                    "nextval inside a query body is not supported — "
                    "use DEFAULT nextval(...), VALUES cells, or the "
                    "scalar SELECT form") from e
            raise

    # ---- fault injection + crash simulation (recovery/ tranche).
    # The shared catalog store IS the durable layer: committed
    # statements mutate it in place, open transactions live on
    # session-local detached copies — so "crash" = every live session
    # dies (in-flight work discarded), the store survives, and a fresh
    # connection attaches to exactly the committed state, which is the
    # reference's WAL-recovery contract observed through SQL.
    def _faults_active(self) -> set:
        v = str(self._variables.get("sdb_faults", "")
                or "")
        return {p for p in v.split(",") if p}

    def _server_crash(self) -> None:
        from serenedb_spark.operators import maintenance as _M
        _M.FAULTS.clear()
        # a restarted server comes up with GUCs at defaults
        self._variables.pop("sdb_faults", None)
        store = self._shared_store
        if store is not None:
            store["_crash_count"] = store.get("_crash_count", 0) + 1
        self._dead = True

    #: faults that crash AFTER the statement commits (the WAL record is
    #: durable — recovery replays it) vs BEFORE (the write is lost)
    _CRASH_AFTER = ("crash_after_search_wal_commit",
                    "crash_after_search_commit")
    _CRASH_BEFORE = ("crash_before_search_wal_commit",
                     "crash_before_search_commit")

    def _connection_gate(self, head: str, q: str):
        store = self._shared_store
        if self._dead or (
                store is not None
                and self._crash_seen
                < store.get("_crash_count", 0)):
            raise RuntimeError("connection closed")
        faults = self._faults_active()
        if not faults:
            return None
        if "crash_on_packet" in faults:
            self._server_crash()
            raise RuntimeError("connection closed")
        if "crash_on_drop" in faults and head == "DROP":
            # TableDrop::Finalize crash: the drop's WAL record is
            # already durable — recovery completes it
            # (cross_schema_recovery.test)
            try:
                self._sql_body(q)
            finally:
                self._server_crash()
            raise RuntimeError("connection closed")
        if head in ("INSERT", "UPDATE", "DELETE", "COPY", "TRUNCATE"):
            if any(f in faults for f in self._CRASH_BEFORE):
                # the write never reached the WAL: lost
                self._server_crash()
                raise RuntimeError("connection closed")
            if any(f in faults for f in self._CRASH_AFTER):
                try:
                    self._sql_body(q)
                finally:
                    self._server_crash()
                raise RuntimeError("connection closed")
        import re as _re
        creating = head == "CREATE" or (
            head == "SELECT"
            and _re.search(r"\bINTO\s+[A-Za-z_]", q) is not None)
        if creating and (
                "crash_before_finish_creation" in faults
                or "crash_before_remove_tombstone" in faults
                or "crash_sst_sink_after_ingest" in faults):
            # creation not finalized: the object's tombstone wins
            # during recovery — the table/index is GONE
            # (recovery/ctas.test, inverted_index_create_crash.test)
            self._server_crash()
            raise RuntimeError("connection closed")
        return None

    def _sql_body(self, q: str) -> DataFrame:
        from serenedb_spark.plans import search_sql as SS
        from serenedb_spark.plans.dialect import sql_compat
        from serenedb_spark.plans.statements import route_statement

        import re as _re

        if "_matches" in q.lower() or "_tokens" in q.lower():
            # reference match-function sugar (truncate.test,
            # full_text_search.test): X_matches(col, args...) ≡
            # col @@ <equivalent tsquery fn>(args...)
            sugar = {"phrase_matches": "ts_phrase",
                     "ngram_matches": "ts_ngram",
                     "levenshtein_matches": "ts_levenshtein",
                     "starts_with_matches": "ts_starts_with",
                     "like_matches": "ts_like",
                     "regexp_matches_index": "ts_regexp",
                     "has_all_tokens": "ts_all",
                     "has_any_tokens": "ts_any"}
            for fn, ts_fn in sugar.items():
                if fn in q.lower():
                    q = _re.sub(
                        rf"\b{fn}\s*\(\s*([\w.]+)\s*,\s*",
                        rf"\1 @@ {ts_fn}(", q, flags=_re.IGNORECASE)
        if _CATALOG_RE.search(q) is not None:
            # introspection reads the CURRENT catalog state: build the
            # catalog relations this statement names, before any
            # routing (reference system/ suites query them without
            # setup)
            from serenedb_spark.pg_catalog import named_relations

            names = [n for n in named_relations(q) if n not in self._tables]
            if names:
                self.install_pg_catalog(*names)
        routed = route_statement(self, q)
        if routed is not None:
            return routed
        # SELECT-shaped statement: charge SELECT on every referenced
        # column of every referenced table (non-superuser sessions)
        self._enforce_statement_reads(q)

        if "::regtype" in q:
            # 'name'::regtype / oid::regtype — the canonical type name
            # (system/regtype.test); pg_typeof over it is 'regtype'
            from serenedb_spark.plans.dialect import _PG_TYPEOF_NAMES
            _OID_TYPES = {
                "16": "boolean", "17": "bytea", "20": "bigint",
                "21": "smallint", "23": "integer", "25": "text",
                "700": "real", "701": "double precision",
                "1042": "character", "1043": "character varying",
                "1082": "date", "1114": "timestamp without time zone",
                "1184": "timestamp with time zone", "1700": "numeric",
            }
            q = _re.sub(
                r"pg_typeof\s*\(\s*[^()]*::\s*regtype\s*\)",
                "'regtype' AS pg_typeof", q, flags=_re.IGNORECASE)

            def _regty(mm):
                v = mm.group(1)
                if v.startswith("'"):
                    v = v[1:-1]
                    arr = v.endswith("[]")
                    base = v[:-2] if arr else v
                    norm = " ".join(base.lower().split())
                    canon = _PG_TYPEOF_NAMES.get(norm)
                    if canon is None and (
                            norm in set(_PG_TYPEOF_NAMES.values())
                            or norm in ("regtype", "regclass")):
                        canon = norm
                    if canon is None:
                        raise ValueError(
                            f'type "{base}" does not exist')
                    name2 = canon + ("[]" if arr else "")
                else:
                    name2 = _OID_TYPES.get(v)
                    if name2 is None:
                        raise ValueError(
                            f"type with OID {v} does not exist")
                before2 = q[:mm.start()].rstrip()
                after2 = q[mm.end():].lstrip()
                lit = f"'{name2}'"
                if (_re.search(r"(SELECT|,)\s*$", before2,
                               _re.IGNORECASE)
                        and _re.match(r"($|,|;|FROM\b)", after2,
                                      _re.IGNORECASE)):
                    return f"{lit} AS regtype"
                return lit
            q = _re.sub(
                r"('[\w\[\] ]+'|\d+)\s*::\s*regtype", _regty, q,
                flags=_re.IGNORECASE)
        if "::regclass" in q:
            # `'name'::regclass` — an oid that DISPLAYS as the relation
            # name: bare select items render the name, every other
            # context substitutes the oid (system/regclass.test;
            # pg_constraint.conrelid comparisons). pg_typeof over a
            # regclass cast folds before the substitution would hide it.
            q = _re.sub(
                r"pg_typeof\s*\(\s*'[\w.]+'\s*::\s*regclass\s*\)",
                "'regclass' AS pg_typeof", q, flags=_re.IGNORECASE)

            # catalog-relation oids resolve from SYSTEM_RELATIONS —
            # the SAME oid space the pg_class rows expose, so
            # `WHERE oid = 'pg_type'::regclass` joins against pg_class
            # actually match (PG's native 1247/1259 values are NOT used
            # anywhere in the emitted catalog rows)
            from serenedb_spark.pg_catalog_columns import (
                SYSTEM_RELATIONS as _SR, SYSTEM_RELATIONS_DYN as _SRD)
            _CATALOG_OIDS = {rn: oid for oid, rn, _rk in _SR + _SRD}

            def _rid(name: str) -> int:
                rid = self.relid(name)
                if rid is None and name.startswith(("public.",
                                                    "pg_catalog.")):
                    rid = self.relid(name.split(".", 1)[1])
                if rid is None:
                    bare = name.split(".")[-1]
                    from serenedb_spark.pg_catalog_columns import COLUMNS
                    if bare.startswith("pg_") and bare in COLUMNS:
                        import zlib
                        rid = _CATALOG_OIDS.get(
                            bare, 900000 + zlib.crc32(
                                bare.encode()) % 90000)
                if rid is None:
                    raise ValueError(
                        f'relation "{name}" does not exist')
                return rid

            def _sub_regclass(mm):
                name = mm.group(2)
                _rid(name)                # raises for unknown relations
                bare = name.split(".")[-1]
                return f"{mm.group(1)}'{bare}' AS regclass"

            # trailing context is a LOOKAHEAD so the separator stays in
            # the string — `SELECT 'a'::regclass, 'b'::regclass` keeps
            # the comma for the second item's leading anchor
            q = _re.sub(
                r"((?:SELECT|,)\s*)?'([\w.]+)'\s*::\s*regclass"
                r"(?=(\s*(?:;|,|$|FROM\b)))?",
                lambda mm: _sub_regclass(mm) if (mm.group(1) is not None
                                                 and mm.group(3)
                                                 is not None)
                else f"{mm.group(1) or ''}{_rid(mm.group(2))}",
                q, flags=_re.IGNORECASE)
        if _re.search(r"\bST_(Intersects|Contains|Distance_\w+)\s*\(",
                      q, _re.IGNORECASE):
            # geometry predicates run through the DataFrame geo API
            # (functions/geometry.py, geo_* gate rows); the SQL-door
            # spelling over arbitrary per-row WKT/GeoJSON is not wired
            raise NotImplementedError(
                "ST_* geometry predicates are not yet supported as SQL "
                "text — use the functions.geometry DataFrame API")
        if not SS.has_search_construct(q):
            return self._plain_sql(q)
        ddl = SS.parse_create_index(q)
        if ddl is not None:
            return self._create_inverted_index_sql(ddl)
        dic = SS.parse_create_dictionary(q)
        if dic is not None:
            from serenedb_spark.analysis.analyzers import create_dictionary

            opts = dict(dic.options)
            template = opts.pop("template", None)
            if template is None:
                raise ValueError(
                    "CREATE TEXT SEARCH DICTIONARY requires template=")
            a = create_dictionary(dic.name, str(template), **opts)
            return local_frame(
                self.spark,
                "dictionary string, template string, features string",
                [{"dictionary": a.name, "template": str(template),
                  "features": ",".join(a.features)}])
        drop = SS.parse_drop(q)
        if drop is not None:
            kind, name = drop
            if kind == "index":
                vi = self._vector_indexes
                if name in vi:
                    vi.pop(name)
                elif name not in self._indexes:
                    raise ValueError(
                        f"Index with name {name} does not exist!")
                else:
                    self._indexes.pop(name)
                    self._index_sources.pop(name, None)
            else:
                from serenedb_spark.analysis.analyzers import drop_dictionary

                dependents = [
                    iname for iname, idx in self._indexes.items()
                    if name in idx.fields.values()]
                if dependents:
                    # dependency protection (basic.test:30): an index
                    # bound to the dictionary blocks the drop
                    raise ValueError(
                        f"cannot drop text search dictionary {name} "
                        f"because other objects depend on it\nDETAIL: "
                        f"index {dependents[0]} depends on text search "
                        f"dictionary {name}\nHINT: Use DROP ... CASCADE "
                        "to drop the dependent objects too.")
                drop_dictionary(name)
            return local_frame(self.spark, "dropped string, name string",
                               [{"dropped": kind, "name": name}])
        from serenedb_spark.plans.search_join import split_set_ops

        parts = split_set_ops(SS.tokenize(q.strip().rstrip(";")))
        if parts is not None:
            return self._run_set_ops(*parts)
        return self._run_select(q)

    def _run_select(self, q: str) -> DataFrame:
        """One SELECT statement (no set ops): search-dialect routes, else
        plain Spark SQL with the dialect shims."""
        from serenedb_spark.plans import search_sql as SS
        from serenedb_spark.plans.dialect import sql_compat

        if not SS.has_search_construct(q):
            return self._plain_sql(q)
        from serenedb_spark.plans.search_join import split_set_ops

        # a subquery extracted by rewrite_search_subqueries can itself
        # be a UNION/INTERSECT/EXCEPT of search statements
        # (ts_dict_compose.test) — re-split on re-entry
        parts = split_set_ops(SS.tokenize(q.strip().rstrip(";")))
        if parts is not None:
            return self._run_set_ops(*parts)
        from serenedb_spark.plans.search_join import (
            rewrite_search_subqueries)

        to = SS.parse_tsdict_outer(q)
        if to is not None:
            return SS.execute_tsdict_outer(to, self._index_for,
                                           self._tsdict_doc_ids)
        new_q, changed = rewrite_search_subqueries(
            q, self._run_select, self.spark)
        if changed:
            return self._run_select(new_q)
        scalar = self._scalar_ts_lexize(q)
        if scalar is not None:
            return scalar
        import re as _re
        _td_fn = _re.search(r"\bts_dict_\w+(?=\s*\()", q)
        if _td_fn is not None:
            _frm = _re.search(r"\bFROM\s+([A-Za-z_][\w.]*)", q,
                              _re.IGNORECASE)
            frm = _frm.group(1) if _frm is not None else None
            if (frm is not None and frm not in self._indexes
                    and any(src == frm for src in
                            self._index_sources.values())):
                # the reference binds ts_dict aggregates to the index
                # RELATION only; a base table has no term dictionary to
                # claim (ts_dict.test:222). DataFrame-API sessions keep
                # the table-name fallback (no SQL catalog to honor).
                raise ValueError(
                    f"{_td_fn.group(0)}() requires an inverted index "
                    f"scan in the same sub-query")
        td = SS.parse_ts_dict(q)
        if td is not None:
            return SS.execute_ts_dict(td, self._index_for,
                                      self._tsdict_doc_ids)
        from serenedb_spark.plans.search_join import (
            execute_multirel, needs_multirel)

        if needs_multirel(SS.tokenize(q.strip().rstrip(";"))):
            return execute_multirel(
                q, self._index_for, self._relation_for, self.spark)
        stmt = SS.parse_select(
            q, lambda tbl, col: self._index_for(tbl, col).analyzer(col))
        return SS.execute_select(stmt, self._index_for, self._relation_for)

    def _plain_sql(self, q: str) -> DataFrame:
        """Plain (non-search) SQL: expose index relations named in the
        FROM, register per-row function shims, apply the dialect
        rewrites, run through Spark."""
        from serenedb_spark.plans.dialect import sql_compat

        self._expose_index_relations(q)
        import re as _re

        if self._shared_store is not None:
            # shared sessions race on the ONE SparkSession temp-view
            # namespace: re-register referenced tables from THIS
            # session's dicts before running (a peer's detached block
            # may have registered its snapshot), and put the store's
            # version back afterwards when this session is detached
            # (drop_table_snapshot_pinning.test; txn/basic.test:102)
            touched = [t for t in self._tables
                       if _re.search(
                           rf"\b{_re.escape(self._view_name(t))}\b", q)]
            for t in touched:
                self._reregister(t)
            if not self._txn_detached:
                return self._plain_sql_body(q)
            try:
                return self._plain_sql_body(q)
            finally:
                store_tables = self._shared_store["_tables"]
                for t in touched:
                    if t in store_tables:
                        self._apply_masks(
                            t, store_tables[t]).createOrReplaceTempView(
                            self._view_name(t))
                    else:
                        try:
                            self.spark.catalog.dropTempView(
                                self._view_name(t))
                        except Exception:
                            pass
        return self._plain_sql_body(q)

    def _plain_sql_body(self, q: str) -> DataFrame:
        from serenedb_spark.plans.dialect import sql_compat
        import re as _re

        if _re.search(r"\bpragma_\w+\s*\(", q, _re.IGNORECASE):
            # DuckDB pragma TVFs expose that engine's physical storage
            # (pragma_storage_info) — no Spark analogue
            raise NotImplementedError(
                "DuckDB pragma_* table functions are not supported")
        # PG allows a SCALAR function in table position:
        # `SELECT * FROM babsky()` — one row, column named after the
        # function (recovery/catalog_function.test)
        for fname, meta in list(self._macros_meta.items()):
            if not meta[1] and _re.search(
                    rf"\bFROM\s+{_re.escape(fname)}\s*\(", q,
                    _re.IGNORECASE):
                q = _re.sub(
                    rf"\bFROM\s+{_re.escape(fname)}\s*"
                    rf"\(([^()]*)\)",
                    rf"FROM (SELECT {fname}(\1) AS {fname})", q,
                    flags=_re.IGNORECASE)

        if _re.search(r"\bts_highlight\s*\(", q, _re.IGNORECASE):
            # virtual-column 1-arg form outside a search scan has no
            # offsets to synthesize (headline.test:501-516)
            for mm in _re.finditer(
                    r"\bts_highlight\s*\(\s*([^(),]*?)\s*\)", q,
                    _re.IGNORECASE):
                arg = mm.group(1)
                if _re.fullmatch(r"'(?:[^']|'')*'", arg):
                    raise ValueError(
                        "ts_offsets() first argument must be a column "
                        "reference")
                raise ValueError(
                    "ts_highlight requires an inverted index scan")
            # dict-standalone ts_highlight('dict', col, filter[, opts])
            # over table columns: parse the constant filter driver-side,
            # register a per-call Arrow-batched UDF (headline.test
            # hl_inplace_docs)
            q = self._rewrite_dict_highlight_calls(q)
            # per-row ts_highlight(doc, offs[, opts]) over table columns
            # (headline.test hl_dyn): a registered Arrow-batched UDF
            self._ensure_highlight_udf()
            q = _pad_highlight_calls(q)
        from serenedb_spark.plans.dialect import rewrite_raw_literals

        # PG string literals are RAW — encode them for Spark's
        # escape-processing parser so 'Serene\DB' keeps its backslash
        # (similar.test:162); the DML door does the same via
        # statements._pg_literals
        return sql_compat(
            self.spark, self._schema_rewrite(self._enum_rewrite(
                rewrite_raw_literals(q))))

    def _rewrite_dict_highlight_calls(self, q: str) -> str:
        import re as _re

        from serenedb_spark.plans.statements import _split_call_args

        out, pos, n = [], 0, 0
        for m in _re.finditer(r"\bts_highlight\s*\(", q, _re.IGNORECASE):
            if m.start() < pos:
                continue
            parsed = _split_call_args(q[m.end():])
            if parsed is None:
                continue
            args, end = parsed
            if not (len(args) >= 3
                    and _re.fullmatch(r"'\w+'", args[0] or "")):
                continue
            from serenedb_spark.analysis.analyzers import get_analyzer
            from serenedb_spark.functions.highlight import (
                py_match_offsets,
            )
            from serenedb_spark.plans.search_sql import (
                _match_groups, parse_tsquery_text,
            )
            from serenedb_spark.plans.statements import py_highlight
            from pyspark.sql.functions import PandasUDFType, pandas_udf

            an = get_analyzer(args[0][1:-1])
            groups = _match_groups(parse_tsquery_text(args[2], an))
            opts = None
            if (len(args) > 3
                    and _re.fullmatch(r"'(?:[^']|'')*'", args[3])):
                opts = args[3][1:-1].replace("''", "'")

            def _make(groups=groups, opts=opts):
                @pandas_udf("string", PandasUDFType.SCALAR)
                def _hl(s):
                    return s.map(
                        lambda t: None if t is None else py_highlight(
                            t, py_match_offsets(t, groups), opts))
                return _hl

            fname = f"__ts_hl_{n}"
            n += 1
            self.spark.udf.register(fname, _make())
            out.append(q[pos:m.start()])
            repl = f"{fname}({args[1]})"
            tail = q[m.end() + end:]
            if _re.match(r"\s*(,|FROM\b|$)", tail,
                         _re.IGNORECASE):
                # keep PG's display name for the unaliased call
                repl += " AS ts_highlight"
            out.append(repl)
            pos = m.end() + end
        out.append(q[pos:])
        return "".join(out)

    def _ensure_highlight_udf(self) -> None:
        if self._hl_udf_registered:
            return
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        from serenedb_spark.plans.statements import py_highlight

        @pandas_udf("string", PandasUDFType.SCALAR)
        def _hl(doc, offs, opts):
            import pandas as pd
            return pd.Series([
                py_highlight(d, o, p)
                for d, o, p in zip(doc, offs, opts)])

        self.spark.udf.register("ts_highlight", _hl)
        self._hl_udf_registered = True

    def _run_set_ops(self, arms: list[str], ops: list[tuple[str, bool]],
                     tail: str) -> DataFrame:
        from serenedb_spark.plans.search_join import execute_set_ops

        return execute_set_ops(arms, ops, tail, self._run_select,
                               self.spark)

    def _expose_index_relations(self, q: str) -> None:
        """Plain SQL over an index relation (demo6 Q5-Q7: `FROM
        solutions_idx` with no search construct in the statement):
        register the docstore under the index name so Spark resolves the
        FROM. Session tables win on a name collision."""
        import re as _re

        for name, (tbl, _o) in self._vector_indexes.items():
            if name in self._tables or tbl not in self._tables:
                continue
            if _re.search(rf"\b{_re.escape(name)}\b", q, _re.IGNORECASE):
                self._tables[tbl].createOrReplaceTempView(name)
        for name, idx in self._indexes.items():
            if name in self._tables:
                continue
            if _re.search(rf"\b{_re.escape(name)}\b", q, _re.IGNORECASE):
                store = idx.docstore
                key = getattr(idx, "key", "doc_id")
                if key != "doc_id" and key not in store.columns:
                    # give the key column its table name back
                    store = store.withColumnRenamed("doc_id", key)
                store.createOrReplaceTempView(name)

    def _relation_for(self, name: str) -> DataFrame:
        """FROM resolution for pure-vector statements: a session table,
        else an index's docstore (reference FROM idx_name)."""
        if name in self._tables:
            return self.table(name)
        vi = self._vector_indexes
        if name in vi:
            return self.table(vi[name][0])  # the index IS its table
        if name in self._indexes:
            return self._indexes[name].docstore
        raise ValueError(f"unknown relation {name!r}")

    def explain(self, q: str) -> str:
        """Claimed-vs-residual EXPLAIN (reference EXPLAIN over an index
        relation renders IRESEARCH_SCAN with the claimed index filter
        tree and the residual column filter,
        tests/sqllogic/sdb/pg/explain/basic.test:7-13). Search-dialect
        statements render the split; plain SQL returns Spark's own
        extended plan text."""
        from serenedb_spark.plans import search_sql as SS
        from serenedb_spark.plans.dialect import rewrite_qualify
        from serenedb_spark.plans.explain import explain_search

        if not SS.has_search_construct(q):
            df = self.spark.sql(rewrite_qualify(q))
            return df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("extended"))
        td = SS.parse_ts_dict(q)
        if td is not None:
            return "\n".join([
                "TS_DICT_SCAN",
                f"  Index: {td.from_name}",
                f"  Field: {td.field}",
                "  Source: term_stats (no row access)",
                f"  Term Filter: {td.residual or 'none'}",
            ] + ([f"  Top-K: {td.limit}"] if td.limit is not None else []))
        from serenedb_spark.plans.search_join import (
            explain_multirel, needs_multirel)

        if needs_multirel(SS.tokenize(q.strip().rstrip(";"))):
            return explain_multirel(q, self._index_for)
        stmt = SS.parse_select(
            q, lambda tbl, col: self._index_for(tbl, col).analyzer(col))
        matches = []
        idx_name = stmt.from_name
        for col, node in stmt.matches:
            idx = self._index_for(stmt.from_name, col)
            idx_name = idx.name
            matches.append((col, node, idx.fields[col]))
        blocks = []
        if matches or not (stmt.vector_dist or stmt.vector_ranges):
            blocks.append(explain_search(
                idx_name, matches,
                projections=stmt.select_items,
                residual=stmt.residual,
                scorer=stmt.scorer, scorer_params=stmt.scorer_params,
                order=stmt.order, limit=stmt.limit))
        if stmt.vector_dist or stmt.vector_ranges:
            refs = ([stmt.vector_dist[:2]] if stmt.vector_dist else []) + [
                (c, m) for c, m, *_ in stmt.vector_ranges]
            col, metric = refs[0]
            lines = ["VECTOR_SCAN",
                     f"  Column: {col}",
                     f"  Metric: {metric}",
                     "  Strategy: exact (flat fallback; IVF via the "
                     "session ANN facade)"]
            for c, m, _qv, cmp, r in stmt.vector_ranges:
                lines.append(f"  Range: {c} {cmp} {r:g}")
            if stmt.limit is not None:
                lines.append(f"  Top-K: {stmt.limit}")
            blocks.append("\n".join(lines))
        return "\n".join(blocks)

    def _scalar_ts_lexize(self, q: str) -> DataFrame | None:
        """FROM-less ``SELECT ts_lexize('dict', 'text')`` (reference
        site_docs create_text_search_dictionary/*.test — the documented
        way to inspect an analyzer): literal args, evaluated through the
        dictionary's python tokenizer path, one row back under PG's
        function-name column."""
        from serenedb_spark.plans import search_sql as SS

        toks = SS.tokenize(q.strip().rstrip(";"))
        if (len(toks) < 7 or toks[0].upper != "SELECT"
                or toks[1].upper not in ("TS_LEXIZE", "TS_TOKENIZE")
                or toks[2].text != "("
                or toks[3].kind != "STR" or toks[4].text != ","
                or toks[5].kind != "STR" or toks[6].text != ")"):
            return None
        rest = toks[7:]
        alias = None
        if rest and rest[0].upper == "AS" and len(rest) == 2:
            alias = rest[1].text
        elif rest:
            return None
        from serenedb_spark.analysis.analyzers import get_analyzer

        name = alias or toks[1].text.lower()
        an = get_analyzer(toks[3].text[1:-1].replace("''", "'"))
        tokens = an.tokens(toks[5].text[1:-1].replace("''", "'"))
        return local_frame(self.spark, f"`{name}` array<string>",
                           [{name: list(tokens)}])

    def _inline_macros(self, expr_sql: str) -> str:
        """Substitute single-level scalar-macro calls with their bodies
        (param name → argument text): Spark refuses SQL UDF calls inside
        Generate, which is exactly where expression-index tokenization
        runs (drop_cascade_index_function.test)."""
        import re as _re

        out = expr_sql
        for mname, meta in self._macros_meta.items():
            if len(meta) < 3 or meta[1]:  # no body / table macro
                continue
            params = [p.strip().split()[0] for p in meta[0].split(",")
                      if p.strip()]
            pat = _re.compile(rf"\b{_re.escape(mname)}\s*\(([^()]*)\)",
                              _re.IGNORECASE)

            def repl(m, body=meta[2], params=params):
                args = [a.strip() for a in m.group(1).split(",")
                        if a.strip()]
                b = body
                for p, a in zip(params, args):
                    b = _re.sub(rf"\b{_re.escape(p)}\b", f"({a})", b)
                return f"({b})"

            out = pat.sub(repl, out)
        return out

    def _create_inverted_index_sql(self, ddl, internal: bool = False
                                   ) -> DataFrame:
        """CREATE INDEX ... USING inverted(col analyzer, plain_col) —
        analyzed columns become index fields, bare columns ride the
        docstore (covered), WHERE builds a partial index. A search-backed
        table carries its own implicit index, so explicit CREATE INDEX on
        one is refused exactly like the reference
        (search_table.test:205-216)."""
        if (not internal and self._storage.get(ddl.table)
                == "search"):
            raise ValueError(
                "CREATE INDEX on a search-backed table is not yet "
                "supported")
        if not internal:
            if "." in ddl.table and "." not in ddl.name:
                # indexes are schema-scoped: s1.idx and s2.idx coexist
                # (basic.test:512-517)
                ddl.name = f"{ddl.table.rsplit('.', 1)[0]}.{ddl.name}"
            if (ddl.name in self._indexes
                    or ddl.name in self._vector_indexes):
                if getattr(ddl, "if_not_exists", False):
                    return self._index_reply(ddl, "exists")
                raise ValueError(
                    f'Index with name "{ddl.name}" already exists!')
            if ddl.table in self._indexes:
                raise ValueError(
                    f'cannot open relation "{ddl.table}"\nDETAIL: This '
                    "operation is not supported for indexes.")
            try:
                src = self.table(ddl.table)
            except Exception:
                try:
                    src = self.spark.table(ddl.table)  # a session view
                except Exception:
                    # DuckDB-shaped missing-table error (basic.test:128)
                    raise ValueError(
                        f"Table with name {ddl.table} does not exist!"
                    ) from None
            cols = set(src.columns)
            dts = dict(src.dtypes)
            for c in list(ddl.fields) + list(ddl.includes or ()):
                if c in (ddl.exprs or {}):
                    continue
                if c not in cols:
                    if not cols:
                        # zero-column table (basic.test:540)
                        raise ValueError(
                            f'Referenced column "{c}" was not found '
                            "because the FROM clause is missing")
                    raise ValueError(
                        f'Referenced column "{c}" not found in FROM '
                        f"clause! Candidate bindings: "
                        + ", ".join(f'"{x}"' for x in sorted(cols)))
                dt = dts.get(c, "")
                if dt.startswith("decimal"):
                    # fixed-point values have no memcmp term encoding
                    # (basic.test:226-232)
                    pg = ("HUGEINT" if dt == "decimal(38,0)"
                          else dt.upper())
                    raise ValueError(
                        f"Column '{c}' has unsupported type {pg} and "
                        "can not be indexed")
            from serenedb_spark.analysis.analyzers import _REGISTRY
            tbl_schema = (ddl.table.rsplit(".", 1)[0]
                          if "." in ddl.table else None)
            for c, an_name in ddl.fields.items():
                if "." in an_name:
                    an_schema = an_name.rsplit(".", 1)[0]
                    if tbl_schema is not None and an_schema != tbl_schema:
                        # basic.test:505
                        raise ValueError(
                            "Accessing text dictionary from different "
                            "schema is not supported")
                if an_name not in _REGISTRY:
                    raise ValueError(
                        f"Unknown opclass '{an_name}' on column '{c}': "
                        "no text dictionary by that name in schema "
                        "'public'")
        if getattr(ddl, "vectors", None) and not ddl.fields:
            # vector-only index (full_text_search.test vecs_*): the ANN
            # method/options are declarative — the index name becomes a
            # queryable relation over the table, and pgvector operators
            # compute exact distances against it
            self._vector_indexes[ddl.name] = (ddl.table, dict(ddl.vectors))
            return self._index_reply(ddl, ",".join(
                f"{c} {o}" for c, o in ddl.vectors.items()))
        try:
            df = self.table(ddl.table)
        except KeyError:
            df = self.spark.table(ddl.table)  # a session view
        if ddl.where:
            df = df.where(F.expr(ddl.where))
        pk = self._pks.get(ddl.table)
        if pk in df.columns:
            key = pk  # reference search tables key the index on the PK
        else:
            key = "doc_id" if "doc_id" in df.columns else df.columns[0]
        include = [c for c in df.columns if c != key]
        fields = dict(ddl.fields)
        dtypes = dict(df.dtypes)
        for c in getattr(ddl, "includes", None) or ():
            # a bare STRING column in the USING list is indexed with the
            # exact-term analyzer (full_text_search.test docs_idx:
            # `category` matches via @@ without an analyzer spec); the
            # key column and non-strings stay stored-only
            if c != key and c not in fields \
                    and dtypes.get(c) in ("string", "array<string>"):
                # arrays index element-wise into the same field shape
                # as a scalar keyword column (ts_dict_list.test)
                fields[c] = "keyword"
            elif c not in fields and dtypes.get(c) in (
                    "int", "bigint", "smallint"):
                # numeric columns index their memcmp-encoded key so
                # range claims hit the dictionary (key_encoding.h;
                # full_text_search.test id @@ ts_between)
                fields[c] = "encoded_int"
            elif c not in fields and dtypes.get(c, "").startswith(
                    "timestamp"):
                # timestamps index epoch-micros keys for granular
                # range claims (filter_optimizer_boolean.test:323)
                fields[c] = "encoded_ts"
            elif c not in fields and dtypes.get(c) == "boolean":
                # booleans index their text form as keyword terms
                # (pg_catalog_data.test pg_cat_idx2 over b, c BOOLEAN)
                fields[c] = "keyword"
        if not fields and not getattr(ddl, "vectors", None):
            raise ValueError(
                "USING inverted requires at least one analyzed column")
        from serenedb_spark.plans.dialect import rewrite_ts_split
        exprs = {name: F.expr(rewrite_ts_split(self._inline_macros(e)))
                 for name, e in (getattr(ddl, "exprs", None) or {}).items()}
        old_segments = getattr(self._indexes.get(ddl.name), "_segments",
                               None)
        idx = build_index(df, fields, key=key, include=include,
                          name=ddl.name, exprs=exprs or None)
        # segment model: each refresh freezes a segment holding the
        # docs ADDED or REWRITTEN since the previous refresh (the
        # reference's mask+reinsert — an updated row's old copy stays
        # masked in its dirty segment while the fresh copy lands in a
        # clean one). ts_dict raw frequencies come from per-segment
        # stats: a term's segment contributes its RAW ctf only while it
        # still has a live latest-copy doc there
        # (ts_dict_deletes_matrix.test:300).
        if old_segments:
            prev_ids = None
            for ids_i, _p in old_segments:
                prev_ids = ids_i if prev_ids is None \
                    else prev_ids.unionByName(ids_i)
            prev_ids = prev_ids.distinct()
            new_ids = (df.select(F.col(key).alias("doc_id")).distinct()
                       .join(prev_ids, "doc_id", "left_anti"))
            dirty = self._dirty_rows.get(ddl.table)
            if dirty is not None:
                new_ids = new_ids.unionByName(
                    dirty.toDF("doc_id").distinct()).distinct()
            seg_post = idx.postings.join(new_ids, "doc_id", "left_semi")
            idx._segments = list(old_segments) + [(new_ids, seg_post)]
        else:
            idx._segments = [(df.select(F.col(key).alias("doc_id"))
                              .distinct(), idx.postings)]
        self._indexes[ddl.name] = idx
        # held only once the index it replaces is unreferenced and has
        # released its parts: the old docstore is a subtree of the new
        # plans, and releasing it after new parts were registered makes
        # Spark re-plan every one of them (~270 ms per refresh)
        idx.persist()
        self._index_sources[ddl.name] = ddl.table
        self._index_ddl[ddl.name] = ddl  # kept for VACUUM (REFRESH_TABLE)
        return self._index_reply(ddl, ",".join(
            f"{c} {a}" for c, a in ddl.fields.items()))

    def _index_reply(self, ddl, fields: str) -> DataFrame:
        return local_frame(
            self.spark, "index_name string, table_name string, fields string",
            [{"index_name": ddl.name, "table_name": ddl.table,
              "fields": fields}])

    def _tsdict_doc_ids(self, from_name: str, where_sql: str):
        """Evaluate a ts_dict doc-level WHERE to the matched doc-id set
        (ts_dict_doc_restricted.test): ``@@`` claims run through the
        search planner; plain predicates run on the relation directly."""
        from serenedb_spark.plans import search_sql as SS

        idx = self._indexes.get(from_name)
        key = idx.key if idx is not None else "doc_id"
        sub = f"SELECT {key} FROM {from_name} WHERE {where_sql}"
        if "@@" in where_sql or SS.has_search_construct(sub):
            stmt = SS.parse_select(
                sub, lambda t, c: self._index_for(t, c).analyzer(c))
            df = SS.execute_select(stmt, self._index_for,
                                   self._relation_for)
        else:
            df = self._plain_sql(sub)
        return df.select(F.col(df.columns[0]).alias("doc_id")).distinct()

    def _index_for(self, from_name: str, column: str):
        """Resolve the index serving `FROM from_name ... column @@ ...`:
        the reference queries the index relation directly (`FROM
        imdb_fts_idx`), so an index name wins; a table name falls back to
        any index built over it that serves the column."""
        idx = self._indexes.get(from_name)
        if idx is not None and column in idx.fields:
            return idx
        for name, ix in self._indexes.items():
            if (self._index_sources.get(name) == from_name
                    and column in ix.fields):
                return ix
        raise ValueError(
            f"no inverted index serves {from_name}.{column}; create one "
            f"with CREATE INDEX ... ON {from_name} USING "
            f"inverted({column} <analyzer>)")

    # ---- row-level security (reference optimizer/rbac.cpp: access
    # predicates injected at plan time, before anything else sees the rows)
    def set_row_policy(self, table: str, predicate) -> None:
        """Attach a row filter to a table: every subsequent `table()` access
        (and the temp view, so `sql()` too) sees only qualifying rows.
        `predicate` is a Column or a SQL string."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        self._row_policies[table] = pred
        # re-register the view so spark.sql() paths get the filter as well
        self._reregister(table)

    def drop_row_policy(self, table: str) -> None:
        self._row_policies.pop(table, None)
        self._reregister(table)

    # ---- column masking (reference rbac.cpp column privileges: columns a
    # role can't read are rewritten to masked expressions at plan time)
    def set_column_mask(self, table: str, column: str, mask) -> None:
        """Replace `column` with a mask expression on every access path
        (`table()` and the temp view). `mask` is a Column, a SQL string,
        or None for a NULL mask. Composes with a row policy on the same
        table — the policy filters FIRST (over unmasked values, like the
        reference applies access predicates before projection), then the
        mask rewrites the projection."""
        if mask is None:
            mask_col = F.lit(None)
        elif isinstance(mask, str):
            mask_col = F.expr(mask)
        else:
            mask_col = mask
        self._col_masks.setdefault(table, {})[column] = mask_col
        self._reregister(table)

    def drop_column_mask(self, table: str, column: str | None = None) -> None:
        masks = self._col_masks
        if table in masks:
            if column is None:
                masks.pop(table)
            else:
                masks[table].pop(column, None)
        self._reregister(table)

    def _apply_masks(self, table: str, df: DataFrame) -> DataFrame:
        for c, m in self._col_masks.get(table, {}).items():
            typ = dict(df.dtypes).get(c)
            df = df.withColumn(c, m.cast(typ) if typ else m)
        return df

    @staticmethod
    def _view_name(name: str) -> str:
        """Catalog keys may be schema-qualified (`s.t`, schema.test);
        Spark temp view names are single identifiers, so the dot mangles
        to `__` and _schema_rewrite maps SQL-text references over."""
        return name.replace(".", "__")

    def _enum_rewrite(self, q: str) -> str:
        """Definition-order enum semantics (plans/enums.py) over the
        constrained-string storage — applied to the plain-SQL path."""
        ec = self._enum_cols
        ety = self._enum_types
        if not ety:
            return q
        colmap: dict[str, list[str]] = {}
        for t, cols in ec.items():
            if t not in self._tables:
                continue
            for c, ty in cols.items():
                labs = ety.get(ty)
                if labs:
                    colmap.setdefault(c.lower(), labs)
        from serenedb_spark.plans.enums import rewrite_enums

        return rewrite_enums(q, colmap, ety)

    def _schema_rewrite(self, q: str) -> str:
        """`schema.table` references in SQL text → the mangled temp-view
        name, for every user schema (public/main are stripped by the
        statement door and never reach here as prefixes). Also resolves
        `query_table('name')` with a LITERAL argument to the relation
        itself (query_and_query_table_functions.test via EXECUTE)."""
        import re as _re

        q0 = q
        db = self._current_db
        sch = self._current_schema
        # current_query() echoes the statement as the client sent it —
        # terminated (functions-info.test:75)
        _echo = q0.strip()
        if not _echo.endswith(";"):
            _echo += ";"
        if _re.search(r"\bcurrent_(database|schema|query)\s*\(|"
                      r"\bpg_(client_encoding|get_userbyid|"
                      r"encoding_to_char|char_to_encoding|"
                      r"my_temp_schema|conf_load_time|current_xact_id|"
                      r"xact_status)\s*\(|\bcurrent_schemas\s*\(",
                      q, _re.IGNORECASE):
            # session introspection functions (use/index.test,
            # functions-info.test) — alias bare select items FIRST so
            # the literal keeps PG's column title, then substitute
            from serenedb_spark.plans.dialect import rewrite_bare_fn_alias

            if _re.search(r"\bpg_(current_xact_id|xact_status)\s*\(",
                          q, _re.IGNORECASE):
                raise ValueError(
                    "Function is not supported in SereneDB")

            # pg_typeof over a name/oid-returning info fn folds BEFORE
            # the fn itself would collapse to a string literal
            # (system_functions_types.test pg_typeof(...)::text = name)
            def _typeof_info(mm):
                val = mm.group(2) or ""
                before2 = q[:mm.start()].rstrip()
                after2 = q[mm.end():].lstrip()
                lit = ("'oid'" if "my_temp_schema"
                       in mm.group(1).lower() else "'name'")
                bare = (_re.search(r"(SELECT|,)\s*$", before2,
                                   _re.IGNORECASE)
                        and _re.match(r"($|,|;|FROM\b)", after2,
                                      _re.IGNORECASE))
                return (f"{lit}{val} AS pg_typeof" if bare
                        else f"{lit}{val}")
            q = _re.sub(
                r"pg_typeof\s*\(\s*(pg_client_encoding|"
                r"pg_get_userbyid|pg_encoding_to_char|"
                r"pg_my_temp_schema|current_user|session_user|"
                r"current_role)\s*(?:\([^()]*\))?\s*\)"
                r"(\s*::\s*\w+)?",
                lambda mm: _typeof_info(mm), q, flags=_re.IGNORECASE)
            q = rewrite_bare_fn_alias(q)
            q = _re.sub(r"\bcurrent_database\s*\(\s*\)", f"'{db}'", q,
                        flags=_re.IGNORECASE)
            live_b = self._search_path_live()
            sch_b = (f"'{live_b[0]}'" if live_b
                     else "CAST(NULL AS STRING)")
            q = _re.sub(r"\bcurrent_schema\s*\(\s*\)", sch_b, q,
                        flags=_re.IGNORECASE)
            live = self._search_path_live()
            q = _re.sub(
                r"\bcurrent_schemas\s*\(\s*true\s*\)",
                "'{" + ",".join(["pg_catalog"] + live) + "}'",
                q, flags=_re.IGNORECASE)
            q = _re.sub(
                r"\bcurrent_schemas\s*\(\s*false\s*\)",
                "'{" + ",".join(live) + "}'", q, flags=_re.IGNORECASE)
            q = _re.sub(
                r"\bcurrent_query\s*\(\s*\)",
                "'" + _echo.replace("'", "''") + "'",
                q, flags=_re.IGNORECASE)
            q = _re.sub(r"\bpg_client_encoding\s*\(\s*\)", "'UTF8'",
                        q, flags=_re.IGNORECASE)
            q = _re.sub(r"\bpg_encoding_to_char\s*\([^()]*\)", "'UTF8'",
                        q, flags=_re.IGNORECASE)
            q = _re.sub(r"\bpg_char_to_encoding\s*\([^()]*\)", "6", q,
                        flags=_re.IGNORECASE)
            q = _re.sub(r"\bpg_my_temp_schema\s*\(\s*\)", "0", q,
                        flags=_re.IGNORECASE)
            q = _re.sub(r"\bpg_conf_load_time\s*\(\s*\)",
                        "current_timestamp()", q, flags=_re.IGNORECASE)
        if _re.search(r"\b(search_path_canonical|in_search_path)\s*\(",
                      q, _re.IGNORECASE):
            canon = self._search_path_canonical()
            q = _re.sub(r"\bsearch_path_canonical\s*\(\s*\)",
                        f"'{canon}'", q, flags=_re.IGNORECASE)
            live = self._search_path_live()

            def _isp(mm):
                args = [a.strip().strip("'") for a in
                        mm.group(1).split(",")]
                ok = (len(args) == 2 and args[0] == db
                      and args[1] in live)
                val = ("true" if ok else "false") + (mm.group(2) or "")
                before2 = q[:mm.start()].rstrip()
                after2 = q[mm.end():].lstrip()
                if (_re.search(r"(SELECT|,)\s*$", before2,
                               _re.IGNORECASE)
                        and _re.match(r"($|,|;|FROM\b)", after2,
                                      _re.IGNORECASE)):
                    return f"{val} AS in_search_path"
                return val
            q = _re.sub(
                r"\bin_search_path\s*\(([^()]*)\)(\s*::\s*\w+)?",
                _isp, q, flags=_re.IGNORECASE)
        from serenedb_spark.plans.pg_info_fns import fold_info_functions
        q = fold_info_functions(self, q)
        # session-info KEYWORDS (functions-info.test: SELECT
        # current_schema / current_user / user / current_catalog).
        # PG reserved words — folded in every expression context, with
        # the PG output title added on bare select items. current_schema
        # is the FIRST LIVE search_path entry, NULL when none exists
        # (functions.test "current_schema IS NULL" after SET TO
        # nonexistent). `user` folds bare-only: it collides with
        # ordinary column names.
        live0 = self._search_path_live()
        sch_lit = f"'{live0[0]}'" if live0 else "CAST(NULL AS STRING)"
        for kw, lit, everywhere in (
                ("current_schema", sch_lit, True),
                ("current_catalog", f"'{db}'", True),
                ("current_user",
                 f"'{self.current_user or 'postgres'}'", True),
                ("current_role",
                 f"'{self.current_user or 'postgres'}'", True),
                ("session_user",
                 f"'{self.current_user or 'postgres'}'", True),
                ("user",
                 f"'{self.current_user or 'postgres'}'", False)):
            if not _re.search(rf"\b{kw}\b", q, _re.IGNORECASE):
                continue
            out2 = []
            pos2 = 0
            # literal spans: a keyword inside a string stays text
            spans = [(m2.start(), m2.end()) for m2 in
                     _re.finditer(r"'(?:[^']|'')*'", q)]
            for mm in _re.finditer(rf"(?<![\w.\"']){kw}(?![\w('])", q,
                                   _re.IGNORECASE):
                if any(a2 <= mm.start() < b2 for a2, b2 in spans):
                    continue
                before2 = q[:mm.start()].rstrip()
                if _re.search(r"\bAS$", before2, _re.IGNORECASE):
                    continue          # an alias, not a value reference
                after2 = q[mm.end():].lstrip()
                bare = (_re.search(r"(SELECT|,)\s*$", before2,
                                   _re.IGNORECASE)
                        and _re.match(r"($|,|;|FROM\b)", after2,
                                      _re.IGNORECASE))
                if bare:
                    out2.append(q[pos2:mm.start()])
                    out2.append(f"{lit} AS {kw}")
                    pos2 = mm.end()
                elif everywhere:
                    out2.append(q[pos2:mm.start()])
                    out2.append(lit)
                    pos2 = mm.end()
            out2.append(q[pos2:])
            q = "".join(out2)
        if _re.search(r"\bduckdb_functions\s*\(\s*\)", q,
                      _re.IGNORECASE):
            # the function-catalog TVF: session macros + the built-in
            # rows the suites probe (functions-info.test arg_max's
            # PG-style column1.. trailing parameter names)
            db2 = self._current_db
            rows = ["SELECT '" + db2 + "' AS database_name, "
                    "'arg_max' AS function_name, "
                    "'aggregate' AS function_type, "
                    "CAST(NULL AS STRING) AS macro_definition, "
                    "array('arg','val','column3') AS parameters"]
            for fname, meta in sorted(self._macros_meta.items()):
                params, is_table, *rest = meta
                body = rest[0] if rest else ""
                ftype = "table_macro" if is_table else "macro"
                if not is_table:
                    body = f"({body})"
                body = str(body).replace("'", "''")
                plist = ", ".join(
                    f"'{p.strip()}'" for p in str(params).split(",")
                    if p.strip())
                rows.append(
                    f"SELECT '{db2}', '{fname}', '{ftype}', "
                    f"'{body}', array({plist})")
            rel = "(" + " UNION ALL ".join(rows) + ") AS duckdb_functions"
            q = _re.sub(r"\bduckdb_functions\s*\(\s*\)", rel, q,
                        flags=_re.IGNORECASE)
        if _re.search(r"\bduckdb_logs\s*\(\s*\)", q, _re.IGNORECASE):
            # the LogManager buffer TVF (sdb_log.test): an empty
            # queryable shape — logs go to stdout in this engine
            q = _re.sub(
                r"\bduckdb_logs\s*\(\s*\)",
                "(SELECT CAST(NULL AS STRING) AS type, "
                "CAST(NULL AS STRING) AS log_level, "
                "CAST(NULL AS STRING) AS message WHERE false) "
                "AS duckdb_logs", q, flags=_re.IGNORECASE)

        for v in list(self._lazy_views):
            # a side-effecting (nextval) view body executes PER READ —
            # materialize just-in-time when the query references it
            if v in self._view_defs and _re.search(
                    rf"\b{_re.escape(v)}\b", q, _re.IGNORECASE):
                self.sql(self._view_defs[v]).createOrReplaceTempView(
                    self._view_name(v))
        if "query_table" in q.lower():
            q = _re.sub(
                r"query_table\s*\(\s*\(?\s*'([\w.]+)'\s*(?:::\s*\w+)?"
                r"\s*\)?\s*\)",
                lambda m: self._view_name(m.group(1)), q,
                flags=_re.IGNORECASE)
        for s in self._schemas:  # only user schemas
            if s in ("public", "main"):
                continue
            q = _re.sub(rf"\b{_re.escape(s)}\.(\w+)", rf"{s}__\1", q)
        # bare FROM-position names resolve through the search_path
        # (sdb/pg/system/schema.test: SET search_path TO s2 → bare `t`)
        if any(s not in ("public", "main")
               for s in self._search_path_live()):
            def _from_bare(mm):
                key = self.resolve_relation(mm.group(2))
                if "." in key:
                    s2, t2 = key.split(".", 1)
                    return f"{mm.group(1)} {s2}__{t2}"
                return mm.group(0)
            q = _re.sub(
                r"\b(FROM|JOIN|INTO|UPDATE|TABLE)\s+([A-Za-z_]\w*)"
                r"\b(?!\s*\()", _from_bare, q, flags=_re.IGNORECASE)
        if "information_schema" in self._raw_search_path():
            # search_path-qualified bare references to the SQL-standard
            # schema's relations (system/schema.test sql_parts)
            from serenedb_spark.pg_catalog_columns import COLUMNS

            named = []

            def _is_bare(mm):
                name = mm.group(1).lower()
                pref = f"information_schema_{name}"
                if (pref in COLUMNS
                        and not q[:mm.start()].rstrip().endswith(".")):
                    named.append(pref)
                    return pref
                return mm.group(1)
            q = _re.sub(r"(?<![\w.])(\w+)\b(?!\s*\()", _is_bare, q)
            if named:
                self.install_pg_catalog(*sorted(set(named)))
        return q

    def _reregister(self, table: str) -> None:
        df = self._tables[table]
        pred = self._row_policies.get(table)
        if pred is not None:
            df = df.where(pred)
        self._apply_masks(table, df).createOrReplaceTempView(
            self._view_name(table))
        # SQL-defined views capture the base DataFrame at creation:
        # re-resolve dependents so DML is visible through them
        # (drop_cascade_cross_schema.test reads a proxy view post-INSERT)
        if self._view_defs:
            self._refresh_dependent_views(table)

    # ---- indexing --------------------------------------------------------
    def create_index(
        self,
        table: str | DataFrame,
        fields: dict[str, str],
        key: str = "doc_id",
        include: list[str] | None = None,
        name: str | None = None,
    ) -> InvertedIndex:
        df = self.table(table) if isinstance(table, str) else table
        name = name or (table if isinstance(table, str) else "idx")
        idx = build_index(df, fields, key=key, include=include, name=name)
        self._indexes[name] = idx
        self._index_sources[name] = table if isinstance(table, str) else None
        return idx.persist()  # after any index it replaces is released

    # ---- search ----------------------------------------------------------
    def match(
        self, idx: InvertedIndex, query: tsq.TSQuery, field: str | None = None
    ) -> DataFrame:
        """doc ids matching `field @@ query` (unscored)."""
        field = field or idx.default_field()
        return compile_query(idx, field, query).doc_ids

    def search(
        self,
        idx: InvertedIndex,
        query: tsq.TSQuery,
        field: str | None = None,
        scorer: str | None = "bm25",
        limit: int | None = None,
        select: list[str] | None = None,
        round_score: int | None = 4,
        **scorer_params,
    ) -> DataFrame:
        """Late materialization: doc-id set → (optional) score → docstore join
        → top-k. Mirrors IRESEARCH_SCAN + scorer claim + top-k pushdown
        (reference iresearch_plan.cpp:466-533, 927-1014)."""
        from serenedb_spark.plans.planner import is_pure_disjunction

        field = field or idx.default_field()
        compiled = compile_query(idx, field, query)
        docs = compiled.doc_ids

        s = None
        if scorer is not None:
            s = _score(idx, field, compiled.score_terms, scorer, **scorer_params)
            if is_pure_disjunction(query):
                # scorer-reuse rewrite (iresearch_plan.cpp:819): the score
                # relation's keys are exactly the match set — drop the
                # separate match branch
                docs = s.select("doc_id")

        cols = select if select is not None else idx.docstore.columns
        out = idx.docstore.join(docs, "doc_id", "left_semi").select(*cols)

        if s is not None:
            sc = F.col("score")
            if round_score is not None:
                sc = F.round(sc, round_score)
            out = out.join(s, "doc_id", "left").select(
                *cols, F.coalesce(sc, F.lit(0.0)).alias("score")
            )
            out = out.orderBy(F.col("score").desc(), F.col("doc_id"))
        if limit is not None:
            out = out.limit(limit)
        return out

    # ---- the wider operator surface (one facade, reference §3 lifecycle) --
    def es_search(self, idx: InvertedIndex, body: dict, **kw) -> DataFrame:
        """ES query-DSL search (the /{index}/_search route)."""
        from serenedb_spark.plans.es_dsl import es_search as _es

        return _es(idx, body, **kw)

    def facets(self, idx: InvertedIndex, field: str | None = None,
               top_n: int | None = None) -> DataFrame:
        """ts_dict_* term-dictionary aggregates."""
        from serenedb_spark.operators import facets as FC

        if top_n is not None:
            return FC.ts_dict_top(idx, top_n, field)
        return FC.ts_dict(idx, field)

    def knn(self, table: str | DataFrame, vec_col: str, query_vec,
            k: int = 10, metric: str = "cosine", id_col: str = "vec_id") -> DataFrame:
        from serenedb_spark.operators.similarity import knn_exact

        df = self.table(table) if isinstance(table, str) else table
        return knn_exact(df, vec_col, query_vec, k=k, metric=metric,
                         id_col=id_col)

    def create_ann_index(self, table: str | DataFrame,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         nlist: int | None = None,
                         quant: str | None = None,
                         metric: str = "cosine"):
        """CREATE INDEX USING ivf [quant=sq8] (reference ivf opclass).
        The SET variables supply the session defaults: nlist derives
        from sdb_ivf_posting_size (target rows per posting list) when
        not given, and the KMeans fit samples ~nlist ×
        sdb_ivf_sample_factor rows — full-corpus training does not
        survive 100 TB. Returns the IVFIndex, which carries its quantizer."""
        from serenedb_spark.operators import similarity as SIM

        df = self.table(table) if isinstance(table, str) else table
        if nlist is None:
            psize = self.show_variable("sdb_ivf_posting_size")
            if psize > 0:
                nlist = max(1, -(-df.count() // psize))
            else:
                nlist = 16
        factor = self.show_variable("sdb_ivf_sample_factor")
        return SIM.ivf_build(df, vec_col, id_col, nlist=nlist, metric=metric,
                             train_sample_factor=factor or None, quant=quant)

    def ann_search(self, index, query_vec, k: int = 10,
                   nprobe: int | None = None,
                   rerank_factor: int | None = None) -> DataFrame:
        """Probe an ANN index from create_ann_index; nprobe defaults to
        SET sdb_nprobe, the SQ8 rerank width to SET sdb_rerank_factor."""
        from serenedb_spark.operators import similarity as SIM

        return SIM.ivf_search(
            index, query_vec, k=k,
            nprobe=nprobe or self.show_variable("sdb_nprobe"),
            rerank_factor=(rerank_factor
                           or self.show_variable("sdb_rerank_factor")))

    def dedup(self, table: str | DataFrame, method: str = "exact",
              text_col: str = "text", id_col: str = "doc_id", **kw) -> DataFrame:
        from serenedb_spark.operators import dedup as DD

        df = self.table(table) if isinstance(table, str) else table
        if method == "exact":
            return DD.exact_dedup_keep(df, text_col, id_col)
        if method == "minhash":
            return DD.minhash_lsh_pairs(df, text_col, id_col, **kw)
        if method == "jaccard":
            return DD.jaccard_pairs(df, text_col, id_col, **kw)
        if method == "simhash":
            return DD.simhash_dedup(df, text_col, id_col, **kw)
        raise ValueError(f"unknown dedup method {method!r}")

    def search_table(self, table: str | DataFrame, fields: dict[str, str],
                     key: str = "doc_id"):
        """A DML-capable indexed table (the `storage='search'` engine)."""
        from serenedb_spark.operators.maintenance import SearchTable

        df = self.table(table) if isinstance(table, str) else table
        return SearchTable(df, fields, key=key)

    def describe(self, table: str | DataFrame) -> DataFrame:
        """SUMMARIZE/DESCRIBE analogue."""
        df = self.table(table) if isinstance(table, str) else table
        return df.summary()

    # ---- pg_catalog shim (reference ships full pg_catalog for psql;
    # the library-engine subset is INTROSPECTION: what tables/columns/
    # indexes exist, in PG's shapes, as queryable views)
    def resolve_relation(self, name: str) -> str:
        """Bare relation name → its catalog key through the search_path
        (sdb/pg/system/schema.test: after SET search_path TO s2, a bare
        `t` means s2.t)."""
        if (name in self._tables
                or name in self._view_defs):
            return name
        for s in self._search_path_live():
            if s in ("public", "main"):
                continue
            key = f"{s}.{name}"
            if (key in self._tables
                    or key in self._view_defs):
                return key
        return name

    def _raw_search_path(self) -> str:
        return self._pg_vars_store["search_path"]

    def _search_path_live(self) -> list[str]:
        """search_path entries that NAME EXISTING schemas — what
        current_schemas()/search_path_canonical() expose
        (any/pg/system/functions.test: a SET to a nonexistent schema is
        accepted but filtered from the live view)."""
        from serenedb_spark.plans.statements import _split_search_path

        sp = self._pg_vars_store["search_path"]
        db = self._current_db
        known = self._schemas
        out = []
        for p in _split_search_path(sp):
            head, _, tail = p.rpartition(".")
            if head and head.strip('"') not in (db, "postgres"):
                continue            # another catalog's schema
            p = tail.strip('"')
            if p == "$user":
                p = self.current_user or ""
            if p in known and p not in out:
                out.append(p)
        return out

    def _search_path_canonical(self) -> str:
        """Catalog-qualified display of the FULL path — $user resolved,
        nonexistent entries kept (functions.test search_path_canonical
        blocks)."""
        from serenedb_spark.plans.statements import _split_search_path

        sp = self._pg_vars_store["search_path"]
        db = self._current_db
        parts = []
        for p in _split_search_path(sp):
            head, _, tail = p.rpartition(".")
            if tail.strip('"') == "$user":
                tail = self.current_user or "postgres"
            if not head or head.strip('"') in (db, "postgres"):
                # 'postgres' is the connection-default catalog alias
                head = db
            parts.append(f"{head}.{tail}")
        return ", ".join(parts)

    def install_pg_catalog(self, *names: str) -> None:
        """Register the named pg_catalog / information_schema / sdb_*
        relations (every declared one when none is named), each built
        now from the current catalog state at its full PG shape
        (pg_catalog.py)."""
        from serenedb_spark import pg_catalog

        pg_catalog.register(self, names or sorted(pg_catalog.COLUMNS))

    #: PG type-name → pg_type oid (the real PG oids, so ports of catalog
    #: SQL that hard-code them — BI tools do — resolve correctly)
    _PG_TYPE_OIDS = {
        "boolean": 16, "bytea": 17, "bigint": 20, "smallint": 21,
        "integer": 23, "text": 25, "real": 700, "double precision": 701,
        "character varying": 1043, "date": 1082,
        "timestamp without time zone": 1114, "numeric": 1700,
        "integer[]": 1007, "text[]": 1009, "bigint[]": 1016,
        "double precision[]": 1022, "real[]": 1021,
    }

    def relid(self, name: str) -> int | None:
        """'name'::regclass — the oid pg_class assigns to a relation
        (user oids start at 16384, enumeration order: sorted tables,
        then insertion-ordered indexes)."""
        rels = (sorted(self._tables) + list(self._indexes)
                + sorted(self.sequences._seqs)
                + sorted(self._view_defs)
                + sorted(self._secondary_indexes))
        return 16384 + rels.index(name) if name in rels else None

    def _index_relations(self) -> list:
        """Every index-kind relation the catalog exposes, one unified
        enumeration shared by pg_class / pg_index / pg_indexes
        (constraint_index_catalog.test): PK and UNIQUE-constraint
        backing indexes, plain/unique secondary indexes, and inverted
        indexes. Rows: (name, table, cols, is_unique, is_primary,
        analyzer, fields_csv)."""
        out = []
        for t, col in sorted(self._pks.items()):
            cols = list(col) if isinstance(col, tuple) else [col]
            name = self._pk_names.get(t) or f"{t}_pkey"
            out.append((name, t, cols, True, True, "", ",".join(cols)))
        for t, ucols in sorted(self._uq_names.items()):
            for c, uname in sorted(ucols.items()):
                out.append((uname, t, [c], True, False, "", c))
        uq_constraint_names = {
            n for ucols in self._uq_names.values()
            for n in ucols.values()}
        for iname, (t, c) in sorted(self._unique_indexes.items()):
            if iname not in uq_constraint_names:
                out.append((iname, t, [c], True, False, "", c))
        for iname, (t, cols) in sorted(self._secondary_indexes.items()):
            out.append((iname, t, list(cols), False, False, "",
                        ",".join(cols)))
        for name, idx in self._indexes.items():
            out.append((name, self._index_sources.get(name, ""),
                        list(idx.fields), False, False,
                        idx.fields.get(next(iter(idx.fields))),
                        ",".join(idx.fields)))
        return out

    def _index_oid(self, name: str) -> int:
        """Stable oid for an index relation: relid() when the name is a
        first-class catalog object (inverted/secondary indexes), else a
        synthetic 20000+ oid for constraint-backing indexes — the SAME
        function feeds pg_class and pg_index so their join holds."""
        rid = self.relid(name)
        if rid is not None:
            return rid
        names = sorted(r[0] for r in self._index_relations())
        return 20000 + names.index(name) if name in names else 0

    # ---- role model (PG CREATE ROLE attribute surface + membership
    # graph; reference any/pg/rbac/ attributes.test, catm_*.test).
    # _role_attrs: name → attribute dict; _role_members: (role, member)
    # → edge dict. Both live in _TXN_STATE so GRANT/CREATE ROLE inside
    # a block roll back, and in _SHARED_STATE so logins on attached
    # connections see them.
    _ROLE_DEFAULTS = {
        "super": False, "inherit": True, "createrole": False,
        "createdb": False, "canlogin": False, "replication": False,
        "bypassrls": False, "connlimit": -1, "password": None,
        "validuntil": None,
    }

    def role_attrs(self) -> dict:
        ra = self._role_attrs
        # roles in the legacy _roles set and principals granted through
        # the API (the pre-v2 pg_roles listed granted principals)
        # surface with default attributes. The public/PUBLIC pseudo-role
        # is never a pg_roles row (Postgres keeps it implicit), and a
        # principal whose grant sets have all been revoked (empty dict
        # entries linger after revoke()) is not a role either.
        grants = self._grants
        col_grants = self._col_grants
        # {principal: {table: set(privs)}} / {principal: {table: {priv:
        # set(cols)}}} — revoke() leaves empty leaves behind, so walk to
        # a non-empty leaf before counting a principal as granted
        granted = {r for r, g in grants.items()
                   if any(privs for privs in g.values())}
        granted |= {r for r, g in col_grants.items()
                    if any(cols for tbl in g.values()
                           for cols in tbl.values())}
        for r in (*self._roles, *sorted(granted)):
            if r not in ra and r.lower() != "public":
                ra[r] = dict(self._ROLE_DEFAULTS, oid=self._next_oid())
        return ra

    def _next_oid(self) -> int:
        """Monotonic oid allocator shared across attached sessions —
        pg_auth_members.oid must be UNIQUE across membership edges
        (catm_authmembers_oid_unique.test)."""
        store = self._shared_store
        holder = store if store is not None else self.__dict__
        nxt = holder.get("_oid_seq", 16384)
        holder["_oid_seq"] = nxt + 1
        if store is not None:
            self.__dict__["_oid_seq"] = nxt + 1
        return nxt

    def role_oid(self, name: str) -> int | None:
        a = self.role_attrs().get(name)
        return a.get("oid") if a else None

    def login(self, user: str, password: str | None = None) -> None:
        """Authenticate a connection as `user` (sqllogic `connection cN
        user=x password=y`): the role must exist, hold LOGIN, and match
        the stored password — PG's exact refusal texts."""
        a = self.role_attrs().get(user)
        if a is None:
            raise PermissionError(
                f'role "{user}" does not exist')
        if not a.get("canlogin"):
            raise PermissionError(
                f'role "{user}" is not permitted to log in')
        stored = a.get("password")
        if stored is not None and stored != password:
            raise PermissionError(
                f'password authentication failed for user "{user}"')
        self.set_user(user)
        self._session_user = user

    def _is_superuser(self, role: str | None) -> bool:
        if role is None or role == "postgres":
            return True
        a = self.role_attrs().get(role)
        return bool(a and a.get("super"))

    def _member_of(self, role: str, *, inherit_only: bool = False
                   ) -> set:
        """Transitive closure of roles `role` is a member of.
        inherit_only follows edges only through members whose INHERIT
        attribute is set (privilege inheritance, PG's roles_is_member_of
        vs has_privs_of_role split)."""
        ra = self.role_attrs()
        rm = self._role_members
        out: set = set()
        frontier = [role]
        while frontier:
            m = frontier.pop()
            if inherit_only and not ra.get(m, {}).get("inherit", True):
                continue
            for (r, mem) in rm:
                if mem == m and r not in out:
                    out.add(r)
                    frontier.append(r)
        return out

    def pg_has_role(self, member: str, role: str,
                    mode: str = "MEMBER") -> bool:
        if member == role or self._is_superuser(member):
            return True
        closure = self._member_of(
            member, inherit_only=mode.upper() in ("USAGE",))
        return role in closure

    def _privilege_principals(self, user: str) -> set:
        """The principals whose grants `user` can exercise: itself,
        PUBLIC, and every role it inherits membership from."""
        return {user, "public", "PUBLIC"} | self._member_of(
            user, inherit_only=True)

    def _table_owner(self, table: str) -> str:
        return self._owners.get(table, "postgres")

    def has_table_privilege(self, principal: str, table: str,
                            privilege: str = "SELECT") -> bool:
        """PG has_table_privilege over the session GRANT state —
        superuser and owner hold everything; membership inherits."""
        if self._is_superuser(principal) or \
                self._table_owner(table) == principal:
            return True
        grants = self._grants
        return any(
            privilege.upper() in grants.get(p, {}).get(table, set())
            for p in self._privilege_principals(principal))

    def has_column_privilege(self, principal: str, table: str,
                             column: str,
                             privilege: str = "SELECT") -> bool:
        """PG has_column_privilege: table-level privilege satisfies all
        columns, else the per-column grant; a masked column is one the
        role cannot read in the clear (reference rbac.cpp)."""
        if column in self._col_masks.get(table, {}) \
                and not self._is_superuser(principal):
            return False
        if self.has_table_privilege(principal, table, privilege):
            return True
        cg = self._col_grants
        return any(
            column in cg.get(p, {}).get(table, {}).get(
                privilege.upper(), set())
            for p in self._privilege_principals(principal))

    # ---- GRANT/REVOKE (reference rbac.cpp + pg GRANT grammar): a
    # principal model enforced at the catalog boundary. Privileges are
    # per (principal, table); `current_user` scopes enforcement; row
    # policies and column masks can be attached per principal so
    # different users see different slices of the same relation.
    def grant(self, principal: str, table: str,
              privilege: str = "SELECT") -> None:
        g = self._grants
        g.setdefault(principal, {}).setdefault(table, set()).add(
            privilege.upper())

    def revoke(self, principal: str, table: str,
               privilege: str = "SELECT") -> None:
        self._grants.get(principal, {}).get(
            table, set()).discard(privilege.upper())

    def set_user(self, principal: str | None) -> None:
        """None = superuser (no enforcement — the default, so existing
        single-user flows are unchanged)."""
        self._current_user = principal

    @property
    def current_user(self) -> str | None:
        return self._current_user

    def _check_privilege(self, table: str, privilege: str,
                         columns=None) -> None:
        """PG ExecCheckOneRelPerms: relation-level privilege satisfies
        everything; else every referenced column must hold a per-column
        grant. `columns` is the set the statement touches (None = the
        caller couldn't resolve columns — any relation- or column-level
        grant of the privilege passes)."""
        if privilege.upper() != "SELECT" and self._txn_read_only:
            # BEGIN READ ONLY (transaction_control.test) — the
            # reference's exact store wording
            raise ValueError(
                'Cannot write to database "__sdb_store" - transaction '
                "is launched in read-only mode")
        u = self.current_user
        if u is None or self._is_superuser(u) or \
                self._table_owner(table) == u:
            return
        priv = privilege.upper()
        grants = self._grants
        principals = self._privilege_principals(u)
        if any(priv in grants.get(p, {}).get(table, set())
               for p in principals):
            return
        cg = self._col_grants
        granted_cols: set = set()
        for p in principals:
            granted_cols |= cg.get(p, {}).get(table, {}).get(priv,
                                                             set())
        if granted_cols and (
                (columns is not None and set(columns) <= granted_cols)
                or (columns is None)):
            return
        raise PermissionError(
            f"permission denied for table {table}")

    def _check_read_columns(self, table: str, columns) -> None:
        """Charge SELECT on every referenced column (PG charges the
        read on each column the statement mentions, wherever it
        appears — agg_column_enforcement.test). An empty column set
        (count(*)) still needs SELECT on the relation or on at least
        one column."""
        self._check_privilege(table, "SELECT",
                              columns=set(columns))

    def _enforce_statement_reads(self, q: str) -> None:
        """SQL-door read enforcement for a non-superuser session: every
        catalog table named in the statement is charged SELECT on each
        of its columns the text references (PG parse-analyze charges
        columns wherever they appear: projection, WHERE, GROUP BY,
        window frames — ExecCheckOneRelPerms). Resolution is lexical
        over the statement body with string literals stripped; `*`
        outside count(*) references every column."""
        u = self.current_user
        if u is None or self._is_superuser(u):
            return
        import re as _re

        body = _re.sub(r"'(?:[^']|'')*'", " ", q)
        body = _re.sub(r"--[^\n]*", " ", body)
        words = {w.lower() for w in
                 _re.findall(r"[A-Za-z_][A-Za-z0-9_]*", body)}
        # superuser-only catalogs (PG revokes PUBLIC on them):
        # password hashes, stored column values, fdw credentials
        # (cat_authid_shadow_superuser_only.test,
        # cat_superuser_only_catalogs.test)
        for t in ("pg_authid", "pg_shadow", "pg_largeobject",
                  "pg_statistic", "pg_statistic_ext_data",
                  "pg_user_mapping"):
            if t in words:
                raise PermissionError(
                    f"permission denied for table {t}")
        # a `*` that is a projection wildcard (not count(*)/aggregate)
        nb = _re.sub(r"\bcount\s*\(\s*\*\s*\)", " ", body,
                     flags=_re.IGNORECASE)
        wildcard = _re.search(r"(?:\bSELECT|,|\.)\s*\*", nb,
                              _re.IGNORECASE) is not None
        for t in self._tables:
            tl = t.lower()
            if tl not in words and tl.split(".")[-1] not in words:
                continue
            cols = [c.lower() for c in self._tables[t].columns]
            refd = (set(cols) if wildcard
                    else {c for c in cols if c in words})
            self._check_read_columns(t, refd)

    # ---- ALTER TABLE surgery (reference ddl/alter_*.test: add/rename/
    # drop column, set default, struct-field surgery). A library engine
    # alters the CATALOG RELATION (the registered DataFrame + temp view);
    # persisting the altered shape is an explicit save — the same split
    # as a lakehouse metadata-only ALTER followed by a rewrite.
    def alter_add_column(self, table: str, name: str, expr,
                         default=None) -> None:
        """ADD COLUMN name AS expr (a Column or SQL string); `default`
        instead of `expr` adds a constant column (SET DEFAULT shape).
        Under SET sdb_strict_ddl = on, adding a column that already
        exists is an ERROR (PG semantics) instead of withColumn's silent
        replace."""
        if (self.show_variable("sdb_strict_ddl")
                and name in self._tables[table].columns):
            raise ValueError(
                f"column {name!r} of {table!r} already exists "
                "(sdb_strict_ddl = on)")
        if expr is None:
            col = F.lit(default)
            self.alter_set_default(table, name, default)
        elif isinstance(expr, str):
            col = F.expr(expr)
        else:
            col = expr
        self._tables[table] = self._tables[table].withColumn(name, col)
        self._reregister(table)

    def alter_add_column_serial(self, table: str, name: str,
                                sequence: str) -> None:
        """ADD COLUMN with a SEQUENCE DEFAULT (reference
        alter_add_column_sequence_default.test): every existing row gets
        the next value from the named sequence — one block reservation,
        distributed assignment (operators/sequences.assign)."""
        self._tables[table] = self.sequences.assign(
            self._tables[table], sequence, name)
        self._reregister(table)

    def alter_set_default(self, table: str, column: str, value) -> None:
        """ALTER TABLE ... ALTER COLUMN ... SET DEFAULT (reference
        ddl/alter_set_default.test): recorded in the catalog
        (pg_attrdef) and applied by insert() when the column is absent
        from the incoming rows."""
        d = self._col_defaults
        d.setdefault(table, {})[column] = value

    # ---- foreign keys (reference dml/foreign_key.test): declarative
    # registration + set-based validation. A library engine can't block
    # row-at-a-time like PG's per-insert trigger; the honest distributed
    # equivalent is VALIDATE CONSTRAINT — one anti-join over the
    # referenced key, which is also the only shape that scales.
    def add_foreign_key(self, table: str, column: str, ref_table: str,
                        ref_column: str, name: str | None = None,
                        validate: bool = True) -> None:
        """ADD FOREIGN KEY; with validate=True (PG default) the existing
        rows are checked immediately and a violation raises."""
        fks = self._fks
        cname = name or f"{table}_{column}_fkey"
        fks[cname] = (table, column, ref_table, ref_column)
        if validate:
            bad = self.validate_foreign_key(cname).limit(1).count()
            if bad:
                fks.pop(cname)
                raise ValueError(
                    f"foreign key {cname}: rows in {table}.{column} "
                    f"without a match in {ref_table}.{ref_column}")

    def validate_foreign_key(self, name: str) -> DataFrame:
        """Rows of the referencing table violating the named FK (empty =
        valid): anti-join on the referenced key, NULLs pass (PG MATCH
        SIMPLE)."""
        table, column, ref_table, ref_column = self._fks[name]
        left = self._tables[table].where(F.col(column).isNotNull())
        right = self._tables[ref_table].select(
            F.col(ref_column).alias(column)).distinct()
        return left.join(right, column, "left_anti")

    def comment_on(self, obj: str, comment: str | None) -> None:
        """COMMENT ON (reference ddl/comment.test); None removes it."""
        c = self._comments
        if comment is None:
            c.pop(obj, None)
        else:
            c[obj] = comment

    def get_comment(self, obj: str) -> str | None:
        return self._comments.get(obj)

    def alter_rename_column(self, table: str, old: str, new: str) -> None:
        """RENAME COLUMN migrates every column-scoped catalog store, as
        _rename_table does for table-scoped ones: PK/NOT NULL/UNIQUE
        membership, column DEFAULTs, CHECK and GENERATED expressions
        (rewritten word-boundary when stored as SQL text; a Column-object
        CHECK referencing the column is refused honestly), FK endpoints,
        column masks, and column comments."""
        import re as _re

        word = _re.compile(rf"\b{_re.escape(old)}\b")

        def rewrite(expr: str) -> str:
            return word.sub(new, expr)

        checks = self._checks.get(table, {})
        for cname, pred in checks.items():
            if not isinstance(pred, str) and word.search(str(pred)):
                raise ValueError(
                    f'cannot rename column "{old}": check constraint '
                    f'"{cname}" references it and was registered as a '
                    "Column object; drop the constraint first")
        self._tables[table] = self._tables[table].withColumnRenamed(old, new)
        pks = self._pks
        if pks.get(table) == old:
            pks[table] = new
        elif isinstance(pks.get(table), tuple):
            pks[table] = tuple(new if c == old else c for c in pks[table])
        for store in ("_not_null", "_uniques"):
            s = getattr(self, store, {}).get(table)
            if s and old in s:
                s.discard(old)
                s.add(new)
        d = self._col_defaults.get(table)
        if d and old in d:
            d[new] = d.pop(old)
        for store in ("_nn_names", "_uq_names", "_enum_cols",
                      "_composite_cols"):
            dd = getattr(self, store, {}).get(table)
            if dd and old in dd:
                dd[new] = dd.pop(old)
        gen = self._generated.get(table)
        if gen:
            self._generated[table] = {
                (new if c == old else c): rewrite(e)
                for c, e in gen.items()}
        for cname, pred in list(checks.items()):
            if isinstance(pred, str):
                checks[cname] = rewrite(pred)
        fks = self._fks
        for cname, (t, col, rt, rc) in list(fks.items()):
            if t == table and col == old:
                col = new
            if rt == table and rc == old:
                rc = new
            fks[cname] = (t, col, rt, rc)
        masks = self._col_masks.get(table)
        if masks and old in masks:
            masks[new] = masks.pop(old)
        comments = self._comments
        if f"{table}.{old}" in comments:
            comments[f"{table}.{new}"] = comments.pop(f"{table}.{old}")
        ui = self._unique_indexes
        for iname, (t, col) in list(ui.items()):
            if t == table and col == old:
                ui[iname] = (t, new)
        self._reregister(table)

    def alter_drop_column(self, table: str, name: str) -> None:
        self._tables[table] = self._tables[table].drop(name)
        self._reregister(table)

    def alter_set_not_null(self, table: str, name: str,
                           constraint_name: str | None = None) -> None:
        """SET NOT NULL: validates now (errors if any NULL present) and
        installs a row policy-style guarantee by filtering is unsound —
        the reference REJECTS the alter when data violates it; so do we."""
        n = self._tables[table].where(F.col(name).isNull()).limit(1).count()
        if n:
            raise ValueError(
                f"column {name!r} of {table!r} contains NULLs; "
                "SET NOT NULL rejected"
            )
        meta = self._not_null
        meta.setdefault(table, set()).add(name)
        self._not_null = meta
        if constraint_name is not None:
            nn = self._nn_names
            nn.setdefault(table, {})[name] = constraint_name

    def alter_struct_field(self, table: str, column: str, field: str,
                           expr) -> None:
        """Struct-field surgery: replace/add one field inside a struct
        column (reference alter_struct_*.test) via withField."""
        col = F.expr(expr) if isinstance(expr, str) else expr
        self._tables[table] = self._tables[table].withColumn(
            column, F.col(column).withField(field, col)
        )
        self._reregister(table)

    def alter_drop_struct_field(self, table: str, column: str,
                                field: str) -> None:
        self._tables[table] = self._tables[table].withColumn(
            column, F.col(column).dropFields(field)
        )
        self._reregister(table)

    # ---- catalog DML with constraint enforcement (reference
    # add_column_constraints.test / alter_add_primary_key.test /
    # drop_cascade_check_constraints.test): the session holds the mutable
    # table state; INSERT/UPDATE/DELETE validate PK, CHECK and NOT NULL
    # before the new state becomes visible (all-or-nothing, like the
    # reference's transactional DML)
    def set_primary_key(self, table: str, column,
                        constraint_name: str | None = None) -> None:
        """ALTER TABLE ADD PRIMARY KEY: validates existing uniqueness
        first (rejects like the reference when data violates it); a
        second PK is refused (alter_add_pk_unique.test). ``column`` is a
        single name or a list/tuple for a composite key
        (update_pk.test multi_pk: PRIMARY KEY(a, b))."""
        if isinstance(column, (list, tuple)):
            column = column[0] if len(column) == 1 else tuple(column)
        cur = self._pks.get(table)
        if cur is not None and cur != column:
            raise ValueError(
                f'multiple primary keys for table "{table}" are not '
                "allowed")
        cols = list(column) if isinstance(column, tuple) else [column]
        dup = (
            self._tables[table].groupBy(*cols).count()
            .where(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"cannot add primary key: duplicate {cols}="
                f"{tuple(dup[0][:len(cols)])!r} in {table}"
            )
        pk = self._pks
        pk[table] = column
        if constraint_name is not None:
            pn = self._pk_names
            pn[table] = constraint_name

    def add_check(self, table: str, name: str, predicate) -> None:
        """ALTER TABLE ADD CONSTRAINT ... CHECK: validates existing rows
        (rejects on violation), then enforces on every future insert."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        bad = (
            self._tables[table]
            .where(~F.coalesce(pred, F.lit(False))).limit(1).collect()
        )
        if bad:
            raise ValueError(
                f"check constraint {name!r} violated by existing rows"
            )
        checks = self._checks
        # SQL-text predicates are stored as TEXT so RENAME COLUMN can
        # rewrite them; Column predicates keep the object
        checks.setdefault(table, {})[name] = predicate

    def drop_check(self, table: str, name: str,
                   if_exists: bool = False) -> None:
        """ALTER TABLE DROP CONSTRAINT — any constraint kind by name:
        CHECK, UNIQUE, FK, NOT NULL, PK (constraint_index_catalog.test
        drops life_uq2/life_fk2 after renames)."""
        import re as _re

        checks = self._checks.get(table, {})
        if name in checks:
            checks.pop(name)
            return
        uq = self._uq_names.get(table, {})
        for c, n in list(uq.items()):
            if n == name:
                uq.pop(c)
                self._uniques.get(table, set()).discard(c)
                ui = self._unique_indexes
                for iname, (t, cc) in list(ui.items()):
                    if t == table and cc == c:
                        ui.pop(iname, None)
                return
        fks = self._fks
        if name in fks and fks[name][0] == table:
            del fks[name]
            return
        nn = self._nn_names.get(table, {})
        for c, n in list(nn.items()):
            if n == name:
                nn.pop(c)
                self._not_null.get(
                    table, set()).discard(c)
                return
        m = _re.match(rf"^{_re.escape(table)}_(\w+)_not_null$", name)
        if m and m.group(1) in self._not_null.get(table, set()):
            self._not_null[table].discard(m.group(1))
            return
        if self._pk_names.get(table) == name \
                or (name == f"{table}_pkey"
                    and table in self._pks):
            self._pks.pop(table, None)
            self._pk_names.pop(table, None)
            return
        if not if_exists:
            raise ValueError(
                f'constraint "{name}" of relation "{table}" does not '
                "exist")

    def add_unique(self, table: str, column: str,
                   name: str | None = None,
                   constraint: bool = True) -> None:
        """CREATE UNIQUE INDEX / UNIQUE constraint: validates existing
        data, then enforces on every write like a PK
        (constraints_with_index.test). ``constraint=False`` marks a
        unique INDEX, which PG does NOT list in pg_constraint
        (constraint_index_catalog.test)."""
        dup = (self._tables[table].where(F.col(column).isNotNull())
               .groupBy(column).count().where(F.col("count") > 1)
               .limit(1).collect())
        if dup:
            raise ValueError(
                f"cannot create UNIQUE index: duplicate "
                f"{column}={dup[0][0]!r} in {table}")
        u = self._uniques
        u.setdefault(table, set()).add(column)
        if name is not None:
            ui = self._unique_indexes
            ui[name] = (table, column)
        if constraint:
            uc = self._uq_names
            uc.setdefault(table, {})[column] = (
                name or f"{table}_{column}_key")

    def _validate_rows(self, table: str, rows: DataFrame,
                       mode: str = "insert",
                       full_state: DataFrame | None = None) -> None:
        """Constraint gate for DML. `rows` are the new/changed rows; for
        mode="update" the caller also passes the FULL post-update state
        so uniqueness (PK included) is validated globally — the table
        snapshot still holds the pre-update versions of the changed rows,
        so clash-checking `rows` against it would be unsound in both
        directions (false positives on unchanged keys, false negatives on
        collisions with non-updated rows)."""
        for col in self._not_null.get(table, ()):
            if rows.where(F.col(col).isNull()).limit(1).collect():
                raise ValueError(
                    f"NULL in NOT NULL column {col!r} of {table!r}")
        uniq_cols = list(self._uniques.get(table, ()))
        pk = self._pks.get(table)
        if mode == "update" and pk is not None:
            # UPDATE may rewrite the PK column; re-check it like PG does
            pk_cols = list(pk) if isinstance(pk, tuple) else [pk]
            for c in pk_cols:
                if rows.where(F.col(c).isNull()).limit(1).collect():
                    raise ValueError(
                        f'null value in column "{c}" violates not-null '
                        "constraint")
            if full_state is not None:
                dup = (full_state.groupBy(*pk_cols).count()
                       .where(F.col("count") > 1).limit(1).collect())
                if dup:
                    raise ValueError(
                        f'PRIMARY KEY or UNIQUE constraint violation on '
                        f'table "{table}": duplicate key '
                        f"{tuple(dup[0][:len(pk_cols)])!r}")
        for col in uniq_cols:
            nn = rows.where(F.col(col).isNotNull())
            dup = (nn.groupBy(col).count().where(F.col("count") > 1)
                   .limit(1).collect())
            clash = None
            if not dup and mode == "insert":
                clash = (nn.join(self._tables[table]
                                 .where(F.col(col).isNotNull())
                                 .select(col), col, "left_semi")
                         .limit(1).collect())
            if not dup and not clash and mode == "update" \
                    and full_state is not None:
                # global post-update uniqueness over the full new state
                dup = (full_state.where(F.col(col).isNotNull())
                       .groupBy(col).count().where(F.col("count") > 1)
                       .limit(1).collect())
            if dup or clash:
                v = (dup or clash)[0][0]
                raise ValueError(
                    f'UNIQUE constraint failed on table "{table}": '
                    f"duplicate {col}={v!r}")
        for name, pred in self._checks.get(
                table, {}).items():
            pred = F.expr(pred) if isinstance(pred, str) else pred
            # CHECK fails only when the predicate is FALSE — a NULL
            # result passes (PG 3VL; constraint.test inserts NULL weight
            # under CHECK (grade > 22) and expects success)
            if rows.where(~F.coalesce(pred, F.lit(True))) \
                    .limit(1).collect():
                raise ValueError(
                    f"CHECK constraint failed on table {table!r}: "
                    f"new rows violate {name!r}")
        # foreign keys enforce on every write (dml/foreign_key.test):
        # NULLs pass (MATCH SIMPLE), one anti-join per declared FK
        for cname, (t, col, rt, rc) in self._fks.items():
            if t != table or rt not in self._tables:
                continue
            ref = self._tables[rt].select(F.col(rc).alias(col)).distinct()
            bad = (rows.where(F.col(col).isNotNull())
                   .join(ref, col, "left_anti").select(col)
                   .limit(1).collect())
            if bad:
                raise ValueError(
                    f'Violates foreign key constraint {cname}: key '
                    f'"{col}: {bad[0][0]}" does not exist in the '
                    "referenced table")

    def generated_order(self, table: str) -> list[tuple[str, str]]:
        """GENERATED ALWAYS AS columns in dependency order (chains
        allowed like the reference's serenedb-only default_values.test
        blocks; a cycle raises)."""
        gen = dict(self._generated.get(table, {}))
        cols = set(self._tables[table].columns)
        resolved = cols - set(gen)
        out: list[tuple[str, str]] = []
        import re as _re

        while gen:
            ready = [c for c, e in gen.items()
                     if not (set(_re.findall(r"\w+", e)) & cols
                             - resolved - {c})
                     and c not in _re.findall(r"\w+", e)]
            if not ready:
                raise ValueError(
                    f"generation expressions of {sorted(gen)} in "
                    f"{table!r} form a cycle")
            for c in ready:
                out.append((c, gen.pop(c)))
                resolved.add(c)
        return out

    def _apply_generated(self, table: str, df: DataFrame) -> DataFrame:
        dtypes = dict(self._tables[table].dtypes)
        for c, e in self.generated_order(table):
            df = df.withColumn(c, F.expr(e).cast(dtypes.get(c)))
        return df

    def _bind_conflict_target(self, table: str, target):
        """Resolve an ON CONFLICT target to the arbitrating column: the
        PK or a UNIQUE column (insert_conflict.test t3 — the target must
        bind to the unique constraint's index, not only to the PK)."""
        if target is None:
            return None
        pk = self._pks.get(table)
        uniques = set(self._uniques.get(table, ()))
        if isinstance(target, tuple) and target[0] == "constraint":
            name = target[1]
            if name == f"{table}_pkey" and pk is not None:
                return pk
            ui = self._unique_indexes.get(name)
            if ui is not None and ui[0] == table:
                return ui[1]
            raise ValueError(
                f'constraint "{name}" for table "{table}" does not exist')
        if len(target) == 1 and (target[0] == pk or target[0] in uniques):
            return target[0]
        if isinstance(pk, tuple) and tuple(target) == pk:
            return pk
        raise ValueError(
            "there is no unique or exclusion constraint matching the "
            "ON CONFLICT specification")

    def _skip_conflicts(self, table: str, rows: DataFrame,
                        arbiters: list) -> DataFrame:
        """ON CONFLICT DO NOTHING: drop incoming rows conflicting with
        the table or with an EARLIER row of the same batch on any
        arbiter column. NULL keys never conflict (PG)."""
        from pyspark.sql import Window

        for col in arbiters:
            cols = list(col) if isinstance(col, tuple) else [col]
            existing = self._tables[table]
            for c in cols:
                existing = existing.where(F.col(c).isNotNull())
            conds = [rows[c].eqNullSafe(F.col(f"__t_{c}")) for c in cols]
            tgt = existing.select(
                *[F.col(c).alias(f"__t_{c}") for c in cols]).distinct()
            cond = conds[0]
            for x in conds[1:]:
                cond = cond & x
            rows = rows.join(tgt, cond, "left_anti")
            w = Window.partitionBy(*cols).orderBy(
                F.monotonically_increasing_id())
            nullf = F.lit(False)
            for c in cols:
                nullf = nullf | F.col(c).isNull()
            rows = (rows.withColumn("__rn", F.row_number().over(w))
                    .where(nullf | (F.col("__rn") == 1)).drop("__rn"))
        return rows

    def insert(self, table: str, rows: DataFrame,
               on_conflict="error") -> None:
        """INSERT with full constraint enforcement; nothing is applied on
        any violation. GENERATED ALWAYS AS columns are (re)computed from
        the incoming row, never taken from it. ``on_conflict`` is either
        a legacy string ('error'|'nothing'|'replace', arbitrated by the
        PK) or a spec dict from the SQL door's ON CONFLICT clause
        ({'action', 'target', 'set', 'where'}) — targets bind to the PK
        OR any UNIQUE column, and DO UPDATE applies a partial assignment
        list with EXCLUDED.* references (PG semantics)."""
        from serenedb_spark.operators.dml import insert_rows, upsert_set

        self._check_privilege(table, "INSERT")
        rows = self._apply_generated(table, rows)
        pk = self._pks.get(table)
        uniques = set(self._uniques.get(table, ()))
        spec = on_conflict if isinstance(on_conflict, dict) else None
        if spec is not None:
            key = self._bind_conflict_target(table, spec.get("target"))
            action = spec["action"]
            if action == "nothing":
                arbiters = ([key] if key is not None else
                            ([pk] if pk is not None else [])
                            + sorted(uniques))
                rows = self._skip_conflicts(table, rows, arbiters)
                self._validate_rows(table, rows)
                if pk is not None:
                    new_state = insert_rows(self._tables[table], rows,
                                            pk, on_conflict="error")
                else:
                    new_state = self._tables[table].unionByName(rows)
            elif action == "update":
                if key is None:
                    key = pk
                if key is None:
                    raise ValueError(
                        "ON CONFLICT DO UPDATE requires a conflict "
                        "target or a PRIMARY KEY")
                # the reference accepts the same key twice in one batch
                # (DuckDB semantics, do_update_clause.test: VALUES
                # (1,52),(1,62) ON CONFLICT DO UPDATE — last wins; PG
                # would raise "cannot affect row a second time")
                from pyspark.sql import Window
                w = Window.partitionBy(key).orderBy(
                    F.monotonically_increasing_id().desc())
                rows = (rows.withColumn("__rn", F.row_number().over(w))
                        .where(F.col(key).isNull() | (F.col("__rn") == 1))
                        .drop("__rn"))
                new_state = upsert_set(self._tables[table], rows, key,
                                       spec["set"], spec.get("where"))
                # post-state validation: assignments may touch any
                # column, so NOT NULL/CHECK/uniqueness re-check globally
                self._validate_rows(table, new_state, mode="update",
                                    full_state=new_state)
            else:
                raise ValueError(f"unknown ON CONFLICT action {action!r}")
            self._tables[table] = new_state
            self._reregister(table)
            return
        self._validate_rows(table, rows)
        if pk is not None:
            # a primary key implies NOT NULL (alter_add_pk_unique.test)
            for c in (pk if isinstance(pk, tuple) else (pk,)):
                if rows.where(F.col(c).isNull()).limit(1).collect():
                    raise ValueError(
                        f'null value in column "{c}" violates not-null '
                        "constraint")
            new_state = insert_rows(self._tables[table], rows, pk,
                                    on_conflict=on_conflict)
        else:
            new_state = self._tables[table].unionByName(rows)
        self._tables[table] = new_state
        self._reregister(table)

    def update(self, table: str, cond, assignments: dict) -> None:
        from serenedb_spark.operators.dml import update_where

        self._check_privilege(table, "UPDATE")
        c = F.expr(cond) if isinstance(cond, str) else cond
        asg = {k: (F.expr(v) if isinstance(v, str) else v)
               for k, v in assignments.items()}
        # mark matching rows BEFORE applying assignments: the WHERE
        # condition must see pre-update values, and validation must see
        # the post-update rows at exactly those positions
        # (constraint.test UPDATE ... SET name WHERE name = old)
        marked = self._tables[table].withColumn(
            "__upd", F.coalesce(c, F.lit(False)))
        new_marked = self._apply_generated(
            table, update_where(marked, F.col("__upd"), asg))
        self._validate_rows(
            table, new_marked.where(F.col("__upd")).drop("__upd"),
            mode="update", full_state=new_marked.drop("__upd"))
        pk = self._pks.get(table)
        if pk in marked.columns:
            # track rewritten row ids: a refresh counts an updated
            # row's reinserted copy in the RAW term stats just like the
            # reference's mask+reinsert (ts_dict_deletes_matrix.test:283)
            self._mark_dirty(table, marked.where(F.col("__upd"))
                             .select(pk))
        self._tables[table] = new_marked.drop("__upd")
        self._reregister(table)

    #: attrs freshened per-statement inside a READ COMMITTED block
    _RC_SYNC_STATE = ("_tables", "_indexes", "_index_sources", "_pks",
                      "_storage")

    def _rc_sync(self) -> None:
        """READ COMMITTED visibility inside a shared-session block:
        before each statement, keys this block has NOT written are
        refreshed from the store (peers' commits appear), and keys a
        peer dropped disappear — including ones this block wrote, which
        is how a concurrent DROP TABLE surfaces as a conflict
        (sdb/pg/index/basic.test:595)."""
        store = self._shared_store
        pre = self._txn_prebegin
        for a in self._RC_SYNC_STATE:
            shared = store[a]
            local = getattr(self, a)
            if local is shared:
                continue
            snap = pre.get(a, {})
            for k, v in shared.items():
                if local.get(k) is snap.get(k):
                    local[k] = v
                    snap[k] = v       # refreshed, still "not mine"
            for k in list(local):
                if k not in shared and k in snap:
                    del local[k]
                    del snap[k]

    def _merge_table_rows(self, table: str, snap: DataFrame,
                          local: DataFrame, current: DataFrame
                          ) -> DataFrame:
        """Row-level 3-way commit merge: apply this block's row changes
        (vs its BEGIN snapshot) onto the store's CURRENT state, keyed by
        the table's PK — concurrent inserts from two blocks both
        survive (txn/basic.test:157). Without a PK the block's version
        wins whole."""
        pk = self._pks.get(table)
        if pk is None or pk not in local.columns:
            return local
        added = local.join(snap.select(pk), pk, "left_anti")
        removed = snap.select(pk).join(local.select(pk), pk,
                                       "left_anti")
        # rows this block UPDATED: present in both snap and local with
        # any difference — replace them in current wholesale (cheap,
        # exact: current minus (removed ∪ updated-pks) plus local rows)
        upd = (local.join(snap.select(pk), pk, "left_semi")
               .exceptAll(snap))
        drop_keys = removed.unionByName(upd.select(pk))
        return (current.join(drop_keys, pk, "left_anti")
                .unionByName(upd)
                .unionByName(added))

    def _mark_dirty(self, table: str, keys: DataFrame) -> None:
        dr = self._dirty_rows
        prev = dr.get(table)
        dr[table] = keys if prev is None else prev.unionByName(keys)

    def _check_fk_restrict(self, table: str, removed: DataFrame) -> None:
        """Default RESTRICT (dml/foreign_key.test): deleting parent rows
        still referenced by a child FK is rejected — one semi-join per
        inbound FK against the removed keys."""
        for cname, (t, col, rt, rc) in self._fks.items():
            if rt != table or t not in self._tables:
                continue
            still = (self._tables[t].where(F.col(col).isNotNull())
                     .join(removed.select(F.col(rc).alias(col)).distinct(),
                           col, "left_semi").select(col).limit(1).collect())
            if still:
                raise ValueError(
                    f'Violates foreign key constraint {cname}: key '
                    f'"{rc}: {still[0][0]}" is still referenced by a '
                    "foreign key in a different table")

    def delete(self, table: str, cond) -> None:
        from serenedb_spark.operators.dml import delete_where

        self._check_privilege(table, "DELETE")
        c = F.expr(cond) if isinstance(cond, str) else cond
        if self._fks:
            self._check_fk_restrict(
                table, self._tables[table].where(
                    F.coalesce(c, F.lit(False))))
        self._tables[table] = delete_where(self._tables[table], c)
        self._reregister(table)

    def update_matching(self, table: str, keys: DataFrame, key: str,
                        assignments: dict) -> None:
        """UPDATE rows whose `key` is in the claimed match set `keys`
        (search-predicate DML through the SQL door): one equi-join, with
        the same constraint validation as update()."""
        from serenedb_spark.operators.dml import update_matching

        self._check_privilege(table, "UPDATE")
        new_state = self._apply_generated(
            table, update_matching(self._tables[table], keys, key,
                                   assignments))
        kc = list(key) if isinstance(key, (list, tuple)) else [key]
        hit = self._tables[table].select(*kc).join(
            keys.select(*kc).distinct(), kc, "left_semi")
        self._validate_rows(table, new_state.join(hit, kc, "left_semi"),
                            mode="update", full_state=new_state)
        pk = self._pks.get(table)
        if pk in self._tables[table].columns:
            self._mark_dirty(table, hit.select(F.col(kc[0]).alias(pk))
                             if kc != [pk] else hit.select(pk))
        self._tables[table] = new_state
        self._reregister(table)

    def delete_matching(self, table: str, keys: DataFrame,
                        key: str) -> None:
        """DELETE rows whose `key` is in the claimed match set `keys`:
        one anti-join (search-predicate DML through the SQL door)."""
        from serenedb_spark.operators.dml import delete_matching

        self._check_privilege(table, "DELETE")
        kc = list(key) if isinstance(key, (list, tuple)) else [key]
        if self._fks:
            self._check_fk_restrict(
                table, self._tables[table].join(
                    keys.select(*kc).distinct(), kc, "left_semi"))
        self._tables[table] = delete_matching(self._tables[table], keys,
                                              key)
        self._reregister(table)

    def refresh_indexes(self, table: str) -> None:
        """VACUUM (REFRESH_TABLE) t: rebuild every SQL-created inverted
        index over `table` from its current state, so DML since CREATE
        INDEX becomes visible to `@@` (reference search_table.test:70 —
        its WAL tick analogue for the catalog-DML path)."""
        for iname, ddl in list(self._index_ddl.items()):
            if self._index_sources.get(iname) == table:
                self._create_inverted_index_sql(ddl, internal=True)
        self._dirty_rows.pop(table, None)

    # ---- macros (reference CREATE MACRO, catalog/function.h:30-33:
    # DuckDB scalar AND table macros; Spark 4 SQL UDFs map them directly)
    def create_macro(self, name: str, params: str, body: str,
                     returns: str = "DOUBLE") -> None:
        """CREATE MACRO name(params) AS body — a SQL-bodied scalar
        function usable from sql() and DataFrame selectExpr."""
        try:
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
                f"RETURNS {returns} RETURN {body}"
            )
        except Exception as e:
            if "ParseException" in type(e).__name__:
                raise NotImplementedError(
                    f"macro body uses unsupported syntax: {e}") from e
            raise
        replacing = name in self._macros_meta
        self._macros_meta[name] = (params, False, body)
        if replacing:  # re-resolve dependent views over the new body
            self._refresh_dependent_views(name)

    def create_table_macro(self, name: str, params: str, schema: str,
                           body: str) -> None:
        """CREATE MACRO name(params) AS TABLE body — a SQL table function
        (DuckDB table macro analogue)."""
        body = self._schema_rewrite(body)
        try:
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
                f"RETURNS TABLE ({schema}) RETURN {body}"
            )
        except Exception as e:
            if "ParseException" in type(e).__name__:
                raise NotImplementedError(
                    f"macro body uses unsupported syntax: {e}") from e
            raise
        self._macros_meta[name] = (params, True, body, schema)

    # ---- dependency graph over SQL-text definitions (reference
    # drop_cascade_* suites: DROP refuses while dependents exist, and
    # CASCADE removes the whole closure). Definitions are SQL strings,
    # so dependency = word-boundary reference in a view/macro body —
    # the same name-resolution PG records in pg_depend.
    def _dependents_of(self, name: str) -> tuple[list, list]:
        import re as _re

        pat = _re.compile(rf"\b{_re.escape(name)}\b", _re.IGNORECASE)
        views = [v for v, d in self._view_defs.items()
                 if v != name and isinstance(d, str) and pat.search(d)]
        macros = [m for m, meta in self._macros_meta.items()
                  if m != name and len(meta) > 2
                  and isinstance(meta[2], str) and pat.search(meta[2])]
        return views, macros

    def _drop_dependents(self, name: str, kind: str,
                         cascade: bool) -> None:
        import re as _re

        views, macros = self._dependents_of(name)
        pat = _re.compile(rf"\b{_re.escape(name)}\b", _re.IGNORECASE)
        idxs = []
        if kind != "table":  # expression indexes calling a function
            for i, ddl in self._index_ddl.items():
                exprs = getattr(ddl, "exprs", None) or {}
                if any(pat.search(e) for e in exprs.values()):
                    idxs.append(i)
        if (views or macros or idxs) and not cascade:
            dep = (views + macros + idxs)[0]
            raise ValueError(
                f'cannot drop {kind} "{name}" because other objects '
                f'depend on it (e.g. "{dep}") — use CASCADE')
        for v in views:
            self.drop_view(v, cascade=True)
        for m in macros:
            self.drop_macro(m, cascade=True)
        for i in idxs:  # expression indexes over a dropped function
            self._indexes.pop(i, None)
            self._index_sources.pop(i, None)
            self._index_ddl.pop(i, None)

    def drop_macro(self, name: str, cascade: bool = False) -> None:
        if name in self._macros_meta:
            self._drop_dependents(name, "function", cascade)
        self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
        self._macros_meta.pop(name, None)
        # the function's acl drops with it (DROP ROLE dependency gate,
        # cat_acl_columns_db_func.test)
        self._obj_grants.pop(("function", name), None)

    # ---- SET/SHOW engine variables (reference
    # server/query/config_variables.cpp — the sdb_* set). Each name is
    # validated and type-coerced against its default, and every one has
    # a live consumer: faults -> maintenance.FAULTS, log_level ->
    # sparkContext, levenshtein cap -> planner expansion, top-k pruning
    # toggle + scored_terms_limit -> scoring, strict_ddl -> ALTER
    # duplicate-column errors, and the four ANN knobs (nprobe /
    # rerank_factor / ivf_posting_size / ivf_sample_factor) -> the
    # create_ann_index/ann_search facade defaults.
    _VARIABLE_DEFAULTS = {
        "sdb_faults": "",
        "sdb_nprobe": 4,
        "sdb_rerank_factor": 10,
        "sdb_disable_top_k_optimization": False,
        "sdb_levenshtein_max_terms": 0,   # 0 = per-node default
        "sdb_scored_terms_limit": 64,
        "sdb_ivf_posting_size": 0,
        "sdb_ivf_sample_factor": 16,
        "sdb_log_level": "WARN",
        "sdb_strict_ddl": False,
    }

    def set_variable(self, name: str, value) -> None:
        """SET name = value (sdb_* engine variables)."""
        from serenedb_spark.operators import maintenance as _M
        from serenedb_spark.operators import scoring as _SC
        from serenedb_spark.plans import planner as _PL

        if name not in self._VARIABLE_DEFAULTS:
            raise ValueError(f"unknown variable {name!r}")
        if name == "sdb_faults":
            # the reference's fault GUC is ADDITIVE: each SET adds one
            # fault, '-name' removes one, duplicates error
            # (recovery/faults.test)
            cur = [p for p in str(self._variables.get(
                "sdb_faults", "")).split(",") if p]
            v = str(value)
            if v == "":
                cur = []
            elif v.startswith("-"):
                if v[1:] not in cur:
                    raise ValueError(
                        f'fault "{v[1:]}" is not registered')
                cur.remove(v[1:])
            else:
                if v in cur:
                    raise ValueError(
                        f'fault "{v}" is already registered')
                cur.append(v)
            value = ",".join(cur)
        default = self._VARIABLE_DEFAULTS[name]
        if isinstance(default, bool):
            value = (value if isinstance(value, bool)
                     else str(value).lower() in ("true", "on", "1"))
        elif isinstance(default, int):
            value = int(value)
        else:
            value = str(value)
        self._variables[name] = value
        if name == "sdb_faults":
            _M.FAULTS.clear()
            _M.FAULTS.update(p for p in value.split(",") if p)
        elif name == "sdb_log_level":
            self.spark.sparkContext.setLogLevel(value)
        elif name == "sdb_levenshtein_max_terms":
            _PL.LEVENSHTEIN_MAX_TERMS = value or None
        elif name == "sdb_disable_top_k_optimization":
            _SC.DISABLE_TOPK_PRUNING = value
        elif name == "sdb_scored_terms_limit":
            _SC.SCORED_TERMS_LIMIT = value

    def show_variable(self, name: str):
        if name not in self._VARIABLE_DEFAULTS:
            raise ValueError(f"unknown variable {name!r}")
        return self._variables.get(
            name, self._VARIABLE_DEFAULTS[name])

    def show_variables(self) -> DataFrame:
        """SHOW ALL over the sdb_* set (pg_settings carries the Spark
        conf separately)."""
        return local_frame(self.spark, "name string, value string", [
            {"name": n, "value": str(self.show_variable(n))}
            for n in sorted(self._VARIABLE_DEFAULTS)])

    # ---- transactions (reference: multi-statement strings form an
    # implicit block mirroring postgres.c, pg_wire_session.cpp:1369-1398;
    # tests any/pg/txn/). DataFrames are immutable and every DML rebinds
    # the session's state dicts, so BEGIN snapshots the dict layer and
    # ROLLBACK restores it — genuine all-or-nothing over any number of
    # statements, zero data copying.
    # ---- databases: a namespace level ABOVE schemas. Each database
    # owns an independent catalog store; USE swaps the session's live
    # dicts (site_docs/sql/statements/create_database/index.test).
    # _databases maps name → parked store (None: never left).
    @classmethod
    def _fresh_store(cls) -> dict:
        """A brand-new catalog store: every shared attr in its declared
        empty form."""
        return {a: cls._STATE[a][0]() for a in cls._SHARED_STATE}

    def create_database(self, name: str,
                        if_not_exists: bool = False) -> None:
        if name in self._databases:
            if if_not_exists:
                return
            raise ValueError(f'database "{name}" already exists')
        self._databases[name] = self._fresh_store()

    def drop_database(self, name: str, if_exists: bool = False) -> None:
        if name not in self._databases:
            if if_exists:
                return
            raise ValueError(f'database "{name}" does not exist')
        if name == self._current_db:
            raise ValueError(
                f'cannot drop the currently open database "{name}"')
        self._databases.pop(name)

    def use_database(self, name: str) -> None:
        dbs = self._databases
        cur = self._current_db
        if name == cur:
            return
        if name not in dbs:
            raise ValueError(f'database "{name}" does not exist')
        # park the current store, unregister its table views
        dbs[cur] = {a: getattr(self, a) for a in self._SHARED_STATE}
        for t in list(self._tables):
            try:
                self.spark.catalog.dropTempView(self._view_name(t))
            except Exception:
                pass
        store = dbs[name] or self._fresh_store()
        for a in self._SHARED_STATE:
            setattr(self, a, store[a])
        self._current_db = name
        for t in list(self._tables):
            self._reregister(t)

    def attach_shared(self, base: "SereneSession") -> None:
        """Share ``base``'s catalog/data store: DDL and committed DML in
        either session are visible to the other — the reference's
        multi-connection READ COMMITTED default (sqllogic `connection`
        directive; basic.test:563). Both sessions keep a handle on the
        STORE dicts so a transaction can detach onto a snapshot and
        merge back at COMMIT."""
        store = base._ensure_shared_store()
        self._shared_base = base
        self._shared_store = store
        # a session attached after a simulated crash is a NEW
        # connection to the restarted server (recovery/ tranche)
        self._crash_seen = store.get("_crash_count", 0)
        # the connection lands in the same database/schema context
        # (recovery/catalog_schema.test reconnects mid-file)
        self._current_db = base._current_db
        self._current_schema = base._current_schema
        self._databases = base._databases
        for a in self._SHARED_STATE:
            setattr(self, a, store[a])

    def _ensure_shared_store(self) -> dict:
        """Create (or return) this session's shared catalog store —
        called eagerly by the sqllogic runner when a file uses
        `connection`, so a BEGIN that precedes the first attach still
        detaches properly."""
        if self._shared_store is None:
            self._shared_store = {a: getattr(self, a)
                                  for a in self._SHARED_STATE}
        return self._shared_store

    @classmethod
    def _txn_copy(cls, v):
        """Structural deep copy of the container layer only: dicts /
        sets / lists are copied recursively so in-place mutation inside
        a block (grants.setdefault(...).add(...)) can't leak through the
        snapshot; leaf values (DataFrames, InvertedIndex, strings) are
        shared by reference — they are rebound, never mutated."""
        if isinstance(v, dict):
            return {k: cls._txn_copy(x) for k, x in v.items()}
        if isinstance(v, set):
            return set(v)
        if isinstance(v, frozenset):
            return v
        if isinstance(v, list):
            return [cls._txn_copy(x) for x in v]
        return v

    def begin(self, isolation: str | None = None) -> None:
        """BEGIN: snapshot the session's mutable catalog/data state.
        Nested blocks are refused exactly as PG warns-and-ignores —
        except we make it an error rather than silently flattening.
        The snapshot copies the full container layer (nested dicts and
        sets included): _grants / _checks / _col_masks are mutated in
        place by GRANT / ADD CHECK on pre-existing keys, so a one-level
        dict() copy would alias them and ROLLBACK would not undo
        security-relevant state.

        In shared (multi-connection) mode, REPEATABLE READ /
        SERIALIZABLE additionally DETACHES this session onto its own
        snapshot copy: other sessions' commits stay invisible until
        this block ends (inverted_index_isolation.test — the
        reference's pinned index snapshot)."""
        if self._txn_backup is not None:
            raise ValueError("already inside a transaction block")
        self._txn_backup = {
            a: self._txn_copy(getattr(self, a)) for a in self._TXN_STATE}
        self._txn_detached = False
        self._txn_rc = False
        self._txn_snapshot_pending = False
        store = self._shared_store
        if store is not None:
            # shared mode: EVERY block detaches onto a snapshot — a
            # peer must never see this block's uncommitted writes
            # (read_committed.test:93 no-dirty-reads). READ COMMITTED
            # additionally re-syncs unwritten keys from the store
            # before each statement (_rc_sync), so peers' commits stay
            # visible mid-block; REPEATABLE READ keeps the snapshot.
            # PG takes the snapshot at the FIRST data access, not at
            # BEGIN (repeatable_read.test:538) — defer the copy.
            self._txn_snapshot_pending = True
            self._txn_rc = isolation not in ("REPEATABLE READ",
                                             "SERIALIZABLE")

    def _take_txn_snapshot(self) -> None:
        store = self._shared_store
        self._txn_prebegin = {
            a: type(store[a])(store[a])
            for a in self._SHARED_STATE
            if isinstance(store[a], (dict, set))}
        for a in self._SHARED_STATE:
            setattr(self, a, self._txn_copy(store[a]))
        self._txn_detached = True
        self._txn_snapshot_pending = False

    def commit(self) -> None:
        if self._txn_backup is None:
            raise ValueError("no transaction in progress")
        if self._txn_aborted:
            # PG converts COMMIT of an aborted block into a rollback
            # (txn/aborted_block.test:58-66)
            self.rollback()
            return
        if self._txn_detached:
            # merge this block's own changes into the shared store
            # (last-writer-wins per key) and re-attach
            store = self._shared_store
            pre = self._txn_prebegin
            changed_tables = set()
            for a in self._SHARED_STATE:
                local = getattr(self, a)
                shared = store[a]
                snap = pre.get(a, {})
                if isinstance(shared, dict) and isinstance(local, dict):
                    for k, v in local.items():
                        if snap.get(k) is not v:
                            if (a == "_tables"
                                    and shared.get(k) is not None
                                    and snap.get(k) is not None
                                    and shared[k] is not snap[k]):
                                # a peer committed to the same table
                                # during this block: row-level 3-way
                                # merge on the PK (txn/basic.test:157 —
                                # both inserts survive)
                                shared[k] = self._merge_table_rows(
                                    k, snap[k], v, shared[k])
                            else:
                                shared[k] = v
                            if a == "_tables":
                                changed_tables.add(k)
                    for k in (set(snap) - set(local)):
                        if k in shared and shared[k] is snap.get(k):
                            shared.pop(k, None)
                            if a == "_tables":
                                changed_tables.add(k)
                elif isinstance(shared, set):
                    shared |= local - snap
                    shared -= snap - local
                setattr(self, a, shared)
            self._txn_detached = False
            self._txn_prebegin = None
            for t in changed_tables:
                if t in self._tables:
                    self._reregister(t)
                else:
                    try:
                        self.spark.catalog.dropTempView(
                            self._view_name(t))
                    except Exception:
                        pass
        self._txn_backup = None
        self._txn_read_only = False

    def rollback(self) -> None:
        """ROLLBACK: restore every snapshotted dict and re-register the
        views whose relations changed."""
        bak = self._txn_backup
        if bak is None:
            raise ValueError("no transaction in progress")
        changed = {
            t for t in set(self._tables) | set(bak["_tables"])
            if self._tables.get(t) is not bak["_tables"].get(t)
        }
        # the reference statement-commits DDL: a table CREATED inside
        # the block survives ROLLBACK with its constraints — only its
        # DML rolls back (recovery/ddl_in_transaction.test). Capture
        # the created relations + their catalog slices before restore.
        _DDL_DIMS = ("_pks", "_checks", "_not_null", "_col_defaults",
                     "_fks", "_uniques", "_generated", "_pk_names",
                     "_storage")
        created = {t: df for t, df in self._tables.items()
                   if t not in bak["_tables"]}
        created_dims = {
            a: {t: v for t, v in getattr(self, a).items()
                if t in created}
            for a in _DDL_DIMS}
        # SET inside an aborted block reverts (PG semantics); variables
        # with module-level consumers must have their side effects
        # re-applied, not just the dict restored.
        cur_vars = dict(self._variables)
        if self._txn_detached:
            # shared mode: the block's writes never reached the store —
            # discard the local snapshot and re-attach
            store = self._shared_store
            local_tables = dict(self._tables)
            for a in self._SHARED_STATE:
                setattr(self, a, store[a])
            self._apply_ddl_survivors(created, created_dims)
            self._txn_detached = False
            self._txn_prebegin = None
            self._txn_backup = None
            self._txn_aborted = False
            self._txn_read_only = False
            for t in set(local_tables) | set(self._tables):
                if self._tables.get(t) is not local_tables.get(t):
                    if t in self._tables:
                        self._reregister(t)
                    else:
                        try:
                            self.spark.catalog.dropTempView(
                                self._view_name(t))
                        except Exception:
                            pass
            return
        if (self._shared_base is not None
                and not self._txn_detached):
            # shared READ COMMITTED mode: restore IN PLACE so the other
            # sessions keep seeing the same dict objects — and never
            # resurrect a key another session deleted meanwhile
            # (basic.test:578 conn2 DROP during conn1's block)
            for a, snap in bak.items():
                cur = getattr(self, a)
                if isinstance(cur, dict) and isinstance(snap, dict):
                    for k, v in snap.items():
                        if k in cur and cur[k] is not v:
                            cur[k] = v
                    for k in set(cur) - set(snap):
                        del cur[k]
                else:
                    setattr(self, a, snap)
        else:
            for a, snap in bak.items():
                setattr(self, a, snap)
        self._apply_ddl_survivors(created, created_dims)
        self._txn_detached = False
        self._txn_backup = None
        self._txn_aborted = False
        self._txn_read_only = False
        for n, v in cur_vars.items():
            restored = bak["_variables"].get(n, self._VARIABLE_DEFAULTS[n])
            if restored != v:
                self.set_variable(n, restored)
        for t in changed:
            if t in self._tables:
                self._reregister(t)
            else:
                self.spark.catalog.dropTempView(self._view_name(t))

    def _apply_ddl_survivors(self, created: dict,
                             created_dims: dict) -> None:
        """Re-apply statement-committed DDL after a rollback restore:
        each table created inside the block comes back EMPTY (its DML
        rolled back) with its constraint slices intact."""
        for t, df in created.items():
            if t in self._tables:
                continue
            self._tables[t] = df.limit(0)
            for a, slc in created_dims.items():
                if t in slc:
                    getattr(self, a)[t] = slc[t]
            self._reregister(t)

    def transaction(self):
        """`with ss.transaction():` — commit on success, rollback on
        exception (the implicit-block convenience)."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            self.begin()
            try:
                yield self
            except BaseException:
                self.rollback()
                raise
            else:
                self.commit()

        return _cm()

    # ---- dynamic SQL table functions (reference query() /
    # query_table(), site_docs/cookbook/sql_features/
    # query_and_query_table_functions.test: run a SQL string / a
    # dynamically-named table as a relation)
    def query(self, sql: str) -> DataFrame:
        """query('SELECT ...'): execute a dynamically-built SQL string as
        a table. Read-only by contract (the reference rejects DML here) —
        only a single SELECT/WITH statement is accepted."""
        head = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
        if head not in ("SELECT", "WITH", "FROM", "VALUES"):
            raise ValueError(
                f"query() only accepts SELECT statements, got {head!r}")
        return self.sql(sql)

    def create_table(self, name: str, df: DataFrame,
                     or_replace: bool = False) -> None:
        """CREATE [OR REPLACE] TABLE from a DataFrame. Replacing CASCADES
        like the reference (ddl/create_or_replace_cascade.test): the old
        table's indexes, PK, CHECKs, comment, masks, policies and
        ANALYZE stats drop with it — they described the replaced
        relation, not the new one."""
        if name in self._tables and not or_replace:
            raise ValueError(f"table {name!r} already exists "
                             "(use or_replace=True)")
        if name in self._tables and or_replace:
            for iname, src in list(self._index_sources.items()):
                if src == name:
                    self._indexes.pop(iname, None)
                    self._index_sources.pop(iname, None)
            self._pks.pop(name, None)
            self._checks.pop(name, None)
            self._comments.pop(name, None)
            self._analyze_stats.pop(name, None)
            self._col_masks.pop(name, None)
            self._row_policies.pop(name, None)
        self._tables[name] = df
        u = self.current_user
        if u is not None:
            # owner = the creating role (PG relowner; owner bypasses
            # grants in _check_privilege)
            owners = self._owners
            owners[name] = u
        self._reregister(name)

    def drop_table(self, name: str, cascade: bool = False) -> None:
        """DROP TABLE: dependent indexes drop WITH the table — PG and
        the reference both treat an index as part of its table, never a
        CASCADE-requiring dependent (dml/foreign_key.test drops an
        indexed table bare; CASCADE remains accepted for parity)."""
        self._reltuples_cache.pop(name, None)
        # the table's ACL drops with it (PG: grants live in relacl) —
        # otherwise a ghost grant would pin DROP ROLE forever
        # (dr_drop_role_dependency.test)
        for tm in self._grants.values():
            tm.pop(name, None)
        for tm in self._col_grants.values():
            tm.pop(name, None)
        self._owners.pop(name, None)
        gr = self._grantors
        for key in [k for k in gr if k[1] == name]:
            gr.pop(key)
        self._drop_dependents(name, "table", cascade)
        for iname, (t, _c) in list(self._secondary_indexes.items()):
            if t == name:
                del self._secondary_indexes[iname]
        for seq in list(self._owned_seqs_store.get(name, [])):
            # dropping the table takes its owned sequences; refused
            # while other tables' defaults still use them
            # (drop_cascade_edge.test)
            sdeps = self._seq_dependents(seq, exclude=name)
            if sdeps and not cascade:
                t, c = sdeps[0]
                raise ValueError(
                    f'cannot drop table "{name}" because other objects '
                    f'depend on it (default of "{t}.{c}" uses sequence '
                    f'"{seq}") — use CASCADE')
            # views whose BODY reads the owned sequence also depend on
            # the table (drop_cascade_view_sequence.test:449)
            vdeps, _ = self._dependents_of(seq)
            if vdeps and not cascade:
                raise ValueError(
                    f'cannot drop table "{name}" because other objects '
                    f'depend on it (view "{vdeps[0]}" uses sequence '
                    f'"{seq}") — use CASCADE')
            for v in vdeps:
                self.drop_view(v, cascade=True)
            for t, c in sdeps:
                self._col_defaults.get(t, {}).pop(c, None)
            if seq in self.sequences._seqs:
                self.sequences.drop(seq)
        self._owned_seqs_store.pop(name, None)
        deps = [i for i, src in self._index_sources.items() if src == name]
        for i in deps:
            self._indexes.pop(i, None)
            self._index_sources.pop(i, None)
            self._index_ddl.pop(i, None)
            self._internal_indexes.discard(i)
        self._tables.pop(name, None)
        for store in ("_pks", "_checks", "_comments", "_analyze_stats",
                      "_col_defaults", "_not_null", "_generated",
                      "_uniques", "_storage", "_pk_names", "_nn_names",
                      "_uq_names", "_enum_cols", "_composite_cols"):
            getattr(self, store).pop(name, None)
        self._col_masks.pop(name, None)
        self._row_policies.pop(name, None)
        self.spark.catalog.dropTempView(self._view_name(name))

    def analyze(self, table: str | None = None) -> None:
        """ANALYZE [table]: refresh row-count statistics (one count job
        per analyzed table, by explicit request only) — surfaces in
        pg_stat_user_tables.n_live_tup and pg_class.reltuples the next
        time a statement names them (reference ddl/analyze_vacuum.test)."""
        stats = self._analyze_stats
        names = [table] if table is not None else list(self._tables)
        for t in names:
            stats[t] = float(self._tables[t].count())

    def create_view(self, name: str, query_or_df) -> DataFrame:
        """CREATE VIEW: register a named relation (SQL string or
        DataFrame) — tracked in the catalog (pg_views) and queryable via
        table()/sql()/query_table(). A body calling nextval() is
        side-effecting — PG does not execute it at CREATE
        (drop_cascade_tables.test view_y), so registration is
        catalog-only and each READ executes the body."""
        import re as _re

        if isinstance(query_or_df, str) and _re.search(
                r"\b(nextval|currval|setval|lastval)\s*\(",
                query_or_df, _re.IGNORECASE):
            self._view_defs[name] = query_or_df
            self._lazy_views.add(name)
            return None
        df = (self.sql(query_or_df) if isinstance(query_or_df, str)
              else query_or_df)
        df.createOrReplaceTempView(self._view_name(name))
        vd = self._view_defs
        replacing = name in vd
        vd[name] = (query_or_df if isinstance(query_or_df, str)
                    else "<dataframe>")
        if replacing:
            # dependent views hold analyzed plans over the OLD body:
            # re-resolve them (create_or_replace_cascade.test)
            self._refresh_dependent_views(name)
        return df

    def _refresh_dependent_views(self, name: str,
                                 _seen: set | None = None) -> None:
        if _seen is None:
            if self._refreshing_views:
                # running a view BODY re-registers its base tables,
                # which would restart this traversal from scratch
                # (recovery/catalog_view.test shared-session recursion)
                return
            self._refreshing_views = True
        seen = _seen if _seen is not None else {name}
        try:
            views, _ = self._dependents_of(name)
            todo = []
            for v in views:
                if v in seen:
                    continue
                seen.add(v)
                d = self._view_defs.get(v)
                if isinstance(d, str):
                    import re as _re
                    if _re.search(r"\b(nextval|currval|setval|lastval)"
                                  r"\s*\(", d, _re.IGNORECASE):
                        continue  # side-effecting body: no auto-refresh
                    self.sql(d).createOrReplaceTempView(
                        self._view_name(v))
                    todo.append(v)
            for v in todo:
                # views over views: walk down with the shared seen set
                self._refresh_dependent_views(v, seen)
        finally:
            if _seen is None:
                self._refreshing_views = False

    def drop_view(self, name: str, cascade: bool = False) -> None:
        if name in self._view_defs:
            self._drop_dependents(name, "view", cascade)
        self._view_defs.pop(name, None)
        self.spark.catalog.dropTempView(self._view_name(name))

    def query_table(self, name: str | list) -> DataFrame:
        """query_table('name' | ['schema','name']): a table whose NAME is
        a runtime value (the reference's dynamic-identifier companion to
        query()). Row policies / masks apply exactly as via table()."""
        if isinstance(name, (list, tuple)):
            if len(name) == 2 and name[0] not in ("public", "main"):
                raise ValueError(f"unknown schema {name[0]!r}")
            name = name[-1]
        return self.table(name)

    # ---- sequences (reference sequence.cpp; see operators/sequences) ----
    @property
    def sequences(self) -> SequenceCatalog:
        return self._sequences

    def create_sequence(self, name: str, **kw) -> None:
        self.sequences.create(name, **kw)

    def own_sequence(self, table: str, seq: str) -> None:
        """Record table ownership of a sequence (SERIAL columns, OWNED
        BY): dropping the table takes its owned sequences, and a drop is
        refused while OTHER tables' defaults still reference them
        (drop_cascade_edge.test)."""
        self._owned_seqs_store.setdefault(table, []).append(seq)

    def _seq_dependents(self, seq: str, exclude: str | None = None
                        ) -> list[tuple[str, str]]:
        """(table, column) defaults referencing nextval of `seq`."""
        import re as _re

        pat = _re.compile(rf"nextval\s*\(\s*'(?:\w+\.)?{_re.escape(seq)}'",
                          _re.IGNORECASE)
        out = []
        for t, cols in self._col_defaults.items():
            if t == exclude:
                continue
            for c, d in cols.items():
                if isinstance(d, str) and pat.search(d):
                    out.append((t, c))
        return out

    def drop_sequence_checked(self, seq: str,
                              cascade: bool = False) -> None:
        deps = self._seq_dependents(seq)
        views, macros = self._dependents_of(seq)
        if (deps or views or macros) and not cascade:
            dep = (deps or views or macros)[0]
            raise ValueError(
                f'cannot drop sequence "{seq}" because other objects '
                f'depend on it (e.g. {dep!r}) — use CASCADE')
        for t, c in deps:  # CASCADE drops the referencing DEFAULTs (PG)
            self._col_defaults.get(t, {}).pop(c, None)
        for v in views:
            self.drop_view(v, cascade=True)
        for m_ in macros:
            self.drop_macro(m_, cascade=True)
        self.sequences.drop(seq)
        for t, seqs in self._owned_seqs_store.items():
            if seq in seqs:
                seqs.remove(seq)

    def nextval(self, name: str) -> int:
        return self.sequences.nextval(name)

    def currval(self, name: str) -> int:
        return self.sequences.currval(name)

    def lastval(self) -> int:
        return self.sequences.lastval()

    def setval(self, name: str, value: int, is_called: bool = True) -> int:
        return self.sequences.setval(name, value, is_called)
