"""The PG catalog as one table: relation name → builder.

Every `pg_catalog` / `information_schema` / `sdb_*` relation is declared
once in `pg_catalog_columns.COLUMNS` (columns in PG order, a type each)
and built here from the live session state at that full shape, each
time a statement names it (reference server/pg/pg_catalog/: the catalog
is computed from the one live catalog, never stored). A builder returns
the rows of the columns it fills; the rest take their `DEFAULTS` value
or NULL, and a declared relation without a builder is empty.

A built relation is a local relation (`sources.local.local_frame`):
reading it runs no Spark job."""

from __future__ import annotations

import os
import re

from serenedb_spark.pg_catalog_columns import (
    COLUMNS, DEFAULTS, PG_SETTINGS_LIVE_DESC, PG_SETTINGS_ROWS,
    SYSTEM_RELATIONS, SYSTEM_RELATIONS_DYN, pg_type_rows)
from serenedb_spark.sources.local import local_frame

#: relation → (the columns its builder fills, builder(session) → rows)
BUILDERS: dict[str, tuple[tuple[str, ...], object]] = {}

#: engine relations beside PG's own: pg_class lists the sdb_* tables
#: with one attribute and pg_attribute does not describe them
_ENGINE = ("pg_attribute_core", "sdb_settings", "sdb_metrics",
           "sdb_progress")

#: catalog relation names a statement can spell (`pg_catalog.` is
#: stripped later; `information_schema.x` is the view
#: `information_schema_x`)
_NAME_RE = re.compile(r"\b(pg_\w+|sdb_\w+|information_schema[._]\w+)")


def builds(*names: str, cols: str):
    def deco(fn):
        for name in names:
            if name not in COLUMNS:
                raise KeyError(f"undeclared catalog relation {name!r}")
            BUILDERS[name] = (tuple(cols.split()), fn)
        return fn
    return deco


def named_relations(q: str) -> list[str]:
    """The declared relations a statement's text names."""
    found = {m.replace(".", "_", 1) for m in _NAME_RE.findall(q)}
    return sorted(found & COLUMNS.keys())


def frame(ss, rel: str):
    """`rel` built from `ss`'s current state, at its declared shape."""
    cols, build = BUILDERS.get(rel, ((), None))
    base = DEFAULTS.get(rel, {})
    return local_frame(ss.spark, COLUMNS[rel],
                       [{**base, **dict(zip(cols, row))}
                        for row in (build(ss) if build else ())])


def register(ss, names) -> None:
    """The one place catalog views are registered."""
    for rel in names:
        frame(ss, rel).createOrReplaceTempView(rel)


def _pg_columns(rn: str) -> list[str]:
    """PG's columns of a system relation named bare (`tables` is
    `information_schema_tables`); engine relations have none."""
    for rel in (rn, f"information_schema_{rn}"):
        if rel in COLUMNS and rel not in _ENGINE:
            return [c.split(" ", 1)[0] for c in COLUMNS[rel].split(", ")]
    return []


def _not_null_cols(ss, t: str) -> set:
    """NOT NULL columns, PK columns included."""
    pk = ss._pks.get(t)
    pkc = set(pk) if isinstance(pk, tuple) else ({pk} if pk else set())
    return set(ss._not_null.get(t, ())) | pkc


def _user_schemas(ss) -> list[str]:
    return sorted(s for s in ss._schemas if s not in ("public", "main"))


def _nsp(ss, name: str) -> tuple[str, int]:
    """Catalog key → (bare relname, namespace oid) — pg_class splits
    `schema.table` like PG (owner_creator_objtypes.test lists bare names
    under their nspname)."""
    if "." in name:
        sch, bare = name.split(".", 1)
        users = _user_schemas(ss)
        if sch in users:
            return bare, 16000 + users.index(sch)
    return name, 2200


def _attnum(ss, t: str, c: str) -> int:
    names = [cc for cc, _ in ss._tables[t].dtypes]
    return names.index(c) + 1 if c in names else 0


def _reltuples(ss, name: str, df) -> float:
    """reltuples tracks the LIVE rowcount (the reference refreshes it on
    every write, pg_class.test:241), counted once per DataFrame object
    (a strong reference, never a recyclable id())."""
    cache = ss._reltuples_cache
    key = cache.get(name)
    if key is not None and key[0] is df:
        return key[1]
    n = float(df.count())
    if key is not None:
        # the stored statistic counts APPENDED rows including
        # deleted-not-yet-reclaimed tuples — it never shrinks
        # (pg_class.test:267 DELETE keeps reltuples at 6)
        n = max(n, key[1])
    cache[name] = (df, n)
    return n


# ---- tables, columns, indexes ---------------------------------------------

@builds("pg_tables", cols="schemaname tablename tableowner")
def _pg_tables(ss):
    return [("public", t, "postgres") for t in sorted(ss._tables)]


#: PG type name → (typlen, typbyval) for pg_attribute
_TYPMETA = {"boolean": (1, True), "smallint": (2, True),
            "integer": (4, True), "bigint": (8, True),
            "real": (4, True), "double precision": (8, True),
            "date": (4, True), "timestamp without time zone": (8, True)}


@builds("pg_attribute", cols="attrelid attname attnum atttypid attlen"
        " attbyval attnotnull atthasdef attisdropped attacl")
def _pg_attribute(ss):
    from serenedb_spark.functions.acl import attacl_for
    from serenedb_spark.functions.pg_system import format_type

    rows = []
    for t, df in ss._tables.items():
        nn = _not_null_cols(ss, t)
        dfl = ss._col_defaults.get(t, {})
        rid = ss.relid(t)
        for i, (c, typ) in enumerate(df.dtypes, start=1):
            pg_t = format_type(typ)
            ln, byval = _TYPMETA.get(pg_t, (-1, False))
            rows.append((rid, c, i, ss._PG_TYPE_OIDS.get(pg_t, 705), ln,
                         byval, c in nn, c in dfl, False,
                         attacl_for(ss, t, c.lower())))
    for oid, rn, _kind in SYSTEM_RELATIONS:
        for i, c in enumerate(_pg_columns(rn), start=1):
            rows.append((oid, c, i, 25, -1, False, False, False, False,
                         None))
    return rows


@builds("pg_attribute_core", cols="attrelid attname attnum atttypid"
        " atttype attnotnull attisdropped")
def _pg_attribute_core(ss):
    from serenedb_spark.functions.pg_system import format_type

    rows = []
    for name in sorted(ss._tables):
        rid = ss.relid(name)
        for i, (c, typ) in enumerate(ss._tables[name].dtypes, start=1):
            pg_t = format_type(typ)
            rows.append((rid, c, i, ss._PG_TYPE_OIDS.get(pg_t, 705), pg_t,
                         False, False))
    return rows


@builds("pg_indexes", cols="schemaname tablename indexname")
def _pg_indexes(ss):
    return [("public", tbl, name)
            for name, tbl, *_rest in ss._index_relations()]


@builds("pg_class", cols="oid relname relnamespace relkind relnatts"
        " reltuples relowner reltablespace reloptions relhasindex relacl")
def _pg_class(ss):
    """Tables, indexes, views, sequences, then the fixed system catalog
    itself with the reference's oid assignment (pg_class.test block
    1). Tables with ANY index set relhasindex
    (pg_catalog_data.test:99)."""
    from serenedb_spark.functions.acl import relacl_for

    indexed = {t for _n, t, *_rest in ss._index_relations()}
    ra = ss.role_attrs()
    rows = []
    for name in sorted(ss._tables):
        df = ss._tables[name]
        bare, nsp = _nsp(ss, name)
        owner = ra.get(ss._table_owner(name), {}).get("oid", 1000000)
        rows.append((ss.relid(name), bare, nsp, "r", len(df.dtypes),
                     _reltuples(ss, name, df), owner, 0, None,
                     name in indexed, relacl_for(ss, name)))
    for name, _t, cols, *_rest in ss._index_relations():
        bare, nsp = _nsp(ss, name)
        rows.append((ss._index_oid(name), bare, nsp, "i", len(cols), -1.0,
                     1000000, 0, None, False, None))
    for name in sorted(ss._view_defs):
        bare, nsp = _nsp(ss, name)
        rows.append((ss.relid(name), bare, nsp, "v", 0, -1.0, 1000000, 0,
                     None, False, relacl_for(ss, name)))
    for name in sorted(ss.sequences._seqs):
        bare, nsp = _nsp(ss, name)
        rows.append((ss.relid(name), bare, nsp, "S", 3, 1.0, 1000000, 0,
                     None, False, None))
    for oid, rn, kind in SYSTEM_RELATIONS + SYSTEM_RELATIONS_DYN:
        nsp = 1000003 if kind == "v" and not rn.startswith(
            ("pg_", "sdb_", "sql_")) else 11
        rows.append((oid, rn, nsp, kind, len(_pg_columns(rn)) or 1, -1.0,
                     1000000, 0, None, False, None))
    return rows


@builds("pg_index", cols="indexrelid indrelid indnatts indnkeyatts indkey"
        " indisunique indisprimary")
def _pg_index(ss):
    """indkey holds the attnums of the indexed columns (PG's int2vector;
    attnum = ANY(indkey) joins in explorer SQL)."""
    rows = []
    for name, t, cols, uniq, prim, _a, _f in ss._index_relations():
        tcols = ([c for c, _ in ss._tables[t].dtypes]
                 if t in ss._tables else [])
        nums = [tcols.index(c) + 1 if c in tcols else 0 for c in cols]
        rows.append((ss._index_oid(name), ss.relid(t) if t else None,
                     len(cols), len(cols), nums, uniq, prim))
    return rows


@builds("information_schema_tables",
        cols="table_catalog table_schema table_name table_type")
def _is_tables(ss):
    return [("serene", "public", _nsp(ss, t)[0], "BASE TABLE")
            for t in sorted(ss._tables)]


#: PG type name → (udt_name, numeric_precision, numeric_scale,
#: datetime_precision) — the metadata explorer SQL reads
#: (explorer_queries.test:84)
_UDT = {"boolean": ("bool", None, None, None),
        "smallint": ("int2", 16, 0, None),
        "integer": ("int4", 32, 0, None),
        "bigint": ("int8", 64, 0, None),
        "real": ("float4", 24, None, None),
        "double precision": ("float8", 53, None, None),
        "date": ("date", None, None, None),
        "timestamp without time zone": ("timestamp", None, None, 6)}


@builds("information_schema_columns", cols="table_catalog table_schema"
        " table_name column_name ordinal_position data_type udt_name"
        " character_maximum_length numeric_precision numeric_scale"
        " datetime_precision is_nullable column_default")
def _is_columns(ss):
    from serenedb_spark.functions.pg_system import format_type

    rows = []
    for t, df in ss._tables.items():
        bare = t.split(".")[-1]
        sch = t.split(".")[0] if "." in t else "public"
        nn = _not_null_cols(ss, t)
        dfl = ss._col_defaults.get(t, {})
        for i, (c, typ) in enumerate(df.dtypes, start=1):
            pg_t = format_type(typ)
            udt, np_, ns_, dp_ = _UDT.get(
                pg_t, (pg_t.replace(" ", "_"), None, None, None))
            is_arr = pg_t.endswith("[]")
            rows.append(("serene", sch, bare, c, i,
                         "ARRAY" if is_arr else pg_t,
                         "_" + udt[:-2] if is_arr else udt,
                         None, np_, ns_, dp_,
                         "NO" if c in nn else "YES",
                         repr(dfl[c]) if c in dfl else None))
    return rows


# ---- types -----------------------------------------------------------------

@builds("pg_type", cols="oid typname typlen typbyval typtype typcategory"
        " typispreferred typisdefined typdelim typrelid typelem typarray")
def _pg_type(ss):
    """Built-in types, then user enums ('e') and composites ('c')
    (composite.test)."""
    rows = pg_type_rows()
    user = ([(n, "e", "E") for n in sorted(ss._enum_types)]
            + [(n, "c", "C") for n in sorted(ss._composite_types)])
    for i, (name, typtype, cat) in enumerate(user):
        rows.append((90000 + i, name.split(".")[-1], -1, False, typtype,
                     cat, False, True, ",", 0, 0, 0))
    return rows


@builds("pg_enum", cols="enumsortorder enumlabel")
def _pg_enum(ss):
    ety = ss._enum_types
    return [(float(i), lab) for name in sorted(ety)
            for i, lab in enumerate(ety[name], start=1)]


# ---- constraints -----------------------------------------------------------

def _constraints(ss) -> list[tuple]:
    """(conname, conrelid, contype, conkey, conbin): PKs, CHECKs, NOT
    NULL as contype 'n' rows (a PK column gets an auto-named one too),
    UNIQUE constraints as 'u' (unique INDEXES are absent by design) and
    FKs as 'f' (constraint_index_catalog.test)."""
    out = []
    for t, col in ss._pks.items():
        cols = list(col) if isinstance(col, tuple) else [col]
        out.append((ss._pk_names.get(t) or f"{t}_pkey", ss.relid(t), "p",
                    [_attnum(ss, t, c) for c in cols], None))
    for t, checks in ss._checks.items():
        for name, pred in checks.items():
            out.append((name, ss.relid(t), "c", [], str(pred)))
    for t in sorted(set(ss._not_null) | set(ss._pks)):
        if t not in ss._tables:
            continue
        for c in sorted(_not_null_cols(ss, t)):
            out.append((_nn_name(ss, t, c), ss.relid(t), "n",
                        [_attnum(ss, t, c)], None))
    for t, ucols in ss._uq_names.items():
        if t in ss._tables:
            for c, uname in sorted(ucols.items()):
                out.append((uname, ss.relid(t), "u", [_attnum(ss, t, c)],
                            None))
    for cname, (t, c, _rt, _rc) in ss._fks.items():
        if t in ss._tables:
            out.append((cname, ss.relid(t), "f", [_attnum(ss, t, c)],
                        None))
    return out


def _nn_name(ss, t: str, c: str) -> str:
    return ss._nn_names.get(t, {}).get(c) or f"{t}_{c}_not_null"


@builds("pg_constraint", cols="oid conname conrelid contype conkey conbin")
def _pg_constraint(ss):
    # every constraint row carries a nonzero oid
    # (pg_catalog_data.test:740)
    return [(30000 + i, *c) for i, c in enumerate(_constraints(ss))
            if c[1]]


@builds("information_schema_key_column_usage", cols="constraint_name"
        " table_schema table_name column_name ordinal_position")
def _is_key_column_usage(ss):
    rows = []
    for t, col in ss._pks.items():
        cols = list(col) if isinstance(col, tuple) else [col]
        pkn = ss._pk_names.get(t) or f"{t}_pkey"
        rows += [(pkn, "public", t, c, i)
                 for i, c in enumerate(cols, start=1)]
    return rows


@builds("information_schema_table_constraints", cols="constraint_name"
        " table_schema table_name constraint_type")
def _is_table_constraints(ss):
    """NOT NULL renders as a CHECK constraint in the SQL-standard view
    (pg_catalog_data.test:557)."""
    rows = [(f"{t}_pkey", "public", t, "PRIMARY KEY") for t in ss._pks]
    rows += [(name, "public", t, "CHECK")
             for t, checks in ss._checks.items() for name in checks]
    for t in ss._tables:
        for c in sorted(_not_null_cols(ss, t)):
            rows.append((_nn_name(ss, t, c), "public", t, "CHECK"))
    rows += [(cname, "public", t, "FOREIGN KEY")
             for cname, (t, *_rest) in ss._fks.items()]
    return rows


@builds("information_schema_referential_constraints",
        cols="constraint_name constraint_schema unique_constraint_name"
        " match_option update_rule delete_rule")
def _is_referential_constraints(ss):
    return [(cname, "public", f"{rt}_pkey", "NONE", "NO ACTION",
             "NO ACTION") for cname, (_t, _c, rt, _rc) in ss._fks.items()]


@builds("pg_attrdef", cols="adrelid adnum adbin")
def _pg_attrdef(ss):
    return [(ss.relid(t), _attnum(ss, t, c), repr(v))
            for t, cols in ss._col_defaults.items()
            for c, v in cols.items() if ss.relid(t)]


@builds("pg_depend", cols="objid refobjid deptype")
def _pg_depend(ss):
    """index→table and constraint→table edges — the dependency facts
    DROP ... CASCADE walks. deptype carries the dependency KIND word:
    PG's single-char codes are never value-pinned by the reference
    suites, and the kind is what introspection wants."""
    rows = []
    for name in ss._indexes:
        src = ss._index_sources.get(name)
        if src and src in ss._tables:
            rows.append((ss.relid(name), ss.relid(src), "index"))
    rows += [(ss.relid(t), ss.relid(t), "pkey") for t in ss._pks]
    rows += [(ss.relid(t), ss.relid(t), "check")
             for t, checks in ss._checks.items() for _ in checks]
    rows += [(ss.relid(t), ss.relid(rt), "fkey")
             for t, _c, rt, _rc in ss._fks.values()]
    return [r for r in rows if r[0]]


@builds("pg_policy", cols="oid polname polrelid polcmd polqual")
def _pg_policy(ss):
    """Row policies as catalog rows (reference rbac.cpp access
    predicates)."""
    return [(16700 + i, f"{t}_policy", ss.relid(t), "r", str(p))
            for i, (t, p) in enumerate(sorted(
                ss._row_policies.items(), key=lambda kv: kv[0]))]


# ---- namespaces, comments, objects -----------------------------------------

@builds("pg_namespace", cols="oid nspname nspowner nspacl")
def _pg_namespace(ss):
    """User schemas included (schema.test); public is droppable
    (pg_namespace.test:74)."""
    from serenedb_spark.functions.acl import objacl_for

    rows = [(11, "pg_catalog", 1000000, None),
            (1000003, "information_schema", 1000000, None)]
    if "public" in ss._schemas:
        rows.append((2200, "public", 1000000, None))
    rows += [(16000 + i, s, 1000000, objacl_for(ss, "schema", s))
             for i, s in enumerate(_user_schemas(ss))]
    return rows


@builds("information_schema_schemata",
        cols="catalog_name schema_name schema_owner")
def _is_schemata(ss):
    db = ss._current_db
    return [(db, s, "postgres") for s in (
        "pg_catalog", "information_schema",
        *(s for s in sorted(ss._schemas) if s != "main"))]


@builds("information_schema_information_schema_catalog_name",
        cols="catalog_name")
def _is_catalog_name(ss):
    return [("serene",)]


@builds("pg_description", cols="objoid description")
def _pg_description(ss):
    return [(ss.relid(obj), c) for obj, c in ss._comments.items()
            if c is not None and obj]


@builds("pg_proc", cols="oid proname pronargs proretset proacl")
def _pg_proc(ss):
    from serenedb_spark.functions.acl import objacl_for

    return [(16384 + i, name, params.count(",") + 1 if params else 0,
             is_table, objacl_for(ss, "function", name))
            for i, (name, (params, is_table, *_))
            in enumerate(ss._macros_meta.items())]


@builds("information_schema_routines", cols="routine_catalog"
        " routine_schema routine_name routine_type data_type")
def _is_routines(ss):
    from serenedb_spark.functions.pg_system import format_type

    rows = []
    for name, (params, is_table, *rest) in ss._macros_meta.items():
        rett = rest[2] if len(rest) >= 3 else None
        dt = ("SETOF record" if is_table
              else (format_type(str(rett).lower()) if rett else "scalar"))
        rows.append(("serene", "public", name, "FUNCTION", dt))
    return rows


@builds("pg_views", cols="schemaname viewname viewowner")
def _pg_views(ss):
    return [("public", n, "postgres") for n in sorted(ss._view_defs)]


@builds("information_schema_views", cols="table_catalog table_schema"
        " table_name view_definition")
def _is_views(ss):
    return [("serene", "public", n, d or "")
            for n, d in sorted(ss._view_defs.items())]


@builds("pg_sequences", cols="schemaname sequencename sequenceowner"
        " last_value increment_by min_value max_value cycle")
def _pg_sequences(ss):
    return [("public", name, "postgres", st["current"], st["increment"],
             st["min"], st["max"], st["cycle"])
            for name, st in ss.sequences._seqs.items()]


@builds("pg_sequence", cols="seqrelid seqstart seqincrement seqmin seqmax"
        " seqcycle")
def _pg_sequence(ss):
    """The catalog relation behind the pg_sequences view."""
    return [(ss.relid(n), st["start"], st["increment"], st["min"],
             st["max"], st["cycle"])
            for n, st in sorted(ss.sequences._seqs.items())
            if ss.relid(n)]


@builds("pg_prepared_statements", cols="name")
def _pg_prepared_statements(ss):
    return [(n,) for n in sorted(ss._prepared) if n]


# ---- privileges ------------------------------------------------------------

@builds("information_schema_table_privileges", cols="grantor grantee"
        " table_schema table_name privilege_type is_grantable")
def _is_table_privileges(ss):
    return [r for r in _privileges(ss)[0] if r[1]]


@builds("information_schema_column_privileges", cols="grantor grantee"
        " table_schema table_name column_name privilege_type is_grantable")
def _is_column_privileges(ss):
    return [r for r in _privileges(ss)[1] if r[1]]


def _privileges(ss) -> tuple[list, list]:
    """GRANT state (psql \\dp). A masked column is one the grantee
    cannot read in the clear, so it is EXCLUDED from column_privileges
    — the rule has_column_privilege enforces; column-scoped grants
    surface per column only (go_aclexplode.test)."""
    tprivs, cprivs = [], []
    for principal, tables in ss._grants.items():
        for t, privs in tables.items():
            for p in sorted(privs):
                if p.endswith("*"):
                    continue       # grant-option marker, not a priv
                gor = ss._grantors.get((principal, t), "postgres")
                gr8 = "YES" if p + "*" in privs else "NO"
                tprivs.append((gor, principal, "public", t, p, gr8))
                if t in ss._tables:
                    masked = set(ss._col_masks.get(t, {}))
                    cprivs += [(gor, principal, "public", t, c, p, gr8)
                               for c in ss._tables[t].columns
                               if c not in masked]
    for principal, tables in ss._col_grants.items():
        for t, pm in tables.items():
            gor = ss._grantors.get((principal, t), "postgres")
            cprivs += [(gor, principal, "public", t, c, p, "NO")
                       for p, cols in pm.items() for c in sorted(cols)]
    return tprivs, cprivs


# ---- roles -----------------------------------------------------------------

@builds("pg_authid", "pg_roles", cols="oid rolname rolsuper rolinherit"
        " rolcreaterole rolcreatedb rolcanlogin rolreplication"
        " rolbypassrls rolconnlimit rolpassword rolvaliduntil rolconfig")
def _authid(ss) -> list[tuple]:
    """The role store as pg_authid rows (any/pg/rbac/attributes.test);
    the password is masked."""
    ra = ss.role_attrs()
    rows = []
    for name in sorted(ra):
        a = ra[name]
        rows.append((
            a.get("oid", 0), name, bool(a.get("super")),
            bool(a.get("inherit", True)), bool(a.get("createrole")),
            bool(a.get("createdb")), bool(a.get("canlogin")),
            bool(a.get("replication")), bool(a.get("bypassrls")),
            int(a.get("connlimit", -1)),
            "********" if a.get("password") is not None else None,
            a.get("validuntil"), a.get("config") or None))
    return rows


@builds("pg_user", "pg_shadow", cols="usename usesysid usecreatedb"
        " usesuper userepl usebypassrls passwd valuntil useconfig")
def _pg_user(ss):
    """The LOGIN slice of pg_authid."""
    return [(r[1], r[0], r[5], r[2], r[7], r[8], r[10], r[11], r[12])
            for r in _authid(ss) if r[6]]


@builds("pg_auth_members", cols="oid roleid member grantor admin_option"
        " inherit_option set_option")
def _pg_auth_members(ss):
    """The membership edges with UNIQUE oids
    (catm_authmembers_oid_unique.test)."""
    ra = ss.role_attrs()
    rows = [(e.get("oid", 0), ra.get(r, {}).get("oid", 0),
             ra.get(m, {}).get("oid", 0),
             ra.get(e.get("grantor", "postgres"), {}).get("oid", 1000000),
             bool(e.get("admin")), True, True)
            for (r, m), e in sorted(ss._role_members.items())]
    return [r for r in rows if r[0]]


@builds("pg_group", cols="groname grosysid grolist")
def _pg_group(ss):
    ra = ss.role_attrs()
    return [(name, ra[name].get("oid", 0),
             sorted(ra.get(m, {}).get("oid", 0)
                    for (r, m) in ss._role_members if r == name))
            for name in sorted(ra) if name]


@builds("pg_default_acl", cols="oid defaclrole defaclnamespace"
        " defaclobjtype defaclacl")
def _pg_default_acl(ss):
    """ALTER DEFAULT PRIVILEGES rows: the acl seeds with the owner's
    acldefault self-grant, then grantees
    (cat_acl_columns_schema_defacl_type.test)."""
    from serenedb_spark.functions.acl import (OWNER_LETTERS, aclitem,
                                              letters_for)

    owner_letters = {"r": OWNER_LETTERS["table"],
                     "S": OWNER_LETTERS["sequence"],
                     "f": OWNER_LETTERS["function"],
                     "T": OWNER_LETTERS["type"],
                     "n": OWNER_LETTERS["schema"]}
    ra = ss.role_attrs()
    rows = []
    for i, ((owner, sch, objtype), ent) in enumerate(
            sorted(ss._default_acls.items()), start=1):
        items = [aclitem(owner, owner_letters.get(objtype, ""), owner)]
        for g, pm in sorted(ent.items()):
            letters = letters_for(pm)
            if letters:
                items.append(aclitem(g, letters, owner))
        rows.append((17000 + i, ra.get(owner, {}).get("oid", 1000000),
                     0 if sch is None else 2200, objtype, items))
    return rows


@builds("pg_db_role_setting", cols="setdatabase setrole setconfig")
def _pg_db_role_setting(ss):
    """Per-role GUC settings (ALTER ROLE ... SET guc): one row per role,
    setdatabase = 0 (cat_role_attrs_vedernikoff.test)."""
    return [(0, a.get("oid", 0), list(a.get("config") or ()))
            for a in ss.role_attrs().values()
            if a.get("config") and a.get("oid", 0)]


# ---- settings, activity, statistics ----------------------------------------

@builds("pg_settings", cols="name setting short_desc")
def _pg_settings(ss):
    """The live Spark conf, PG's standard settings, then the session's
    own variables."""
    conf = [(r.key, r.value, "") for r in ss.spark.sql("SET").collect()]
    live = [(k, str(v), PG_SETTINGS_LIVE_DESC.get(k, ""))
            for k, v in sorted(ss._pg_vars_store.items())]
    return conf + list(PG_SETTINGS_ROWS) + live


@builds("sdb_settings", cols="name setting unit category vartype context"
        " boot_val reset_val min_val max_val pending_restart")
def _sdb_settings(ss):
    """The engine knobs in pg_settings' shape — io_threads is auto-sized
    at boot while boot_val/reset_val stay the compile-time 0 = "auto"
    (sdb_settings.test)."""
    nthreads = str(ss.spark.sparkContext.defaultParallelism)
    eng = [("io_threads", nthreads, "integer", "0", "0")] + [
        (k, str(v), "integer" if str(v).lstrip("-").isdigit()
         else "string", str(v), str(v))
        for k, v in sorted(ss._variables.items())]
    return [(n, v, None, None, vt, "postmaster", bv, rv, None, None, False)
            for n, v, vt, bv, rv in eng]


@builds("pg_stat_activity", cols="pid usename state query")
def _pg_stat_activity(ss):
    return [(os.getpid(), ss.current_user or "postgres", "active",
             ss._last_query)]


@builds("pg_locks", cols="relation mode granted")
def _pg_locks(ss):
    """The virtual locks of the single-session engine: relation
    AccessShareLocks while a transaction block is open, else none — PG
    shows held-until-commit locks the same way."""
    if ss._txn_backup is None:
        return []
    return [(ss.relid(t), "AccessShareLock", True)
            for t in sorted(ss._tables) if ss.relid(t)]


@builds("pg_stat_user_tables", cols="relid relname n_live_tup")
def _pg_stat_user_tables(ss):
    """n_live_tup stays -1 (unknown) until ANALYZE records it — no count
    job here; PG's own numbers are also estimates refreshed by
    ANALYZE."""
    return [(ss.relid(t), t, ss._analyze_stats.get(t, -1.0))
            for t in ss._tables if ss.relid(t)]


@builds("pg_stat_user_indexes",
        cols="relid indexrelid relname indexrelname")
def _pg_stat_user_indexes(ss):
    rows = []
    for name in ss._indexes:
        src = ss._index_sources.get(name)
        rows.append((ss.relid(src) if src else 0, ss.relid(name),
                     src or "", name))
    return [r for r in rows if r[1]]


# ---- fixed rows ------------------------------------------------------------

@builds("pg_database", cols="oid datname datdba encoding datacl")
def _pg_database(ss):
    """The current database, then `postgres` — the shared-catalog
    bootstrap database GRANT ON DATABASE lands on
    (cat_acl_columns_db_func.test) — then every other database."""
    from serenedb_spark.functions.acl import objacl_for

    names = dict.fromkeys([ss._current_db, "postgres",
                           *sorted(ss._databases)])
    return [(i, n, 1000000, "UTF8", objacl_for(ss, "database", n))
            for i, n in enumerate(names, start=1)]


@builds("pg_ts_dict", cols="oid dictname dictnamespace dictowner")
def _pg_ts_dict(ss):
    """The live dictionary registry."""
    from serenedb_spark.analysis import analyzers

    return [(17000 + i, d, 11, 1000000)
            for i, d in enumerate(sorted(analyzers._REGISTRY))]


def _fixed(name: str, cols: str, rows: list) -> None:
    builds(name, cols=cols)(lambda ss: rows)


_fixed("pg_am", "oid amname amtype",
       [(16384, "inverted", "i"), (2, "iresearch", "t"),
        (403, "secondary", "i")])
_fixed("pg_extension", "oid extname extversion",
       [(16384, "serene_spark", "1.0")])
_fixed("pg_collation", "oid collname collprovider",
       [(100, "default", "libc"), (950, "C", "libc")])
_fixed("pg_tablespace", "oid spcname spcowner",
       [(1663, "pg_default", 1000000), (1664, "pg_global", 1000000)])
_fixed("pg_language", "oid lanname lanispl lanpltrusted",
       [(12, "internal", False, False), (14, "sql", False, True)])
# the comparison AND search operator surface — `@@`, `##`, `<=>`
# documented in the catalog exactly like the reference registers its
# claimed operators
_fixed("pg_operator", "oid oprname oprkind",
       [(16500 + i, name, kind) for i, (name, kind) in enumerate([
           ("=", "b"), ("<>", "b"), ("<", "b"), ("<=", "b"), (">", "b"),
           (">=", "b"), ("+", "b"), ("-", "b"), ("*", "b"), ("/", "b"),
           ("||", "b"), ("@@", "b"), ("##", "b"), ("&&", "b"),
           ("!!", "l"), ("^", "b"), ("<=>", "b"), ("<->", "b"),
           ("<#>", "b")])])
_fixed("pg_aggregate", "aggfnoid aggkind",
       [(16600 + i, "n") for i, _a in enumerate(
           "count sum avg min max stddev variance corr string_agg"
           " array_agg bool_and bool_or percentile_cont percentile_disc"
           " mode".split())])
_fixed("pg_ts_config", "oid cfgname cfgnamespace",
       [(3722, "default", 11), (3748, "simple", 11)])
_fixed("pg_ts_parser", "oid prsname prsnamespace", [(3719, "default", 11)])
_fixed("pg_ts_template", "oid tmplname tmplnamespace",
       [(3727, "simple", 11), (3733, "snowball", 11),
        (3742, "synonym", 11), (3743, "thesaurus", 11)])
