"""PG session-information and privilege-probe functions as rewrite-time
folds (any/pg/system/functions-info.test, system_functions_types.test).

These are metadata functions over driver-side session state — no data
path runs through them, so folding to literals keeps the whole query
inside Catalyst. Privilege probes consult the session's real GRANT
state for non-superuser principals (the rbac suites depend on that);
the default single-role context answers TRUE like PG's superuser."""

from __future__ import annotations

import re

#: fn name → constant SQL replacement (PG defaults for an embedded,
#: single-backend engine)
INFO_FN_FOLDS = {
    "pg_my_temp_schema": "0",
    "pg_is_other_temp_schema": "false",
    "pg_jit_available": "false",
    "pg_numa_available": "false",
    "pg_postmaster_start_time": "current_timestamp()",
    "pg_safe_snapshot_blocking_pids": "'{}'",
    "pg_blocking_pids": "'{}'",
    "pg_trigger_depth": "0",
    "pg_current_logfile": "CAST(NULL AS STRING)",
    "inet_client_addr": "CAST(NULL AS STRING)",
    "inet_client_port": "CAST(NULL AS INT)",
    "inet_server_addr": "CAST(NULL AS STRING)",
    "inet_server_port": "CAST(NULL AS INT)",
    "pg_backend_pid": "42",
    "row_security_active": "false",
    "pg_function_is_visible": "CAST(NULL AS BOOLEAN)",
    "pg_type_is_visible": "CAST(NULL AS BOOLEAN)",
    "pg_operator_is_visible": "true",
    "pg_opclass_is_visible": "true",
    "pg_opfamily_is_visible": "true",
    "pg_collation_is_visible": "true",
    "pg_conversion_is_visible": "true",
    "pg_statistics_obj_is_visible": "true",
    "pg_ts_config_is_visible": "true",
    "pg_ts_dict_is_visible": "true",
    "pg_ts_parser_is_visible": "true",
    "pg_ts_template_is_visible": "true",
    "pg_get_constraintdef": "''",
    "pg_get_functiondef": "''",
    "pg_get_function_arguments": "''",
    "pg_get_function_identity_arguments": "''",
    "pg_get_function_result": "''",
    "pg_get_indexdef": "''",
    "pg_get_partkeydef": "''",
    "pg_get_ruledef": "''",
    "pg_get_statisticsobjdef": "''",
    "pg_get_triggerdef": "''",
    "pg_get_viewdef": "''",
    "pg_describe_object": "''",
    "pg_get_serial_sequence": "CAST(NULL AS STRING)",
    "pg_index_column_has_property": "false",
    "pg_index_has_property": "false",
    "pg_indexam_has_property": "false",
    "pg_settings_get_flags": "'{}'",
    "to_regclass": "CAST(NULL AS STRING)",
    "to_regcollation": "CAST(NULL AS STRING)",
    "to_regnamespace": "CAST(NULL AS STRING)",
    "to_regoper": "CAST(NULL AS STRING)",
    "to_regoperator": "CAST(NULL AS STRING)",
    "to_regproc": "CAST(NULL AS STRING)",
    "to_regprocedure": "CAST(NULL AS STRING)",
    "to_regrole": "CAST(NULL AS STRING)",
    "to_regtype": "CAST(NULL AS STRING)",
    "col_description": "CAST(NULL AS STRING)",
    "obj_description": "CAST(NULL AS STRING)",
    "shobj_description": "CAST(NULL AS STRING)",
    "pg_input_is_valid": "true",
    "pg_column_compression": "CAST(NULL AS STRING)",
    "pg_column_size": "CAST(NULL AS INT)",
    "unicode_version": "'15.1.0'",
    "icu_unicode_version": "'73'",
}

#: functions the reference REFUSES with a pinned message
INFO_FN_REFUSED = (
    "pg_get_loaded_modules", "pg_listening_channels",
    "pg_current_xact_id", "pg_xact_status",
    "makeaclitem", "pg_basetype", "pg_get_catalog_foreign_keys",
    "pg_get_keywords", "pg_options_to_table",
    "pg_tablespace_databases", "pg_get_acl", "pg_identify_object",
    "pg_identify_object_as_address", "pg_get_object_address",
    "pg_input_error_info", "pg_current_xact_id_if_assigned",
    "pg_current_snapshot", "pg_snapshot_xip", "pg_snapshot_xmax",
    "pg_snapshot_xmin", "pg_visible_in_snapshot",
    "pg_get_multixact_members", "pg_get_multixact_stats",
    "txid_current", "txid_current_if_assigned",
    "txid_current_snapshot", "txid_snapshot_xip", "txid_snapshot_xmax",
    "txid_snapshot_xmin", "txid_visible_in_snapshot", "txid_status",
    "pg_xact_commit_timestamp_origin", "pg_last_committed_xact",
    "pg_control_checkpoint", "pg_control_system", "pg_control_init",
    "pg_control_recovery", "pg_available_wal_summaries",
    "pg_wal_summary_contents", "pg_get_wal_summarizer_state",
)

#: privilege probes that always answer from role identity alone
_SIMPLE_PRIVS = (
    "has_schema_privilege", "has_database_privilege",
    "has_function_privilege", "has_language_privilege",
    "has_type_privilege", "has_sequence_privilege",
    "has_server_privilege", "has_tablespace_privilege",
    "has_foreign_data_wrapper_privilege", "has_parameter_privilege",
    "has_largeobject_privilege", "pg_has_role",
)

_ANY_FOLD_RE = re.compile(
    r"\b(" + "|".join(list(INFO_FN_FOLDS) + list(INFO_FN_REFUSED)
                      + list(_SIMPLE_PRIVS)
                      + ["has_table_privilege", "has_column_privilege",
                         "has_any_column_privilege", "acldefault",
                         "pg_get_userbyid", "format_type"]) + r")\s*\(",
    re.IGNORECASE)

#: aclitem privilege-letter → PG privilege name (acl.h)
_ACL_PRIV_NAMES = (
    ("a", "INSERT"), ("r", "SELECT"), ("w", "UPDATE"),
    ("d", "DELETE"), ("D", "TRUNCATE"), ("x", "REFERENCES"),
    ("t", "TRIGGER"), ("X", "EXECUTE"), ("U", "USAGE"),
    ("C", "CREATE"), ("T", "TEMPORARY"), ("c", "CONNECT"),
    ("s", "SET"), ("A", "ALTER SYSTEM"), ("m", "MAINTAIN"),
)


def _role_oid_case(session, name_expr: str) -> str:
    """Role NAME expression → oid (rewrite-time role map; PUBLIC=0)."""
    ra = session.role_attrs()
    whens = " ".join(f"WHEN '{r}' THEN {a.get('oid', 0)}"
                     for r, a in sorted(ra.items()))
    return f"(CASE ({name_expr}) {whens} ELSE 0 END)"


def _role_name_case(session, oid_expr: str) -> str:
    """Role OID expression → name (pg_get_userbyid over a column)."""
    ra = session.role_attrs()
    whens = " ".join(f"WHEN {a.get('oid', 0)} THEN '{r}'"
                     for r, a in sorted(ra.items()))
    return (f"(CASE ({oid_expr}) {whens} "
            f"ELSE concat('unknown (OID=', ({oid_expr}), ')') END)")


def rewrite_aclexplode(session, q: str) -> str:
    """`FROM t, aclexplode(E)` (go_aclexplode.test): lower to a double
    LATERAL VIEW — explode the aclitem array, then each item's
    privilege letters — and substitute the SRF's output columns
    (grantor, grantee, privilege_type, is_grantable) with expressions
    over the exploded item. One aclitem with several letters yields one
    row per privilege, exactly like PG's set-returning aclexplode."""
    if not re.search(r"\baclexplode\s*\(", q, re.IGNORECASE):
        return q
    m = re.search(r",\s*aclexplode\s*\(([^()]*)\)(\s+AS\s+\w+"
                  r"(\s*\([^()]*\))?)?", q, re.IGNORECASE)
    if m is None:
        raise ValueError(
            "aclexplode() is only supported as a FROM-list item")
    arr = m.group(1).strip()
    if not arr:
        raise ValueError("aclexplode() requires an acl array argument")
    lat = (
        f" LATERAL VIEW explode({arr}) _sdbacl AS _aclitem"
        f" LATERAL VIEW explode(regexp_extract_all("
        f"element_at(split(element_at(split(_aclitem, '/'), 1),"
        f" '='), 2), '([a-zA-Z]\\\\*?)', 1)) _sdbaclp AS _aclpriv")
    q = q[:m.start()] + lat + q[m.end():]
    priv_case = " ".join(
        f"WHEN '{letter}' THEN '{name}'"
        for letter, name in _ACL_PRIV_NAMES)
    subs = {
        "privilege_type": (f"(CASE substring(_aclpriv, 1, 1) "
                           f"{priv_case} END)"),
        "is_grantable": "(_aclpriv LIKE '%*')",
        "grantee": _role_oid_case(
            session, "element_at(split(_aclitem, '='), 1)"),
        "grantor": _role_oid_case(
            session, "element_at(split(_aclitem, '/'), 2)"),
    }
    for word, rep in subs.items():
        def _sub(mm, word=word, rep=rep):
            before = q0[:mm.start()].rstrip()
            after = q0[mm.end():].lstrip()
            if (re.search(r"(SELECT|,)\s*$", before, re.IGNORECASE)
                    and re.match(r"($|,|;|FROM\b)", after,
                                 re.IGNORECASE)):
                return f"{rep} AS {word}"
            return rep
        q0 = q
        q = re.sub(rf"(?<![\w.']){word}\b", _sub, q)
    return q


def _args(text: str) -> list[str]:
    """Split a simple (no nested parens beyond one level) arg list."""
    parts = []
    depth = 0
    cur = []
    for ch in text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _strip(a: str) -> str:
    a = a.strip()
    a = re.sub(r"::\s*[a-z_0-9]+\s*$", "", a, flags=re.IGNORECASE)
    a = a.strip()
    if a.startswith("'") and a.endswith("'"):
        a = a[1:-1].replace("''", "'")
    return a


def fold_info_functions(session, q: str) -> str:
    q = rewrite_aclexplode(session, q)
    if not _ANY_FOLD_RE.search(q):
        return q
    for fn in INFO_FN_REFUSED:
        if re.search(rf"\b{fn}\s*\(", q, re.IGNORECASE):
            raise ValueError("Function is not supported in SereneDB")

    me = session.current_user or "postgres"

    def _principal(a: str) -> str:
        """A role name, or any numeric role oid (the single-backend
        bootstrap superuser) → the session's role."""
        v = _strip(a)
        if re.fullmatch(r"\d+", v):
            return "postgres" if v in ("10", "1000000") else me
        if v.lower() in ("current_user", "session_user"):
            return me
        # an oid-subquery principal: (SELECT oid FROM pg_authid WHERE
        # rolname = 'x') — the role the subquery names
        sm = re.search(r"rolname\s*=\s*'([^']*)'", v, re.IGNORECASE)
        if sm:
            return sm.group(1)
        if v.upper().lstrip("(").lstrip().startswith("SELECT"):
            return me
        return v

    def _fold_call(fn: str, args: list[str]) -> str:
        low = fn.lower()
        if low in INFO_FN_FOLDS:
            return INFO_FN_FOLDS[low]
        if low == "format_type":
            oid_names = {
                "16": "boolean", "17": "bytea", "20": "bigint",
                "21": "smallint", "23": "integer", "25": "text",
                "700": "real", "701": "double precision",
                "1042": "character", "1043": "character varying",
                "1082": "date",
                "1114": "timestamp without time zone",
                "1700": "numeric",
            }
            v = _strip(args[0]) if args else ""
            if re.fullmatch(r"\d+", v):
                return f"'{oid_names.get(v, '???')}'"
            # column operand: a runtime oid→name CASE
            branches = " ".join(
                f"WHEN {o} THEN '{n2}'"
                for o, n2 in sorted(oid_names.items(), key=lambda x:
                                    int(x[0])))
            return f"(CASE ({v}) {branches} ELSE 'text' END)"
        if low == "pg_get_userbyid":
            v = _strip(args[0]) if args else "0"
            if re.fullmatch(r"\d+", v):
                ra = session.role_attrs()
                hit = next((r for r, a in ra.items()
                            if str(a.get("oid")) == v), None)
                if hit is not None:
                    return f"'{hit}'"
                if v == "1000000":
                    return "'postgres'"
                return f"'unknown (OID={v})'"
            if v.lower() in ("current_user", "session_user") or \
                    v.upper().lstrip("(").lstrip().startswith(
                        "SELECT"):
                return f"'{me}'"
            # column operand (aclexplode output): runtime oid→name CASE
            return _role_name_case(session, v)
        if low == "acldefault":
            from serenedb_spark.functions.acl import acldefault
            cls = _strip(args[0]) if args else "r"
            ov = _strip(args[1]) if len(args) > 1 else "1000000"
            owner = "postgres"
            if re.fullmatch(r"\d+", ov):
                ra = session.role_attrs()
                owner = next((r for r, a in ra.items()
                              if str(a.get("oid")) == ov), ov)
                if ov == "1000000":
                    owner = "postgres"
            txt = acldefault(cls, owner)
            items = txt[1:-1].split(",") if len(txt) > 2 else []
            arr = "array(" + ", ".join(f"'{i}'" for i in items) + ")"
            return arr
        if low in _SIMPLE_PRIVS:
            # object-privilege probes over the object-grant store.
            # PUBLIC defaults apply while the acl is NULL (not yet
            # materialized by any GRANT/REVOKE): database CONNECT/TEMP,
            # function EXECUTE, language/type USAGE, schema public
            # USAGE (cat_acl_columns_db_func.test)
            if len(args) >= 3:
                principal, obj, priv = (_principal(args[0]),
                                        _strip(args[1]),
                                        _strip(args[2]))
            elif len(args) == 2:
                principal, obj, priv = me, _strip(args[0]), \
                    _strip(args[1])
            else:
                return "true"
            if low == "pg_has_role":
                ok = session.pg_has_role(principal, obj,
                                         priv.upper())
                return "true" if ok else "false"
            if session._is_superuser(principal):
                return "true"
            kind = low[len("has_"):-len("_privilege")]
            kind = {"foreign_data_wrapper": "fdw"}.get(kind, kind)
            obj = re.sub(r"\(.*\)$", "", obj).strip()
            og = session._obj_grants
            key = (kind, obj)
            pub_default = {
                "database": ("CONNECT", "TEMPORARY", "TEMP"),
                "function": ("EXECUTE",),
                "language": ("USAGE",),
                "type": ("USAGE",),
                "schema": (("USAGE",) if obj == "public" else ()),
            }.get(kind, ())
            wanted = [w.strip().upper()
                      for w in priv.upper().split(",")]
            gm = og.get(key)
            principals = session._privilege_principals(principal)
            for w in wanted:
                w0 = w.replace(" WITH GRANT OPTION", "")
                if gm is None:
                    if w0 in pub_default or (
                            kind == "database"
                            and w0 in ("CONNECT", "TEMPORARY")):
                        return "true"
                    continue
                for p2 in principals:
                    ent = gm.get(p2) or gm.get(p2.lower()) or {}
                    if w0 in ent or ("TEMP" if w0 == "TEMPORARY"
                                     else w0) in ent:
                        return "true"
            return "false"
        if low == "has_table_privilege" or \
                low == "has_any_column_privilege":
            if len(args) >= 3:
                principal, table, priv = (
                    _principal(args[0]), _strip(args[1]),
                    _strip(args[2]))
            else:
                principal, table, priv = me, _strip(args[0]), \
                    _strip(args[1])
            if principal in (me, "postgres"):
                return "true"
            ok = any(session.has_table_privilege(principal, table, p)
                     for p in re.split(r"\s*,\s*", priv.upper()))
            return "true" if ok else "false"
        if low == "has_column_privilege":
            if len(args) >= 4:
                principal = _principal(args[0])
                table, col, priv = (_strip(args[1]), _strip(args[2]),
                                    _strip(args[3]))
            else:
                principal = me
                table, col, priv = (_strip(args[0]), _strip(args[1]),
                                    _strip(args[2]))
            if principal in (me, "postgres"):
                return "true"
            if re.fullmatch(r"\d+", col):
                ok = session.has_table_privilege(principal, table,
                                                 priv.upper())
            else:
                ok = session.has_column_privilege(principal, table,
                                                  col, priv.upper())
            return "true" if ok else "false"
        return None

    out = []
    pos = 0
    while True:
        m = _ANY_FOLD_RE.search(q, pos)
        if m is None:
            out.append(q[pos:])
            break
        fn = m.group(1)
        depth = 0
        k = m.end() - 1
        close = None
        while k < len(q):
            c = q[k]
            if c == "'":
                k += 1
                while k < len(q) and q[k] != "'":
                    k += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    close = k
                    break
            k += 1
        if close is None:
            out.append(q[pos:])
            break
        start = m.start()
        # a pg_catalog. qualifier folds with the call
        qual = re.search(r"pg_catalog\s*\.\s*$", q[:start],
                         re.IGNORECASE)
        if qual:
            start = qual.start()
        elif start > 0 and q[start - 1] in "._\"":
            out.append(q[pos:m.end()])
            pos = m.end()
            continue
        rep = _fold_call(fn, _args(q[m.end():close]))
        if rep is None:
            out.append(q[pos:close + 1])
            pos = close + 1
            continue
        out.append(q[pos:start])
        out.append(rep)
        # PG titles a bare select item after the function, even under
        # a trailing cast (functions.test:63 in_search_path)
        after = q[close + 1:]
        cm = re.match(r"\s*::\s*[a-z_0-9]+(\s*\[\s*\])?", after,
                      re.IGNORECASE)
        extra = 0
        if cm:
            if not (rep.startswith("array(") or cm.group(1)):
                # an array-valued fold (acldefault) swallows its
                # ::text[] cast — the value is already array<string>
                out.append(cm.group(0))
            extra = cm.end()
        before2 = q[:start].rstrip()
        after2 = after[extra:].lstrip()
        if (re.search(r"(SELECT|,)\s*$", before2, re.IGNORECASE)
                and re.match(r"($|,|;|FROM\b)", after2, re.IGNORECASE)):
            out.append(f" AS {fn.lower()}")
        pos = close + 1 + extra
    return "".join(out)
