"""PG aclitem rendering over the session grant stores.

The reference surfaces PostgreSQL's ACL text forms byte-identically
(any/pg/rbac/cat_acl*.test, cp_column_grant_matrix.test): relacl /
attacl / datacl / proacl columns render as `{grantee=letters/grantor}`
arrays with PG's canonical letter order (aclitemout, acl.c), and
acldefault() produces the per-object-class default list with the
PUBLIC entry first.
"""

from __future__ import annotations

#: aclitemout's canonical letter order per privilege (PG acl.h)
ACL_LETTERS = (
    ("INSERT", "a"), ("SELECT", "r"), ("UPDATE", "w"),
    ("DELETE", "d"), ("TRUNCATE", "D"), ("REFERENCES", "x"),
    ("TRIGGER", "t"), ("EXECUTE", "X"), ("USAGE", "U"),
    ("CREATE", "C"), ("TEMPORARY", "T"), ("CONNECT", "c"),
    ("SET", "s"), ("ALTER SYSTEM", "A"), ("MAINTAIN", "m"),
)

#: the owner's implicit full-privilege letters per object class
OWNER_LETTERS = {
    "table": "arwdDxtm", "sequence": "rwU", "database": "CTc",
    "function": "X", "language": "U", "schema": "UC",
    "tablespace": "C", "type": "U", "largeobject": "rw",
    "namespace": "UC", "parameter": "sA",
}

#: acldefault() object-class letters: (public_letters, owner_letters)
_DEFAULT_ACL = {
    "c": ("", "arwx"),       # column
    "r": ("", "arwdDxtm"),   # relation
    "s": ("", "rwU"),        # sequence
    "d": ("Tc", "CTc"),      # database: PUBLIC gets TEMP+CONNECT
    "f": ("X", "X"),         # function: PUBLIC gets EXECUTE
    "l": ("U", "U"),         # language: PUBLIC gets USAGE
    "L": ("", "rw"),         # large object
    "n": ("U", "UC"),        # schema (PG 15+: PUBLIC keeps USAGE)
    "t": ("", "C"),          # tablespace
    "T": ("U", "U"),         # type: PUBLIC gets USAGE
    "p": ("", "sA"),         # parameter
}


def letters_for(privs, object_class: str = "table") -> str:
    """Canonical letter string for a set of privilege names; a
    `PRIV*` entry (grant option) renders as the letter + '*'."""
    base = {p for p in privs if not p.endswith("*")}
    opts = {p[:-1] for p in privs if p.endswith("*")}
    out = []
    for name, letter in ACL_LETTERS:
        if name in base:
            out.append(letter + ("*" if name in opts else ""))
    return "".join(out)


def aclitem(grantee: str, letters: str, grantor: str) -> str:
    """One aclitem text: PUBLIC renders as the empty grantee."""
    g = "" if grantee.lower() == "public" else grantee
    return f"{g}={letters}/{grantor}"


def acl_array(items) -> list | None:
    """acl columns are array<string> of aclitem texts — `::text[]` is
    then a no-op and `::text` renders PG's `{...}` form via the
    dialect's acl-cast rewrite."""
    items = [i for i in items if i]
    return items if items else None


def relacl_for(session, table: str) -> list | None:
    """pg_class.relacl: NULL until the first grant; then the owner's
    implicit entry followed by each grantee's letters (PG order)."""
    grants = session._grants
    grantors = session._grantors
    owner = session._table_owner(table)
    entries = []
    for principal in grants:
        privs = grants.get(principal, {}).get(table) or ()
        if not privs:
            continue
        letters = letters_for(privs)
        if letters:
            entries.append(aclitem(
                principal, letters,
                grantors.get((principal, table), owner)))
    if not entries:
        return None
    return acl_array(
        [aclitem(owner, OWNER_LETTERS["table"], owner)] + entries)


def attacl_for(session, table: str, column: str) -> list | None:
    """pg_attribute.attacl from the per-column grant store."""
    cg = session._col_grants
    grantors = session._grantors
    owner = session._table_owner(table)
    entries = []
    for principal in cg:
        pm = cg.get(principal, {}).get(table, {})
        privs = {p for p, cols in pm.items() if column in cols}
        if not privs:
            continue
        letters = letters_for(privs)
        if letters:
            entries.append(aclitem(
                principal, letters,
                grantors.get((principal, table), owner)))
    return acl_array(entries)


def objacl_for(session, kind: str, name: str,
               owner: str = "postgres") -> list | None:
    """datacl / proacl / nspacl from the object-grant store. NULL
    until the acl is materialized (first GRANT or REVOKE touch — PG's
    REVOKE FROM PUBLIC instantiates the default minus PUBLIC); then
    the owner's implicit entry leads."""
    og = session._obj_grants
    if (kind, name) not in og:
        return None
    gm = og[(kind, name)]
    entries = []
    for grantee, pm in gm.items():
        letters = letters_for(set(pm))
        if letters:
            grantor = next(iter(pm.values()), owner)
            entries.append(aclitem(grantee, letters, grantor))
    return acl_array(
        [aclitem(owner, OWNER_LETTERS.get(kind, ""), owner)]
        + entries)


def acldefault(object_class: str, owner: str) -> str:
    """PG acldefault(type, ownerid) text form — the PUBLIC entry
    precedes the owner entry (cat_acldefault_render.test)."""
    pub, own = _DEFAULT_ACL.get(object_class, ("", ""))
    items = []
    if pub:
        items.append(f"={pub}/{owner}")
    if own:
        items.append(f"{owner}={own}/{owner}")
    return "{" + ",".join(items) + "}"
