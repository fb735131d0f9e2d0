"""Access entities on the SQL surface: CREATE/DROP USER and ROLE,
GRANT/REVOKE (privileges and roles), SHOW GRANTS/USERS/ROLES.

Reference: `src/Interpreters/Access/InterpreterCreateUserQuery.cpp`,
`InterpreterCreateRoleQuery.cpp`, `InterpreterGrantQuery.cpp`,
`InterpreterShowGrantsQuery.cpp`, `InterpreterShowAccessEntitiesQuery
.cpp`; the live objects surface through system.users / system.roles /
system.grants / system.role_grants exactly like the reference's
Access registry does.

Scope (documented): a SESSION-scoped metadata registry — the engine
delegates ENFORCEMENT to the lakehouse catalog (the deployment
reality for a Spark library engine; system.privileges already states
every access type as not-enforced-here). What this gives a migrating
user is their setup scripts running verbatim and the same
introspection results.
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class UserDef:
    name: str
    auth_type: str = "no_password"


@dataclass
class GrantDef:
    grantee: str           # user or role name
    access_type: str       # 'SELECT', 'INSERT', ..., or 'ALL'
    database: str          # '*' or db name
    table: str             # '*' or table name
    grant_option: bool = False


@dataclass
class RoleGrantDef:
    user: str
    role: str
    admin_option: bool = False


@dataclass
class AccessRegistry:
    users: dict = field(default_factory=lambda: {"default": UserDef("default")})
    roles: dict = field(default_factory=dict)
    grants: list = field(default_factory=list)
    role_grants: list = field(default_factory=list)


REGISTRY = AccessRegistry()

_PRIVS = {
    "SELECT", "INSERT", "ALTER", "CREATE", "DROP", "TRUNCATE", "OPTIMIZE",
    "SHOW", "KILL QUERY", "ACCESS MANAGEMENT", "SYSTEM", "INTROSPECTION",
    "SOURCES", "DICTGET", "ALL",
}


def reset() -> None:
    global REGISTRY
    REGISTRY = AccessRegistry()


def _err(msg: str):
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

    raise ChSqlError(msg)


def _parse_on(target: str) -> tuple[str, str]:
    target = target.strip()
    if target == "*.*":
        return "*", "*"
    if "." in target:
        db, _, tbl = target.partition(".")
        return db.strip(), tbl.strip()
    return "default", target


def handle_access_statement(spark, sql: str):
    """Route one access statement; returns a DataFrame or None when
    the statement is not an access statement."""
    from clickhouse_25_5_3_75_stable_spark.sources.catalog import local_rows

    s = sql.strip().rstrip(";")

    m = re.match(r"(?is)^CREATE\s+(USER|ROLE)\s+(IF\s+NOT\s+EXISTS\s+)?"
                 r"([A-Za-z_]\w*)"
                 r"(?:\s+IDENTIFIED\s+(?:WITH\s+(\w+)|BY\s+'[^']*'))?\s*$", s)
    if m:
        kind, ine, name, auth = (m.group(1).upper(), m.group(2),
                                 m.group(3), m.group(4))
        reg = REGISTRY.users if kind == "USER" else REGISTRY.roles
        if name in reg:
            if not ine:
                _err(f"{kind} {name!r} already exists "
                     f"(use IF NOT EXISTS)")
        elif kind == "USER":
            reg[name] = UserDef(
                name, auth.lower() if auth else
                ("sha256_password" if "IDENTIFIED BY" in s.upper()
                 or re.search(r"(?i)IDENTIFIED\s+BY", s) else "no_password"))
        else:
            reg[name] = {}
        return local_rows(spark, [("OK",)], "created string")

    m = re.match(r"(?is)^DROP\s+(USER|ROLE)\s+(IF\s+EXISTS\s+)?"
                 r"([A-Za-z_]\w*)\s*$", s)
    if m:
        kind, ife, name = m.group(1).upper(), m.group(2), m.group(3)
        reg = REGISTRY.users if kind == "USER" else REGISTRY.roles
        if name not in reg:
            if not ife:
                _err(f"unknown {kind} {name!r}")
        else:
            if kind == "USER" and name == "default":
                _err("cannot drop the default user")
            del reg[name]
            REGISTRY.grants = [g for g in REGISTRY.grants
                               if g.grantee != name]
            REGISTRY.role_grants = [
                rg for rg in REGISTRY.role_grants
                if rg.user != name and rg.role != name]
        return local_rows(spark, [("OK",)], "dropped string")

    m = re.match(r"(?is)^GRANT\s+(.+?)\s+ON\s+(\S+)\s+TO\s+"
                 r"([A-Za-z_]\w*)(\s+WITH\s+GRANT\s+OPTION)?\s*$", s)
    if m:
        privs = [p.strip().upper() for p in m.group(1).split(",")]
        bad = [p for p in privs if p not in _PRIVS]
        if bad:
            _err(f"unknown privilege(s) {bad} "
                 f"(known: {sorted(_PRIVS)})")
        grantee = m.group(3)
        if grantee not in REGISTRY.users and grantee not in REGISTRY.roles:
            _err(f"unknown grantee {grantee!r} — CREATE USER/ROLE first")
        db, tbl = _parse_on(m.group(2))
        for p in privs:
            g = GrantDef(grantee, p, db, tbl, bool(m.group(4)))
            if not any(x == g for x in REGISTRY.grants):
                REGISTRY.grants.append(g)
        return local_rows(spark, [("OK",)], "granted string")

    m = re.match(r"(?is)^GRANT\s+([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)"
                 r"(\s+WITH\s+ADMIN\s+OPTION)?\s*$", s)
    if m:
        role, user = m.group(1), m.group(2)
        if role not in REGISTRY.roles:
            _err(f"unknown role {role!r}")
        if user not in REGISTRY.users:
            _err(f"unknown user {user!r}")
        rg = RoleGrantDef(user, role, bool(m.group(3)))
        if not any(x == rg for x in REGISTRY.role_grants):
            REGISTRY.role_grants.append(rg)
        return local_rows(spark, [("OK",)], "granted string")

    m = re.match(r"(?is)^REVOKE\s+(.+?)\s+ON\s+(\S+)\s+FROM\s+"
                 r"([A-Za-z_]\w*)\s*$", s)
    if m:
        privs = [p.strip().upper() for p in m.group(1).split(",")]
        db, tbl = _parse_on(m.group(2))
        before = len(REGISTRY.grants)
        REGISTRY.grants = [
            g for g in REGISTRY.grants
            if not (g.grantee == m.group(3) and g.access_type in privs
                    and g.database == db and g.table == tbl)]
        if len(REGISTRY.grants) == before:
            _err(f"nothing to revoke from {m.group(3)!r}")
        return local_rows(spark, [("OK",)], "revoked string")

    m = re.match(r"(?is)^REVOKE\s+([A-Za-z_]\w*)\s+FROM\s+"
                 r"([A-Za-z_]\w*)\s*$", s)
    if m:
        before = len(REGISTRY.role_grants)
        REGISTRY.role_grants = [
            rg for rg in REGISTRY.role_grants
            if not (rg.role == m.group(1) and rg.user == m.group(2))]
        if len(REGISTRY.role_grants) == before:
            _err(f"role {m.group(1)!r} was not granted to {m.group(2)!r}")
        return local_rows(spark, [("OK",)], "revoked string")

    m = re.match(r"(?is)^SHOW\s+GRANTS(?:\s+FOR\s+([A-Za-z_]\w*))?\s*$", s)
    if m:
        who = m.group(1) or "default"
        rows = []
        for g in REGISTRY.grants:
            if g.grantee != who:
                continue
            on = "*.*" if (g.database, g.table) == ("*", "*") \
                else f"{g.database}.{g.table}"
            opt = " WITH GRANT OPTION" if g.grant_option else ""
            rows.append((f"GRANT {g.access_type} ON {on} TO {who}{opt}",))
        for rg in REGISTRY.role_grants:
            if rg.user != who:
                continue
            opt = " WITH ADMIN OPTION" if rg.admin_option else ""
            rows.append((f"GRANT {rg.role} TO {who}{opt}",))
        if who == "default" and not rows:
            rows = [(f"GRANT ALL ON *.* TO default WITH GRANT OPTION",)]
        return local_rows(spark, sorted(rows), "grants string")

    m = re.match(r"(?is)^SHOW\s+(USERS|ROLES)\s*$", s)
    if m:
        reg = (REGISTRY.users if m.group(1).upper() == "USERS"
               else REGISTRY.roles)
        return local_rows(spark, [(n,) for n in sorted(reg)], "name string")

    return None
