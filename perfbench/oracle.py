"""Independent correctness oracle for the tagging-product benchmark.

The oracle evaluates the rule catalog with DuckDB over the same parquet
fact tables the program reads. It renders each JSON condition tree to
SQL with its own renderer, written from the rule language's documented
semantics (SQL three-valued logic, ``NOT`` of the conjunction of a
group's children, relative dates anchored at a pinned ``as_of``). It
never calls the package's compiler or its ``rule_to_sql``, so one
compiler bug cannot hide on both sides of the comparison.

Answers are reduced to three numbers per scope: the rows a profile
store must hold (users with at least one hit), per-tag hit counts, and
an md5 over ``user_id:sorted tag_ids`` lines ordered by ``user_id``.
The same digest is taken of what the program wrote, so a check compares
short values, and answers cache as JSON per seed.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
from typing import Any, Iterable

import duckdb

from gen import AS_OF, COMPUTED_DATE, TABLES


def _q(value: Any) -> str:
    return "'" + str(value).replace("'", "''") + "'"


def _num(value: Any) -> str:
    return repr(value) if isinstance(value, (int, float)) else str(float(value))


def _lit(value: Any, type_: str | None) -> str:
    if type_ == "date":
        return f"DATE {_q(value)}"
    if type_ in ("number", "decimal"):
        return _num(value)
    return _q(value)


def _days_before(as_of: _dt.date, days: int) -> str:
    return f"DATE '{(as_of - _dt.timedelta(days=int(days))).isoformat()}'"


def render(node: dict, as_of: _dt.date) -> str:
    """DuckDB SQL for one condition tree (NULL means "no hit")."""
    if "logic" in node or "conditions" in node:
        parts = [render(c, as_of) for c in node.get("conditions") or []]
        if not parts:
            return "TRUE"
        logic = node.get("logic", "AND").upper()
        if logic == "OR":
            return "(" + " OR ".join(parts) + ")"
        conj = "(" + " AND ".join(parts) + ")"
        return f"(NOT {conj})" if logic == "NOT" else conj
    col, op = f'"{node["field"]}"', node["operator"]
    v, t = node.get("value"), node.get("type")
    cmp = {"=": "=", "==": "=", "!=": "<>", "<>": "<>",
           ">": ">", "<": "<", ">=": ">=", "<=": "<="}
    if op in cmp:
        return f"({col} {cmp[op]} {_lit(v, t)})"
    if op == "is_null":
        return f"({col} IS NULL)"
    if op == "is_not_null":
        return f"({col} IS NOT NULL)"
    if op in ("in_range", "not_in_range", "date_between"):
        t2 = "date" if op == "date_between" else t
        between = f"({col} BETWEEN {_lit(v[0], t2)} AND {_lit(v[1], t2)})"
        return f"(NOT {between})" if op == "not_in_range" else between
    if op == "days_ago_between":
        return f"({col} BETWEEN {_days_before(as_of, v[1])} AND {_days_before(as_of, v[0])})"
    if op == "recent_days":
        return f"({col} >= {_days_before(as_of, v)})"
    if op == "days_ago":
        return f"({col} <= {_days_before(as_of, v)})"
    if op in ("in", "not_in"):
        body = ", ".join(_lit(x, t) for x in v)
        return f"({col} {'NOT ' if op == 'not_in' else ''}IN ({body}))"
    if op == "contains":
        return f"contains({col}, {_q(v)})"
    if op == "not_contains":
        return f"(NOT contains({col}, {_q(v)}))"
    if op == "starts_with":
        return f"starts_with({col}, {_q(v)})"
    if op == "ends_with":
        return f"suffix({col}, {_q(v)})"
    if op == "matches":
        return f"regexp_matches({col}, {_q(v)})"
    if op == "not_matches":
        return f"(NOT regexp_matches({col}, {_q(v)}))"
    if op == "array_contains":
        return f"list_contains({col}, {_q(v)})"
    items = "[" + ", ".join(_q(x) for x in v) + "]"
    if op in ("contains_any", "intersects"):
        return f"list_has_any({col}, {items})"
    if op == "contains_all":
        return f"list_has_all({col}, {items})"
    if op == "disjoint":
        return f"(NOT list_has_any({col}, {items}))"
    raise ValueError(f"oracle has no rendering for operator {op!r}")


def _fields(node: dict, out: list[str]) -> list[str]:
    if "logic" in node or "conditions" in node:
        for c in node.get("conditions") or []:
            _fields(c, out)
    elif node["field"] not in out:
        out.append(node["field"])
    return out


# stored tag details compare in one type: the pristine store carries
# TIMESTAMPTZ hit times, Spark writes them back as plain TIMESTAMP (UTC)
DETAILS = ("MAP(VARCHAR, STRUCT(tag_name VARCHAR, tag_category VARCHAR, rule_id INTEGER, "
           "rule_version VARCHAR, \"value\" VARCHAR, reason VARCHAR, hit_time TIMESTAMP))")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _parquet(path: str) -> str:
    return f"read_parquet({_q(os.path.join(path, '*.parquet'))})"


def create_facts_view(con, data: str, rules: list[dict]) -> None:
    """``facts``: basic LEFT JOIN the other tables, each rule field read
    from the first table (in registration order) that carries it."""
    schemas = {
        t: [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM {_parquet(os.path.join(data, t))}").fetchall()]
        for t in TABLES}
    needed: list[str] = []
    for r in rules:
        _fields(json.loads(r["rule_conditions"]), needed)
    cols = ["t0.user_id"]
    for f in needed:
        owner = next(i for i, t in enumerate(TABLES) if f in schemas[t])
        cols.append(f't{owner}."{f}"')
    joins = " ".join(
        f"LEFT JOIN {_parquet(os.path.join(data, t))} t{i} ON t{i}.user_id = t0.user_id"
        for i, t in enumerate(TABLES) if i)
    con.execute(
        f"CREATE OR REPLACE VIEW facts AS SELECT {', '.join(cols)} "
        f"FROM {_parquet(os.path.join(data, TABLES[0]))} t0 {joins}")


def _tag_list_sql(rules: list[dict]) -> str:
    as_of = _dt.date.fromisoformat(AS_OF)
    arms = ", ".join(
        f"CASE WHEN {render(json.loads(r['rule_conditions']), as_of)} "
        f"THEN {int(r['tag_id'])} END"
        for r in rules if r.get("is_active", True))
    return f"list_sort(list_filter([{arms}], x -> x IS NOT NULL))"


DIGEST_SQL = ("SELECT count(*), md5(coalesce(string_agg(user_id || ':' || "
              "array_to_string(tag_ids, ','), chr(10) ORDER BY user_id), ''))")


def _summary(con, rel: str) -> dict:
    n, digest = con.execute(f"{DIGEST_SQL} FROM {rel}").fetchone()
    per_tag = dict(con.execute(
        f"SELECT t, count(*) FROM (SELECT unnest(tag_ids) AS t FROM {rel}) GROUP BY t"
    ).fetchall())
    return {"rows": int(n), "digest": digest,
            "per_tag": {str(k): int(v) for k, v in sorted(per_tag.items())}}


def py_digest(rows: Iterable[tuple[str, list[int]]]) -> tuple[int, str]:
    """The DuckDB digest, computed in Python (for rows read over JDBC)."""
    lines = sorted(f"{u}:{','.join(str(t) for t in sorted(ids))}" for u, ids in rows)
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


def expected(data: str, workload: str, rules: list[dict], listed: list[str]) -> dict:
    """Oracle answers for one workload, cached next to its inputs."""
    cache = os.path.join(data, f"oracle-{workload}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    con = connect()
    try:
        create_facts_view(con, data, rules)
        store = _parquet(os.path.join(data, "store_pristine"))
        con.execute("CREATE TEMP TABLE listed (user_id VARCHAR)")
        con.executemany("INSERT INTO listed VALUES (?)", [[u] for u in listed])
        scope = {
            "full_1m": "TRUE",
            "incremental_1m": f"user_id NOT IN (SELECT user_id FROM {store})",
            "user_retag_jdbc": "user_id IN (SELECT user_id FROM listed)",
        }[workload]
        con.execute(
            f"CREATE TEMP TABLE tagged AS SELECT user_id, {_tag_list_sql(rules)} AS tag_ids "
            f"FROM facts WHERE {scope}")
        con.execute("CREATE TEMP VIEW hits AS SELECT * FROM tagged WHERE len(tag_ids) > 0")
        out = {"users_in_scope": con.execute("SELECT count(*) FROM tagged").fetchone()[0],
               "scope": _summary(con, "hits")}
        if workload != "full_1m":
            # the whole store after the run: untouched stored rows plus the
            # re-tagged users that had at least one hit
            con.execute(
                "CREATE TEMP VIEW after AS SELECT user_id, tag_ids FROM hits UNION ALL "
                f"SELECT user_id, tag_ids FROM {store} "
                "WHERE user_id NOT IN (SELECT user_id FROM hits)")
            out["store_after"] = _summary(con, "after")
            out["store_before_rows"] = con.execute(
                f"SELECT count(*) FROM {store}").fetchone()[0]
        if workload == "user_retag_jdbc":
            con.execute("CREATE TEMP VIEW listed_after AS SELECT * FROM after "
                        "WHERE user_id IN (SELECT user_id FROM listed)")
            out["listed_after"] = _summary(con, "listed_after")
    finally:
        con.close()
    with open(cache + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(cache + ".tmp", cache)
    return out


# ---------------------------------------------------------------------------
# checks of what the program wrote
# ---------------------------------------------------------------------------

def check_parquet_store(data: str, workload: str, path: str, want: dict) -> list[str]:
    """Compare a written parquet profile store with the oracle; return problems."""
    problems: list[str] = []
    con = connect()
    try:
        out = _parquet(path)
        con.execute(f"CREATE TEMP VIEW out AS SELECT * FROM {out}")
        n, distinct = con.execute(
            "SELECT count(*), count(DISTINCT user_id) FROM out").fetchone()
        if n != distinct:
            problems.append(f"{n - distinct} duplicate user rows")
        store = _parquet(os.path.join(data, "store_pristine"))
        if workload == "full_1m":
            con.execute("CREATE TEMP VIEW scope AS SELECT * FROM out")
        else:
            con.execute("CREATE TEMP VIEW scope AS SELECT * FROM out "
                        f"WHERE user_id NOT IN (SELECT user_id FROM {store})")
            changed = con.execute(
                f"SELECT count(*) FROM {store} p LEFT JOIN out o USING (user_id) "
                "WHERE o.user_id IS NULL OR o.tag_ids IS DISTINCT FROM p.tag_ids "
                "OR o.computed_date IS DISTINCT FROM p.computed_date "
                f"OR CAST(CAST(o.tag_details AS {DETAILS}) AS VARCHAR) IS DISTINCT FROM "
                f"CAST(CAST(p.tag_details AS {DETAILS}) AS VARCHAR)").fetchone()[0]
            if changed:
                problems.append(f"{changed} untouched store rows changed or lost")
            if n != want["store_after"]["rows"]:
                problems.append(f"store rows {n} != {want['store_after']['rows']}")
        got = _summary(con, "scope")
        for key in ("rows", "digest", "per_tag"):
            if got[key] != want["scope"][key]:
                problems.append(f"{key}: got {str(got[key])[:120]} want "
                                f"{str(want['scope'][key])[:120]}")
        bad_details = con.execute(
            "SELECT count(*) FROM scope WHERE list_sort(map_keys(tag_details)) <> "
            "list_sort(list_transform(tag_ids, x -> CAST(x AS VARCHAR)))").fetchone()[0]
        if bad_details:
            problems.append(f"{bad_details} rows whose tag_details keys differ from tag_ids")
        stale = con.execute(
            f"SELECT count(*) FROM scope WHERE computed_date IS DISTINCT FROM "
            f"DATE '{COMPUTED_DATE}'").fetchone()[0]
        if stale:
            problems.append(f"{stale} re-tagged rows not stamped {COMPUTED_DATE}")
    finally:
        con.close()
    return problems
