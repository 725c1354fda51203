"""Seeded input generator for the tagging-product benchmark.

Everything the benchmark feeds the program is derived from ``--seed``:

- three fact tables in the reference's schemas (``FIXTURES.md`` §1:
  ``user_basic_info``, ``user_asset_summary``, ``user_activity_summary``)
  built with ``spark.range`` + ``xxhash64``; nothing is downloaded;
- a 50-rule catalog that uses every operator family the compiler knows,
  nested groups up to depth 3 and one pinned ``as_of`` date;
- a pristine parquet profile store and a pristine Derby ``user_tags``
  table (unique index on ``user_id``) holding the same stored profiles;
- the list of users a point re-tag run re-computes.

Fact users are ``user_0000000`` .. ``user_{n-1}``. The store holds
``n`` users shifted by ``n // 20``: the first 5% of fact users are new to
the store, and 5% of stored users have no facts any more.

Outputs are cached per (seed, size) under the benchmark's data directory;
a finished set is marked by a ``DONE`` file, so an interrupted generation
is redone, never half-used.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
import shutil

AS_OF = "2024-07-01"
RUN_TS = "2024-07-01T06:00:00"
COMPUTED_DATE = "2024-07-01"
STORE_DATE = "2024-06-30"
N_RULES = 50
N_LISTED = 1000
GEN_VERSION = 3
# the catalog's rule shapes; the seed only nudges thresholds and draws data
SHAPE_SEED = 20240701

LEVELS = ["BRONZE", "SILVER", "GOLD", "VIP1", "VIP2", "VIP3"]
COUNTRIES = ["CN", "SG", "US", "GB", "JP", "DE", "HK", "AU"]
INTERESTS = ["stocks", "funds", "bonds", "crypto", "gold", "forex"]
# fact tables in registration order: a rule field is read from the first
# table that has it
TABLES = ("basic", "asset", "activity")


def store_offset(n_users: int) -> int:
    """First stored user id: fact users below it are new to the store."""
    return n_users // 20


def data_dir(root: str, seed: int, n_users: int) -> str:
    return os.path.join(root, f"v{GEN_VERSION}-n{n_users}-s{seed}")


# ---------------------------------------------------------------------------
# fact tables (DuckDB SQL over range(id))
# ---------------------------------------------------------------------------

def _u(seed: int, k: int) -> str:
    """SQL for a uniform double in [0, 1) keyed by (seed, row id, k)."""
    return f"((hash({seed}, id, {k}) % 1000003) / 1000003.0)"


def _pick(u: str, values: list[str], cum: list[float]) -> str:
    """SQL CASE choosing ``values[i]`` where ``u`` falls below ``cum[i]``."""
    arms = " ".join(f"WHEN {u} < {c} THEN '{v}'" for v, c in zip(values, cum))
    return f"CASE {arms} ELSE '{values[-1]}' END"


def _null_if(u: str, share: float, expr: str) -> str:
    return f"CASE WHEN {u} < {share} THEN NULL ELSE {expr} END"


def _days(expr: str) -> str:
    return f"CAST(floor({expr}) AS INTEGER)"


def fact_sql(seed: int) -> dict[str, tuple[str, list[str]]]:
    """Per table: (row filter, select expressions) over ``range(id)``."""
    u = lambda k: _u(seed, k)  # noqa: E731
    as_of = f"DATE '{AS_OF}'"
    uid = "printf('user_%07d', id)"
    interests = ", ".join(
        f"CASE WHEN {u(40 + i)} < {p} THEN '{name}' END"
        for i, (name, p) in enumerate(zip(INTERESTS, (.5, .35, .2, .15, .1, .05))))
    money = lambda e: f"CAST(round({e}, 2) AS DECIMAL(20,8))"  # noqa: E731
    total = f"pow(10, 1 + 6 * {u(20)})"
    login = f"{as_of} - {_days(f'400 * {u(8)} * {u(8)}')}"
    trade = f"{as_of} - {_days(f'180 * {u(37)}')}"
    basic = [
        f"{uid} AS user_id",
        f"{_null_if(u(1), .05, f'CAST(18 + floor(48 * {u(2)}) AS INTEGER)')} AS age",
        f"DATE '2018-01-01' + {_days(f'2300 * {u(3)}')} AS registration_date",
        f"{_pick(u(4), LEVELS, [.30, .55, .75, .87, .95])} AS user_level",
        f"{_null_if(u(5), .02, _pick(u(6), ['verified', 'pending', 'rejected'], [.70, .92]))} AS kyc_status",
        f"{_null_if(u(7), .05, login)} AS last_login_date",
        f"{_pick(u(9), COUNTRIES, [(i + 1) / 8 for i in range(7)])} AS country",
        f"{_pick(u(10), ['M', 'F', 'O'], [.48, .96])} AS gender",
        f"to_timestamp(1514764800 + floor(190000000 * {u(3)})) AS created_time",
        f"{_null_if(u(11), .08, f'list_filter([{interests}], x -> x IS NOT NULL)')} AS interests",
    ]
    asset = [
        f"{uid} AS user_id",
        f"{_null_if(u(21), .03, money(total))} AS total_asset_value",
        f"{money(f'{total} * {u(22)}')} AS cash_balance",
        f"{money(f'{total} * {u(23)} * 0.6')} AS stock_value",
        f"{money(f'{total} * {u(24)} * 0.3')} AS bond_value",
        f"{money(f'{total} * {u(25)} * 0.2')} AS fund_value",
        f"{as_of} AS computed_date",
        f"to_timestamp(1719792000 + floor(86400 * {u(26)})) AS created_time",
    ]
    activity = [
        f"{uid} AS user_id",
        f"CAST(floor(61 * {u(30)} * {u(30)}) AS INTEGER) AS trade_count_30d",
        f"{money(f'100000 * {u(31)} * {u(30)}')} AS trade_amount_30d",
        f"CAST(floor(41 * {u(32)}) AS INTEGER) AS login_count_30d",
        f"{_null_if(u(33), .04, f'round(10 + 80 * {u(34)}, 3)')} AS risk_score",
        f"{as_of} - {_days(f'30 * {u(35)}')} AS last_login_date",
        f"{_null_if(u(36), .10, trade)} AS last_trade_date",
        f"{money(f'1000000 * {u(38)}')} AS total_trade_volume",
        f"{as_of} AS computed_date",
    ]
    # asset covers 97% of users, activity 94%: the rest read as NULL
    # through the catalog's left joins
    return {
        "basic": ("TRUE", basic),
        "asset": (f"{u(27)} >= 0.03", asset),
        "activity": (f"{u(39)} >= 0.06", activity),
    }


# ---------------------------------------------------------------------------
# rule catalog
# ---------------------------------------------------------------------------

def _leaf(field, op, value=None, type_=None):
    node = {"field": field, "operator": op}
    if value is not None:
        node["value"] = value
    if type_:
        node["type"] = type_
    return node


def _leaf_templates(shape: random.Random, jit: random.Random) -> list[dict]:
    """One leaf per operator of the compiler's ``KNOWN_OPERATORS``.

    ``shape`` picks the categories and threshold centres, the same for
    every seed; ``jit`` (the seed) moves numeric thresholds a little
    around those centres, so every seed's catalog costs about as much.
    """
    def near(lo: int, hi: int, spread: int) -> int:
        return max(0, shape.randint(lo, hi) + jit.randint(-spread, spread))

    def nearf(lo: float, hi: float, spread: float) -> float:
        return round(shape.uniform(lo, hi) + jit.uniform(-spread, spread), 1)

    def money() -> float:
        return round(shape.choice([1e3, 1e4, 5e4, 1e5, 1e6, 5e6]) * jit.uniform(.9, 1.1), 2)

    def day() -> str:
        return str(_dt.date(2018, 1, 1) + _dt.timedelta(days=near(15, 2200, 15)))

    return [
        _leaf("age", ">=", near(25, 60, 2), "number"),
        _leaf("age", "<", near(20, 45, 2), "number"),
        _leaf("total_asset_value", ">=", money(), "decimal"),
        _leaf("cash_balance", "<=", money(), "decimal"),
        _leaf("risk_score", ">", nearf(15, 85, 3), "number"),
        _leaf("trade_count_30d", "==", shape.randint(0, 4), "number"),
        _leaf("user_level", "=", shape.choice(LEVELS), "string"),
        _leaf("kyc_status", "!=", "rejected", "string"),
        _leaf("gender", "<>", shape.choice(["M", "F", "O"]), "string"),
        _leaf("login_count_30d", "<=", near(5, 35, 2), "number"),
        _leaf("age", "in_range", sorted([near(18, 65, 1), near(18, 65, 1)]), "number"),
        _leaf("risk_score", "not_in_range", [nearf(12, 40, 2), nearf(50, 88, 2)], "number"),
        _leaf("last_trade_date", "days_ago_between", sorted([near(3, 150, 3), near(3, 150, 3)])),
        _leaf("registration_date", "date_between", sorted([day(), day()]), "date"),
        _leaf("risk_score", "is_null"),
        _leaf("last_trade_date", "is_not_null"),
        _leaf("user_level", "in", shape.sample(LEVELS, shape.randint(1, 3)), "string"),
        _leaf("country", "not_in", shape.sample(COUNTRIES, shape.randint(1, 4)), "string"),
        _leaf("user_level", "contains", shape.choice(["IP", "L", "O"]), "string"),
        _leaf("country", "not_contains", shape.choice(["G", "S", "N"]), "string"),
        _leaf("user_level", "starts_with", shape.choice(["VIP", "G", "S"]), "string"),
        _leaf("user_level", "ends_with", shape.choice(["1", "2", "3", "ER"]), "string"),
        _leaf("country", "matches", shape.choice(["^(SG|HK)$", "^[CG]", "U"]), "string"),
        _leaf("user_level", "not_matches", shape.choice(["^(BRONZE|SILVER)$", "^VIP[12]$"]),
              "string"),
        _leaf("last_login_date", "recent_days", near(6, 120, 3)),
        _leaf("last_login_date", "days_ago", near(30, 300, 10)),
        _leaf("interests", "array_contains", shape.choice(INTERESTS), "string"),
        _leaf("interests", "contains_any", shape.sample(INTERESTS, 2), "string"),
        _leaf("interests", "intersects", shape.sample(INTERESTS[2:], 2), "string"),
        _leaf("interests", "contains_all", shape.sample(INTERESTS[:3], 2), "string"),
        _leaf("interests", "disjoint", shape.sample(INTERESTS, 2), "string"),
        _leaf("trade_count_30d", ">", near(5, 50, 2), "number"),
        _leaf("total_asset_value", "<", money(), "decimal"),
        _leaf("kyc_status", "==", shape.choice(["verified", "pending"]), "string"),
    ]


def _group(shape: random.Random, jit: random.Random, depth: int) -> dict:
    """A condition group whose nesting reaches exactly ``depth`` levels."""
    logic = shape.choice(["AND", "OR", "OR", "NOT"] if depth > 1 else ["AND", "OR"])
    children = [shape.choice(_leaf_templates(shape, jit)) for _ in range(shape.randint(1, 2))]
    if depth > 1:
        children.insert(shape.randrange(len(children) + 1), _group(shape, jit, depth - 1))
    return {"logic": logic, "conditions": children}


def rule_catalog(seed: int) -> list[dict]:
    """50 catalog rows: one leaf rule per operator first, then nested groups."""
    shape, jit = random.Random(SHAPE_SEED), random.Random(seed)
    rows = []
    leaves = _leaf_templates(shape, jit)
    for i in range(N_RULES):
        if i < len(leaves):
            cond = {"logic": "AND", "conditions": [leaves[i]]}
            if i % 4 == 3:  # a depth-2 rule that still carries this operator
                cond = {"logic": shape.choice(["AND", "OR"]),
                        "conditions": [leaves[i], _group(shape, jit, 1)]}
        else:
            cond = _group(shape, jit, 1 + (i % 3))
        rows.append({
            "rule_id": 100 + i,
            "tag_id": i + 1,
            "tag_name": f"tag_{i + 1:02d}",
            "tag_category": ["asset", "activity", "profile", "risk"][i % 4],
            "rule_conditions": json.dumps(cond, sort_keys=True),
            "is_active": True,
            "rule_version": "1.0",
        })
    return rows


def listed_users(seed: int, n_users: int) -> list[str]:
    """The users a point re-tag recomputes: some new to the store, most stored."""
    rng = random.Random(seed * 7919 + 17)
    ids = sorted(rng.sample(range(n_users), min(N_LISTED, n_users // 2)))
    return [f"user_{i:07d}" for i in ids]


# ---------------------------------------------------------------------------
# stores
# ---------------------------------------------------------------------------

def store_sql(seed: int, n_users: int) -> str:
    """Stored profiles from an earlier run: 1-3 tags per user, older date.

    Same schema as the program's profile rows, so merges and unions
    line up column for column.
    """
    lo = store_offset(n_users)
    u = lambda k: _u(seed, k)  # noqa: E731
    tags = ", ".join(f"CAST(1 + floor({N_RULES} * {u(60 + k)}) AS INTEGER)" for k in range(3))
    detail = (
        "{'tag_name': 'tag_' || lpad(CAST(t AS VARCHAR), 2, '0'), "
        "'tag_category': 'stored', 'rule_id': CAST(99 + t AS INTEGER), "
        "'rule_version': '0.9', 'value': '', 'reason': 'stored', "
        f"'hit_time': CAST('{STORE_DATE} 06:00:00+00' AS TIMESTAMPTZ)}}")
    return (
        "SELECT user_id, tag_ids, map_from_entries(list_transform(tag_ids, "
        f"t -> {{'key': CAST(t AS VARCHAR), 'value': {detail}}})) AS tag_details, "
        f"DATE '{STORE_DATE}' AS computed_date FROM ("
        f"SELECT printf('user_%07d', id) AS user_id, list_sort(list_distinct("
        f"[{tags}][1:CAST(1 + floor(3 * {u(63)}) AS INTEGER)])) AS tag_ids "
        f"FROM range({lo}, {lo + n_users}) t(id))")


def _write(con, select: str, out_dir: str) -> None:
    """Write a query as four parquet files of contiguous row ranges, each
    with several row groups, so a 4-core scan splits evenly."""
    os.makedirs(out_dir)
    con.execute(f"CREATE OR REPLACE TEMP TABLE staged AS {select}")
    per_file = -(-con.execute("SELECT count(*) FROM staged").fetchone()[0] // 4)
    for k in range(4):
        con.execute(
            f"COPY (SELECT * FROM staged LIMIT {per_file} OFFSET {k * per_file}) "
            f"TO '{os.path.join(out_dir, f'part-{k}.parquet')}' "
            f"(FORMAT parquet, ROW_GROUP_SIZE {max(1024, per_file // 4)})")
    con.execute("DROP TABLE staged")


def generate(root: str, seed: int, n_users: int) -> str:
    """Stage the fact tables, rule catalog, user list and parquet store
    for (seed, size) once; return their directory."""
    import duckdb

    out = data_dir(root, seed, n_users)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET TimeZone = 'UTC'")
        for name, (where, select) in fact_sql(seed).items():
            _write(con, f"SELECT {', '.join(select)} FROM range({n_users}) t(id) "
                        f"WHERE {where} ORDER BY id", os.path.join(out, name))
        _write(con, store_sql(seed, n_users) + " ORDER BY user_id",
               os.path.join(out, "store_pristine"))
        con.execute(
            f"COPY (SELECT user_id, to_json(tag_ids), to_json(tag_details), computed_date "
            f"FROM read_parquet('{os.path.join(out, 'store_pristine', '*.parquet')}') "
            f"ORDER BY user_id) TO '{os.path.join(out, 'store.csv')}' "
            "(HEADER false, QUOTE '\"', ESCAPE '\"')")
    finally:
        con.close()
    with open(os.path.join(out, "rules.json"), "w") as fh:
        json.dump(rule_catalog(seed), fh, indent=1)
    with open(os.path.join(out, "listed_users.json"), "w") as fh:
        json.dump(listed_users(seed, n_users), fh)
    open(os.path.join(out, "DONE"), "w").close()
    return out


# ---------------------------------------------------------------------------
# Derby store (seeded inside the Spark JVM, which hosts the database)
# ---------------------------------------------------------------------------

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
# user_id must be VARCHAR to carry the unique index; the JSON columns stay
# in the dialect's default CLOB, on the target and the staging table alike
DERBY_COLUMN_TYPES = "user_id VARCHAR(16), tag_ids VARCHAR(1024)"
DERBY_TABLE = "user_tags"


def derby_url(db_dir: str, create: bool = False) -> str:
    return f"jdbc:derby:{os.path.abspath(db_dir)}" + (";create=true" if create else "")


def seed_derby(jvm, data: str) -> str:
    """Create the pristine Derby store once per seed; return its directory.

    Row-by-row JDBC inserts run at a few thousand rows a second; Derby's
    bulk import loads the same CSV rows an order of magnitude faster and
    rebuilds the unique index once, after the load.
    """
    db = os.path.join(data, "derby_pristine")
    done = os.path.join(data, "DERBY_DONE")
    if os.path.exists(done):
        return db
    shutil.rmtree(db, ignore_errors=True)
    conn = jvm.java.sql.DriverManager.getConnection(derby_url(db, create=True))
    try:
        st = conn.createStatement()
        st.executeUpdate(
            f'CREATE TABLE {DERBY_TABLE} ("user_id" VARCHAR(16) NOT NULL, '
            '"tag_ids" VARCHAR(1024), "tag_details" CLOB, "computed_date" DATE)')
        st.executeUpdate(
            f'CREATE UNIQUE INDEX {DERBY_TABLE}_uid ON {DERBY_TABLE} ("user_id")')
        st.execute(
            f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, '{DERBY_TABLE.upper()}', "
            f"'{os.path.abspath(os.path.join(data, 'store.csv'))}', ',', '\"', 'UTF-8', 1)")
        conn.commit()
    finally:
        conn.close()
    shutdown_derby(jvm, db)
    open(done, "w").close()
    return db


def shutdown_derby(jvm, db_dir: str) -> None:
    """Close one embedded database so its files can be copied or removed."""
    from py4j.protocol import Py4JJavaError

    try:
        jvm.java.sql.DriverManager.getConnection(
            derby_url(db_dir) + ";shutdown=true")
    except Py4JJavaError as exc:
        if exc.java_exception.getSQLState() != "08006":  # Derby's clean shutdown
            raise
