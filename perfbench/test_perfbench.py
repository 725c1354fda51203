"""Tiny-seed checks of the benchmark's generator and oracle.

    python -m pytest perfbench/test_perfbench.py -q

The generator must give the same inputs for the same seed, and the
DuckDB oracle must agree with the program's rule compiler on them.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import duckdb
import pytest

import gen
import oracle

SEED, USERS = 7, 600


def _digest(path: str) -> str:
    con = duckdb.connect()
    try:
        rel = f"read_parquet('{os.path.join(path, '*.parquet')}')"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
        body = " || '|' || ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), 'NULL')" for c in cols)
        return con.execute(
            f"SELECT md5(string_agg({body}, chr(10) ORDER BY user_id)) FROM {rel}").fetchone()[0]
    finally:
        con.close()


@pytest.fixture(scope="module")
def staged(tmp_path_factory):
    return gen.generate(str(tmp_path_factory.mktemp("data")), SEED, USERS)


def test_same_seed_same_inputs(staged, tmp_path):
    again = gen.generate(str(tmp_path), SEED, USERS)
    for table in (*gen.TABLES, "store_pristine"):
        assert _digest(os.path.join(staged, table)) == _digest(os.path.join(again, table))
    for name in ("rules.json", "listed_users.json"):
        with open(os.path.join(staged, name)) as a, open(os.path.join(again, name)) as b:
            assert json.load(a) == json.load(b)
    other = gen.generate(str(tmp_path), SEED + 1, USERS)
    assert _digest(os.path.join(staged, "basic")) != _digest(os.path.join(other, "basic"))
    assert gen.rule_catalog(SEED) != gen.rule_catalog(SEED + 1)


def _depth(node: dict) -> int:
    if "logic" in node or "conditions" in node:
        return 1 + max((_depth(c) for c in node.get("conditions") or []), default=0)
    return 0


def _ops(node: dict, out: set[str]) -> set[str]:
    if "logic" in node or "conditions" in node:
        for c in node.get("conditions") or []:
            _ops(c, out)
    else:
        out.add(node["operator"])
    return out


def test_catalog_covers_every_operator_and_depth():
    from bigdata_tag_system_spark.rules.compiler import KNOWN_OPERATORS

    rows = gen.rule_catalog(SEED)
    trees = [json.loads(r["rule_conditions"]) for r in rows]
    assert len(rows) == gen.N_RULES
    used: set[str] = set()
    for t in trees:
        _ops(t, used)
    assert used == set(KNOWN_OPERATORS)
    assert max(_depth(t) for t in trees) == 3


@pytest.mark.parametrize("cond,row,hit", [
    # NULL fails a positive predicate and the NOT around it alike (3VL)
    ({"logic": "NOT", "conditions": [{"field": "x", "operator": ">", "value": 1,
                                      "type": "number"}]}, {"x": None}, False),
    ({"logic": "NOT", "conditions": [{"field": "x", "operator": ">", "value": 1,
                                      "type": "number"}]}, {"x": 0}, True),
    ({"field": "a", "operator": "contains_all", "value": ["p", "q"]}, {"a": None}, False),
    ({"field": "a", "operator": "disjoint", "value": ["p"]}, {"a": []}, True),
    ({"field": "d", "operator": "recent_days", "value": 3}, {"d": "2024-06-28"}, True),
    ({"field": "d", "operator": "recent_days", "value": 3}, {"d": "2024-06-27"}, False),
    ({"field": "d", "operator": "days_ago_between", "value": [1, 2]}, {"d": "2024-06-29"}, True),
])
def test_renderer_semantics(cond, row, hit):
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (x INTEGER, a VARCHAR[], d DATE)")
        con.execute("INSERT INTO t VALUES (?, ?, ?)", [row.get("x"), row.get("a"), row.get("d")])
        got = con.execute(
            f"SELECT coalesce({oracle.render(cond, _dt.date(2024, 7, 1))}, FALSE) FROM t"
        ).fetchone()[0]
    finally:
        con.close()
    assert got is hit


def test_oracle_matches_program_on_tiny_seed(staged):
    """Per-tag hit counts from DuckDB equal the program's own coverage."""
    from bigdata_tag_system_spark import get_spark
    from bigdata_tag_system_spark.operators.tagging import TagEngine
    from bigdata_tag_system_spark.rules.model import load_rules
    from bigdata_tag_system_spark.sources.catalog import TableCatalog

    with open(os.path.join(staged, "rules.json")) as fh:
        rows = json.load(fh)
    with open(os.path.join(staged, "listed_users.json")) as fh:
        listed = json.load(fh)
    want = oracle.expected(staged, "full_1m", rows, listed)["scope"]["per_tag"]
    spark = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2)
    rules = load_rules(rows)
    catalog = TableCatalog(spark)
    for name in gen.TABLES:
        catalog.register(name, os.path.join(staged, name))
    engine = TagEngine(rules, as_of=gen.AS_OF, run_ts=gen.RUN_TS)
    got = {str(r.tag_id): r.matched for r in engine.coverage(catalog.facts_for_rules(rules)).collect()}
    assert {k: v for k, v in got.items() if v} == want
