"""Correctness checks, run with DuckDB outside every timed region.

Warehouse tables are compared with a checksum: row count, an exact decimal
sum of every numeric column, the sum of every timestamp as epoch
microseconds, and a hash sum of every other column. Each side is computed
by DuckDB, one over the warehouse files the engine wrote and one over the
generated input (with the expected changes applied).
"""

from __future__ import annotations

import os

import duckdb

from poc_juma_etl_spark.plans.gold import GOLD_SPECS
from poc_juma_etl_spark.registry import SERVICE_MAP, TRIGGER_MAP

NUMERIC = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE"}

# DuckDB forms of plans/gold.py VIEW_SQL, without the partition column
# (that one lives in the directory names and is checked by partition count)
GOLD_SQL = {
    "vw_lineitem_pricing": """
        SELECT l_orderkey, l_partkey, l_suppkey, l_returnflag, l_linestatus,
               l_quantity, l_extendedprice * (1 - l_discount) AS net_price, l_shipdate
        FROM lineitem""",
    "vw_order_revenue": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice, o_orderdate
        FROM orders""",
    "vw_event_hourly": """
        SELECT date_trunc('hour', ts) AS event_hour, event_type, count(*) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), CAST(ts AS DATE), event_type""",
}
GOLD_PARTITION_SQL = {
    "vw_lineitem_pricing": "SELECT count(DISTINCT date_trunc('month', l_shipdate)) FROM lineitem",
    "vw_order_revenue": "SELECT count(DISTINCT date_trunc('month', o_orderdate)) FROM orders",
    "vw_event_hourly": "SELECT count(DISTINCT CAST(ts AS DATE)) FROM events",
}


def connect(src_dir: str, prefix: str = "") -> duckdb.DuckDBPyConnection:
    """DuckDB with every generated input table as view ``<prefix><name>``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in SERVICE_MAP:
        con.execute(
            f"CREATE VIEW {prefix}{name} AS SELECT * FROM read_parquet('{src_dir}/{name}.parquet')"
        )
    return con


def checksum(con: duckdb.DuckDBPyConnection, relation: str) -> tuple:
    cols = con.execute(f"DESCRIBE {relation}").fetchall()
    exprs = ["count(*)"]
    for name, typ, *_ in cols:
        if typ in NUMERIC:
            exprs.append(f"sum(CAST({name} AS DECIMAL(38,6)))")
        elif typ.startswith("TIMESTAMP"):
            exprs.append(f"sum(epoch_us({name}))")
        else:
            exprs.append(f"sum(hash({name})::HUGEINT)")
    return con.execute(f"SELECT {', '.join(exprs)} FROM {relation}").fetchone()


def stored(path: str) -> str:
    """A warehouse table as a DuckDB relation, partition columns left out."""
    return f"(SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = false))"


def partitions(path: str) -> int:
    return sum(1 for d in os.listdir(path) if "=" in d)


def check_raw(con, wh: str, table: str) -> str | None:
    """None when the warehouse table equals ``table`` on ``con``, else a
    one-line reason."""
    want = checksum(con, table)
    got = checksum(con, stored(f"{wh}/{table}"))
    return None if got == want else f"{table}: warehouse {got} != expected {want}"


def check_gold(con, wh: str, view: str) -> str | None:
    """The Gold table of ``view`` against its view over the tables
    registered on ``con`` (the generated input, or an expected state
    shadowing it)."""
    path = f"{wh}/{GOLD_SPECS[view].table}"
    want = checksum(con, f"({GOLD_SQL[view]})")
    got = checksum(con, stored(path))
    if got != want:
        return f"{view}: gold {got} != expected {want}"
    want_parts = con.execute(GOLD_PARTITION_SQL[view]).fetchone()[0]
    if partitions(path) != want_parts:
        return f"{view}: {partitions(path)} partitions, expected {want_parts}"
    return None


def check_full_load(src_dir: str, wh: str) -> list[str]:
    """Every RAW and Gold table of one full load."""
    con = connect(src_dir)
    try:
        bad = [check_raw(con, wh, t) for t in SERVICE_MAP]
        bad += [check_gold(con, wh, v) for v in TRIGGER_MAP.values()]
    finally:
        con.close()
    return [b for b in bad if b]


def check_refreshes(src_dir: str, wh: str, ops: list, value_col: dict[str, str]) -> dict[str, str]:
    """Replay a refresh schedule in DuckDB: a row's value column carries
    the factor of the LAST op whose window covers its day (1 if none).
    Returns {fact table: reason} for every table whose RAW or Gold state
    differs from the replay."""
    con = connect(src_dir, prefix="src_")
    bad: dict[str, str] = {}
    try:
        for name in TRIGGER_MAP:
            factor = "1.0"
            day = f"CAST({SERVICE_MAP[name].filter_field} AS DATE)"
            for op in (op for op in ops if op.table == name):  # later ops win
                factor = (
                    f"CASE WHEN {day} BETWEEN DATE '{op.start}' AND DATE '{op.end}' "
                    f"THEN {op.factor!r} ELSE {factor} END"
                )
            cols = [r[0] for r in con.execute(f"DESCRIBE src_{name}").fetchall()]
            sel = ", ".join(f"{c} * {factor} AS {c}" if c == value_col[name] else c for c in cols)
            con.execute(f"CREATE TEMP TABLE {name} AS SELECT {sel} FROM src_{name}")
        for table, view in TRIGGER_MAP.items():
            reason = check_raw(con, wh, table) or check_gold(con, wh, view)
            if reason:
                bad[table] = reason
    finally:
        con.close()
    return bad
