"""Local replica of the driver's DuckDB correctness gate.

Runs a Spark DataFrame and the matching DuckDB oracle SQL on the same
parquet tables and compares row-count + schema-width + order-insensitive
values, mirroring the driver's described t2 check so we catch parity
drift before the driver does. Used by tests/ and by `python -m
poc_juma_etl_spark.oracle` for ad-hoc sweeps.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd

from .catalog import TABLE_NAMES, table_path

REL_TOL = 0.0  # engine aims for bitwise parity; loosen per-query only if justified


def duckdb_connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    """Normalize a cell for cross-engine comparison.

    Numeric cells are TYPE-TAGGED — the driver's value hash is dtype-
    sensitive (a Spark BIGINT 9 vs DuckDB DOUBLE 9.0 fails its gate), while
    Python's ``9 == 9.0`` and ``True == 1`` are True. Tagging ints, floats
    and bools distinctly makes this local gate exactly as strict as the
    driver's, so type drift fails HERE first (round-1 lesson:
    q_scalar_function_suite's floor() passed locally, failed the driver)."""
    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool is an int subclass
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # datetime.date / datetime.datetime
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, str):
        return v
    # numpy.ndarray (DuckDB list columns fetchdf as ndarray cells): recurse
    # element-wise — the old str() fallback printed ~8 significant digits,
    # which would let sub-1e-8 value drift pass silently (r4 ADVICE)
    if hasattr(v, "tolist") and getattr(v, "ndim", 0) >= 1:
        return tuple(_norm_cell(x) for x in v.tolist())
    # numpy scalars, Decimal, etc.
    try:
        if hasattr(v, "item"):
            return _norm_cell(v.item())
    except Exception:
        pass
    return str(v)


def normalize_frame(pdf: pd.DataFrame) -> list[tuple]:
    """Sort columns by name, normalize cells, return row multiset as a
    sorted list of tuples (order-insensitive compare)."""
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def complex_output_columns(spark_df) -> list[str]:
    """Names of output columns with non-scalar (array/map/struct) types.

    The driver's canonicalizer pandas-sorts every output column before
    hashing; an ndarray cell is unhashable and crashes it (r4's
    q_embedding_pool_mean red). Registered queries must therefore emit
    scalar columns only — explode vectors to (key, pos, component) rows."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def compare(spark_df, oracle_pdf: pd.DataFrame) -> dict[str, Any]:
    """Compare a Spark result against a DuckDB result. Returns a report dict;
    report["match"] is the verdict."""
    if bad := complex_output_columns(spark_df):
        return {
            "match": False,
            "why": f"non-scalar output column(s) {bad}: the driver's "
            "canonicalizer cannot sort/hash array/map/struct cells — "
            "explode to scalar rows",
        }
    spark_pdf = spark_df.toPandas()
    report: dict[str, Any] = {
        "spark_rows": len(spark_pdf),
        "oracle_rows": len(oracle_pdf),
        "spark_cols": sorted(spark_pdf.columns),
        "oracle_cols": sorted(oracle_pdf.columns),
    }
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        report["match"] = False
        report["why"] = "column names differ"
        return report
    if len(spark_pdf) != len(oracle_pdf):
        report["match"] = False
        report["why"] = "row counts differ"
        return report
    a = normalize_frame(spark_pdf)
    b = normalize_frame(oracle_pdf)
    if a == b:
        report["match"] = True
        return report
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    report["match"] = False
    report["why"] = f"{len(diffs)} row(s) differ"
    report["first_diffs"] = diffs[:5]
    return report


def run_gate(spark, sf_dir: str, names: list[str] | None = None) -> dict[str, dict]:
    """Run every registered query against its oracle and compare. Returns
    {name: report}."""
    from . import all_queries
    from .plans.queries import release_caches

    specs = all_queries()
    con = duckdb_connect(sf_dir)
    results: dict[str, dict] = {}
    for name, spec in specs.items():
        if names and name not in names:
            continue
        oracle_pdf = con.execute(spec.oracle).fetchdf()
        results[name] = compare(spec.fn(spark, sf_dir), oracle_pdf)
        # drop this query's scoped caches before the next one: 160 queries
        # in one session would otherwise pile cached blocks in executor
        # storage for the whole gate run
        release_caches()
    return results


if __name__ == "__main__":
    import json
    import sys

    from .session import get_spark

    from . import all_queries as _aq

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    known = set(_aq())
    if only and (bad := [n for n in only if n not in known]):
        sys.exit(f"unknown queries: {bad}; known: {sorted(known)}")
    spark = get_spark("oracle-gate")
    reports = run_gate(spark, sf_dir, only)
    ok = all(r["match"] for r in reports.values())
    for name, r in reports.items():
        status = "OK  " if r["match"] else "FAIL"
        print(f"{status} {name}: {json.dumps({k: v for k, v in r.items() if k != 'first_diffs'}, default=str)}")
        if r.get("first_diffs"):
            for x, y in r["first_diffs"]:
                print(f"      spark={x}\n      duck ={y}")
    sys.exit(0 if ok else 1)
