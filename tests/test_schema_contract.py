"""Full-surface schema contract: for EVERY registered query, the Spark plan's
output column names must equal the DuckDB oracle's — checked via schema
derivation only (Spark analysis + DuckDB DESCRIBE), no execution, so the
whole 150-query surface verifies in seconds.

The driver's hash compare sorts columns by name before hashing values: a
column-name drift between the two sides is an automatic driver FAIL even
when every value matches. This test catches that class instantly; the
oracle gate (which executes) stays the value-level check.

Queries with side effects (e2e writers, stream drains) build real pipelines
at plan time, so only pure q_* queries get the two-sided Spark-vs-oracle
check; the excluded queries' oracle SQL still gets a one-sided DESCRIBE
validity pass (parses, binds to the catalog views, no duplicate columns) in
test_side_effect_oracles_describe.
"""

import duckdb
import pytest

from poc_juma_etl_spark import all_queries
from poc_juma_etl_spark.oracle import duckdb_connect

from .conftest import SF_ORACLE

SPECS = all_queries()

# plan-time-pure queries: building the DataFrame runs no job
PURE = sorted(
    n
    for n in SPECS
    if n.startswith("q") and "e2e" not in n and not n.startswith("q_stream_")
)

# queries excluded from the two-sided check (side-effectful plans)
SIDE_EFFECT = sorted(n for n in SPECS if n not in PURE)


@pytest.fixture(scope="module")
def con():
    c = duckdb_connect(SF_ORACLE)
    yield c
    c.close()


def oracle_cols(con: "duckdb.DuckDBPyConnection", sql: str) -> list[str]:
    return sorted(r[0].lower() for r in con.execute(f"DESCRIBE {sql}").fetchall())


@pytest.mark.parametrize("name", PURE, ids=str)
def test_columns_match_oracle(spark, con, name):
    spec = SPECS[name]
    spark_cols = sorted(c.lower() for c in spec.fn(spark, SF_ORACLE).columns)
    assert spark_cols == oracle_cols(con, spec.oracle), name
    # duplicate names on either side would silently corrupt the driver's
    # sorted-column hash even if the sets "match"
    assert len(spark_cols) == len(set(spark_cols)), name


@pytest.mark.parametrize("name", SIDE_EFFECT, ids=str)
def test_side_effect_oracles_describe(con, name):
    """One-sided pass for e2e/stream queries: their Spark half cannot be
    schema-derived without running pipelines, but the oracle SQL must still
    parse, bind against the catalog views, and produce unique column names
    (the Spark-side names are pinned by the executing oracle gate)."""
    cols = oracle_cols(con, SPECS[name].oracle)
    assert cols, name
    assert len(cols) == len(set(cols)), name


@pytest.mark.parametrize("name", PURE, ids=str)
def test_scalar_output_columns_only(spark, name):
    """No registered query may emit array/map/struct output columns: the
    driver's pandas canonicalizer crashes sorting ndarray cells (r4's
    q_embedding_pool_mean red — the fix exploded the centroid to
    (label, pos, mean_component) rows). Enforced here so the NEXT
    non-scalar output fails locally before it reaches a driver window."""
    from poc_juma_etl_spark.oracle import complex_output_columns

    assert complex_output_columns(SPECS[name].fn(spark, SF_ORACLE)) == [], name


def test_gate_rejects_array_output(spark):
    """compare() itself must fail fast on a non-scalar Spark result —
    before toPandas/canonicalization — mirroring the driver's behavior."""
    import pandas as pd

    from poc_juma_etl_spark.oracle import compare

    df = spark.sql("SELECT 1 AS k, array(1.0, 2.0) AS vec")
    report = compare(df, pd.DataFrame({"k": [1], "vec": [[1.0, 2.0]]}))
    assert report["match"] is False
    assert "non-scalar" in report["why"] and "vec" in report["why"]
