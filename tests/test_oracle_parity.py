"""t2 replica: every registered query must match its DuckDB oracle
exactly (row count, column names, order-insensitive values) at the test SF.
This mirrors the driver's correctness gate so parity drift fails locally
first."""

import pytest

from poc_juma_etl_spark import all_queries
from poc_juma_etl_spark.oracle import compare

from .conftest import SF_ORACLE

SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS), ids=str)
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    report = compare(spec.fn(spark, SF_ORACLE), oracle_pdf)
    assert report["match"], report


def test_norm_cell_is_dtype_sensitive():
    """Round-1 regression: the driver's value hash distinguishes BIGINT 9
    from DOUBLE 9.0 (q_scalar_function_suite failed there while passing the
    old `==`-based local gate). The local comparator must be exactly as
    strict: ints, floats and bools never compare equal across types."""
    from poc_juma_etl_spark.oracle import _norm_cell

    assert _norm_cell(9) != _norm_cell(9.0)
    assert _norm_cell(0) != _norm_cell(False)
    assert _norm_cell(1) != _norm_cell(True)
    assert _norm_cell(1.0) != _norm_cell(True)
    # same-type values still compare equal, NaN is stable
    assert _norm_cell(9) == _norm_cell(9)
    assert _norm_cell(9.5) == _norm_cell(9.5)
    assert _norm_cell(float("nan")) == _norm_cell(float("nan"))
    # nested arrays inherit the tagging
    assert _norm_cell([1, 2]) != _norm_cell([1.0, 2.0])


def test_compare_rejects_int_float_drift(spark):
    """End-to-end: a BIGINT Spark column vs a DOUBLE oracle column with
    numerically equal values must FAIL the local gate."""
    import pandas as pd

    sdf = spark.createDataFrame([(1, 9)], "k int, v long")
    pdf = pd.DataFrame({"k": [1], "v": [9.0]})
    assert not compare(sdf, pdf)["match"]
