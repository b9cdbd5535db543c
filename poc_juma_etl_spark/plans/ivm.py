"""Incremental JOIN-view maintenance — the join-side counterpart of
etl_incremental_agg_e2e (plans/etl_e2e.py): a materialized join view
J = orders ⋈ customer is kept current under BOTH kinds of change a
warehouse sees, without ever recomputing the join:

- **dimension-attribute updates** (a customer's segment changes): repaired
  FROM THE VIEW ITSELF — J already carries every fact column it needs, so
  the touched rows are split out by key (broadcast anti/semi joins against
  the changed-key set) and re-joined only with the updated dimension
  slice. The fact table is NEVER rescanned for a dim update; work is
  proportional to |J rows of changed keys|, the classic IVM delta rule
  ΔJ = J ⋉ ΔB with substitution (Gupta & Mumick's delta algebra);
- **fact inserts** (late-arriving orders): ΔA ⋈ B_new, a delta-sized join
  against the broadcast dimension, appended.

The maintained view must be INDISTINGUISHABLE from a full recompute of
A_new ⋈ B_new — the DuckDB oracle performs that full recompute, so the
gate is row-for-row hash equality (the q_scd2_incremental_apply
equivalence statement applied to a join view). At 100 TB: J bucketed by
the join key turns the changed-key split into partition-pruned reads; the
delta join broadcasts the dimension; the base join runs exactly once at
view creation.

Reference behavior: the reference pipeline (fe-malveira-87/poc-juma-etl)
rebuilds its gold tables in full on every run (materialize_gold.py:42-79);
this is the engine-native refresh that makes rebuild unnecessary.

Registered as the driver gate ``etl_incremental_join_e2e`` in round 10
(the round-9 queue drain); tests/test_ivm.py runs the same
Spark-vs-DuckDB parity the gate runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .queries import register, scoped_dir

SPLIT = "1996-06-01"  # orders on/after this date arrive as the fact delta
UPD_PRED = "c_custkey % 10 = 3"  # these customers' segment changes
NEW_SEGMENT = "MIGRATED"

VIEW_COLS = ("o_orderkey", "o_custkey", "mktsegment")


def _join_view(orders: DataFrame, cust: DataFrame) -> DataFrame:
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_custkey", F.col("c_mktsegment").alias("mktsegment")
    )


IVM_JOIN_ORACLE = f"""
    WITH cust_new AS (
      SELECT c_custkey,
             CASE WHEN {UPD_PRED} THEN '{NEW_SEGMENT}' ELSE c_mktsegment END
               AS c_mktsegment
      FROM customer
    )
    SELECT o.o_orderkey, o.o_custkey, cn.c_mktsegment AS mktsegment
    FROM orders o JOIN cust_new cn ON cn.c_custkey = o.o_custkey
    ORDER BY o.o_orderkey
    """


@register(
    "etl_incremental_join_e2e",
    oracle=IVM_JOIN_ORACLE,
    doc="Incremental JOIN-view maintenance end to end: a materialized "
    "orders-customer join view is kept current under BOTH change "
    "kinds — dimension-attribute updates repaired FROM THE VIEW "
    "ITSELF (broadcast anti/semi split by changed key + re-join of "
    "only the touched rows; the fact table is never rescanned — the "
    "Gupta-Mumick delta rule), and fact-delta inserts appended via a "
    "delta-sized join against the broadcast dimension. The DuckDB "
    "oracle performs the full recompute the maintained view must be "
    "indistinguishable from — row-for-row hash equality. At 100 TB: "
    "view bucketed by join key makes the changed-key split "
    "partition-pruned; the base join runs exactly once at creation.",
)
def etl_incremental_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c_old = load_table(spark, sf_dir, "customer")
    c_new = c_old.withColumn(
        "c_mktsegment",
        F.when(F.expr(UPD_PRED), F.lit(NEW_SEGMENT)).otherwise(
            F.col("c_mktsegment")
        ),
    )

    tmp = scoped_dir("ivm_join_")
    # t0: materialize the base view from the historical fact slice
    base = _join_view(o.filter(F.col("o_orderdate") < SPLIT), c_old)
    base.write.parquet(f"{tmp}/view_v1")

    j = spark.read.parquet(f"{tmp}/view_v1")
    changed = c_new.filter(UPD_PRED).select("c_custkey", "c_mktsegment")

    # dim-update repair: FROM THE VIEW, no fact rescan
    untouched = j.join(
        F.broadcast(changed.select("c_custkey")),
        j.o_custkey == F.col("c_custkey"),
        "left_anti",
    )
    repaired = (
        j.join(F.broadcast(changed), j.o_custkey == changed.c_custkey)
        .select("o_orderkey", "o_custkey", F.col("c_mktsegment").alias("mktsegment"))
    )

    # fact-delta append: delta join against the broadcast updated dim
    delta = _join_view(
        o.filter(F.col("o_orderdate") >= SPLIT), F.broadcast(c_new)
    )

    v2 = untouched.unionByName(repaired).unionByName(delta)
    v2.write.parquet(f"{tmp}/view_v2")
    return spark.read.parquet(f"{tmp}/view_v2").orderBy("o_orderkey")
