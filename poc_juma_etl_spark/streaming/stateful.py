"""Custom stateful streaming operator via applyInPandasWithState.

The arbitrary-state escape hatch for operators that windowed aggregation
can't express (running per-key accumulators, custom eviction, ML feature
state). Demonstrated as a per-user running event counter + value sum: state
is one (count, total) pair per user, updated per micro-batch, emitted on
every update.

At scale the state store shards by key across executors (RocksDB-backed
state store on a real cluster); the pandas function only ever sees one key's
rows per call, so memory is bounded by the largest single-key batch.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import stream_table
from ..plans.queries import register
from .events import drain_to_memory

OUT_SCHEMA = "user_id long, n_events long, total_value double, total_cents long"
STATE_SCHEMA = "n long, total double, cents long"


def _update_user_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    n, total, cents = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())  # pandas sum skips NaN, like SQL SUM
        # exact accumulator: floor-quantized cents sum in int64 — immune to
        # float addition order, so the driver gate can hash it (floor, not
        # round: round-half tie behavior differs across engines). NULL values
        # arrive as NaN and must be SKIPPED like the oracle's SUM — an
        # unguarded np.floor(NaN).astype(int64) is undefined garbage
        # (INT64_MIN), not a clean diff (r8 review fix).
        v = pdf["value"].to_numpy(dtype=np.float64)
        v = v[~np.isnan(v)]
        cents += int(np.floor(v * 100.0).astype(np.int64).sum())
    state.update((n, total, cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "total_cents": [cents],
        }
    )


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful counter over the bounded events stream; returns the
    final per-user totals (last state emitted per user)."""
    stream = stream_table(spark, sf_dir, "events")
    counted = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # multiple micro-batches emit multiple updates per user; the final state
    # per user is the row with the highest n_events
    out = drain_to_memory(counted, "stateful_user_totals", "update")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
        .orderBy("user_id")
    )


@register(
    "q_stream_stateful_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Custom stateful streaming operator, driver-gated: "
    "applyInPandasWithState keeps one (count, total, cents) accumulator "
    "per user in the sharded state store, updated per micro-batch; the "
    "final state per user must equal the batch groupBy. The hashed "
    "columns are the integer accumulators (count + floor-quantized "
    "cents) — exact regardless of float addition order across state "
    "updates; the float total is covered separately by "
    "tests/test_stateful_streaming.py with a tolerance.",
)
def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = streaming_user_totals(spark, sf_dir)
    return final.select("user_id", "n_events", "total_cents").orderBy("user_id")
