"""Grouped-map operator surface: applyInPandas with exact relational
semantics.

The per-group pandas escape hatch (one group's rows as a DataFrame in, a
DataFrame out). Chosen demo: per-event-type percentile ranking — sort-based,
so its semantics are EXACTLY a SQL window (`PERCENT_RANK() OVER (PARTITION
BY type ORDER BY value, event_id)`), which makes the Python path fully
oracle-able: the gate proves the pandas kernel computes what the relational
operator computes, not merely that it runs.

Scale shape: groupBy(key).applyInPandas shuffles once on the key and streams
each group through a Python worker as Arrow batches. Memory bounds = largest
single group; for skewed keys, pre-split with a salt and merge ranks — or
use the pure-window form (which is what production should prefer anyway;
this operator exists for the kernels windows can't express)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register

OUT_SCHEMA = "event_id long, event_type string, value double, pct_rank double"


def _rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["value", "event_id"]).reset_index(drop=True)
    n = len(pdf)
    # PERCENT_RANK semantics: (rank - 1) / (n - 1); rank is 1-based position
    # of the row in (value, event_id) order — event_id tiebreak keeps ranks
    # unique, matching the SQL ORDER BY exactly
    pdf["pct_rank"] = [(i / (n - 1)) if n > 1 else 0.0 for i in range(n)]
    return pdf[["event_id", "event_type", "value", "pct_rank"]]


@register(
    "q_grouped_map_pct_rank",
    oracle="""
    SELECT event_id, event_type, value,
           PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value, event_id)
             AS pct_rank
    FROM events
    WHERE user_id <= 30
    ORDER BY event_id
    """,
    doc="applyInPandas grouped map vs SQL window: per-type percent ranks "
    "computed by a pandas kernel must hash-match PERCENT_RANK() — gates the "
    "grouped-map surface's *semantics*, not just its plumbing. (value, "
    "event_id) ordering keeps ranks unique and both engines deterministic.",
)
def q_grouped_map_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 30).select(
        "event_id", "event_type", "value"
    )
    return (
        ev.groupBy("event_type")
        .applyInPandas(_rank_group, schema=OUT_SCHEMA)
        .orderBy("event_id")
    )
