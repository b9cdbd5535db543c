"""Table registry — the engine's logical catalog for the ETL half.

Same shape as the reference's ``SERVICE_MAP`` (reference config.py:67-131):
one entry per table with {source name, load mode, filter field, partition
granularity}, plus the RAW→GOLD trigger map (reference main.py:26-30). The
reference's range type only sized its extraction batches, so it has no field
here. The registry drives ``etl.run_table`` dispatch (O8) exactly the way
SERVICE_MAP drives ``run_etl_service`` (reference utils.py:346-453).

Registered here are the engine's fixture-domain tables: dimensions load
full-overwrite (the reference's "cadastral" WRITE_TRUNCATE tables,
config.py:72-90), facts load via idempotent range replacement on their date
field (the reference's WRITE_APPEND + delete-range tables, config.py:97-129).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class TableSpec:
    name: str
    source: str  # source table/service name
    load_mode: str  # "overwrite" (S4) | "range_replace" (R1+S5)
    filter_field: str | None = None  # date column driving incremental loads
    # warehouse partition granularity: long-horizon facts partition by month
    # (a 7-year daily fact is ~2500 directories — file-listing death),
    # high-volume short-horizon streams by day
    partition_granularity: str = "day"


SERVICE_MAP: dict[str, TableSpec] = {
    # dimensions — full overwrite, like the reference's cadastral tables
    "region": TableSpec("region", "region", "overwrite"),
    "nation": TableSpec("nation", "nation", "overwrite"),
    "customer": TableSpec("customer", "customer", "overwrite"),
    "supplier": TableSpec("supplier", "supplier", "overwrite"),
    "part": TableSpec("part", "part", "overwrite"),
    "documents": TableSpec("documents", "documents", "overwrite"),
    "embeddings": TableSpec("embeddings", "embeddings", "overwrite"),
    # facts — idempotent range replacement on the date field
    "orders": TableSpec(
        "orders", "orders", "range_replace", "o_orderdate",
        partition_granularity="month",
    ),
    "lineitem": TableSpec(
        "lineitem", "lineitem", "range_replace", "l_shipdate",
        partition_granularity="month",
    ),
    "events": TableSpec("events", "events", "range_replace", "ts"),
}

# RAW→GOLD dependency triggers (reference TRIGGER_MAP, main.py:26-30):
# when the RAW table on the left finishes, materialize the gold view on the
# right (gold specs live in plans/gold.py).
TRIGGER_MAP: dict[str, str] = {
    "lineitem": "vw_lineitem_pricing",
    "orders": "vw_order_revenue",
    "events": "vw_event_hourly",
}
