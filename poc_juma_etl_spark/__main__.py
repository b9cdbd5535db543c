"""CLI mirroring the reference's entry points (reference main.py:195-231):

    python -m poc_juma_etl_spark --table LINEITEM        # one table (§3.1)
    python -m poc_juma_etl_spark --all --workers 4       # parallel ETL (§3.2)
    python -m poc_juma_etl_spark --gold                  # gold batch (§3.3)

plus engine extras:

    python -m poc_juma_etl_spark --gate                  # oracle correctness gate
    python -m poc_juma_etl_spark --list                  # registered tables/queries
    python -m poc_juma_etl_spark --curate                # corpus curation pipeline

Table names are case-insensitive like the reference's argparse upper() path
(main.py:212-215). ``--all`` drives the live two-panel console dashboard
(O10, reference main.py:55-94) via dashboard.LivePainter — ANSI repaint on
a TTY, one clean final frame otherwise."""

from __future__ import annotations

import argparse
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    from .catalog import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(prog="poc_juma_etl_spark")
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--table", help="run ETL for one registered table")
    g.add_argument("--all", action="store_true", help="run ETL for every table")
    g.add_argument("--gold", action="store_true", help="materialize every gold view")
    g.add_argument("--gate", action="store_true", help="run the DuckDB oracle gate")
    g.add_argument("--list", action="store_true", help="list tables and queries")
    g.add_argument(
        "--curate",
        action="store_true",
        help="run the corpus curation pipeline over the documents table",
    )
    ap.add_argument("--workers", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--warehouse", default=None, help="output dir (default: ./warehouse)")
    args = ap.parse_args(argv)

    from . import all_queries
    from .registry import SERVICE_MAP

    if args.list:
        print("tables:", ", ".join(SERVICE_MAP))
        print("queries:", ", ".join(all_queries()))
        return 0

    from .session import get_spark

    wh = args.warehouse or os.path.abspath("./warehouse")
    spark = get_spark("etl-cli")
    t0 = time.time()
    try:
        if args.gate:
            from .oracle import run_gate

            reports = run_gate(spark, args.sf_dir)
            for n, r in reports.items():
                print("OK  " if r["match"] else "FAIL", n)
            return 0 if all(r["match"] for r in reports.values()) else 1
        if args.table:
            name = args.table.lower()
            if name not in SERVICE_MAP:
                sys.exit(f"unknown table {args.table!r}; known: {', '.join(SERVICE_MAP)}")
            from .etl import run_table

            path = run_table(spark, args.sf_dir, wh, name)
            print(f"loaded {name} -> {path} ({time.time() - t0:.1f}s)")
            return 0
        if args.all:
            from .dashboard import LivePainter, StatusBoard
            from .etl import run_all
            from .registry import TRIGGER_MAP

            board = StatusBoard(list(SERVICE_MAP), sorted(set(TRIGGER_MAP.values())))
            with LivePainter(board):
                results = run_all(
                    spark, args.sf_dir, wh, max_workers=args.workers, board=board
                )
            for name, path in sorted(results.items()):
                print(f"  {name:24s} -> {path}")
            print(f"{len(results)} outputs in {time.time() - t0:.1f}s")
            return 0
        if args.curate:
            from .pipeline import curate_corpus

            counts = curate_corpus(spark, args.sf_dir, f"{wh}/curated_documents")
            for stage, n in counts.items():
                print(f"  {stage:20s} {n}")
            print(f"curated -> {wh}/curated_documents ({time.time() - t0:.1f}s)")
            return 0
        if args.gold:
            from .catalog import register_views
            from .plans import gold

            register_views(spark, args.sf_dir, ["lineitem", "orders", "events"])
            gold.define_gold_views(spark)
            for view, path in gold.materialize_all(spark, wh).items():
                print(f"  {view:24s} -> {path}")
            print(f"done in {time.time() - t0:.1f}s")
            return 0
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
