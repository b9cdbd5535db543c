"""Full-registry sf1 soak runner.

Runs every registered query against the replicated sf1 fixture
(tools/make_soak_data.py -> /tmp/soak_sf1) in ONE Spark session + ONE
DuckDB connection, printing each query's verdict as it completes (the
``python -m poc_juma_etl_spark.oracle`` CLI prints only at the end, which
makes a multi-hour sweep a silent wait). Failures don't stop the sweep.

Usage:
    SPARK_GRAFT_DRIVER_MEM=64g python tools/soak_sf1.py [sf_dir] [start:stop]
    python tools/soak_sf1.py /tmp/soak_sf1 q_a,q_b     # explicit subset

Full-row hashing is skipped (aggregate parity was established in round 5,
BENCHNOTES batch 5b) for the pair-explosive dedup outputs, whose rows
square under the 10x-replicated fixture past spark.driver.maxResultSize;
their bounded grouped twins run the normal gate instead.
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# verified by exact aggregate parity / their bounded grouped twins instead:
# the replicated fixture squares their pair output past driver
# maxResultSize (and past any sane fetchdf on the oracle side —
# q_dedup_levenshtein emits ~10^8 name-pair rows at sf1)
PAIR_EXPLOSIVE = {
    "q_dedup_simhash",
    "q_dedup_embedding_cosine",
    "q_dedup_levenshtein",
}

from poc_juma_etl_spark.operators.components import SQL_PIPELINE_RANKED  # noqa: E402

# Drop-in replacement for SQL_PIPELINE_RANKED once the sweep has
# materialized the prelude: same CTE interface (tok + ranked), zero cost.
CACHED_PRELUDE = """
    WITH RECURSIVE
    tok AS (SELECT doc_id, ts FROM pipeline_tok),
    ranked AS (SELECT * FROM pipeline_ranked)
"""

# q_dedup_components' oracle is an INLINE copy of the same closure (its own
# recursive reach CTE) — superlinear on the replicated fixture (10-way dup
# cliques square the reach table; measured >35 min of DuckDB CPU at sf1).
# The cached prelude already holds the answer: graph components are exactly
# the ranked components with >= 2 members (every edge endpoint is in
# membership; singletons come only from the COALESCE), and n_reachable is
# the component size. Same JACCARD_T/df-cutoff constants by construction.
COMPONENTS_FROM_CACHE = """
    SELECT doc_id, component, CAST(n_members AS BIGINT) AS n_reachable
    FROM ranked WHERE n_members >= 2 ORDER BY doc_id
"""


def main() -> None:
    from poc_juma_etl_spark import all_queries
    from poc_juma_etl_spark.oracle import compare, duckdb_connect
    from poc_juma_etl_spark.plans.queries import release_caches
    from poc_juma_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/soak_sf1"
    specs = all_queries()
    names = list(specs)
    if len(sys.argv) > 2:
        arg = sys.argv[2]
        if ":" in arg:  # slice of the registry order
            lo, hi = arg.split(":")
            names = names[int(lo or 0) : int(hi) if hi else None]
        else:
            names = arg.split(",")
            if bad := [n for n in names if n not in specs]:
                sys.exit(f"unknown queries: {bad}")

    spark = get_spark("soak-sf1")
    con = duckdb_connect(sf_dir)
    n_ok = n_fail = n_skip = 0
    pipeline_cached = False
    for i, name in enumerate(names):
        if name in PAIR_EXPLOSIVE:
            print(f"SKIP {name}: pair-explosive at sf1 (aggregate-parity-verified r5)",
                  flush=True)
            n_skip += 1
            continue
        spec = specs[name]
        t0 = time.perf_counter()
        try:
            oracle_sql = spec.oracle
            if name == "q_dedup_components":
                # Guard the splice: the cached-prelude derivation below is
                # only equivalent to the query's own registered oracle if
                # that oracle still computes the SAME closure (edges CTE,
                # thresholds) as SQL_PIPELINE_RANKED. If the registered
                # oracle drifts (e.g. JACCARD_T changes in one place), the
                # substitution must fail loudly, not mask it.
                core = SQL_PIPELINE_RANKED[
                    SQL_PIPELINE_RANKED.index("sh AS") :
                    SQL_PIPELINE_RANKED.index("reach(node, r) AS")
                ]
                reach = SQL_PIPELINE_RANKED[
                    SQL_PIPELINE_RANKED.index("reach(node, r) AS") :
                    SQL_PIPELINE_RANKED.index("membership")
                ].strip().rstrip(",")
                assert core in spec.oracle and reach in spec.oracle, (
                    "q_dedup_components' registered oracle no longer embeds "
                    "SQL_PIPELINE_RANKED's shingle->edges->reach closure "
                    "verbatim (a constant like JACCARD_T drifted?) — the "
                    "cached-prelude substitution is not equivalence-"
                    "preserving; update COMPONENTS_FROM_CACHE or drop the "
                    "splice."
                )
                oracle_sql = SQL_PIPELINE_RANKED + COMPONENTS_FROM_CACHE
            if SQL_PIPELINE_RANKED in oracle_sql:
                # the shared curation-pipeline prelude (recursive-CTE
                # closure over the shingle self-join) costs ~20 min at
                # sf1 PER QUERY on the DuckDB side; materialize it once
                # per sweep and splice the cached tables in (same CTE
                # interface: tok + ranked)
                if not pipeline_cached:
                    t_cache = time.perf_counter()
                    con.execute(
                        "CREATE TEMP TABLE pipeline_tok AS "
                        + SQL_PIPELINE_RANKED
                        + " SELECT doc_id, ts FROM tok"
                    )
                    con.execute(
                        "CREATE TEMP TABLE pipeline_ranked AS "
                        + SQL_PIPELINE_RANKED
                        + " SELECT * FROM ranked"
                    )
                    pipeline_cached = True
                    print(
                        f"CACHED pipeline prelude in {time.perf_counter() - t_cache:.1f}s",
                        flush=True,
                    )
                oracle_sql = oracle_sql.replace(
                    SQL_PIPELINE_RANKED, CACHED_PRELUDE
                )
            oracle_pdf = con.execute(oracle_sql).fetchdf()
            r = compare(spec.fn(spark, sf_dir), oracle_pdf)
        except Exception as exc:  # keep sweeping; record the failure
            r = {"match": False, "error": f"{type(exc).__name__}: {exc}"}
            traceback.print_exc()
        release_caches()
        dt = time.perf_counter() - t0
        status = "OK  " if r["match"] else "FAIL"
        if r["match"]:
            n_ok += 1
        else:
            n_fail += 1
        print(
            f"{status} [{i + 1}/{len(names)}] {name} ({dt:.1f}s): "
            + json.dumps({k: v for k, v in r.items() if k != "first_diffs"},
                         default=str),
            flush=True,
        )
        if r.get("first_diffs"):
            for x, y in r["first_diffs"][:3]:
                print(f"      spark={x}\n      duck ={y}", flush=True)
    print(f"DONE ok={n_ok} fail={n_fail} skip={n_skip}", flush=True)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
