"""Within-brand triangle census: degree-ordered forward-algorithm count vs
a brute-force reference on synthetic graphs, plus the sf-fixture oracle
parity and the empty guard."""

from itertools import combinations

import pytest

from poc_juma_etl_spark.operators.graph import (
    TRIANGLES_ORACLE,
    q_graph_brand_triangle_census,
)

from .conftest import SF_ORACLE


def _census(edges):
    """Brute-force (nodes, edges, wedges, triangles) for one undirected
    edge set given as {(u, v), ...} with u < v."""
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    n_wedges = sum(len(nb) * (len(nb) - 1) // 2 for nb in adj.values())
    n_tri = sum(
        1
        for a, b, c in combinations(sorted(adj), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    return len(adj), len(edges), n_wedges, n_tri


def _write_fixture(spark, tmp_path, rows, brand_of):
    """Write catalog-schema lineitem/part files carrying only the columns
    the census reads (others are typed NULLs the schema gate accepts)."""
    import pyspark.sql.functions as F

    def pad(df, table):
        base = spark.read.parquet(f"{SF_ORACLE}/{table}.parquet").limit(0)
        return df.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in base.schema.fields
            ]
        )

    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    parts = sorted(brand_of)
    pt = spark.createDataFrame(
        [(p, brand_of[p]) for p in parts], "p_partkey long, p_brand string"
    )
    pad(li, "lineitem").write.parquet(f"{tmp_path}/lineitem.parquet")
    pad(pt, "part").write.parquet(f"{tmp_path}/part.parquet")


def _orders_for_edges(brand_edges):
    """Fixture builder: one two-part order per wanted edge makes the
    co-occurrence graph exactly the requested edge set."""
    rows, ok = [], 1000
    for brand, edges in brand_edges.items():
        for u, v in edges:
            rows.append((ok, u))
            rows.append((ok, v))
            ok += 1
    return rows


@pytest.mark.parametrize(
    "edges",
    [
        # triangle + pendant
        {(1, 2), (1, 3), (2, 3), (3, 4)},
        # two triangles sharing an edge (the shared-edge double count trap)
        {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)},
        # K4: four triangles, every orientation case
        set(combinations([1, 2, 3, 4], 2)),
        # star: many wedges, zero triangles
        {(1, 2), (1, 3), (1, 4), (1, 5)},
        # disconnected: triangle + isolated edge
        {(1, 2), (1, 3), (2, 3), (8, 9)},
    ],
    ids=["pendant", "shared-edge", "k4", "star", "disconnected"],
)
def test_triangle_census_vs_bruteforce(spark, tmp_path, edges):
    rows = _orders_for_edges({"Brand#1": edges})
    _write_fixture(spark, tmp_path, rows, {p: "Brand#1" for _, p in rows})
    got = q_graph_brand_triangle_census(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    n, e, w, t = _census(edges)
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (n, e, w, t)
    assert r.closed_x3 == 3 * t


def test_triangle_census_brand_isolation(spark, tmp_path):
    """Per-brand rows are independent subgraph censuses (a part has one
    brand, so isolation is structural — this pins that a mixed-brand ORDER
    still contributes edges only within each brand's member set)."""
    rows = _orders_for_edges(
        {"A": {(1, 2), (1, 3), (2, 3)}, "B": {(11, 12), (12, 13)}}
    )
    # a mixed-brand order adds NO within-brand edge on either side
    rows += [(9999, 2), (9999, 11)]
    brand = {p: ("A" if p < 10 else "B") for _, p in rows}
    _write_fixture(spark, tmp_path, rows, brand)
    got = {
        r.brand: r
        for r in q_graph_brand_triangle_census(spark, str(tmp_path)).collect()
    }
    assert got["A"].n_triangles == 1 and got["B"].n_triangles == 0
    assert got["B"].n_wedges == 1


def test_triangle_census_oracle_parity(spark, duck):
    got = [
        tuple(r) for r in q_graph_brand_triangle_census(spark, SF_ORACLE).collect()
    ]
    exp = [tuple(r) for r in duck.execute(TRIANGLES_ORACLE).fetchall()]
    assert got == exp and len(got) > 0


def test_triangle_census_empty_input(spark, tmp_path):
    _write_fixture(spark, tmp_path, [], {})
    assert q_graph_brand_triangle_census(spark, str(tmp_path)).collect() == []


def test_graph_triangles_attribute_is_top10_query(spark):
    """The module's ``q_graph_triangles`` is the registered top-10 query,
    not the per-brand census."""
    from poc_juma_etl_spark import all_queries
    from poc_juma_etl_spark.operators import graph

    df = graph.q_graph_triangles(spark, SF_ORACLE)
    assert tuple(df.columns) == ("node", "n_triangles", "total_triangles")
    assert graph.q_graph_triangles is all_queries()["q_graph_triangles"].fn
