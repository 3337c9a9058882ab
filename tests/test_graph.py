"""Invariants for the iterative graph key (operators/graph.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ls_hadoop_3_0_spark.operators.graph import N_ITER, graph_pagerank

from .conftest import SF_DIR


def test_pagerank_mass_and_bounds(spark):
    """Rank mass stays ~1 (per-round quantization drifts ≤ nodes·5e-7);
    every rank is positive; bipartite node encoding keeps parities."""
    pr = graph_pagerank(spark, SF_DIR).cache()
    try:
        rows = pr.collect()
        n = len(rows)
        total = sum(r["pr"] for r in rows)
        assert abs(total - 1.0) < n * 1e-6 * N_ITER + 1e-4, total
        assert all(r["pr"] > 0 for r in rows)
        assert all(r["deg"] >= 1 for r in rows)
        # both partitions of the bipartite graph are present
        parities = {r["node"] % 2 for r in rows}
        assert parities == {0, 1}
    finally:
        pr.unpersist()


def test_pagerank_deterministic_across_runs(spark):
    """Quantized iterations ⇒ bit-identical ranks on re-execution
    (the property that makes the oracle parity possible at all)."""
    a = {r["node"]: r["pr"] for r in graph_pagerank(spark, SF_DIR).collect()}
    b = {r["node"]: r["pr"] for r in graph_pagerank(spark, SF_DIR).collect()}
    assert a == b


def test_degree_hist_accounts_every_node(spark):
    """Histogram masses sum to the node count of each side, and the
    degree-weighted sum equals the edge count in each direction."""
    from pyspark.sql import functions as F

    from ls_hadoop_3_0_spark.operators.graph import graph_degree_hist
    from ls_hadoop_3_0_spark.tables import load

    rows = graph_degree_hist(spark, SF_DIR).collect()
    pairs = (
        load(spark, SF_DIR, "orders")
        .join(
            load(spark, SF_DIR, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    n_cust = pairs.select("o_custkey").distinct().count()
    n_supp = pairs.select("l_suppkey").distinct().count()
    n_edges = pairs.count()
    by_side = {}
    wsum = {}
    for r in rows:
        by_side[r.side] = by_side.get(r.side, 0) + r.n_nodes
        wsum[r.side] = wsum.get(r.side, 0) + r.n_nodes * r.deg
    assert by_side == {"customer": n_cust, "supplier": n_supp}
    assert wsum["customer"] == n_edges and wsum["supplier"] == n_edges


def test_triangle_rank_pack_guard_fires_on_overflow(spark):
    """VERDICT r16 #7: the (deg << 40 | id) packing guard must fail
    LOUDLY when node ids reach 2^40 or degrees reach 2^23 — and stay
    silent (NULL) in-bounds, including the empty-graph NULL bounds."""
    import pytest

    from ls_hadoop_3_0_spark.operators.graph import _rank_pack_guard

    schema = "_min_id long, _max_id long, _max_deg long"
    ok = spark.createDataFrame(
        [(0, (1 << 40) - 1, (1 << 23) - 1)], schema
    ).select(_rank_pack_guard().alias("g"))
    assert ok.collect()[0]["g"] is None

    empty = spark.createDataFrame([(None, None, None)], schema).select(
        _rank_pack_guard().alias("g")
    )
    assert empty.collect()[0]["g"] is None

    for bad in [(0, 1 << 40, 1), (0, 1, 1 << 23)]:
        df = spark.createDataFrame([bad], schema).select(
            _rank_pack_guard().alias("g")
        )
        with pytest.raises(Exception, match="rank overflow"):
            df.collect()


def test_triangles_reject_negative_node_ids(spark, tmp_path):
    """A negative node id borrows from the degree bits of the packed
    (deg << 40 | id) rank and passes a maxima-only check; the guard's
    ``_min_id >= 0`` bound must make graph_triangles raise instead."""
    import pytest

    from ls_hadoop_3_0_spark.operators.graph import graph_triangles

    # suppliers -1, 1, 2 co-supply one order each pair: one triangle.
    rows = [
        (oid, 100 + i, s, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O")
        for oid, pair in enumerate([(-1, 1), (-1, 2), (1, 2)])
        for i, s in enumerate(pair)
    ]
    d = str(tmp_path / "neg")
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string",
    ).write.parquet(f"{d}/lineitem.parquet")
    with pytest.raises(Exception, match="rank overflow"):
        graph_triangles(spark, d).collect()
