"""Connected-components property test vs a union-find oracle.

Replicates the reference's randomized clustering oracle test
(reference: tests/test_cc_implementation.py — random graphs checked
against networkx connected_components; we use a dependency-free
union-find instead, SURVEY.md §5.2).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from splink_spark.operators import cluster
from splink_spark.operators.cluster import connected_components


@pytest.fixture
def spark_path(monkeypatch):
    """Send every graph with an edge through the Spark supersteps (a
    budget of zero edges is a test seam, not a setting)."""
    monkeypatch.setattr(cluster, "_LOCAL_EDGES", 0)


@pytest.fixture(params=["driver", "spark"])
def cc_path(request):
    if request.param == "spark":
        request.getfixturevalue("spark_path")
    return request.param


class UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _oracle(edges):
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    return {n: uf.find(n) for n in uf.parent}


def _check(spark, edges):
    df = spark.createDataFrame(
        edges, "unique_id_l: long, unique_id_r: long"
    )
    got = {
        r["unique_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    exp = _oracle(edges)
    # same partition: compare canonical min-representative
    assert got == exp, (got, exp)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find(spark, seed):
    rnd = random.Random(seed)
    n = 120
    p = rnd.choice([0.002, 0.01, 0.05])
    edges = [
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if rnd.random() < p
    ]
    if not edges:
        edges = [(0, 1)]
    _check(spark, edges)


def test_chain_cycle_selfloop_duplicate(spark):
    edges = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (11, 12), (12, 10),    # cycle
        (20, 20),                        # self-loop
        (30, 31), (30, 31), (31, 30),    # duplicates both orders
    ]
    df = spark.createDataFrame(edges, "unique_id_l: long, unique_id_r: long")
    got = {
        r["unique_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[10] == got[11] == got[12] == 10
    assert got[30] == got[31] == 30
    # self-loop-only node is its own singleton
    assert got[20] == 20


def test_giant_component(spark):
    rnd = random.Random(99)
    # one giant star + noise chains
    edges = [(0, i) for i in range(1, 200)]
    edges += [(1000 + i, 1001 + i) for i in range(0, 50, 2)]
    rnd.shuffle(edges)
    _check(spark, edges)


def test_cluster_metrics_hand_graph(spark):
    """Triangle + edge + star: density/centralisation against hand
    calculation. reference: splink/graph_metrics.py."""
    from splink_spark.operators.cluster import (
        cluster_metrics,
        connected_components,
        node_degree_table,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (6, 7), (6, 8), (6, 9)],
        "unique_id_l long, unique_id_r long",
    )
    comps = connected_components(edges)
    m = {
        r["cluster_id"]: r
        for r in cluster_metrics(edges, comps).collect()
    }
    tri, pair, star = m[1], m[4], m[6]
    assert (tri["n_nodes"], tri["n_edges"]) == (3, 3)
    assert tri["density"] == pytest.approx(1.0)
    assert tri["cluster_centralisation"] == pytest.approx(0.0)
    assert (pair["n_nodes"], pair["n_edges"]) == (2, 1)
    assert pair["density"] == pytest.approx(1.0)
    assert pair["cluster_centralisation"] is None
    assert (star["n_nodes"], star["n_edges"]) == (4, 3)
    assert star["density"] == pytest.approx(0.5)
    assert star["cluster_centralisation"] == pytest.approx(1.0)

    deg = {
        r["unique_id"]: r["node_degree"]
        for r in node_degree_table(edges, comps).collect()
    }
    assert deg[6] == 3 and deg[9] == 1 and deg[1] == 2


# ---------------------------------------------------------------------------
# incremental connected components (delta-graph folding)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 3])
def test_incremental_matches_full_cc(spark, seed):
    """Folding random edge batches incrementally yields EXACTLY the
    labels of one full CC over the union of all edges."""
    from splink_spark.operators.cluster import (
        incremental_connected_components,
    )

    rng = random.Random(seed)
    n = 80
    all_edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(120)
    ]
    batches = [all_edges[i::4] for i in range(4)]

    assignments = spark.createDataFrame(
        [], "unique_id long, cluster_id long"
    )
    for b in batches:
        df = spark.createDataFrame(
            b, "unique_id_l: long, unique_id_r: long"
        )
        assignments = incremental_connected_components(
            assignments, df
        ).localCheckpoint()

    got = {
        r["unique_id"]: r["cluster_id"] for r in assignments.collect()
    }
    full = spark.createDataFrame(
        all_edges, "unique_id_l: long, unique_id_r: long"
    )
    exp = {
        r["unique_id"]: r["cluster_id"]
        for r in connected_components(full).collect()
    }
    assert got == exp


def test_incremental_merges_and_new_nodes(spark):
    """A batch can bridge two existing clusters AND introduce brand-new
    nodes; labels stay min-member-id."""
    from splink_spark.operators.cluster import (
        incremental_connected_components,
    )

    base = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10), (50, 50)],
        "unique_id long, cluster_id long",
    )
    batch = spark.createDataFrame(
        # bridge clusters 1 and 10; new chain 90-91; lone new self-loop
        [(2, 11), (90, 91), (77, 77)],
        "unique_id_l long, unique_id_r long",
    )
    got = {
        r["unique_id"]: r["cluster_id"]
        for r in incremental_connected_components(base, batch).collect()
    }
    assert got == {
        1: 1, 2: 1, 10: 1, 11: 1, 50: 50, 90: 90, 91: 90, 77: 77,
    }


# ---------------------------------------------------------------------------
# the Spark supersteps: every case above again, above the edge budget
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find_spark_path(spark, spark_path, seed):
    test_random_graphs_match_union_find(spark, seed)


def test_chain_cycle_selfloop_duplicate_spark_path(spark, spark_path):
    test_chain_cycle_selfloop_duplicate(spark)


def test_giant_component_spark_path(spark, spark_path):
    test_giant_component(spark)


def test_cluster_metrics_hand_graph_spark_path(spark, spark_path):
    test_cluster_metrics_hand_graph(spark)


@pytest.mark.parametrize("seed", [0, 3])
def test_incremental_matches_full_cc_spark_path(spark, spark_path, seed):
    test_incremental_matches_full_cc(spark, seed)


def test_incremental_merges_and_new_nodes_spark_path(spark, spark_path):
    test_incremental_merges_and_new_nodes(spark)


def test_dense_graph_finishes_on_driver_mid_loop(spark, monkeypatch):
    """A complete graph (780 edges) plus a chain is over a 100-edge
    budget; one superstep folds the complete graph into a 39-edge star,
    and the driver labels the half-reduced graph exactly."""
    monkeypatch.setattr(cluster, "_LOCAL_EDGES", 100)
    steps = []
    small_star = cluster._small_star

    def counted(e):
        steps.append(1)
        return small_star(e)

    monkeypatch.setattr(cluster, "_small_star", counted)
    edges = [(i, j) for i in range(40) for j in range(i + 1, 40)]
    edges += [(100 + i, 101 + i) for i in range(20)]
    random.Random(7).shuffle(edges)
    _check(spark, edges)
    assert len(steps) == 1


def test_small_graph_clusters_in_a_few_jobs(spark):
    """A ~200-edge graph is collected in one bounded action and labelled
    on the driver: a few Spark jobs in all, counting the caller's
    collect, and no superstep checkpoint."""
    rnd = random.Random(5)
    edges = [(rnd.randrange(150), rnd.randrange(150)) for _ in range(200)]
    df = spark.createDataFrame(
        edges, "unique_id_l: long, unique_id_r: long"
    ).localCheckpoint()
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("cc_small_graph", "cluster")
    try:
        got = {
            r["unique_id"]: r["cluster_id"]
            for r in connected_components(df).collect()
        }
        jobs = len(sc.statusTracker().getJobIdsForGroup("cc_small_graph"))
    finally:
        sc.setJobGroup(None, None)
    assert got == _oracle(edges)
    assert jobs <= 4, jobs
    assert sc._jsc.getPersistentRDDs().size() == persisted


# ---------------------------------------------------------------------------
# id types and NULLs, on both sides of the budget
# ---------------------------------------------------------------------------


def _labels(spark, rows, id_type):
    df = spark.createDataFrame(
        rows, f"unique_id_l {id_type}, unique_id_r {id_type}"
    )
    return connected_components(df)


def test_string_ids_cluster_to_spark_min(spark, cc_path):
    """cluster_id is the component minimum under Spark's string order
    (UTF-8 bytes): U+FB00 sorts below U+1D518, where UTF-16 order would
    put the surrogate pair first."""
    rows = [
        ("é", "z"), ("z", "Ω"), ("Ω", "e"),
        ("\ufb00", "\U0001d518"), ("日本", "é"),
        ("b", "B"), ("B", "b"),
        ("solo", "solo"),
    ]
    out = _labels(spark, rows, "string")
    assert [f.dataType for f in out.schema] == [StringType(), StringType()]
    got = {r["unique_id"]: r["cluster_id"] for r in out.collect()}
    assert got == _oracle(rows)
    mins = out.groupBy("cluster_id").agg(F.min("unique_id").alias("m"))
    assert all(r["m"] == r["cluster_id"] for r in mins.collect())
    assert got["\U0001d518"] == "\ufb00"


def test_null_endpoint_keeps_the_other_node(spark, cc_path):
    rows = [(1, None), (2, 3), (None, 4), (None, None)]
    got = {
        r["unique_id"]: r["cluster_id"]
        for r in _labels(spark, rows, "long").collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 4}


@pytest.mark.parametrize("rows", [[], [(None, None), (None, None)]])
def test_no_edges_give_a_typed_empty_result(spark, cc_path, rows):
    out = _labels(spark, rows, "long")
    assert [f.dataType for f in out.schema] == [LongType(), LongType()]
    assert out.collect() == []


def test_long_ids_above_2_53_next_to_null(spark, cc_path):
    """int64 with a NULL must not pass through float64: 2**62 + 1 and
    2**62 + 2 are one float."""
    big = 1 << 62
    rows = [(big + 1, None), (big + 3, big + 2), (None, big + 5)]
    got = {
        r["unique_id"]: r["cluster_id"]
        for r in _labels(spark, rows, "long").collect()
    }
    assert got == {
        big + 1: big + 1, big + 2: big + 2, big + 3: big + 2,
        big + 5: big + 5,
    }
