"""O15/O16 — transitive clustering: connected components + join-back.

reference: splink/connected_components.py::solve_connected_components
(_cc_generate_neighbours_representation,
_cc_update_representatives_first_iteration,
_cc_generate_representatives_loop_cond, _cc_assess_exit_condition);
join-back: splink/linker.py::Linker.cluster_pairwise_predictions_at_threshold.

Two regimes, chosen by the size of the edge set:

* **Driver** — a graph of at most ``_LOCAL_EDGES`` (2**20) distinct
  edges is collected through Arrow in one bounded action and labelled by
  a vectorised numpy union-find; the result goes back to Spark as an
  Arrow-built DataFrame, so no Python worker starts. Below the budget
  a superstep's per-job overhead costs more than the whole driver
  solve (the "tiny aggregate -> driver loop" design EM already uses).
* **Spark** — above the budget the supersteps below run until the edge
  set converges or falls within the budget, which one superstep does
  to a dense graph (a component becomes a star of nodes - 1 edges);
  the remainder is then finished on the driver the same way.

Spark-first design (NOT a port): the reference iterates a
min-over-neighbours label propagation, which needs O(diameter) rounds.
Above the budget we implement the **alternating large-star /
small-star** algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC 2014) — the paper splink's clustering
module itself cites — which converges in O(log n) rounds:

  large_star: symmetrise edges; per node u compute
      m = min(N(u) ∪ {u}); emit (v, m) for each neighbour v > u.
  small_star: orient each edge to (larger, smaller); per node u compute
      m = min(N(u)); emit (v, m) for v in N(u) ∪ {u}, v != m.

Each star step is ONE exchange + one spillable sort feeding a
streaming-frame window (first_value = per-node min neighbour; no
groupBy-min + join-back, no per-superstep broadcast builds), and the
superstep ends with one distinct; ``localCheckpoint`` per superstep
truncates lineage so the plan does not grow across iterations (the
reference's _break_lineage equivalent, splink/spark/linker.py::
SparkLinker._break_lineage). Convergence is checked with a
deterministic edge-set signature (count + hash-sum), one tiny driver
aggregate per superstep.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

# Distinct edges up to which a graph is labelled on the driver. Below it
# the supersteps' per-job overhead costs more than the whole driver
# solve: random sparse graphs of 10k / 200k / 1M edges took 0.5 / 0.9 /
# 4 s on the driver against 3 / 6 / 16-20 s of supersteps (warm,
# 4 vCPU, 3 GB driver heap).
_LOCAL_EDGES = 1 << 20


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Clean input: drop nulls/self-loops, orient (large, small), dedup."""
    e = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("u"),
        F.least(F.col(src), F.col(dst)).alias("v"),
    )
    return e.filter(F.col("u") != F.col("v")).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    ).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    # ONE window over (u sorted by v) instead of groupBy-min + join-back:
    # the min-neighbour m is the FIRST v of the sorted partition, read
    # through a running frame (first_value over unbounded-preceding —
    # fully streaming, no per-group buffering), so a superstep costs one
    # exchange + one spillable sort instead of an aggregate exchange
    # plus a join (whose build side was a per-superstep broadcast:
    # 2 driver round-trips/superstep — measured 5.2s -> 3.6s on the
    # 57k-edge bench graph).
    #
    # NO distinct here: the output feeds _small_star, whose min-window
    # is duplicate-insensitive and whose own final distinct dedups the
    # superstep's result — a mid-superstep distinct would be one full
    # extra shuffle of the edge set per round.
    from pyspark.sql import Window

    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u").orderBy("v")
    m = F.least(F.first("v").over(w), F.col("u"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # Same one-window shape as _large_star; the per-group self row
    # (u, m) is emitted by the group's FIRST row (row_number over the
    # same sort — still a running frame, still streaming) via a 1-or-2
    # element explode, replacing the former groupBy-min + join +
    # union-of-selves.
    from pyspark.sql import Window

    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    w = Window.partitionBy("u").orderBy("v")
    first_v = F.first("v").over(w)
    rn = F.row_number().over(w)
    nm = lambda n: F.struct(n.alias("n"), F.col("__m").alias("m"))  # noqa: E731
    pairs = F.when(
        F.col("__rn") == 1,
        F.array(nm(F.col("v")), nm(F.col("u"))),
    ).otherwise(F.array(nm(F.col("v"))))
    return (
        oriented.withColumn("__m", first_v)
        .withColumn("__rn", rn)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.n").alias("u"), F.col("p.m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: order-insensitive and cannot overflow under ANSI mode
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _fetch_edges(edges: DataFrame) -> pa.Table | None:
    """The distinct ``(u, v)`` rows as an Arrow table, or None when there
    are more than ``_LOCAL_EDGES`` of them. One bounded action; Arrow
    keeps a NULL next to a long id without the float64 round trip that
    pandas would make."""
    t = edges.select("u", "v").distinct().limit(_LOCAL_EDGES + 1).toArrow()
    return t if t.num_rows <= _LOCAL_EDGES else None


def _label_on_driver(
    spark: SparkSession, edges: pa.Table, id_type: DataType
) -> DataFrame:
    """(unique_id, cluster_id) for every non-NULL endpoint of ``edges``,
    cluster_id the component's minimum id, by numpy union-find.

    Ids are replaced by their rank in the sorted node list (Arrow sorts
    integers by value and strings by UTF-8 bytes, as Spark does), so
    the minimum rank is the minimum id. Min-label hooking on the roots
    of both endpoints, then pointer jumping until every label is a
    root, repeated until every edge joins two nodes of one label."""
    u, v = edges.column("u"), edges.column("v")
    nodes = pc.unique(pa.chunked_array(u.chunks + v.chunks, u.type))
    nodes = nodes.drop_null()
    nodes = nodes.take(pc.sort_indices(nodes))
    both = pc.and_(pc.is_valid(u), pc.is_valid(v))
    a = pc.index_in(u.filter(both), value_set=nodes).to_numpy()
    b = pc.index_in(v.filter(both), value_set=nodes).to_numpy()
    lab = np.arange(len(nodes))
    while True:
        la, lb = lab[a], lab[b]
        if np.array_equal(la, lb):
            break
        np.minimum.at(lab, la, lb)
        np.minimum.at(lab, lb, la)
        jumped = lab[lab]
        while not np.array_equal(jumped, lab):
            lab, jumped = jumped, jumped[jumped]
    out = pa.table({"unique_id": nodes, "cluster_id": nodes.take(lab)})
    # from Arrow, not from Python tuples: the JVM decodes the batches,
    # so no Python worker starts
    return spark.createDataFrame(
        out,
        StructType(
            [
                StructField("unique_id", id_type),
                StructField("cluster_id", id_type),
            ]
        ),
    )


def connected_components(
    edges: DataFrame,
    src: str = "unique_id_l",
    dst: str = "unique_id_r",
    max_iterations: int = 50,
) -> DataFrame:
    """Resolve components; returns (unique_id, cluster_id) for every node
    appearing in the edge table. cluster_id = min node id in the component.

    A graph of at most ``_LOCAL_EDGES`` distinct edges is collected in
    one bounded action and labelled on the driver by numpy union-find; the
    result is built from Arrow, so no Python worker starts. A larger
    graph runs the large-star/small-star supersteps in Spark until a
    superstep leaves it within the budget (a dense component shrinks to
    a star of nodes - 1 edges) and then finishes on the driver the same
    way, or until it converges.
    """
    # node universe from the RAW edges (before dropping self-loops), so a
    # node appearing only in a self-loop still gets a singleton cluster.
    # No checkpoint: it is consumed exactly once (the final join) and
    # does not grow with supersteps — an eager barrier here was one
    # whole extra job before the loop could start.
    all_nodes = (
        edges.select(F.col(src).alias("unique_id"))
        .unionByName(edges.select(F.col(dst).alias("unique_id")))
        .filter(F.col("unique_id").isNotNull())
        .distinct()
    )
    id_type = all_nodes.schema["unique_id"].dataType
    spark = edges.sparkSession
    raw = edges.select(
        F.col(src).cast(id_type).alias("u"),
        F.col(dst).cast(id_type).alias("v"),
    )
    local = _fetch_edges(raw)
    if local is not None:
        return _label_on_driver(spark, local, id_type)

    e = _canonical_edges(raw, "u", "v").localCheckpoint(eager=True)
    sig = _signature(e)
    for _ in range(max_iterations):
        if sig[0] <= _LOCAL_EDGES:
            break
        # lazy checkpoint: the signature aggregate is the action that
        # materialises it — one job per superstep instead of two
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig

    if sig[0] <= _LOCAL_EDGES:
        reps = _label_on_driver(spark, _fetch_edges(e), id_type)
    else:
        # At convergence edges form stars (node, root).
        reps = e.groupBy(F.col("u").alias("unique_id")).agg(
            F.min("v").alias("cluster_id")
        )
    return (
        all_nodes.join(reps, "unique_id", "left")
        .select(
            "unique_id",
            F.coalesce("cluster_id", "unique_id").alias("cluster_id"),
        )
    )


def incremental_connected_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    src: str = "unique_id_l",
    dst: str = "unique_id_r",
) -> DataFrame:
    """Fold a batch of NEW edges into an existing (unique_id,
    cluster_id) assignment without re-solving the full graph
    (incremental O15 — the streaming/trickle-load counterpart of
    ``connected_components``; reference: n/a, splink is batch-only).

    Classic delta-graph trick: each new edge's endpoints map to their
    current cluster representative (new nodes represent themselves),
    connected components runs on the REPRESENTATIVE graph — sized by
    the clusters touched this batch, not by every edge ever seen —
    and the resulting root relabeling is broadcast back over the
    assignment table. Because ``connected_components`` labels every
    cluster by its minimum member id, the representative of a merged
    group is the minimum over all member ids, so incremental folding
    reproduces EXACTLY the labels a full re-run would give.

    Scale shape: the big assignment table is touched by one broadcast
    semi-join (endpoint lookup) and one broadcast left join (the
    relabel map) — no full shuffle of the assignment table, no growth
    with historical edge count.
    """
    e = _canonical_edges(new_edges, src, dst)
    # node universe from the RAW edges (like connected_components): a
    # node appearing only in a self-loop still gets a singleton row
    ids = (
        new_edges.select(F.col(src).alias("unique_id"))
        .unionByName(new_edges.select(F.col(dst).alias("unique_id")))
        .filter(F.col("unique_id").isNotNull())
        .distinct()
    )
    # endpoint -> current representative (own id for unseen nodes);
    # the endpoint set is the batch's nodes — small — so it broadcasts
    # into the assignment scan instead of shuffling it
    looked_up = assignments.join(
        F.broadcast(ids), "unique_id", "inner"
    ).select("unique_id", "cluster_id")
    rep_of = ids.join(looked_up, "unique_id", "left").select(
        "unique_id",
        F.coalesce("cluster_id", "unique_id").alias("rep"),
    )
    rep_edges = (
        e.join(
            F.broadcast(
                rep_of.withColumnRenamed("unique_id", "u")
            ).withColumnRenamed("rep", "rep_l"),
            "u",
        )
        .join(
            F.broadcast(
                rep_of.withColumnRenamed("unique_id", "v")
            ).withColumnRenamed("rep", "rep_r"),
            "v",
        )
        .select(F.col("rep_l"), F.col("rep_r"))
    )
    # CC over the touched-cluster representative graph (small)
    merged = connected_components(
        rep_edges, src="rep_l", dst="rep_r"
    ).withColumnRenamed("unique_id", "old_cluster_id")
    relabel = merged.filter(
        F.col("old_cluster_id") != F.col("cluster_id")
    ).withColumnRenamed("cluster_id", "new_cluster_id")
    updated = (
        assignments.withColumnRenamed("cluster_id", "old_cluster_id")
        .join(F.broadcast(relabel), "old_cluster_id", "left")
        .select(
            "unique_id",
            F.coalesce("new_cluster_id", "old_cluster_id").alias(
                "cluster_id"
            ),
        )
    )
    # append rows for genuinely new nodes (their rep carries any
    # merge); anti-join against the SMALL endpoint lookup, not the
    # full assignment table — no second scan of the big side
    new_nodes = (
        rep_of.join(
            looked_up.select("unique_id"), "unique_id", "left_anti"
        )
        .withColumnRenamed("rep", "old_cluster_id")
        .join(F.broadcast(relabel), "old_cluster_id", "left")
        .select(
            "unique_id",
            F.coalesce("new_cluster_id", "old_cluster_id").alias(
                "cluster_id"
            ),
        )
    )
    return updated.unionByName(new_nodes)


def cluster_pairwise_predictions_at_threshold(
    predictions: DataFrame,
    nodes: DataFrame,
    threshold_match_probability: float,
    uid: str = "unique_id",
    src: str = "unique_id_l",
    dst: str = "unique_id_r",
) -> DataFrame:
    """Edges = predictions >= threshold; solve CC; join clusters back to
    node attributes (O16). Nodes absent from any edge keep their own id
    as cluster_id (singleton clusters), matching the reference."""
    edges = predictions.filter(
        F.col("match_probability") >= threshold_match_probability
    ).select(src, dst)
    comps = connected_components(edges, src=src, dst=dst)
    return (
        nodes.join(
            comps.withColumnRenamed("unique_id", uid), uid, "left"
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(uid)))
    )


# ---------------------------------------------------------------------------
# graph metrics — cluster-studio data
# ---------------------------------------------------------------------------

def node_degree_table(
    edges: DataFrame,
    clusters: DataFrame,
    src: str = "unique_id_l",
    dst: str = "unique_id_r",
    uid: str = "unique_id",
) -> DataFrame:
    """Per-node degree joined onto cluster assignments (degree 0 for
    isolated records). reference: splink/graph_metrics.py::
    compute_node_metrics (node_degree).

    Plan: symmetrise the edge list (union of two narrow projections),
    one count-agg on node id, one left join — no windows.
    """
    sym = edges.select(F.col(src).alias(uid)).unionByName(
        edges.select(F.col(dst).alias(uid))
    )
    deg = sym.groupBy(uid).agg(F.count(F.lit(1)).alias("node_degree"))
    return clusters.join(deg, uid, "left").withColumn(
        "node_degree", F.coalesce("node_degree", F.lit(0)).cast("long")
    )


def cluster_metrics(
    edges: DataFrame,
    clusters: DataFrame,
    src: str = "unique_id_l",
    dst: str = "unique_id_r",
    uid: str = "unique_id",
) -> DataFrame:
    """Per-cluster graph metrics: node count, internal edge count,
    density = 2E / (N(N-1)) and degree centralisation =
    (N*max_deg - sum_deg) / ((N-1)(N-2)) — NULL where the denominator
    degenerates (singletons / pairs), matching the reference's
    behaviour. reference: splink/graph_metrics.py::
    compute_cluster_metrics (_size_density_centralisation_sql).

    Plan: degree table (one agg + join) then ONE per-cluster agg;
    n_edges = sum(degree)/2 (every intra-cluster edge contributes two
    endpoint degrees — after connected components all edges are
    intra-cluster by construction).
    """
    deg = node_degree_table(edges, clusters, src, dst, uid)
    per = deg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node_degree").alias("__deg_sum"),
        F.max("node_degree").alias("__deg_max"),
    )
    n = F.col("n_nodes")
    e = (F.col("__deg_sum") / 2).cast("long")
    return per.select(
        "cluster_id",
        "n_nodes",
        e.alias("n_edges"),
        F.when(
            n > 1, (2 * e) / (n * (n - 1))
        ).alias("density"),
        F.when(
            n > 2,
            (n * F.col("__deg_max") - F.col("__deg_sum"))
            / ((n - 1) * (n - 2)),
        ).alias("cluster_centralisation"),
    )
