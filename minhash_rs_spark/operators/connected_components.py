"""C1-C4 — connected components, on the driver or distributed.

Replaces the reference's single-node lock-free union-find
(/root/reference/src/uf_rush2.rs:20-216 — the scaling bottleneck its own
design notes flag, src/main.rs:108-113) with two paths behind one entry,
chosen by the pinned edge count alone:

- up to _DRIVER_CC_MAX_EDGES edges, the edge set is collected once as
  Arrow and labeled on the driver with numpy min-label hooking plus
  pointer jumping — one collect instead of O(log n) rounds of Spark
  jobs;
- above it, the alternating large-star / small-star algorithm of
  Kiveris et al., "Connected Components in MapReduce and Beyond"
  (SOCC'14): O(log n) rounds of pure DataFrame groupBy+join, each round
  localCheckpoint'ed to cut lineage (SURVEY §7.4 "CC convergence
  bookkeeping"). It is the only path for graphs that do not fit the
  driver.

Both give identical rows. Node ids are opaque (conv_id strings, or
longs). cc_id = min(member) in the column type's own Spark order
(binary UTF-8 for strings, numeric for longs), giving the deterministic
labeling the reference lacks (its DashMap order is arbitrary,
src/main.rs:1175-1191).

Invariant maintained throughout the loop: every edge is oriented
(src > dst). star_edges() emits that orientation and both star
operations preserve it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge sets up to this size are labeled on the driver. Measured on a
# 4-core host, local[4], 2g driver heap, forests of 9-node trees with
# 37-byte string ids: 2M edges take 11 s on the driver (loop: 214 s),
# a 156 MB Arrow collect and +0.5 GB Python peak RSS; 4M edges (313 MB)
# still fit, 8M edges (626 MB) run the 2g heap out of memory during
# the collect. The collected bytes, not the edge count, are the limit:
# at this bound ids up to ~75 bytes stay within the measured-safe size
# for a 2g heap, far below the 1g default spark.driver.maxResultSize.
_DRIVER_CC_MAX_EDGES = 2_000_000


def _large_star(edges: DataFrame, n_parts: int) -> DataFrame:
    """For each node u: attach every strictly-larger neighbor to
    min(N(u) ∪ {u}).

    Partitioning is EXPLICIT (repartition(n, key)) instead of leaning on
    spark.sql.shuffle.partitions: the hash partitioning on u satisfies
    both the groupBy distribution and the self-join co-partitioning, and
    nothing mutates session-global state (two pipelines can share a
    session). Output contract (round 7): oriented src > dst, distinct,
    and hash-partitioned by src with n_parts partitions — the dedup
    exchange keys on src ALONE (hash(src) satisfies the (src, dst)
    clustering requirement, so the aggregate adds no extra exchange)
    exactly so _small_star_oriented can consume it with ZERO further
    exchanges (its groupBy/join keys are src). Skew note: rows sharing
    a src are bounded by that node's degree (one row per (src, m)
    pair), and the following dedup collapses them."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).union(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    sym = sym.repartition(n_parts, "u")
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m")))
    return (sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .repartition(n_parts, "src").dropDuplicates())


def _small_star_oriented(edges: DataFrame, n_parts: int) -> DataFrame:
    """For each node u over its smaller neighbors N: attach u and all of
    N to m = min(N). REQUIRES edges already oriented src > dst (the
    _large_star output contract); when the input is additionally
    hash-partitioned by src (as _large_star leaves it) the groupBy and
    the join both reuse that layout and this op's only exchange is its
    own final dedup — the old generic _small_star re-oriented with
    greatest/least (hiding the attribute from the partitioner) and paid
    a second head repartition every round. Output: oriented src > dst
    (v > m = min(N(u)) and u > m), distinct, hash(src)-partitioned."""
    oriented = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    attach_neighbors = (oriented.join(mins, "u")
                        .where(F.col("v") != F.col("m"))
                        .select(F.col("v").alias("src"), F.col("m").alias("dst")))
    attach_center = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (attach_neighbors.union(attach_center)
            .repartition(n_parts, "src").dropDuplicates())


def _is_star_forest(edges: DataFrame, n_parts: int) -> bool:
    """Convergence test: the edge set is a forest of stars rooted at
    component minima iff (a) every leaf points at exactly one root
    (no src appears twice) and (b) no node is both a source (leaf) and
    a destination (root). Checking this directly saves the extra
    contraction round that a compare-previous-edge-set fixpoint test
    needs (large+small star are no-ops exactly on star forests).

    ONE driver action, ONE exchange (round 7): the round output is
    hash(src)-partitioned (star-op contract above), so the per-src
    count for (a) aggregates in place; only the distinct-dst set for
    (b) is exchanged — explicitly to the same (key, n_parts) layout so
    the left join is co-partitioned. The old role-tagged union shuffled
    BOTH projections of the edge set every round — 2 exchanges of pure
    serial latency per round (the Amdahl term that caps N→4N scaling)."""
    s_counts = edges.groupBy("src").agg(F.count(F.lit(1)).alias("s"))
    dsts = (edges.select(F.col("dst").alias("src"))
            .repartition(n_parts, "src").dropDuplicates()
            .withColumn("d", F.lit(1)))
    bad = (s_counts.join(dsts, "src", "left")
           .select(F.max(
               F.when((F.col("s") > 1) | F.col("d").isNotNull(),
                      F.lit(1)).otherwise(F.lit(0))).alias("bad"))
           .first()["bad"])
    return bad != 1  # None (no edges) is a star forest


def _cc_partitions(n_edges: int, current: int) -> int:
    """Partition count for the CC loop, sized to the edge set.

    The loop's per-round DataFrames sit behind localCheckpoint RDD
    boundaries, which AQE cannot coalesce across — with the session's
    scan-sized partition count every round pays hundreds of near-empty
    tasks (measured 12x slowdown on small edge sets). ~2M edges per
    partition keeps partitions comfortably in memory at scale while
    collapsing small/medium graphs to a handful of tasks. Applied via
    explicit repartition(n, key) in the star ops, never by mutating
    spark.sql.shuffle.partitions."""
    return max(2, min(current, 1 + n_edges // 2_000_000))


def _min_labels(n_nodes: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Index of each node's component minimum, for nodes 0..n_nodes-1
    joined by the edges (src[i], dst[i]).

    Min-label hooking plus pointer jumping to a fixpoint. parent[x] <= x
    always holds, so the forest has no cycles and each root is its
    tree's minimum. Every round hooks each root that still has an edge
    to another tree onto the smallest such root (np.minimum.at keeps the
    least of several hooks), then jumps pointers until every node points
    at its root. A component with two or more trees always has one that
    hooks, so the loop ends; when no edge spans two trees, each tree is
    a whole component rooted at its minimum."""
    parent = np.arange(n_nodes, dtype=np.int64)
    while True:
        ps, pd = parent[src], parent[dst]
        live = ps != pd
        if not live.any():
            return parent
        ps, pd = ps[live], pd[live]
        np.minimum.at(parent, np.maximum(ps, pd), np.minimum(ps, pd))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _driver_components(e: DataFrame) -> DataFrame:
    """Driver path of connected_components over the pinned, canonical
    edge set e (src, dst): one Arrow collect, numpy labeling, and the
    (conv_id, cc_id) rows handed back through createDataFrame.

    Nodes are factorized in Arrow's sort order for the column type —
    byte order for strings, which is Spark's binary UTF-8 order, and
    numeric order for longs — so the minimum index of a component is
    its Spark min(member). Edges with a null end drop out, as they do
    in the loop's joins."""
    tbl = e.toArrow().drop_null()
    src, dst = tbl.column("src"), tbl.column("dst")
    nodes = pc.unique(pa.chunked_array(src.chunks + dst.chunks, src.type))
    nodes = nodes.take(pc.array_sort_indices(nodes))
    root = _min_labels(len(nodes),
                       pc.index_in(src, value_set=nodes).to_numpy(),
                       pc.index_in(dst, value_set=nodes).to_numpy())
    id_type = e.schema["src"].dataType
    return e.sparkSession.createDataFrame(
        pa.table({"conv_id": nodes, "cc_id": nodes.take(root)}),
        StructType([StructField("conv_id", id_type),
                    StructField("cc_id", id_type)]))


def connected_components(edges: DataFrame, max_iterations: int = 50,
                         oriented: bool = False,
                         distinct_input: bool = False) -> DataFrame:
    """edges (src, dst) -> assignments (conv_id, cc_id), covering every
    node that appears in at least one edge. Singletons are the caller's
    coalesce (C3: ref src/main.rs:1089-1099 becomes a left join,
    pipeline.py).

    oriented=True: the caller GUARANTEES every edge already satisfies
    src > dst (true for star_edges / pair_edges / simhash candidate
    edges and everything verification-filtered from them). Skips the
    entry re-orientation, whose greatest/least grouping keys otherwise
    defeat Catalyst's redundant-aggregate elimination and cost an
    extra exchange when the input is already distinct.

    distinct_input=True (requires oriented=True): the caller ALSO
    guarantees no duplicate (src, dst) rows and no self-loops — true
    for the pipeline paths, whose edge generators end in .distinct()
    (verification only filters) — so the entry skips its dedup
    aggregation entirely: one full exchange less per CC call.
    Duplicates would only cost round-1 shuffle bytes, never
    correctness, but the guarantee keeps the probe's per-src counts
    meaningful on round outputs, which dedup themselves anyway.

    The pinned edge count picks the path: at most _DRIVER_CC_MAX_EDGES
    edges are labeled on the driver (_driver_components), more run the
    distributed star loop. Both give the same rows; max_iterations
    bounds only the loop's rounds."""
    spark = edges.sparkSession
    # canonical orientation at entry (components are orientation-
    # invariant): _small_star_oriented's zero-exchange round contract
    # needs src > dst from the first round on
    if oriented and distinct_input:
        e = edges.select("src", "dst")
    elif oriented:
        e = (edges.select("src", "dst")
             .where(F.col("src") != F.col("dst")).distinct())
    else:
        e = (edges.select(F.greatest("src", "dst").alias("src"),
                          F.least("src", "dst").alias("dst"))
             .where(F.col("src") != F.col("dst")).distinct())
    e = e.localCheckpoint(eager=True)
    n_edges = e.count()
    if n_edges <= _DRIVER_CC_MAX_EDGES:
        return _driver_components(e)
    n_parts = _cc_partitions(
        n_edges, int(spark.conf.get("spark.sql.shuffle.partitions")))
    for _ in range(max_iterations):
        # lazy checkpoint: the star-forest probe right after is the
        # first action that materializes this round's edge set
        e = _small_star_oriented(_large_star(e, n_parts),
                                 n_parts).localCheckpoint(eager=False)
        if _is_star_forest(e, n_parts):
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds")
    members = e.select(F.col("src").alias("conv_id"), F.col("dst").alias("cc_id"))
    roots = e.select(F.col("dst").alias("conv_id"), F.col("dst").alias("cc_id"))
    return (members.union(roots)
            .repartition(n_parts, "conv_id").dropDuplicates()
            .localCheckpoint(eager=True))
