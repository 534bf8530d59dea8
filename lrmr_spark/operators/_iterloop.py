"""Shared materialization regimes for the iterative-loop operators.

Two loop shapes, one working set each:

- STATIC edge frame joined against a node-sized table once per round
  (pagerank_ppm, personalized_pagerank_ppm, bfs_levels,
  label_propagation in operators.graph; HashMin connected_components
  in operators.dedup) → ``adjacency_cache``: one row per node, sorted
  and key-partitioned by the groupBy's own exchange, so every round's
  SortMergeJoin streams node-count rows with no cached-side exchange or
  sort (EXP_PAGERANK_SF10.json, EXP_ADJ_FAMILY.json). Each caller joins
  its node-sized state with ``adj.join(F.broadcast(s) if small else s,
  adj[key] == s[state_key])``: checkpointed frames carry no size
  statistics, so the broadcast is explicit under the caller's
  node-count gate (pitfall 20 corollary). The join strategy stays with
  the planner: a SHUFFLE_HASH hint inverted at 16.7M nodes
  (EXP_SHJ_SF10B.json, pitfall 24).
- Edge frame FILTERED by a node-sized keep set per sweep (the two
  k-core peels — the edge set shrinks, so a static cache does not
  apply) → ``peel_degrees`` + ``peel_filtered_edges``: the
  three-way keep/removed/shuffle regime (EXP_KCORE_NUMBERS.json).

Each round's state is a node-sized ``localCheckpoint``; the loops drop
the dead round with ``release_checkpoint``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def adjacency_cache(
    edges: DataFrame, key: str = "src", neighbor: str = "dst"
) -> tuple[DataFrame, int]:
    """Adjacency-list working set for rank/vote-style loops:
    ``(key, outdeg, _nbrs[])`` — one row per source, built with a
    single edge-sized exchange (the groupBy's own shuffle) and sorted
    within partitions, so the cached frame's partitioning and ordering
    satisfy every round's SortMergeJoin and only the node-sized state
    exchanges. The neighbor ids ride packed in the array, so the join
    streams node-count rows and the explode back to edge-count happens
    inside the map stage feeding the partial aggregation
    (EXP_PAGERANK_SF10.json: sf10 37.9 s vs 64.6 s for a flat
    copartitioned edge cache; EXP_ADJ_FAMILY.json: the same layout wins
    for label_propagation and HashMin connected_components).

    Returns (cached_frame, n_rows); n_rows is the node count when every
    node has an out-edge (the pagerank fast-path contract).

    Row-size limit: one row per node bounds a row's size by the graph's
    max OUT-degree (in-degree hubs land in the sum/min aggregate, which
    is safe at any skew). A hub-chunked layout loses 1.3-2.2× up to
    ~4e6 out-edges and wins only near 1e7 (EXP_ADJ_HUB.json); no
    workload here has such a hub, so this is the only layout (the
    chunked one is in git at ``_iterloop.py@ce03e98``).

    NULL contract: edges with a NULL endpoint (either column) are
    dropped before the groupBy (treated as nonexistent), so ``outdeg``
    always equals ``size(_nbrs)`` — collect_list drops NULL neighbors,
    so an unfiltered count(*) would inflate the rank divisor, and a
    NULL key would build an adjacency row no join ever matches. A node
    whose only edges are NULL-endpointed gets no adjacency row (it is
    dangling)."""
    out = (
        edges.where(F.col(neighbor).isNotNull() & F.col(key).isNotNull())
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("outdeg"),
            F.collect_list(neighbor).alias("_nbrs"),
        )
        .sortWithinPartitions(key)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return out, out.count()


def release_checkpoint(ckpt: DataFrame) -> None:
    """Drop the blocks of a dead ``localCheckpoint`` frame (pitfall 19).
    ``DataFrame.unpersist()`` only uncaches frames that persist()/cache()
    registered; a local checkpoint's blocks belong to the RDD inside its
    LogicalRDD plan, which unpersist() leaves in the block manager for
    the session's lifetime. ``ckpt`` must be the frame localCheckpoint
    returned, not a projection of it."""
    ckpt._jdf.queryExecution().logical().rdd().unpersist(False)


def peel_degrees(edge_df: DataFrame) -> DataFrame:
    """Per-sweep degree table (src, _d) for the k-core peels. Eager
    localCheckpoint: forces the (persisted) parent edge frame while its
    own parents are still cached, and truncates the lineage path
    through the keep filter — the node-sized table is the one that is
    CHECKPOINTED (no disk cliff at any tested SF) while the edge-sized
    table rides the columnar cache (pitfall 15: an all-persist loop
    re-plans ~3^sweeps copies of the base plan)."""
    return (
        edge_df.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_d"))
        .localCheckpoint(eager=True)
    )


def peel_filtered_edges(
    e: DataFrame,
    deg: DataFrame,
    keep: DataFrame,
    k: int,
    prev_nodes: int,
    removed_cnt: int,
    bcast_max: int,
) -> DataFrame:
    """One peel sweep's edge filtering under the three-way size regime
    (shared by kcore_peel and kcore_numbers; EXP_KCORE_NUMBERS.json):

    - ``prev_nodes`` under the gate: broadcast the keep set into both
      semi-joins (under the gate the keep semi-join measured faster
      than a removed-side anti even when removed is smaller).
    - keep too big but REMOVED under the gate: broadcast anti-join on
      the removed side — answer-identical (keep ∪ removed partitions
      deg) and replaces two full edge-list shuffles (the sf10 regime,
      where every level's node set exceeds the gate).
    - both over the gate: the semi-joins shuffle, as they must.

    Returns the new edge frame persisted on the columnar cache; the
    caller forces it (via peel_degrees' eager checkpoint) before
    unpersisting the dead round."""
    _lvl = StorageLevel.MEMORY_AND_DISK
    if prev_nodes <= bcast_max:
        return (
            e.join(F.broadcast(keep), "src", "left_semi")
            .join(
                F.broadcast(keep.select(F.col("src").alias("dst"))),
                "dst",
                "left_semi",
            )
            .select("src", "dst")
            .persist(_lvl)
        )
    if removed_cnt <= bcast_max:
        rem = F.broadcast(deg.filter(F.col("_d") < k).select("src"))
        return (
            e.join(rem, "src", "left_anti")
            .join(rem.select(F.col("src").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
            .persist(_lvl)
        )
    return (
        e.join(keep, "src", "left_semi")
        .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
        .persist(_lvl)
    )
