"""Shared materialization regimes for the iterative-loop operators.

Five operators run two loop shapes, and this module is the single
implementation of each working set (r8 extracted it from four
hand-rolled copies; the measured evidence lives with the experiments
that produced it and the per-operator docstrings keep their
operator-specific numbers):

- STATIC edge frame joined against a node-sized table once per round
  (pagerank_ppm, label_propagation in operators.graph; HashMin
  connected_components in operators.dedup) → ``adjacency_cache``:
  the frame is cached as per-node adjacency rows, sorted and
  key-partitioned by the groupBy's own exchange, so every round's
  SortMergeJoin streams node-count rows with zero cached-side
  exchange or sort (r9, EXP_PAGERANK*.json + EXP_ADJ_FAMILY.json —
  this superseded the r8 flat copartitioned columnar cache at every
  measured operator and scale). Node-sized sides are explicitly
  broadcast under each operator's node-count gate — checkpointed
  frames carry no size statistics, so Catalyst can't make that call
  itself (pitfall 20 corollary). The join STRATEGY stays with the
  planner: a SHUFFLE_HASH hint measured faster at ≤5M nodes but
  INVERTED at 16.7M (EXP_SHJ_SF10B.json, pitfall 24), so no hint is
  pinned.
- Edge frame FILTERED by a node-sized keep set per sweep (the two
  k-core peels — the edge set shrinks, so a static cache does not
  apply) → ``peel_degrees`` + ``peel_filtered_edges``: the
  three-way keep/removed/shuffle regime (EXP_KCORE_NUMBERS.json).
- STATIC edge frame with an out-degree hub approaching ~1e7 →
  ``chunked_adjacency``: the measured hub-safe variant (r10 planted-
  hub experiment, EXP_ADJ_HUB.json — crossover between 4e6 and 1e7
  out-edges; below it the single-row layout wins 1.3-2.2×, so
  chunking is opt-in for hub-bearing graph families, never the
  default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def adjacency_cache(
    edges: DataFrame, key: str = "src", neighbor: str = "dst"
) -> tuple[DataFrame, int]:
    """Adjacency-list working set for rank/vote-style loops:
    ``(key, outdeg, _nbrs[])`` — ONE node-count row per source, built
    with a SINGLE edge-sized exchange (the groupBy's own shuffle; no
    raw-edge checkpoint, no separate degree table, no deg⋈edges
    pre-join), sorted within partitions so the InMemoryRelation's
    outputPartitioning AND outputOrdering satisfy every round's
    SortMergeJoin — per round the cached side is only SCANNED and the
    node-sized table is the sole exchange+sort. The per-edge payload
    (the neighbor id) lives packed in the array column, so the merge
    join streams node-count rows instead of edge-count rows and the
    explode back to edge-count happens INSIDE the map stage feeding
    the partial aggregation (measured on pagerank_ppm:
    EXP_PAGERANK_SF10.json, sf10 paired 37.9 s vs 64.6 s for the
    copartitioned 3-col edge cache; the sortWithinPartitions variant
    of the FLAT cache inverted to 103.2 s — sorting 120M-row frames
    at fill spills, sorting node-count adjacency rows does not; then
    generalized per-operator by measurement to label_propagation
    87.3 vs 109.3 s and HashMin connected_components 116.0 vs
    152.4 s, EXP_ADJ_FAMILY.json).

    Returns (cached_frame, n_rows); n_rows doubles as the node count
    when every node has an out-edge (the pagerank fast-path
    contract). 100 TB trade, MEASURED (r10 planted-hub experiment,
    EXP_ADJ_HUB.json): one row per source node
    means a row's size is bounded by the graph's MAX OUT-DEGREE.
    Planting a symmetric hub into the sf1 rehearsal graph and pairing
    this layout against ``chunked_adjacency`` below, the single row
    stays the right call up to ~4M out-edges (min-of-2: 8.9 / 12.7 /
    17.3 s at hub 0 / 1e6 / 4e6 vs chunked 15.4 / 27.6 / 22.0 — the
    chunk machinery's degree pre-join plus per-round rank replication
    cost real time when no hub needs them) and inverts at ~1e7
    out-edges (50.5 vs 36.6 s — the ~80 MB row degrades
    super-linearly: 2.5× more hub edges cost 2.9×). In-degree hubs
    land in the SUM aggregate, which is safe at any skew; for a graph
    family whose max OUT-degree approaches 1e7, use
    ``chunked_adjacency``.

    NULL contract: edges with a NULL endpoint (EITHER column) are
    DROPPED before the groupBy (treated as nonexistent), so
    ``outdeg`` always equals ``size(_nbrs)`` — collect_list silently
    drops NULL neighbors, so an unfiltered count(*) would inflate the
    rank divisor while emitting no send (mass silently lost) and drop
    the vote/min-candidate in LPA/HashMin; a NULL KEY would instead
    build a phantom adjacency row no join ever matches (NULL ≠
    anything), half-honoring its edges. A node whose only edges are
    NULL-endpointed gets no adjacency row (it is dangling). No
    in-repo caller produces null edges; the filter pins the contract
    for external callers."""
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


def chunked_adjacency(
    edges: DataFrame,
    key: str = "src",
    neighbor: str = "dst",
    cap: int = 131_072,
) -> tuple[DataFrame, DataFrame, int]:
    """Hub-safe sibling of ``adjacency_cache`` for graph families whose
    max OUT-degree approaches ~1e7 (the measured crossover —
    EXP_ADJ_HUB.json; below ~4e6 the single-row layout is 1.3-2.2×
    faster, so this is NOT the default): a node with outdeg d becomes
    ⌈d/cap⌉ rows ``(key, _ch, outdeg, _nbrs[])`` landing in DIFFERENT
    partitions, so a hub's per-round send work spreads across its
    chunks instead of serializing in one task over one ~80 MB row.

    Costs over the single-row layout, by construction: a degree pass +
    deg⋈edges pre-join at build, and — because a join on ``key`` alone
    would re-exchange every chunk back into one partition, defeating
    the layout — the per-round node table must be REPLICATED per chunk
    and joined on (key, _ch). Returns (cached_frame, chunks, n_nodes)
    where ``chunks`` is the node-sized checkpointed (node, _n_ch)
    replication table; the caller's round does::

        repl = ranks.join(chunks, "node").select(
            "node", ..., F.explode(F.sequence(F.lit(0).cast("long"),
                                              F.col("_n_ch") - 1)).alias("_ch"))
        sends = adj.join(repl, (adj.key == repl.node) & (adj._ch == repl._ch))

    NULL contract: identical to ``adjacency_cache`` (NULL-endpoint
    edges dropped before the degree pass)."""
    e = edges.where(F.col(neighbor).isNotNull() & F.col(key).isNotNull())
    n_ch_of = lambda c: F.greatest(  # noqa: E731
        F.ceil(c / cap), F.lit(1)
    ).cast("long")
    deg = e.groupBy(key).agg(F.count(F.lit(1)).alias("outdeg"))
    adj = (
        e.join(deg, key)
        .groupBy(
            key, F.pmod(F.xxhash64(neighbor), n_ch_of(F.col("outdeg"))).alias("_ch")
        )
        .agg(
            F.first("outdeg").alias("outdeg"),
            F.collect_list(neighbor).alias("_nbrs"),
        )
        .sortWithinPartitions(key, "_ch")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()
    # replication table DERIVED FROM THE PERSISTED CACHE (a node-sized
    # scan), not from `deg` — deg is lazy, so re-referencing it here
    # would re-run the full edge aggregation a second time. n_ch is
    # recomputed from outdeg, NOT from the node's chunk-row count: a
    # hash bucket can come up empty at small outdeg, and the per-round
    # replicate-join is inner, so empty chunks simply never match.
    chunks = (
        adj.groupBy(key)
        .agg(F.first("outdeg").alias("outdeg"))
        .select(
            F.col(key).alias("node"), n_ch_of(F.col("outdeg")).alias("_n_ch")
        )
        .localCheckpoint(eager=True)
    )
    return adj, chunks, chunks.count()


def state_adjacency_join(
    adj: DataFrame,
    chunks: DataFrame | None,
    state: DataFrame,
    adj_key: str,
    state_key: str = "node",
    broadcast_state: bool = False,
) -> DataFrame:
    """ONE implementation of the per-round state⋈adjacency join for
    both working-set layouts, so every loop that gains a ``hub_safe``
    knob shares the replication recipe instead of hand-rolling it
    (r11, wiring the r10 EXP_ADJ_HUB.json measurement into callers):

    - ``chunks is None`` (single-row layout): the plain key join —
      the cached side is only scanned, the node-sized state is the
      sole exchange+sort (or broadcast under the caller's gate).
    - chunked layout: the node-sized state is REPLICATED per chunk
      (join against the (node, _n_ch) table, explode a 0.._n_ch-1
      sequence) and joined on (key, _ch) — a join on the key alone
      would re-exchange a hub's chunks back into one partition,
      defeating the layout. Replication inflates the state by the
      chunk-row count, which exceeds the node count only by
      Σ(⌈d/cap⌉ − 1) — a handful of extra rows unless the graph is
      all hubs.

    ``broadcast_state`` applies the caller's small-graph gate to the
    (replicated) state side — checkpointed state carries no size
    statistics, so Catalyst can't make the call itself (pitfall 20
    corollary). The result exposes the adjacency columns plus the
    state columns; duplicate key-column NAMES are safe because
    callers select from the adjacency side by column name only where
    unambiguous (``_nbrs``, ``outdeg``) and from the state side via
    the pre-join alias."""
    if chunks is None:
        s = F.broadcast(state) if broadcast_state else state
        return adj.join(s, adj[adj_key] == s[state_key])
    repl = state.join(chunks, state[state_key] == chunks["node"]).select(
        state["*"],
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("_n_ch") - 1)
        ).alias("_rch"),
    )
    if broadcast_state:
        repl = F.broadcast(repl)
    return adj.join(
        repl,
        (adj[adj_key] == repl[state_key]) & (adj["_ch"] == repl["_rch"]),
    )


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
