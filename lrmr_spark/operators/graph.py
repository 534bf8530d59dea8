"""Graph operators: PageRank (exact-integer), building on the
connected-components label propagation in operators.dedup.

The reference has no graph surface; these cover the iterative-algorithm
family a corpus pipeline needs (authority scoring for source/domain
weighting, near-dup cluster analysis).

Exact-integer design (ARCHITECTURE.md pitfall 5): ranks are carried in
parts-per-million BIGINTs and every step is integer arithmetic
(``rank DIV outdeg``, ``(15*teleport + 85*incoming) DIV 100``), so a
fixed iteration count produces bit-identical results on any engine and
any partitioning — float PageRank sums differ in the last ulp with
aggregation order, which would make cross-engine verification flaky.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import parallelize
from ._iterloop import (
    adjacency_cache,
    peel_degrees,
    peel_filtered_edges,
    release_checkpoint,
)

__all__ = [
    "pagerank_ppm",
    "personalized_pagerank_ppm",
    "hits_ppm",
    "random_walks",
    "weighted_random_walks",
    "bfs_levels",
    "triangle_count",
    "label_propagation",
    "kcore_peel",
    "kcore_numbers",
]

# k-core keep sets at or under this node count are explicitly
# broadcast into the semi-joins (the checkpointed degree table is a
# LogicalRDD without size statistics, so Catalyst can't make that
# call itself — measured 40 s vs 12 s at sf1, tools/exp_kcore.py@7d6562e vD).
# 2M longs ≈ 30 MB serialized: comfortably executor-resident; above
# it the node set is corpus-proportional and must shuffle.
_KEEP_BCAST_MAX = 2_000_000

def pagerank_ppm(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over directed ``edges`` (src, dst)
    columns, ranks in exact integer ppm.

    Per iteration: each node sends ``rank_ppm DIV outdeg`` along its
    out-edges; a node's new rank is
    ``((100-d)*teleport + d*incoming) DIV 100``. With the default
    ``dangling=False`` every node must have at least one out-edge and
    one in-edge (callers with undirected graphs add both directions) —
    the fast path: the node set IS the adjacency frame's src set, no
    distinct() pass over the edge frame, no per-round left join.

    ``dangling=True`` is the real-web-graph mode: the node set is
    src ∪ dst, nodes with no out-edge (danglers) hold their rank
    rather than sending it, and each round that held mass is
    redistributed uniformly — the standard formulation,
    ``new = (keep*teleport + d*(incoming + dangling_mass DIV n)) DIV
    100`` in exact integer ppm. Costs per round, on top of the fast
    path: ONE scalar aggregate over the node-sized rank table (the
    dangling mass — a single BIGINT crosses the driver; the dangler
    flag is a static boolean column on the node table, no per-round
    membership join) and one node-keyed left join folding incoming
    contributions into the FULL node table (a node with no in-edge
    gets teleport + its share — it is not silently dropped). Setup
    adds the one distinct() pass over the edge frame that the fast
    path's contract exists to avoid.

    Scale shape: the working set is the adjacency frame
    (operators._iterloop.adjacency_cache — one row per node, cached
    sorted within partitions). Per iteration the SortMergeJoin against
    the rank table streams node-count rows on both sides (only the
    rank table exchanges and sorts), the per-node send is computed once
    per node, and the explode back to edge-count (dst, send) rows
    happens inside the map stage feeding the partial aggregation, so
    the only edge-count bytes on the wire are the post-combiner
    (dst, partial-sum) pairs of the one PageRank shuffle. Measured
    against a flat copartitioned edge cache: sf10 37.9 s vs 64.6 s,
    sf3 13.6 vs 17.9 s, fingerprint-identical (EXP_PAGERANK.json,
    EXP_PAGERANK_SF10.json). Lineage is truncated per round with a
    node-sized localCheckpoint. Below the _KEEP_BCAST_MAX node-count
    gate the rank table is explicitly broadcast instead (checkpointed
    frames carry no size statistics — pitfall 20 corollary) and the
    adjacency frame is never exchanged at all. Row size is bounded by
    the max out-degree (see adjacency_cache, EXP_ADJ_HUB.json)."""
    if dangling:
        # the input subtree is referenced twice (adjacency build +
        # src ∪ dst node set) — materialize it once; the fast path
        # references it exactly once and skips this checkpoint.
        # NULL-endpoint edges drop HERE so the node set honors the
        # adjacency_cache contract (an unfiltered src ∪ dst would
        # keep a phantom NULL node that deflates every teleport)
        raw = (
            edges.where(
                F.col("src").isNotNull() & F.col("dst").isNotNull()
            ).localCheckpoint(eager=True)
        )
        adj, _ = adjacency_cache(raw)
        has_out = adj.select(
            F.col("src").alias("node"), F.col("outdeg").alias("_odeg")
        )
        # full node set with a STATIC dangler flag (_odeg of the left
        # join is null exactly for nodes with no out-edge) — the flag
        # rides the rank table so the per-round dangling-mass aggregate
        # needs no membership join
        nodes = (
            raw.select(F.col("src").alias("node"))
            .unionAll(raw.select(F.col("dst").alias("node")))
            .distinct()
            .join(has_out, "node", "left")
            .select("node", F.col("_odeg").isNull().alias("is_dang"))
            .localCheckpoint(eager=True)
        )
        n_nodes = nodes.count()
        release_checkpoint(raw)
        rank_src = nodes
    else:
        adj, n_nodes = adjacency_cache(edges)
        rank_src = adj.select(F.col("src").alias("node"))
    small = n_nodes <= _KEEP_BCAST_MAX
    teleport = 1_000_000 // max(n_nodes, 1)
    keep = 100 - damping_pct
    ranks = rank_src.withColumn(
        "rank_ppm", F.lit(teleport).cast("long")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        dang_term = 0
        if dangling:
            # the round's held mass: one scalar crosses the driver
            dmass = int(
                ranks.filter("is_dang")
                .agg(F.coalesce(F.sum("rank_ppm"), F.lit(0)).alias("m"))
                .collect()[0]["m"]
            )
            dang_term = dmass // max(n_nodes, 1)
        # per-node send computed BEFORE the explode: one DIV per node,
        # not one per edge; danglers (dangling mode) simply have no
        # adjacency row and drop out of the inner join
        r = F.broadcast(ranks) if small else ranks
        sends = adj.join(r, adj["src"] == r["node"]).select(
            "_nbrs", F.expr("rank_ppm DIV outdeg").alias("c")
        )
        contribs = sends.select(F.explode("_nbrs").alias("node"), "c")
        incoming = contribs.groupBy("node").agg(
            F.coalesce(F.sum("c"), F.lit(0)).alias("_inc")
        )
        if dangling:
            # fold votes into the FULL node table: no-in-edge nodes
            # keep teleport + share instead of vanishing
            if small:
                incoming = F.broadcast(incoming)
            new_ranks = (
                nodes.join(incoming, "node", "left")
                .select(
                    "node",
                    "is_dang",
                    F.expr(
                        f"CAST(({keep} * {teleport} + {damping_pct} * "
                        f"(coalesce(_inc, 0) + {dang_term})) DIV 100 AS BIGINT)"
                    ).alias("rank_ppm"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            new_ranks = incoming.select(
                "node",
                F.expr(
                    f"CAST(({keep} * {teleport} + {damping_pct} * _inc) "
                    "DIV 100 AS BIGINT)"
                ).alias("rank_ppm"),
            ).localCheckpoint(eager=True)
        release_checkpoint(ranks)  # the dead round
        ranks = new_ranks
    # the returned ranks are self-contained (checkpointed); the
    # adjacency working set can be released too
    adj.unpersist()
    if dangling:
        release_checkpoint(nodes)
        return ranks.select("node", "rank_ppm")
    return ranks



def personalized_pagerank_ppm(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank over directed ``edges``
    (src, dst), exact integer ppm — Haveliwala's PPR (WWW'02): the
    teleport vector is uniform over ``seeds`` (a bounded DataFrame
    with a ``node`` column) instead of uniform over all nodes, so
    rank measures proximity/influence relative to the seed set — the
    corpus-pipeline use is "score every document/domain by its link
    proximity to a trusted (or untrusted) seed list".

    Recurrence, in exact BIGINT ppm: ``t(v) = 1M DIV |S|`` for seeds,
    0 otherwise; ``new(v) = (keep·t(v) + d·(incoming(v) +
    [v ∈ S]·(dangling_mass DIV |S|))) DIV 100``. Dangling semantics
    follow the standard PPR convention: out-edge-less nodes return
    their held mass to the SEEDS (not uniformly) each round — one
    scalar aggregate crosses the driver. Seeds are intersected with
    the node set first (|S| counts surviving seeds; an empty
    intersection raises).

    Scale shape: the pagerank_ppm(dangling=True) adjacency loop
    (operators._iterloop.adjacency_cache) with two static
    boolean flags (is_dang, is_seed) riding the node table — the
    per-round cost is identical to dangling PageRank: one node-sized
    scalar aggregate, the node-count SMJ against the sorted adjacency
    cache, the one true (dst, partial-sum) shuffle, and a node-keyed
    left join folding votes into the full node table (a no-in-edge
    seed keeps its teleport share; a non-seed with no in-edges goes
    to exactly 0, not a dropped row). NULL-endpoint edges are dropped
    (the adjacency_cache contract — see pagerank_ppm)."""
    raw = (
        edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .localCheckpoint(eager=True)
    )
    adj, _ = adjacency_cache(raw)
    has_out = adj.select(F.col("src").alias("node"), "outdeg")
    nodes = (
        raw.select(F.col("src").alias("node"))
        .unionAll(raw.select(F.col("dst").alias("node")))
        .distinct()
        .join(has_out, "node", "left")
        .join(
            F.broadcast(
                seeds.select(F.col("node")).distinct().withColumn(
                    "_s", F.lit(True)
                )
            ),
            "node",
            "left",
        )
        .select(
            "node",
            F.col("outdeg").isNull().alias("is_dang"),
            F.coalesce(F.col("_s"), F.lit(False)).alias("is_seed"),
        )
        .localCheckpoint(eager=True)
    )
    release_checkpoint(raw)
    n_nodes = nodes.count()
    n_seeds = nodes.filter("is_seed").count()
    if n_seeds == 0:
        raise ValueError("no seed intersects the graph's node set")
    small = n_nodes <= _KEEP_BCAST_MAX
    tp = 1_000_000 // n_seeds
    keep = 100 - damping_pct
    ranks = nodes.withColumn(
        "rank_ppm",
        F.when(F.col("is_seed"), F.lit(tp)).otherwise(F.lit(0)).cast("long"),
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        dmass = int(
            ranks.filter("is_dang")
            .agg(F.coalesce(F.sum("rank_ppm"), F.lit(0)).alias("m"))
            .collect()[0]["m"]
        )
        dshare = dmass // n_seeds
        r = F.broadcast(ranks) if small else ranks
        sends = adj.join(r, adj["src"] == r["node"]).select(
            "_nbrs", F.expr("rank_ppm DIV outdeg").alias("c")
        )
        contribs = sends.select(F.explode("_nbrs").alias("node"), "c")
        incoming = contribs.groupBy("node").agg(
            F.coalesce(F.sum("c"), F.lit(0)).alias("_inc")
        )
        if small:
            incoming = F.broadcast(incoming)
        new_ranks = (
            nodes.join(incoming, "node", "left")
            .select(
                "node",
                "is_dang",
                "is_seed",
                F.expr(
                    f"CAST(({keep} * IF(is_seed, {tp}, 0) + {damping_pct} * "
                    f"(coalesce(_inc, 0) + IF(is_seed, {dshare}, 0))) "
                    "DIV 100 AS BIGINT)"
                ).alias("rank_ppm"),
            )
            .localCheckpoint(eager=True)
        )
        release_checkpoint(ranks)
        ranks = new_ranks
    adj.unpersist()
    release_checkpoint(nodes)
    return ranks.select("node", "rank_ppm")


# deterministic step-hash constants for random_walks: a mod-(2^31-1)
# LCG — every product stays under 2^63 for ANY bigint node id because
# the id is reduced mod P before multiplying, so the recurrence is
# computable overflow-free (and therefore bit-identically) in Spark
# AND in engines whose BIGINT overflow RAISES instead of wrapping
# (DuckDB) — the md5-portability discipline, arithmetic edition.
_WALK_P = 2_147_483_647
_WALK_A = 1_103_515_245
_WALK_B = 12_345
_WALK_C = 1_013_904_223
# broadcast cap on the TOTAL packed neighbor count for random_walks'
# adjacency broadcast: the frame carries edge-sized arrays, so the
# node-count gate alone would admit a multi-GB broadcast on a dense
# graph (20M longs ≈ 160 MB serialized, comfortably under Spark's
# broadcast limits; above it the SMJ path is the right plan anyway)
_WALK_BCAST_EDGE_MAX = 20_000_000


def random_walks(
    edges: DataFrame,
    starts: DataFrame | None = None,
    walk_len: int = 4,
    walks_per_node: int = 1,
) -> DataFrame:
    """DETERMINISTIC fixed-length random walks (the DeepWalk /
    node2vec corpus-generation primitive — Perozzi et al., KDD'14):
    turn a graph into node SEQUENCES for embedding training, the
    graph-side analogue of document chunking. True RNG would make
    the output partitioning-dependent and unverifiable; the walker
    at node u on walk w, step t instead picks neighbor index
    ``((u%P)*A + w*B + t*C) % P  mod outdeg`` into the SORTED
    out-neighbor array (P = 2^31-1 LCG, every term reduced before
    multiplying so the arithmetic is overflow-free for any bigint id
    — exactly replayable in plain SQL as a rank join, which is what
    makes a sampling operator oracle-checkable at all). Uniform over
    neighbors per step, decorrelated across (node, walk, step).

    Node ids must be integral (the LCG does arithmetic on the id —
    string ids belong to the hash-join family of operators, not
    here). ``starts``: optional (node) frame (default: every node
    with an out-edge starts ``walks_per_node`` walks). A
    user-supplied ``starts`` is SANITIZED — NULL rows dropped and
    duplicates collapsed (r10 ADVICE: a NULL start otherwise yields a
    phantom 1-step walk with path [NULL], and duplicate start rows
    silently emit duplicate (start, w) output keys, breaking the
    output's uniqueness contract); the one distinct() exchange is
    setup-only over the walk-count frame. A walker reaching a
    node with no out-edge STOPS — the path keeps its visited prefix
    (n_steps < walk_len), it is not dropped or padded. Output:
    (start, w, n_steps, path[]) — path[1] = start.

    Scale shape — the packed-adjacency layout's no-explode corner:
    the working set is (src, outdeg, SORTED nbrs[]) one row per node
    (single edge-sized exchange, sorted within partitions, the
    pitfall-25 cache); per step the walk-count state table SMJs
    against it with zero cached-side exchange and ``element_at``
    INDEXES the packed array — where pagerank must re-expand to
    edge-count rows inside the map stage, a walk step touches ONE
    array slot, so per-step wire cost is walk-count rows always,
    never edge-count. The adjacency frame is explicitly broadcast
    (checkpointed state carries no size statistics anyway — pitfall
    20 corollary) when BOTH the node count is under _KEEP_BCAST_MAX
    AND the total packed neighbor count is under
    _WALK_BCAST_EDGE_MAX — unlike the rank/label broadcasts of the
    sibling loops, this frame carries the edge-sized arrays, so a
    node-count gate alone would admit a multi-GB broadcast on a
    dense graph; then a step pays zero exchanges. Both counts come
    from one aggregate over the cache.

    STEP-ROWS state (r11, measured — EXP_WALKS_LEN.json): the
    per-step state carries only
    (start, w, cursor), NOT the growing path array, so every step's
    localCheckpoint writes constant walk-count bytes; each step
    contributes a (start, w, t, node) row frame (a projection of
    that step's checkpoint — no extra materialization) and ONE end
    pack (groupBy(start, w) + sort_array(collect_list(struct(t,
    node)))) rebuilds the path. The prior shape rewrote the FULL
    path array every step — O(walks × walk_len²) total checkpoint
    bytes; at DeepWalk-typical lengths (Perozzi KDD'14 walks 40
    steps from every node) that multiplied per-step traffic 100-400×.
    Paired at sf1 with 210k walks, fingerprint-identical, min-of-2:
    L=4 8.13 vs 8.15 s (tie — the end pack costs what the rewrite
    saved), L=40 74.1 vs 87.4 s, L=80 149.6 vs 150.1 s; the step-rows
    shape never measured worse and its checkpoint-byte ceiling is a
    walk_len factor lower, which is what survives corpus-scale walk
    counts. Dead walkers drop from the state via the inner join —
    their emitted prefix rows remain (identical stop semantics: the
    path keeps its visited prefix). Edges with a NULL endpoint are
    dropped (the adjacency_cache NULL contract, both columns — a
    NULL src would otherwise seed a phantom start). ``walk_len`` and
    ``walks_per_node`` must be ≥ 1 (raises otherwise — Spark's
    ``sequence(0, -1)`` DESCENDS, so an unvalidated 0 would silently
    emit two walks per start at w = 0 and w = −1). Quiet-host anchor
    (r10, BENCH_r10_newops.json, 4-step walks from every 97th order):
    sf1 9.5 s / 15.2k walks, sf10 23.6 s / 151.8k walks — ratio 2.49
    at 10× data."""
    if walk_len < 1 or walks_per_node < 1:
        raise ValueError(
            f"walk_len and walks_per_node must be >= 1, got "
            f"{walk_len}/{walks_per_node}"
        )
    e = edges.where(F.col("dst").isNotNull() & F.col("src").isNotNull())
    adj = (
        e.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("outdeg"),
            F.sort_array(F.collect_list("dst")).alias("_nbrs"),
        )
        .sortWithinPartitions("src")
        .persist()
    )
    stats = adj.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("outdeg"), F.lit(0)).alias("m"),
    ).collect()[0]
    small = (
        int(stats["n"]) <= _KEEP_BCAST_MAX
        and int(stats["m"]) <= _WALK_BCAST_EDGE_MAX
    )
    if starts is None:
        starts = adj.select(F.col("src").alias("node"))
    else:
        # select BEFORE distinct: a frame with extra columns would
        # otherwise keep per-node duplicates that differ elsewhere
        starts = (
            starts.select("node").where(F.col("node").isNotNull()).distinct()
        )
    nxt_fn = lambda h: F.element_at(  # noqa: E731
        "a._nbrs", (F.pmod(h, F.col("a.outdeg")) + 1).cast("int")
    )
    packed = _walk_state_loop(adj, small, starts, walk_len, walks_per_node, nxt_fn)
    adj.unpersist()
    return packed


def _walk_state_loop(adj, small, starts, walk_len, walks_per_node, nxt_fn):
    """The shared step-rows walk loop (random_walks /
    weighted_random_walks): per-step state carries only
    (start, w, _cur); each step contributes a (start, w, t, node)
    projection of its checkpoint; ONE end pack rebuilds the paths.
    ``nxt_fn(h)`` maps the step's LCG hash Column to the next-node
    Column against the adjacency alias ``a`` — the only part the two
    pick disciplines (uniform index, weighted cumulative range)
    differ in."""
    state = starts.select(
        F.col("node").alias("start"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(walks_per_node - 1))
        ).alias("w"),
        F.col("node").alias("_cur"),
    ).localCheckpoint(eager=True)
    # every step's checkpoint stays persisted until the end pack has
    # materialized — the step frames below are PROJECTIONS of these
    # checkpoints, not copies
    kept = [state]
    steps = [
        state.select(
            "start", "w", F.lit(0).cast("int").alias("t"),
            F.col("_cur").alias("node"),
        )
    ]
    for t in range(1, walk_len):
        st = state.alias("s")
        a = (F.broadcast(adj) if small else adj).alias("a")
        h = (
            (F.pmod(F.col("s._cur"), _WALK_P) * _WALK_A) % _WALK_P
            + (F.col("s.w") * _WALK_B) % _WALK_P
            + F.lit((t * _WALK_C) % _WALK_P)
        ) % _WALK_P
        # inner join: a walker at a node with no out-edge has no
        # adjacency row and drops from the state — its prefix rows
        # already sit in `steps`
        state = (
            st.join(a, F.col("s._cur") == F.col("a.src"))
            .select("s.start", "s.w", nxt_fn(h).alias("_cur"))
            .localCheckpoint(eager=True)
        )
        kept.append(state)
        steps.append(
            state.select(
                "start", "w", F.lit(t).cast("int").alias("t"),
                F.col("_cur").alias("node"),
            )
        )
    packed = (
        reduce(lambda x, y: x.unionAll(y), steps)
        .groupBy("start", "w")
        .agg(
            F.sort_array(F.collect_list(F.struct("t", "node"))).alias("_ps")
        )
        .select(
            "start",
            "w",
            F.size("_ps").alias("n_steps"),
            F.expr("transform(_ps, x -> x.node)").alias("path"),
        )
        .localCheckpoint(eager=True)
    )
    for s in kept:
        release_checkpoint(s)
    return packed


def weighted_random_walks(
    edges: DataFrame,
    starts: DataFrame | None = None,
    walk_len: int = 4,
    walks_per_node: int = 1,
    weight_col: str = "weight",
) -> DataFrame:
    """random_walks over a WEIGHTED graph — ``edges`` carries
    (src, dst, ``weight_col``) and the walker at node u picks its
    next neighbor with probability proportional to the edge weight,
    the weighted co-occurrence regime production DeepWalk pipelines
    actually train on (co-click / co-purchase counts, not 0/1
    adjacency). Determinism discipline unchanged: the step hash is
    the shared mod-2^31-1 LCG over (node, walk, step); the pick maps
    ``h mod W(u)`` into the CUMULATIVE-weight ranges of u's
    dst-sorted neighbors (neighbor i owns [cum_{i-1}, cum_i)), so a
    weight-w neighbor owns exactly w slots of the range — uniform
    over WEIGHT mass per step, exactly replayable in SQL as a range
    join on windowed running sums (the rank-join oracle, weighted
    edition).

    Weights must be POSITIVE integers (exact BIGINT arithmetic —
    raises if any aggregated (src, dst) weight is ≤ 0 or NULL);
    parallel (src, dst) rows are SUMMED before the walk (count-style
    co-occurrence semantics). Node ids integral, as in random_walks;
    start sanitization, dead-end stop semantics, knob validation and
    the (start, w, n_steps, path) output contract are identical.

    Scale shape: the step-rows loop of random_walks
    (_walk_state_loop — constant walk-count checkpoint bytes per
    step, one end pack; EXP_WALKS_LEN.json), over a packed weighted
    adjacency (src, W, outdeg, sorted (dst, cum) struct array) built
    with one exchange + one per-src window pass. The pick is
    ``size(filter(_nc, x -> x._cum <= r))`` — O(out-degree) work per
    walker-step inside whole-stage codegen where the uniform pick is
    O(1); that is the honest price of weighted sampling without
    alias tables, and it stays JVM-side and spill-free."""
    if walk_len < 1 or walks_per_node < 1:
        raise ValueError(
            f"walk_len and walks_per_node must be >= 1, got "
            f"{walk_len}/{walks_per_node}"
        )
    from pyspark.sql import Window

    e = edges.where(
        F.col("dst").isNotNull() & F.col("src").isNotNull()
    ).select(
        "src", "dst", F.col(weight_col).cast("long").alias("_w")
    )
    # coalesce NULL weights to a huge negative sentinel BEFORE the sum
    # (sum SKIPS nulls — a silently-dropped NULL weight would violate
    # the raise-on-NULL contract); any null drives the group's sum
    # negative and the min-weight gate below raises
    agg = e.groupBy("src", "dst").agg(
        F.sum(F.coalesce("_w", F.lit(-(1 << 60)))).alias("_w")
    )
    win = Window.partitionBy("src").orderBy("dst")
    wts = agg.select(
        "src", "dst", "_w", F.sum("_w").over(win).alias("_cum")
    )
    adj = (
        wts.groupBy("src")
        .agg(
            F.max("_cum").alias("W"),
            F.count(F.lit(1)).alias("outdeg"),
            F.sort_array(F.collect_list(F.struct("dst", "_cum"))).alias("_nc"),
            F.min("_w").alias("_minw"),
        )
        .sortWithinPartitions("src")
        .persist()
    )
    stats = adj.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("outdeg"), F.lit(0)).alias("m"),
        F.min("_minw").alias("minw"),
    ).collect()[0]
    if stats["n"] and (stats["minw"] is None or int(stats["minw"]) < 1):
        adj.unpersist()
        raise ValueError(
            "edge weights must be positive integers (aggregated "
            f"(src, dst) min is {stats['minw']!r})"
        )
    small = (
        int(stats["n"]) <= _KEEP_BCAST_MAX
        and int(stats["m"]) <= _WALK_BCAST_EDGE_MAX
    )
    if starts is None:
        starts = adj.select(F.col("src").alias("node"))
    else:
        starts = (
            starts.select("node").where(F.col("node").isNotNull()).distinct()
        )

    def nxt_fn(h):
        r = F.pmod(h, F.col("a.W"))
        idx = F.size(F.filter("a._nc", lambda x: x["_cum"] <= r))
        return F.element_at("a._nc", idx + 1)["dst"]

    packed = _walk_state_loop(adj, small, starts, walk_len, walks_per_node, nxt_fn)
    adj.unpersist()
    return packed


# (dist, root) packed into ONE BIGINT for bfs_levels: enc = dist·2^42
# + root — min(enc) is then exactly lexicographic min(dist, root), a
# single map-side-combinable aggregate instead of a struct min, and
# the SAME arithmetic replays in any SQL engine (the exact-integer
# discipline). 2^42 bounds ids at ~4.4e12 and depth at 2^21 — checked.
_BFS_SHIFT = 1 << 42


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """Deterministic multi-source BFS distance labeling over directed
    ``edges`` (src, dst): every node reachable from ``seeds`` (a
    (node) frame) within ``max_depth`` hops gets its hop distance and
    the SMALLEST nearest seed — ties broken first by distance, then by
    seed id, so the labeling is unique and cross-engine checkable.
    The corpus-pipeline use is trust/spam propagation features:
    "distance to the nearest trusted (or banned) domain" as a
    first-class column, TrustRank's BFS skeleton (Gyöngyi et al.,
    VLDB'04 seed-propagation family) without the rank smoothing.

    Exact-integer state: each labeled node carries ``enc = dist·2^42 +
    root`` — one BIGINT whose min IS lexicographic min(dist, root), so
    every fold is a plain map-side-combinable ``min`` and one hop is
    ``enc + 2^42`` (dist+1, same root). Ids must be non-negative
    integral and < 2^42 (raises on violation at seed check; ~4.4e12
    headroom), max_depth ≥ 0. Output: (node, dist, root) — seeds not
    in the graph keep their row at dist 0 (they are labels, not
    joins); unreached nodes are absent.

    Scale shape: the adjacency working set
    (operators._iterloop.adjacency_cache). Per round only the
    FRONTIER — nodes first discovered or improved last round — joins
    the cache (BFS's defining optimization: total sends across ALL
    rounds are bounded by edge count, not rounds × edges; a
    full-label join would re-send every settled node every round),
    the explode to (dst,
    enc+2^42) candidates happens inside the map stage of the partial
    min, and one node-keyed min-fold against the label table both
    updates labels and yields the NEXT frontier (strict improvements
    only) from the same join. Frontier and label tables are
    node-sized, localCheckpoint'd per round (pitfall 12/19); the
    frontier is explicitly broadcast under _KEEP_BCAST_MAX
    (checkpointed frames carry no size statistics — pitfall 20
    corollary). Early exit when the frontier empties (a count on the
    node-sized frontier, no edge work — the k-core precheck
    discipline)."""
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    adj, n_nodes = adjacency_cache(edges.select("src", "dst"))
    small = n_nodes <= _KEEP_BCAST_MAX
    labels = (
        seeds.select("node")  # before distinct: drop any extra columns
        .where(F.col("node").isNotNull())
        .distinct()
        .select("node", F.col("node").cast("long").alias("enc"))
        .localCheckpoint(eager=True)
    )
    bad = labels.where(
        (F.col("enc") < 0) | (F.col("enc") >= _BFS_SHIFT)
    ).count()
    if bad:
        raise ValueError(
            f"{bad} seed id(s) outside [0, 2^42) break the (dist, root) "
            "BIGINT encoding"
        )
    frontier = labels
    round_ckpt = labels  # the checkpoint backing labels AND frontier
    for _ in range(max_depth):
        if frontier.count() == 0:
            break  # node-sized count; no edge work on the fixed point
        f = F.broadcast(frontier) if small else frontier
        cand = (
            adj.join(f, adj["src"] == f["node"])
            .select(
                F.explode("_nbrs").alias("node"),
                (F.col("enc") + F.lit(_BFS_SHIFT)).alias("enc"),
            )
            .groupBy("node")
            .agg(F.min("enc").alias("enc"))
        )
        # one outer min-fold updates the label table AND derives the
        # next frontier (strict improvements / first discoveries) —
        # labels and frontier are PROJECTIONS of this one checkpoint
        merged = (
            labels.select("node", F.col("enc").alias("_old"))
            .join(cand.select("node", F.col("enc").alias("_new")), "node", "full")
            .select(
                "node",
                F.least(F.col("_old"), F.col("_new")).alias("enc"),
                (
                    F.col("_old").isNull()
                    | (F.col("_new") < F.col("_old"))
                ).alias("_improved"),
            )
            .localCheckpoint(eager=True)
        )
        release_checkpoint(round_ckpt)  # the dead round
        round_ckpt = merged
        labels = merged.select("node", "enc")
        frontier = merged.where("_improved").select("node", "enc")
    out = labels.select(
        "node",
        F.expr(f"enc DIV {_BFS_SHIFT}").cast("long").alias("dist"),
        F.expr(f"enc % {_BFS_SHIFT}").cast("long").alias("root"),
    )
    adj.unpersist()
    return out


def hits_ppm(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg, JACM 1999) over directed
    ``edges`` (src, dst), authority and hub scores in exact integer
    ppm — the link-analysis complement to pagerank_ppm for corpus
    curation: authorities are the heavily-cited pages (keep), hubs
    are the link-list/directory pages (usually boilerplate or link
    farms — a high-hub/low-authority profile is a classic spam
    signal PageRank alone can't separate).

    Recurrence, Kleinberg's update order in exact BIGINT ppm with
    SUM-normalization (L1 instead of the classic L2 — an integer
    sqrt would break cross-engine exactness; L1 preserves the
    ranking and the fixed point up to scaling): per round,
    ``a_raw(v) = Σ_{u→v} h(u)`` then ``a = a_raw·1M DIV Σ a_raw``,
    then ``h_raw(u) = Σ_{u→v} a(v)`` (the NEW a) and
    ``h = h_raw·1M DIV Σ h_raw``. Initial a = h = 1M DIV n over the
    full node set (src ∪ dst). A node with no in-edge has authority
    0, no out-edge hub 0 — both keep their row (left joins into the
    full node table, the dangling-pagerank discipline). BIGINT
    headroom: a_raw ≤ 1M·n ≤ 9.2e18 holds to n ≈ 9T nodes.

    Scale shape: TWO static adjacency working sets from the one
    shared implementation (operators._iterloop.adjacency_cache) —
    out-adjacency keyed by src feeds the authority step (join the
    node-sized hub table, explode out-neighbors inside the map stage
    of the partial sum), in-adjacency keyed by dst feeds the hub
    step (join the node-sized authority table, explode in-neighbors
    likewise) — so per round each direction costs one node-count SMJ
    against its sorted cache plus the one true (node, partial-sum)
    shuffle, exactly pagerank_ppm's per-round budget twice, with no
    edge-sized exchange anywhere after setup. Normalization is two
    scalar aggregates per round (one BIGINT each across the driver,
    the dangling-mass discipline — the normalizer aggregates over the
    CHECKPOINTED node-sized raw-sum table, so the scalar action never
    re-executes the send/explode pipeline it summarizes). Node-sized
    tables broadcast under _KEEP_BCAST_MAX; lineage truncates per
    round (pitfall 12/19); NULL-endpoint edges dropped (the
    adjacency_cache contract — an unfiltered src ∪ dst would keep a
    phantom NULL node that deflates every real node's teleport).
    Measured (r10): the raw-sum checkpoint paired against the lazy
    shape at sf10, fingerprint-identical, min-of-2 **65.1 s vs
    106.1 s** (EXP_HITS_FOLD.json — cross-host rehearsals disagreed,
    so the call followed a one-session interleaved pair, the EXP_SHJ
    discipline); sf1 anchor 13.4 s (BENCH_r10_newops2.json; the
    pre-fix rehearsal BENCH_r10_newops.json carries 24.7/105.8).
    r11 (EXP_HITS_R11*.json): the round's separate auth⋈hub join is
    FUSED — the hub fold lands on the auth table, so its output is
    the round's scores (sf10 4-arm interleaved 79.7 s min-of-2 vs
    125.8 for the join shape; see the loop comment).
    ``iterations`` must be ≥ 1 (raises otherwise — r10 ADVICE:
    silently returning the uniform initial scores hid the user error
    sibling random_walks already rejects)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    raw = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .localCheckpoint(eager=True)
    )
    adj_out, _ = adjacency_cache(raw, key="src", neighbor="dst")
    adj_in, _ = adjacency_cache(raw, key="dst", neighbor="src")
    nodes = (
        raw.select(F.col("src").alias("node"))
        .unionAll(raw.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    release_checkpoint(raw)
    n_nodes = nodes.count()
    small = n_nodes <= _KEEP_BCAST_MAX
    tp = 1_000_000 // max(n_nodes, 1)
    scores = nodes.select(
        "node",
        F.lit(tp).cast("long").alias("auth_ppm"),
        F.lit(tp).cast("long").alias("hub_ppm"),
    ).localCheckpoint(eager=True)

    def _fold(adj, key_col, score_col, out_col, cur, base):
        """One half-round: raw(v) = Σ over adj[v]'s packed neighbors of
        cur's score_col, L1-normalized to ppm, folded into ``base`` (a
        full-node-set frame — no-edge nodes keep an explicit 0). The
        node-sized raw-sum table is CHECKPOINTED before the scalar
        normalizer is collected — without it the total's action and the
        half-round's own materialization each executed the full
        send/explode/partial-sum pipeline (shuffle stages are not
        reused across separate jobs), doubling every round's edge-side
        work. Returns (folded, raw_ckpt); the caller releases
        raw_ckpt once the folded frame is materialized (pitfall 19)."""
        c = F.broadcast(cur) if small else cur
        sends = adj.join(c, adj[key_col] == c.node).select(
            "_nbrs", F.col(score_col).alias("_s")
        )
        raw_scores = (
            sends.select(F.explode("_nbrs").alias("node"), "_s")
            .groupBy("node")
            .agg(F.sum("_s").alias("_raw"))
            .localCheckpoint(eager=True)
        )
        total = int(
            raw_scores.agg(
                F.coalesce(F.sum("_raw"), F.lit(0)).alias("t")
            ).collect()[0]["t"]
        )
        rs = F.broadcast(raw_scores) if small else raw_scores
        keep = [col for col in base.columns if col != out_col]
        folded = base.join(rs, "node", "left").select(
            *keep,
            F.expr(
                f"CAST(coalesce(_raw, 0) * 1000000 DIV {max(total, 1)} "
                "AS BIGINT)"
            ).alias(out_col),
        )
        return folded, raw_scores

    for _ in range(iterations):
        # authorities from hubs (out-adjacency: u's row sends h(u) to
        # each out-neighbor), then hubs from the NEW authorities
        # (in-adjacency: v's row sends a(v) to each in-neighbor). The
        # hub fold lands on the AUTH table instead of the bare node
        # set, so its output IS the round's (node, auth, hub) scores —
        # the separate auth⋈hub join the r10 shape paid per round is
        # fused away (r11, measured: EXP_HITS_R11*.json, sf10 4-arm
        # interleaved session 79.7 s
        # min-of-2 vs 125.8 for the join shape, fingerprint-identical;
        # the further lazy-auth arms measured within cross-session
        # noise of this and were rejected for their double evaluation)
        auth_l, a_raw = _fold(
            adj_out, "src", "hub_ppm", "auth_ppm", scores, nodes
        )
        auth = auth_l.localCheckpoint(eager=True)
        release_checkpoint(a_raw)
        new_l, h_raw = _fold(adj_in, "dst", "auth_ppm", "hub_ppm", auth, auth)
        new_scores = new_l.select(
            "node", "auth_ppm", "hub_ppm"
        ).localCheckpoint(eager=True)
        for dead in (h_raw, scores, auth):
            release_checkpoint(dead)
        scores = new_scores
    adj_out.unpersist()
    adj_in.unpersist()
    release_checkpoint(nodes)
    return scores


def triangle_count(edges: DataFrame, u_col: str = "u", v_col: str = "v") -> DataFrame:
    """Exact triangle count over an undirected edge list via DEGREE
    ORIENTATION — the MapReduce triangle algorithm (Suri &
    Vassilvitskii, WWW'11; also Cohen's MapReduce graph kit).

    Naive wedge enumeration joins edges on the shared endpoint: a hub
    of degree d contributes d² wedges, so one celebrity node in a
    100 TB graph emits 10¹² candidates. Orienting every edge from its
    lower-(degree, id) endpoint to the higher one makes every node's
    OUT-degree O(√m), which bounds total wedges by O(m^1.5) regardless
    of skew — the orientation IS the skew handling, no salting needed.
    Each triangle then appears exactly once (its lowest-ordered vertex
    is the wedge center's predecessor), counted by one semi-join of
    wedges against oriented edges.

    Plan: two bounded joins against the degree table, one wedge
    self-join on the orientation key, one left-semi closure check —
    all shuffling (int, int) pairs only. Returns one row:
    (n_nodes, n_edges, n_triangles).
    """
    # materialize the edge list once: the degree/orientation/wedge/
    # closure chain references it 18 times transitively, and every lazy
    # reference re-evaluates the caller's edge-building subtree — for
    # the co-purchase graph that planned 36 lineitem scans. Checkpoint
    # collapses the plan to one edge build + (int,int) joins.
    e = edges.select(
        F.col(u_col).alias("u"), F.col(v_col).alias("v")
    ).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    directed = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        # referenced 3× (both wedge sides + closure); materialize the
        # orientation once instead of re-running the degree joins
        .localCheckpoint(eager=True)
    )
    e1 = directed.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = directed.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b")
    closing = directed.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["a", "c"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Synchronous Label Propagation community detection (Raghavan et
    al., Phys. Rev. E 2007) with DETERMINISTIC tie-breaking: every node
    starts as its own community (label = node id); each round, every
    node adopts the label most frequent among its neighbors, ties
    broken by SMALLEST label. The classic LPA randomizes update order
    and tie choice; fixing synchronous rounds + min-label ties makes a
    fixed iteration count bit-identical across engines and
    partitionings — the same trick that makes pagerank_ppm
    oracle-checkable. (Synchronous LPA can 2-cycle on bipartite
    structure; a fixed round count returns a deterministic snapshot
    either way, which is what a verification gate needs.)

    ``edges`` is directed (src, dst); undirected callers union both
    directions. Labels must be non-negative longs (the min-tie argmax
    rides max(struct(count, -label))). Output: (node, label) — ONE row
    per node of the graph (src ∪ dst): a node with no in-edges this
    round KEEPS its current label (it has no neighbor votes), it is
    not silently dropped — so directed inputs (domain-link graphs)
    get a correct answer, not a shrinking node set. On symmetric
    input every node receives votes every round and the carry-forward
    never fires, so the undirected answer is unchanged.

    Scale shape: the working set is the adjacency frame
    (operators._iterloop.adjacency_cache), and the label table derives
    from it (src ∪ explode(neighbors)), so no distinct() runs over the
    raw edges. Per round the edges⋈labels SortMergeJoin streams
    node-count rows on both sides, the explode back to per-edge
    (dst, label) votes happens inside the map stage, ONE exchange
    serves the (dst, label) count and the dst argmax (map-side
    combinable via max(struct)), and one node-keyed left join folds
    votes back into the label table. Lineage truncates per round with
    localCheckpoint (pitfall 12). The adjacency layout measured 87.3 s
    vs 109.3 s for a flat copartitioned edge cache at sf10
    (EXP_ADJ_FAMILY.json, fingerprint-identical labels). Under the
    _KEEP_BCAST_MAX node-count gate the label table and argmax are
    explicitly broadcast (checkpointed frames carry no size statistics
    — pitfall 20 corollary) and the adjacency frame is never exchanged
    at all. Row size is bounded by the max out-degree (see
    adjacency_cache, EXP_ADJ_HUB.json)."""
    adj, _ = adjacency_cache(edges.select("src", "dst"))
    labels = (
        adj.select(F.col("src").alias("node"))
        .unionAll(adj.select(F.explode("_nbrs").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    small = labels.count() <= _KEEP_BCAST_MAX  # node count: driver scalar
    # fallback for platforms that set the conf non-numerically (e.g.
    # 'auto') — label_propagation must not fail on int()
    try:
        n_part = int(
            labels.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        n_part = labels.rdd.getNumPartitions() or 200
    for _ in range(iterations):
        lb = F.broadcast(labels) if small else labels
        raw = adj.join(lb, adj["src"] == lb["node"]).select(
            F.explode("_nbrs").alias("nd"), "label"
        )
        # Vote-path exchange fusion (EXP_LPA_FUSION.json,
        # fingerprint-identical labels on every arm): hash-partitioning
        # the raw votes by nd makes ONE exchange serve both the
        # (nd, label) count and the nd argmax (partitioning keys ⊆
        # grouping keys). Fused beat two exchanges at sf0.1, sf1 and
        # sf10. Trade-off: the fused exchange carries raw edge-count
        # votes instead of post-partial-agg pairs; with the declared
        # 3 rounds labels stay near-distinct and partials reduce
        # little, but a run of MANY rounds to convergence should
        # re-A/B. The partition count is pinned to
        # spark.sql.shuffle.partitions: an unpinned repartition("nd")
        # measured 3.5× slower at sf1 (AQE coalesced it to too few
        # partitions for the aggregations downstream).
        votes = (
            raw.repartition(n_part, "nd")
            .groupBy("nd", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        argmax = votes.groupBy(F.col("nd").alias("node")).agg(
            (-F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))["nl"])
            .cast("long")
            .alias("_vl")
        )
        if small:
            argmax = F.broadcast(argmax)
        new_labels = (
            labels.join(argmax, "node", "left")
            .select(
                "node", F.coalesce(F.col("_vl"), F.col("label")).alias("label")
            )
            .localCheckpoint(eager=True)
        )
        release_checkpoint(labels)  # dead round: nothing references it
        labels = new_labels
    # the returned labels are self-contained (checkpointed), so the
    # adjacency working set can be released too
    adj.unpersist()
    return labels


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983; the distributed peel
    is Montresor et al.'s bulk-synchronous variant): repeatedly drop
    every node with degree < k together with its incident edges. The
    full k-core is the fixed point; a FIXED round count is the
    deterministic snapshot a verification gate needs (same discipline
    as label_propagation / pagerank_ppm) and is how production graph
    sanitizers actually run — a bounded number of peel sweeps before
    link-farm / spam scoring, since late rounds remove almost nothing.

    ``edges`` MUST be a symmetric directed list — undirected callers
    union both directions; the peel relies on deg_out(v) = deg_in(v)
    to judge both endpoints of an edge from window counts (and the
    keep condition is endpoint-symmetric, so symmetry is preserved
    across rounds by induction). Output: one row per peel round —
    (round, n_nodes, n_edges) AFTER that round's removal, with
    n_edges counting directed edge rows (2× the undirected count).

    Scale shape, per round: ONE degree aggregation (map-side partial
    count on src), materialized — it serves three masters: the keep
    filter for both semi-joins (a lazy keep re-ran the whole
    aggregation per join; the unmaterialized form did not finish one
    120 M-edge cold round in 9 min at sf10) AND the round statistics:
    degrees of e_r are exactly (distinct src, edge count) of e_r, so
    the per-round distinct().count() + count() passes — two more
    full-edge-list shuffles each round — are replaced by two cheap
    actions on the node-sized degree table of the NEXT iteration
    (plus one final aggregation after the last round). Then two hash
    semi-joins re-key the edge list by src and dst — (long, long)
    rows on every exchange. A count-window formulation (degree =
    count over partitionBy(node)) was also measured and REJECTED:
    count windows sort within partitions and the hot nodes skew those
    sorts — 26-40 s at sf1 vs ~9 s for this shape.

    Per-round materialization (the r7 disk-cliff experiment,
    tools/exp_kcore.py@7d6562e → BENCH_r7_graphops.json): the EDGE frame
    rides persist(MEMORY_AND_DISK), NOT localCheckpoint —
    localCheckpoint stores raw serialized rows (~4 GB/round at sf10's
    120 M edges, off the single-node page-cache cliff at 62 s/round)
    while the DataFrame cache holds compressed COLUMNAR batches
    (dict/RLE over two long columns) that stay memory-resident:
    sf10 165 s → 67 s. (A packed-single-bigint checkpoint was
    measured too — 107 s: helps, but columnar compression beats
    hand-packing; a keep-set-only variant regressed 4× at sf1 on its
    extra per-round aggregation.) MEMORY_AND_DISK spills rather than
    evicts, so lineage is never re-executed on a healthy executor;
    each round's caches are FORCED (the degree checkpoint's eager
    job) before the dead round is unpersisted — with lazy persist,
    unpersisting the parent first would silently recompute the child
    from the source scan — then dead rounds release immediately
    (pitfall 19).

    The keep set is EXPLICITLY broadcast when the previous round's
    node count (already a driver scalar from the stats action) is
    under _KEEP_BCAST_MAX: the checkpointed degree table is a
    LogicalRDD with no size statistics, so Catalyst would otherwise
    plan both semi-joins as full shuffles of the edge list — measured
    40 s vs 12 s at sf1. Above the gate the node set is
    corpus-proportional and the semi-joins shuffle, as they must.

    Lineage discipline (pitfall 15): persist caches STORAGE but keeps
    the LOGICAL plan, and e appears 3× per sweep (the two semi-joins
    plus keep → deg → e), so an all-persist loop re-plans ~3^rounds
    copies of the base plan — measured as a multi-second-per-sweep
    Catalyst analysis stall on an 8-node graph at kcore_numbers' 8
    sweeps. Breaking the multiplicative edge: the NODE-SIZED degree
    table is localCheckpoint'd (cheap — two longs per node, no disk
    cliff at any tested SF), which flattens keep's lineage, so e's
    plan grows one join layer per round (linear). Only the EDGE-SIZED
    table rides the columnar cache."""
    from pyspark.storagelevel import StorageLevel

    e = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    spark = edges.sparkSession

    def _stats(deg_df):
        row = deg_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("_d"), F.lit(0)).alias("m"),
        ).collect()[0]
        return int(row["n"]), int(row["m"])

    out = []
    deg = peel_degrees(e)
    prev_nodes, prev_edges = _stats(deg)  # seed: a no-op round 1 also certifies
    for r in range(1, rounds + 1):
        keep = deg.filter(F.col("_d") >= k).select("src")
        # IDENTITY-SWEEP PRECHECK (r8 experiment, EXP_KCORE_NUMBERS.json):
        # every node in deg has >= 1 edge, so "no node below threshold"
        # PROVES "no edge removed" — the fixed-point certificate moves
        # from after the sweep (an edge-list materialization wasted on
        # an identical frame) to a node-table count on the checkpointed
        # degree table, costing milliseconds
        keep_cnt = keep.count()
        if keep_cnt == prev_nodes:
            out.extend(
                (rr, prev_nodes, prev_edges) for rr in range(r, rounds + 1)
            )
            break
        # size-regime-gated sweep filtering: operators._iterloop
        e_new = peel_filtered_edges(
            e, deg, keep, k, prev_nodes, prev_nodes - keep_cnt, _KEEP_BCAST_MAX
        )
        deg_new = peel_degrees(e_new)  # degrees of the NEW e: next round's input AND this round's stats
        # _deg's eager checkpoint already FORCED e_new + deg_new while
        # the parents were still cached (persist is lazy; unpersisting
        # first would recompute the round from the source scan) …
        n_nodes, n_edges = _stats(deg_new)
        # … then release the dead round's blocks NOW: they otherwise
        # accumulate in the block manager for the session's lifetime
        # (the returned table is literal — nothing downstream reads
        # them), and the leak compounds across runs — measured
        # 22 s → 60 s run-over-run at sf1 before this release
        e.unpersist()
        release_checkpoint(deg)
        e, deg = e_new, deg_new
        out.append((r, n_nodes, n_edges))
        # (the former post-sweep n_edges == prev_edges certificate is
        # subsumed: a node-removing sweep always removes an edge, so
        # the precheck above catches every fixed point one sweep
        # earlier and without materializing the identical frame)
        prev_nodes, prev_edges = n_nodes, n_edges
    e.unpersist()
    release_checkpoint(deg)
    return parallelize(
        spark, out, "round bigint not null, n_nodes bigint not null, n_edges bigint not null"
    )


def kcore_numbers(
    edges: DataFrame,
    k_max: int = 4,
    rounds_per_k: int = 2,
) -> DataFrame:
    """CORE-NUMBER decomposition, bounded (Seidman 1983: core(v) =
    max k such that v belongs to the k-core): the sequential form of
    kcore_peel — peel at k = 1, then continue peeling the SURVIVOR
    graph at k = 2, and so on up to ``k_max``, ``rounds_per_k``
    bulk-synchronous sweeps per level; a node's core number is the
    last level it survived (capped at k_max — the usual production
    cap: core numbers beyond the report range aren't distinguished).
    ``edges`` must be symmetric (kcore_peel's contract). Output:
    (node, core), one row per node of the input.

    Bounded-round semantics, stated honestly: with rounds_per_k → ∞
    each level reaches the true k-core and the output is the exact
    (capped) core decomposition; a FIXED sweep count is a
    deterministic snapshot of the peel schedule (the kcore_peel /
    label_propagation discipline), which is what a cross-engine value
    gate needs — the oracle unrolls the identical schedule. Starting
    level k from level k-1's survivors is the standard sequential
    peel (the k-core is a subset of the (k-1)-core, so nothing is
    lost — and at bounded rounds it is the DOCUMENTED schedule, not
    an approximation of a different one).

    Scale shape: the kcore_peel loop per level (degree agg with
    map-side partials + two semi-joins, (long, long) rows on every
    exchange, persist(MEMORY_AND_DISK) columnar caching per round —
    see kcore_peel's r7 experiment), plus ONE node-keyed left join
    per level folding survivors into the (node-sized) core table.
    Each level certifies its fixed point BEFORE paying for a sweep:
    "no node below threshold" proves "no edge removed" (every degree-
    table node carries ≥ 1 edge), so confirmation sweeps cost one
    node-table count instead of an edge-frame materialization — at
    this operator's 8-sweep schedule roughly half the sweeps are such
    confirmations (the r8 experiment, EXP_KCORE_NUMBERS.json)."""
    from pyspark.storagelevel import StorageLevel

    e = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    # node-sized tables (cores, degrees) are localCheckpoint'd — the
    # kcore_peel pitfall-15 discipline: truncating their lineage keeps
    # e's plan growth LINEAR in sweeps (an all-persist loop re-plans
    # ~3^sweeps copies of the base plan — at this operator's 8-sweep
    # schedule that stalled Catalyst for ~30 s on an 8-node graph)
    cores = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("core", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )

    deg = peel_degrees(e)
    seed = deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("_d"), F.lit(0)).alias("m"),
    ).collect()[0]
    prev_nodes, prev_edges = int(seed["n"]), int(seed["m"])
    for k in range(1, k_max + 1):
        for _ in range(rounds_per_k):
            keep = deg.filter(F.col("_d") >= k).select("src")
            # IDENTITY-SWEEP PRECHECK (r8 experiment,
            # EXP_KCORE_NUMBERS.json): "no node below threshold"
            # PROVES "no edge removed" (every deg node carries >= 1
            # edge), so the level's fixed point is certified by a
            # node-table count on the checkpointed degree table
            # INSTEAD of materializing an identical 120 M-edge frame —
            # at kcore_numbers' 8-sweep schedule roughly half the
            # sweeps are exactly such confirmations (each level's last
            # sweep, plus every level the threshold doesn't bite)
            keep_cnt = keep.count()
            if keep_cnt == prev_nodes:
                break  # level fixed point: zero edge work
            # size-regime-gated sweep filtering: operators._iterloop
            e_new = peel_filtered_edges(
                e,
                deg,
                keep,
                k,
                prev_nodes,
                prev_nodes - keep_cnt,
                _KEEP_BCAST_MAX,
            )
            deg_new = peel_degrees(e_new)  # eager: forces e_new while parents live
            st = deg_new.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("_d"), F.lit(0)).alias("m"),
            ).collect()[0]
            n_nodes, n_edges = int(st["n"]), int(st["m"])
            e.unpersist()
            release_checkpoint(deg)
            e, deg = e_new, deg_new
            prev_nodes, prev_edges = n_nodes, n_edges
        survivors = deg.select(F.col("src").alias("node")).withColumn(
            "_k", F.lit(int(k))
        )
        cores_new = (
            cores.join(survivors, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_k"), F.col("core")).cast("int").alias("core"),
            )
            .localCheckpoint(eager=True)  # flat lineage per level
        )
        release_checkpoint(cores)
        cores = cores_new
    e.unpersist()
    release_checkpoint(deg)
    return cores
