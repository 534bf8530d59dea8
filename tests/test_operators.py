"""Operator-library tests over the sf0.001 testdata (goldens are
structural properties, not hardcoded values, so they hold across SFs;
the exact-value gate is the DuckDB oracle in tools/check_oracle.py)."""

import pytest
from pyspark.sql import functions as F

from lrmr_spark import stored_index as SI
from lrmr_spark.operators import dedup as DD
from lrmr_spark.operators import graph as GR
from lrmr_spark.operators import multimodal as MM
from lrmr_spark.operators import similarity as SIM
from lrmr_spark.operators import skew as SK
from lrmr_spark.operators import text as TX
from lrmr_spark.tables import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").cache()


# ---------------------------------------------------------------- text
def test_tokens_ignore_extra_whitespace(spark):
    df = spark.createDataFrame([("  a  b\tc ",), ("",)], "text string")
    rows = df.select(TX.token_count("text").alias("n")).collect()
    assert [r["n"] for r in rows] == [3, 0]


def test_quality_features_ranges(docs):
    feats = TX.quality_features("text")
    row = docs.select(*[c.alias(n) for n, c in feats.items()]).agg(
        F.min("stopword_ratio").alias("lo"),
        F.max("stopword_ratio").alias("hi"),
        F.min("n_tokens").alias("nt"),
    ).collect()[0]
    assert 0.0 <= row["lo"] <= row["hi"] <= 1.0
    assert row["nt"] > 0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("other",)], "text string"
    )
    fps = [r[0] for r in df.select(TX.fingerprint("text")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    got = df.select(TX.shingles("text", 3).alias("s")).collect()[0]["s"]
    assert got == ["a b c", "b c d"]


# --------------------------------------------------------------- dedup
def test_exact_dedup_no_false_merges(docs):
    out = DD.exact_dedup(docs, "doc_id", "text")
    assert out.count() == docs.select("text").distinct().count()


def test_tokenset_dedup_finds_shuffled_dups(docs):
    # the corpus embeds a cluster of word-order-shuffled duplicates:
    # token-set dedup must merge more than exact dedup
    exact = DD.exact_dedup(docs, "doc_id", "text").count()
    tokset = DD.tokenset_dedup(docs, "doc_id", "text").count()
    assert tokset < exact


def test_minhash_collapses_identical_multisets(spark):
    # word-order shuffles share a token multiset: they collapse to one
    # representative BEFORE LSH, so no quadratic pair list re-emerges
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h a"),
            (2, "a a b c d e f g h"),  # shuffle of doc 1 (same multiset)
            (3, "q r s t u v w x y z"),
        ],
        "doc_id long, text string",
    )
    pairs = DD.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert pairs == []  # 1/2 collapsed; 3 unrelated
    merged = DD.tokenset_dedup(df, "doc_id", "text").filter(F.col("n_dups") > 1).collect()
    assert len(merged) == 1 and merged[0]["keep_id"] == 1


def test_minhash_finds_near_identical_multisets(spark):
    # two long docs differing in one token: multiset jaccard 199/201≈0.99,
    # high enough that the deterministic md5 banding collides them
    base = " ".join(f"tok{i}" for i in range(200))
    variant = " ".join(f"tok{i}" for i in range(199)) + " changed"
    df = spark.createDataFrame(
        [(1, base), (2, variant), (3, "tiny unrelated doc")],
        "doc_id long, text string",
    )
    pairs = DD.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] == pytest.approx(199 / 201, abs=1e-3)


def test_minhash_fast_precision(spark):
    # xxhash64 fast path: banding only affects recall; every EMITTED
    # pair must still pass the exact-Jaccard verify — check pairs
    # against independently computed multiset jaccard, and the high-sim
    # pair must be recalled at the production 4×4 banding
    base = " ".join(f"tok{i}" for i in range(200))
    variant = " ".join(f"tok{i}" for i in range(199)) + " changed"
    df = spark.createDataFrame(
        [(1, base), (2, variant), (3, "tiny unrelated doc")],
        "doc_id long, text string",
    )
    pairs = DD.minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=16, bands=4, threshold=0.9, fast=True
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    items = {
        r["_id"]: set(r["items"])
        for r in DD.token_multiset_items(df, "doc_id", "text").collect()
    }
    for p in pairs:
        a, b = items[p["id_a"]], items[p["id_b"]]
        exact = len(a & b) / len(a | b)
        assert p["jaccard"] == pytest.approx(exact, abs=1e-3) and exact >= 0.9


def _release_inputs(spark, docs):
    ring = [(d, d % 9 + 1) for d in range(1, 10)]
    e = spark.createDataFrame(ring + [(1, 5)], "src long, dst long")
    return {
        "docs": docs,
        "new": docs.filter(F.col("doc_id") % 5 == 0),
        "base": docs.filter(F.col("doc_id") % 5 != 0),
        "vecs": spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [0.9, 0.1]), (3, [0.1, 0.9])],
            "vec_id long, embedding array<double>",
        ),
        "sym": e.union(e.selectExpr("dst AS src", "src AS dst")),
        # dangler 20 (in-edge only) exercises the dangling-mode node set
        "ed": spark.createDataFrame(ring + [(5, 20)], "src long, dst long"),
        "seeds": spark.createDataFrame([(1,), (7,)], "node long"),
        "pairs": spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
        ),
    }


_RELEASE_CASES = {
    "minhash_lsh_pairs": lambda g: DD.minhash_lsh_pairs(
        g["docs"], "doc_id", "text", threshold=0.9, fast=True
    ),
    "minhash_lsh_match": lambda g: DD.minhash_lsh_match(
        g["new"], g["base"], "doc_id", "text", threshold=0.9, fast=True
    ),
    "semdedup": lambda g: SIM.semdedup(g["vecs"], [[1.0, 0.0], [0.0, 1.0]], 0.99),
    "pagerank_ppm": lambda g: GR.pagerank_ppm(g["sym"], 3),
    "pagerank_ppm_dangling": lambda g: GR.pagerank_ppm(g["ed"], 2, dangling=True),
    "personalized_pagerank_ppm": lambda g: GR.personalized_pagerank_ppm(
        g["ed"], g["seeds"], 2
    ),
    "bfs_levels": lambda g: GR.bfs_levels(g["ed"], g["seeds"], 3),
    "label_propagation": lambda g: GR.label_propagation(g["sym"], 3),
    "connected_components": lambda g: DD.connected_components(g["pairs"]),
    "connected_components_star": lambda g: DD.connected_components(
        g["pairs"], algorithm="star"
    ),
    "random_walks": lambda g: GR.random_walks(g["ed"], walk_len=3),
    "weighted_random_walks": lambda g: GR.weighted_random_walks(
        g["ed"].withColumn("weight", F.col("src") % 3 + 1), walk_len=3
    ),
    "hits_ppm": lambda g: GR.hits_ppm(g["ed"], 2),
    "kcore_peel": lambda g: GR.kcore_peel(g["sym"], k=3, rounds=2),
    "kcore_numbers": lambda g: GR.kcore_numbers(g["sym"], k_max=3),
    "perceptron_train": lambda g: SIM.perceptron_train(g["vecs"], [1_000_000, -1_000_000], 2),
}
# operators whose result is a literal table: none of their blocks may stay
_LITERAL_RESULTS = {"kcore_peel", "perceptron_train"}


@pytest.mark.parametrize("case", list(_RELEASE_CASES))
def test_releases_cache(spark, docs, case):
    # every intermediate cache (rep tables, adjacency frames, dead
    # rounds' checkpoints) is released before return — repeated calls
    # in a long-lived session must not accumulate cached partitions;
    # +1 allowed for a returned localCheckpoint itself, which must
    # still read after its inputs are gone
    docs.count()  # materialize the fixture's own cache first
    inputs = _release_inputs(spark, docs)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = _RELEASE_CASES[case](inputs)
    after = jsc.getPersistentRDDs().size()
    assert after <= before + (case not in _LITERAL_RESULTS)
    assert out.count() > 0


def test_minhash_shingles_order_sensitive(spark):
    base = " ".join(f"tok{i}" for i in range(100))
    truncated = " ".join(f"tok{i}" for i in range(95))  # high shingle overlap
    shuffled = " ".join(reversed(base.split()))  # same multiset, different order
    df = spark.createDataFrame(
        [(1, base), (2, truncated), (3, shuffled)], "doc_id long, text string"
    )
    pairs = {
        (p["id_a"], p["id_b"])
        for p in DD.minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.8, unit="shingles"
        ).collect()
    }
    assert (1, 2) in pairs  # truncation caught
    assert (1, 3) not in pairs  # reorder deliberately not a shingle near-dup


def test_simhash64_properties(spark):
    # identical token sets → identical 64-bit signature; near-identical
    # sets → small hamming distance; unrelated → large
    base = " ".join(f"tok{i}" for i in range(100))
    variant = base + " extra"
    other = " ".join(f"zzz{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, " ".join(reversed(base.split()))), (3, variant), (4, other)],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r["simhash"] for r in DD.simhash64(df, "doc_id", "text").collect()}
    assert sig[1] == sig[2]  # order-invariant

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(sig[1], sig[3]) < 10
    assert ham(sig[1], sig[4]) > 16


def test_simhash_identical_tokensets_same_sig(spark):
    df = spark.createDataFrame(
        [(1, "x y z"), (2, "z y x"), (3, "completely different words here")],
        "doc_id long, text string",
    )
    out = {r["keep_id"]: r["n_docs"] for r in DD.simhash_clusters(df, "doc_id", "text").collect()}
    assert out.get(1) == 2  # docs 1,2 share a signature


# ---------------------------------------------------------- similarity
def test_cosine_topk_self_is_best(emb):
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    top = SIM.cosine_topk(emb, qv, k=5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["score"] == pytest.approx(1.0, abs=1e-5)
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_lsh_query_bucket_contains_query(emb):
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    top = SIM.lsh_topk(emb, qv, k=5).collect()
    assert top and top[0]["vec_id"] == 0  # query's own bucket includes itself


def test_lsh_bucket_deterministic(emb):
    planes = SIM.hyperplanes(8, 64)
    b1 = {r["vec_id"]: r["b"] for r in emb.select("vec_id", SIM.lsh_bucket(F.col("embedding"), planes).alias("b")).collect()}
    b2 = {r["vec_id"]: r["b"] for r in emb.select("vec_id", SIM.lsh_bucket(F.col("embedding"), planes).alias("b")).collect()}
    assert b1 == b2


# ---------------------------------------------------------------- skew
def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(1000)] + [("cold", 1.0)], "k string, v double"
    )
    plain = {
        (r["k"]): (r["cnt"], round(r["total"], 6))
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total"))
        .collect()
    }
    salted = {
        (r["k"]): (r["cnt"], round(r["total"], 6))
        for r in SK.salted_agg(
            df,
            ["k"],
            partial={"c": F.count(F.lit(1)), "s": F.sum("v")},
            aggs={"cnt": F.sum("c"), "total": F.sum("s")},
        ).collect()
    }
    assert plain == salted


def test_replicate_join_matches_plain(spark):
    big = spark.createDataFrame([("k", i) for i in range(100)], "k string, v int")
    small = spark.createDataFrame([("k", "dim")], "k string, d string")
    plain = big.join(small, "k").count()
    salted = SK.replicate_join_small_side(big, small, ["k"]).count()
    assert plain == salted == 100


# ----------------------------------------------------------- multimodal
def test_decode_media_stub_raises(docs):
    media = MM.attach_binary_payload(docs, "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        MM.decode_media(media, fake=False).collect()


def test_decode_media_fake_features(docs):
    media = MM.attach_binary_payload(docs, "doc_id", "text")
    out = MM.decode_media(media, fake=True)
    n = docs.count()
    rows = out.collect()
    assert len(rows) == n
    for r in rows[:10]:
        assert 0 <= r["feat_min"] <= r["feat_mean"] <= r["feat_max"] <= 255


def test_pagerank_ppm_symmetric_cycle(spark):
    from lrmr_spark.operators.graph import pagerank_ppm

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank_ppm"] for r in pagerank_ppm(edges, 3).collect()}
    # symmetric 2-cycle is already the fixed point: both keep teleport
    assert got == {"a": 500_000, "b": 500_000}


def test_pagerank_ppm_path_golden(spark):
    from lrmr_spark.operators.graph import pagerank_ppm

    # a - b - c undirected path: b is the hub and must outrank a and c
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")],
        "src string, dst string",
    )
    got = {r["node"]: r["rank_ppm"] for r in pagerank_ppm(edges, 1).collect()}
    # teleport = 333333; deg a=1, b=2, c=1
    # b <- a(333333) + c(333333) = 666666 -> (15*333333 + 85*666666) DIV 100
    # a, c <- b: 333333 DIV 2 = 166666  -> (15*333333 + 85*166666) DIV 100
    assert got["b"] == (15 * 333333 + 85 * 666666) // 100
    assert got["a"] == got["c"] == (15 * 333333 + 85 * 166666) // 100
    assert got["b"] > got["a"]


def _pagerank_dangling_python(edges, iterations, damping=85):
    """Pure-Python unroll of pagerank_ppm(dangling=True)'s documented
    recurrence — the closed form the Spark result must match exactly."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    n = len(nodes)
    tp = 1_000_000 // n
    keep = 100 - damping
    rank = {v: tp for v in nodes}
    for _ in range(iterations):
        dmass = sum(rank[v] for v in nodes if v not in outdeg)
        share = dmass // n
        inc = {v: 0 for v in nodes}
        for a, b in edges:
            inc[b] += rank[a] // outdeg[a]
        rank = {
            v: (keep * tp + damping * (inc[v] + share)) // 100 for v in nodes
        }
    return rank


def test_pagerank_ppm_dangling_closed_form(spark):
    from lrmr_spark.operators.graph import pagerank_ppm

    # directed: node 1 has NO in-edge (must still get a row), node 3
    # has NO out-edge (dangler: holds its mass, redistributed uniformly)
    edges = [(1, 2), (1, 3), (2, 3), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 3):
        got = {
            r["node"]: r["rank_ppm"]
            for r in pagerank_ppm(df, iters, dangling=True).collect()
        }
        assert got == _pagerank_dangling_python(edges, iters)
    # mass sanity after 3 rounds: every node present, all ranks positive
    assert set(got) == {1, 2, 3} and all(v > 0 for v in got.values())


def test_personalized_pagerank_closed_form(spark):
    from lrmr_spark.operators.graph import personalized_pagerank_ppm

    # 1↔2, 1→3 (3 dangles; dangling mass returns to the SEEDS), seed={1}
    df = spark.createDataFrame([(1, 2), (2, 1), (1, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["rank_ppm"]
        for r in personalized_pagerank_ppm(df, seeds, iterations=2).collect()
    }
    # hand-unrolled exact-ppm recurrence (tp=1M, |S|=1):
    # r1 = {1: 150000, 2: 425000, 3: 425000}
    # r2: dmass=425000→share 425000; inc(1)=425000, inc(2)=inc(3)=75000
    assert got == {1: 872_500, 2: 63_750, 3: 63_750}
    # seeds outside the node set: empty intersection must raise
    import pytest as _pytest

    bad = spark.createDataFrame([(99,)], "node long")
    with _pytest.raises(ValueError):
        personalized_pagerank_ppm(df, bad, iterations=1)


def _ppr_python(edges, seed_set, iterations, damping=85):
    """Pure-Python unroll of personalized_pagerank_ppm's documented
    recurrence (Haveliwala PPR, dangling mass to seeds) — the closed
    form the Spark result must match exactly."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    seeds = sorted(set(seed_set) & set(nodes))
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    tp = 1_000_000 // len(seeds)
    keep = 100 - damping
    rank = {v: (tp if v in seeds else 0) for v in nodes}
    for _ in range(iterations):
        dmass = sum(rank[v] for v in nodes if v not in outdeg)
        share = dmass // len(seeds)
        inc = {v: 0 for v in nodes}
        for a, b in edges:
            inc[b] += rank[a] // outdeg[a]
        rank = {
            v: (
                keep * (tp if v in seeds else 0)
                + damping * (inc[v] + (share if v in seeds else 0))
            )
            // 100
            for v in nodes
        }
    return rank


def test_personalized_pagerank_degenerate_corners(spark):
    # PPR's closed-form test pins the happy recurrence; these pin the
    # corners the dangling fast path pins for plain pagerank (VERDICT
    # r9 task 6): a seed that IS a dangler (its held mass returns to
    # itself), an all-seeds graph, and a single dangling seed chain.
    from lrmr_spark.operators.graph import personalized_pagerank_ppm

    cases = [
        # seeds ∩ danglers: 3 dangles AND is the sole seed — the held
        # mass round-trips to the seed itself
        ([(1, 2), (2, 3)], [3]),
        # seed-only graph: every node is a seed (uniform teleport over
        # all nodes — PPR degenerates toward dangling pagerank shape)
        ([(1, 2), (2, 1), (1, 3)], [1, 2, 3]),
        # single seed at the head of a pure chain: mass drains to the
        # dangler then teleports back only through the seed
        ([(1, 2), (2, 3), (3, 4)], [1]),
        # duplicate + out-of-graph seeds: dedup/intersect first
        ([(1, 2), (2, 1)], [1, 1, 99]),
    ]
    for edges, seed_list in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        sdf = spark.createDataFrame([(s,) for s in seed_list], "node long")
        for iters in (1, 3):
            got = {
                r["node"]: r["rank_ppm"]
                for r in personalized_pagerank_ppm(
                    df, sdf, iterations=iters
                ).collect()
            }
            assert got == _ppr_python(edges, seed_list, iters), (
                edges,
                seed_list,
                iters,
            )


def test_adjacency_cache_drops_null_neighbors(spark):
    # NULL contract (r9 ADVICE): a NULL-dst edge must not inflate the
    # outdeg divisor — outdeg always equals size(_nbrs), and a node
    # whose only edges are NULL-dst gets no adjacency row (dangling)
    from lrmr_spark.operators._iterloop import adjacency_cache

    edges = spark.createDataFrame(
        [(1, 2), (1, None), (2, 1), (3, None)], "src long, dst long"
    )
    adj, n = adjacency_cache(edges)
    rows = {r["src"]: r for r in adj.collect()}
    adj.unpersist()
    assert n == 2 and set(rows) == {1, 2}
    for r in rows.values():
        assert r["outdeg"] == len(r["_nbrs"]) == 1


def _hits_python(edges, iterations):
    """Pure-Python unroll of hits_ppm's documented recurrence
    (Kleinberg update order, L1 ppm normalization, exact BIGINT)."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    tp = 1_000_000 // len(nodes)
    a = {v: tp for v in nodes}
    h = {v: tp for v in nodes}
    for _ in range(iterations):
        a_raw = {v: 0 for v in nodes}
        for u, v in edges:
            a_raw[v] += h[u]
        ta = max(sum(a_raw.values()), 1)
        a = {v: a_raw[v] * 1_000_000 // ta for v in nodes}
        h_raw = {v: 0 for v in nodes}
        for u, v in edges:
            h_raw[u] += a[v]
        th = max(sum(h_raw.values()), 1)
        h = {v: h_raw[v] * 1_000_000 // th for v in nodes}
    return {v: (a[v], h[v]) for v in nodes}


def test_hits_ppm_closed_form(spark):
    from lrmr_spark.operators.graph import hits_ppm

    # bipartite-ish with a pure hub (1: out-only), a pure authority
    # (4: in-only) and a mixed node; plus a disconnected-ish edge
    cases = [
        [(1, 3), (1, 4), (2, 4), (3, 4), (5, 6)],
        [(1, 2), (2, 1)],  # symmetric 2-cycle: a = h = 500000 forever
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        for iters in (1, 3):
            got = {
                r["node"]: (r["auth_ppm"], r["hub_ppm"])
                for r in hits_ppm(df, iterations=iters).collect()
            }
            assert got == _hits_python(edges, iters), (edges, iters)


def _walks_python(edges, walk_len, walks_per_node, starts=None):
    """Pure-Python unroll of random_walks' documented LCG step
    recurrence (sorted neighbors, mod-2^31-1 arithmetic)."""
    P, A, B, C = 2_147_483_647, 1_103_515_245, 12_345, 1_013_904_223
    adj: dict = {}
    for u, v in edges:
        # both-endpoint NULL filter: the operator's documented contract
        if u is not None and v is not None:
            adj.setdefault(u, []).append(v)
    for u in adj:
        adj[u].sort()
    if starts is None:
        starts = sorted(adj)
    out = []
    for s in starts:
        for w in range(walks_per_node):
            path, cur = [s], s
            for t in range(1, walk_len):
                if cur not in adj:
                    break
                h = (((cur % P) * A) % P + (w * B) % P + (t * C) % P) % P
                cur = adj[cur][h % len(adj[cur])]
                path.append(cur)
            out.append((s, w, len(path), tuple(path)))
    return sorted(out)


def test_random_walks_closed_form(spark):
    from lrmr_spark.operators.graph import random_walks

    # 3 is a dead end (walks stop and keep their prefix); 1<->2 cycle
    edges = [(1, 2), (1, 3), (2, 1), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["start"], r["w"], r["n_steps"], tuple(r["path"]))
        for r in random_walks(df, walk_len=4, walks_per_node=2).collect()
    )
    assert got == _walks_python(edges, 4, 2)
    # explicit starts incl. a node with no out-edge: 1-step walk, kept
    starts = spark.createDataFrame([(3,), (1,)], "node long")
    got2 = sorted(
        (r["start"], r["w"], r["n_steps"], tuple(r["path"]))
        for r in random_walks(
            df, starts=starts, walk_len=3, walks_per_node=1
        ).collect()
    )
    assert got2 == _walks_python(edges, 3, 1, starts=[1, 3])
    assert (3, 0, 1, (3,)) in got2


def test_random_walks_rejects_nonpositive_knobs(spark):
    # sequence(0, -1) DESCENDS in Spark: an unvalidated 0 silently
    # emitted two walks per start (w=0 and w=-1) — pinned as a raise
    from lrmr_spark.operators.graph import random_walks

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    for kwargs in ({"walks_per_node": 0}, {"walk_len": 0}):
        with pytest.raises(ValueError):
            random_walks(df, **kwargs)


def test_random_walks_sanitizes_user_starts(spark):
    # r10 ADVICE: a NULL start row must not yield a phantom [NULL]
    # walk, and duplicate start rows must not emit duplicate
    # (start, w) output keys
    from lrmr_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 1)], "src long, dst long"
    )
    # extra column: per-node duplicates differing only there must
    # still collapse (select-before-distinct)
    starts = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c"), (2, "d")],
        "node long, extra string",
    )
    got = sorted(
        (r["start"], r["w"], tuple(r["path"]))
        for r in random_walks(
            edges, starts=starts, walk_len=3, walks_per_node=2
        ).collect()
    )
    keys = [(s, w) for s, w, _ in got]
    assert len(keys) == len(set(keys)) == 4  # 2 starts x 2 walks
    assert all(s is not None for s, _, _ in got)
    assert all(None not in p for _, _, p in got)
    # same contract for bfs_levels seeds
    from lrmr_spark.operators.graph import bfs_levels

    labs = sorted(
        map(tuple, bfs_levels(edges, starts, max_depth=1).collect())
    )
    assert labs == [(1, 0, 1), (2, 0, 2)]


def _weighted_walks_python(wedges, walk_len, walks_per_node, starts=None):
    """Pure-Python unroll of weighted_random_walks: h mod W(u) mapped
    into cumulative ranges of dst-sorted neighbors."""
    P, A, B, C = 2_147_483_647, 1_103_515_245, 12_345, 1_013_904_223
    adj: dict = {}
    for u, v, w in wedges:
        if u is not None and v is not None:
            adj.setdefault(u, {})
            adj[u][v] = adj[u].get(v, 0) + w
    packed = {
        u: sorted(d.items()) for u, d in adj.items()
    }  # [(dst, w)] dst-sorted
    if starts is None:
        starts = sorted(packed)
    out = []
    for s in starts:
        for wk in range(walks_per_node):
            path, cur = [s], s
            for t in range(1, walk_len):
                if cur not in packed:
                    break
                h = (((cur % P) * A) % P + (wk * B) % P + (t * C) % P) % P
                r = h % sum(w for _, w in packed[cur])
                cum = 0
                for dst, w in packed[cur]:
                    cum += w
                    if r < cum:
                        cur = dst
                        break
                path.append(cur)
            out.append((s, wk, len(path), tuple(path)))
    return sorted(out)


def test_weighted_random_walks_closed_form(spark):
    from lrmr_spark.operators.graph import weighted_random_walks

    # 3 is a dead end; heavy 1->2 edge; parallel rows for (2, 1) sum
    wedges = [(1, 2, 7), (1, 3, 2), (2, 1, 3), (2, 3, 1), (2, 1, 2)]
    df = spark.createDataFrame(wedges, "src long, dst long, weight long")
    got = sorted(
        (r["start"], r["w"], r["n_steps"], tuple(r["path"]))
        for r in weighted_random_walks(
            df, walk_len=4, walks_per_node=2
        ).collect()
    )
    assert got == _weighted_walks_python(wedges, 4, 2)
    # explicit starts incl. the dead end; weight validation raises
    starts = spark.createDataFrame([(3,), (1,)], "node long")
    got2 = sorted(
        (r["start"], r["w"], r["n_steps"], tuple(r["path"]))
        for r in weighted_random_walks(
            df, starts=starts, walk_len=3, walks_per_node=1
        ).collect()
    )
    assert got2 == _weighted_walks_python(wedges, 3, 1, starts=[1, 3])
    for bad in ([(1, 2, 0)], [(1, 2, None)], [(1, 2, -4)]):
        with pytest.raises(ValueError):
            weighted_random_walks(
                spark.createDataFrame(bad, "src long, dst long, weight long"),
                walk_len=2,
            )
    with pytest.raises(ValueError):
        weighted_random_walks(df, walk_len=0)


def test_bfs_levels_closed_form(spark):
    # path 1->2->3->4 plus a shortcut 10->3 and an isolated seed 99:
    # dist/root labels must match hand BFS with (dist, root) min ties
    from lrmr_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 3), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame(
        [(1,), (10,), (99,), (None,), (1,)], "node long"
    )
    got = {
        r["node"]: (r["dist"], r["root"])
        for r in bfs_levels(edges, seeds, max_depth=3).collect()
    }
    assert got == {
        1: (0, 1),
        10: (0, 10),
        99: (0, 99),  # isolated seed keeps its row
        2: (1, 1),
        3: (1, 10),  # 10's 1-hop beats 1's 2-hop
        4: (2, 10),
        5: (3, 10),
    }
    # depth 0: seeds only; depth bound respected (node 5 absent at 2)
    d0 = {r["node"] for r in bfs_levels(edges, seeds, 0).collect()}
    assert d0 == {1, 10, 99}
    d2 = {r["node"] for r in bfs_levels(edges, seeds, 2).collect()}
    assert d2 == {1, 10, 99, 2, 3, 4}
    # early exit past the fixed point changes nothing
    got9 = {
        r["node"]: (r["dist"], r["root"])
        for r in bfs_levels(edges, seeds, max_depth=9).collect()
    }
    assert got9 == got
    with pytest.raises(ValueError):
        bfs_levels(edges, seeds, max_depth=-1)
    with pytest.raises(ValueError):
        bfs_levels(
            edges, spark.createDataFrame([(-3,)], "node long"), 1
        )


def test_hits_ppm_rejects_nonpositive_iterations(spark):
    # r10 ADVICE: returning the uniform initial scores for
    # iterations <= 0 silently hid the user error random_walks raises
    from lrmr_spark.operators.graph import hits_ppm

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        hits_ppm(df, iterations=0)


def test_null_endpoint_edges_are_nonexistent_everywhere(spark):
    # the adjacency_cache NULL contract must hold for the FULL node
    # sets too: a NULL-endpoint edge creates no phantom node row and
    # deflates no teleport in hits / dangling pagerank / PPR / walks
    from lrmr_spark.operators.graph import (
        hits_ppm,
        pagerank_ppm,
        personalized_pagerank_ppm,
        random_walks,
    )

    clean = [(1, 2), (1, 3), (2, 3), (2, 1)]
    dirty = clean + [(None, 2), (3, None)]
    cdf = spark.createDataFrame(clean, "src long, dst long")
    ddf = spark.createDataFrame(dirty, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    for fn in (
        lambda d: pagerank_ppm(d, 2, dangling=True),
        lambda d: personalized_pagerank_ppm(d, seeds, iterations=2),
        lambda d: hits_ppm(d, iterations=2),
        lambda d: random_walks(d, walk_len=3),
    ):
        want = sorted(map(tuple, fn(cdf).collect()))
        got = sorted(map(tuple, fn(ddf).collect()))
        assert got == want


def test_pagerank_ppm_dangling_equals_fast_path_on_symmetric(spark):
    # on a symmetric graph there are no danglers and every node has an
    # in-edge: the dangling=True mode must reproduce the fast path
    # bit-identically (share term is 0, the left join never coalesces)
    from lrmr_spark.operators.graph import pagerank_ppm

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"), ("d", "c")],
        "src string, dst string",
    )
    fast = {r["node"]: r["rank_ppm"] for r in pagerank_ppm(edges, 3).collect()}
    dang = {
        r["node"]: r["rank_ppm"]
        for r in pagerank_ppm(edges, 3, dangling=True).collect()
    }
    assert fast == dang


def test_two_phase_rank_and_cumsum_match_naive_window(spark):
    # the two-phase distributed forms must equal the single-partition
    # window formulation exactly, including ties broken by the id
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lrmr_spark.operators.ranks import (
        bit_width_bucket,
        with_global_cumsum,
        with_global_rank,
    )

    df = spark.range(1, 2001).select(
        F.col("id"), ((F.col("id") * 2654435761) % 997 + 1).alias("v")
    )
    naive_rank = df.withColumn(
        "rnk", F.row_number().over(Window.orderBy("v", "id"))
    )
    got_rank = with_global_rank(
        df, bucket=bit_width_bucket("v"), order_cols=[F.col("v"), F.col("id")]
    )
    assert (
        naive_rank.join(got_rank, "id")
        .filter(naive_rank.rnk != got_rank.rnk)
        .count()
        == 0
    )

    naive_cum = df.withColumn(
        "cum",
        F.sum("v").over(
            Window.orderBy(F.col("v").desc(), "id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    got_cum = with_global_cumsum(
        df,
        "v",
        bucket=bit_width_bucket("v"),
        order_cols=[F.col("v").desc(), F.col("id")],
        bucket_desc=True,
    )
    assert (
        naive_cum.join(got_cum, "id")
        .filter(naive_cum.cum != got_cum.cum)
        .count()
        == 0
    )


def test_two_phase_rank_negative_values_and_total(spark):
    # bit_width_bucket maps negatives into bucket 0 (conv() would
    # reinterpret them as unsigned 64-bit and rank them above all
    # positives); exactness must hold for mixed-sign inputs, and
    # total_col must equal the grand sum without a second pass
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lrmr_spark.operators.ranks import (
        bit_width_bucket,
        with_global_cumsum,
        with_global_rank,
    )

    df = spark.range(1, 501).select(
        F.col("id"), ((F.col("id") * 2654435761) % 997 - 498).alias("v")
    )
    naive = df.withColumn(
        "rnk", F.row_number().over(Window.orderBy("v", "id"))
    )
    got = with_global_rank(
        df, bucket=bit_width_bucket("v"), order_cols=[F.col("v"), F.col("id")]
    )
    assert naive.join(got, "id").filter(naive.rnk != got.rnk).count() == 0

    expected_total = df.agg(F.sum("v")).collect()[0][0]
    got_cum = with_global_cumsum(
        df,
        "v",
        bucket=bit_width_bucket("v"),
        order_cols=[F.col("v"), F.col("id")],
        total_col="total",
    )
    rows = got_cum.orderBy(F.col("cum").asc()).collect()
    assert all(r["total"] == expected_total for r in rows)
    naive_cum = df.withColumn(
        "cum",
        F.sum("v").over(
            Window.orderBy("v", "id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    assert (
        naive_cum.join(got_cum, "id")
        .filter(naive_cum.cum != got_cum.cum)
        .count()
        == 0
    )


def test_connected_components_star_long_chain(spark):
    # a 200-node path is the adversarial case for HashMin (O(n) rounds);
    # the large-star/small-star variant must label it in O(log n) rounds
    from pyspark.sql import functions as F

    from lrmr_spark.operators.dedup import connected_components

    pairs = spark.range(199).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    got = connected_components(pairs, algorithm="star", max_iter=15).collect()
    assert len(got) == 200
    assert all(r["comp"] == 0 for r in got)


def test_connected_components_star_matches_hashmin(spark):
    # random multi-component graph: both algorithms must produce the
    # identical (id -> min reachable id) labeling
    from pyspark.sql import functions as F

    from lrmr_spark.operators.dedup import connected_components

    edges = [
        (i, (i * 2654435761) % 40)
        for i in range(40, 120)
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {
        r["id"]: r["comp"]
        for r in connected_components(pairs, algorithm="star").collect()
    }
    hashmin = {
        r["id"]: r["comp"]
        for r in connected_components(pairs, algorithm="hashmin").collect()
    }
    assert star == hashmin


def test_connected_components_star_string_ids(spark):
    # non-numeric ids (e.g. md5 fingerprints) must survive: the long
    # fast path only applies to integral ids, never a silent NULL-cast
    from lrmr_spark.operators.dedup import connected_components

    edges = [("doc_c", "doc_a"), ("doc_b", "doc_c"), ("doc_x", "doc_y")]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    star = {
        r["id"]: r["comp"]
        for r in connected_components(pairs, algorithm="star").collect()
    }
    assert star == {
        "doc_a": "doc_a",
        "doc_b": "doc_a",
        "doc_c": "doc_a",
        "doc_x": "doc_x",
        "doc_y": "doc_x",
    }


def test_minhash_lsh_match_cross_set_only(spark):
    # the incremental matcher must pair new docs against the base only:
    # two near-identical BASE docs produce no pair, a new doc matching
    # a base doc does
    from pyspark.sql import functions as F

    base_a = " ".join(f"tok{i}" for i in range(200))
    base_b = " ".join(f"tok{i}" for i in range(199)) + " changedbase"
    new_match = " ".join(f"tok{i}" for i in range(199)) + " changednew"
    base = spark.createDataFrame(
        [(1, base_a), (2, base_b)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, new_match), (11, "tiny unrelated doc")], "doc_id long, text string"
    )
    got = DD.minhash_lsh_match(new, base, "doc_id", "text", threshold=0.9).collect()
    pairs = {(r["new_id"], r["base_id"]) for r in got}
    assert all(n in (10, 11) and b in (1, 2) for n, b in pairs)
    assert (10, 1) in pairs and (10, 2) in pairs
    assert all(n != 11 for n, _ in pairs)


def test_minhash_stored_index_matches_direct(spark, tmp_path):
    # write-once index + per-batch match must emit the same pairs as
    # the direct two-sided matcher
    base_a = " ".join(f"tok{i}" for i in range(200))
    base_b = " ".join(f"zzz{i}" for i in range(50))
    new_match = " ".join(f"tok{i}" for i in range(199)) + " changednew"
    base = spark.createDataFrame(
        [(1, base_a), (2, base_b)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(10, new_match)], "doc_id long, text string")
    path = str(tmp_path / "mh_index")
    DD.write_minhash_index(base, "doc_id", "text", path)
    got = DD.match_minhash_index(new, path, "doc_id", "text", threshold=0.9).collect()
    direct = DD.minhash_lsh_match(
        new, base, "doc_id", "text", bands=4, fast=True, threshold=0.9
    ).collect()
    key = lambda rows: sorted((r["new_id"], r["base_id"], r["jaccard"]) for r in rows)
    assert key(got) == key(direct) and key(got) == [(10, 1, 0.99)]
    # the stored params are authoritative: a conflicting override must raise,
    # never silently join mismatched band-key types into zero candidates
    meta = DD.read_minhash_index_meta(spark, path)
    assert meta == {
        "num_hashes": 16, "bands": 4, "unit": "multiset",
        "shingle_k": 3, "fast": True,
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different parameters"):
        DD.match_minhash_index(new, path, "doc_id", "text", fast=False)
    with _pytest.raises(TypeError, match="unknown"):
        DD.match_minhash_index(new, path, "doc_id", "text", nonsense=1)


# ---------------------------------------------------- semdedup (r4)
def test_semdedup_matches_bruteforce_rule(spark):
    """semdedup's output equals a driver-side brute-force replay of the
    rule: assign to nearest centroid by cosine, prune iff a lower-id
    same-cluster vector has round(cos, 6) >= threshold."""
    import math
    import random

    rng = random.Random(7)
    dim = 8
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(3)]
    vecs = []
    for i in range(40):
        if i % 5 == 0 and i > 0:
            # near-duplicate of an earlier vector: tiny perturbation
            base = vecs[i - 1][1]
            vecs.append((i, [x * 1.001 for x in base]))
        else:
            vecs.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in SIM.semdedup(df, cents, threshold=0.95).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    assign = {}
    for i, v in vecs:
        scores = [cos(v, c) for c in cents]
        assign[i] = scores.index(max(scores))
    expect = {}
    for i, v in vecs:
        pruned = any(
            j < i
            and assign[j] == assign[i]
            and round(cos(vj, v), 6) >= 0.95
            for j, vj in vecs
        )
        expect[i] = (assign[i], not pruned)
    assert got == expect


def test_semdedup_keeps_exactly_one_of_identical_pair(spark):
    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.9, 0.1]), (3, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in SIM.semdedup(df, cents, 0.99).collect()}
    assert rows[1]["kept"] is True  # lowest id of the dup pair survives
    assert rows[2]["kept"] is False
    assert rows[3]["kept"] is True  # different cluster, untouched
    assert rows[1]["cluster"] == rows[2]["cluster"] != rows[3]["cluster"]


# ------------------------------------------------------- bm25 (r4)
def test_bm25_length_normalization_and_tf(spark, sf_dir):
    """Same tf, longer doc → lower BM25 score; higher tf wins at equal
    length. Checked through the catalog query's exact integer formula
    on a synthetic corpus written over the documents schema."""
    from lrmr_spark.catalog.similarity_ops import _BM25_TERMS, bm25_topk
    import tempfile, os

    term = _BM25_TERMS[0]
    filler = "pad"
    docs = [
        (1, "en", "s", f"{term} {filler}"),                  # short, tf=1
        (2, "en", "s", f"{term} " + f"{filler} " * 20),      # long, tf=1
        (3, "en", "s", f"{term} {term} {filler}"),           # short, tf=2
        (4, "en", "s", f"{filler} {filler}"),                # no hit
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            docs, "doc_id long, lang string, source string, text string"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["doc_id"]: r["score_ppm"] for r in bm25_topk(spark, d).collect()}
    assert 4 not in out
    assert out[3] > out[1] > out[2] > 0


# -------------------------------------------------- containment pairs
def test_containment_finds_subset_dup_jaccard_misses(spark):
    # A embedded verbatim at the head of B (3x longer): every shingle
    # of A appears in B, so C = 1.0 while J ~ 0.3 — below any useful
    # Jaccard threshold. The containment join must report (A, B) and
    # nothing for the unrelated doc.
    a = " ".join(f"w{i}" for i in range(20))
    b = a + " " + " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, " ".join(f"z{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    pairs = DD.containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["containment"] == pytest.approx(1.0)
    assert pairs[0]["jaccard"] < 0.4


def test_containment_collapses_exact_dups(spark):
    # identical shingle sets collapse to one representative (min id)
    # before the pair stage — the pair list names reps only
    a = " ".join(f"w{i}" for i in range(20))
    b = a + " " + " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, a), (5, a), (2, b)], "doc_id long, text string"
    )
    pairs = DD.containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_containment_prefix_filter_lossless(spark, docs):
    # the prefix filter is provably lossless: output over the real
    # sf corpus must equal the blunt all-pairs verification
    sample = docs.limit(120)
    fast = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in DD.containment_pairs(
            sample, "doc_id", "text", threshold=0.85
        ).collect()
    }
    from lrmr_spark.operators.text import shingles

    items = F.array_sort(
        F.filter(F.array_distinct(shingles("text", 3)), lambda x: x != F.lit(""))
    )
    reps = (
        sample.select(F.col("doc_id").alias("_id"), items.alias("_items"))
        .filter(F.size("_items") > 0)
        .groupBy("_items")
        .agg(F.min("_id").alias("_id"))
    )
    l = reps.select(F.col("_id").alias("id_a"), F.col("_items").alias("ia"))
    r = reps.select(F.col("_id").alias("id_b"), F.col("_items").alias("ib"))
    inter = F.size(F.array_intersect("ia", "ib"))
    blunt = {
        (x["id_a"], x["id_b"], x["containment"])
        for x in l.crossJoin(r)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "containment",
            F.round(inter / F.least(F.size("ia"), F.size("ib")), 4),
        )
        .filter(F.col("containment") >= 0.85)
        .select("id_a", "id_b", "containment")
        .collect()
    }
    assert fast == blunt


# ---------------------------------------------------- product quantization
def test_pq_codes_assigns_nearest_subcentroid(spark):
    # centroid 2's slice matches vec 10 exactly in sub-space 0 → code 2
    # with dist 0; sub-space 1 is nearest centroid 1 (all-zeros there)
    c1 = [0.0] * 8 + [0.0] * 8
    c2 = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0] + [9.0] * 8
    v = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0] + [0.5] * 8
    df = spark.createDataFrame(
        [(10, v)], "vec_id long, embedding array<float>"
    )
    row = SIM.pq_codes(df, [c1, c2], num_sub=2).collect()[0]
    assert row["code_0"] == 2 and row["dist_0"] == 0.0
    assert row["code_1"] == 1 and row["dist_1"] == pytest.approx(8 * 0.25, abs=1e-6)


def test_pq_codes_first_min_wins_tie(spark):
    # both centroids identical → tie in every sub-space → code 1
    c = [1.0] * 8
    df = spark.createDataFrame(
        [(1, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    row = SIM.pq_codes(df, [c, list(c)], num_sub=1).collect()[0]
    assert row["code_0"] == 1


def test_pq_adc_ranks_by_code_reconstruction(spark):
    # zeros-vector codes to the zeros-centroid everywhere, ones-vector
    # to the ones-centroid; with query 0.1 the ADC distances are the
    # exact lookup sums 8*(8*0.01) and 8*(8*0.81), so zeros ranks first
    c_zero, c_one = [0.0] * 64, [1.0] * 64
    df = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    rows = SIM.pq_adc_topk(df, [0.1] * 64, [c_zero, c_one], k=2).collect()
    assert [r["vec_id"] for r in rows] == [1, 2]
    assert rows[0]["adist"] == pytest.approx(64 * 0.01, abs=1e-6)
    assert rows[1]["adist"] == pytest.approx(64 * 0.81, abs=1e-6)


def test_semdedup_collapses_identical_vectors_exactly(spark):
    # ids 5 and 9 duplicate id 1's vector: both are pruned (their rep,
    # min id 1, is lower and cosine 1.0); the rep itself stays kept
    # unless a lower-id DISTINCT vector scores >= threshold. id 2 is
    # orthogonal — untouched.
    v1 = [1.0, 0.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v1), (5, v1), (9, v1), (2, v2)],
        "vec_id long, embedding array<float>",
    )
    cents = [[1.0, 1.0, 1.0, 1.0]]  # one cluster: everything together
    out = {r["vec_id"]: r["kept"] for r in SIM.semdedup(df, cents, threshold=0.95).collect()}
    assert out == {1: True, 2: True, 5: False, 9: False}


def test_containment_short_and_empty_docs(spark):
    # docs shorter than the shingle width collapse to one clamped gram;
    # empty docs produce no items and are excluded entirely (not paired
    # with each other or anything else)
    df = spark.createDataFrame(
        [
            (1, "a b"),          # one clamped gram "a b"
            (2, "a b"),          # identical short doc -> same rep as 1
            (3, "a b c d e"),    # contains gram "a b c", not "a b"
            (4, ""),             # empty: excluded
            (5, "   "),          # whitespace only: excluded
        ],
        "doc_id long, text string",
    )
    pairs = DD.containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    # 1/2 collapse to rep 1; rep's single gram "a b" is NOT a 3-shingle
    # of doc 3, so no qualifying pair; empties contribute nothing
    assert pairs == []
    # sanity: an exact short-doc containment IS found when the gram matches
    df2 = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e")], "doc_id long, text string"
    )
    got = DD.containment_pairs(df2, "doc_id", "text", threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"], p["containment"]) for p in got] == [(1, 2, 1.0)]


def test_winnowing_shared_run_guarantee(spark):
    # Schleimer et al.'s density guarantee: any shared token run of
    # length >= w + k - 1 (= 6 at k=3, w=4) forces a shared fingerprint
    shared = "q w e r t y u i"  # 8 shared tokens
    df = spark.createDataFrame(
        [
            (1, "a1 b1 c1 " + shared + " d1 e1"),
            (2, "x2 y2 " + shared + " z2"),
            (3, "totally different words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    rows = (
        df.select("doc_id", TX.winnowing_fingerprints("text").alias("fps"))
        .collect()
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in rows}
    assert fps[1] & fps[2], "docs sharing an 8-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnowing_postings_match_column_form(spark, docs):
    # the table-scale windowed plan and the per-row HOF Column form
    # must select the identical fingerprint set (the postings entry
    # swapped formulations in r5 for the O(n²)→O(n·w) fix)
    sample = docs.limit(50)
    via_postings = {
        (r["_id"], r["fp"])
        for r in TX.winnowing_postings(sample, "doc_id", "text").collect()
    }
    via_column = {
        (r["doc_id"], fp)
        for r in sample.select(
            "doc_id", TX.winnowing_fingerprints("text").alias("fps")
        ).collect()
        for fp in r["fps"]
    }
    assert via_postings == via_column


def test_winnowing_matches_shared_run_pair(spark):
    shared = "q w e r t y u i o p"  # 10 shared tokens
    df = spark.createDataFrame(
        [
            (1, "a1 b1 c1 " + shared + " d1 e1"),
            (2, "x2 y2 " + shared + " z2"),
            (3, "totally different words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in TX.winnowing_matches(
            df, "doc_id", "text", min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs  # the guarantee: long shared run → shared fp
    assert all(3 not in p for p in pairs)


def test_winnowing_matches_max_df_drops_boilerplate(spark):
    # a fingerprint present in EVERY doc is template noise; max_df=2
    # must remove it from the pair counts
    boiler = "common boiler plate sentence shared by every document"
    df = spark.createDataFrame(
        [(i, boiler + f" unique tail {i} only") for i in range(1, 5)],
        "doc_id long, text string",
    )
    unfiltered = TX.winnowing_matches(df, "doc_id", "text", min_shared=1)
    filtered = TX.winnowing_matches(
        df, "doc_id", "text", min_shared=1, max_df=2
    )
    assert unfiltered.count() > 0
    assert filtered.count() == 0


# ------------------------------------------------------ simhash hamming
def _brute_hamming_pairs(sigrows, k):
    reps = {}
    for _id, sig in sigrows:
        if sig not in reps or _id < reps[sig]:
            reps[sig] = _id
    ids = sorted((i, s) for s, i in reps.items())
    out = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            (ia, sa), (ib, sb) = ids[x], ids[y]
            d = sum(ca != cb for ca, cb in zip(str(sa), str(sb))) if isinstance(sa, str) else bin(sa ^ sb).count("1")
            if d <= k:
                out.add((min(ia, ib), max(ia, ib), d))
    return out


def test_simhash_hamming_pairs_vs_bruteforce(spark, docs):
    sample = docs.limit(80)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.simhash_hamming_pairs(sample, "doc_id", "text", k=3).collect()
    }
    sigs = [
        (r["doc_id"], r["sig"])
        for r in sample.select(
            "doc_id", DD.simhash16("text").alias("sig")
        ).collect()
    ]
    assert got == _brute_hamming_pairs(sigs, 3)


def test_simhash64_hamming_pairs_vs_bruteforce(spark, docs):
    sample = docs.limit(80)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.simhash64_hamming_pairs(
            sample, "doc_id", "text", k=3
        ).collect()
    }
    sigs = [
        (r["doc_id"], r["simhash"])
        for r in DD.simhash64(sample, "doc_id", "text").collect()
    ]
    # python ints are unbounded; emulate 64-bit xor on the signed longs
    brute = set()
    reps = {}
    for _id, sig in sigs:
        if sig not in reps or _id < reps[sig]:
            reps[sig] = _id
    items = sorted((i, s) for s, i in reps.items())
    for x in range(len(items)):
        for y in range(x + 1, len(items)):
            (ia, sa), (ib, sb) = items[x], items[y]
            d = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                brute.add((ia, ib, d))
    assert got == brute


def test_simhash64_hamming_pairs_shared_reps_identical(spark, docs):
    """r12: the banding-losslessness gate materializes the rep table
    once and feeds it back via shared_reps — the pair set must be
    IDENTICAL to the self-derived form (the param only skips the
    signature pipeline, never changes it)."""
    from pyspark.sql import functions as F

    sample = docs.limit(80)
    base = {
        tuple(r)
        for r in DD.simhash64_hamming_pairs(
            sample, "doc_id", "text", k=3
        ).collect()
    }
    reps = (
        DD.simhash64(sample, "doc_id", "text")
        .select(F.col("doc_id").alias("_id"), F.col("simhash").alias("_sig"))
        .groupBy("_sig")
        .agg(F.min("_id").alias("_id"))
        .localCheckpoint(eager=True)
    )
    shared = {
        tuple(r)
        for r in DD.simhash64_hamming_pairs(
            sample, "doc_id", "text", k=3, shared_reps=reps
        ).collect()
    }
    assert shared == base


def test_simhash64_hamming_pairs_rejects_mismatched_shared_reps(spark):
    docs = spark.createDataFrame([(1, "a b"), (2, "a c")], "doc_id long, text string")
    bad = [
        spark.createDataFrame([(1, 5)], "_id long, _sig int"),  # _sig not bigint
        spark.createDataFrame([(1, 5, 0)], "_id long, _sig long, x int"),  # extra column
        spark.createDataFrame([(1, 5)], "doc_id long, _sig long"),  # _id missing
    ]
    for reps in bad:
        with pytest.raises(ValueError, match="shared_reps"):
            DD.simhash64_hamming_pairs(docs, "doc_id", "text", shared_reps=reps)


def test_simhash_hamming_lossless_adversarial_blocks(spark):
    # pairs differing in exactly k bits placed to straddle blocks must
    # still be found (pigeonhole: k diffs cannot touch all k+1 blocks)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " lambda"), (3, base + " lambda mu nu")],
        "doc_id long, text string",
    )
    sigs = {
        r["doc_id"]: r["sig"]
        for r in df.select("doc_id", DD.simhash16("text").alias("sig")).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.simhash_hamming_pairs(df, "doc_id", "text", k=3).collect()
    }
    for a in (1, 2, 3):
        for b in range(a + 1, 4):
            d = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if d <= 3 and sigs[a] != sigs[b]:
                assert (a, b) in got
            elif d > 3:
                assert (a, b) not in got


# ------------------------------------------------------------ stored PQ
def _pq_test_centroids():
    return [
        [float((i * 7 + j * 3) % 5) for j in range(16)] for i in range(4)
    ]


def test_pq_num_sub_must_divide_dim(spark, emb):
    with pytest.raises(ValueError, match="evenly divide"):
        SIM.pq_codes(emb, [[0.0] * 64] * 4, num_sub=7)
    with pytest.raises(ValueError, match="evenly divide"):
        SIM.pq_adc_topk(emb, [0.0] * 64, [[0.0] * 64] * 4, num_sub=7)


def test_pq_stored_roundtrip_matches_inline(spark, emb, tmp_path):
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    q = [float(j % 5) for j in range(64)]
    path = str(tmp_path / "pq")
    SIM.write_pq_codes(emb, path, cents, num_sub=8)
    stored = SIM.pq_adc_topk_stored(spark, path, q, cents, k=10).collect()
    inline = SIM.pq_adc_topk(emb, q, cents, k=10).collect()
    assert [tuple(r) for r in stored] == [tuple(r) for r in inline]


def test_pq_stored_codebook_drift_raises(spark, emb, tmp_path):
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    other = [[c + 1.0 for c in row] for row in cents]
    path = str(tmp_path / "pq_drift")
    SIM.write_pq_codes(emb, path, cents, num_sub=8)
    with pytest.raises(ValueError, match="codebook drift"):
        SIM.pq_adc_topk_stored(spark, path, [0.0] * 64, other, k=5)


def test_semdedup_zero_norm_vector_prunes_nothing(spark):
    # a zero vector has NaN cosine with everything; it must neither
    # prune nor be pruned via the similarity rule (r4 advice fix)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # degenerate
        (3, [2.0, 0.0, 0.0, 0.0]),  # cosine 1 with id 1 → pruned
        (4, [0.0, 1.0, 0.0, 0.0]),  # orthogonal → kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 1.0, 1.0, 1.0]]  # one cluster: worst case
    kept = {
        r["vec_id"]: r["kept"]
        for r in SIM.semdedup(df, cents, threshold=0.95).collect()
    }
    assert kept == {1: True, 2: True, 3: False, 4: True}


def test_cosine_zero_norm_is_null_not_nan(spark):
    # zero vectors must drop out of top-k / pair queries, not crash
    # under ANSI division or rank first via NaN (r5 hardening)
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 0.0]),  # degenerate
        (3, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = SIM.cosine_topk(df, [1.0, 0.0], k=3).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[:2] == [1, 3]  # real vectors first
    assert top[-1]["vec_id"] == 2 and top[-1]["score"] is None
    pairs = SIM.cosine_dedup_pairs(
        df.withColumn("blk", F.lit(1)), "blk", threshold=0.5
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 3)}


def test_ivfpq_matches_probed_bruteforce_adc(spark, emb, tmp_path):
    # the stored IVF-PQ answer == inline PQ ADC restricted to the rows
    # the coarse quantizer assigns to the probed partitions
    coarse = [[float((i * 11 + j) % 9) for j in range(64)] for i in range(8)]
    pq_cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    q = [float(j % 5) for j in range(64)]
    path = str(tmp_path / "ivfpq")
    SIM.write_ivfpq_index(emb, path, coarse, pq_cents, num_sub=8)
    got = SIM.ivfpq_adc_topk(spark, path, q, coarse, pq_cents, k=10, n_probe=2).collect()

    import math

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    probes = sorted(range(8), key=lambda i: -py_cos(coarse[i], q))[:2]
    probed = emb.withColumn(
        "_p", SIM.ivf_assign(F.col("embedding"), coarse)
    ).filter(F.col("_p").isin(probes))
    want = SIM.pq_adc_topk(probed, q, pq_cents, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_ivfpq_codebook_drift_raises(spark, emb, tmp_path):
    coarse = [[float((i * 11 + j) % 9) for j in range(64)] for i in range(8)]
    pq_cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    path = str(tmp_path / "ivfpq_drift")
    SIM.write_ivfpq_index(emb, path, coarse, pq_cents, num_sub=8)
    other = [[c + 1.0 for c in row] for row in coarse]
    with pytest.raises(ValueError, match="coarse-codebook drift"):
        SIM.ivfpq_adc_topk(spark, path, [0.0] * 64, other, pq_cents)
    other_pq = [[c + 1.0 for c in row] for row in pq_cents]
    with pytest.raises(ValueError, match="pq-codebook drift"):
        SIM.ivfpq_adc_topk(spark, path, [0.0] * 64, coarse, other_pq)


def test_minhash_index_append_equals_rebuild(spark, docs, tmp_path):
    # the daily-crawl loop: write day-1 corpus, append day-2 batch,
    # match day-3 against the appended index == against a full rebuild
    # (ids are monotone across days, so first-writer-wins reps == the
    # rebuild's min-id reps)
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    t1, t2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    day1 = docs.filter(F.col("doc_id") < t1)
    day2 = docs.filter((F.col("doc_id") >= t1) & (F.col("doc_id") < t2))
    day3 = docs.filter(F.col("doc_id") >= t2)

    inc = str(tmp_path / "inc")
    DD.write_minhash_index(day1, "doc_id", "text", inc, num_hashes=16, bands=4)
    n_new = DD.append_minhash_index(day2, inc, "doc_id", "text")
    assert n_new > 0
    got = {
        (r["new_id"], r["base_id"], r["jaccard"])
        for r in DD.match_minhash_index(day3, inc, "doc_id", "text").collect()
    }

    full = str(tmp_path / "full")
    DD.write_minhash_index(
        day1.unionAll(day2), "doc_id", "text", full, num_hashes=16, bands=4
    )
    want = {
        (r["new_id"], r["base_id"], r["jaccard"])
        for r in DD.match_minhash_index(day3, full, "doc_id", "text").collect()
    }
    assert got == want and want


def test_minhash_index_append_skips_known_multisets(spark, docs, tmp_path):
    # appending the SAME batch twice adds zero rows
    path = str(tmp_path / "idem")
    DD.write_minhash_index(docs, "doc_id", "text", path, num_hashes=16, bands=4)
    assert DD.append_minhash_index(docs, path, "doc_id", "text") == 0


def test_ivfpq_residual_roundtrip_matches_python_model(spark, emb, tmp_path):
    # by_residual=True: codes quantize vec - coarse[part]; the query
    # builds one ADC table per probed list. Exact-match against an
    # independent python reimplementation (same subtraction order as
    # the write side: residual first, then minus the sub-centroid).
    import math

    coarse = [[float((i * 11 + j) % 9) for j in range(64)] for i in range(8)]
    pq_cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    q = [float(j % 5) for j in range(64)]
    path = str(tmp_path / "ivfpq_res")
    SIM.write_ivfpq_index(emb, path, coarse, pq_cents, num_sub=8, by_residual=True)
    got = [
        tuple(r)
        for r in SIM.ivfpq_adc_topk(
            spark, path, q, coarse, pq_cents, k=10, n_probe=2
        ).collect()
    ]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return d / (na * nb) if na and nb else float("-inf")

    def assign(v):
        scores = [cos(v, c) for c in coarse]
        return scores.index(max(scores))  # first-max-wins

    probes = sorted(range(8), key=lambda i: -cos(coarse[i], q))[:2]
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]
    scored = []
    for vid, v in rows:
        p = assign(v)
        if p not in probes:
            continue
        ad = 0.0
        for s in range(8):
            dists = []
            for c in pq_cents:
                acc = 0.0
                for j in range(8):
                    idx = s * 8 + j
                    acc += ((v[idx] - coarse[p][idx]) - c[idx]) ** 2
                dists.append(acc)
            code = dists.index(min(dists))  # first-min-wins
            lut_c = [
                sum(
                    (q[s * 8 + j] - coarse[p][s * 8 + j] - c[s * 8 + j]) ** 2
                    for j in range(8)
                )
                for c in pq_cents
            ]
            ad += lut_c[code]
        scored.append((vid, round(ad, 5)))
    want = sorted(scored, key=lambda t: (t[1], t[0]))[:10]
    assert got == want


def test_element_at_null_index_is_last_element_gotcha(spark):
    # pins the Spark 4 behavior the PQ NULL-handling is designed
    # around: element_at(array, NULL-column-index) does NOT return
    # NULL — it resolves like index -1 and returns the LAST element.
    # If this ever starts returning NULL, the write-time exclusion is
    # merely redundant; but while it holds, a NULL code scoring path
    # would be silently WRONG, so degenerate rows must be excluded.
    df = spark.createDataFrame([(None,), (1,)], "c int")
    got = {
        r["c"]: r["a"]
        for r in df.select(
            "c",
            F.element_at(F.array(F.lit(10.0), F.lit(20.0)), F.col("c")).alias("a"),
        ).collect()
    }
    assert got[1] == 10.0
    assert got[None] in (20.0, None)  # today: 20.0 (acts as -1)


def test_pq_null_embedding_excluded_everywhere(spark, tmp_path):
    # a NULL embedding must be EXCLUDED from the index and from every
    # ADC ranking — not scored: its codes are NULL and element_at
    # treats a NULL index like -1 (silently bogus distance; see the
    # gotcha test above). r5 advice fix, strengthened.
    rows = [
        (1, [float(j % 5) for j in range(64)]),
        (2, None),  # degenerate row
        (3, [float((j + 1) % 5) for j in range(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    q = [float(j % 5) for j in range(64)]
    path = str(tmp_path / "pq_null")
    SIM.write_pq_codes(df, path, cents, num_sub=8)
    stored = SIM.pq_adc_topk_stored(spark, path, q, cents, k=3).collect()
    assert [r["vec_id"] for r in stored] == [1, 3]
    inline = SIM.pq_adc_topk(df, q, cents, k=3).collect()
    assert [r["vec_id"] for r in inline] == [1, 3]
    coarse = [[float((i * 11 + j) % 9) for j in range(64)] for i in range(8)]
    ipath = str(tmp_path / "ivfpq_null")
    SIM.write_ivfpq_index(df, ipath, coarse, cents, num_sub=8)
    ivf = SIM.ivfpq_adc_topk(
        spark, ipath, q, coarse, cents, k=3, n_probe=8
    ).collect()
    assert 2 not in {r["vec_id"] for r in ivf}


# -------------------------------------------- two-stage rerank + append
def test_pq_rerank_is_exact_cosine_over_adc_shortlist(spark, emb, tmp_path):
    # the contract: output == exact-cosine ordering restricted to the
    # ADC shortlist ids — nothing outside the shortlist can appear
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    q = [float(j % 5) for j in range(64)]
    path = str(tmp_path / "pq_rr")
    SIM.write_pq_codes(emb, path, cents, num_sub=8)
    kp = 30
    shortlist = {
        r[0] for r in SIM.pq_adc_topk_stored(spark, path, q, cents, k=kp).collect()
    }
    got = SIM.pq_rerank_topk(emb, path, q, cents, k=10, k_prime=kp).collect()
    assert {r["vec_id"] for r in got} <= shortlist
    want = (
        SIM.cosine_topk(emb.filter(F.col("vec_id").isin(list(shortlist))), q, k=10)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_pq_rerank_recall_monotone_and_exact_at_full_kprime(spark, emb, tmp_path):
    # recall@10 is monotone in k' and equals brute force when the
    # shortlist covers the whole corpus (ADC error fully repaired)
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    q = [float(j % 5) for j in range(64)]
    path = str(tmp_path / "pq_rr_mono")
    SIM.write_pq_codes(emb, path, cents, num_sub=8)
    n = emb.count()
    brute = [tuple(r) for r in SIM.cosine_topk(emb, q, k=10).collect()]
    prev = -1
    for kp in (10, 50, n):
        got = [
            tuple(r)
            for r in SIM.pq_rerank_topk(emb, path, q, cents, k=10, k_prime=kp).collect()
        ]
        recall = len({g[0] for g in got} & {b[0] for b in brute})
        assert recall >= prev
        prev = recall
    assert got == brute  # k' = corpus size → exact


def test_pq_rerank_empty_index_returns_empty(spark, emb, tmp_path):
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    path = str(tmp_path / "pq_rr_empty")
    SIM.write_pq_codes(emb.filter(F.lit(False)), path, cents, num_sub=8)
    out = SIM.pq_rerank_topk(emb, path, [0.0] * 64, cents, k=10)
    assert out.count() == 0
    assert out.columns == ["vec_id", "score"]


def test_append_pq_codes_equals_rebuild_and_is_idempotent(spark, emb, tmp_path):
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    base = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    apath, rpath = str(tmp_path / "pq_app"), str(tmp_path / "pq_reb")
    SIM.write_pq_codes(base, apath, cents, num_sub=8)
    n1 = SIM.append_pq_codes(batch, apath, cents)
    assert n1 == batch.count()
    # re-delivery: first-writer-wins anti-join → no-op
    assert SIM.append_pq_codes(batch, apath, cents) == 0
    SIM.write_pq_codes(emb, rpath, cents, num_sub=8)
    got = sorted(
        tuple(r) for r in SI.read_part(spark, apath, "codes").collect()
    )
    want = sorted(
        tuple(r) for r in SI.read_part(spark, rpath, "codes").collect()
    )
    assert got == want  # append ≡ one-shot rebuild


def test_append_pq_codes_codebook_drift_raises(spark, emb, tmp_path):
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    other = [[c + 1.0 for c in row] for row in cents]
    path = str(tmp_path / "pq_app_drift")
    SIM.write_pq_codes(emb, path, cents, num_sub=8)
    with pytest.raises(ValueError, match="codebook drift"):
        SIM.append_pq_codes(emb, path, other)


def test_append_ivfpq_equals_rebuild_both_encodings(spark, emb, tmp_path):
    coarse = [[float((i * 11 + j) % 9) for j in range(64)] for i in range(8)]
    pq_cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    base = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    for res in (False, True):
        apath = str(tmp_path / f"ivfpq_app_{res}")
        rpath = str(tmp_path / f"ivfpq_reb_{res}")
        SIM.write_ivfpq_index(base, apath, coarse, pq_cents, num_sub=8, by_residual=res)
        n1 = SIM.append_ivfpq_index(batch, apath, coarse, pq_cents)
        assert n1 == batch.count()
        assert SIM.append_ivfpq_index(batch, apath, coarse, pq_cents) == 0
        SIM.write_ivfpq_index(emb, rpath, coarse, pq_cents, num_sub=8, by_residual=res)
        got = sorted(tuple(r) for r in SI.read_part(spark, apath, "codes").collect())
        want = sorted(tuple(r) for r in SI.read_part(spark, rpath, "codes").collect())
        assert got == want


def test_append_ivfpq_codebook_drift_raises(spark, emb, tmp_path):
    coarse = [[float((i * 11 + j) % 9) for j in range(64)] for i in range(8)]
    pq_cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    path = str(tmp_path / "ivfpq_app_drift")
    SIM.write_ivfpq_index(emb, path, coarse, pq_cents, num_sub=8)
    other = [[c + 1.0 for c in row] for row in coarse]
    with pytest.raises(ValueError, match="coarse-codebook drift"):
        SIM.append_ivfpq_index(emb, path, other, pq_cents)
    other_pq = [[c + 1.0 for c in row] for row in pq_cents]
    with pytest.raises(ValueError, match="pq-codebook drift"):
        SIM.append_ivfpq_index(emb, path, coarse, other_pq)


# ------------------------------------------------- duplicated substrings
def _py_dup_spans(docs: dict[int, str], n: int) -> set[tuple[int, int, int]]:
    """Plain-python reference for dup_token_spans: count every n-token
    gram corpus-wide, mark positions whose gram repeats, merge windows
    with gap <= n into maximal intervals."""
    from collections import Counter

    toks = {d: t.split() for d, t in docs.items()}
    counts = Counter(
        tuple(ts[p : p + n])
        for ts in toks.values()
        for p in range(len(ts) - n + 1)
    )
    spans = set()
    for d, ts in toks.items():
        dup_pos = [
            p for p in range(len(ts) - n + 1)
            if counts[tuple(ts[p : p + n])] >= 2
        ]
        run: list[int] = []
        for p in dup_pos:
            if run and p - run[-1] <= n:
                run.append(p)
            else:
                if run:
                    spans.add((d, run[0], run[-1] - run[0] + n))
                run = [p]
        if run:
            spans.add((d, run[0], run[-1] - run[0] + n))
    return spans


def test_dup_token_spans_match_python_reference_on_planted_dups(spark):
    # planted layout: docs 1/2 share a 7-token run (one maximal span
    # each), doc 3 self-repeats a 5-gram (two merged windows), doc 4 is
    # clean, doc 5 is shorter than n (excluded), docs 6/7 are exact
    # dups (whole-doc span)
    docs = {
        1: "alpha beta gamma delta epsilon zeta eta unique1 filler1 filler2",
        2: "pre1 pre2 alpha beta gamma delta epsilon zeta eta post1",
        3: "x1 r1 r2 r3 r4 r5 mid1 mid2 r1 r2 r3 r4 r5 x2",
        4: "clean1 clean2 clean3 clean4 clean5 clean6 clean7 clean8",
        5: "tiny doc here",
        6: "dupdoc w1 w2 w3 w4 w5 w6 w7",
        7: "dupdoc w1 w2 w3 w4 w5 w6 w7",
    }
    n = 5
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["start"], r["length"])
        for r in TX.dup_token_spans(df, "doc_id", "text", n=n).collect()
    }
    want = _py_dup_spans(docs, n)
    assert got == want
    # sanity of the plant: the shared run, the self-repeat merge, and
    # the whole-doc dups are all present; clean/short docs are absent
    assert (1, 0, 7) in want and (2, 2, 7) in want
    assert (6, 0, 8) in want and (7, 0, 8) in want
    assert not any(d in (4, 5) for d, _, _ in want)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_dup_token_spans_random_corpus_matches_reference(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(12)]  # small vocab → natural repeats
    docs = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40)))
        for d in range(1, 21)
    }
    n = 4
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        (r["doc_id"], r["start"], r["length"])
        for r in TX.dup_token_spans(df, "doc_id", "text", n=n).collect()
    }
    assert got == _py_dup_spans(docs, n)


def test_ivfpq_rerank_is_exact_cosine_over_its_shortlist(spark, emb, tmp_path):
    coarse = [[float((i * 11 + j) % 9) for j in range(64)] for i in range(8)]
    pq_cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    q = [float(j % 5) for j in range(64)]
    path = str(tmp_path / "ivfpq_rr")
    SIM.write_ivfpq_index(emb, path, coarse, pq_cents, num_sub=8)
    kp = 30
    shortlist = {
        r[0]
        for r in SIM.ivfpq_adc_topk(
            spark, path, q, coarse, pq_cents, k=kp, n_probe=2
        ).collect()
    }
    got = SIM.ivfpq_rerank_topk(
        emb, path, q, coarse, pq_cents, k=10, k_prime=kp, n_probe=2
    ).collect()
    assert {r["vec_id"] for r in got} <= shortlist
    want = SIM.cosine_topk(
        emb.filter(F.col("vec_id").isin(list(shortlist))), q, k=10
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


# ------------------------------------------- recall sweep + span removal
def test_pq_recall_at_k_matches_shortlist_intersection(spark, emb):
    # hits(k') must equal |ADC-top-k' ∩ exact-top-10| computed
    # independently via the two public ops, and be monotone in k'
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    q = [float(j % 5) for j in range(64)]
    ks = (10, 25, 50)
    got = {
        r["k_prime"]: r["hits"]
        for r in SIM.pq_recall_at_k(emb, q, cents, ks=ks).collect()
    }
    brute = {r[0] for r in SIM.cosine_topk(emb, q, k=10).collect()}
    prev = -1
    for kp in ks:
        short = {r[0] for r in SIM.pq_adc_topk(emb, q, cents, k=kp).collect()}
        assert got[kp] == len(short & brute)
        assert got[kp] >= prev
        prev = got[kp]
    assert sorted(got) == list(ks)


def _py_dup_removal(docs: dict[int, str], n: int) -> dict[int, tuple]:
    """Plain-python reference for dup_span_removal: drop every token
    covered by a corpus-duplicated n-gram, rejoin the rest."""
    from collections import Counter

    toks = {d: t.split() for d, t in docs.items()}
    counts = Counter(
        tuple(ts[p : p + n])
        for ts in toks.values()
        for p in range(len(ts) - n + 1)
    )
    out = {}
    for d, ts in toks.items():
        if not ts:
            continue
        covered = set()
        for p in range(len(ts) - n + 1):
            if counts[tuple(ts[p : p + n])] >= 2:
                covered.update(range(p, p + n))
        kept = [t for q_, t in enumerate(ts) if q_ not in covered]
        out[d] = (len(ts), len(covered), " ".join(kept))
    return out


def test_dup_span_removal_matches_python_reference_on_planted_dups(spark):
    docs = {
        1: "alpha beta gamma delta epsilon zeta eta unique1 filler1 filler2",
        2: "pre1 pre2 alpha beta gamma delta epsilon zeta eta post1",
        3: "x1 r1 r2 r3 r4 r5 mid1 mid2 r1 r2 r3 r4 r5 x2",
        4: "clean1 clean2 clean3 clean4 clean5 clean6 clean7 clean8",
        5: "tiny doc here",
        6: "dupdoc w1 w2 w3 w4 w5 w6 w7",
        7: "dupdoc w1 w2 w3 w4 w5 w6 w7",
    }
    n = 5
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in TX.dup_span_removal(df, "doc_id", "text", n=n).collect()
    }
    want = _py_dup_removal(docs, n)
    assert got == want
    # sanity of the plant: whole-doc dups empty out; clean doc intact
    assert got[6][2] == "" and got[7][2] == ""
    assert got[4] == (8, 0, docs[4])


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_dup_span_removal_random_corpus_matches_reference(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(12)]
    docs = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40)))
        for d in range(1, 21)
    }
    n = 4
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in TX.dup_span_removal(df, "doc_id", "text", n=n).collect()
    }
    assert got == _py_dup_removal(docs, n)


def test_dsir_weights_bounds_and_target_uplift(spark, sf_dir):
    # score is an exact-integer ppm in [0, 1e6]; the target slice
    # (lang='en') must score higher ON AVERAGE than the rest — the
    # defining property of importance weights toward the en target
    from lrmr_spark.catalog.corpus_ops import docs_dsir_weights

    w = docs_dsir_weights(spark, sf_dir)
    rows = w.collect()
    assert rows and all(0 <= r["dsir_score_ppm"] <= 1_000_000 for r in rows)
    assert all(r["n_bigrams"] >= 1 for r in rows)
    langs = {
        r["doc_id"]: r["lang"]
        for r in load(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    en = [r["dsir_score_ppm"] for r in rows if langs[r["doc_id"]] == "en"]
    rest = [r["dsir_score_ppm"] for r in rows if langs[r["doc_id"]] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


# ------------------------------------------------- PQ codebook training
def test_pq_train_iter_matches_numpy_reference(spark, emb):
    import numpy as np

    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]
    got = {
        (r["sub"], r["code"], r["dim"]): (r["centroid_val"], r["n_members"])
        for r in SIM.pq_train_iter(emb, cents, num_sub=8).collect()
    }
    X = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    C = np.array(cents, dtype=np.float64)
    want = {}
    for s in range(8):
        xs, cs = X[:, s * 8 : (s + 1) * 8], C[:, s * 8 : (s + 1) * 8]
        d = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # numpy argmin = first-min-wins, same rule
        for c in range(4):
            members = xs[assign == c]
            if len(members):
                for j in range(8):
                    want[(s, c + 1, j + 1)] = (
                        round(float(members[:, j].mean()), 5),
                        len(members),
                    )
    assert set(got) == set(want)
    for key, (v, n) in want.items():
        gv, gn = got[key]
        assert gn == n
        assert abs(gv - v) < 1e-4, (key, gv, v)


def test_pq_train_iter_reduces_distortion(spark, emb):
    # Lloyd monotonicity: re-encoding with the trained codebook must not
    # increase total quantization error vs the starting codebook
    cents = [[float((i * 13 + j) % 7) for j in range(64)] for i in range(4)]

    def total_err(cb):
        codes = SIM.pq_codes(emb, cb, num_sub=8)
        row = codes.agg(
            *[F.sum(F.col(f"dist_{s}")).alias(f"d{s}") for s in range(8)]
        ).collect()[0]
        return sum(row[f"d{s}"] for s in range(8))

    before = total_err(cents)
    trained = SIM.pq_train_iter(emb, cents, num_sub=8).collect()
    new_cents = [list(c) for c in cents]  # empty clusters keep old position
    for r in trained:
        new_cents[r["code"] - 1][r["sub"] * 8 + (r["dim"] - 1)] = r["centroid_val"]
    after = total_err(new_cents)
    assert after <= before * (1 + 1e-9)
    assert after < before  # the synthetic start is far from converged


def _py_decon_removal(
    docs: dict[int, str], eval_ids: set[int], n: int
) -> dict[int, tuple]:
    """Plain-python reference for decontaminate_span_removal: drop every
    train-doc token covered by an n-gram present in any eval doc."""
    toks = {d: t.split() for d, t in docs.items()}
    eval_grams = {
        tuple(ts[p : p + n])
        for d, ts in toks.items()
        if d in eval_ids
        for p in range(len(ts) - n + 1)
    }
    out = {}
    for d, ts in toks.items():
        if d in eval_ids or not ts:
            continue
        covered = set()
        for p in range(len(ts) - n + 1):
            if tuple(ts[p : p + n]) in eval_grams:
                covered.update(range(p, p + n))
        kept = [t for q_, t in enumerate(ts) if q_ not in covered]
        out[d] = (len(ts), len(covered), " ".join(kept))
    return out


def test_decontaminate_span_removal_matches_python_reference(spark):
    # eval doc 100 donates two grams; doc 1 leaks one of them mid-text,
    # doc 2 leaks at the start, doc 3 is clean, doc 4 shares a gram with
    # doc 3 (train-train dup — must NOT be cut), doc 5 is shorter than n
    docs = {
        100: "leak1 leak2 leak3 leak4 pad1 other1 other2 other3 other4",
        1: "a1 a2 leak1 leak2 leak3 leak4 a3 a4",
        2: "other1 other2 other3 other4 b1 b2 b3",
        3: "c1 c2 c3 c4 c5 c6",
        4: "c1 c2 c3 c4 d5 d6",
        5: "tiny doc",
    }
    n = 4
    df = spark.createDataFrame(
        [(d, t, d == 100) for d, t in docs.items()],
        "doc_id long, text string, is_eval boolean",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in TX.decontaminate_span_removal(
            df, "doc_id", "text", "is_eval", n=n
        ).collect()
    }
    want = _py_decon_removal(docs, {100}, n)
    assert got == want
    assert 100 not in got  # eval docs are not emitted
    assert got[3] == (6, 0, docs[3]) and got[4] == (6, 0, docs[4])
    assert got[1][1] == 4 and got[2][1] == 4


@pytest.mark.parametrize("seed", [0, 1])
def test_decontaminate_span_removal_random_corpus(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(10)]
    docs = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))
        for d in range(1, 25)
    }
    eval_ids = {d for d in docs if d % 5 == 0}
    n = 3
    df = spark.createDataFrame(
        [(d, t, d in eval_ids) for d, t in docs.items()],
        "doc_id long, text string, is_eval boolean",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in TX.decontaminate_span_removal(
            df, "doc_id", "text", "is_eval", n=n
        ).collect()
    }
    assert got == _py_decon_removal(docs, eval_ids, n)


# ------------------------------------------------------- BPE training
def _py_pair_counts(texts, merged=None):
    from collections import Counter

    wc = Counter()
    for t in texts:
        for w in (t or "").split():
            wc[w] += 1
    cnt = Counter()
    SENT = "\x01"
    for w, n in wc.items():
        if merged:
            w = w.replace(merged, SENT)
        syms = [merged if c == SENT else c for c in w]
        for i in range(len(syms) - 1):
            cnt[syms[i] + " " + syms[i + 1]] += n
    return sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]


def test_bpe_pair_counts_matches_python_reference(spark, sf_dir):
    from lrmr_spark.catalog.corpus_ops import bpe_pair_counts

    texts = [
        r["text"]
        for r in load(spark, sf_dir, "documents").select("text").collect()
    ]
    got = [(r["pair"], r["cnt"]) for r in bpe_pair_counts(spark, sf_dir).collect()]
    assert got == _py_pair_counts(texts)


def test_bpe_merge_apply_matches_python_reference_and_retires_pair(spark, sf_dir):
    from lrmr_spark.catalog.corpus_ops import (
        _bpe_top_pair,
        bpe_merge_apply,
        bpe_pair_counts,
    )

    a, b = _bpe_top_pair()
    merged = a + b
    texts = [
        r["text"]
        for r in load(spark, sf_dir, "documents").select("text").collect()
    ]
    got = [(r["pair"], r["cnt"]) for r in bpe_merge_apply(spark, sf_dir).collect()]
    assert got == _py_pair_counts(texts, merged=merged)
    # the merged char pair cannot survive as a pair of single chars —
    # every adjacent occurrence was compressed into one symbol
    assert all(p != f"{a} {b}" for p, _ in got)


def test_token_diversity_matches_python_model(spark, sf_dir):
    from collections import Counter

    from lrmr_spark.catalog.corpus_ops import token_diversity_index

    docs = {
        r["doc_id"]: (r["text"] or "").split()
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    got = {r["doc_id"]: r for r in token_diversity_index(spark, sf_dir).collect()}
    assert set(got) == {d for d, toks in docs.items() if toks}
    for d, toks in docs.items():
        if not toks:
            continue
        c = Counter(toks)
        n = len(toks)
        r = got[d]
        assert r["n_tokens"] == n
        assert r["n_distinct"] == len(c)
        assert r["gini_simpson_ppm"] == 1000000 - sum(
            v * v for v in c.values()
        ) * 1000000 // (n * n)
        # all-same-token doc would score 0; all-distinct scores
        # 1e6·(1−1/n) — bounds hold for every doc
        assert 0 <= r["gini_simpson_ppm"] < 1000000


def test_bpe_encode_corpus_matches_python_model(spark, sf_dir):
    """Per-doc BPE symbol counts vs a list-of-symbols python encoder
    (no string replace — independent of the engines' formulation)."""
    from lrmr_spark.catalog.corpus_ops import _bpe_merge_seq, bpe_encode_corpus

    merges = _bpe_merge_seq()

    def enc_count(w):
        syms = list(w)
        for pair, sent, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]
                ):
                    out.append(sent)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    for r in bpe_encode_corpus(spark, sf_dir).collect():
        words = (docs[r["doc_id"]] or "").split()
        assert r["n_tokens"] == len(words)
        assert r["n_chars"] == sum(len(w) for w in words)
        assert r["n_bpe_symbols"] == sum(enc_count(w) for w in words)
        assert r["n_bpe_symbols"] <= r["n_chars"]
        assert (
            r["saved_ppm"]
            == (r["n_chars"] - r["n_bpe_symbols"]) * 1000000 // max(r["n_chars"], 1)
        )


def test_phash_matches_python_model_and_banding_is_lossless(spark, sf_dir):
    """phash_media vs a from-scratch python aHash model, and the
    banded Hamming-≤1 pair set vs brute force over the collapsed
    hashes (pigeonhole losslessness)."""
    import math as _math
    from itertools import combinations

    from lrmr_spark.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    media = MM.attach_binary_payload(docs, "doc_id", "text")

    def py_phash(s):
        b = s.encode()
        L = len(b)
        if not L:
            return 0
        bs = _math.ceil(L / 16)
        tot = sum(b)
        h = 0
        for i in range(16):
            blk = b[i * bs : (i + 1) * bs]
            if blk and sum(blk) * L >= tot * len(blk):
                h |= 1 << i
        return h

    model = {
        r["doc_id"]: py_phash(r["text"])
        for r in docs.select("doc_id", "text").collect()
    }
    got = {
        r["media_id"]: r["phash"] for r in MM.phash_media(media).collect()
    }
    assert got == model
    reps = {}
    for mid in sorted(model):
        reps.setdefault(model[mid], mid)
    brute = sorted(
        (min(a, b), max(a, b), bin(ha ^ hb).count("1"))
        for (ha, a), (hb, b) in combinations(reps.items(), 2)
        if bin(ha ^ hb).count("1") <= 1
    )
    got_pairs = sorted(
        (r["media_id_a"], r["media_id_b"], r["hamming"])
        for r in MM.phash_hamming_pairs(MM.phash_media(media), k=1).collect()
    )
    assert got_pairs == brute
    assert all(h == 1 for _, _, h in got_pairs)  # reps are distinct hashes


def test_sq8_recall_curve_monotone_and_bounded(spark, sf_dir):
    from lrmr_spark.catalog.similarity_ops import ann_sq8_recall_at_k

    rows = ann_sq8_recall_at_k(spark, sf_dir).collect()
    assert [r["k_prime"] for r in rows] == [10, 25, 50, 100]
    hits = [r["hits"] for r in rows]
    assert all(a <= b for a, b in zip(hits, hits[1:]))
    assert all(0 <= h <= 10 for h in hits)


def test_sq8_stored_matches_inline_and_raises_on_drift(spark, sf_dir, tmp_path):
    """write → stored-scan must equal the inline SDC top-k, and a
    quantizer-parameter drift between write and read must raise."""
    import pytest as _pytest

    from lrmr_spark.catalog.similarity_ops import _sq8_params, _sq8_qcodes
    from lrmr_spark.operators import similarity as SIM

    mins, scales = _sq8_params()
    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "sq8")
    SIM.write_sq8_codes(emb, path, list(mins), list(scales))
    q = _sq8_qcodes()
    stored = [
        (r["vec_id"], r["sdc_dist"])
        for r in SIM.sq8_sdc_topk_stored(
            spark, path, q, list(mins), list(scales), k=10
        ).collect()
    ]
    inline = [
        (r["vec_id"], r["sdc_dist"])
        for r in emb.select(
            "vec_id",
            SIM.sq8_sdc_dist_col(
                SIM.sq8_codes_col(F.col("embedding"), list(mins), list(scales)),
                q,
            ).alias("sdc_dist"),
        )
        .orderBy(F.asc("sdc_dist"), F.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    assert stored == inline
    drifted = [s * 1.0000001 if s else 0.0 for s in scales]
    with _pytest.raises(ValueError, match="quantizer drift"):
        SIM.sq8_sdc_topk_stored(spark, path, q, list(mins), drifted, k=10)


def test_ivf_recall_curve_monotone_and_exact_at_full_probe(spark, sf_dir):
    """The n_probe recall sweep: monotone nondecreasing (widening the
    probe set can only add candidates ranked by the same score), and
    exact recall 10/10 at n_probe = n_centroids (full scan ≡ brute
    force)."""
    from lrmr_spark.catalog.similarity_ops import ann_ivf_recall_at_nprobe

    rows = ann_ivf_recall_at_nprobe(spark, sf_dir).collect()
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    hits = [r["hits"] for r in rows]
    assert all(a <= b for a, b in zip(hits, hits[1:]))
    assert hits[-1] == 10
    assert all(0 <= h <= 10 for h in hits)


def test_sq8_codes_match_independent_python_model(spark, sf_dir):
    """SQ8 quantization + SDC top-k vs a from-scratch python model
    (plain loops, no Spark/DuckDB expressions shared)."""
    import math

    from lrmr_spark.catalog.similarity_ops import (
        _sq8_params,
        _sq8_qcodes,
        ann_sq8_sdc_topk,
        embedding_sq8_codes,
    )

    mins, scales = _sq8_params()
    rows = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    model = {}
    for r in rows:
        codes = [
            max(0, min(255, math.floor((float(x) - mn) * sc)))
            for x, mn, sc in zip(r["embedding"], mins, scales)
        ]
        model[r["vec_id"]] = codes
    got = embedding_sq8_codes(spark, sf_dir).collect()
    assert len(got) == len(model)
    for r in got:
        codes = [int(c) for c in r["codes_csv"].split(",")]
        assert codes == model[r["vec_id"]]
        assert r["code_sum"] == sum(model[r["vec_id"]])
        assert all(0 <= c <= 255 for c in codes)
    # SDC top-10 vs the model's exact integer distances
    q = _sq8_qcodes()
    dists = sorted(
        (sum((c - qc) ** 2 for c, qc in zip(codes, q)), vid)
        for vid, codes in model.items()
    )[:10]
    got_top = [
        (r["sdc_dist"], r["vec_id"])
        for r in ann_sq8_sdc_topk(spark, sf_dir).collect()
    ]
    assert got_top == dists
    # driver-side query quantization agrees with the model's formula
    # on the oracle dir's query vector (the literals both engines get)
    from lrmr_spark.catalog.similarity_ops import _query_vec

    assert q == [
        max(0, min(255, math.floor((x - mn) * sc)))
        for x, mn, sc in zip(_query_vec(), mins, scales)
    ]


def test_unimax_matches_sequential_fraction_waterfiller(spark, sf_dir):
    """The windowed prefix-lemma form must agree with the textbook
    SEQUENTIAL waterfiller run in exact rational arithmetic: same
    capped set, and every uncapped source gets floor() of the exact
    fractional share."""
    from fractions import Fraction

    from lrmr_spark.catalog.corpus_ops import mixture_unimax_weights

    rows = {
        r["source"]: r
        for r in mixture_unimax_weights(spark, sf_dir).collect()
    }
    n_by_src = {s: r["n_tokens"] for s, r in rows.items()}
    caps = {s: 2 * n for s, n in n_by_src.items()}
    budget = sum(n_by_src.values()) * 19 // 10
    order = sorted(caps, key=lambda s: (caps[s], s))
    remaining = Fraction(budget)
    capped, share = set(), None
    for i, s in enumerate(order):
        fair = remaining / (len(order) - i)
        if caps[s] <= fair:
            capped.add(s)
            remaining -= caps[s]
        else:
            share = fair  # every later source sees the same share
            remaining -= fair
    got_capped = {s for s, r in rows.items() if r["is_capped"] == 1}
    assert got_capped == capped
    # both branches must actually appear (the budget constant was
    # chosen to guarantee this at every SF)
    assert capped and len(capped) < len(order)
    # capped prefix property in ascending capacity order
    ranks = {s: i for i, s in enumerate(order)}
    assert max(ranks[s] for s in capped) == len(capped) - 1
    for s, r in rows.items():
        if s in capped:
            assert r["alloc_tokens"] == caps[s]
        else:
            assert r["alloc_tokens"] == share.numerator // share.denominator
        assert r["epochs_ppm"] == r["alloc_tokens"] * 1000000 // r["n_tokens"]
    assert sum(r["alloc_tokens"] for r in rows.values()) <= budget


def test_multimodal_curation_pipeline_stages_match_model(spark, sf_dir):
    """Stage labels vs a plain-python model of the three-step curation
    (exact collapse → phash collapse → smaller-id near-dup drop)."""
    import hashlib
    import math as _math

    from lrmr_spark.catalog.multimodal_ops import multimodal_curation_pipeline

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }

    def py_phash(s):
        b = s.encode()
        L = len(b)
        if not L:
            return 0
        bs = _math.ceil(L / 16)
        tot = sum(b)
        h = 0
        for i in range(16):
            blk = b[i * bs : (i + 1) * bs]
            if blk and sum(blk) * L >= tot * len(blk):
                h |= 1 << i
        return h

    exact_rep = {}
    for d in sorted(docs):
        fp = hashlib.md5(docs[d].encode()).hexdigest()
        exact_rep.setdefault(fp, d)
    rep_of = {
        d: exact_rep[hashlib.md5(docs[d].encode()).hexdigest()] for d in docs
    }
    phash = {d: py_phash(docs[d]) for d in docs}
    phash_keep = {}
    for d in sorted(docs):
        if rep_of[d] == d:
            phash_keep.setdefault(phash[d], d)
    reps = sorted(phash_keep.values())
    near_drop = {
        b
        for i, a in enumerate(reps)
        for b in reps[i + 1 :]
        if bin(phash[a] ^ phash[b]).count("1") <= 1
    }
    expect = {}
    for d in docs:
        if rep_of[d] != d:
            expect[d] = "exact_dup"
        elif phash_keep[phash[d]] != d:
            expect[d] = "phash_dup"
        elif d in near_drop:
            expect[d] = "near_dup"
        else:
            expect[d] = "kept"
    got = {
        r["media_id"]: r["stage"]
        for r in multimodal_curation_pipeline(spark, sf_dir).collect()
    }
    assert got == expect
    assert set(expect.values()) >= {"kept"}  # at least the keeps exist


def test_source_overlap_matrix_matches_python_model(spark, sf_dir):
    from lrmr_spark.catalog.corpus_ops import source_overlap_matrix

    per_src = {}
    for r in load(spark, sf_dir, "documents").select("source", "text").collect():
        toks = (r["text"] or "").split()
        n = len(toks)
        k = min(3, n) if n else 0
        grams = (
            {" ".join(toks[i : i + k]) for i in range(max(n - k, 0) + 1)}
            if k
            else set()
        )
        per_src.setdefault(r["source"], set()).update(grams)
    rows = source_overlap_matrix(spark, sf_dir).collect()
    srcs = sorted(per_src)
    assert len(rows) == len(srcs) * (len(srcs) - 1) // 2
    for r in rows:
        a, b = per_src[r["src_a"]], per_src[r["src_b"]]
        assert r["src_a"] < r["src_b"]
        assert r["n_grams_a"] == len(a) and r["n_grams_b"] == len(b)
        shared = len(a & b)
        assert r["shared_grams"] == shared
        assert r["containment_ppm"] == shared * 1000000 // min(len(a), len(b))


def test_dedup_threshold_sweep_monotone(spark, sf_dir):
    """Raising τ can only shrink the verified pair set."""
    from lrmr_spark.catalog.dedup_ops import dedup_threshold_sweep

    rows = dedup_threshold_sweep(spark, sf_dir).collect()
    assert [r["threshold_ppm"] for r in rows] == [
        500000, 600000, 700000, 800000, 900000,
    ]
    counts = [r["n_pairs"] for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert all(c >= 0 for c in counts)


def test_unimax_sample_matches_hash_model(spark, sf_dir):
    """The materialized copies must equal the hash-threshold model
    applied to the weights entry's epochs_ppm — and capped sources
    (epochs exactly 2.0) must emit exactly 2 copies per doc."""
    import hashlib

    from lrmr_spark.catalog.corpus_ops import (
        mixture_unimax_sample,
        mixture_unimax_weights,
    )

    w = {
        r["source"]: (r["epochs_ppm"], r["is_capped"])
        for r in mixture_unimax_weights(spark, sf_dir).collect()
    }
    docs = [
        (r["doc_id"], r["source"])
        for r in load(spark, sf_dir, "documents").select("doc_id", "source").collect()
    ]
    expect = {}
    for doc_id, src in docs:
        ppm, capped = w[src]
        h = int(hashlib.md5(f"unimax:{doc_id}".encode()).hexdigest()[:8], 16)
        n = ppm // 1000000 + (1 if h % 1000000 < ppm % 1000000 else 0)
        if capped:
            assert ppm == 2000000 and n == 2
        if n > 0:
            expect[doc_id] = n
    got = {}
    for r in mixture_unimax_sample(spark, sf_dir).collect():
        got.setdefault(r["doc_id"], []).append(r["copy_idx"])
        assert r["n_copies"] == expect[r["doc_id"]]
    assert {d: len(c) for d, c in got.items()} == expect
    for d, cs in got.items():
        assert sorted(cs) == list(range(len(cs)))


def _py_train_counts(texts, merges):
    """Pair-count frontier after applying a [(pair, sentinel,
    expansion)] merge table — an INDEPENDENT model of the engines'
    chained-replace + expand-and-count dataflow (list-of-symbols, no
    string replace)."""
    from collections import Counter

    expand = {s: x for _, s, x in merges}
    wc = Counter()
    for t in texts:
        for w in (t or "").split():
            wc[w] += 1
    cnt = Counter()
    for w, n in wc.items():
        syms = list(w)
        for pair, sent, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]
                ):
                    out.append(sent)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        disp = [expand.get(c, c) for c in syms]
        for i in range(len(disp) - 1):
            cnt[disp[i] + " " + disp[i + 1]] += n
    return sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]


def test_bpe_train_merges_matches_python_reference(spark, sf_dir):
    from lrmr_spark.catalog.corpus_ops import (
        _bpe_merge_seq,
        _bpe_top_pair,
        bpe_train_merges,
    )

    merges = _bpe_merge_seq()
    assert len(merges) == 4
    # round 1 of the loop must agree with the single-step helper
    a, b = _bpe_top_pair()
    assert merges[0][2] == a + b
    # sentinels are assigned in order and expansions are cumulative:
    # every expansion is built only from raw chars (sentinels resolved)
    for _, sent, expansion in merges:
        assert all(ord(c) >= 32 for c in expansion)
    got = [
        (r["pair"], r["cnt"]) for r in bpe_train_merges(spark, sf_dir).collect()
    ]
    texts = [
        r["text"]
        for r in load(spark, sf_dir, "documents").select("text").collect()
    ]
    assert got == _py_train_counts(texts, merges)
    # no merged pair survives in the final frontier: each round's
    # winner was compressed to a single symbol in every word
    retired = set()
    expand = {s: x for _, s, x in merges}
    for pair, _, _ in merges:
        retired.add(
            expand.get(pair[0], pair[0]) + " " + expand.get(pair[1], pair[1])
        )
    assert all(p not in retired for p, _ in got)


def test_sq8_append_equals_rebuild(spark, sf_dir, tmp_path):
    """write(base) + append(batch) must leave the codes table equal to
    a one-shot write over the full corpus, and a drifted quantizer
    must be rejected at append time."""
    import pytest as _pytest

    from lrmr_spark.catalog.similarity_ops import _sq8_params
    from lrmr_spark.operators import similarity as SIM

    mins, scales = _sq8_params()
    emb = load(spark, sf_dir, "embeddings")
    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")
    SIM.write_sq8_codes(
        emb.filter(F.col("vec_id") % 3 != 0), p_inc, list(mins), list(scales)
    )
    n = SIM.append_sq8_codes(
        emb.filter(F.col("vec_id") % 3 == 0), p_inc, list(mins), list(scales)
    )
    assert n == emb.filter(F.col("vec_id") % 3 == 0).count()
    assert (
        SIM.append_sq8_codes(
            emb.filter(F.col("vec_id") % 3 == 0), p_inc, list(mins), list(scales)
        )
        == 0
    )
    SIM.write_sq8_codes(emb, p_full, list(mins), list(scales))
    inc = {
        (r["vec_id"], tuple(r["codes"]))
        for r in SI.read_part(spark, p_inc, "codes").collect()
    }
    full = {
        (r["vec_id"], tuple(r["codes"]))
        for r in SI.read_part(spark, p_full, "codes").collect()
    }
    assert inc == full
    drifted = [s * 1.0000001 if s else 0.0 for s in scales]
    with _pytest.raises(ValueError, match="quantizer drift"):
        SIM.append_sq8_codes(
            emb.filter(F.col("vec_id") % 3 == 0), p_inc, list(mins), drifted
        )


def test_pq_delete_equals_rebuild_without(spark, sf_dir, tmp_path):
    """delete(ids) must leave the codes table equal to a one-shot
    build over the corpus minus ids, preserve the params, and be
    idempotent."""
    from lrmr_spark.catalog.similarity_ops import _centroids
    from lrmr_spark.operators import similarity as SIM

    cents = [list(c) for c in _centroids()[:4]]
    emb = load(spark, sf_dir, "embeddings")
    p_del = str(tmp_path / "del")
    p_ref = str(tmp_path / "ref")
    SIM.write_pq_codes(emb, p_del, cents, num_sub=8)
    ids = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") % 7 == 0).select("vec_id").collect()
    ]
    n = SIM.delete_pq_codes(spark, p_del, ids)
    assert n == len(ids) > 0
    assert SIM.delete_pq_codes(spark, p_del, ids) == 0
    SIM.write_pq_codes(
        emb.filter(F.col("vec_id") % 7 != 0), p_ref, cents, num_sub=8
    )
    cols = ["vec_id"] + [f"code_{s}" for s in range(8)]
    after = {
        tuple(r[c] for c in cols)
        for r in SI.read_part(spark, p_del, "codes").collect()
    }
    ref = {
        tuple(r[c] for c in cols)
        for r in SI.read_part(spark, p_ref, "codes").collect()
    }
    assert after == ref
    # the params survived the rewrite: the stored read path still works
    meta = SIM.read_pq_codes_meta(spark, p_del)
    assert meta["num_sub"] == 8 and meta["id_col"] == "vec_id"


def test_minhash_content_delete_equals_rebuild_without(spark, sf_dir, tmp_path):
    """Content takedown must leave reps+bands equal to an index built
    over the base corpus minus every doc sharing a takedown doc's
    content, with surviving rep ids untouched."""
    from lrmr_spark.operators import dedup as DD

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    p_del = str(tmp_path / "mh_del")
    p_ref = str(tmp_path / "mh_ref")
    DD.write_minhash_index(
        base, "doc_id", "text", p_del, num_hashes=16, bands=2, fast=False
    )
    takedown = base.filter(F.col("doc_id") % 3 == 0)
    n = DD.delete_minhash_index_content(takedown, p_del, "doc_id", "text")
    assert n > 0
    assert (
        DD.delete_minhash_index_content(takedown, p_del, "doc_id", "text") == 0
    )
    # rebuild reference: base minus every doc whose TOKEN MULTISET
    # matches a takedown doc's (content identity, not id identity)
    from collections import Counter

    taken = {
        tuple(sorted(Counter((r["text"] or "").split()).items()))
        for r in takedown.select("text").collect()
    }
    keep_ids = [
        r["doc_id"]
        for r in base.select("doc_id", "text").collect()
        if tuple(sorted(Counter((r["text"] or "").split()).items())) not in taken
    ]
    DD.write_minhash_index(
        base.filter(F.col("doc_id").isin(keep_ids)),
        "doc_id", "text", p_ref, num_hashes=16, bands=2, fast=False,
    )
    got_reps = {
        (r["_id"], tuple(r["items"]))
        for r in SI.read_part(spark, p_del, "reps").collect()
    }
    ref_reps = {
        (r["_id"], tuple(r["items"]))
        for r in SI.read_part(spark, p_ref, "reps").collect()
    }
    assert got_reps == ref_reps and got_reps
    got_bands = {
        (r["_band"], r["_id"])
        for r in SI.read_part(spark, p_del, "bands").collect()
    }
    ref_bands = {
        (r["_band"], r["_id"])
        for r in SI.read_part(spark, p_ref, "bands").collect()
    }
    assert got_bands == ref_bands
    # the params survived
    assert DD.read_minhash_index_meta(spark, p_del)["num_hashes"] == 16


def test_ann_batch_topk_matches_per_query_single(spark, sf_dir):
    """The one-pass batched top-k must equal Q independent single-query
    runs of the established cosine_topk operator."""
    from lrmr_spark.catalog.similarity_ops import (
        _query_vecs,
        ann_cosine_topk_batch,
    )
    from lrmr_spark.operators import similarity as SIM

    emb = load(spark, sf_dir, "embeddings")
    got = {}
    for r in ann_cosine_topk_batch(spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    assert sorted(got) == [0, 1, 2, 3]
    for qid, q in enumerate(_query_vecs()):
        single = [
            (r["vec_id"], r["score"])
            for r in SIM.cosine_topk(emb, list(q), k=5).collect()
        ]
        assert got[qid] == single


# ------------------------------------------------- line-level dedup
def _py_line_dedup(docs: dict[int, str], width: int, min_df: int):
    """Plain-python reference for line_dedup_rebuild: fixed width-token
    segments, drop every segment whose corpus frequency >= min_df,
    rejoin survivors in order."""
    from collections import Counter

    segs = {}
    for d, t in docs.items():
        ts = t.split()
        segs[d] = [
            " ".join(ts[i : i + width]) for i in range(0, len(ts), width)
        ]
    counts = Counter(s for ss in segs.values() for s in ss)
    out = {}
    for d, ss in segs.items():
        if not ss:
            continue
        kept = [s for s in ss if counts[s] < min_df]
        out[d] = (len(ss), len(ss) - len(kept), " ".join(kept))
    return out


def test_line_dedup_drops_planted_boilerplate_and_rebuilds(spark):
    # the same 4-token "header" segment opens docs 1-3; doc 4 is clean;
    # doc 5 is ENTIRELY boilerplate (header twice) -> empty rebuild
    header = "site nav menu legal"
    docs = {
        1: header + " alpha beta gamma delta",
        2: header + " epsilon zeta eta theta",
        3: header + " iota kappa lambda mu",
        4: "clean1 clean2 clean3 clean4 clean5 clean6 clean7 clean8",
        5: header + " " + header,
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_segs"], r["n_dropped"], r["text_out"])
        for r in TX.line_dedup_rebuild(df, "doc_id", "text", width=4).collect()
    }
    assert got == _py_line_dedup(docs, 4, 2)
    assert got[5] == (2, 2, "")          # all-boilerplate husk
    assert got[4] == (2, 0, docs[4])     # clean doc unchanged
    assert got[1] == (2, 1, "alpha beta gamma delta")


@pytest.mark.parametrize("seed", [0, 1])
def test_line_dedup_random_corpus_matches_reference(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab -> natural seg dups
    docs = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for d in range(1, 25)
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_segs"], r["n_dropped"], r["text_out"])
        for r in TX.line_dedup_rebuild(df, "doc_id", "text", width=3).collect()
    }
    assert got == _py_line_dedup(docs, 3, 2)


# ------------------------------------------------- label propagation
def _py_lpa(edges: list[tuple[int, int]], iterations: int) -> dict[int, int]:
    """Plain-python reference: synchronous rounds, argmax neighbor
    label with smallest-label ties."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)
    for s, d in edges:
        nbrs[d].append(s)
    labels = {n: n for sd in edges for n in sd}
    for _ in range(iterations):
        new = {}
        for node, ins in nbrs.items():
            c = Counter(labels[s] for s in ins)
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[node] = best[0]
        labels.update(new)
    return labels


def test_label_propagation_two_cliques_with_bridge(spark):
    from lrmr_spark.operators.graph import label_propagation

    # two 4-cliques {0..3} and {10..13} joined by one bridge edge: the
    # clique majority out-votes the bridge label by round 2, so each
    # clique converges to its own min label (a triangle is NOT enough —
    # min-label ties let the bridge label invade a 3-clique)
    und = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
        (3, 10),
    ]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, 3).collect()}
    want = _py_lpa(edges, 3)
    assert got == want
    # the plant: each clique converges to its own min label
    assert {got[n] for n in (0, 1, 2, 3)} == {0}
    assert {got[n] for n in (10, 11, 12, 13)} == {10}


@pytest.mark.parametrize("seed", [0, 1])
def test_label_propagation_random_graph_matches_reference(spark, seed):
    import random

    from lrmr_spark.operators.graph import label_propagation

    rng = random.Random(seed)
    nodes = list(range(18))
    und = {
        (min(a, b), max(a, b))
        for _ in range(40)
        for a, b in [(rng.choice(nodes), rng.choice(nodes))]
        if a != b
    }
    edges = [e for ab in und for e in (ab, ab[::-1])]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, 3).collect()}
    assert got == _py_lpa(edges, 3)


def test_label_propagation_directed_keeps_src_only_nodes(spark):
    # DIRECTED input (r6 advice): node 99 has out-edges but no
    # in-edges — it must keep its own label across rounds, not vanish
    # from the output; node 7 is a pure sink that node 99 out-votes.
    from lrmr_spark.operators.graph import label_propagation

    edges = [(99, 7), (99, 7), (0, 7), (0, 1), (1, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, 3).collect()}
    assert got == _py_lpa(edges, 3)
    assert set(got) == {0, 1, 7, 99}  # every node of src ∪ dst present
    assert got[99] == 99  # no votes ever arrive: label carried forward


# ------------------------------------------------- batch perceptron
def _py_perceptron(vecs: list[list[float]], teacher_ppm: list[int], rounds: int):
    """Plain-python reference for perceptron_train: exact-integer
    synchronous batch rounds against the planted teacher."""
    M = 1_000_000
    data = []
    for v in vecs:
        x = [int(round(c * M)) for c in v]
        y = 1 if sum(t * xi for t, xi in zip(teacher_ppm, x)) > 0 else -1
        data.append((x, y))
    dim = len(teacher_ppm)
    w = [0] * dim
    out = []
    for it in range(1, rounds + 1):
        g = [0] * dim
        m = 0
        for x, y in data:
            z = sum(wi * xi for wi, xi in zip(w, x))
            if y * z <= 0:
                m += 1
                for j in range(dim):
                    g[j] += y * x[j]
        w = [wi + gj for wi, gj in zip(w, g)]
        out.append((it, m, sum(abs(wi) for wi in w)))
    return out


def test_perceptron_train_matches_python_model_and_learns(spark):
    import random

    rng = random.Random(7)
    dim = 6
    teacher = [int(round((rng.random() * 2 - 1) * 1_000_000)) for _ in range(dim)]
    vecs = [
        [rng.random() * 2 - 1 for _ in range(dim)] for _ in range(120)
    ]
    df = spark.createDataFrame([(v,) for v in vecs], "embedding array<double>")
    got = [
        (r["iter"], r["n_mistakes"], r["w_l1"])
        for r in SIM.perceptron_train(df, teacher, iterations=4)
        .orderBy("iter")
        .collect()
    ]
    want = _py_perceptron(vecs, teacher, 4)
    assert got == want
    # the probe learns: round 1 marks everything (w=0 -> y*z=0), and
    # the mistake count strictly drops by round 4 on separable data
    assert got[0][1] == 120 and got[3][1] < 40


def test_bloom_decontaminate_has_no_false_negatives(spark):
    from lrmr_spark.catalog import queries

    rows = queries()["corpus_bloom_decontaminate"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "bloom probe emitted no sources"
    for r in rows:
        # a Bloom filter can only over-report membership
        assert r["n_bloom_hits"] >= r["n_true_hits"]
        assert r["n_grams"] >= r["n_bloom_hits"]


def test_kcore_peel_trajectory_on_planted_graph(spark):
    from lrmr_spark.operators.graph import kcore_peel

    # K4 on {0,1,2,3} (a true 3-core) + a path 4-5-6 + a pendant 3-4:
    # round 1 drops the path/pendant fringe, the K4 survives forever
    und = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (3, 4), (4, 5), (5, 6),
    ]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in kcore_peel(df, k=3, rounds=3).orderBy("round").collect()
    ]
    assert got == [(1, 4, 12), (2, 4, 12), (3, 4, 12)]


def test_kcore_peel_collapses_a_tree_to_nothing(spark):
    from lrmr_spark.operators.graph import kcore_peel

    # a star has no 3-core: every leaf has degree 1, and after leaves
    # go the hub is isolated
    und = [(0, i) for i in range(1, 6)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in kcore_peel(df, k=3, rounds=2).orderBy("round").collect()
    ]
    assert got == [(1, 0, 0), (2, 0, 0)]


def test_ivfpq_delete_equals_rebuild_without_and_prunes_empty_lists(
    spark, sf_dir, tmp_path
):
    """delete_ivfpq_index(ids) must equal a one-shot build over the
    corpus minus ids — including dropping any partition directory the
    delete emptied — preserve the params, and be idempotent."""
    from lrmr_spark.catalog.similarity_ops import _centroids
    from lrmr_spark.operators import similarity as SIM

    coarse = [list(c) for c in _centroids()]
    pq_cents = [list(c) for c in _centroids()[:4]]
    emb = load(spark, sf_dir, "embeddings")
    p_del = str(tmp_path / "del")
    p_ref = str(tmp_path / "ref")
    SIM.write_ivfpq_index(emb, p_del, coarse, pq_cents, num_sub=8)
    # takedown = every id in ONE whole inverted list (so the empty-dir
    # branch is exercised) plus the id%7 batch across the others
    codes = SI.read_part(spark, p_del, "codes")
    one_part = codes.select("part").distinct().orderBy("part").first()["part"]
    ids = sorted(
        r["vec_id"]
        for r in codes.filter(
            (F.col("part") == one_part) | (F.col("vec_id") % 7 == 0)
        )
        .select("vec_id")
        .collect()
    )
    n = SIM.delete_ivfpq_index(spark, p_del, ids)
    assert n == len(ids) > 0
    assert SIM.delete_ivfpq_index(spark, p_del, ids) == 0
    SIM.write_ivfpq_index(
        emb.filter(~F.col("vec_id").isin(ids)), p_ref, coarse, pq_cents,
        num_sub=8,
    )
    cols = ["vec_id", "part"] + [f"code_{s}" for s in range(8)]
    after = {
        tuple(r[c] for c in cols)
        for r in SI.read_part(spark, p_del, "codes").collect()
    }
    ref = {
        tuple(r[c] for c in cols)
        for r in SI.read_part(spark, p_ref, "codes").collect()
    }
    assert after == ref
    # the emptied inverted list's directory is gone from the layout
    import os

    assert not os.path.exists(f"{p_del}/codes/part={one_part}")


def _py_hashed_ngram_classifier(docs, teacher, rounds):
    """Plain-python reference for hashed_ngram_classifier: md5-bucket
    unigram+bigram counts, teacher labels, synchronous integer
    perceptron rounds, final scoring."""
    import hashlib

    D = len(teacher)

    def feats(text):
        toks = [t for t in text.split() if t]
        if len(toks) >= 2:
            grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        else:
            grams = toks + [" ".join(toks)]  # shingles' clamped gram
        x = [0] * D
        for g in grams:
            h = hashlib.md5(f"q:{g}".encode()).hexdigest()[:6]
            x[int(h, 16) % D] += 1
        return x

    data = []
    for doc_id, text in docs:
        x = feats(text)
        y = 1 if sum(t * xi for t, xi in zip(teacher, x)) > 0 else -1
        data.append((doc_id, x, y))
    w = [0] * D
    for _ in range(rounds):
        g = [0] * D
        for _, x, y in data:
            if y * sum(wi * xi for wi, xi in zip(w, x)) <= 0:
                for j in range(D):
                    g[j] += y * x[j]
        w = [wi + gi for wi, gi in zip(w, g)]
    out = {}
    for doc_id, x, y in data:
        s = sum(wi * xi for wi, xi in zip(w, x))
        out[doc_id] = (s, y, s > 0)
    return out


def test_hashed_ngram_classifier_matches_python_model(spark):
    from lrmr_spark.catalog.corpus_ops import _QC_TEACHER

    import random

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 60))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    got = {
        r["doc_id"]: (r["score"], r["label"], r["keep"])
        for r in TX.hashed_ngram_classifier(
            df, "doc_id", "text", _QC_TEACHER, iterations=3
        ).collect()
    }
    want = _py_hashed_ngram_classifier(docs, _QC_TEACHER, 3)
    assert got == want
    # the planted teacher must produce a non-trivial class split
    labels = {y for _, y, _ in want.values()}
    assert labels == {1, -1}


def test_phash_index_delete_equals_rebuild_without_content(spark, sf_dir, tmp_path):
    """Content takedown from the stored pHash index must equal the
    index rebuilt WITHOUT every blob carrying the takedown content's
    signatures (whole-cluster removal), preserve the params, and be
    idempotent."""
    from lrmr_spark.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    base = MM.attach_binary_payload(
        docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text"
    )
    takedown = MM.attach_binary_payload(
        docs.filter(F.col("doc_id") % 10 == 1), "doc_id", "text"
    )
    p_del = str(tmp_path / "pdel")
    p_ref = str(tmp_path / "pref")
    MM.write_phash_index(base, p_del)
    n = MM.delete_phash_index_content(takedown, p_del)
    assert n > 0
    assert MM.delete_phash_index_content(takedown, p_del) == 0
    # reference: rebuild from base minus ALL blobs sharing a takedown
    # signature (content removal is by whole signature cluster)
    t_hashes = MM.phash_media(takedown).select("phash").distinct()
    surviving_ids = (
        MM.phash_media(base)
        .join(t_hashes, "phash", "left_anti")
        .select("media_id")
    )
    MM.write_phash_index(
        base.join(surviving_ids, "media_id", "left_semi"), p_ref
    )
    after = {
        (r["phash"], r["media_id"])
        for r in SI.read_part(spark, p_del, "hashes").collect()
    }
    ref = {
        (r["phash"], r["media_id"])
        for r in SI.read_part(spark, p_ref, "hashes").collect()
    }
    assert after == ref and after
    assert SI.open_index(p_del, "phash").params == {"n_bits": 16}


def test_line_index_raises_on_width_drift(spark, tmp_path):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l")], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    TX.write_line_index(df, path, "doc_id", "text", width=3, epoch=0)
    with _pytest.raises(ValueError, match="width drift"):
        TX.write_line_index(df, path, "doc_id", "text", width=5, epoch=1)
    # same width appends fine
    TX.write_line_index(df, path, "doc_id", "text", width=3, epoch=1)


_WIN_COMMON = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"  # a ≥ w+k−1 token run


def _win_docs(spark):
    # two base docs sharing _WIN_COMMON with a batch doc; one base doc
    # with no overlap
    return spark.createDataFrame(
        [
            (0, f"{_WIN_COMMON} alpha beta gamma delta epsilon"),
            (2, f"zeta eta theta iota kappa {_WIN_COMMON}"),
            (4, "lambda mu nu xi omicron pi rho sigma tau upsilon"),
            (1, f"phi chi {_WIN_COMMON} psi omega"),
        ],
        "doc_id long, text string",
    )


def test_winnowing_index_append_equals_rebuild(spark, tmp_path):
    """Postings are per-document, so a two-epoch (write + append)
    index must match EXACTLY like the one-shot rebuild."""
    docs = _win_docs(spark)
    base_a = docs.filter(F.col("doc_id") == 0)
    base_b = docs.filter(F.col("doc_id").isin([2, 4]))
    batch = docs.filter(F.col("doc_id") == 1)
    p_app = str(tmp_path / "app")
    p_one = str(tmp_path / "one")
    TX.write_winnowing_index(base_a, p_app, "doc_id", "text", epoch=0)
    TX.write_winnowing_index(base_b, p_app, "doc_id", "text", epoch=1)
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id") % 2 == 0), p_one, "doc_id", "text"
    )
    got = {
        (r["new_id"], r["base_id"], r["n_shared"])
        for r in TX.match_winnowing_index(batch, p_app, "doc_id", "text").collect()
    }
    want = {
        (r["new_id"], r["base_id"], r["n_shared"])
        for r in TX.match_winnowing_index(batch, p_one, "doc_id", "text").collect()
    }
    assert got == want
    # the shared 10-token run matches both overlap docs, not doc 4
    assert {b for _, b, _ in got} == {0, 2}


def test_winnowing_index_compaction_changes_no_answer(spark, tmp_path):
    docs = _win_docs(spark)
    batch = docs.filter(F.col("doc_id") == 1)
    path = str(tmp_path / "cidx")
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id") == 0), path, "doc_id", "text", epoch=0
    )
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id").isin([2, 4])), path, "doc_id", "text",
        epoch=1,
    )
    before = {
        (r["new_id"], r["base_id"], r["n_shared"])
        for r in TX.match_winnowing_index(batch, path, "doc_id", "text").collect()
    }
    assert TX.compact_winnowing_index(spark, path) == 2
    after = {
        (r["new_id"], r["base_id"], r["n_shared"])
        for r in TX.match_winnowing_index(batch, path, "doc_id", "text").collect()
    }
    assert before == after and before
    # everything folded into the single epoch-0 partition
    post = SI.read_part(spark, path, "postings")
    assert [r["_epoch"] for r in post.select("_epoch").distinct().collect()] == [0]


def test_winnowing_index_raises_on_param_drift(spark, tmp_path):
    import pytest as _pytest

    docs = _win_docs(spark)
    path = str(tmp_path / "didx")
    TX.write_winnowing_index(docs, path, "doc_id", "text", k=3, w=4)
    with _pytest.raises(ValueError, match="parameter drift"):
        TX.write_winnowing_index(docs, path, "doc_id", "text", k=3, w=5, epoch=1)
    with _pytest.raises(ValueError, match="parameter drift"):
        TX.write_winnowing_index(docs, path, "doc_id", "text", k=2, w=4, epoch=1)
    # same parameters append fine
    TX.write_winnowing_index(docs, path, "doc_id", "text", k=3, w=4, epoch=1)


def test_winnowing_index_delete_equals_rebuild_without(spark, tmp_path):
    """Id takedown must equal the index rebuilt without those docs,
    drop an emptied epoch's directory, preserve the params, and be
    idempotent."""
    import os

    docs = _win_docs(spark)
    p_del = str(tmp_path / "wdel")
    p_ref = str(tmp_path / "wref")
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id") == 0), p_del, "doc_id", "text", epoch=0
    )
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id").isin([2, 4])), p_del, "doc_id", "text",
        epoch=1,
    )
    # takedown: all of epoch 0 (doc 0 — exercises the emptied-epoch
    # drop) plus doc 2 from epoch 1
    n = TX.delete_winnowing_index_ids(spark, p_del, [0, 2])
    assert n > 0
    assert TX.delete_winnowing_index_ids(spark, p_del, [0, 2]) == 0
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id") == 4), p_ref, "doc_id", "text", epoch=1
    )
    after = {
        (r["id"], r["fp"])
        for r in SI.read_part(spark, p_del, "postings").collect()
    }
    ref = {
        (r["id"], r["fp"])
        for r in SI.read_part(spark, p_ref, "postings").collect()
    }
    assert after == ref and after
    assert not os.path.exists(f"{p_del}/postings/_epoch=0")
    meta = SI.open_index(p_del, "winnowing").params
    assert (meta["k"], meta["w"], meta["max_df"]) == (3, 4, 8)


def test_winnowing_index_read_df_cap_is_global_across_epochs(spark, tmp_path):
    """A fingerprint whose document frequency only exceeds max_df when
    SUMMED across epochs must be dropped — a write-time per-epoch cap
    would keep it (the reason the cap is a read-side decision)."""
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    epoch0 = spark.createDataFrame(
        [(i, f"{boiler} unique{i} x{i} y{i}") for i in range(0, 4)],
        "doc_id long, text string",
    )
    epoch1 = spark.createDataFrame(
        [(i, f"{boiler} unique{i} x{i} y{i}") for i in range(4, 8)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, f"{boiler} something else entirely")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "gidx")
    # max_df = 5: each epoch alone has df = 4 (under), the union has 8
    TX.write_winnowing_index(epoch0, path, "doc_id", "text", max_df=5, epoch=0)
    TX.write_winnowing_index(epoch1, path, "doc_id", "text", max_df=5, epoch=1)
    got = TX.match_winnowing_index(batch, path, "doc_id", "text", min_shared=1)
    # every fingerprint the batch shares with the corpus is boilerplate
    # (df = 8 > 5), so the global cap must drop ALL matches
    assert got.count() == 0


def test_winnowing_index_df_table_equals_read_time_window(spark, tmp_path):
    """The maintained per-fp df side table (the serving fast path)
    must give the SAME matches as the read-time window fallback after
    EVERY maintenance op — append, epoch replay, delete, compact."""
    import os

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, f"{boiler} unique{i} x{i} y{i}") for i in range(lo, hi)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, f"{boiler} unique2 x2 y2")], "doc_id long, text string"
    )
    path = str(tmp_path / "dfidx")

    def both():
        fast = {
            (r["new_id"], r["base_id"], r["n_shared"])
            for r in TX.match_winnowing_index(
                batch, path, "doc_id", "text", min_shared=1
            ).collect()
        }
        slow = {
            (r["new_id"], r["base_id"], r["n_shared"])
            for r in TX.match_winnowing_index(
                batch, path, "doc_id", "text", min_shared=1,
                use_df_table=False,
            ).collect()
        }
        assert fast == slow
        return fast

    # max_df = 5: the boilerplate run crosses the cap only as epochs
    # accumulate, so the banned set actually changes per op
    TX.write_winnowing_index(mk(0, 4), path, "doc_id", "text", max_df=5, epoch=0)
    assert SI.open_index(path, "winnowing").parts["df"].segments
    assert both()  # df = 4: boilerplate still under the cap, matches
    TX.write_winnowing_index(mk(4, 8), path, "doc_id", "text", max_df=5, epoch=1)
    m = both()  # df = 8: banned; only the unique2 overlap remains
    assert {b for _, b, _ in m} == {2}
    # epoch REPLAY (checkpoint recovery): df delta must net to zero
    TX.write_winnowing_index(mk(4, 8), path, "doc_id", "text", max_df=5, epoch=1)
    assert both() == m
    # delete 5 docs: boilerplate df drops to 3 — back under the cap
    TX.delete_winnowing_index_ids(spark, path, [3, 4, 5, 6, 7])
    m2 = both()
    assert {b for _, b, _ in m2} == {0, 1, 2}
    assert TX.compact_winnowing_index(spark, path) >= 1
    assert both() == m2
    TX.write_winnowing_index(mk(8, 12), path, "doc_id", "text", max_df=5, epoch=2)
    assert both()  # df = 7 again: banned once more


def test_winnowing_banned_bcast_gate_equivalence(spark, tmp_path, monkeypatch):
    """The serving path's banned-fp broadcast is gated on a
    driver-known count of the df side table; forcing the gate to the
    shuffle-anti-join side (threshold -1, so even one banned fp is
    'too big' to broadcast) must give byte-identical matches."""
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} x{i} y{i}") for i in range(8)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, f"{boiler} unique2 x2 y2")], "doc_id long, text string"
    )
    path = str(tmp_path / "gateidx")
    # max_df=5 with 8 docs: the boilerplate fingerprints are banned,
    # so the gate decision actually has a non-empty frame to route
    TX.write_winnowing_index(docs, path, "doc_id", "text", max_df=5)

    def matches():
        return {
            (r["new_id"], r["base_id"], r["n_shared"])
            for r in TX.match_winnowing_index(
                batch, path, "doc_id", "text", min_shared=1
            ).collect()
        }

    bcast = matches()
    assert {b for _, b, _ in bcast} == {2}  # boilerplate banned, unique2 pairs
    monkeypatch.setattr(TX, "_BANNED_BCAST_MAX", -1)
    assert matches() == bcast


def test_winnowing_index_bootstraps_df_for_pre_df_index(spark, tmp_path):
    """An index written BEFORE the df side table existed (any layout
    with no manifest) is never adopted: the next epoch write replaces
    it, so df is built from the new index alone and matches equal a
    fresh index's — merging a delta into a base that predates it would
    silently under-count df, under-ban boilerplate, and emit extra
    match pairs (the sf0.1 regression this pins)."""
    import json
    import os

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, f"{boiler} unique{i} x{i} y{i}") for i in range(lo, hi)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, f"{boiler} unique2 x2 y2")], "doc_id long, text string"
    )
    path = str(tmp_path / "preidx")
    # the pre-manifest layout: a _meta row plus epoch-partitioned
    # postings for docs 0..7, and no df table
    TX.winnowing_postings(mk(0, 8), "doc_id", "text", 3, 4).select(
        F.col("_id").alias("id"), "fp", F.lit(0).alias("_epoch")
    ).write.partitionBy("_epoch").parquet(f"{path}/postings")
    os.makedirs(f"{path}/_meta")
    with open(f"{path}/_meta/part-00000.json", "w") as f:
        json.dump({"k": 3, "w": 4, "max_df": 5, "hash": "md5-8",
                   "id_col": "doc_id"}, f)
    fresh = str(tmp_path / "freshidx")
    for p in (path, fresh):
        TX.write_winnowing_index(mk(4, 8), p, "doc_id", "text", max_df=5, epoch=1)
    assert sorted(os.listdir(path)) == sorted(os.listdir(fresh))

    def matches(p, use_df_table):
        return {
            (r["new_id"], r["base_id"], r["n_shared"])
            for r in TX.match_winnowing_index(
                batch, p, "doc_id", "text", min_shared=1,
                use_df_table=use_df_table,
            ).collect()
        }

    got = matches(path, True)
    assert got == matches(path, False) == matches(fresh, True)
    # boilerplate df = 4 <= 5 in the replacing index: not banned
    assert {b for _, b, _ in got} == {4, 5, 6, 7}


def test_winnowing_index_delete_to_empty_then_reuse(spark, tmp_path):
    """A takedown that empties EVERY epoch leaves a VALIDLY EMPTY
    index: match returns a typed empty frame, compact/delete are
    0-work no-ops, the drift guard still applies, and a later append
    revives the index."""
    import pytest as _pytest

    docs = _win_docs(spark)
    batch = docs.filter(F.col("doc_id") == 1)
    path = str(tmp_path / "empt")
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id").isin([0, 2])), path, "doc_id", "text",
        epoch=0,
    )
    assert TX.delete_winnowing_index_ids(spark, path, [0, 2]) > 0
    got = TX.match_winnowing_index(batch, path, "doc_id", "text")
    assert got.columns == ["new_id", "base_id", "n_shared"]
    assert got.count() == 0
    assert TX.compact_winnowing_index(spark, path) == 0
    assert TX.delete_winnowing_index_ids(spark, path, [0]) == 0
    with _pytest.raises(ValueError, match="parameter drift"):
        TX.write_winnowing_index(docs, path, "doc_id", "text", w=5, epoch=1)
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id") == 0), path, "doc_id", "text", epoch=1
    )
    assert TX.match_winnowing_index(batch, path, "doc_id", "text").count() > 0


def test_winnowing_index_string_id_takedown(spark, tmp_path):
    """Takedown ids pass through at the id column's own type — a
    string-keyed index (URL/UUID ids) must delete cleanly."""
    docs = _win_docs(spark).select(
        F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") == "d1")
    path = str(tmp_path / "sidx")
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id").isin(["d0", "d2"])), path,
        "doc_id", "text", epoch=0,
    )
    before = {
        r["base_id"]
        for r in TX.match_winnowing_index(batch, path, "doc_id", "text").collect()
    }
    assert before == {"d0", "d2"}
    assert TX.delete_winnowing_index_ids(spark, path, ["d0"]) > 0
    after = {
        r["base_id"]
        for r in TX.match_winnowing_index(batch, path, "doc_id", "text").collect()
    }
    assert after == {"d2"}


def test_heavy_hitters_exact_matches_counter_even_when_skew_planted(spark):
    """The two-pass MG output must equal the naive exact answer on an
    adversarial layout: a few heavy tokens drowned in a long tail,
    spread unevenly across partitions (small k stresses the sketch)."""
    from collections import Counter

    rows = []
    # heavy: 'h0'..'h2' with large counts; tail: 300 singletons
    for i, n in ((0, 120), (1, 90), (2, 60)):
        rows.extend([(f"h{i}",)] * n)
    rows.extend([(f"tail{j}",)] for j in range(300))
    rows = [r if isinstance(r, tuple) else r[0] for r in rows]
    docs = [(i, " ".join(t for (t,) in rows[i::7])) for i in range(7)]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    got = [
        (r["token"], r["cnt"])
        for r in TX.heavy_hitters_exact(df, "text", k=16).collect()
    ]
    toks = [t for _, text in docs for t in text.split()]
    n = len(toks)
    c = Counter(toks)
    want = sorted(
        ((t, cnt) for t, cnt in c.items() if cnt > n // 16),
        key=lambda kv: (-kv[1], kv[0]),
    )
    assert got == want
    assert {t for t, _ in got} == {"h0", "h1", "h2"}


def _py_kcore_numbers(edges, k_max, rounds_per_k):
    """Plain-python reference for the bounded sequential peel: level
    k runs rounds_per_k synchronous sweeps on level k-1's survivor
    edges; core(v) = last level v survived."""
    from collections import Counter

    nodes = sorted({n for e in edges for n in e})
    core = {n: 0 for n in nodes}
    e = list(edges)
    for k in range(1, k_max + 1):
        for _ in range(rounds_per_k):
            deg = Counter(s for s, _ in e)
            keep = {n for n, d in deg.items() if d >= k}
            e2 = [(s, d) for s, d in e if s in keep and d in keep]
            if len(e2) == len(e):
                break
            e = e2
        for n in {s for s, _ in e}:
            core[n] = k
    return core


@pytest.mark.parametrize("seed", [0, 3])
def test_kcore_numbers_matches_python_reference(spark, seed):
    import random

    from lrmr_spark.operators.graph import kcore_numbers

    rng = random.Random(seed)
    nodes = list(range(24))
    und = {
        (min(a, b), max(a, b))
        for _ in range(70)
        for a, b in [(rng.choice(nodes), rng.choice(nodes))]
        if a != b
    }
    edges = [e for ab in und for e in (ab, ab[::-1])]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["core"]
        for r in kcore_numbers(df, k_max=4, rounds_per_k=2).collect()
    }
    assert got == _py_kcore_numbers(edges, 4, 2)
    assert max(got.values()) >= 2  # a 70-edge/24-node graph has a 2-core


# ----------------------------------------------- chunking + model store
def test_chunk_documents_spans_and_boundaries(spark):
    """Chunk boundaries: stride walk, contained-tail drop, empty-doc
    drop, single-chunk short doc — and char spans must index the
    whitespace-normalized text EXACTLY."""
    rows_in = [
        (1, "  a bb  ccc dddd e ff\tggg hh "),  # 8 tokens, messy ws
        (2, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 tokens
        (3, ""),  # empty: no chunks
        (4, "only"),  # short: one chunk
    ]
    out = TX.chunk_documents(
        spark.createDataFrame(rows_in, "doc_id long, text string"),
        "doc_id", "text", chunk_tokens=4, overlap=2,
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by
    assert [(r["chunk_idx"], r["chunk_text"]) for r in by[4]] == [(0, "only")]
    # doc 2: starts 0,2,4,6 — start 8 is >= n - overlap, fully
    # contained in the previous window, dropped
    d2 = sorted(by[2], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in d2] == [0, 1, 2, 3]
    assert d2[0]["chunk_text"] == "t0 t1 t2 t3"
    assert d2[-1]["chunk_text"] == "t6 t7 t8 t9"
    norm = {i: " ".join(t.split()) for i, t in rows_in}
    for did, rows in by.items():
        for r in rows:
            assert (
                norm[did][r["char_start"]:r["char_end"]] == r["chunk_text"]
            ), (did, r)
    with pytest.raises(ValueError, match="overlap"):
        TX.chunk_documents(
            spark.createDataFrame(rows_in, "doc_id long, text string"),
            "doc_id", "text", chunk_tokens=4, overlap=4,
        )


def test_chunk_embed_sq8_index_handoff(spark, docs, tmp_path):
    """The chunker's output frame must drive the stored-ANN write side
    end-to-end: chunk → stub-embed → SQ8 codes write → stored top-k."""
    chunks = TX.chunk_documents(docs, "doc_id", "text", 32, 8)
    dims = [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"emb{d}:"), F.col("chunk_text"))), 1, 6
                ),
                16,
                10,
            ).cast("bigint")
            % 1001
            - 500
        ).cast("double")
        for d in range(8)
    ]
    emb8 = chunks.select(
        (F.col("doc_id") * 10000 + F.col("chunk_idx"))
        .cast("bigint")
        .alias("chunk_id"),
        F.array(*dims).alias("embedding"),
    )
    mins, scales = [-500.0] * 8, [1000.0 / 255] * 8
    path = str(tmp_path / "sq8")
    SIM.write_sq8_codes(emb8, path, mins, scales, id_col="chunk_id")
    qv = [float((d * 131 + 7) % 1001 - 500) for d in range(8)]
    qcodes = [
        int(c)
        for c in spark.createDataFrame([(qv,)], "v array<double>")
        .select(SIM.sq8_codes_col(F.col("v"), mins, scales).alias("c"))
        .collect()[0]["c"]
    ]
    top = SIM.sq8_sdc_topk_stored(spark, path, qcodes, mins, scales, k=10).collect()
    assert len(top) == 10
    dists = [r["sdc_dist"] for r in top]
    assert dists == sorted(dists)
    all_ids = {r["chunk_id"] for r in emb8.select("chunk_id").collect()}
    assert {r["chunk_id"] for r in top} <= all_ids


_QM_TEACHER16 = [((j * 37 + 11) % 21) - 10 for j in range(16)]


def test_quality_model_store_load_score_lifecycle(spark, docs, tmp_path):
    """write → load → score from the stored artifact must equal direct
    scoring; retrain ≡ rebuild bit-for-bit; delete is idempotent."""
    path = str(tmp_path / "qm")
    d = docs.limit(60)
    w1 = TX.write_quality_model(d, path, "text", _QM_TEACHER16, iterations=2)
    w2, meta = TX.load_quality_model(spark, path)
    assert w2 == w1 and int(meta["n_buckets"]) == 16
    stored = {
        r["doc_id"]: (r["score"], r["keep"])
        for r in TX.score_with_quality_model(d, path).collect()
    }
    direct = {
        r["doc_id"]: (r["score"], r["score"] > 0)
        for r in d.select(
            "doc_id", TX.hashed_ngram_score("text", w1).alias("score")
        ).collect()
    }
    assert stored == direct and stored
    # retrain ≡ rebuild (exact-integer training is deterministic)
    assert TX.write_quality_model(d, path, "text", _QM_TEACHER16, 2) == w1
    assert TX.delete_quality_model(spark, path)
    with pytest.raises(ValueError, match="no quality model"):
        TX.load_quality_model(spark, path)
    assert not TX.delete_quality_model(spark, path)


def test_quality_model_drift_and_torn_raise(spark, docs, tmp_path):
    """A model trained under a different feature geometry must refuse
    to score; a weights table not covering 0..n-1 is torn."""
    path = str(tmp_path / "qmd")
    d = docs.limit(40)
    TX.write_quality_model(d, path, "text", _QM_TEACHER16, iterations=1)
    # tamper: claim a different bucket-hash convention in the params
    idx = SI.open_index(path, "quality_model")
    SI.commit(
        path, "quality_model",
        {**idx.params, "hash": "xxhash-q-8", "teacher_fp": "deadbeef"},
        idx.parts,
    )
    with pytest.raises(ValueError, match="drift"):
        TX.load_quality_model(spark, path)
    # restore the params, then tear the weights table (drop bucket 0)
    TX.write_quality_model(d, path, "text", _QM_TEACHER16, iterations=1)
    idx = SI.open_index(path, "quality_model")
    kept = idx.read(spark, "weights").filter(F.col("bucket") != 0)
    SI.commit(
        path, "quality_model", idx.params,
        {"weights": SI.write_part(kept, path, "weights")},
    )
    with pytest.raises(ValueError, match="torn"):
        TX.load_quality_model(spark, path)


def test_topk_threshold_bucketed_exact_on_adversarial_inputs(spark):
    """The pre-bucketed threshold must equal the k-th largest VALUE on
    the single-window form's adversarial input — all-distinct scores
    (one histogram row per document), crossing the zero bucket — plus
    all-tied scores and k > N."""
    vals = [(i * 37) % 10007 - 5000 for i in range(10000)]  # distinct
    assert len(set(vals)) == len(vals)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, score long"
    ).repartition(16)
    ranked = sorted(vals, reverse=True)
    for k in (1, 17, 4000, 9999, 10000):
        got = TX.exact_topk_threshold_bucketed(
            df, "score", k, bucket_width=256
        ).collect()[0]["_t"]
        assert got == ranked[k - 1], (k, got, ranked[k - 1])
    # k beyond the corpus: NULL threshold (matches the window form)
    assert (
        TX.exact_topk_threshold_bucketed(df, "score", 10001, 256)
        .collect()[0]["_t"]
        is None
    )
    # massive ties at the threshold value
    tied = spark.createDataFrame(
        [(i, 7 if i < 90 else 9) for i in range(100)], "id long, score long"
    )
    assert (
        TX.exact_topk_threshold_bucketed(tied, "score", 40, 16)
        .collect()[0]["_t"]
        == 7
    )
    assert (
        TX.exact_topk_threshold_bucketed(tied, "score", 10, 16)
        .collect()[0]["_t"]
        == 9
    )


# ------------------------------------------- r11 opt: SQL-built expressions
def test_pq_code_sql_construction_matches_column_api(emb):
    """The r11 optimization round rebuilt _pq_code_col/ivf_assign as
    JVM-parsed SQL strings (construction measured ~12× faster than the
    py4j-per-node Column chain). This pins the arithmetic identity
    against an inline reference copy of the ORIGINAL Column-API
    formulation — left-associated squared-L2, first-min argmin,
    cosine-argmax with array_position tie-breaking."""
    from lrmr_spark.catalog.similarity_ops import _centroids

    coarse = [list(c) for c in _centroids()]
    pq = [list(c) for c in _centroids()[:4]]
    base = emb.filter(F.col("embedding").isNotNull()).limit(200)

    def ref_code_col(vec_col, centroids, num_sub, s):
        dim = len(centroids[0])
        sub_d = dim // num_sub
        dists = []
        for cent in centroids:
            acc = None
            for j in range(sub_d):
                idx = s * sub_d + j + 1
                diff = F.element_at(F.col(vec_col), idx).cast("double") - F.lit(
                    float(cent[s * sub_d + j])
                )
                sq = diff * diff
                acc = sq if acc is None else acc + sq
            dists.append(acc)
        arr = F.array(*dists)
        return (
            F.array_position(arr, F.array_min(arr)).cast("int").alias(f"code_{s}")
        )

    def ref_ivf_assign(vec_col, centroids):
        scores = F.array(
            *[
                SIM.cosine(vec_col, F.array(*[F.lit(float(x)) for x in c]))
                for c in centroids
            ]
        )
        return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")

    got = base.select(
        "vec_id",
        SIM.ivf_assign("embedding", coarse).alias("part"),
        *[SIM._pq_code_col("embedding", pq, 8, s) for s in range(8)],
    ).collect()
    want = base.select(
        "vec_id",
        ref_ivf_assign(F.col("embedding"), coarse).alias("part"),
        *[ref_code_col("embedding", pq, 8, s) for s in range(8)],
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # the Column-arg path of ivf_assign (API compat) agrees with the
    # string-arg fast path
    both = base.select(
        (
            SIM.ivf_assign("embedding", coarse)
            == SIM.ivf_assign(F.col("embedding"), coarse)
        ).alias("eq")
    ).agg(F.min("eq").alias("all_eq")).collect()[0]
    assert both["all_eq"] is True
    # r12: pq_codes itself moved to the parsed-SQL construction (codes
    # AND the rounded min-dist diagnostics) — pin the full projection
    # against the original Column-API formulation
    def ref_dist_col(vec_col, centroids, num_sub, s):
        dim = len(centroids[0])
        sub_d = dim // num_sub
        dists = []
        for cent in centroids:
            acc = None
            for j in range(sub_d):
                idx = s * sub_d + j + 1
                diff = F.element_at(F.col(vec_col), idx).cast(
                    "double"
                ) - F.lit(float(cent[s * sub_d + j]))
                sq = diff * diff
                acc = sq if acc is None else acc + sq
            dists.append(acc)
        arr = F.array(*dists)
        return F.round(F.array_min(arr), 5).alias(f"dist_{s}")

    got_full = SIM.pq_codes(base, pq, num_sub=8).collect()
    want_full = base.select(
        F.col("vec_id"),
        *[
            c
            for s in range(8)
            for c in (
                ref_code_col("embedding", pq, 8, s),
                ref_dist_col("embedding", pq, 8, s),
            )
        ],
    ).collect()
    assert sorted(map(tuple, got_full)) == sorted(map(tuple, want_full))


def test_pq_train_iter_sql_aggs_match_column_api(emb):
    """The r11 optimization round rebuilt pq_train_iter's update stage
    (num_sub*k*(1+sub_d) conditional aggregates) as SQL strings in one
    selectExpr. This pins the result against an inline reference copy
    of the ORIGINAL Column-API formulation (count(when)/sum(when) aggs
    over the same assignment columns) on a single-partition frame, so
    double-sum order is identical and equality is exact."""
    from lrmr_spark.catalog.similarity_ops import _centroids

    pq = [list(c) for c in _centroids()[:4]]
    num_sub, k = 8, len(pq)
    dim = len(pq[0])
    sub_d = dim // num_sub
    base = (
        emb.filter(F.col("embedding").isNotNull()).limit(200).coalesce(1)
    )

    assigned = base.select(
        F.col("embedding"),
        *[
            SIM._pq_code_col("embedding", pq, num_sub, s).alias(f"_c{s}")
            for s in range(num_sub)
        ],
    )
    aggs = []
    for s in range(num_sub):
        for c in range(k):
            hit = F.col(f"_c{s}") == c + 1
            aggs.append(F.count(F.when(hit, F.lit(1))).alias(f"n{s}_{c}"))
            for j in range(sub_d):
                aggs.append(
                    F.sum(
                        F.when(
                            hit,
                            F.element_at(
                                F.col("embedding"), s * sub_d + j + 1
                            ).cast("double"),
                        )
                    ).alias(f"m{s}_{c}_{j}")
                )
    one = assigned.agg(*aggs)
    stack_args = ", ".join(
        f"{s}, {c + 1}, {j + 1}, m{s}_{c}_{j}, n{s}_{c}"
        for s in range(num_sub)
        for c in range(k)
        for j in range(sub_d)
    )
    want = (
        one.selectExpr(
            f"stack({num_sub * k * sub_d}, {stack_args}) "
            "AS (sub, code, dim, msum, n)"
        )
        .filter(F.col("n") > 0)
        .select(
            F.col("sub").cast("bigint"),
            F.col("code").cast("bigint"),
            F.col("dim").cast("bigint"),
            F.round(F.col("msum") / F.col("n"), 5).alias("centroid_val"),
            F.col("n").cast("bigint").alias("n_members"),
        )
        .orderBy("sub", "code", "dim")
        .collect()
    )
    got = SIM.pq_train_iter(base, pq, num_sub).collect()
    assert list(map(tuple, got)) == list(map(tuple, want))


# ------------------------------------------- manifest read hardening
def test_meta_read_empty_dir_raises_torn_not_indexerror(spark, tmp_path):
    """A ``_meta`` dir with no JSON row and no manifest (the torn state
    an interrupted pre-manifest overwrite left) is not an index: a
    direct reader raises a FileNotFoundError naming the path, not a
    bare IndexError, and the absence-branching callers treat it as
    absent."""
    import os

    path = str(tmp_path / "idx")
    os.makedirs(f"{path}/_meta")
    open(f"{path}/_meta/_SUCCESS", "w").close()
    with pytest.raises(FileNotFoundError, match="no manifest") as e:
        SIM.read_pq_codes_meta(spark, path)
    assert path in str(e.value)
    with pytest.raises(FileNotFoundError, match="no manifest"):
        DD.read_minhash_index_meta(spark, path)
    # winnowing: absence and a pre-manifest layout both read as None
    assert TX._open_winnowing(path) is None
    assert TX._open_winnowing(str(tmp_path / "absent")) is None
    # quality model: folds into its documented ValueError
    with pytest.raises(ValueError, match="no quality model"):
        TX.load_quality_model(spark, path)


def test_meta_read_corrupt_record_fails_fast(spark, tmp_path):
    """A corrupt or field-missing manifest must fail AT READ TIME with
    a ValueError instead of surfacing later as a misleading drift
    error or a TypeError."""
    import json
    import os

    path = str(tmp_path / "idx2")
    os.makedirs(path)
    with open(f"{path}/_MANIFEST-v00001", "w") as f:
        f.write("{not valid json\n")
    with pytest.raises(ValueError, match="corrupt manifest"):
        SIM.read_pq_codes_meta(spark, path)
    with open(f"{path}/_MANIFEST-v00002", "w") as f:
        json.dump({"family": "pq", "params": {"num_sub": 8}, "parts": {}}, f)
    with pytest.raises(ValueError, match="params lack"):
        SIM.read_pq_codes_meta(spark, path)
    with open(f"{path}/_MANIFEST-v00003", "w") as f:
        json.dump({"family": "pq", "params": {}}, f)
    with pytest.raises(ValueError, match="missing field"):
        SIM.read_pq_codes_meta(spark, path)


def test_dlit_sql_nonfinite_literals_round_trip(spark):
    """_dlit_sql must render inf/-inf/nan as Spark-parseable spellings
    — Python repr ('inf'/'nan') casts to NULL (r11 ADVICE)."""
    from lrmr_spark.operators.similarity import _dlit_sql

    row = spark.range(1).selectExpr(
        f"{_dlit_sql(float('inf'))} AS pinf",
        f"{_dlit_sql(float('-inf'))} AS ninf",
        f"{_dlit_sql(float('nan'))} AS nan",
        f"{_dlit_sql(1.5)} AS v",
    ).first()
    assert row["pinf"] == float("inf")
    assert row["ninf"] == float("-inf")
    assert row["nan"] != row["nan"]  # NaN
    assert row["v"] == 1.5


# --------------------------------------- single-pass rewrite swap (r12)