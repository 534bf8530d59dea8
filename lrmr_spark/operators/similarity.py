"""Embedding similarity search: brute-force cosine top-k (baseline) and
LSH-bucketed ANN (scale path), plus embedding-cosine near-dup pairs.

Scale design:
- Brute-force top-k: the query vector broadcasts; each partition
  computes dot products JVM-side (zip_with/aggregate — no Python, no
  UDF) and emits its local top-k; TakeOrderedAndProject merges k·P
  candidates on the driver. Linear scan, embarrassingly parallel.
- LSH (random hyperplanes): deterministic planes derived from md5 so
  bucketing is reproducible everywhere; candidates = same-bucket rows,
  then exact cosine re-rank. Shuffles only (bucket, id) pairs.
- Cosine near-dup: pairwise within a blocking key (label / LSH bucket)
  — never an unblocked cross join.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import stored_index as SI
from ..sources import parallelize
from ._iterloop import release_checkpoint

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "hyperplanes",
    "lsh_bucket",
    "lsh_topk",
    "ivf_assign",
    "ivf_topk",
    "cosine_dedup_pairs",
    "semdedup",
    "pq_codes",
    "pq_adc_topk",
    "write_pq_codes",
    "read_pq_codes_meta",
    "pq_adc_topk_stored",
    "pq_rerank_topk",
    "ivfpq_rerank_topk",
    "append_pq_codes",
    "append_ivfpq_index",
    "write_ivfpq_index",
    "ivfpq_adc_topk",
    "sq8_codes_col",
    "sq8_sdc_dist_col",
    "write_sq8_codes",
    "sq8_sdc_topk_stored",
    "append_sq8_codes",
    "delete_pq_codes",
]


# The params each stored-index family's manifest must carry.
_PQ_PARAMS = ("num_sub", "dim", "n_centroids", "codebook_md5", "id_col")
_IVFPQ_PARAMS = (
    "num_sub", "dim", "n_coarse", "n_pq_centroids", "coarse_md5", "pq_md5",
    "by_residual", "id_col",
)
_SQ8_PARAMS = ("dim", "params_md5", "id_col")


def _centroid_fingerprint(centroids: list[list[float]]) -> str:
    """md5 over the exact float reprs — the codebook identity a stored
    codes table is bound to (repr round-trips float64 exactly)."""
    payload = repr([[float(x) for x in c] for c in centroids])
    return hashlib.md5(payload.encode()).hexdigest()


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, accumulated in double,
    JVM-side (zip_with + aggregate; no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (never NaN, never an ANSI error) when
    either vector has zero norm — try_divide evaluates each argument
    once (a when(norm > 0, ...) guard would re-evaluate the norm HOFs,
    which don't CSE), and a NULL score sorts last under desc ordering
    and fails every >= threshold filter, so degenerate vectors drop out
    of top-k and pair queries instead of crashing (ANSI mode) or
    ranking first (non-ANSI: 0/0 = NaN sorts ABOVE every double)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


# ---------------------------------------------------------------------------
# Fast expression CONSTRUCTION (r11 optimization round, measured): building
# the per-dimension literal arithmetic through the Column API costs one py4j
# round-trip per node — the 8-column PQ encode projection (≈2.6k nodes at
# dim 64) spent ~2.3 s per call in DRIVER-side construction alone (vs 0.7 s
# of Catalyst analysis), which was ~50% of ann_ivfpq_topk's whole measured
# build. The same expressions rendered as ONE SQL string and parsed JVM-side
# via F.expr construct in ~0.19 s with a bit-identical result fingerprint
# (plan/value equality pinned by tests/test_operators.py::
# test_pq_code_sql_construction_matches_column_api). Rules that keep the
# arithmetic EXACTLY the reference Column formulation:
#   - double literals render as CAST('<repr>' AS DOUBLE) — string→double
#     parse is per-element exact (pitfall 18), repr round-trips float64;
#   - accumulators seed with CAST(0.0 AS DOUBLE) (a bare SQL 0.0 would
#     parse as DECIMAL and change the fold's type);
#   - '+' chains stay left-associated (SQL and the Column fold agree).
def _dlit_sql(x: float) -> str:
    x = float(x)
    # Spark's string→double cast rejects Python repr spellings of the
    # non-finite values ('inf'/'nan' → NULL, or an ANSI error) where
    # F.lit(float('inf')) worked — map to the Spark-parseable
    # 'Infinity'/'NaN' so pathological codebooks/queries keep their
    # values instead of silently narrowing to NULL (r11 ADVICE).
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"CAST('{x!r}' AS DOUBLE)"


def _darr_sql(vals) -> str:
    return "array(" + ", ".join(_dlit_sql(v) for v in vals) + ")"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _l2_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def _cosine_sql(a: str, b: str) -> str:
    return f"try_divide({_dot_sql(a, b)}, {_l2_sql(a)} * {_l2_sql(b)})"


def _dlit_arr(vals) -> Column:
    """One-literal array<double> — value-identical to
    ``F.array(*[F.lit(float(v)) for v in vals])`` (fingerprint-verified)
    at O(1) py4j round-trips instead of O(dim)."""
    return F.lit([float(v) for v in vals])


def cosine_topk(
    df: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.
    Output: (id, score) — score rounded to 6 so results are
    engine-portable; ordering tiebreaks on id."""
    q = _dlit_arr(query_vec)
    scored = df.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: weight[p][d] derives
    from md5(f"{p}:{d}") — reproducible in any engine/language (the
    oracle SQL inlines the same literals)."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            # first 8 hex chars → [0, 2^32) → centered to [-0.5, 0.5)
            row.append(int(h[:8], 16) / 2**32 - 0.5)
        planes.append(row)
    return planes


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection bucket key: one bit per hyperplane,
    concatenated into a string key. Pure column expressions."""
    bits = []
    for row in planes:
        w = F.array(*[F.lit(x) for x in row])
        bits.append(F.when(dot(vec_col, w) > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: restrict the exact cosine re-rank to the query's LSH
    bucket. At 100 TB the bucket column is precomputed/partitioned-by so
    a query touches 1/2^planes of the data; here it's computed inline.
    Approximate: recall depends on num_planes (probe multiple buckets /
    multi-table LSH to raise it)."""
    planes = hyperplanes(num_planes, len(query_vec))
    qbits = "".join(
        "1" if sum(w * x for w, x in zip(row, query_vec)) > 0 else "0" for row in planes
    )
    q = _dlit_arr(query_vec)
    bucketed = df.withColumn("_bucket", lsh_bucket(F.col(vec_col), planes))
    return (
        bucketed.filter(F.col("_bucket") == qbits)
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivf_assign(vec_col: Column | str, centroids: list[list[float]]) -> Column:
    """IVF partition assignment: index (0-based) of the nearest
    centroid by cosine. Pure column expressions — at scale the
    assignment is precomputed and the table partitioned by it, so a
    query probes only its centroid's partition (coarse quantizer of an
    IVF index; centroids would come from k-means — any deterministic
    list works for the plumbing).

    Pass the vector column NAME (str) on hot construction paths: the
    expression then renders as one SQL string parsed JVM-side (the
    _dlit_sql/_cosine_sql discipline above — value-identical, O(1)
    py4j round-trips). A Column argument keeps the original builder
    for composed expressions. The str form must be a TOP-LEVEL column
    name: it renders as one backtick-quoted identifier, so a dotted
    name stays a single column where F.col("a.b") would resolve a
    nested field — pass F.col(...) for nested vector columns (all
    current callers pass simple names; r11 ADVICE)."""
    # Argmax via a scores ARRAY, not a when-chain: a chained
    # best_idx/best_score fold embeds every cosine() HOF expression in
    # all later when() branches, and HOF lambdas never enter codegen so
    # Catalyst can't CSE them — measured ~100× re-evaluation (4 s for
    # 500 rows at k=8). The array form evaluates each cosine twice
    # (position + max). array_position returns the FIRST index holding
    # the max — identical tie-break to the strict-> update loop.
    if isinstance(vec_col, str):
        v = f"`{vec_col}`"
        scores = (
            "array("
            + ", ".join(_cosine_sql(v, _darr_sql(c)) for c in centroids)
            + ")"
        )
        return F.expr(
            f"CAST(array_position({scores}, array_max({scores})) - 1 AS INT)"
        )
    scores = F.array(
        *[cosine(vec_col, _dlit_arr(c)) for c in centroids]
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: score only vectors assigned to the ``n_probe``
    centroids nearest the query. Recall grows with n_probe; n_probe =
    len(centroids) degrades to exact brute force."""
    import math

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        # zero-norm → -inf (rank last), mirroring the NULL-safe column
        # cosine(): a zero query/centroid must not raise ZeroDivisionError
        return d / n if n else float("-inf")

    order = sorted(range(len(centroids)), key=lambda i: -py_cos(centroids[i], query_vec))
    probes = order[:n_probe]
    q = _dlit_arr(query_vec)
    assigned = df.withColumn("_part", ivf_assign(vec_col, centroids))
    return (
        assigned.filter(F.col("_part").isin(probes))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def cosine_dedup_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: exact pairwise cosine *within a
    blocking key* (a label, or an LSH bucket at scale).
    Output: (id_a, id_b, score) with id_a < id_b, score ≥ threshold."""
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), F.col(block_col).alias("_b")
    )
    left, right = base.alias("l"), base.alias("r")
    return (
        left.join(right, on="_b")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.round(cosine(F.col("l._v"), F.col("r._v")), 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse k-means clustering, then within-cluster
    cosine pruning. A vector is PRUNED iff some lower-id vector in the
    SAME cluster has cosine ≥ threshold with it — the deterministic
    keep-first rule (the paper keeps one item per semantic-duplicate
    group; a fixed tie-break makes the output reproducible and
    oracle-checkable).

    Output: one row per input vector — (id_col, cluster int, kept bool),
    ordered by id.

    100 TB design: the cluster id is the ONLY shuffle key — each vector
    rides exactly one hash-partition exchange to its cluster, and the
    quadratic pairwise cosine runs strictly within a cluster (cluster
    count scales with the corpus under a fixed-capacity quantizer, so
    per-cluster work is bounded; there is never a global cross join).
    At production scale the assignment is precomputed once and stored
    as a partition column (see ann_ivf_pruned_df) so re-runs skip the
    quantizer entirely.

    The result is materialized via localCheckpoint and the persisted
    assignment table released before returning (the minhash_lsh_pairs
    discipline).
    """
    # persist: the assigned table is referenced three times (both
    # pair-join sides + the final left join), and ivf_assign's HOF
    # cosine expressions never enter codegen so Catalyst can't CSE
    # them across branches — without the persist the k-centroid
    # quantizer runs 3× per row (measured 9 s for 500×8 at k=8; ~1 s
    # persisted).
    # EXACT-DUP COLLAPSE FIRST (the minhash_lsh_pairs discipline):
    # identical vectors — endemic in real corpora (re-crawled pages,
    # template embeddings) and 40× the rows in the salted scale dirs —
    # collapse to one representative (min id) BEFORE the quadratic
    # within-cluster stage, shrinking pair volume quadratically
    # (sf1: 25.2 M pair evals → ~15 k; measured 97 s → ~2 s). Exactly
    # semantics-preserving: a non-rep member is always pruned (its rep
    # has a lower id and cosine 1±ulp ≥ any threshold, and round(·,6)
    # absorbs the ulp), and a rep is pruned iff a lower-id rep in its
    # cluster scores ≥ t — any pruning non-rep witness x implies its
    # own rep x₀ ≤ x with the identical score, so witnesses lose
    # nothing by collapsing.
    groups = df.select(F.col(id_col).alias("_mid"), F.col(vec_col).alias("_gv"))
    rep_ids = groups.groupBy("_gv").agg(F.min("_mid").alias("_rid"))
    # per-rep state; the pair score reuses per-row precomputed norms so
    # each candidate pair costs ONE interpreted-HOF dot, not three
    # (dot+2 norms measured 97 s vs 35 s at 25 M pairs before the
    # collapse made the point moot — both optimizations kept).
    # zero-norm guard: a degenerate all-zero embedding divides by zero
    # in both the quantizer cosine and the pairwise cosine — under
    # ANSI mode that's a hard error, and under non-ANSI it's NaN,
    # which sorts above every double so NaN >= threshold would be TRUE
    # and one zero vector would silently prune its whole cluster. Zero
    # vectors carry no direction: they land in sentinel cluster -1,
    # prune nothing and are never pruned. The guards are CASE WHEN
    # (not separate filters): conditional branches are the only
    # construct Spark guarantees won't evaluate the guarded division,
    # while Catalyst freely reorders/merges filter predicates.
    base = rep_ids.select(
        F.col("_rid").alias("_id"),
        F.col("_gv").alias("_v"),
        l2_norm(F.col("_gv")).alias("_nrm"),
    ).select(
        "_id",
        "_v",
        "_nrm",
        F.when(F.col("_nrm") > 0, ivf_assign("_v", centroids))
        .otherwise(F.lit(-1))
        .alias("_c"),
    ).persist()
    left, right = base.alias("l"), base.alias("r")
    safe_score = F.when(
        (F.col("l._nrm") > 0) & (F.col("r._nrm") > 0),
        dot(F.col("l._v"), F.col("r._v")) / (F.col("l._nrm") * F.col("r._nrm")),
    )  # NULL when either side is degenerate → never >= threshold
    pruned = (
        left.join(right, on="_c")
        .filter(F.col("l._id") < F.col("r._id"))
        .filter(F.round(safe_score, 6) >= threshold)
        .select(F.col("r._id").alias("_pruned"))
        .distinct()
    )
    rep_out = base.join(pruned, base["_id"] == pruned["_pruned"], "left").select(
        F.col("_id").alias("_rid"),
        F.col("_c").alias("cluster"),
        F.col("_pruned").isNull().alias("_rep_kept"),
    )
    out = (
        groups.join(rep_ids, "_gv")
        .join(rep_out, "_rid")
        .select(
            F.col("_mid").alias(id_col),
            F.col("cluster"),
            (F.col("_rep_kept") & (F.col("_mid") == F.col("_rid"))).alias("kept"),
        )
        .orderBy(id_col)
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    return out


def _sub_dists(
    vec_col: str, centroids: list[list[float]], s: int, sub_d: int
) -> list[Column]:
    """Per-centroid squared-L2 distance expressions for sub-space ``s``:
    unrolled left-associated double arithmetic over ``element_at`` —
    the exact association order the oracle SQL mirrors, so distances
    are bit-equal across engines. Shared by pq_codes (encode) and
    pq_train_iter (train), which must agree on assignment."""
    dists = []
    for cent in centroids:
        acc: Column | None = None
        for j in range(sub_d):
            idx = s * sub_d + j + 1  # element_at is 1-based
            diff = F.element_at(F.col(vec_col), idx).cast("double") - F.lit(
                float(cent[s * sub_d + j])
            )
            sq = diff * diff
            acc = sq if acc is None else acc + sq
        dists.append(acc)
    return dists


def pq_train_iter(
    df: DataFrame,
    centroids: list[list[float]],
    num_sub: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration of PRODUCT-QUANTIZER codebook training (the
    FAISS ``ProductQuantizer::train`` step, Jégou et al. 2011 §III):
    independently in each of ``num_sub`` sub-spaces, assign every
    vector's sub-vector to its nearest current sub-centroid (squared
    L2, first-min-wins — the IDENTICAL `_sub_dists` arithmetic
    pq_codes encodes with, so train and encode can never disagree on
    assignment), then recompute each sub-centroid as the per-dimension
    mean of its members. Full training = a driver loop over this
    operator feeding the updated codebook back in — the
    embedding_kmeans_iter shape, once per sub-space. This completes
    the PQ lifecycle: train (here) → encode (pq_codes) → search
    (pq_adc_topk) → evaluate (pq_recall_at_k / distortion).

    Output: (sub, code, dim, centroid_val, n_members) — code 1-based
    as everywhere in the PQ family, dim 1-based WITHIN the sub-space,
    centroid_val rounded 5; (sub, code) pairs with zero members are
    omitted (their centroid is undefined — production training
    reseeds them from a random member, a driver-side policy).

    Scale shape: ONE aggregation over one scan — the assignment is
    pure codegen'd column expressions and the update is
    num_sub × k × sub_d conditional sums (256 bounded agg columns at
    the 8×4×8 default) with map-side partial aggregation; NO explode
    (a posexplode formulation would re-evaluate the assignment per
    generated row — ARCHITECTURE pitfall 12 — and multiply scan rows
    ×num_sub before the combine). The post-agg stack runs on ONE row.
    """
    dim = len(centroids[0])
    if num_sub <= 0 or dim % num_sub != 0:
        raise ValueError(
            f"num_sub={num_sub} must evenly divide the embedding "
            f"dimension {dim} (assignment would silently truncate)"
        )
    sub_d = dim // num_sub
    k = len(centroids)
    src = df.filter(F.col(vec_col).isNotNull())
    # Assignment reuses _pq_code_col's parsed-SQL rendering (identical
    # left-associated arithmetic, shared with pq_codes); the update's
    # num_sub*k*(1+sub_d) aggregate columns are likewise rendered as
    # SQL strings in ONE selectExpr — the Column-API construction of
    # those 288 aggs paid one py4j round-trip per expression node per
    # round (the pathology measured for the encode projection).
    assigned = src.select(
        F.col(vec_col),
        *[
            _pq_code_col(vec_col, centroids, num_sub, s).alias(f"_c{s}")
            for s in range(num_sub)
        ],
    )
    agg_exprs = []
    for s in range(num_sub):
        for c in range(k):
            hit = f"(_c{s} = {c + 1})"
            agg_exprs.append(f"count(CASE WHEN {hit} THEN 1 END) AS n{s}_{c}")
            for j in range(sub_d):
                agg_exprs.append(
                    f"sum(CASE WHEN {hit} THEN "
                    f"CAST(element_at(`{vec_col}`, {s * sub_d + j + 1}) "
                    f"AS DOUBLE) END) AS m{s}_{c}_{j}"
                )
    one = assigned.selectExpr(*agg_exprs)
    stack_args = ", ".join(
        f"{s}, {c + 1}, {j + 1}, m{s}_{c}_{j}, n{s}_{c}"
        for s in range(num_sub)
        for c in range(k)
        for j in range(sub_d)
    )
    stacked = one.selectExpr(
        f"stack({num_sub * k * sub_d}, {stack_args}) "
        "AS (sub, code, dim, msum, n)"
    )
    return (
        stacked.filter(F.col("n") > 0)
        .select(
            F.col("sub").cast("bigint").alias("sub"),
            F.col("code").cast("bigint").alias("code"),
            F.col("dim").cast("bigint").alias("dim"),
            F.round(F.col("msum") / F.col("n"), 5).alias("centroid_val"),
            F.col("n").cast("bigint").alias("n_members"),
        )
        .orderBy("sub", "code", "dim")
    )


def pq_codes(
    df: DataFrame,
    centroids: list[list[float]],
    num_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization code assignment (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the vector into
    ``num_sub`` contiguous sub-vectors and assign each to its nearest
    sub-centroid by squared L2 — the compression step that turns a
    64-dim float32 embedding into ``num_sub`` small codes (8 bytes)
    for billion-scale ANN, where the re-rank scans codes instead of
    raw vectors via per-query ADC lookup tables.

    ``centroids`` are FULL-width vectors (code c's sub-centroid for
    sub-space s is its s-th slice) — the IVF convention this catalog
    already uses, so one deterministic centroid set serves both.

    Plan: ZERO shuffles, zero HOFs, one narrow projection. Every
    sub-distance is an unrolled codegen'd arithmetic expression over
    ``element_at`` (float32 → double is exact, and the 8-term sum is
    left-associated identically in the SQL oracle, so distances are
    bit-equal across engines); the per-sub argmin is
    ``array_position(dists, array_min(dists))`` — first-min-wins, no
    when-chain blowup (ARCHITECTURE pitfall 10). Output: one row per
    vector — (id, code_0..code_{S-1} int, dist_0..dist_{S-1} = that
    sub's min squared-L2, rounded 5).
    """
    dim = len(centroids[0])
    if num_sub <= 0 or dim % num_sub != 0:
        raise ValueError(
            f"num_sub={num_sub} must evenly divide the embedding "
            f"dimension {dim} — a remainder would silently drop the "
            f"trailing {dim % num_sub if num_sub > 0 else dim} dims "
            "from quantization"
        )
    # Construction rendered as JVM-parsed SQL (the _pq_code_col /
    # _dlit_sql discipline): the Column-API form of this projection
    # measured ~2.3 s of driver-side py4j round-trips PER CALL — the
    # ann_pq_append_topk lifecycle calls it three times (write, append,
    # idempotent re-append), so the whole entry paid ~7 s of
    # data-size-independent construction (EXP_CRUD_PHASES.json, r12).
    # Arithmetic identity with the original Column chain is pinned by
    # test_pq_code_sql_construction_matches_column_api (codes AND dists).
    cols: list[Column] = [F.col(id_col)]
    for s in range(num_sub):
        arr = _pq_dists_sql(vec_col, centroids, num_sub, s)
        cols.append(_pq_code_col(vec_col, centroids, num_sub, s))
        cols.append(
            F.expr(f"round(array_min({arr}), 5)").alias(f"dist_{s}")
        )
    return df.select(*cols)


def _adc_dist_col(
    query: list[float],
    centroids: list[list[float]],
    num_sub: int,
    sub_d: int,
) -> Column:
    """The ADC approximate-distance expression over ``code_{s}``
    columns: the query's lookup table of squared sub-distances —
    lut[s][c] = ||query_s − centroid_c,s||², computed ONCE driver-side
    in exact float64 (the same literals the oracle SQL embeds) — summed
    left-associated via ``num_sub`` element_at indexings. Shared by
    pq_adc_topk and pq_recall_at_k so the two rank with bit-identical
    arithmetic."""
    lut = [
        [
            sum(
                (query[s * sub_d + j] - c[s * sub_d + j]) ** 2
                for j in range(sub_d)
            )
            for c in centroids
        ]
        for s in range(num_sub)
    ]
    adist: Column | None = None
    for s in range(num_sub):
        term = F.element_at(
            _dlit_arr(lut[s]), F.col(f"code_{s}")
        )
        adist = term if adist is None else adist + term
    return adist


def pq_recall_at_k(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    ks: tuple[int, ...] = (10, 25, 50, 100, 200),
    k: int = 10,
    num_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The recall@k evaluation sweep for the two-stage PQ read path:
    for each shortlist size k′ in ``ks``, how many of the exact cosine
    top-k land in the ADC top-k′ shortlist? Because any true-top-k
    member that survives into the shortlist necessarily survives the
    exact re-rank (at most k−1 others can outscore it), re-ranked
    recall@k EQUALS shortlist recall — so this one number is the k′
    tuning curve an operator reads before fixing the production
    shortlist size (the FAISS nprobe/k′ sweep, run corpus-side).

    Output: (k_prime, hits) — one row per k′, hits ∈ [0, k],
    monotonically non-decreasing in k′ by construction.

    Scale shape: ADC ranking is the pq_adc_topk scan (LUT literals,
    per-partition top-max(k′) heap via orderBy+limit →
    TakeOrderedAndProject — never a global sort); the exact top-k is
    the cosine_topk scan. Everything after the two limits — the
    row_number window, the hit join, the k′ fanout — runs on
    ≤ max(k′) + k rows, driver-scale regardless of corpus size.
    """
    from pyspark.sql import Window as W

    dim = len(centroids[0])
    if num_sub <= 0 or dim % num_sub != 0:
        raise ValueError(
            f"num_sub={num_sub} must evenly divide the embedding "
            f"dimension {dim} (pq_codes would silently truncate)"
        )
    codes = pq_codes(
        df.filter(F.col(vec_col).isNotNull()), centroids, num_sub, id_col, vec_col
    )
    adist = _adc_dist_col(query, centroids, num_sub, dim // num_sub)
    shortlist = (
        codes.select(F.col(id_col), adist.alias("_ad"))
        .orderBy(F.asc_nulls_last("_ad"), F.asc(id_col))
        .limit(max(ks))
    )
    # the rank window runs AFTER the limit: ≤ max(k′) rows, so the
    # single-partition global window is bounded, not a scale hazard
    ranked = shortlist.withColumn(
        "_ra",
        F.row_number().over(
            W.orderBy(F.asc_nulls_last("_ad"), F.asc(id_col))
        ),
    )
    exact = cosine_topk(df, query, k=k, id_col=id_col, vec_col=vec_col).select(
        id_col
    )
    hit = ranked.join(exact, id_col).select("_ra")
    kdf = parallelize(df.sparkSession, [(int(x),) for x in ks], "k_prime bigint not null")
    return (
        kdf.join(hit, F.col("_ra") <= F.col("k_prime"), "left")
        .groupBy("k_prime")
        .agg(F.count("_ra").cast("bigint").alias("hits"))
        .orderBy("k_prime")
    )


def pq_adc_topk(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    num_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k (the ADC read path of Jégou et al.
    2011): approximate squared-L2 between the query and every vector is
    the sum of ``num_sub`` LOOKUP-TABLE entries selected by the
    vector's PQ codes — the table (num_sub × n_centroids squared
    distances between query sub-vectors and sub-centroids) is computed
    ONCE driver-side and enters the plan as literals, so the per-row
    work is ``num_sub`` array indexings and adds: no vector arithmetic
    touches the corpus at query time. In production the codes are a
    stored 8-byte column and this scan never reads raw embeddings;
    here codes derive inline via ``pq_codes`` (one narrow projection).

    Output: (id, adist) — the k smallest approximate distances,
    ties broken by id, via orderBy+limit → TakeOrderedAndProject
    (per-partition heap + driver merge, never a global sort).
    """
    dim = len(centroids[0])
    if num_sub <= 0 or dim % num_sub != 0:
        raise ValueError(
            f"num_sub={num_sub} must evenly divide the embedding "
            f"dimension {dim} (pq_codes would silently truncate)"
        )
    sub_d = dim // num_sub
    # NULL embeddings are EXCLUDED, not ranked last: their codes are
    # NULL, and Spark 4's element_at treats a NULL column index like -1
    # (returns the LAST array element, not NULL — verified on 4.1.2),
    # which would assign degenerate rows a silently bogus distance.
    codes = pq_codes(
        df.filter(F.col(vec_col).isNotNull()), centroids, num_sub, id_col, vec_col
    )
    adist = _adc_dist_col(query, centroids, num_sub, sub_d)
    return (
        codes.select(F.col(id_col), adist.alias("_ad"))
        .orderBy(F.asc_nulls_last("_ad"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("_ad", 5).alias("adist"))
    )


def write_pq_codes(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    num_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ codes table ONCE: ``path/codes`` holds
    (id, code_0..code_{S-1}) — num_sub small ints per vector, the
    8-byte payload billion-scale ANN scans instead of raw embeddings.
    The dist_s diagnostic columns are dropped at write time; the read
    path needs only codes.

    The codebook identity (md5 over exact centroid reprs), num_sub and
    dim are the manifest's params (the write_minhash_index
    discipline), so the stored table is
    self-describing and pq_adc_topk_stored raises on codebook/param
    drift instead of silently scoring against the wrong centroids —
    codes are meaningless outside their codebook."""
    code_cols = [f"code_{s}" for s in range(num_sub)]
    # NULL embeddings never enter the index: their codes would be NULL
    # and element_at(lut, NULL) resolves like index -1 on Spark 4
    # (silently wrong distance, not NULL — see pq_adc_topk)
    codes = SI.write_part(
        pq_codes(
            df.filter(F.col(vec_col).isNotNull()), centroids, num_sub, id_col, vec_col
        ).select(id_col, *code_cols),
        path,
        "codes",
    )
    params = {
        "num_sub": int(num_sub),
        "dim": int(len(centroids[0])),
        "n_centroids": int(len(centroids)),
        "codebook_md5": _centroid_fingerprint(centroids),
        "id_col": id_col,
    }
    SI.commit(path, "pq", params, {"codes": codes})


def read_pq_codes_meta(spark, path: str) -> dict:
    """The parameters a stored PQ codes table was built with
    (write_pq_codes' manifest params)."""
    return dict(SI.open_index(path, "pq", _PQ_PARAMS).params)


def pq_adc_topk_stored(
    spark,
    path: str,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
) -> DataFrame:
    """PQ asymmetric-distance top-k over a STORED codes table — the
    production read path: the scan touches ONLY the (id, codes) parquet
    written by write_pq_codes; raw embeddings are never read (plan-
    pinned in tests: the scan's ReadSchema has no embedding column).
    Per-query work: one driver-side num_sub×n_centroids lookup table,
    then num_sub array indexings + adds per stored row,
    TakeOrderedAndProject for the top-k — query cost independent of
    the original dimension.

    ``centroids`` must be the codebook the codes were written with:
    the stored codebook fingerprint is checked and a mismatch raises
    (codes index into THIS codebook; scoring them against another
    would be silently wrong, the match_minhash_index drift
    discipline)."""
    idx = SI.open_index(path, "pq", _PQ_PARAMS)
    meta = idx.params
    fp = _centroid_fingerprint(centroids)
    if fp != meta["codebook_md5"]:
        raise ValueError(
            f"codebook drift: stored codes at {path!r} were written "
            f"with codebook {meta['codebook_md5']} but the query "
            f"supplied {fp} — ADC lookup tables must be built from "
            "the codebook the codes index into"
        )
    num_sub, dim = meta["num_sub"], meta["dim"]
    if len(query) != dim:
        raise ValueError(f"query dim {len(query)} != stored dim {dim}")
    sub_d = dim // num_sub
    id_col = meta["id_col"]
    lut = [
        [
            sum(
                (query[s * sub_d + j] - c[s * sub_d + j]) ** 2
                for j in range(sub_d)
            )
            for c in centroids
        ]
        for s in range(num_sub)
    ]
    # defensively drop NULL-code rows: element_at with a NULL index
    # acts like -1 on Spark 4 → silently wrong distance, not NULL
    codes = idx.read(spark, "codes").filter(F.col("code_0").isNotNull())
    adist: Column | None = None
    for s in range(num_sub):
        term = F.element_at(
            _dlit_arr(lut[s]), F.col(f"code_{s}")
        )
        adist = term if adist is None else adist + term
    return (
        codes.select(F.col(id_col), adist.alias("_ad"))
        .orderBy(F.asc_nulls_last("_ad"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("_ad", 5).alias("adist"))
    )


def pq_rerank_topk(
    emb_df: DataFrame,
    path: str,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    k_prime: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN read path: ADC SHORTLIST → exact RE-RANK — the
    standard production composition (Jégou et al. 2011 §VII pair PQ
    with a verification pass; every FAISS deployment re-ranks an ADC
    shortlist with exact distances): stage 1 scans ONLY the stored
    8-byte PQ codes (pq_adc_topk_stored — ReadSchema excludes
    embeddings, plan-pinned) for the k′ approximate-nearest candidate
    ids; stage 2 computes the EXACT cosine against raw embeddings for
    ONLY those k′ ids and emits the exact top-k of the shortlist.

    The k′ ids come back to the driver (bounded: k′ rows of one id
    column, the read_pq_codes_meta class of driver-side read) and
    enter stage 2 as an ``isin`` literal predicate, so the embeddings
    scan is driven by the shortlist: the In-filter pushes into the
    parquet scan (PushedFilters, plan-pinned in tests/test_plans.py)
    and row-group min/max statistics skip everything else — at
    billion scale the raw-embedding table is touched for ~k′ rows,
    never scanned. An empty shortlist (empty/all-NULL index) returns
    an empty (id, score) frame rather than an isin() error.

    Quality: exact-cosine ordering REPAIRS ADC quantization error
    inside the shortlist, so recall@k vs brute force equals the
    SHORTLIST's recall — the k′ knob trades recall against stage-2
    reads. Measured at sf0.01 (500 vectors, the catalog's deliberately
    coarse 4-centroid × 8-sub codebook = 16 bits/vector): ADC-only
    top-10 shares 2/10 with brute force; re-ranked recall@10 is 4/10
    at k′=50, 6/10 at k′=100, 7/10 at k′=150, 8/10 at k′=200 —
    monotone in k′ by construction, and the re-rank doubles recall at
    the SAME candidate budget because exact ordering inside the
    shortlist is free of quantization error. A production codebook
    (256 centroids × 8–16 subs) starts from far higher shortlist
    recall; the knob behaves the same way.

    Output: (id, score) — exact cosine rounded to 6, ties broken by
    id, same shape as cosine_topk."""
    spark = emb_df.sparkSession
    shortlist = pq_adc_topk_stored(spark, path, query, centroids, k=k_prime)
    ids = [r[0] for r in shortlist.select(shortlist.columns[0]).collect()]
    return _exact_rerank(emb_df, ids, query, k, id_col, vec_col)


def ivfpq_rerank_topk(
    emb_df: DataFrame,
    path: str,
    query: list[float],
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    k: int = 10,
    k_prime: int = 50,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """pq_rerank_topk over the partitioned IVF-PQ index — the full
    FAISS-style production query: n_probe partition directories pruned
    at storage level × codes-only ADC scan for the k′ shortlist, then
    exact cosine on raw embeddings fetched for ONLY the shortlist ids
    (the same pushed-In stage 2; see pq_rerank_topk for the recall and
    pushdown story — here shortlist recall is additionally bounded by
    the probe set, the standard IVF trade). Works over both raw and
    residual encodings (the shortlist stage reads by_residual from the
    stored params)."""
    spark = emb_df.sparkSession
    shortlist = ivfpq_adc_topk(
        spark, path, query, coarse_centroids, pq_centroids,
        k=k_prime, n_probe=n_probe,
    )
    ids = [r[0] for r in shortlist.select(shortlist.columns[0]).collect()]
    return _exact_rerank(emb_df, ids, query, k, id_col, vec_col)


def _exact_rerank(
    emb_df: DataFrame,
    ids: list,
    query: list[float],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Stage 2 shared by pq_rerank_topk / ivfpq_rerank_topk: exact
    cosine over ONLY the shortlist ids (In-literal predicate → parquet
    pushdown), exact top-k, empty-shortlist-safe."""
    if not ids:
        return emb_df.select(
            F.col(id_col), F.lit(None).cast("double").alias("score")
        ).limit(0)
    q = _dlit_arr(query)
    return (
        emb_df.filter(F.col(id_col).isin(ids))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _stored_ids(spark, idx, id_col: str) -> DataFrame:
    """The stored id column of a codes index, renamed to ``id_col`` —
    the narrow side of a first-writer-wins anti-join."""
    return idx.read(spark, "codes").select(F.col(idx.params["id_col"]).alias(id_col))


def _commit_append(idx, path: str, out: DataFrame) -> int:
    """Append ``out`` (already id-deduped against the index) as new
    codes segments under one manifest commit; returns rows appended."""
    out = out.localCheckpoint(eager=True)  # one computation serves count + write
    n_new = out.count()
    if n_new:
        codes = idx.parts["codes"]
        new = SI.write_part(out, path, "codes", key=codes.key)
        SI.commit(path, idx.family, idx.params, {"codes": codes.plus(new)})
    release_checkpoint(out)
    return n_new


def append_pq_codes(
    new_df: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Fold a new batch of embeddings into a stored PQ codes table —
    the ANN twin of append_minhash_index (the daily-crawl loop: match/
    query against the index, THEN append the batch so tomorrow's
    queries see it). Quantization parameters and the codebook come
    from the stored params; a codebook whose fingerprint disagrees
    with the stored one raises (appended codes MUST index into the
    codebook the table was built with — mixing codebooks scores
    silently wrong distances). Returns the number of rows appended.

    Semantics: FIRST-WRITER-WINS on id. A batch row whose id already
    has stored codes appends nothing (re-delivered crawl batches are
    idempotent); NULL embeddings and wrong-dimension vectors are
    excluded exactly as at write time. Codes are a pure deterministic
    function of (vector, codebook), so append ≡ full rebuild for any
    id-disjoint batch history — asserted in tests/test_operators.py.

    Scale shape: the anti-join scans ONLY the stored id column
    (column-pruned parquet read; codes never load), the new batch is
    quantized by the same zero-shuffle codegen projection as
    write_pq_codes, and the append is one new segment."""
    spark = new_df.sparkSession
    idx = SI.open_index(path, "pq", _PQ_PARAMS)
    meta = idx.params
    fp = _centroid_fingerprint(centroids)
    if fp != meta["codebook_md5"]:
        raise ValueError(
            f"codebook drift: stored codes at {path!r} were written with "
            f"codebook {meta['codebook_md5']} but the append supplied {fp} "
            "— appended codes must index into the stored codebook"
        )
    num_sub, dim, sid = meta["num_sub"], meta["dim"], meta["id_col"]
    fresh = new_df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).join(_stored_ids(spark, idx, id_col), id_col, "left_anti")
    return _commit_append(
        idx,
        path,
        pq_codes(fresh, centroids, num_sub, id_col, vec_col).select(
            F.col(id_col).alias(sid), *[f"code_{s}" for s in range(num_sub)]
        ),
    )


def _open_ivfpq(path: str, coarse_centroids, pq_centroids, who: str):
    """The stored IVF-PQ index, checked against both codebooks."""
    idx = SI.open_index(path, "ivfpq", _IVFPQ_PARAMS)
    if idx.params["coarse_md5"] != _centroid_fingerprint(coarse_centroids):
        raise ValueError(
            "coarse-codebook drift: the stored index was partitioned by a "
            f"different coarse quantizer than the {who} supplied"
        )
    if idx.params["pq_md5"] != _centroid_fingerprint(pq_centroids):
        raise ValueError(
            "pq-codebook drift: stored codes index a different PQ codebook "
            f"than the {who} supplied"
        )
    return idx


def append_ivfpq_index(
    new_df: DataFrame,
    path: str,
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """append_pq_codes for the partitioned IVF-PQ layout
    (write_ivfpq_index): new vectors are coarse-assigned, (optionally
    residual-)quantized with the exact write-path expressions, and
    appended as new segments of their inverted lists (``part`` keys).
    Both codebook fingerprints are checked against the stored params
    (drift raises); first-writer-wins on id; append ≡ rebuild for
    id-disjoint batches (same determinism argument as append_pq_codes,
    asserted in tests). Returns rows appended."""
    spark = new_df.sparkSession
    idx = _open_ivfpq(path, coarse_centroids, pq_centroids, "append")
    meta = idx.params
    fresh = new_df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == meta["dim"])
    ).join(_stored_ids(spark, idx, id_col), id_col, "left_anti")
    return _commit_append(
        idx,
        path,
        _ivfpq_encode(
            fresh, coarse_centroids, pq_centroids, meta["num_sub"],
            meta["by_residual"], id_col, vec_col,
        ).withColumnRenamed(id_col, meta["id_col"]),
    )


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    num_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
) -> None:
    """Materialize the composed IVF-PQ index — the FAISS-style
    billion-scale ANN layout (Jégou et al. 2011 §V: inverted lists
    selected by a coarse quantizer, entries stored as PQ codes): each
    vector is assigned to its nearest coarse centroid (the partition
    column, so the directory layout IS the inverted list) and stored as
    ``num_sub`` PQ codes.

    ``by_residual=False`` (default) quantizes the raw vector — the
    simpler layout whose ADC table is independent of the probed list.
    ``by_residual=True`` quantizes the residual vec − coarse[part]
    (FAISS's default): residual magnitudes are smaller than raw
    vectors, so the same codebook quantizes finer; the query then
    builds one ADC table PER PROBED LIST (the paper's asymmetric
    distance vs the list's own residual frame). The residual is
    materialized ONCE per row (zip_with against the part-selected
    coarse centroid) behind a checkpoint barrier, then quantized by
    the ordinary literal code expressions — the two rejected
    formulations are recorded in the barrier comment below.

    A query then (a) prunes to n_probe partition DIRECTORIES (storage-
    level pruning, not a runtime filter) and (b) scans ~9 bytes/vector
    of codes instead of raw embeddings — compounding the two read-path
    reductions this catalog already proves separately
    (ann_ivf_pruned_topk, ann_pq_stored_topk).

    The params record BOTH codebook fingerprints + num_sub +
    by_residual; ivfpq_adc_topk raises on drift (codes and partitions
    are meaningless outside the codebooks that produced them)."""
    if len(pq_centroids[0]) % num_sub != 0:
        raise ValueError(
            f"num_sub={num_sub} must evenly divide the embedding "
            f"dimension {len(pq_centroids[0])}"
        )
    out = _ivfpq_encode(
        df.filter(F.col(vec_col).isNotNull()),  # NULLs excluded at write time (see write_pq_codes)
        coarse_centroids, pq_centroids, num_sub, by_residual, id_col, vec_col,
    )
    params = {
        "num_sub": int(num_sub),
        "dim": int(len(pq_centroids[0])),
        "n_coarse": int(len(coarse_centroids)),
        "n_pq_centroids": int(len(pq_centroids)),
        "coarse_md5": _centroid_fingerprint(coarse_centroids),
        "pq_md5": _centroid_fingerprint(pq_centroids),
        "by_residual": bool(by_residual),
        "id_col": id_col,
    }
    codes = SI.write_part(out, path, "codes", key="part")
    SI.commit(path, "ivfpq", params, {"codes": codes})


def _ivfpq_encode(
    df: DataFrame,
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    num_sub: int,
    by_residual: bool,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVF-PQ encode projection shared by write_ivfpq_index and
    append_ivfpq_index: (id, part, code_0..code_{S-1}) — coarse
    assignment + (optionally residual) PQ codes, arithmetically
    identical between the initial write and every later append (codes
    are deterministic in (vector, codebooks), which is what makes
    append ≡ rebuild)."""
    assigned = df.withColumn(
        "_part", ivf_assign(vec_col, coarse_centroids)
    )
    if by_residual:
        # materialize the residual ONCE per row, behind a checkpoint
        # barrier: downstream, every code column references the
        # residual array num_sub × n_cent × sub_d times, and without
        # the barrier projection collapse would inline the zip_with
        # (and ivf_assign's interpreted-HOF cosines behind _part) into
        # EVERY reference (pitfall 12's class). Two rejected
        # alternatives, measured at the sf0.1 write: a per-TERM
        # literal CASE over part (~2048 branch dispatches/row, 19 s)
        # and a per-PART duplicated argmin under one outer CASE (8×
        # the expression tree — a 677 KB plan whose analysis/codegen
        # dominated, 36 s). This formulation: ~5 s.
        coarse_lookup = F.element_at(
            F.lit([[float(x) for x in cc] for cc in coarse_centroids]),
            F.col("_part") + 1,
        )
        assigned = assigned.withColumn(
            "_res",
            F.zip_with(
                F.col(vec_col), coarse_lookup, lambda x, y: x.cast("double") - y
            ),
        ).localCheckpoint(eager=False)
        code_src = "_res"
    else:
        code_src = vec_col
    # assignment + all code columns in ONE projection (zero shuffles —
    # the partitioned write's own clustering is the only movement);
    # _pq_code_col is pq_codes' own code expression, shared so the two
    # write paths stay arithmetically identical
    return assigned.select(
        F.col(id_col),
        F.col("_part").alias("part"),
        *[
            _pq_code_col(code_src, pq_centroids, num_sub, s)
            for s in range(num_sub)
        ],
    )


def _pq_code_col(
    vec_col: str, centroids: list[list[float]], num_sub: int, s: int
) -> Column:
    """The code_s column expression pq_codes builds, exposed so callers
    can compose it with other columns in ONE projection (identical
    arithmetic: left-associated squared-L2, first-min-wins argmin).

    Rendered as ONE SQL string parsed JVM-side (the _dlit_sql
    discipline above): the Column-API construction of the 8-column
    encode projection measured ~2.3 s of py4j round-trips per call —
    the dominant cost of the whole index build — vs ~0.19 s for the
    parsed form, value-fingerprint-identical (pinned by
    test_pq_code_sql_construction_matches_column_api)."""
    arr = _pq_dists_sql(vec_col, centroids, num_sub, s)
    return F.expr(
        f"CAST(array_position({arr}, array_min({arr})) AS INT)"
    ).alias(f"code_{s}")


def _pq_dists_sql(
    vec_col: str, centroids: list[list[float]], num_sub: int, s: int
) -> str:
    """SQL ``array(...)`` of per-centroid squared-L2 distances for
    sub-space ``s`` — the string twin of _sub_dists, shared by
    _pq_code_col (argmin codes) and pq_codes (codes + min dists) so
    encode/train/serve agree on the arithmetic by construction."""
    dim = len(centroids[0])
    sub_d = dim // num_sub
    dists = []
    for cent in centroids:
        terms = []
        for j in range(sub_d):
            idx = s * sub_d + j + 1
            diff = (
                f"(CAST(element_at(`{vec_col}`, {idx}) AS DOUBLE) - "
                f"{_dlit_sql(cent[s * sub_d + j])})"
            )
            terms.append(f"({diff} * {diff})")
        # ' + '.join keeps the left-associated fold of the original
        # Column chain (IEEE addition is order-sensitive)
        dists.append(" + ".join(terms))
    return "array(" + ", ".join(dists) + ")"


def ivfpq_adc_topk(
    spark,
    path: str,
    query: list[float],
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-PQ query over the stored index (write_ivfpq_index): pick the
    ``n_probe`` coarse centroids nearest the query (driver-side cosine
    over the bounded codebook — the same probe rule as ivf_topk), scan
    ONLY those partition directories (plan-pinned PartitionFilters) and
    ONLY the code columns (plan-pinned ReadSchema — no embedding), and
    rank by the ADC lookup-table distance: num_sub array indexings +
    adds per candidate row, TakeOrderedAndProject for the top-k.
    For a by_residual index the table is built PER PROBED LIST (ADC
    against q − coarse[p]; Jégou 2011 §V) and the row's list picks its
    table through an n_probe-branch CASE on the partition column —
    still pure literal indexing, no vector arithmetic at query time.
    Codebook drift between write and query raises."""
    import math

    idx = _open_ivfpq(path, coarse_centroids, pq_centroids, "query")
    row = idx.params
    num_sub, dim = int(row["num_sub"]), int(row["dim"])
    if len(query) != dim:
        raise ValueError(f"query dim {len(query)} != stored dim {dim}")
    id_col = row["id_col"]
    sub_d = dim // num_sub

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        # zero-norm → -inf (centroid ranks last), matching the guarded
        # python model in the residual-roundtrip test and the NULL-safe
        # column cosine() — never ZeroDivisionError
        return d / n if n else float("-inf")

    probes = sorted(
        range(len(coarse_centroids)),
        key=lambda i: -py_cos(coarse_centroids[i], query),
    )[:n_probe]
    by_residual = row["by_residual"]

    def make_lut(origin: list[float]) -> list[list[float]]:
        # lut[s][c] = || (query − origin)_s − pqc_s ||², left-assoc sums
        return [
            [
                sum(
                    (query[s * sub_d + j] - origin[s * sub_d + j] - c[s * sub_d + j]) ** 2
                    for j in range(sub_d)
                )
                for c in pq_centroids
            ]
            for s in range(num_sub)
        ]

    zero = [0.0] * dim
    luts = {
        p: make_lut(coarse_centroids[p] if by_residual else zero)
        for p in probes
    }
    codes = idx.read(spark, "codes").filter(
        F.col("part").isin(probes) & F.col("code_0").isNotNull()
    )
    # NOTE on n_probe growth: the by_residual branch builds one CASE
    # arm per probed list per sub-space (num_sub × n_probe branches).
    # Linear and negligible at realistic n_probe ≤ 32 (256 arms of
    # literal indexing); if n_probe ever approaches n_coarse, switch
    # to a broadcast (part → lut_s) map-literal lookup instead of the
    # when-chain — same semantics, one element_at per term.
    adist: Column | None = None
    for s in range(num_sub):
        if by_residual:
            term = None
            for p in probes:
                indexed = F.element_at(
                    _dlit_arr(luts[p][s]),
                    F.col(f"code_{s}"),
                )
                term = (
                    F.when(F.col("part") == p, indexed)
                    if term is None
                    else term.when(F.col("part") == p, indexed)
                )
        else:
            term = F.element_at(
                _dlit_arr(luts[probes[0]][s]),
                F.col(f"code_{s}"),
            )
        adist = term if adist is None else adist + term
    return (
        codes.select(F.col(id_col), adist.alias("_ad"))
        .orderBy(F.asc_nulls_last("_ad"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("_ad", 5).alias("adist"))
    )


def sq8_codes_col(vec_col: Column, mins: list[float], scales: list[float]) -> Column:
    """Per-dimension 8-bit scalar quantization (the open-source FAISS
    ScalarQuantizer QT_8bit layout): ``code_j = clamp(floor((x_j −
    min_j) · scale_j), 0, 255)`` with ``scale_j = 255 / (max_j −
    min_j)`` supplied as driver literals (a degenerate constant
    dimension gets scale 0 → code 0). One byte per dimension — 4×
    smaller than float32 with no codebook training, the standard
    middle ground between raw vectors and PQ.

    Float discipline: subtraction and multiply are IEEE double ops on
    (float32→double value, double literal) — bit-identical across
    engines — and floor/clamp are exact, so codes hash-match without
    tolerance. All three lambdas reference only their lambda variables
    and literal arrays (pitfall-16-safe: no computed subtree is
    re-evaluated per element)."""
    mins_arr = _dlit_arr(mins)
    sc_arr = _dlit_arr(scales)
    shifted = F.zip_with(vec_col, mins_arr, lambda x, mn: x.cast("double") - mn)
    raw = F.zip_with(shifted, sc_arr, lambda v, sc: F.floor(v * sc))
    return F.transform(
        raw,
        lambda c: F.greatest(F.lit(0), F.least(F.lit(255), c)).cast("bigint"),
    )


def sq8_sdc_dist_col(codes_col: Column, qcodes: list[int]) -> Column:
    """Symmetric (code-to-code) squared-L2 distance between a stored
    SQ8 code array and the pre-quantized query codes — pure BIGINT
    arithmetic (max 64 · 255² < 2^23), so cross-engine equality is
    exact with no float tolerance. This is FAISS's SDC scoring for
    scalar quantizers; the asymmetric variant would reconstruct
    ``min_j + (code_j + 0.5)/scale_j`` floats — SDC keeps the entire
    hot loop in integers, which is also what a SIMD/codegen engine
    wants at scale."""
    # one-literal array<bigint> (the _dlit_arr rule): O(1) py4j
    # round-trips instead of O(dim); value-identical to the unrolled
    # F.array(*[F.lit(int(c))...]) form
    q_arr = F.lit([int(c) for c in qcodes])
    return F.aggregate(
        F.zip_with(codes_col, q_arr, lambda c, q: (c - q) * (c - q)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _sq8_fingerprint(mins: list[float], scales: list[float]) -> str:
    """md5 over the exact per-dim (min, scale) reprs — the SQ8 analogue
    of _centroid_fingerprint: codes are meaningless outside their
    quantization parameters."""
    import hashlib

    payload = ";".join(f"{m!r},{s!r}" for m, s in zip(mins, scales))
    return hashlib.md5(payload.encode()).hexdigest()


def write_sq8_codes(
    df: DataFrame,
    path: str,
    mins: list[float],
    scales: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the SQ8 codes table ONCE: part ``codes`` holds
    (id, codes array<bigint> of 64 bytes-worth) — the write half of
    the write_pq_codes discipline, including the NULL-embedding write
    filter. The params persist dim + the parameter fingerprint so
    reads raise on quantizer drift."""
    codes = SI.write_part(
        df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col),
            sq8_codes_col(F.col(vec_col), mins, scales).alias("codes"),
        ),
        path,
        "codes",
    )
    params = {
        "dim": int(len(mins)),
        "params_md5": _sq8_fingerprint(mins, scales),
        "id_col": id_col,
    }
    SI.commit(path, "sq8", params, {"codes": codes})


def _open_sq8(path: str, mins, scales, who: str):
    """The stored SQ8 index, checked against the quantizer."""
    idx = SI.open_index(path, "sq8", _SQ8_PARAMS)
    fp = _sq8_fingerprint(mins, scales)
    if fp != idx.params["params_md5"]:
        raise ValueError(
            f"quantizer drift: stored SQ8 codes at {path!r} were "
            f"written with params {idx.params['params_md5']} but the "
            f"{who} supplied {fp}"
        )
    return idx


def sq8_sdc_topk_stored(
    spark,
    path: str,
    qcodes: list[int],
    mins: list[float],
    scales: list[float],
    k: int = 10,
) -> DataFrame:
    """Symmetric-distance top-k over a STORED SQ8 codes table — the
    production read path: the scan touches ONLY (id, codes); raw
    embeddings are never read (plan-pinned like pq_adc_topk_stored).
    The stored parameter fingerprint must match the supplied
    quantizer or the read raises (codes index into THIS quantizer's
    grid). Distance stays exact BIGINT; NULL-code rows are dropped
    defensively."""
    idx = _open_sq8(path, mins, scales, "query")
    dim, id_col = idx.params["dim"], idx.params["id_col"]
    if len(qcodes) != dim:
        raise ValueError(f"query dim {len(qcodes)} != stored {dim}")
    codes = idx.read(spark, "codes").filter(F.col("codes").isNotNull())
    return (
        codes.select(
            F.col(id_col), sq8_sdc_dist_col(F.col("codes"), qcodes).alias("sdc_dist")
        )
        .orderBy(F.asc_nulls_last("sdc_dist"), F.asc(id_col))
        .limit(k)
    )


def append_sq8_codes(
    new_df: DataFrame,
    path: str,
    mins: list[float],
    scales: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Fold a new batch of embeddings into a stored SQ8 codes table —
    append_pq_codes for the scalar quantizer: the stored parameter
    fingerprint must match the supplied quantizer (drift raises —
    appended codes must live on the same per-dim grid);
    FIRST-WRITER-WINS on id, so re-delivered batches append nothing;
    NULL/wrong-dim vectors are excluded exactly as at write time.
    Codes are deterministic in (vector, params), so append ≡ rebuild
    for id-disjoint batches. The anti-join scans only the stored id
    column; quantization is the same zero-shuffle projection as
    write_sq8_codes. Returns rows appended."""
    spark = new_df.sparkSession
    idx = _open_sq8(path, mins, scales, "append")
    fresh = new_df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == idx.params["dim"])
    ).join(_stored_ids(spark, idx, id_col), id_col, "left_anti")
    return _commit_append(
        idx,
        path,
        fresh.select(
            F.col(id_col).alias(idx.params["id_col"]),
            sq8_codes_col(F.col(vec_col), mins, scales).alias("codes"),
        ),
    )


def _delete_code_ids(spark, path: str, family: str, params: tuple, ids) -> int:
    """Remove ``ids`` from a stored codes index (PQ, SQ8, IVF-PQ) and
    return the rows removed. ONE scan of the segments that can hold
    the ids serves the removed count and the survivors; the survivors
    land as new segments replacing those under one commit, and a
    delete that matched nothing skips the rewrite (idempotent
    re-sends; r12, EXP_CRUD_PHASES). For a keyed (IVF-PQ) index only
    the inverted lists that hold the ids are read and rewritten; a
    list the delete empties simply has no segment afterwards."""
    idx = SI.open_index(path, family, params)
    sid, codes = idx.params["id_col"], idx.parts["codes"]
    takedown = [int(i) for i in ids]
    hit, kept = codes, codes.empty()
    if codes.key is not None:
        affected = {
            r[0]
            for r in idx.read(spark, "codes")
            .filter(F.col(sid).isin(takedown))
            .select(codes.key)
            .distinct()
            .collect()
        }
        if not affected:
            return 0
        hit = codes.where_key(lambda p: p in affected)
        kept = codes.where_key(lambda p: p not in affected)
    flagged = (
        idx.read(spark, "codes", hit)
        .withColumn("_rm", F.col(sid).isin(takedown))
        .localCheckpoint(eager=True)
    )
    n_removed = flagged.filter(F.col("_rm")).count()
    if n_removed:
        survivors = SI.write_part(
            flagged.filter(~F.col("_rm")).drop("_rm"), path, "codes", key=codes.key
        )
        SI.commit(path, family, idx.params, {"codes": kept.plus(survivors)})
    release_checkpoint(flagged)  # pitfall 19
    return int(n_removed)


def delete_pq_codes(spark, path: str, ids: list[int]) -> int:
    """Remove ids from a stored PQ codes table — the TAKEDOWN half of
    the index lifecycle (write → append → DELETE → query): a removal
    request (DMCA, GDPR, contamination finding) must disappear from
    tomorrow's ANN results without a full rebuild. The codes table
    minus the ids is written as a new segment and committed in place
    of the old one. Returns the number of rows removed; idempotent.

    Scale shape: one column-pruned scan + an isin/anti filter (a
    BROADCAST of the bounded takedown list — removal batches are
    thousands, not corpus-scale) + one rewrite. A production variant
    with frequent small deletes would tombstone instead and compact
    periodically; the rewrite IS the compaction."""
    return _delete_code_ids(spark, path, "pq", _PQ_PARAMS, ids)


def perceptron_train(
    df: DataFrame,
    teacher_ppm: list[int],
    iterations: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed batch perceptron (Rosenblatt 1958; the batch variant
    is Novikoff's mistake-bound setting) in EXACT integer arithmetic —
    the iterative-training primitive for linear probes over an
    embedding corpus. Labels come from a planted linear teacher
    (``teacher_ppm``, ppm-scaled integer direction): y = sign(t·x),
    x = round(embedding · 1e6) — so the task is teacher RECOVERY,
    separable by construction, and the mistake count per round is a
    meaningful learning curve (this corpus's own label column is NOT
    linearly separable — float LR plateaus at the majority class — so
    a real-label probe would only demonstrate noise).

    Why a perceptron and not logistic GD: every quantity here is a sum
    of BIGINT products — associative, engine- and partition-order
    independent, hash-exact. Logistic needs exp (libm, not correctly
    rounded, diverges across engines) or a rational sigmoid whose
    fixed-point steps we measured oscillating or flat after 3 rounds;
    the perceptron's mistake-driven update learns in 2 rounds
    (mistakes 500 → 45 → 24 → 20 at sf0.01, cos(w, teacher) ≈ 0.96)
    and stays in ℤ. No bias term: a batch bias on near-balanced signs
    oscillates sign-flips the whole predictor (measured); the teacher
    is homogeneous, so the probe is too.

    Synchronous round: z = w·x; rows with y·z ≤ 0 are mistakes; the
    round's update is w += Σ_mistakes y·x, applied once (64 BIGINT
    sums + a count cross the driver per round — the kmeans_iter /
    pagerank driver-loop posture). Output: one row per round
    (iter, n_mistakes, w_l1) where n_mistakes is measured BEFORE the
    round's update and w_l1 = Σ_j |w_j| AFTER it — an exact-integer
    fingerprint of the whole weight trajectory.

    Overflow bound: |x_j| ≤ ~1e6·|emb|_∞, |w_j| grows ≤ rounds·n·1e5
    on unit vectors, z ≤ 64·|w|·|x| — at 1e9 rows and 4 rounds z stays
    < 2^63 for unit-norm embeddings; beyond that scale the update
    needs a per-round DIV normalization (documented, not needed at
    any tested SF).

    Scale shape: the working set (x array + y) is materialized once
    with localCheckpoint (each lazy re-reference would re-run the
    parquet scan + rounding transform per round — pitfall 12); each
    round is ONE scan with 65 map-side-combinable aggregates via
    element_at (no explode: a posexplode here re-evaluates the
    mistake predicate per generated row and multiplies rows 64× —
    the kmeans lesson)."""
    dim = len(teacher_ppm)
    x = F.transform(
        F.col(vec_col),
        lambda v: F.round(v.cast("double") * 1000000.0).cast("bigint"),
    )
    t_lit = F.array(*[F.lit(int(t)).cast("bigint") for t in teacher_ppm])
    tdot = F.aggregate(
        F.zip_with(x, t_lit, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    base = df.select(
        x.alias("_x"),
        F.when(tdot > 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint").alias("_y"),
    ).localCheckpoint(eager=True)

    spark = df.sparkSession
    w = [0] * dim
    out_rows = []
    for it in range(1, iterations + 1):
        w_lit = F.array(*[F.lit(int(wi)).cast("bigint") for wi in w])
        z = F.aggregate(
            F.zip_with(F.col("_x"), w_lit, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        mis = (F.col("_y") * z) <= 0
        row = (
            base.select(mis.alias("_m"), "_y", "_x")
            .agg(
                F.sum(F.when(F.col("_m"), 1).otherwise(0)).alias("m"),
                *[
                    F.sum(
                        F.when(
                            F.col("_m"),
                            F.col("_y") * F.element_at("_x", j + 1),
                        ).otherwise(0)
                    ).alias(f"g{j}")
                    for j in range(dim)
                ],
            )
            .collect()[0]
        )
        w = [wi + int(row[f"g{j}"]) for j, wi in enumerate(w)]
        out_rows.append((it, int(row["m"]), sum(abs(wi) for wi in w)))

    release_checkpoint(base)  # the result below is literal
    return parallelize(
        spark, out_rows, "iter bigint not null, n_mistakes bigint not null, w_l1 bigint not null"
    )


def delete_ivfpq_index(spark, path: str, ids: list[int]) -> int:
    """delete_pq_codes for the partitioned IVF-PQ layout — and the
    payoff of that layout on the WRITE side: a takedown only rewrites
    the inverted lists (``part`` keys) that actually contain the
    removed ids. The untouched lists' files are never read or
    written — at 100 TB with 4096 coarse lists, a thousand-id takedown
    touches a handful of directories, not the corpus. A list the
    delete empties has no segment afterwards, so takedown'd vectors
    cannot survive in it. Returns rows removed. Idempotent: a second
    identical delete removes 0 rows."""
    return _delete_code_ids(spark, path, "ivfpq", _IVFPQ_PARAMS, ids)


def delete_sq8_codes(spark, path: str, ids: list[int]) -> int:
    """delete_pq_codes for the SQ8 codes layout — the takedown half of
    the SQ8 lifecycle (write → append → DELETE → query). Idempotent;
    returns rows removed."""
    return _delete_code_ids(spark, path, "sq8", _SQ8_PARAMS, ids)
