"""Similarity search over ``embeddings`` (array<float> column) —
SURVEY.md §7 P3.

* ``similarity_topk`` — exact brute-force cosine top-k for a query
  subset: the baseline every ANN variant is measured against. The query
  side is tiny and explicitly broadcast; the candidate side streams.
  Dot products are sequential left-to-right double accumulation
  (aggregate/zip_with — JVM expression eval, no Python), mirrored
  exactly by the DuckDB oracle's list_dot_product, so cosines are
  bit-identical across engines.
* ``similarity_ann_lsh`` — the 100 TB scale path: multi-table random-
  hyperplane LSH (4 tables x 8 bits; the ±1 hyperplane matrix is derived
  driver-side from md5 of the coordinate triple and inlined as a plan
  literal, so the "random" planes are deterministic and identical on
  every executor with zero driver state — and identically embeddable in
  the DuckDB oracle, making this *approximate-but-deterministic* query
  fully hash-checkable); vectors meet only inside a same-(table,
  signature) bucket, then bucket-local exact cosine + per-query top-1
  across tables. Recall on planted clusters is asserted in pytest.

At 100 TB: brute force is O(Q x N) — fine when Q is a broadcastable
query batch; for all-vectors kNN use the LSH variant (or IVF with
learned centroids, same bucket-join shape, centroids broadcast).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..graph.fixpoint import cut, static_rounds
from ..io.sources import load_parallel, load_table

TOPK = 5
QUERY_MOD = 100  # query set = vec_id % QUERY_MOD == 0
SIG_BITS = 8
LSH_TABLES = 4


# Vector-domain rail (r11 adversarial campaign): every similarity /
# clustering / quantization query operates on finite vectors with
# norm > 0 and |component| <= EMB_ABS_MAX; out-of-domain vectors are
# EXCLUDED at load, identically in both engines.  Why exclusion, not
# guards per expression: a zero-norm vector makes every cosine a
# 0/0 (Spark ANSI raises, DuckDB returns NULL — a crash/divergence
# split probed on a crafted corpus), and a 1e19 component blows every
# e6-quantization carrier past int64 (round(x*1e6) overflows at
# |x| ~ 9.2e12; kmeans/pca/auc all crashed).  |x| <= 1e6 keeps
# round(x*1e6) <= 1e12, so column sums over 1e6+ rows stay inside
# int64 — generous for unit-norm-ish embeddings, and on the generated
# testdata no vector is excluded so all values are unchanged.  NaN
# components are out-of-domain too (NaN orders differently across
# engines).  The DuckDB twins carry the textually-mirrored WHERE.
EMB_ABS_MAX = 1_000_000.0

_VEC_DOMAIN = (
    "NOT exists({c}, x -> abs(x) > cast(1000000.0 as {t}) OR isnan(x))"
    " AND exists({c}, x -> x != cast(0.0 as {t}))"
)

DUCK_VEC_WHERE = (
    "len(list_filter(CAST(embedding AS DOUBLE[]),"
    " x -> abs(x) > 1000000.0 OR isnan(x))) = 0"
    " AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0"
)


def vec_domain(df: DataFrame, col: str = "embedding",
               elem: str = "float") -> DataFrame:
    """Filter a DataFrame to in-domain vectors (see the rail note)."""
    return df.filter(F.expr(_VEC_DOMAIN.format(c=col, t=elem)))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vec_domain(load_parallel(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, x) -> acc + x)"
)


def _dot(a: str, b: str):
    return F.expr(_DOT.format(a=a, b=b))


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector."""
    vec = _vectors(spark, sf_dir)
    norms = vec.withColumn("nrm", F.sqrt(_dot("v", "v")))
    q = norms.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = (
        norms.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            (_dot("qv", "v") / (F.col("qn") * F.col("nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return scored.select(
        "q_id", "cand_id", "cosine", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= TOPK)


PLANE_DIM = 64  # max supported vector dim; planes are sliced to size(v)


@lru_cache(maxsize=None)
def _plane_signs(
    tables: int = LSH_TABLES, bits: int = SIG_BITS, dim: int = PLANE_DIM
) -> tuple:
    """±1.0 hyperplane matrix [tables][bits][dim] from md5 of the
    coordinate triple — deterministic, seedless, and engine-neutral: the
    same matrix is inlined as a literal into BOTH the Spark plan and the
    DuckDB oracle SQL, so the two engines bucket identically. (A
    driver-side constant also beats the earlier per-row xxhash64 plane
    derivation on cost: the executors evaluate zero hash calls.)"""
    import hashlib

    return tuple(
        tuple(
            tuple(
                1.0
                if hashlib.md5(f"{t}:{j}:{d}".encode()).digest()[0] & 1
                else -1.0
                for d in range(dim)
            )
            for j in range(bits)
        )
        for t in range(tables)
    )


def _planes_spark(tables: int, bits: int, dim: int) -> str:
    """The plane matrix as a Spark SQL array literal (constant-folded)."""
    pl = _plane_signs(tables, bits, dim)
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x:.1f}D" for x in row) + ")" for row in tb
            )
            + ")"
            for tb in pl
        )
        + ")"
    )


def _planes_duckdb(tables: int, bits: int, dim: int) -> str:
    """The same plane matrix as a DuckDB nested-list literal."""
    pl = _plane_signs(tables, bits, dim)
    body = ", ".join(
        "["
        + ", ".join("[" + ", ".join(f"{x:.1f}" for x in row) + "]" for row in tb)
        + "]"
        for tb in pl
    )
    return f"CAST([{body}] AS DOUBLE[][][])"


def lsh_buckets(
    df: DataFrame, bits: int = SIG_BITS, tables: int = LSH_TABLES
) -> DataFrame:
    """Explode each vector into `tables` rows of (table_id, bucket).

    Bucket = sign pattern of `bits` hyperplane projections, packed into
    a long. The ±1 planes come from :func:`_plane_signs` — a driver-side
    constant inlined into the plan, identical on every executor and in
    the DuckDB oracle. Projections are sequential left-to-right double
    accumulation, mirrored exactly by the oracle's list_dot_product, so
    bucket assignments (and hence the candidate sets) are bit-identical
    across engines. Multiple tables trade compute for recall exactly
    like classic multi-table LSH. Vectors longer than PLANE_DIM are
    unsupported (the plane slice would truncate); shorter ones use the
    leading dims.
    """
    pl = _planes_spark(tables, bits, PLANE_DIM)
    proj = (
        f"transform(sequence(0, {bits - 1}),"
        f" j -> aggregate(zip_with(v, slice(element_at(element_at({pl}, t + 1),"
        " j + 1), 1, size(v)), (x, s) -> x * s),"
        " cast(0.0 as double), (acc, x) -> acc + x))"
    )
    packed = (
        f"aggregate(zip_with({proj}, sequence(0, {bits - 1}),"
        " (p, j) -> if(p > cast(0.0 as double), shiftleft(1L, j), 0L)),"
        " 0L, (acc, x) -> acc + x)"
    )
    return df.select(
        "*", F.explode(F.expr(f"sequence(0, {tables - 1})")).alias("t")
    ).select("*", F.expr(packed).alias("bucket"))


def _cache(df: DataFrame) -> DataFrame:
    """Short-lived cache for subtrees used by both sides of a self-join
    (exchange reuse is unreliable for these shapes under AQE; measured
    3-5x recompute without it). A few MB per query; dies with session.

    Registered under a core-count shuffle-partition clamp: cached plans
    compile their exchanges with the conf in force at persist() time
    and are exempt from AQE coalescing
    (canChangeCachedPlanOutputPartitioning=false), so on a stock
    200-partition session every cached-subtree stage would otherwise
    launch 200 tasks regardless of data size (measured 22.5s -> 1.8s
    for similarity_ivf_topk in isolation at sf0.1). Unlike the
    fixpoint loops, the clamp here is defaultParallelism, NOT
    input-byte-sized: these subtrees are compute-bound (per-element
    vector math dominates), so partitions must cover every core even
    when the input is a single small file — byte-sizing was measured
    5x slower on embedding_neardup at sf0.1."""
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    with static_rounds(spark):  # clamp = defaultParallelism
        # No eager action needed: the clamp's effect is the partitioning
        # compiled into the cached plan at persist() time (asserted in
        # tests/test_cache_clamp.py); the first consumer materializes.
        return df.persist(StorageLevel.MEMORY_AND_DISK)


def ann_top1(vec: DataFrame) -> DataFrame:
    """Approximate top-1 neighbor per vector over (vec_id, v) input."""
    vec = vec.withColumn("nrm", F.sqrt(_dot("v", "v")))
    banded = _cache(lsh_buckets(vec))
    a = banded.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "t",
        "bucket",
    )
    cand = (
        a.join(banded, ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "qv", "qn", F.col("vec_id").alias("nn_id"), "v", "nrm")
        .dropDuplicates(["q_id", "nn_id"])  # same pair can meet in many tables
    )
    scored = cand.select(
        "q_id",
        "nn_id",
        (_dot("qv", "v") / (F.col("qn") * F.col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("nn_id"))
    return scored.select(
        "q_id", "nn_id", "cosine", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1).drop("rn")


def exact_top1(vec: DataFrame) -> DataFrame:
    """Exact top-1 neighbor per vector (brute force) — the recall
    reference for :func:`ann_top1` in tests."""
    vec = vec.withColumn("nrm", F.sqrt(_dot("v", "v")))
    a = vec.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = (
        a.crossJoin(vec)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("nn_id"),
            (_dot("qv", "v") / (F.col("qn") * F.col("nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("nn_id"))
    return scored.select(
        "q_id", "nn_id", "cosine", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1).drop("rn")


def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbor (top-1) via hyperplane-LSH buckets.

    Approximate w.r.t. the true nearest neighbor, but *deterministic*
    given the literal plane matrix — so the DuckDB twin reproduces the
    exact candidate sets and the driver hash-checks it like any exact
    query. Recall vs exact_top1 is pinned separately in pytest."""
    return ann_top1(_vectors(spark, sf_dir))


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a VERIFIED number, not a test assertion: recall@1
    and candidate coverage of the LSH index against the exact top-1
    referee, as one report row — the eval harness an index owner runs
    after every rebuild (the lang_confusion pattern, applied to
    retrieval).

    The exact referee is the brute-force crossJoin — acceptable HERE
    because this is the evaluation job, typically run on a sampled
    query slab, not the serving path (the production-scale referee is
    the block-pair decomposition of embedding_neardup). Both sides are
    deterministic (literal LSH planes, id tie-breaks), so recall itself
    is deterministic and the row hash-checks cross-engine.
    """
    vec = _vectors(spark, sf_dir)
    exact = exact_top1(vec).select("q_id", F.col("nn_id").alias("true_nn"))
    ann = ann_top1(vec).select("q_id", F.col("nn_id").alias("ann_nn"))
    joined = exact.join(ann, "q_id", "left")
    return joined.agg(
        F.count("*").alias("n_vectors"),
        F.count("ann_nn").alias("n_with_candidate"),
        F.count(F.when(F.col("ann_nn") == F.col("true_nn"), F.lit(1))).alias(
            "n_correct"
        ),
    ).select(
        "n_vectors",
        "n_with_candidate",
        "n_correct",
        (
            F.col("n_correct").cast("double")
            / F.col("n_vectors").cast("double")
        ).alias("recall_at_1"),
        (
            F.col("n_with_candidate").cast("double")
            / F.col("n_vectors").cast("double")
        ).alias("coverage"),
    )


IVF_CENTROID_MOD = 50  # centroid set = vec_id % MOD == 0 (a stand-in for k-means)
IVF_NPROBE = 2


def ivf_topk(
    vec: DataFrame,
    k: int,
    centroid_mod: int = IVF_CENTROID_MOD,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-style ANN top-k: assign every vector to its nearest centroid
    (inverted list), probe each query against its `nprobe` nearest
    centroids' lists only, keep the k best candidates per query.

    Centroids here are a deterministic sample (vec_id % centroid_mod == 0)
    standing in for k-means output — the *plan shape* is the real thing:
    centroids broadcast, one N x C assignment pass, then a bucket-keyed
    equi-join. At 100 TB the inverted lists are the only shuffle and list
    sizes are N/C on average; skewed lists split by AQE.
    """
    vec = vec.withColumn("nrm", F.sqrt(_dot("v", "v")))
    cents = vec.filter(F.col("vec_id") % centroid_mod == 0).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    scored = vec.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "nrm",
        "c_id",
        (_dot("v", "cv") / (F.col("nrm") * F.col("cn"))).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), F.col("c_id"))
    ranked = _cache(scored.select("*", F.row_number().over(w).alias("c_rn")))
    members = ranked.filter(F.col("c_rn") == 1).select(
        F.col("c_id").alias("bucket"), F.col("vec_id").alias("nn_id"),
        F.col("v").alias("nv"), F.col("nrm").alias("nn_nrm"),
    )
    probes = ranked.filter(F.col("c_rn") <= nprobe).select(
        F.col("c_id").alias("bucket"), F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"), F.col("nrm").alias("qn"),
    )
    cand = (
        probes.join(members, "bucket")
        .filter(F.col("nn_id") != F.col("q_id"))
        .dropDuplicates(["q_id", "nn_id"])
        .select(
            "q_id",
            "nn_id",
            (_dot("qv", "nv") / (F.col("qn") * F.col("nn_nrm"))).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("nn_id"))
    # Schema is k-independent: (q_id, nn_id, cosine, rank) for every k.
    return cand.select(
        "q_id", "nn_id", "cosine", F.row_number().over(w2).alias("rank")
    ).filter(F.col("rank") <= k)


def ivf_top1(
    vec: DataFrame, centroid_mod: int = IVF_CENTROID_MOD, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """Approximate top-1 neighbor per vector (k=1 IVF probe)."""
    return ivf_topk(vec, 1, centroid_mod, nprobe).drop("rank")


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbor (top-1) via IVF inverted lists."""
    return ivf_top1(_vectors(spark, sf_dir))


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors per vector via IVF inverted lists —
    the k>1 probe every retrieval pipeline actually runs. Approximate
    w.r.t. true kNN but fully deterministic arithmetic (centroid
    assignment + bucket join + rank), so it hash-checks against a plain
    SQL twin; recall pinned in tests."""
    return ivf_topk(_vectors(spark, sf_dir), 3)


def q_pipeline_embedding_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ANN index build as ONE composed plan — the job a
    vector-serving layer runs nightly: per-vector quantization scale
    (the embedding_quantize device), IVF list assignment (broadcast
    centroids, argmax-aggregate election), and the per-list index
    MANIFEST (sizes, id ranges, exact scale sums) a serving node uses
    to mmap its shard.

    The centroid election is ``max(struct(c_cos, c_id))`` — the
    latest_per_key argmax shape, chosen over ivf_topk's row_number
    window because an index build touches EVERY vector: the aggregate
    collapses the N x C candidate rows map-side (the broadcast join
    emits them inside one task) where a window would shuffle and sort
    all of them. Ties on cosine break to the LARGEST c_id, mirrored by
    the oracle's ORDER BY c_cos DESC, c_id DESC. sum_scale_e9 is a sum
    of exact int64s, so the whole manifest hash-checks.
    """
    vec = _vectors(spark, sf_dir)
    comp = vec.select(
        "vec_id",
        "v",
        F.sqrt(_dot("v", "v")).alias("nrm"),
        F.expr(
            "CAST(floor(array_max(transform(v, x -> abs(x))) * 1000000000.0)"
            " AS BIGINT)"
        ).alias("scale_e9"),
    )
    cents = comp.filter(F.col("vec_id") % IVF_CENTROID_MOD == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    assigned = (
        comp.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "scale_e9",
            F.struct(
                (_dot("v", "cv") / (F.col("nrm") * F.col("cn"))).alias(
                    "c_cos"
                ),
                "c_id",
            ).alias("cand"),
        )
        .groupBy("vec_id", "scale_e9")
        .agg(F.max("cand").alias("a"))
        .select("vec_id", "scale_e9", F.col("a.c_id").alias("bucket"))
    )
    return assigned.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
        F.sum("scale_e9").alias("sum_scale_e9"),
    )


NEARDUP_THRESHOLD = 0.4
NEARDUP_LABELS = 3  # restrict to labels < 3: the candidate "shard"
NEARDUP_BLOCKS = 8  # B: block-pair decomposition fan-out


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact, thresholded,
    via BLOCK-PAIR decomposition (no crossJoin anywhere in the plan).

    Exact all-pairs at a LOW threshold is intrinsically O(n^2) compute —
    at cosine 0.4 every qualifying pair in this data sits in [0.40,
    0.51], where hyperplane-LSH per-table collision probability is
    ~2-3% (theta/pi ~ 0.35), so an LSH/IVF candidate filter either
    misses real pairs (breaking exactness) or needs so many low-bit
    tables that bucket joins exceed brute force. What CAN scale is the
    shuffle shape: split vectors into B blocks by vec_id, replicate
    each vector to the B block-pair tasks it participates in, and join
    on the task id. Shuffle is O(n*B) rows (vs O(n^2) pair rows through
    an exchange), the n^2/2 dot products distribute evenly over
    B(B+1)/2 independent tasks, and per-task memory is 2n/B vectors —
    the standard distributed exact-similarity-join decomposition. Same
    bit-exact sequential-accumulation scoring as the crossJoin
    formulation, so the oracle hash is unchanged.

    Replication is asymmetric so each pair meets EXACTLY once: the left
    side of task (i, j) carries only block i (a block-i vector joins
    tasks (i, j) for j >= i), the right side only block j (a block-j
    vector joins tasks (i, j) for i <= j). A cross-block pair meets
    only in its (min, max) task with fixed roles; a same-block pair
    meets twice in the diagonal task with swapped roles, where the
    id_a < id_b filter keeps one. Cross-block rows keep whichever role
    order the blocks dictate (block order is vec_id % B, unrelated to
    id order) and the output canonicalizes ids with least/greatest.
    Join output is therefore ~n^2/2 pair rows — the brute-force pair
    count, never inflated.
    """
    B = NEARDUP_BLOCKS
    emb = vec_domain(load_table(spark, sf_dir, "embeddings"))
    vec = emb.filter(F.col("label") < NEARDUP_LABELS).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    vec = vec.withColumn("nrm", F.sqrt(_dot("v", "v"))).withColumn(
        "blk", F.col("vec_id") % B
    )
    a = vec.select(
        F.explode(
            F.expr(f"transform(sequence(blk, {B - 1}), j -> blk * {B} + j)")
        ).alias("task"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = vec.select(
        F.explode(
            F.expr(f"transform(sequence(0, blk), i -> i * {B} + blk)")
        ).alias("task"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), "task")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            | (F.col("id_a") % B != F.col("id_b") % B)
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            (_dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    return pairs.filter(F.col("cosine") >= NEARDUP_THRESHOLD)


AUC_N_FEATURES = 4


def q_roc_auc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-discriminativeness screen: the exact ROC AUC of each of
    the first 4 embedding coordinates as a one-vs-rest scorer for each
    class label — 40 rows of "how separable is label L along axis j".
    AUC is the rank statistic (the Mann-Whitney/Wilcoxon identity
    AUC = (R_pos - nP(nP+1)/2) / (nP*nN) with average ranks for ties),
    so it needs no thresholds, no curve integration, and — computed on
    the doubled-rank algebra over a score histogram — no floats until
    the single final division.

    Scores are quantized (round(coord*1e6) BIGINT) before ranking so
    the tie structure is identical in both engines; ranks, doubled rank
    sums, and positive/negative counts are exact int64 throughout (the
    mann_whitney_u device, specialized to one-vs-rest).

    At 100 TB: one corpus pass builds the (feature, score, label)
    histogram map-side; the |labels|-fold one-vs-rest expansion, the
    rank window, and the AUC algebra all run on that histogram. The
    corpus shuffles once, keyed by (feature, score).
    """
    from pyspark.sql import Window

    # label IS NOT NULL beyond the vec_domain rail (r11 NULL sweep): a
    # NULL one-vs-rest target matches no row (NULL = NULL is NULL), so
    # its n_pos is 0 and the AUC denominator divides by zero.
    emb = vec_domain(load_parallel(spark, sf_dir, "embeddings")).filter(
        F.col("label").isNotNull()
    )
    feats = emb.select(
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("feature_idx"),
                        F.round(
                            F.col("embedding")[j].cast("double") * 1e6
                        )
                        .cast("long")
                        .alias("score"),
                    )
                    for j in range(AUC_N_FEATURES)
                ]
            )
        ).alias("f"),
    ).select("label", "f.feature_idx", "f.score")
    lab_h = feats.groupBy("feature_idx", "score", "label").agg(
        F.count("*").alias("n")
    )
    tot_h = lab_h.groupBy("feature_idx", "score").agg(
        F.sum("n").alias("t_v")
    )
    labels = lab_h.select("label").distinct().withColumnRenamed(
        "label", "target"
    )
    grid = tot_h.crossJoin(F.broadcast(labels)).join(
        lab_h,
        (lab_h["feature_idx"] == tot_h["feature_idx"])
        & (lab_h["score"] == tot_h["score"])
        & (lab_h["label"] == F.col("target")),
        "left",
    ).select(
        F.col("target"),
        tot_h["feature_idx"],
        tot_h["score"],
        "t_v",
        F.coalesce("n", F.lit(0)).alias("np_v"),
    )
    w = (
        Window.partitionBy("target", "feature_idx")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = grid.select(
        "target",
        "feature_idx",
        "np_v",
        "t_v",
        (F.sum("t_v").over(w) - F.col("t_v")).alias("c_below"),
    )
    agg = ranked.groupBy("target", "feature_idx").agg(
        F.sum("np_v").alias("n_pos"),
        F.sum(F.col("t_v") - F.col("np_v")).alias("n_neg"),
        F.sum(
            F.col("np_v") * (F.lit(2) * F.col("c_below") + F.col("t_v") + 1)
        ).alias("r2_pos"),
    )
    return agg.select(
        F.col("target").alias("label"),
        "feature_idx",
        "n_pos",
        "n_neg",
        (
            (
                F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
            ).cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector stats via a vectorized scalar ``@pandas_udf`` — the
    one UDF surface the engine hadn't exercised (next to mapInPandas,
    applyInPandas/Arrow and applyInPandasWithState). Arrow ships each
    batch; numpy evaluates it column-at-a-time.

    Outputs are integer-exact (length, count>0, argmax index — first
    occurrence on ties in both engines), so no float-accumulation-order
    concern exists and the query hash-checks against DuckDB.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # No type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's eval-type inference rejects; unhinted
    # defaults to the scalar (Series -> DataFrame-for-struct) form.
    @pandas_udf("dim int, n_pos int, argmax_idx int")
    def vec_stats(vs):
        dims, npos, amax = [], [], []
        for v in vs:
            a = np.asarray(v, dtype=np.float32)
            dims.append(a.size)
            npos.append(int((a > 0).sum()))
            amax.append(int(a.argmax()))
        return pd.DataFrame({"dim": dims, "n_pos": npos, "argmax_idx": amax})

    # Bounded fan-out, not load_parallel: a full-width repartition of a
    # small single-split table spawns one Python worker per partition,
    # and the fleet spin-up dwarfs the work (measured 7.5s at 32
    # partitions vs 0.7s at 1 for 2000 vectors — the UDF itself is
    # trivial). Four partitions bound the fleet; a 100 TB table arrives
    # pre-split and skips the repartition entirely.
    # NULL-embedding rows carry no stats (r11 NULL sweep: the pandas
    # UDF's numpy path and DuckDB's len(NULL) disagree on what a NULL
    # vector's "stats" are — neither answer is meaningful). Twin
    # mirrors the WHERE.
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    if emb.rdd.getNumPartitions() < 4:
        emb = emb.repartition(4)
    return emb.select("vec_id", vec_stats("embedding").alias("s")).select(
        "vec_id", "s.dim", "s.n_pos", "s.argmax_idx"
    )


KMEANS_K = 16


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment round over the embedding table: every vector
    assigned to its nearest of K deterministic seed centroids (the first
    K vectors by vec_id), summarized per cluster as (size, closest
    member, min/max squared distance).

    The fundamental clustering primitive of corpus curation (IVF
    coarse quantizers, topic bucketing, dedup pre-clustering) in its
    distributed shape: seeds broadcast, distances map-side, one K-row
    aggregate — the corpus never shuffles, so the round costs one scan
    at any scale and iterating Lloyd is just re-broadcasting K rows.

    Hash-exactness: dist2 expands to three deterministic left-fold dot
    products combined in one fixed expression shape (bit-identical to
    DuckDB's list_dot_product — the similarity_topk precedent), argmin
    ties break on (dist2, seed_id), and the per-cluster summary avoids
    any row-order-dependent float accumulation: a mean-update column
    would sum members in partition order, which is exactly the
    nondeterminism this projection excludes (min/max/count and
    min-struct election are order-free).

    The argmin is a ``min(struct(dist2, seed_id))`` aggregate, NOT a
    row_number window: the broadcast join emits all K candidate rows of
    a vector inside one task, so the partial aggregate collapses them
    map-side and the exchange carries n compact rows — a window would
    shuffle and sort the full n*K candidate set (16x the corpus at
    100 TB) with no partial reduction.
    """
    vec = _vectors(spark, sf_dir)
    seeds = vec.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )
    dist2 = F.expr(
        f"{_DOT.format(a='v', b='v')} - 2 * {_DOT.format(a='v', b='sv')}"
        f" + {_DOT.format(a='sv', b='sv')}"
    )
    assigned = (
        vec.crossJoin(F.broadcast(seeds))
        .select("vec_id", "seed_id", dist2.alias("dist2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist2", "seed_id")).alias("a"))
        .select("vec_id", F.col("a.seed_id").alias("seed_id"), F.col("a.dist2").alias("dist2"))
    )
    return assigned.groupBy("seed_id").agg(
        F.count("*").alias("n_members"),
        F.min(F.struct("dist2", "vec_id")).alias("c"),
        F.max("dist2").alias("radius2"),
    ).select(
        "seed_id",
        "n_members",
        F.col("c.vec_id").alias("closest_vec_id"),
        F.col("c.dist2").alias("min_dist2"),
        "radius2",
    )


def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER half of a Lloyd iteration: recompute the K centroids
    from q_kmeans_assign's nearest-seed assignment, one row per
    (cluster, dimension). Together the two queries are a complete
    distributed k-means round — assign is a broadcast+scan, update is
    this one explode+aggregate.

    Float-sum order is THE portability hazard here (summing members'
    components in partition order is nondeterministic across engines
    AND across Spark runs), so each component is quantized map-side to
    an exact int64 micro-unit — floor(x * 1e6), floor not round because
    round's half-up tie rule differs in spirit between engines while
    floor is bit-identical — and the centroid is ONE division of two
    exact integers at the end. The assignment argmin carries the vector
    through min(struct(dist2, seed_id, v)): every candidate row of a
    vec_id holds the same v, so the struct min stays a pure argmin while
    avoiding a self-join to recover the vector.

    Scale: broadcast K seeds, map-side argmin (the kmeans_assign
    shape), then posexplode to n*d rows that partial-aggregate to K*d
    before the only exchange — the corpus shuffles nothing. Iterating
    Lloyd re-broadcasts K*d ints.
    """
    return kmeans_update(_vectors(spark, sf_dir))


def kmeans_update(vec: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """See q_kmeans_update. vec needs (vec_id, v: array<double>)."""
    seeds = vec.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )
    dist2 = F.expr(
        f"{_DOT.format(a='v', b='v')} - 2 * {_DOT.format(a='v', b='sv')}"
        f" + {_DOT.format(a='sv', b='sv')}"
    )
    assigned = (
        vec.crossJoin(F.broadcast(seeds))
        .select("vec_id", dist2.alias("dist2"), "seed_id", "v")
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist2", "seed_id", "v")).alias("a"))
        .select(F.col("a.seed_id").alias("seed_id"), F.col("a.v").alias("v"))
    )
    comp = assigned.select(
        "seed_id",
        F.posexplode("v").alias("pos", "x"),
    ).select(
        "seed_id",
        (F.col("pos") + F.lit(1)).alias("dim"),
        F.floor(F.col("x") * F.lit(1000000.0)).alias("x_e6"),
    )
    return comp.groupBy("seed_id", "dim").agg(
        F.count("*").alias("n_members"),
        F.sum("x_e6").alias("sum_e6"),
        (
            F.sum("x_e6").cast("double")
            / (F.count("*") * F.lit(1000000)).cast("double")
        ).alias("centroid"),
    )


KMEANS_TRAIN_ROUNDS = 3


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round Lloyd k-means — the 8th fixpoint pattern: the
    assign/update round of ``kmeans_assign``/``kmeans_update`` iterated
    ``KMEANS_TRAIN_ROUNDS`` times under ``static_rounds`` (the same
    AQE-off + shuffle-clamp loop discipline as sssp/wcc/pagerank).
    Output is the round-N centroid table, one row per (cluster, dim).

    Per round: K centroids broadcast, distances map-side, the argmin
    collapses in the partial aggregate (n compact rows cross the
    exchange, never the n*K candidate set), components quantize to
    exact int64 micro-units map-side, and the new centroid is ONE
    IEEE division of two exact integers — exactly rounded, hence
    bit-identical across engines, so round r+1's distance arithmetic
    starts from the same doubles in Spark and DuckDB and the whole
    N-round chain stays hash-checkable (the kmeans_update device,
    iterated). Each round's K-row centroid table is persisted and
    forced so round plans stay flat; at 100 TB iterating Lloyd
    re-broadcasts K*d doubles per round and the corpus never shuffles.

    Empty clusters drop (no members -> no centroid) identically in
    both engines; the oracle is the same three rounds unrolled as
    chained CTE stages (the label_propagation / bpe_merges device).
    """
    # r12: persist — every Lloyd round re-scanned and re-cast the
    # embeddings otherwise (plus the seed filter).
    vec = _vectors(spark, sf_dir).persist()
    cents = vec.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("cv")
    )
    dist2 = F.expr(
        f"{_DOT.format(a='v', b='v')} - 2 * {_DOT.format(a='v', b='cv')}"
        f" + {_DOT.format(a='cv', b='cv')}"
    )
    with static_rounds(spark):
        for r in range(KMEANS_TRAIN_ROUNDS):
            assigned = (
                vec.crossJoin(F.broadcast(cents))
                .select("vec_id", dist2.alias("dist2"), "seed_id", "v")
                .groupBy("vec_id")
                .agg(F.min(F.struct("dist2", "seed_id", "v")).alias("a"))
                .select(
                    F.col("a.seed_id").alias("seed_id"),
                    F.col("a.v").alias("v"),
                )
            )
            comp = assigned.select(
                "seed_id", F.posexplode("v").alias("pos", "x")
            ).select(
                "seed_id",
                (F.col("pos") + F.lit(1)).alias("dim"),
                F.floor(F.col("x") * F.lit(1000000.0)).alias("x_e6"),
            )
            sums = comp.groupBy("seed_id", "dim").agg(
                F.count("*").alias("n_members"),
                F.sum("x_e6").alias("sum_e6"),
                (
                    F.sum("x_e6").cast("double")
                    / (F.count("*") * F.lit(1000000)).cast("double")
                ).alias("centroid"),
            )
            if r == KMEANS_TRAIN_ROUNDS - 1:
                return sums
            cents = (
                sums.groupBy("seed_id")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("dim", "centroid"))
                        ),
                        lambda s: s["centroid"],
                    ).alias("cv")
                )
                .persist()
            )
            cents.count()  # force this round before the next one plans


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding table — the 4x
    storage/bandwidth compressor every vector-serving layer applies
    before shipping embeddings to an index. Per vector: scale = max
    |component|, q_dim = floor(x * 127 / scale) per dimension.

    Entirely map-side (scale and quantized components are expressions
    over the row's own array — no shuffle exists in the plan at all),
    so it runs at scan speed on any corpus. Exactness: max|x| is
    order-free, the quantizer is ONE multiply + ONE divide + floor in
    the same textual shape in both engines (floor, not round — round's
    tie rule is the only nondeterminism in this pipeline and it buys
    nothing), zero vectors are CASE-guarded to q=0, and the shipped
    scale is floor(scale * 1e9) int64 so no raw float reaches the
    driver hash.
    """
    vec = _vectors(spark, sf_dir)
    mx = F.expr("array_max(transform(v, x -> abs(x)))")
    comp = vec.select(
        "vec_id",
        mx.alias("mx"),
        F.posexplode("v").alias("pos", "x"),
    )
    return comp.select(
        "vec_id",
        (F.col("pos") + F.lit(1)).alias("dim"),
        F.when(F.col("mx") == 0.0, F.lit(0))
        .otherwise(
            F.floor(F.col("x") * F.lit(127.0) / F.col("mx")).cast("int")
        )
        .alias("q"),
        F.floor(F.col("mx") * F.lit(1000000000.0)).alias("scale_e9"),
    )


PCA_ROUNDS = 3
PCA_Q = 1e6  # per-row contribution quantum (the tfidf e6 device)


def _pca_iterate(vec: DataFrame, v: list) -> list:
    """One quantized power-iteration round: returns the 64 exact-int64
    accumulator values w_j = sum_i round(x_ij * <x_i, v> * PCA_Q)."""
    lit_v = F.array(*[F.lit(float(x)) for x in v])
    dot = F.expr(
        "aggregate(zip_with(v, vlit, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    contrib = (
        vec.withColumn("vlit", lit_v)
        .withColumn("dot", dot)
        .select(F.posexplode("v").alias("j", "x"), "dot")
        .select("j", F.round(F.col("x") * F.col("dot") * PCA_Q).cast("long").alias("c"))
    )
    rows = (
        contrib.groupBy("j")
        .agg(F.sum("c").alias("w"))
        .collect()  # dim rows — bounded driver scalar (the BPE device)
    )
    w = [0] * len(v)
    for r in rows:
        w[r.j] = r.w
    return w


def _pca_normalize(w: list) -> list:
    """w / ||w|| with the EXACT arithmetic the oracle replays in SQL:
    left-fold sum of squares in index order, one sqrt, one division per
    component — all IEEE-pinned on identical operands."""
    acc = 0.0
    for x in w:
        acc = acc + float(x) * float(x)
    nrm = acc**0.5
    return [float(x) / nrm for x in w]


def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding matrix by
    PCA_ROUNDS rounds of power iteration on the Gram matrix — the
    linear-algebra fixpoint next to kmeans_train (clustering) and
    pagerank (graphs). Each round computes X^T(X v) without ever
    materializing the d x d Gram: one map pass for the per-row dot
    <x_i, v> (broadcast literal v, the left-fold accumulation
    list_dot_product mirrors exactly), then per-row contributions
    x_ij * dot_i QUANTIZED to int64 (round(.. * 1e6), the tfidf
    device) so the cross-row reduction is an order-free exact integer
    sum — the step that makes a floating-point matrix product
    hash-checkable at all. Normalization replays bit-identically in
    both engines (index-order fold, sqrt, one division). Output one
    row per dimension: (j, w_q, loading).

    At 100 TB: per round ONE scan of the embeddings, shuffle = d
    partial-summed rows per task (map-side combine over j), driver
    state = the d-vector (the bounded-scalar loop device shared with
    bpe_merges/kmeans_train). Fixed rounds, no convergence action.

    Fixed rounds are the CONTRACT (kmeans_train's posture);
    convergence toward the exact SVD direction goes as (s1/s2)^(2R)
    and is therefore a property of the data's spectral gap — on the
    near-isotropic synthetic embeddings (s1/s2 = 1.04) no small R
    lands near the SVD axis, which tests/test_similarity.py documents
    by refereeing a bit-exact numpy REPLAY of the same quantized
    rounds plus the Rayleigh-quotient improvement power iteration
    guarantees unconditionally.
    """
    # r12: persist — the driver probe + PCA_ROUNDS aggregation jobs each
    # re-scanned and re-cast the embeddings otherwise.
    vec = _vectors(spark, sf_dir).persist()
    first = vec.select("v").first()  # 1-row driver probe for the dim
    if first is None:  # empty embeddings: typed empty result, no crash
        return spark.createDataFrame([], "j int, w_q long, loading double")
    dim = len(first[0])
    v = [1.0] * dim
    w = None
    for _ in range(PCA_ROUNDS):
        w = _pca_iterate(vec, v)
        v = _pca_normalize(w)
    out = [(j, int(w[j]), float(v[j])) for j in range(dim)]
    return vec.sparkSession.createDataFrame(
        out, "j int, w_q long, loading double"
    )


RRF_K = 60  # the standard reciprocal-rank-fusion dampening constant
RRF_DEPTH = 20  # per-ranking candidate depth fed into the fusion


def q_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings per query — the
    standard hybrid-search combiner (Cormack et al. 2009: RRF(c) =
    sum over rankings of 1/(k + rank_c), k=60): rank-space fusion needs
    no score calibration, which is why every dense+lexical RAG stack
    ships it. Here the two rankings are cosine similarity and (negated)
    euclidean distance over the same embedding corpus — they genuinely
    disagree where vector norms differ, so the fusion is non-trivial;
    swapping either leg for a BM25/TF-IDF ranking is the same plan with
    a different scored CTE.

    Determinism: each leg's rank is a row_number over (score, cand_id)
    — total order, tie-broken on the unique candidate id; each
    reciprocal 1/(k + rank) quantizes to an e12 BIGINT (ONE division +
    round on identical doubles) and the fusion sum is exact integer
    addition — quantize-then-sum. Final top-5 re-ranks on the exact
    integer fused score (ties on cand_id).

    At 100 TB the per-leg candidate generation is the ANN index probe
    (similarity_ivf_topk); here both legs run the exact brute-force
    scorer (the bounded-query-set baseline, QUERY_MOD device) capped at
    depth 20 BEFORE fusion, so the fused state is |queries| x 40 rows.
    """
    vec = _vectors(spark, sf_dir)
    norms = vec.withColumn("nrm", F.sqrt(_dot("v", "v")))
    q = norms.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        norms.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            (_dot("qv", "v") / (F.col("qn") * F.col("nrm"))).alias("cosine"),
            (
                _dot("v", "v") - F.lit(2.0) * _dot("qv", "v")
                + _dot("qv", "qv")
            ).alias("dist2"),
        )
    )
    w_cos = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), "cand_id"
    )
    w_euc = Window.partitionBy("q_id").orderBy(
        F.col("dist2").asc(), "cand_id"
    )
    ranked = scored.select(
        "q_id",
        "cand_id",
        F.row_number().over(w_cos).alias("r_cos"),
        F.row_number().over(w_euc).alias("r_euc"),
    )
    contrib = ranked.select(
        "q_id",
        "cand_id",
        (
            F.when(
                F.col("r_cos") <= RRF_DEPTH,
                F.round(F.lit(1e12) / (F.lit(RRF_K) + F.col("r_cos"))).cast(
                    "long"
                ),
            ).otherwise(F.lit(0))
            + F.when(
                F.col("r_euc") <= RRF_DEPTH,
                F.round(F.lit(1e12) / (F.lit(RRF_K) + F.col("r_euc"))).cast(
                    "long"
                ),
            ).otherwise(F.lit(0))
        ).alias("rrf_e12"),
    ).filter(F.col("rrf_e12") > 0)
    w_fused = Window.partitionBy("q_id").orderBy(
        F.col("rrf_e12").desc(), "cand_id"
    )
    return contrib.select(
        "q_id", "cand_id", "rrf_e12", F.row_number().over(w_fused).alias("rn")
    ).filter(F.col("rn") <= TOPK)


def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    — the cluster-geometry audit ("are class/source embeddings
    separable, collapsing, or drifting?") run over every labeled corpus
    before training a classifier on it.

    Two exactness devices compose: (1) each embedding component
    quantizes to an e6 BIGINT BEFORE the per-label sum, so the centroid
    numerator is an exact agg-order-free integer vector; (2) cosine is
    SCALE-INVARIANT, so cosine(sum_a, sum_b) == cosine(mean_a, mean_b)
    and the 1/n division never happens — the closing expression is the
    PCA device's index-order fold over the two exact integer vectors
    cast to double (identical to DuckDB's list_dot_product).

    At 100 TB: one corpus pass into (label, dim) integer sums (map-side
    combined, |labels| x dim rows); the |labels|^2/2 pair matrix is
    driver-trivial.
    """
    vec = vec_domain(load_parallel(spark, sf_dir, "embeddings")).select(
        "label",
        F.expr(
            "transform(cast(embedding as array<double>),"
            " x -> cast(round(x * 1e6) as bigint))"
        ).alias("vq"),
    )
    # posexplode_OUTER + null-filter, NOT posexplode: a non-outer
    # Generate lets InferFiltersFromGenerate add size(transform(...))>0
    # to the SCAN's DataFilters, where it is evaluated as an independent
    # predicate (no AND short-circuit with vec_domain) — the quantizing
    # ANSI cast then runs on out-of-domain rows the rail already
    # rejected and crashes (probed r11 on a 1e19-component vector).
    # Same device as text_common.shingle_postings.
    sums = (
        vec.select("label", F.posexplode_outer("vq").alias("pos", "x"))
        .filter(F.col("x").isNotNull())
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    )
    cent = sums.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.expr(
            "transform(sort_array(collect_list(struct(pos, s))),"
            " t -> cast(t.s as double))"
        ).alias("cv"),
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("n_vecs").alias("n_a"),
        F.col("cv").alias("cv_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("n_vecs").alias("n_b"),
        F.col("cv").alias("cv_b"),
    )
    # Zero-centroid guard (r11): members can CANCEL (v and -v in one
    # label), leaving an all-zero integer centroid whose cosine is 0/0
    # — Spark ANSI raises, DuckDB NaNs. NULL by the SCALE.md degenerate
    # convention; output rows are keyed by (label_a, label_b) so a NULL
    # value needs no ordering care.
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.when(
                (_dot("cv_a", "cv_a") > 0.0) & (_dot("cv_b", "cv_b") > 0.0),
                _dot("cv_a", "cv_b")
                / (F.sqrt(_dot("cv_a", "cv_a")) * F.sqrt(_dot("cv_b", "cv_b"))),
            ).alias("centroid_cosine"),
        )
    )


OUTLIER_TOPK = 5


def q_embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the top-5 vectors least aligned
    with their label's centroid (1 - cosine to the centroid) — the
    mislabel/contamination detector every labeled embedding corpus is
    screened with before training (a vector far from its own class
    center is a labeling error, an outlier, or a duplicate from
    another class).

    Exactness composes the label_centroid_similarity devices:
    components quantize to e6 integers, per-label sums are exact
    agg-order-free integer vectors, and cosine's scale invariance
    means cos(v, centroid) == cos(vq, SUM vq) — no 1/n division ever
    happens. Per-vector score is ONE index-order dot fold + sqrt +
    division (the PCA/list_dot_product contract); the top-5 rank
    breaks ties on vec_id.

    At 100 TB: one corpus pass to the (label, dim) integer sums
    (|labels| x dim rows, broadcast back), one map-side score per
    vector, per-label top-k window. The corpus shuffles once (the
    label partition for the window).
    """
    vec = vec_domain(load_parallel(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.expr(
            "transform(cast(embedding as array<double>),"
            " x -> cast(round(x * 1e6) as bigint))"
        ).alias("vq"),
    )
    # posexplode_OUTER + null-filter (see q_label_centroid_similarity:
    # a non-outer Generate's inferred size(transform(...))>0 scan
    # predicate evaluates the ANSI quantize cast on rows vec_domain
    # already rejected).
    sums = (
        vec.select("label", F.posexplode_outer("vq").alias("pos", "x"))
        .filter(F.col("x").isNotNull())
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("s"))
    )
    cent = sums.groupBy("label").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(pos, s))),"
            " t -> cast(t.s as double))"
        ).alias("cv")
    )
    # Quantized-norm guard (r11): a vector of sub-quantum components
    # (|x| < 0.5e-6, e.g. float32 denormals) is IN the vec_domain rail
    # yet quantizes to the all-zero vq, and a label's centroid sum can
    # cancel to zero — either way the cosine is 0/0 (Spark ANSI raises,
    # DuckDB NaNs). Undefined scores become NULL and are DROPPED before
    # ranking (NULL order in a window differs between engines: Spark
    # sorts NULLs first ascending, DuckDB last).
    _vq2 = (
        "aggregate(zip_with(transform(vq, x -> cast(x as double)),"
        " transform(vq, x -> cast(x as double)), (x, y) -> x * y),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    _cv2 = (
        "aggregate(zip_with(cv, cv, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    scored = vec.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.expr(
            f"CASE WHEN {_vq2} > 0.0 AND {_cv2} > 0.0 THEN "
            "aggregate(zip_with(transform(vq, x -> cast(x as double)), cv,"
            " (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
            f" / (sqrt({_vq2}) * sqrt({_cv2})) END"
        ).alias("centroid_cosine"),
    ).filter(F.col("centroid_cosine").isNotNull())
    w = Window.partitionBy("label").orderBy(
        F.col("centroid_cosine").asc(), "vec_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= OUTLIER_TOPK)
        .select(
            "label",
            "vec_id",
            "centroid_cosine",
            (F.lit(1.0) - F.col("centroid_cosine")).alias("outlier_score"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


PQ_M = 4  # subspaces
PQ_K = 16  # codewords per subspace
PQ_SUBDIM = 16  # dims per subspace (embedding dim 64 / PQ_M)


def _pq_subdist(m: int, a: str = "v", b: str = "sv"):
    """Squared distance between the m-th subvectors of columns a and b:
    three slice dot-products combined in the fixed kmeans_assign
    expression shape (list_dot_product bit-parity)."""
    start = m * PQ_SUBDIM + 1
    sa = f"slice({a}, {start}, {PQ_SUBDIM})"
    sb = f"slice({b}, {start}, {PQ_SUBDIM})"
    return F.expr(
        f"{_DOT.format(a=sa, b=sa)} - 2 * {_DOT.format(a=sa, b=sb)}"
        f" + {_DOT.format(a=sb, b=sb)}"
    )


def _pq_seeds(vec: DataFrame) -> DataFrame:
    return vec.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )


def _pq_assign(vec: DataFrame) -> DataFrame:
    """(vec_id, a0..a3) where a_m = struct(d: min subspace dist2,
    seed_id: the code) — all four argmins in ONE map-side partial
    aggregate over the broadcast codebook (see q_embedding_pq_encode)."""
    scored = vec.crossJoin(F.broadcast(_pq_seeds(vec)))
    cols = [_pq_subdist(m).alias(f"d{m}") for m in range(PQ_M)]
    mins = [
        F.min(F.struct(F.col(f"d{m}").alias("d"), "seed_id")).alias(f"a{m}")
        for m in range(PQ_M)
    ]
    return (
        scored.select("vec_id", "seed_id", *cols).groupBy("vec_id").agg(*mins)
    )


def q_embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode — the memory half of an IVF-PQ index
    (the structure every billion-vector ANN deployment ships): split
    each 64-dim embedding into 4 subvectors of 16 dims, quantize each
    against a 16-codeword-per-subspace codebook, and emit the 4-byte
    code plus the total reconstruction distortion. 64 floats (256 B)
    become 4 codes (4 B) — the 64x compression that lets a 100 TB
    embedding corpus fit cluster RAM for re-rank candidate scans.

    Codebooks are the kmeans_assign seeding (first PQ_K vectors by
    vec_id, sliced per subspace) — deterministic, so the oracle can
    replay them; a production build would train them with
    q_kmeans_train per subspace and the encode plan is unchanged.

    Hash-exactness is the kmeans_assign contract, x4: each subspace
    distance expands to three slice dot-products (the left-fold /
    list_dot_product bit-parity device), each argmin is a
    min(struct(dist2, seed_id)) with the (dist2, seed_id) tiebreak, and
    the total distortion is ONE fixed left-associated 4-term sum of the
    per-subspace minima.

    At 100 TB: codebook broadcast (PQ_K rows), distances and all four
    argmins computed map-side in ONE partial aggregate over the
    candidate rows — the corpus never shuffles, the exchange carries n
    compact (vec_id, 4 codes) rows. Encoding cost is O(n * PQ_K * dim)
    flops, embarrassingly parallel.
    """
    agg = _pq_assign(_vectors(spark, sf_dir))
    distortion = (
        F.col("a0.d") + F.col("a1.d") + F.col("a2.d") + F.col("a3.d")
    )
    return agg.select(
        "vec_id",
        F.col("a0.seed_id").alias("c0"),
        F.col("a1.seed_id").alias("c1"),
        F.col("a2.seed_id").alias("c2"),
        F.col("a3.seed_id").alias("c3"),
        distortion.alias("distortion"),
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the query half of
    IVF-PQ, composing with q_embedding_pq_encode's codes: per query
    vector, build the 4x16 subspace distance table against the
    codebook, approximate every candidate's distance as the sum of 4
    table lookups on its codes, take the top-{TOPK} by ADC, and attach
    the exact full-dim distance of each winner — the approx-vs-exact
    readout that tells you whether 64x compression kept enough recall.

    Exactness end-to-end: the distance table and the exact re-rank use
    the slice/full dot-product expansion (list_dot_product bit-parity
    contract), the ADC sum is ONE fixed left-associated 4-term add, and
    ranking breaks ties on (adc, cand_id) — so both engines produce the
    identical top-k and the driver hash is exact.

    At 100 TB this is THE reason PQ exists: the scan touches only the
    4-byte codes (a broadcast-joined table lookup per subspace — no
    vector arithmetic per candidate), the per-query top-k collapses in
    a partitioned window over n*|queries| compact rows, and only
    TOPK*|queries| rows ever see a full 64-dim vector again (the
    re-rank join). Swap the deterministic codebook for a trained one
    and shard queries in batches; the plan shape is unchanged.
    """
    vec = _vectors(spark, sf_dir)
    assign = _pq_assign(vec)
    codes = assign.select(
        "vec_id", *[F.col(f"a{m}.seed_id").alias(f"c{m}") for m in range(PQ_M)]
    )
    qs = vec.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    dt = qs.crossJoin(F.broadcast(_pq_seeds(vec))).select(
        "q_id",
        "seed_id",
        *[_pq_subdist(m, "qv", "sv").alias(f"t{m}") for m in range(PQ_M)],
    )
    adc = codes
    for m in range(PQ_M):
        adc = adc.join(
            F.broadcast(
                dt.select(
                    "q_id",
                    F.col("seed_id").alias(f"c{m}"),
                    F.col(f"t{m}"),
                )
            ),
            ["q_id", f"c{m}"] if m else [f"c{m}"],
        )
    adc_dist = (
        F.col("t0") + F.col("t1") + F.col("t2") + F.col("t3")
    )
    scored = adc.filter(F.col("vec_id") != F.col("q_id")).select(
        "q_id", F.col("vec_id").alias("cand_id"), adc_dist.alias("adc_dist2")
    )
    w = Window.partitionBy("q_id").orderBy("adc_dist2", "cand_id")
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
    )
    exact = (
        top.join(vec.select(F.col("vec_id").alias("cand_id"), "v"), "cand_id")
        .join(F.broadcast(qs), "q_id")
        .select(
            "q_id",
            "rn",
            "cand_id",
            "adc_dist2",
            F.expr(
                f"{_DOT.format(a='v', b='v')} - 2 * {_DOT.format(a='qv', b='v')}"
                f" + {_DOT.format(a='qv', b='qv')}"
            ).alias("exact_dist2"),
        )
    )
    return exact


MMR_CANDS = 10  # candidate pool per query (exact cosine top-C)
MMR_K = 5  # results returned per query
MMR_LAMBDA_10 = 7  # lambda = 0.7 in tenths (relevance vs diversity)


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank — the diversity-aware top-k
    every retrieval stack (RAG context selection, dedup-aware search,
    training-batch diversification) runs after a similarity scan:
    from each query's exact cosine top-{MMR_CANDS} pool, greedily pick
    {MMR_K} results maximizing 0.7*sim(q,d) - 0.3*max_s cos(d,s) over
    the already-selected set s — relevance traded against redundancy.

    The greedy loop is K-1 UNROLLED in-plan rounds (K is a constant, so
    this is the random_walks bounded-trip shape, not a fixpoint): each
    round anti-joins the selected set, computes the diversity penalty
    as a max over the candidate-candidate cosine table, and elects the
    argmax with a (score DESC, cand_id) row_number — fully
    deterministic because sims are the bit-parity dot-product device
    and the score is ONE fixed expression.

    At 100 TB the expensive part is the candidate scan (similarity_topk
    — or its IVF/PQ variants, drop-in); everything here runs on
    |queries| x {MMR_CANDS} candidate rows and a {MMR_CANDS}^2-per-
    query cosine table, both partitioned by query — per-query work is
    constant, the whole re-rank is embarrassingly parallel.
    """
    vec = _vectors(spark, sf_dir)
    norms = vec.withColumn("nrm", F.sqrt(_dot("v", "v")))
    q = norms.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        norms.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            (_dot("qv", "v") / (F.col("qn") * F.col("nrm"))).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    cands = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_CANDS)
        .select("q_id", "cand_id", "sim")
    ).persist()
    ca = cands.select("q_id", F.col("cand_id").alias("a"))
    cb = cands.select("q_id", F.col("cand_id").alias("b"))
    nv = norms.select(
        F.col("vec_id"), F.col("v"), F.col("nrm")
    )
    cc = (
        ca.join(cb, "q_id")
        .filter(F.col("a") != F.col("b"))
        .join(
            nv.select(
                F.col("vec_id").alias("a"),
                F.col("v").alias("av"),
                F.col("nrm").alias("an"),
            ),
            "a",
        )
        .join(
            nv.select(
                F.col("vec_id").alias("b"),
                F.col("v").alias("bv"),
                F.col("nrm").alias("bn"),
            ),
            "b",
        )
        .select(
            "q_id", "a", "b",
            (_dot("av", "bv") / (F.col("an") * F.col("bn"))).alias("cc_cos"),
        )
    ).persist()
    lam = MMR_LAMBDA_10 / 10.0
    one_m = (10 - MMR_LAMBDA_10) / 10.0
    # round 1: empty selected set -> penalty 0, score = lambda * sim
    w1 = Window.partitionBy("q_id").orderBy(
        (F.lit(lam) * F.col("sim")).desc(), F.col("cand_id")
    )
    sel = (
        cands.withColumn("rn", F.row_number().over(w1))
        .filter("rn = 1")
        .select(
            "q_id",
            F.lit(1).alias("round"),
            "cand_id",
            "sim",
            (F.lit(lam) * F.col("sim")).alias("mmr_score"),
        )
    )
    for r in range(2, MMR_K + 1):
        chosen = sel.select("q_id", F.col("cand_id").alias("sel_id"))
        remaining = cands.join(
            chosen.withColumnRenamed("sel_id", "cand_id"),
            ["q_id", "cand_id"],
            "left_anti",
        )
        pen = (
            remaining.join(
                cc.select("q_id", F.col("a").alias("cand_id"),
                          F.col("b").alias("sel_id"), "cc_cos"),
                ["q_id", "cand_id"],
            )
            .join(chosen, ["q_id", "sel_id"])
            .groupBy("q_id", "cand_id", "sim")
            .agg(F.max("cc_cos").alias("penalty"))
        )
        score = F.lit(lam) * F.col("sim") - F.lit(one_m) * F.col("penalty")
        wr = Window.partitionBy("q_id").orderBy(score.desc(), F.col("cand_id"))
        pick = (
            pen.withColumn("rn", F.row_number().over(wr))
            .filter("rn = 1")
            .select(
                "q_id",
                F.lit(r).alias("round"),
                "cand_id",
                "sim",
                score.alias("mmr_score"),
            )
        )
        sel = sel.unionByName(pick)
        if r < MMR_K:
            # The selected set is referenced twice next round (anti-join
            # + penalty join); without truncation the greedy lineage
            # doubles per round (2^K plan blowup — measured 32s -> ~5s
            # at sf0.01). K-1 tiny eager lineage cuts (graph/fixpoint.py).
            sel = cut(sel)
    return sel


TRUNC_DIM = 16  # matryoshka-style prefix dimensions


def q_truncated_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation quality report — the Matryoshka/MRL question
    every embedding deployment asks before cutting storage 4x: if we
    keep only the first {TRUNC_DIM} of 64 dims, how much of the full-
    precision cosine top-{TOPK} do we still retrieve? One row per query:
    truncated-vs-full overlap and recall@{TOPK}.

    Both rankings are the exact brute-force scorer over the bounded
    query set (the similarity_topk shape; slice dots via the bit-parity
    fold device), the overlap is an equi-join of two top-k tables, and
    recall is ONE closing division — so even this *quality metric* is
    hash-exact across engines.

    At 100 TB both legs swap for their index probes; the report stays
    |queries| x k. This is the measurement that justifies (or vetoes)
    pq/int8/truncation storage tiers — the same role ann_recall_report
    plays for LSH.
    """
    vec = _vectors(spark, sf_dir)

    def ranking(trunc: bool) -> DataFrame:
        if trunc:
            a = f"slice(v, 1, {TRUNC_DIM})"
            b = f"slice(qv, 1, {TRUNC_DIM})"
        else:
            a, b = "v", "qv"
        norms = vec.withColumn(
            "nrm", F.sqrt(F.expr(_DOT.format(a=a, b=a)))
        )
        q = norms.filter(F.col("vec_id") % QUERY_MOD == 0).select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        cos = F.expr(_DOT.format(a=b, b=a)) / (F.col("qn") * F.col("nrm"))
        w = Window.partitionBy("q_id").orderBy(
            cos.desc(), F.col("vec_id")
        )
        return (
            norms.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("q_id"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOPK)
            .select("q_id", F.col("vec_id").alias("cand_id"))
        )

    full = ranking(trunc=False)
    trunc = ranking(trunc=True)
    overlap = full.join(trunc, ["q_id", "cand_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_overlap")
    )
    qs = full.select("q_id").distinct()
    return qs.join(overlap, "q_id", "left").select(
        "q_id",
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        (
            F.coalesce("n_overlap", F.lit(0)).cast("double") / float(TOPK)
        ).alias("recall_at_k"),
    )


QUERIES = {
    "embedding_pq_encode": q_embedding_pq_encode,
    "pq_adc_topk": q_pq_adc_topk,
    "mmr_rerank": q_mmr_rerank,
    "truncated_embedding_recall": q_truncated_embedding_recall,
    "pca_power_iteration": q_pca_power_iteration,
    "rank_fusion_rrf": q_rank_fusion_rrf,
    "label_centroid_similarity": q_label_centroid_similarity,
    "embedding_label_outliers": q_embedding_label_outliers,
    "similarity_topk": q_similarity_topk,
    "kmeans_assign": q_kmeans_assign,
    "kmeans_update": q_kmeans_update,
    "kmeans_train": q_kmeans_train,
    "embedding_quantize": q_embedding_quantize,
    "embedding_stats": q_embedding_stats,
    "roc_auc_features": q_roc_auc_features,
    "similarity_ann_lsh": q_similarity_ann_lsh,
    "similarity_ivf": q_similarity_ivf,
    "similarity_ivf_topk": q_similarity_ivf_topk,
    "embedding_neardup": q_embedding_neardup,
    "pipeline_embedding_index": q_pipeline_embedding_index,
    "ann_recall_report": q_ann_recall_report,
}

PCA_DIM = 64  # oracle-side dimension constant (engine derives at runtime)


def _pca_oracle_sql(dim: int = PCA_DIM, rounds: int = PCA_ROUNDS) -> str:
    """Unrolled DuckDB twin of q_pca_power_iteration: per round, the
    per-row dot rides list_dot_product (bit-identical to Spark's
    zip_with left fold — the similarity_topk precedent), contributions
    quantize to BIGINT, the cross-row sum is exact, and the normalize
    replays the engine's index-order fold/sqrt/division."""
    ones = "[" + ", ".join(["1.0"] * dim) + "]"
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id,"
        " embedding::DOUBLE[] AS v FROM embeddings"
        f" WHERE {DUCK_VEC_WHERE})"
    ]
    prev_vec = ones
    for t in range(1, rounds + 1):
        ctes.append(
            f"d{t} AS MATERIALIZED (SELECT vec_id, v,"
            f" list_dot_product(v, {prev_vec}) AS dot FROM e)"
        )
        ctes.append(
            f"c{t} AS MATERIALIZED (SELECT unnest(range(len(v))) AS j,\n"
            f"  CAST(round(unnest(v) * dot * 1e6) AS BIGINT) AS c FROM d{t})"
        )
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT j, CAST(SUM(c) AS BIGINT) AS w"
            f" FROM c{t} GROUP BY j)"
        )
        ctes.append(
            f"n{t} AS MATERIALIZED (SELECT sqrt(list_dot_product(wl, wl))"
            f" AS nrm FROM (SELECT list(CAST(w AS DOUBLE) ORDER BY j) AS wl"
            f" FROM w{t}))"
        )
        prev_vec = (
            f"(SELECT list(CAST(w AS DOUBLE) / (SELECT nrm FROM n{t})"
            f" ORDER BY j) FROM w{t})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(j AS INTEGER) AS j, w AS w_q,"
        f" CAST(w AS DOUBLE) / (SELECT nrm FROM n{rounds}) AS loading"
        f" FROM w{rounds}"
    )


ORACLE = {
    "pca_power_iteration": _pca_oracle_sql(),
    "embedding_quantize": f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> abs(x))) AS mx
  FROM embeddings
  WHERE {DUCK_VEC_WHERE}
),
comp AS (
  SELECT vec_id, mx,
         CAST(generate_subscripts(v, 1) AS INT) AS dim,
         unnest(v) AS x
  FROM e
)
SELECT vec_id, dim,
       CASE WHEN mx = 0.0 THEN 0
            ELSE CAST(floor(x * 127.0 / mx) AS INT) END AS q,
       CAST(floor(mx * 1000000000.0) AS BIGINT) AS scale_e9
FROM comp
""",
    "kmeans_update": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e WHERE vec_id < {KMEANS_K}),
scored AS (
  SELECT e.vec_id, s.seed_id, e.v,
         list_dot_product(v, v) - 2 * list_dot_product(v, sv)
           + list_dot_product(sv, sv) AS dist2
  FROM e, seeds s
),
assigned AS (
  SELECT seed_id, v FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist2, seed_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
comp AS (
  SELECT seed_id,
         CAST(generate_subscripts(v, 1) AS INT) AS dim,
         CAST(floor(unnest(v) * 1000000.0) AS BIGINT) AS x_e6
  FROM assigned
)
SELECT seed_id, dim,
       count(*) AS n_members,
       CAST(SUM(x_e6) AS BIGINT) AS sum_e6,
       CAST(SUM(x_e6) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE)
         AS centroid
FROM comp
GROUP BY seed_id, dim
""",
    "embedding_pq_encode": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e WHERE vec_id < {PQ_K}),
scored AS (
  SELECT e.vec_id, s.seed_id,
"""
    + ",\n".join(
        f"""         list_dot_product(v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                          v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}])
           - 2 * list_dot_product(v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                                  sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}])
           + list_dot_product(sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                              sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}]) AS d{m}"""
        for m in range(PQ_M)
    )
    + f"""
  FROM e, seeds s
),
"""
    + ",\n".join(
        f"""m{m} AS (
  SELECT vec_id, seed_id AS c{m}, d{m} FROM (
    SELECT vec_id, seed_id, d{m},
           row_number() OVER (PARTITION BY vec_id ORDER BY d{m}, seed_id) AS rn
    FROM scored
  ) WHERE rn = 1
)"""
        for m in range(PQ_M)
    )
    + """
SELECT m0.vec_id, c0, c1, c2, c3,
       m0.d0 + m1.d1 + m2.d2 + m3.d3 AS distortion
FROM m0 JOIN m1 USING (vec_id) JOIN m2 USING (vec_id) JOIN m3 USING (vec_id)
""",
    "mmr_rerank": None,  # filled below (unrolled greedy rounds)
    "pq_adc_topk": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e WHERE vec_id < {PQ_K}),
scored AS (
  SELECT e.vec_id, s.seed_id,
"""
    + ",\n".join(
        f"""         list_dot_product(v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                          v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}])
           - 2 * list_dot_product(v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                                  sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}])
           + list_dot_product(sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                              sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}]) AS d{m}"""
        for m in range(PQ_M)
    )
    + f"""
  FROM e, seeds s
),
"""
    + ",\n".join(
        f"""m{m} AS (
  SELECT vec_id, seed_id AS c{m} FROM (
    SELECT vec_id, seed_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d{m}, seed_id) AS rn
    FROM scored
  ) WHERE rn = 1
)"""
        for m in range(PQ_M)
    )
    + f""",
codes AS (
  SELECT m0.vec_id, c0, c1, c2, c3
  FROM m0 JOIN m1 USING (vec_id) JOIN m2 USING (vec_id) JOIN m3 USING (vec_id)
),
qs AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {QUERY_MOD} = 0),
dt AS (
  SELECT q_id, seed_id,
"""
    + ",\n".join(
        f"""         list_dot_product(qv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                          qv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}])
           - 2 * list_dot_product(qv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                                  sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}])
           + list_dot_product(sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                              sv[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}]) AS t{m}"""
        for m in range(PQ_M)
    )
    + f"""
  FROM qs, seeds
),
adc AS (
  SELECT d0.q_id, c.vec_id AS cand_id,
         d0.t0 + d1.t1 + d2.t2 + d3.t3 AS adc_dist2
  FROM codes c
  JOIN dt d0 ON d0.seed_id = c.c0
  JOIN dt d1 ON d1.q_id = d0.q_id AND d1.seed_id = c.c1
  JOIN dt d2 ON d2.q_id = d0.q_id AND d2.seed_id = c.c2
  JOIN dt d3 ON d3.q_id = d0.q_id AND d3.seed_id = c.c3
  WHERE c.vec_id <> d0.q_id
),
top AS (
  SELECT q_id, cand_id, adc_dist2,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist2, cand_id) AS rn
  FROM adc
)
SELECT t.q_id, CAST(t.rn AS INT) AS rn, t.cand_id, t.adc_dist2,
       list_dot_product(e.v, e.v) - 2 * list_dot_product(q.qv, e.v)
         + list_dot_product(q.qv, q.qv) AS exact_dist2
FROM top t
JOIN e ON e.vec_id = t.cand_id
JOIN qs q ON q.q_id = t.q_id
WHERE t.rn <= {TOPK}
""",
    "kmeans_assign": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e WHERE vec_id < {KMEANS_K}),
scored AS (
  SELECT e.vec_id, s.seed_id,
         list_dot_product(v, v) - 2 * list_dot_product(v, sv)
           + list_dot_product(sv, sv) AS dist2
  FROM e, seeds s
),
assigned AS (
  SELECT vec_id, seed_id, dist2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist2, seed_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY seed_id
                               ORDER BY dist2, vec_id) AS rk
  FROM assigned
)
SELECT seed_id, count(*) AS n_members,
       min(CASE WHEN rk = 1 THEN vec_id END) AS closest_vec_id,
       min(dist2) AS min_dist2,
       max(dist2) AS radius2
FROM ranked GROUP BY seed_id
""",
    "roc_auc_features": f"""
WITH feats AS (
  SELECT label, f.feature_idx, f.score
  FROM (SELECT label,
               UNNEST([{', '.join(
                   "{'feature_idx': CAST(%d AS INT),"
                   " 'score': CAST(round(CAST(embedding[%d] AS DOUBLE) * 1e6)"
                   " AS BIGINT)}" % (j, j + 1)
                   for j in range(AUC_N_FEATURES))}]) AS f
        FROM embeddings
        WHERE label IS NOT NULL AND {DUCK_VEC_WHERE})),
lab_h AS (SELECT feature_idx, score, label, COUNT(*) AS n
          FROM feats GROUP BY 1, 2, 3),
tot_h AS (SELECT feature_idx, score, SUM(n) AS t_v
          FROM lab_h GROUP BY 1, 2),
labels AS (SELECT DISTINCT label AS target FROM lab_h),
grid AS (
  SELECT l.target, t.feature_idx, t.score, t.t_v,
         COALESCE(h.n, 0) AS np_v
  FROM tot_h t CROSS JOIN labels l
  LEFT JOIN lab_h h ON h.feature_idx = t.feature_idx
                   AND h.score = t.score AND h.label = l.target),
ranked AS (
  SELECT target, feature_idx, np_v, t_v,
         SUM(t_v) OVER (PARTITION BY target, feature_idx ORDER BY score
                        ROWS UNBOUNDED PRECEDING) - t_v AS c_below
  FROM grid),
agg AS (
  SELECT target, feature_idx,
         CAST(SUM(np_v) AS BIGINT) AS n_pos,
         CAST(SUM(t_v - np_v) AS BIGINT) AS n_neg,
         CAST(SUM(np_v * (2 * c_below + t_v + 1)) AS BIGINT) AS r2_pos
  FROM ranked GROUP BY 1, 2)
SELECT target AS label, feature_idx, n_pos, n_neg,
       CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
         / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
FROM agg
""",
    "embedding_stats": """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       CAST(list_position(embedding, list_max(embedding)) - 1 AS INT) AS argmax_idx
FROM embeddings
WHERE embedding IS NOT NULL
""",
    "similarity_topk": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
           AS cosine
  FROM e q, e c
  WHERE q.vec_id % {QUERY_MOD} = 0 AND c.vec_id <> q.vec_id
)
SELECT q_id, cand_id, cosine, CAST(rn AS INT) AS rn FROM (
  SELECT q_id, cand_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
  FROM scored
) WHERE rn <= {TOPK}
""",
    "embedding_neardup": f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label < {NEARDUP_LABELS} AND {DUCK_VEC_WHERE}
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         AS cosine
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= {NEARDUP_THRESHOLD}
""",
}


def _ivf_oracle(k: int, with_rank: bool) -> str:
    """DuckDB twin of :func:`ivf_topk` — IVF is deterministic arithmetic
    (broadcast-centroid assignment, nprobe bucket join, exact re-rank),
    so the whole pipeline is plain SQL; cosines are bit-identical by the
    same sequential-accumulation argument as similarity_topk."""
    cols = "q_id, nn_id, cosine" + (
        ", CAST(rank AS INT) AS rank" if with_rank else ""
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
          WHERE vec_id % {IVF_CENTROID_MOD} = 0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id)
         AS c_rn
  FROM (SELECT n.vec_id, n.v, n.nrm, c.c_id,
               list_dot_product(n.v, c.cv) / (n.nrm * c.cn) AS c_cos
        FROM n, cents c)
),
members AS (SELECT c_id AS bucket, vec_id AS nn_id, v AS nv, nrm AS nn_nrm
            FROM ranked WHERE c_rn = 1),
probes  AS (SELECT c_id AS bucket, vec_id AS q_id, v AS qv, nrm AS qn
            FROM ranked WHERE c_rn <= {IVF_NPROBE}),
cand AS (
  SELECT DISTINCT p.q_id, m.nn_id,
         list_dot_product(p.qv, m.nv) / (p.qn * m.nn_nrm) AS cosine
  FROM probes p JOIN members m USING (bucket)
  WHERE m.nn_id <> p.q_id
)
SELECT {cols} FROM (
  SELECT q_id, nn_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id)
         AS rank
  FROM cand
) WHERE rank <= {k}
"""


ORACLE["similarity_ivf"] = _ivf_oracle(1, with_rank=False)
ORACLE["similarity_ivf_topk"] = _ivf_oracle(3, with_rank=True)


def _kmeans_train_oracle(rounds: int) -> str:
    """DuckDB twin of :func:`q_kmeans_train` — the N Lloyd rounds
    unrolled as chained CTE stages (the label_propagation device).
    Round r's centroids are the exact int64 sums divided once, so both
    engines enter round r+1 with bit-identical doubles."""
    stages = []
    for r in range(1, rounds + 1):
        prev = "c0" if r == 1 else f"c{r - 1}"
        stages.append(f"""
s{r} AS (
  SELECT seed_id,
         CAST(generate_subscripts(v, 1) AS INT) AS dim,
         CAST(floor(unnest(v) * 1000000.0) AS BIGINT) AS x_e6
  FROM (
    SELECT seed_id, v FROM (
      SELECT e.vec_id, c.seed_id, e.v,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                 + list_dot_product(c.cv, c.cv), c.seed_id) AS rn
      FROM e, {prev} c
    ) WHERE rn = 1
  )
),
g{r} AS (
  SELECT seed_id, dim, count(*) AS n_members,
         CAST(SUM(x_e6) AS BIGINT) AS sum_e6,
         CAST(SUM(x_e6) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE)
           AS centroid
  FROM s{r} GROUP BY seed_id, dim
),
c{r} AS (
  SELECT seed_id, list(centroid ORDER BY dim) AS cv FROM g{r}
  GROUP BY seed_id
)""")
    body = ",".join(stages)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
c0 AS (SELECT vec_id AS seed_id, v AS cv FROM e WHERE vec_id < {KMEANS_K}),
{body}
SELECT seed_id, dim, n_members, sum_e6, centroid FROM g{rounds}
"""


ORACLE["kmeans_train"] = _kmeans_train_oracle(KMEANS_TRAIN_ROUNDS)


def _ann_recall_oracle() -> str:
    """Composes the (hash-green) LSH twin with a brute-force exact
    referee; the report is deterministic because both sides are."""
    return f"""
WITH ann AS ({{ann_sql}}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
ex AS (
  SELECT q_id, nn_id AS true_nn FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS nn_id,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id)
             AS rn
    FROM n a JOIN n b ON b.vec_id <> a.vec_id
  ) WHERE rn = 1
),
joined AS (
  SELECT ex.q_id, ex.true_nn, ann.nn_id AS ann_nn
  FROM ex LEFT JOIN ann ON ann.q_id = ex.q_id
)
SELECT count(*) AS n_vectors,
       count(ann_nn) AS n_with_candidate,
       count(CASE WHEN ann_nn = true_nn THEN 1 END) AS n_correct,
       CAST(count(CASE WHEN ann_nn = true_nn THEN 1 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS recall_at_1,
       CAST(count(ann_nn) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
FROM joined
"""

ORACLE["pipeline_embedding_index"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
comp AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         CAST(floor(list_max(list_transform(v, x -> abs(x)))
                    * 1000000000.0) AS BIGINT) AS scale_e9
  FROM e
),
cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM comp
          WHERE vec_id % {IVF_CENTROID_MOD} = 0),
assigned AS (
  SELECT vec_id, scale_e9, c_id AS bucket FROM (
    SELECT comp.vec_id, comp.scale_e9, c.c_id,
           row_number() OVER (PARTITION BY comp.vec_id ORDER BY
             list_dot_product(comp.v, c.cv) / (comp.nrm * c.cn) DESC,
             c.c_id DESC) AS rn
    FROM comp, cents c
  ) WHERE rn = 1
)
SELECT bucket, count(*) AS n_vectors,
       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id,
       CAST(SUM(scale_e9) AS BIGINT) AS sum_scale_e9
FROM assigned GROUP BY bucket
"""

# The LSH twin re-derives the SAME buckets from the SAME literal plane
# matrix (sliced to the data's dim), joins within (table, bucket), and
# re-ranks — the approximation is deterministic, so the hash matches.
ORACLE["similarity_ann_lsh"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
b AS (
  SELECT vec_id, t,
         list_sum(list_transform(range({SIG_BITS}), j ->
           CASE WHEN list_dot_product(v, planes.pl[t + 1][j + 1][1:len(v)]) > 0
                THEN 1 << j ELSE 0 END)) AS bucket
  FROM n, range({LSH_TABLES}) r(t),
       (SELECT {_planes_duckdb(LSH_TABLES, SIG_BITS, PLANE_DIM)} AS pl) planes
),
pairs AS (
  SELECT DISTINCT a.vec_id AS q_id, c.vec_id AS nn_id
  FROM b a JOIN b c ON a.t = c.t AND a.bucket = c.bucket
  WHERE c.vec_id <> a.vec_id
),
scored AS (
  SELECT p.q_id, p.nn_id,
         list_dot_product(qa.v, qb.v) / (qa.nrm * qb.nrm) AS cosine
  FROM pairs p
  JOIN n qa ON qa.vec_id = p.q_id
  JOIN n qb ON qb.vec_id = p.nn_id
)
SELECT q_id, nn_id, cosine FROM (
  SELECT q_id, nn_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id) AS rn
  FROM scored
) WHERE rn = 1
"""

ORACLE["ann_recall_report"] = _ann_recall_oracle().format(
    ann_sql=ORACLE["similarity_ann_lsh"]
)

ORACLE["rank_fusion_rrf"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(c.v, c.v))) AS cosine,
         list_dot_product(c.v, c.v) - 2.0 * list_dot_product(q.v, c.v)
           + list_dot_product(q.v, q.v) AS dist2
  FROM e q, e c
  WHERE q.vec_id % {QUERY_MOD} = 0 AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT q_id, cand_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, cand_id) AS r_cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY dist2 ASC, cand_id) AS r_euc
  FROM scored
),
contrib AS (
  SELECT q_id, cand_id,
         (CASE WHEN r_cos <= {RRF_DEPTH}
               THEN CAST(round(1e12 / ({RRF_K} + r_cos)) AS BIGINT)
               ELSE 0 END
          + CASE WHEN r_euc <= {RRF_DEPTH}
                 THEN CAST(round(1e12 / ({RRF_K} + r_euc)) AS BIGINT)
                 ELSE 0 END) AS rrf_e12
  FROM ranked
)
SELECT q_id, cand_id, rrf_e12, CAST(rn AS INT) AS rn FROM (
  SELECT q_id, cand_id, rrf_e12,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY rrf_e12 DESC, cand_id) AS rn
  FROM contrib WHERE rrf_e12 > 0
) WHERE rn <= {TOPK}
"""

ORACLE["label_centroid_similarity"] = f"""
WITH vq AS (
  SELECT label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1e6) AS BIGINT)) AS vq
  FROM embeddings
  WHERE {DUCK_VEC_WHERE}
),
sums AS (
  SELECT label, CAST(i AS INT) AS pos,
         SUM(vq[CAST(i AS INT)]) AS s, COUNT(*) AS n
  FROM vq, range(1, 10000) r(i)
  WHERE CAST(i AS INT) <= len(vq)
  GROUP BY 1, 2
),
cent AS (
  SELECT label, MAX(n) AS n_vecs,
         list(CAST(s AS DOUBLE) ORDER BY pos) AS cv
  FROM sums GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(a.n_vecs AS BIGINT) AS n_a, CAST(b.n_vecs AS BIGINT) AS n_b,
       CASE WHEN list_dot_product(a.cv, a.cv) > 0.0
             AND list_dot_product(b.cv, b.cv) > 0.0
       THEN list_dot_product(a.cv, b.cv)
         / (sqrt(list_dot_product(a.cv, a.cv))
            * sqrt(list_dot_product(b.cv, b.cv)))
       END AS centroid_cosine
FROM cent a JOIN cent b ON a.label < b.label
"""

ORACLE["embedding_label_outliers"] = f"""
WITH vq AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1e6) AS BIGINT)) AS vq
  FROM embeddings
  WHERE {DUCK_VEC_WHERE}
),
sums AS (
  SELECT label, CAST(i AS INT) AS pos, SUM(vq[CAST(i AS INT)]) AS s
  FROM vq, range(1, 10000) r(i)
  WHERE CAST(i AS INT) <= len(vq)
  GROUP BY 1, 2
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS cv
  FROM sums GROUP BY label
),
scored AS (
  -- Quantized-norm guard mirroring the engine: undefined (0/0) scores
  -- are NULL and dropped BEFORE ranking (NULL window order differs
  -- between engines).
  SELECT v.label, v.vec_id,
         CASE WHEN list_dot_product(list_transform(v.vq, x -> CAST(x AS DOUBLE)),
                                    list_transform(v.vq, x -> CAST(x AS DOUBLE))) > 0.0
               AND list_dot_product(c.cv, c.cv) > 0.0
         THEN
         list_dot_product(list_transform(v.vq, x -> CAST(x AS DOUBLE)), c.cv)
           / (sqrt(list_dot_product(list_transform(v.vq, x -> CAST(x AS DOUBLE)),
                                    list_transform(v.vq, x -> CAST(x AS DOUBLE))))
              * sqrt(list_dot_product(c.cv, c.cv)))
         END AS centroid_cosine
  FROM vq v JOIN cent c USING (label)
)
SELECT label, vec_id, centroid_cosine,
       1.0 - centroid_cosine AS outlier_score,
       CAST(rn AS INT) AS rn
FROM (
  SELECT label, vec_id, centroid_cosine,
         row_number() OVER (PARTITION BY label
                            ORDER BY centroid_cosine ASC, vec_id) AS rn
  FROM scored
  WHERE centroid_cosine IS NOT NULL
) WHERE rn <= {OUTLIER_TOPK}
"""


def _mmr_oracle_sql(k: int = MMR_K) -> str:
    """Unrolled DuckDB twin of q_mmr_rerank: one (penalty, election)
    CTE pair per greedy round, selected-set carried as selall{r}."""
    lam = MMR_LAMBDA_10 / 10.0
    one_m = (10 - MMR_LAMBDA_10) / 10.0
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
        f" WHERE {DUCK_VEC_WHERE})",
        "n AS MATERIALIZED (SELECT vec_id, v,"
        " sqrt(list_dot_product(v, v)) AS nrm FROM e)",
        f"q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n"
        f" WHERE vec_id % {QUERY_MOD} = 0)",
        f"""cands AS MATERIALIZED (
  SELECT q_id, cand_id, sim FROM (
    SELECT q.q_id, n.vec_id AS cand_id,
           list_dot_product(qv, v) / (qn * nrm) AS sim,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, v) / (qn * nrm) DESC, n.vec_id) AS rn
    FROM n CROSS JOIN q WHERE n.vec_id <> q.q_id
  ) WHERE rn <= {MMR_CANDS})""",
        """cc AS MATERIALIZED (
  SELECT ca.q_id, ca.cand_id AS a, cb.cand_id AS b,
         list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) AS cc_cos
  FROM cands ca JOIN cands cb ON ca.q_id = cb.q_id
   AND ca.cand_id <> cb.cand_id
  JOIN n na ON na.vec_id = ca.cand_id
  JOIN n nb ON nb.vec_id = cb.cand_id)""",
        f"""sel1 AS (
  SELECT q_id, 1 AS round, cand_id, sim, {lam} * sim AS mmr_score FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY {lam} * sim DESC, cand_id) AS rn
    FROM cands) WHERE rn = 1)""",
        "selall1 AS (SELECT q_id, cand_id FROM sel1)",
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"""pen{r} AS (
  SELECT c.q_id, c.cand_id, c.sim, MAX(x.cc_cos) AS penalty
  FROM cands c
  JOIN cc x ON x.q_id = c.q_id AND x.a = c.cand_id
  JOIN selall{r - 1} s ON s.q_id = x.q_id AND s.cand_id = x.b
  WHERE NOT EXISTS (SELECT 1 FROM selall{r - 1} e2
                    WHERE e2.q_id = c.q_id AND e2.cand_id = c.cand_id)
  GROUP BY 1, 2, 3)"""
        )
        ctes.append(
            f"""sel{r} AS (
  SELECT q_id, {r} AS round, cand_id, sim,
         {lam} * sim - {one_m} * penalty AS mmr_score FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY {lam} * sim - {one_m} * penalty DESC, cand_id) AS rn
    FROM pen{r}) WHERE rn = 1)"""
        )
        ctes.append(
            f"selall{r} AS (SELECT * FROM selall{r - 1}"
            f" UNION ALL SELECT q_id, cand_id FROM sel{r})"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT q_id, round, cand_id, sim, mmr_score FROM sel{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


ORACLE["mmr_rerank"] = _mmr_oracle_sql()


def _trunc_recall_oracle_sql() -> str:
    def leg(trunc: bool, name: str) -> str:
        if trunc:
            a, b = f"v[1:{TRUNC_DIM}]", f"qv[1:{TRUNC_DIM}]"
        else:
            a, b = "v", "qv"
        return f"""{name} AS (
  SELECT q_id, cand_id FROM (
    SELECT q.q_id, n.vec_id AS cand_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product({b}, {a})
               / (sqrt(list_dot_product({b}, {b}))
                  * sqrt(list_dot_product({a}, {a}))) DESC,
             n.vec_id) AS rn
    FROM n CROSS JOIN q WHERE n.vec_id <> q.q_id
  ) WHERE rn <= {TOPK})"""

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
n AS (SELECT vec_id, v FROM e),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {QUERY_MOD} = 0),
{leg(False, "full_top")},
{leg(True, "trunc_top")},
overlap AS (
  SELECT f.q_id, COUNT(*) AS n_overlap
  FROM full_top f JOIN trunc_top t
    ON t.q_id = f.q_id AND t.cand_id = f.cand_id
  GROUP BY 1
)
SELECT q.q_id,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / {float(TOPK)}
         AS recall_at_k
FROM (SELECT DISTINCT q_id FROM q) q
LEFT JOIN overlap o ON o.q_id = q.q_id
"""


ORACLE["truncated_embedding_recall"] = _trunc_recall_oracle_sql()
