"""End-to-end training-data cleaning pipeline: the LLM-data operators
composed the way a real corpus build runs them, in one DataFrame plan.

    documents
      -> quality score (JVM-side heuristic, text_analysis.py formula)
      -> quality filter (>= 0.5)
      -> exact dedup   (sha2 digest, keep min doc_id per group)
      -> near-dedup    (3-gram shingle Jaccard >= 0.8 inverted index,
                        drop the higher doc_id of each qualifying pair)
      -> per-source corpus stats

Each stage is individually hash-verified by its own queries() entry
(text_quality, dedup_exact, ngram_jaccard_pairs); this entry verifies
the COMPOSITION — stage boundaries, survivor propagation, and the
deterministic keep rules — against a DuckDB oracle built from the same
verified SQL fragments chained with CTEs.

Determinism notes: the quality threshold compares identically-computed
IEEE doubles (same ops, same order, both engines), so the boundary set
is bit-stable; dedup keep rules are min-id (order-free); the near-dup
drop rule is single-pass ("drop any doc appearing as the higher id in
a pair"), not iterative clustering, so it needs no fixpoint.

At 100 TB: quality scoring is map-side; exact dedup shuffles digests
(not texts); the near-dup inverted index shuffles shingle postings of
quality+exact survivors only (each stage shrinks the data before the
next, the whole point of this stage order). The jaccard self-join
inherits the posting-skew guards documented in dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.fixpoint import keep
from ..io.sources import load_parallel
from .dedup import JACCARD_THRESHOLD
from .text_common import (
    DUCK_TOKENS,
    SHINGLE_MAX_DF,
    TOKENS_EXPR,
    prune_hot_shingles,
    shingle_postings,
)
from .text_analysis import STOPWORDS

QUALITY_MIN = 0.5


def _quality_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages shared by both pipeline queries: quality filter -> exact
    dedup survivors, (doc_id, source, text, n_tokens), cached under the
    core-count clamp (see q_pipeline_clean_corpus notes)."""
    docs = load_parallel(spark, sf_dir, "documents")
    # Zero-token documents (empty/NULL text — normal in web corpora)
    # are dropped BEFORE the ratio divisions, which would otherwise
    # throw under ANSI mode and kill the whole pipeline; an empty doc
    # could never pass the quality gate anyway. Mirrored in both
    # pipeline oracles' comp CTEs.
    t = docs.select(
        "doc_id", "source", "text", F.expr(TOKENS_EXPR).alias("toks")
    ).filter(F.size("toks") > 0)
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    comp = t.select(
        "doc_id",
        "source",
        "text",
        F.size("toks").alias("n_tokens"),
        (F.expr(f"size(filter(toks, x -> x IN ({en})))") / F.size("toks")).alias(
            "stopword_ratio"
        ),
        (F.size(F.array_distinct("toks")) / F.size("toks")).alias("ttr"),
        F.when((F.size("toks") >= 20) & (F.size("toks") <= 100), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("len_ok"),
    )
    scored = comp.withColumn(
        "quality",
        F.col("len_ok") * 0.4
        + F.col("ttr") * 0.4
        + F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0)) * 0.2,
    )
    q_ok = scored.filter(F.col("quality") >= QUALITY_MIN).select(
        "doc_id", "source", "text", "n_tokens"
    )

    # Exact dedup: min doc_id per sha2 digest (digests shuffle, texts
    # stay put). Kept: feeds the keep-set agg, the survivor join and
    # the shingle pipeline below. The whole chain (digests -> s1 ->
    # post) is kept under the core-count clamp (fixpoint.keep), so on a
    # stock 200-partition session the semi-join exchange inside s1 does
    # not run 200-task stages.
    digests = keep(q_ok.withColumn("digest", F.sha2("text", 256)))
    keep_exact = digests.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    return keep(digests.join(keep_exact, ["digest", "doc_id"], "semi"))


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = _quality_exact_survivors(spark, sf_dir)
    # Near-dedup among exact survivors: inverted-index Jaccard, drop the
    # higher id of each >= threshold pair. Postings are max-df pruned
    # BEFORE the pair join (text_common.SHINGLE_MAX_DF — the same
    # posting-skew guard as dedup._pruned_postings; a no-op at test
    # scale, the d^2 bound on boilerplate shingles at corpus scale). Raw
    # postings feed the prune twice (df agg + keep join); the pruned set
    # feeds sizes + both self-join sides — both kept.
    post_raw = keep(shingle_postings(s1.select("doc_id", "text")))
    post = keep(prune_hot_shingles(post_raw))
    sizes = post.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = post.alias("a"), post.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    drop = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
            >= JACCARD_THRESHOLD
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(drop, "doc_id", "anti")

    return s2.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def q_pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The downstream half of the corpus build, composed end-to-end:

        quality filter -> exact dedup  (shared _quality_exact_survivors)
          -> overlapping token-window chunking  (chunk_documents grid)
          -> deterministic train/val/test assignment  (split_train_test
             md5-bucket, a pure function of doc_id)
          -> per-(split, source) chunk inventory

    Output: (split, source, n_docs, n_chunks, n_uniq_chunks,
    sum_chunk_tokens) — what a dataset card reports per shard set.
    n_uniq_chunks counts distinct chunk digests, i.e. the post-split
    chunk-level dedup opportunity.

    Scale: every added stage is map-side (chunk generate, split hash) —
    the only shuffles beyond the shared clean stages are the final
    aggregation's partial-agg exchange and countDistinct's digest
    shuffle, both keyed small.
    """
    from .sampling import _SPLIT_KEY, _TRAIN_HI, _VAL_HI, _bucket
    from .sampling import chunk_windows

    s1 = _quality_exact_survivors(spark, sf_dir)
    chunks = chunk_windows(
        s1.select("doc_id", "source", "text"), "doc_id", "source"
    )
    b = _bucket(F.col("doc_id"), _SPLIT_KEY)
    assigned = chunks.select(
        "doc_id",
        "source",
        F.when(b < _TRAIN_HI, "train")
        .when(b < _VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
        F.size("ch").cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join("ch", " ")).alias("chunk_digest"),
    )
    return assigned.groupBy("split", "source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.countDistinct("chunk_digest").alias("n_uniq_chunks"),
        F.sum("n_chunk_tokens").alias("sum_chunk_tokens"),
    )


QUERIES = {
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "pipeline_training_data": q_pipeline_training_data,
}

_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

ORACLE = {
    "pipeline_clean_corpus": f"""
WITH t AS (SELECT doc_id, source, text, {DUCK_TOKENS} AS toks FROM documents),
comp AS (
  SELECT doc_id, source, text,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ({_EN}))) / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) / len(toks) AS ttr,
         CAST(CASE WHEN len(toks) BETWEEN 20 AND 100 THEN 1.0 ELSE 0.0 END
              AS DOUBLE) AS len_ok
  FROM t
  WHERE len(toks) > 0
),
qok AS (
  SELECT doc_id, source, text, n_tokens
  FROM comp
  WHERE len_ok * 0.4 + ttr * 0.4 + least(stopword_ratio * 4.0, 1.0) * 0.2
        >= {QUALITY_MIN}
),
keepx AS (SELECT min(doc_id) AS doc_id FROM qok GROUP BY text),
s1 AS (SELECT * FROM qok WHERE doc_id IN (SELECT doc_id FROM keepx)),
toks1 AS (SELECT doc_id, {DUCK_TOKENS} AS t FROM s1),
sh0 AS (
  SELECT DISTINCT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
                          || ' ' || t[CAST(i AS INT)+2] AS s
  FROM toks1, range(1, 10000) r(i)
  WHERE CAST(i AS INT) + 2 <= len(t)
),
sh AS (
  SELECT a.doc_id, a.s FROM sh0 a
  JOIN (SELECT s FROM sh0 GROUP BY s
        HAVING count(*) <= {SHINGLE_MAX_DF}) keepset USING (s)
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN sz sa ON sa.doc_id = a.doc_id
  JOIN sz sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
  HAVING count(*) / (sa.n + sb.n - count(*)) >= {JACCARD_THRESHOLD}
),
s2 AS (SELECT * FROM s1
       WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs))
SELECT source, count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM s2 GROUP BY source
""",
}

from .sampling import (  # noqa: E402
    CHUNK_STRIDE as _CS,
    CHUNK_W as _CW,
    _SPLIT_KEY as _SK,
    _TRAIN_HI as _TH,
    _VAL_HI as _VH,
)

ORACLE["pipeline_training_data"] = f"""
WITH t AS (SELECT doc_id, source, text, {DUCK_TOKENS} AS toks FROM documents),
comp AS (
  SELECT doc_id, source, text,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ({_EN}))) / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) / len(toks) AS ttr,
         CAST(CASE WHEN len(toks) BETWEEN 20 AND 100 THEN 1.0 ELSE 0.0 END
              AS DOUBLE) AS len_ok
  FROM t
  WHERE len(toks) > 0
),
qok AS (
  SELECT doc_id, source, text
  FROM comp
  WHERE len_ok * 0.4 + ttr * 0.4 + least(stopword_ratio * 4.0, 1.0) * 0.2
        >= {QUALITY_MIN}
),
keepx AS (SELECT min(doc_id) AS doc_id FROM qok GROUP BY text),
s1 AS (SELECT * FROM qok WHERE doc_id IN (SELECT doc_id FROM keepx)),
toks1 AS (SELECT doc_id, source, {DUCK_TOKENS} AS t FROM s1),
grid AS (
  SELECT doc_id, source, t, CAST(i AS INT) * {_CS} AS start
  FROM toks1, range(0, 100000) r(i)
  WHERE len(t) > 0
    AND CAST(i AS INT) <
        1 + ((greatest(len(t) - {_CW}, 0) + {_CS} - 1) // {_CS})
),
assigned AS (
  SELECT doc_id, source,
         CASE WHEN substr(md5('{_SK}' || CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{_TH}' THEN 'train'
              WHEN substr(md5('{_SK}' || CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{_VH}' THEN 'val'
              ELSE 'test' END AS split,
         CAST(len(t[start + 1 : start + {_CW}]) AS BIGINT) AS n_chunk_tokens,
         md5(array_to_string(t[start + 1 : start + {_CW}], ' ')) AS chunk_digest
  FROM grid
)
SELECT split, source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       count(*) AS n_chunks,
       CAST(count(DISTINCT chunk_digest) AS BIGINT) AS n_uniq_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS sum_chunk_tokens
FROM assigned GROUP BY split, source
"""


HYBRID_TOPK = 10
HYBRID_QVEC = 0  # the fixed dense-query vector id


def q_pipeline_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval end-to-end — the dense+lexical RAG stack as ONE
    plan: the BM25 leg (q_bm25_scoring's fixed-term ranking) fused with
    a dense leg (cosine of every embedding against query vector
    {HYBRID_QVEC}, depth-20) by reciprocal-rank fusion, top-{HYBRID_TOPK}
    out. doc_id and vec_id are the aligned corpus key, so the fusion is
    a full-outer join of two rank tables — a document found by only one
    leg still scores on that leg (the COALESCE-0 convention of
    rank_fusion_rrf).

    Composition, not re-implementation: the lexical leg IS
    q_bm25_scoring, the fusion arithmetic IS the rank_fusion_rrf
    e12-quantized device; the oracle nests the bm25 twin verbatim. At
    100 TB each leg swaps its brute scorer for its index probe
    (inverted-list / IVF-PQ) with the fusion join unchanged — fused
    state is 40 rows per query.
    """
    from .similarity import QUERY_MOD, RRF_K, _DOT, _vectors  # noqa: F401
    from .text_analysis import q_bm25_scoring

    from pyspark.sql import Window

    lex = q_bm25_scoring(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("r_lex")
    )
    vec = _vectors(spark, sf_dir)
    norms = vec.withColumn(
        "nrm", F.sqrt(F.expr(_DOT.format(a="v", b="v")))
    )
    qv = norms.filter(F.col("vec_id") == HYBRID_QVEC).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    dense_scored = (
        norms.filter(F.col("vec_id") != HYBRID_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                F.expr(_DOT.format(a="qv", b="v"))
                / (F.col("qn") * F.col("nrm"))
            ).alias("cos"),
        )
    )
    wd = Window.orderBy(F.col("cos").desc(), F.col("doc_id"))
    dense = (
        dense_scored.withColumn("r_dense", F.row_number().over(wd))
        .filter(F.col("r_dense") <= 20)
        .select("doc_id", F.col("r_dense").cast("long").alias("r_dense"))
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_dense",
        (
            F.when(
                F.col("r_lex").isNotNull(),
                F.round(F.lit(1e12) / (F.lit(RRF_K) + F.col("r_lex"))).cast(
                    "long"
                ),
            ).otherwise(F.lit(0))
            + F.when(
                F.col("r_dense").isNotNull(),
                F.round(
                    F.lit(1e12) / (F.lit(RRF_K) + F.col("r_dense"))
                ).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("rrf_e12"),
    )
    wf = Window.orderBy(F.col("rrf_e12").desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= HYBRID_TOPK)
    )


QUERIES["pipeline_hybrid_search"] = q_pipeline_hybrid_search


def _hybrid_oracle_sql() -> str:
    from .similarity import RRF_K
    from .text_analysis import ORACLE as _TEXT_ORACLE

    bm25 = _TEXT_ORACLE["bm25_scoring"]
    return f"""
WITH lex AS (
  SELECT doc_id, rank AS r_lex FROM ({bm25})
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 1000000.0 OR isnan(x))) = 0 AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x <> 0.0)) > 0),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
qv AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = {HYBRID_QVEC}),
dense AS (
  SELECT doc_id, r_dense FROM (
    SELECT n.vec_id AS doc_id,
           row_number() OVER (ORDER BY
             list_dot_product(qv, v) / (qn * nrm) DESC, n.vec_id) AS r_dense
    FROM n CROSS JOIN qv WHERE n.vec_id <> {HYBRID_QVEC}
  ) WHERE r_dense <= 20
),
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         l.r_lex, d.r_dense,
         (CASE WHEN l.r_lex IS NOT NULL
               THEN CAST(round(1e12 / ({RRF_K} + l.r_lex)) AS BIGINT)
               ELSE 0 END
          + CASE WHEN d.r_dense IS NOT NULL
                 THEN CAST(round(1e12 / ({RRF_K} + d.r_dense)) AS BIGINT)
                 ELSE 0 END) AS rrf_e12
  FROM lex l FULL OUTER JOIN dense d ON d.doc_id = l.doc_id
)
SELECT doc_id, r_lex, r_dense, rrf_e12,
       CAST(row_number() OVER (ORDER BY rrf_e12 DESC, doc_id) AS BIGINT)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= {HYBRID_TOPK}
"""


ORACLE["pipeline_hybrid_search"] = _hybrid_oracle_sql()
