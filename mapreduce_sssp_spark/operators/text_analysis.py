"""Text analysis operators over ``documents`` (SURVEY.md §7 P3):
token counting, quality scoring, language ID, document fingerprinting.

Everything is expression-level (split/regexp/aggregate/transform —
whole-stage-codegen'd JVM evaluation, no Python in the hot path), and
every query has a DuckDB oracle twin built from the same tokenization
fragments (text_common).

Bit-exactness: all ratios are int/int double divisions of identical
operands; the fingerprint is an integer min; no float accumulation
anywhere.

At 100 TB these are embarrassingly parallel map-side transforms — no
shuffle except the final aggregation of ``token_freq_top100`` (partial
map-side combine on the token key; the heavy-hitter skew of natural
language is absorbed by the partial aggregate, not a repartition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.fixpoint import cut, keep
from ..runstate import shared_state
from ..io.sources import load_parallel, load_table
from .text_common import (
    DUCK_SHINGLES_REL,
    DUCK_TOKENS,
    TOKENS_EXPR,
    shingle_postings,
)

# BPE-ish pre-tokenizer: letter runs, digit runs, single other non-space.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "los"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "de": ["der", "die", "und", "das", "ein", "mit"],
    "zh": ["de", "le", "shi", "bu", "zai", "you"],
}


def _with_tokens(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text", F.expr(TOKENS_EXPR).alias("toks"))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: counts, type-token ratio, lengths.

    Ratio denominators are guarded (n_tokens > 0 else NULL — the
    SCALE.md degenerate-denominator convention): a token-less document
    (empty or whitespace-only text, normal in web corpora) would
    otherwise ANSI-crash the whole scan, and NULL is exactly what the
    DuckDB twin's x/0 produces (probed r10 on an adversarial corpus).
    """
    # text IS NOT NULL (r11 NULL sweep): NULL-text docs have no token
    # stats, and NULL propagation through size()/len() differs between
    # engines. Twin mirrors the WHERE.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = _with_tokens(docs)
    nz = F.size("toks") > 0
    return t.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.when(
            nz, F.size(F.array_distinct("toks")) / F.size("toks")
        ).alias("ttr"),
        F.expr(
            "aggregate(toks, 0L, (acc, x) -> acc + length(x))"
        ).alias("sum_tok_len"),
        F.when(
            nz,
            F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
            / F.size("toks"),
        ).alias("avg_tok_len"),
        F.expr("aggregate(toks, 0, (acc, x) -> greatest(acc, length(x)))").alias(
            "max_tok_len"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)).alias(
            "n_bpe_tokens"
        ),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length band + stopword ratio + TTR.

    The score formula is arbitrary but fixed; what matters is that every
    component is a deterministic JVM-side expression a 100 TB filter
    could run map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = _with_tokens(docs)
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    # n_tokens > 0 guards (NULL otherwise): token-less docs would
    # ANSI-crash the scan; the twin's x/0 is NULL and the quality
    # formula NULL-propagates identically in both engines (Spark and
    # DuckDB `least` both skip NULL operands).
    nz = F.size("toks") > 0
    comp = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.when(
            nz, F.expr(f"size(filter(toks, x -> x IN ({en})))") / F.size("toks")
        ).alias("stopword_ratio"),
        F.when(nz, F.size(F.array_distinct("toks")) / F.size("toks")).alias(
            "ttr"
        ),
        F.when((F.size("toks") >= 20) & (F.size("toks") <= 100), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("len_ok"),
    )
    return comp.select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "ttr",
        "len_ok",
        (
            F.col("len_ok") * 0.4
            + F.col("ttr") * 0.4
            + F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0)) * 0.2
        ).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID with deterministic tie-break.

    Argmax over per-language stopword hit counts via a left-to-right
    strictly-greater fold over alphabetically-ordered languages — ties
    resolve to the alphabetically-first language.
    """
    # text IS NOT NULL (r11 NULL sweep; twin mirrors the WHERE).
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = _with_tokens(docs)
    scores = [
        F.struct(
            F.expr(
                "size(filter(toks, x -> x IN ({})))".format(
                    ", ".join(f"'{w}'" for w in ws)
                )
            ).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in sorted(STOPWORDS.items())
    ]
    # max over (hits, neg-ordered lang): to make ties pick the first
    # language alphabetically, compare on (hits, reverse_alpha) — encode
    # by flipping each char is overkill; instead reduce left-to-right
    # keeping strictly-greater, which preserves the first-seen on ties.
    arr = F.array(*scores)
    best = F.expr(
        "aggregate(langscores, langscores[0],"
        " (acc, x) -> if(x.hits > acc.hits, x, acc))"
    )
    return (
        t.withColumn("langscores", arr)
        .select(
            "doc_id",
            best.getField("lang").alias("pred_lang"),
            best.getField("hits").alias("hits"),
        )
    )


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation confusion matrix: the stopword-voting language
    ID (``lang_id``) scored against the documents table's ground-truth
    ``lang`` label — per (truth, predicted) counts plus each cell's
    share of its truth row (recall decomposition). The evaluation-
    harness primitive every classifier in the pipeline needs, run
    distributed: one join of predictions back to labels on doc_id, one
    (truth, pred) aggregate, row totals via a window over the already-
    aggregated (|labels| x |labels|) frame — same grouping key prefix,
    so the window rides the aggregate's exchange.

    Counts are exact ints; the share is one int/int double division.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pred = q_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    cells = (
        docs.select("doc_id", F.col("lang").alias("truth"))
        .join(pred, "doc_id")
        .groupBy("truth", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("truth")
    return cells.select(
        "truth",
        "pred_lang",
        "n",
        F.sum("n").over(w).alias("n_truth"),
        (
            F.col("n").cast("double")
            / F.sum("n").over(w).cast("double")
        ).alias("row_share"),
    )


def q_source_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TRAINED classifier, end to end in the engine — the full ML
    data loop (split -> fit -> predict -> evaluate) as one hash-checked
    plan, no model server. The deliverable is the LOOP and its hygiene,
    stated honestly: this synthetic corpus carries only a weak
    text->source signal (measured ~7% held-out accuracy on 20 classes
    vs 5% chance), and the held-out number being unimpressive is
    exactly what an honest eval reports — a naive doc_id%2 split, by
    contrast, was CONFOUNDED (doc_id % 20 IS the source, so train and
    test sources were disjoint and accuracy was a perfect 0), which is
    the textbook reason the split below is the md5 hash device, not
    arithmetic on an id that encodes the label.

    Model: per-source multinomial token counts from the train split
    only; scoring is the exact-integer dot product tf_doc * cnt_source
    normalized ONCE by the source's token total (one exactly-rounded
    division per (doc, source)); argmax with ties to the smallest
    source (the lang_id election device). Scale: the model is a
    (sources x vocab) count table keyed by token — the scoring join is
    the inverted-index shape, never doc x model.
    """
    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        "source",
        (F.md5(F.col("doc_id").cast("string")) < "8").alias("is_train"),
    )
    tok = _with_tokens(docs).select(
        "doc_id", F.explode("toks").alias("token")
    ).join(split, "doc_id")
    counts = (
        tok.filter("is_train")
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    totals = counts.groupBy("source").agg(F.sum("cnt").alias("n_tok"))
    model = counts.join(totals, "source").select(
        F.col("source").alias("psource"), "token", "cnt", "n_tok"
    )
    test_tf = (
        tok.filter(~F.col("is_train"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    scores = (
        test_tf.join(model, "token")
        .groupBy("doc_id", "psource", "n_tok")
        .agg(F.sum(F.expr("tf * cnt")).alias("dot"))
        .select(
            "doc_id",
            "psource",
            (
                F.col("dot").cast("double") / F.col("n_tok").cast("double")
            ).alias("score"),
        )
    )
    best = scores.groupBy("doc_id").agg(F.max("score").alias("ms"))
    pred = (
        scores.join(best, "doc_id")
        .filter(F.col("score") == F.col("ms"))
        .groupBy("doc_id")
        .agg(F.min("psource").alias("pred_source"))
    )
    truth = split.filter(~F.col("is_train")).select(
        "doc_id", F.col("source").alias("truth")
    )
    return truth.join(pred, "doc_id", "left").select(
        "doc_id",
        F.coalesce("pred_source", F.lit("unk")).alias("pred_source"),
        "truth",
        (F.coalesce("pred_source", F.lit("unk")) == F.col("truth")).alias(
            "correct"
        ),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: min 64-bit md5 over 3-gram shingles.

    Identical shingle sets => identical fingerprint; one changed word
    changes at most 3 shingles so the min survives with high
    probability — the standard cheap near-dup prefilter.
    """
    docs = load_table(spark, sf_dir, "documents")
    post = shingle_postings(docs)
    return post.groupBy("doc_id").agg(
        F.min(
            F.expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)")
        ).alias("fingerprint")
    )


def q_stump_split_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training in-engine: for each language (one-vs-
    rest target), the n_chars threshold minimizing weighted Gini
    impurity — the split-finding inner loop of every tree learner
    (XGBoost/LightGBM histogram method), run as pure SQL aggregation.
    One row per language: the best threshold, the split sizes, and the
    impurity score.

    The candidate sweep is the histogram method exactly: aggregate to
    (value, n, n_pos) per language target, one cumulative window gives
    every threshold's left/right class counts as exact int64, and the
    weighted Gini
    (nL - (posL^2 + negL^2)/nL) + (nR - (posR^2 + negR^2)/nR), scaled
    by N, evaluates as ONE identical float expression per candidate,
    quantized e9 for the argmin (rank window, threshold tiebreak).

    At 100 TB: the corpus collapses to |distinct values| histogram
    rows per target in one map-side-combined pass — the same reason
    the histogram method won in gradient boosting; everything after
    runs on the aggregate.
    """
    from pyspark.sql import Window

    # lang/n_chars required (r11 NULL sweep; twin mirrors the WHERE):
    # a NULL threshold value hits the engines' opposite window NULL
    # ordering, and a NULL target label matches no row.
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
        .select("lang", "n_chars")
    )
    langs = docs.select(F.col("lang").alias("target")).distinct()
    hist = (
        docs.crossJoin(F.broadcast(langs))
        .groupBy("target", "n_chars")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("lang") == F.col("target")).cast("long")).alias(
                "n_pos"
            ),
        )
    )
    w = (
        Window.partitionBy("target")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("target")
    cum = hist.select(
        "target",
        F.col("n_chars").alias("threshold"),
        F.sum("n").over(w).alias("n_l"),
        F.sum("n_pos").over(w).alias("pos_l"),
        F.sum("n").over(wt).alias("n_tot"),
        F.sum("n_pos").over(wt).alias("pos_tot"),
    ).filter(F.col("n_l") < F.col("n_tot"))  # right side must be non-empty
    neg = lambda p, n: n - p  # noqa: E731
    score = (
        (
            F.col("n_l").cast("double")
            - (
                F.col("pos_l") * F.col("pos_l")
                + neg(F.col("pos_l"), F.col("n_l"))
                * neg(F.col("pos_l"), F.col("n_l"))
            ).cast("double")
            / F.col("n_l").cast("double")
        )
        + (
            (F.col("n_tot") - F.col("n_l")).cast("double")
            - (
                (F.col("pos_tot") - F.col("pos_l"))
                * (F.col("pos_tot") - F.col("pos_l"))
                + (
                    (F.col("n_tot") - F.col("n_l"))
                    - (F.col("pos_tot") - F.col("pos_l"))
                )
                * (
                    (F.col("n_tot") - F.col("n_l"))
                    - (F.col("pos_tot") - F.col("pos_l"))
                )
            ).cast("double")
            / (F.col("n_tot") - F.col("n_l")).cast("double")
        )
    )
    scored = cum.select(
        "target",
        "threshold",
        "n_l",
        (F.col("n_tot") - F.col("n_l")).alias("n_r"),
        "pos_l",
        (F.col("pos_tot") - F.col("pos_l")).alias("pos_r"),
        F.round(score * 1e9).cast("long").alias("gini_e9"),
    )
    rw = Window.partitionBy("target").orderBy("gini_e9", "threshold")
    return (
        scored.withColumn("rn", F.row_number().over(rw))
        .filter("rn = 1")
        .select(
            "target", "threshold", "n_l", "n_r", "pos_l", "pos_r", "gini_e9"
        )
    )


KFOLDS = 5

# Weighted-Gini split score as ONE textual expression template shared
# verbatim by the Spark plan and the DuckDB oracle — identical operand
# order and casts, so the correctly-rounded doubles agree bit-for-bit
# (the stump_split_finder contract, factored for reuse).
_GINI_EXPR = (
    "(CAST(n_l AS DOUBLE)"
    " - CAST(pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l) AS DOUBLE)"
    " / CAST(n_l AS DOUBLE))"
    " + (CAST(n_tot - n_l AS DOUBLE)"
    " - CAST((pos_tot - pos_l) * (pos_tot - pos_l)"
    " + ((n_tot - n_l) - (pos_tot - pos_l))"
    " * ((n_tot - n_l) - (pos_tot - pos_l)) AS DOUBLE)"
    " / CAST(n_tot - n_l AS DOUBLE))"
)


def q_kfold_cv_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated decision stump — the model-selection loop
    run entirely in-engine: folds are doc_id % 5, each fold's stump
    (n_chars threshold predicting lang='en') trains on the OTHER four
    folds' histogram and is scored on the held-out fold, emitting per
    fold the trained threshold, its train Gini, the predicted-positive
    side, and held-out accuracy.

    The train-on-complement trick is pure histogram algebra: train
    histogram for fold f = global histogram MINUS fold f's histogram
    (exact int64 subtraction on the (value, n, n_pos) aggregate), so
    the corpus is scanned ONCE for all five folds — no per-fold
    re-scan, which is the difference between 1x and 5x I/O at 100 TB.
    Threshold search is the stump_split_finder device (cumulative
    window + e9-quantized Gini argmin with threshold tiebreak); the
    predicted side is the train split's majority-positive side decided
    by EXACT cross-multiplication (pos_l*n_r vs pos_r*n_l); held-out
    accuracy reads the fold's own histogram at the trained threshold —
    counts and one closing division, nothing to quantize.

    At 100 TB: one map-side-combined histogram pass, then everything
    runs on |folds| x |distinct values| aggregate rows; the best-row
    election and the eval join broadcast 5 rows.
    """
    from pyspark.sql import Window

    # lang/n_chars required (r11 NULL sweep; twin mirrors the WHERE).
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
        .select(
            (F.col("doc_id") % KFOLDS).alias("fold"),
            "n_chars",
            (F.col("lang") == "en").cast("long").alias("is_pos"),
        )
    )
    fh = docs.groupBy("fold", "n_chars").agg(
        F.count("*").alias("n"), F.sum("is_pos").alias("n_pos")
    )
    gh = fh.groupBy("n_chars").agg(
        F.sum("n").alias("gn"), F.sum("n_pos").alias("gpos")
    )
    folds = spark.range(KFOLDS).select(F.col("id").alias("fold"))
    th = (
        folds.crossJoin(F.broadcast(gh))
        .join(F.broadcast(fh), ["fold", "n_chars"], "left")
        .select(
            "fold",
            "n_chars",
            (F.col("gn") - F.coalesce("n", F.lit(0))).alias("tn"),
            (F.col("gpos") - F.coalesce("n_pos", F.lit(0))).alias("tpos"),
        )
    )
    w = (
        Window.partitionBy("fold")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("fold")
    cum = th.select(
        "fold",
        F.col("n_chars").alias("threshold"),
        F.sum("tn").over(w).alias("n_l"),
        F.sum("tpos").over(w).alias("pos_l"),
        F.sum("tn").over(wt).alias("n_tot"),
        F.sum("tpos").over(wt).alias("pos_tot"),
        # both sides non-empty: the complement histogram can be empty at
        # the extremes (a value whose docs all fall in the held-out fold)
    ).filter((F.col("n_l") > 0) & (F.col("n_l") < F.col("n_tot")))
    scored = cum.select(
        "fold",
        "threshold",
        F.round(F.expr(_GINI_EXPR) * 1e9).cast("long").alias("gini_e9"),
        # majority-positive side by exact cross-multiplication
        (
            F.col("pos_l") * (F.col("n_tot") - F.col("n_l"))
            >= (F.col("pos_tot") - F.col("pos_l")) * F.col("n_l")
        ).alias("left_positive"),
    )
    rw = Window.partitionBy("fold").orderBy("gini_e9", "threshold")
    best = (
        scored.withColumn("rn", F.row_number().over(rw))
        .filter("rn = 1")
        .drop("rn")
    )
    ev = (
        fh.join(F.broadcast(best), "fold")
        .groupBy("fold", "threshold", "gini_e9", "left_positive")
        .agg(
            F.sum("n").alias("n_eval"),
            F.sum("n_pos").alias("pos_eval"),
            F.sum(F.when(F.col("n_chars") <= F.col("threshold"), F.col("n"))
                  .otherwise(0)).alias("n_l_f"),
            F.sum(F.when(F.col("n_chars") <= F.col("threshold"),
                         F.col("n_pos")).otherwise(0)).alias("pos_l_f"),
        )
    )
    n_correct = F.when(
        F.col("left_positive"),
        F.col("pos_l_f")
        + (
            (F.col("n_eval") - F.col("n_l_f"))
            - (F.col("pos_eval") - F.col("pos_l_f"))
        ),
    ).otherwise(
        (F.col("n_l_f") - F.col("pos_l_f"))
        + (F.col("pos_eval") - F.col("pos_l_f"))
    )
    return ev.select(
        "fold",
        "threshold",
        "gini_e9",
        "left_positive",
        F.col("n_eval").cast("long").alias("n_eval"),
        n_correct.cast("long").alias("n_correct"),
        (n_correct.cast("double") / F.col("n_eval").cast("double")).alias(
            "accuracy"
        ),
    )


BM25_QUERY = ("spark", "table", "row")  # fixed literal query terms
BM25_K1_10 = 12  # k1 = 1.2 in tenths
BM25_B_100 = 75  # b = 0.75 in hundredths
BM25_TOPK = 20


def q_bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query — the scoring function
    behind Lucene/Elasticsearch and the lexical half of every hybrid
    RAG retriever: score(d) = sum over query terms of
    idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), k1=1.2,
    b=0.75, idf = ln((N - df + 0.5)/(df + 0.5)); top-{BM25_TOPK} docs.

    Determinism is the psi ln-contract one level up: each (doc, term)
    score is ONE identical float expression (tf/df/dl/N exact ints,
    avgdl one division appearing as ONE operand in both engines),
    quantized to an e9 BIGINT BEFORE the per-doc sum, so the cross-
    term accumulation is exact integer addition; ranking breaks ties
    on doc_id.

    At 100 TB: tf comes from the (token, doc) explode with map-side
    partial agg FILTERED to the query terms first (the filter reaches
    the explode — a 3-term query touches 3 posting lists, not the
    corpus); df/avgdl are broadcast scalars; the final top-k is a
    |matching docs|-row window.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    t = _with_tokens(docs).select(
        "doc_id", F.size("toks").alias("dl"), "toks"
    )
    stats = t.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        t.select("doc_id", "dl", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    k1 = BM25_K1_10 / 10.0
    b = BM25_B_100 / 100.0
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (
                        F.col("n_docs").cast("double")
                        - F.col("df").cast("double")
                        + F.lit(0.5)
                    )
                    / (F.col("df").cast("double") + F.lit(0.5))
                )
                * (
                    F.col("tf").cast("double") * F.lit(k1 + 1.0)
                )
                / (
                    F.col("tf").cast("double")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b)
                        * F.col("dl").cast("double")
                        / (
                            F.col("sum_dl").cast("double")
                            / F.col("n_docs").cast("double")
                        )
                    )
                )
                * 1e9
            )
            .cast("long")
            .alias("s_e9"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("s_e9").alias("bm25_e9"), F.count("*").alias("n_terms")
    )
    w = Window.orderBy(F.col("bm25_e9").desc(), F.col("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= BM25_TOPK)
    )


ZIPF_TOP = 1000


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(freq) on
    ln(rank) for the top-1000 tokens — the one-row corpus health
    readout (a natural corpus sits near slope -1; boilerplate or
    synthetic text bends the curve) that pairs with vocab_growth_curve
    the way Zipf pairs with Heaps.

    Determinism is the psi/mann-whitney ln-contract: every per-rank
    term (x=ln(rank), y=ln(freq), xy, x^2) is ONE identical
    correctly-rounded float expression quantized to an e9 BIGINT
    before any aggregation, the four sums are exact int64, and slope/
    intercept are fixed closing float expressions on those exact sums
    — no order-dependent float accumulation anywhere.

    At 100 TB: the corpus collapses to a (token, freq) histogram in one
    map-side-combined pass; ranking the top-1000 is a window over the
    |vocab|-sized aggregate (the token_freq_top100 shape — vocabulary,
    not corpus, scale) and the regression runs on 1000 rows.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        _with_tokens(docs)
        .select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    ranked = (
        freq.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= ZIPF_TOP)
    )
    q = lambda c: F.round(c * 1e9).cast("long")  # noqa: E731
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    terms = ranked.select(
        q(x).alias("x_e9"),
        q(y).alias("y_e9"),
        q(x * y).alias("xy_e9"),
        q(x * x).alias("xx_e9"),
    )
    agg = terms.agg(
        F.count("*").alias("n"),
        F.sum("x_e9").alias("sx"),
        F.sum("y_e9").alias("sy"),
        F.sum("xy_e9").alias("sxy"),
        F.sum("xx_e9").alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx") / 1e9, F.col("sy") / 1e9
    sxy, sxx = F.col("sxy") / 1e9, F.col("sxx") / 1e9
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.select(
        F.col("n").cast("long").alias("n_tokens"),
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


VOCAB_CURVE_BUCKET = 50


def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative token count vs
    cumulative DISTINCT-vocabulary size as the corpus is ingested in
    doc_id order, bucketed every 50 docs — the diagnostic that sizes a
    tokenizer vocabulary ("how fast are new types still arriving?")
    before committing a 100 TB training run.

    Same decomposition as cumulative_distinct_users, applied to tokens:
    a windowed COUNT(DISTINCT) is non-incremental, so each type is
    charged to the bucket of its FIRST containing doc (min doc_id —
    one groupBy(token)), then one cumulative sum over the ~dozen
    bucket rows. All exact int64.

    At 100 TB: two map-side-combined aggregates over the exploded
    corpus (per-doc token counts; per-token min doc), both shuffling
    only aggregate-sized data; the windows run on |buckets| rows.
    """
    from pyspark.sql import Window

    t = _with_tokens(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr(f"doc_id DIV {VOCAB_CURVE_BUCKET}").alias("bucket"),
        F.col("toks"),
    )
    per_bucket = t.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("toks").cast("long")).alias("n_tokens"),
    )
    first_seen = (
        t.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
        .select(
            F.expr(f"first_doc DIV {VOCAB_CURVE_BUCKET}").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(first_seen, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            F.coalesce("n_new_types", F.lit(0)).alias("n_new_types"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            "n_new_types",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum("n_new_types").over(w).alias("cum_vocab"),
        )
    )


INVIDX_TOPK = 5


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build — the search-engine primitive: one row per
    token with document frequency, total term frequency, and the
    top-5 posting doc_ids ranked by (tf DESC, doc_id) — the
    impact-ordered posting-list head a query server would cache.

    Determinism: the postings list is ordered by the (tf, doc_id)
    total order, materialized via row_number + sort_array(struct(rn,
    doc_id)) on the Spark side and string_agg(... ORDER BY rn) in
    DuckDB — collect_list's nondeterministic arrival order never
    reaches the output. The head is serialized to a canonical
    '|'-joined STRING (not an ARRAY column): nested payloads must
    cross the output boundary as scalars so any downstream
    row-hasher / canonicalizer works on hashable cells — same device
    as q_nested_order_records. All underlying values exact int64.

    At 100 TB: the corpus explodes to (token, doc) pairs that
    partial-aggregate map-side into tf; the rank window and final agg
    run per-token (the shuffle key), with Zipf-head tokens handled by
    the same AQE skew-split as every hot-key groupBy. Posting lists
    are capped at k=5 BEFORE the collect, so no unbounded array ever
    crosses the exchange — the uncapped variant is the documented
    anti-pattern (a stopword's full posting list is corpus-sized).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        _with_tokens(docs)
        .select("doc_id", F.explode("toks").alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("token").orderBy(F.col("tf").desc(), "doc_id")
    ranked = tf.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("tf_total"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= INVIDX_TOPK,
                            F.struct("rn", "doc_id"),
                        )
                    )
                ),
                lambda s: s["doc_id"].cast("string"),
            ),
            "|",
        ).alias("postings"),
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per source: subword (BPE-regex) tokens
    per whitespace word and characters per subword token — the standard
    pre-training readout for "how expensive is this slice of corpus in
    tokens?" (high fertility = the tokenizer shreds this source;
    budget-per-document planning reads chars/token).

    Every per-doc measurement is an exact int (two regexp counts and a
    length), the per-source sums are int64 partial aggregates, and each
    ratio is ONE closing int/int division — nothing to quantize.

    At 100 TB this is the cheapest possible shape: one corpus scan,
    map-side token counting (no explode — counts only, via
    regexp_extract_all length), partial agg to |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        F.expr(f"size({TOKENS_EXPR})").cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("n_words").cast("long").alias("sum_words"),
            F.sum("n_bpe").cast("long").alias("sum_bpe"),
        )
        .select(
            "source",
            "n_docs",
            "sum_chars",
            "sum_words",
            "sum_bpe",
            (F.col("sum_bpe").cast("double") / F.col("sum_words").cast("double"))
            .alias("fertility"),
            (F.col("sum_chars").cast("double") / F.col("sum_bpe").cast("double"))
            .alias("chars_per_token"),
        )
    )


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-100 token frequencies (explode + partial agg)."""
    docs = load_table(spark, sf_dir, "documents")
    t = _with_tokens(docs)
    return (
        t.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(100)
    )


SPARSE_COS_MAX_DF = 400  # df-prune: drop terms in > this many docs
SPARSE_COS_THRESHOLD = 0.9


def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs document cosine similarity over sparse TF vectors —
    the classic term-partitioned similarity join (Bayardo et al.'s
    all-pairs shape): documents meet ONLY where a term collides, so
    the join is keyed by the term and never all-pairs. High-df terms
    are pruned first (df > SPARSE_COS_MAX_DF) — the standard max-df
    cut that removes the quadratic heavy posting lists while barely
    moving cosine (ubiquitous terms carry no discrimination); the
    production upgrade is prefix filtering on the same index.

    Exactness: TF counts and the dot products are exact int64; each
    norm is ONE sqrt of an exact integer and the cosine ONE division —
    all exactly-rounded, identical in both engines (the similarity_topk
    argument on integer vectors). Threshold filter compares identical
    doubles.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = _with_tokens(docs).select(
        "doc_id", F.explode("toks").alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    norm2 = tf.groupBy("doc_id").agg(F.sum(F.expr("tf * tf")).alias("n2"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    kept = tf.join(
        dfreq.filter(F.col("df") <= SPARSE_COS_MAX_DF), "token"
    ).select("doc_id", "token", "tf")
    a, b = kept.alias("a"), kept.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.expr("a.tf * b.tf")).alias("dot"))
    )
    na = norm2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a"))
    nb = norm2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("n2a").cast("double"))
                    * F.sqrt(F.col("n2b").cast("double"))
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SPARSE_COS_THRESHOLD)
    )


def q_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct word
    trigrams that appear NOWHERE else in the corpus (document
    frequency 1) — the memorization/boilerplate screen dual to
    ``shingle_containment``: low novelty means the doc is assembled
    from corpus-common phrasing (template spam, duplicated boilerplate)
    and is a dedup/downsample candidate before training.

    Same inverted shingle index as the dedup family: one explode, one
    df aggregate keyed by shingle, one join back (both shuffles keyed
    by the shingle — never all-pairs), then a per-doc rollup.
    n_unique is count(CASE), not SUM — the HUGEINT drift guard — and
    novelty is one int/int double division.
    """
    docs = load_table(spark, sf_dir, "documents")
    post = shingle_postings(docs)
    dfreq = post.groupBy("s").agg(F.count("*").alias("df"))
    return (
        post.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("df") == 1, F.lit(1))).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            (
                F.col("n_unique").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document coverage by the corpus top-100 vocabulary: the
    quality screen that flags OOV-heavy documents (boilerplate, wrong
    language, binary spill) before they reach tokenizer training — the
    share of a doc's tokens that are vocabulary hits.

    Plan: ONE corpus tokenize/explode feeds both sides — the top-100
    election (partial-agg + TakeOrdered on the (freq desc, token) total
    order, never a global sort) and the per-doc rollup; the 100-row
    vocab comes back as a BROADCAST left join, so the corpus shuffles
    once (the doc_id aggregate). n_in_vocab is count(marker), not
    SUM(CASE) — DuckDB widens SUM(int) to HUGEINT, the r4 drift class.
    Coverage is one int/int double division; zero-token docs drop on
    both engines (no exploded rows).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = _with_tokens(docs).select(
        "doc_id", F.explode("toks").alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(100)
        .select("token", F.lit(1).alias("hit"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("hit").alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_in_vocab",
            (
                F.col("n_in_vocab").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("coverage"),
        )
    )


def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the 200 most frequent adjacent token pairs
    with their association *lift* — n(a,b)·N / (n(a)·n(b)), the
    monotone exponential of PMI. Shipping the exact-integer lift ratio
    instead of PMI keeps the output hash-portable: no ln() (whose last
    ulp differs between Java and libm), just one int/int double
    division per surviving row.

    Plan: one corpus scan emits adjacent pairs map-side (transform over
    the token array — guarded so 1-token docs emit nothing, since
    Spark's sequence(0, -1) would count DOWN); pair counts and unigram
    counts partial-aggregate; the Zipf-small unigram table joins back
    onto the pair counts; the scalar token total rides a broadcast
    1-row cross join. Top-200 is orderBy().limit() = per-partition
    TakeOrdered on the total order (n_ab desc, w1, w2) — never a global
    sort, identical cut in DuckDB.
    """
    return bigram_lift(load_table(spark, sf_dir, "documents"))


def bigram_lift(docs: DataFrame, k: int = 200) -> DataFrame:
    """See q_bigram_lift. docs needs (doc_id, text)."""
    t = _with_tokens(docs)
    bg = t.select(
        F.explode(
            F.expr(
                "if(size(toks) >= 2,"
                " transform(sequence(0, size(toks) - 2),"
                "   i -> struct(toks[i] AS w1, toks[i+1] AS w2)),"
                " cast(array() as array<struct<w1:string,w2:string>>))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    uni = t.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("n"))
    tot = uni.agg(F.count("*").alias("n_tokens"))
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
    return (
        bc.crossJoin(F.broadcast(tot))
        .join(uc.select(F.col("w").alias("w1"), F.col("n").alias("n_a")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("n").alias("n_b")), "w2")
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_tokens")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "w1", "w2")
        .limit(k)
    )


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrub pass: mask digit runs, collapse whitespace, and
    count the redactions — the normalize-before-training map stage.

    All regexp work is JVM-side (codegen'd); the patterns stay within
    the regex subset where Java regex and DuckDB's RE2 agree (character
    classes + quantifiers, no backrefs/lookaround). Map-only at 100 TB:
    zero shuffle, reads and writes stream through the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.trim(F.col("text")), r"[0-9]+", "<NUM>"),
            r"\s+",
            " ",
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)).alias(
            "n_masked"
        ),
    )


# Rabin-Karp rolling-hash parameters, shared verbatim by the DuckDB twin
# (both engines evaluate the identical polynomial over identical windows).
RH_K = 8  # window width in chars
RH_B = 257  # polynomial base
RH_M = 2147483647  # 2^31 - 1 (prime modulus; acc*B+255 < 2^39, no overflow)


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprints, entirely JVM-side.

    Per document: ``content_hash`` (the polynomial hash of the whole
    text — an order-sensitive content fingerprint) and ``winnow_min``
    (the minimum hash over every ``RH_K``-char window — the
    winnowing-style near-dup prefilter: one edit disturbs at most K
    windows, so the min survives with high probability).

    Higher-order functions (``aggregate`` over ``sequence``) keep the
    whole computation inside whole-stage codegen: no UDF, no Python, no
    shuffle — a pure map stage that streams at scan speed at 100 TB.

    The window minimum is a TRUE rolling hash (r12 claw-back): one
    O(len) aggregate carrying ``struct<h, m>`` state — h rolls out the
    leaving char via ``h*B - c_out*B^K + c_in (mod M)`` and m tracks the
    running min — replacing the r8 ``transform × aggregate`` form that
    recomputed the full K-char polynomial per window (O(len·K), the
    envelope's worst drift at 1.35× its pin even on a quiet host).
    Value-identical: all algebra is mod-M with ``pmod`` guarding the
    roll-out subtraction's negative intermediates (forward ``%`` only
    ever sees non-negative operands), so the DuckDB twin is untouched.
    The ``len == K`` branch is separate because Spark's ``sequence(a,b)``
    DESCENDS when a > b — ``sequence(K+1, K)`` would be [K+1, K], not
    empty.
    """
    docs = load_parallel(spark, sf_dir, "documents")
    # First-window hash: the same forward fold both branches seed from.
    h0 = (
        f"aggregate(sequence(1, {RH_K}), 0L,"
        f" (a, j) -> (a * {RH_B}"
        f" + ascii(substring(text, j, 1))) % {RH_M})"
    )
    # B^(K-1) mod M: the roll-out coefficient of the leaving char.
    bk1 = pow(RH_B, RH_K - 1, RH_M)
    # Magnitudes: s.h < M < 2^31; ascii() is a full codepoint (< 2^21
    # for astral chars), so |h - c_out*B^(K-1)|*B + c_in < 2^60 — no
    # int64 overflow even on non-ASCII text.
    rolled_h = (
        f"pmod((s.h - ascii(substring(text, j - {RH_K}, 1))"
        f" * {bk1}L) * {RH_B}"
        f" + ascii(substring(text, j, 1)), {RH_M})"
    )
    roll = (
        f"aggregate(sequence({RH_K + 1}, length(text)),"
        f" CAST(named_struct('h', {h0}, 'm', {h0})"
        f" AS struct<h: BIGINT, m: BIGINT>),"
        f" (s, j) -> named_struct('h', {rolled_h},"
        f" 'm', least(s.m, {rolled_h})),"
        f" s -> s.m)"
    )
    win = F.expr(
        f"""CASE WHEN length(text) = {RH_K} THEN {h0}
                 WHEN length(text) > {RH_K} THEN {roll}
            END"""
    )
    content = F.expr(
        f"""CASE WHEN length(text) > 0 THEN
              aggregate(sequence(1, length(text)), 0L,
                (a, j) -> (a * {RH_B}
                           + ascii(substring(text, cast(j AS INT), 1))) % {RH_M})
            END"""
    )
    return docs.select(
        "doc_id",
        win.alias("winnow_min"),
        content.alias("content_hash"),
        F.greatest(F.length("text") - (RH_K - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals — the standard LLM-corpus filter
    for boilerplate and degenerate generations: duplicate-token fraction,
    duplicate-3-gram fraction, and top-token dominance.

    The duplicate fractions are map-side array expressions behind the
    usual repartition barrier (see text_common.with_shingles on why);
    top-token dominance needs a per-(doc, token) count — one explode +
    partial-aggregating groupBy, the same shuffle shape as
    token_freq_top100, joined back on doc_id. All ratios are int/int
    double divisions of identical operands — bit-exact across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    t = docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks")).repartition(n)
    base = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        # n_tokens > 0 guard: token-less docs never REACH the output
        # (the top-token inner join drops them — explode of an empty
        # array emits nothing, in both engines), but ANSI evaluates
        # this projection before the join prunes the row.
        F.when(
            F.size("toks") > 0,
            F.lit(1.0) - F.size(F.array_distinct("toks")) / F.size("toks"),
        ).alias("dup_token_ratio"),
        F.expr(
            "if(size(toks) >= 3,"
            " 1.0 - size(array_distinct(transform(sequence(0, size(toks) - 3),"
            "   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))))"
            "   / cast(size(toks) - 2 as double),"
            " cast(0.0 as double))"
        ).alias("dup_3gram_ratio"),
    )
    top = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_token_ratio",
        "dup_3gram_ratio",
        (F.col("top_c") / F.col("n_tokens")).alias("top_token_ratio"),
    )


TFIDF_TOPK = 3


#: token_source_pmi keeps the top-K terms by document frequency — the
#: feature-selection shortlist; K is shared verbatim with the oracle.
PMI_TOP_TERMS = 50


def q_token_source_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between token presence and source
    label, the classic feature-selection score (which tokens are
    over-represented in which corpus source): for the top-K
    document-frequency terms, pmi(t, s) = ln(P(t,s) / P(t)P(s)) over
    doc-level presence. Output (term, source, n_ts, n_t, n_s, pmi_e6),
    one row per co-occurring (term, source) cell.

    Shape: one tokenize pass with per-doc array_distinct (so presence
    needs NO distinct shuffle), one vocab-sized aggregate, a top-K
    cut, then counts joined back — the term shortlist and the source
    totals are broadcast-tiny. At 100 TB the only O(corpus) shuffle is
    the (term, source) count, keyed by a Zipf-damped composite (doc
    presence caps any document's contribution at 1).

    Hash determinism (tfidf's device): (n_ts*N) and (n_t*n_s) are
    exact BIGINT products, their single double division is correctly
    rounded, and the score ships as round(ln(x)*1e6) BIGINT — identical
    operands to libm on both engines, with the 1e-6 quantum keeping the
    knife-edge probability ~1e-7 per row.
    """
    docs = load_parallel(spark, sf_dir, "documents")
    n_docs = docs.count()  # driver scalar, one row
    present = docs.select(
        "source",
        F.explode(F.array_distinct(F.expr(TOKENS_EXPR))).alias("term"),
    )
    n_t = present.groupBy("term").agg(F.count("*").alias("n_t"))
    from pyspark.sql import Window

    top = (
        n_t.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("n_t"), "term")
            ),
        )
        .filter(F.col("rk") <= PMI_TOP_TERMS)
        .drop("rk")
    )
    n_s = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    n_ts = present.groupBy("term", "source").agg(
        F.count("*").alias("n_ts")
    )
    return (
        n_ts.join(F.broadcast(top), "term")
        .join(F.broadcast(n_s), "source")
        .select(
            "term",
            "source",
            "n_ts",
            "n_t",
            "n_s",
            F.round(
                F.log(
                    (F.col("n_ts") * F.lit(int(n_docs))).cast("double")
                    / (F.col("n_t") * F.col("n_s")).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("pmi_e6"),
        )
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: each document's top-3 most characteristic terms,
    (doc_id, term, tf, df, score_e6, rk).

    Classic inverted-index shape: one tokenize pass -> (doc, term)
    term-frequency aggregate -> document-frequency aggregate over the
    (doc, term) table (already one row per posting, so df is a count,
    not a distinct-count) -> score join -> per-doc top-k window. The df
    table is vocab-sized (Zipf-small) and the window partitions by
    doc_id, so nothing concentrates at 100 TB.

    Hash determinism: scores involve ln(), whose last-ulp rounding libm
    does not guarantee across engines, so the score ships as
    ``score_e6 = round(tf * ln(N/df) * 1e6)`` BIGINT and — crucially —
    the top-k rank orders by the ROUNDED integer (desc, then term),
    never by the raw double, so a boundary-straddling ulp can never
    REORDER the two engines' rows. The emitted integer itself retains a
    knife-edge class: a score within ~1 ulp (~1e-13) of a half-quantum
    boundary could round differently if the engines' ln() disagree
    there — the 1e-6 quantum keeps that per-row probability ~1e-7
    (1000x safer than an e9 quantum), and distinct (tf, df) ties are
    impossible since equal inputs produce identical doubles.
    """
    from pyspark.sql import Window

    docs = load_parallel(spark, sf_dir, "documents")
    n_docs = docs.count()  # driver scalar, one row
    tf = (
        docs.select("doc_id", F.explode(F.expr(TOKENS_EXPR)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6
        )
        .cast("long")
        .alias("score_e6"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_e6"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "score_e6", "rk")
    )


BPE_MERGES = 3  # fixed merge count so the oracle can unroll the loop


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction: the first BPE_MERGES byte-pair-
    encoding merges learned from the corpus, (rank, left, right,
    pair_count).

    Scale shape (the SentencePiece trick): the corpus is scanned ONCE
    into a (distinct word, count) vocab — Zipf makes that table tiny
    relative to the corpus (one word-keyed shuffle with map-side
    combine) — and every merge iteration touches only the vocab: pair
    counting partial-aggregates on the (left,right) key, the argmax is
    a driver scalar via TakeOrdered (bounded: one row), and applying
    the merge is a map-side literal replace. Nothing downstream ever
    re-reads documents.

    Merge application is non-overlapping left-to-right string
    replacement — identical semantics in Spark and DuckDB ``replace``
    (verified: ' a a a a ' -> ' aa a a ' in both), which is what makes
    the unrolled recursive-free oracle possible. It deviates from
    classic greedy BPE whenever an occurrence immediately follows a
    replaced one — the replacement consumes the shared delimiter
    space — covering both runs of a self-pair ('aaaa' becomes [aa,a,a],
    classic gives [aa,aa]) and adjacent repeats of any pair
    (' a b a b ' becomes [ab,a,b], classic gives [ab,ab]); the
    deviation is deterministic and cross-engine identical. Ties in the
    argmax break
    on (count DESC, left, right) — binary UTF-8 order in both engines.
    """
    merges, _ = _bpe_state(spark, sf_dir)
    return _merges_df(spark, merges)


def _bpe_vocab(docs: DataFrame) -> DataFrame:
    """(s, cnt): ' c h a r s ' symbol-string per distinct word, with
    corpus count — the only pass that ever reads the corpus."""
    return (
        docs.select(F.explode(F.expr(TOKENS_EXPR)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(
                    F.expr(
                        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
                    ),
                    " ",
                ),
                F.lit(" "),
            ).alias("s"),
            "cnt",
        )
    )


def _learn_bpe(
    docs: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge iterations; returns (merges, post-merge vocab).

    The returned vocab DataFrame is a kept leaf (few MB — one row per
    distinct word), freed once the caller drops it."""
    words = keep(_bpe_vocab(docs))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pc = (
            words.select(
                F.expr("filter(split(trim(s), ' '), x -> x != '')").alias("sy"),
                "cnt",
            )
            .where(F.expr("size(sy) >= 2"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(sy) - 2),"
                        " i -> struct(sy[i] AS l, sy[i+1] AS r))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
        )
        best = pc.orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not best:
            break
        b = best[0]
        merges.append((rank, b.l, b.r, int(b.n)))
        nxt = keep(
            words.select(
                F.replace(
                    F.col("s"),
                    F.lit(f" {b.l} {b.r} "),
                    F.lit(f" {b.l}{b.r} "),
                ).alias("s"),
                "cnt",
            )
        )
        # Materialize nxt BEFORE dropping its parent: keep() is lazy,
        # so on a cluster unpersisting words first would force the next
        # iteration to recompute the whole lineage back to the corpus
        # scan — one extra corpus pass per merge, breaking the
        # "corpus is read exactly once" contract. The count() is over
        # the vocab (tiny), same device as the fixpoint loops.
        nxt.count()
        words.unpersist()
        words = nxt
    return merges, words


def bpe_merge_table(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """(merge_rank, lhs, rhs, pair_count) — see q_bpe_merges."""
    spark = docs.sparkSession
    merges, words = _learn_bpe(docs, n_merges)
    words.unpersist()
    return _merges_df(spark, merges)


def _merges_df(
    spark: SparkSession, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Materialize a learned merge list as the (merge_rank, lhs, rhs,
    pair_count) result table."""
    if not merges:  # empty/pairless corpus: empty result, stable schema
        return spark.sql(
            "SELECT CAST(NULL AS INT) AS merge_rank, CAST(NULL AS STRING) AS lhs,"
            " CAST(NULL AS STRING) AS rhs, CAST(NULL AS BIGINT) AS pair_count"
        ).where("1 = 0")
    # 3 driver-side rows; parameter binding keeps arbitrary token text
    # out of the SQL string.
    rows = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, :l{r} AS lhs, :r{r} AS rhs,"
        f" CAST(:n{r} AS BIGINT) AS pair_count"
        for r, _, _, _ in merges
    )
    args = {}
    for r, l, rt, n in merges:
        args[f"l{r}"], args[f"r{r}"], args[f"n{r}"] = l, rt, n
    return spark.sql(f"SELECT * FROM ({rows}) ORDER BY merge_rank", args=args)


# Shared learned-tokenizer state for q_bpe_merges / q_bpe_encode: a
# production tokenizer workflow induces the merge table ONCE and then
# encodes with it, so the two queries share one _learn_bpe run instead
# of each paying the full induction (same rationale as the converged
# DAG-SSSP state shared by sssp_dag/compat_final_lines).
@shared_state(owner="bpe_merges")
def _bpe_state(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    docs = load_parallel(spark, sf_dir, "documents")
    merges, words = _learn_bpe(docs, n_merges)
    ck = cut(words)  # eager: materialized before unpersist
    words.unpersist()
    return merges, ck


BPE_ENCODE_TOPK = 20


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of the tokenizer workflow: ENCODE the corpus with
    the learned merge table and emit the top-20 resulting vocabulary
    symbols by corpus frequency, (sym, freq).

    Encoding rides the same vocab table as induction — literally the
    same: the learned state is shared with q_bpe_merges through
    _bpe_state, so running both queries costs one induction. The learned
    merges are applied per distinct word (map-side literal replaces) and
    symbol frequencies re-weight by word count, so the corpus is still
    scanned exactly once end-to-end. At 100 TB the production encode of
    the full corpus is the same replace chain applied map-side to each
    document's words — embarrassingly parallel, zero extra shuffle.
    """
    _, words = _bpe_state(spark, sf_dir)
    return (
        words.select(
            F.explode(
                F.expr("filter(split(trim(s), ' '), x -> x != '')")
            ).alias("sym"),
            "cnt",
        )
        .groupBy("sym")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), "sym")
        .limit(BPE_ENCODE_TOPK)
    )


def q_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based trigram language-model head: the 200 most frequent
    trigrams with their conditional probability P(w3 | w1 w2) =
    n(w1,w2,w3) / n(w1,w2) — the raw material of n-gram LM pruning,
    perplexity screens, and boilerplate detection (a trigram with
    cond_p ~ 1 is a frozen phrase, not language).

    Same exactness contract as q_bigram_lift: exact int64 counts, one
    int/int double division, TakeOrdered top-200 on the total order
    (n_abc desc, w1, w2, w3).

    ONE corpus scan serves both n-gram orders: every adjacent pair
    (i, i+1) emits exactly one record whose w3 is toks[i+2] — or NULL
    for the document-final pair — so after the (w1, w2, w3) count, the
    prefix-bigram count is a window SUM over the (w1, w2) partition of
    the grouped (Zipf-small) domain, NULL rows included. The naive
    two-branch formulation re-reads the corpus for the bigram table;
    this shape is scan-count-pinned in tests/test_plans.py.
    """
    return trigram_lm(load_table(spark, sf_dir, "documents"))


def trigram_lm(docs: DataFrame, k: int = 200) -> DataFrame:
    """See q_trigram_lm. docs needs (doc_id, text)."""
    from pyspark.sql import Window

    t = _with_tokens(docs)
    pairs = t.select(
        F.explode(
            F.expr(
                "if(size(toks) >= 2,"
                " transform(sequence(0, size(toks) - 2),"
                "   i -> struct(toks[i] AS w1, toks[i+1] AS w2,"
                "               if(i + 2 < size(toks), toks[i+2],"
                "                  cast(null as string)) AS w3)),"
                " cast(array() as"
                "   array<struct<w1:string,w2:string,w3:string>>))"
            )
        ).alias("g")
    ).select("g.w1", "g.w2", "g.w3")
    g = pairs.groupBy("w1", "w2", "w3").agg(F.count("*").alias("n_abc"))
    wp = Window.partitionBy("w1", "w2")
    return (
        g.select(
            "w1",
            "w2",
            "w3",
            "n_abc",
            F.sum("n_abc").over(wp).alias("n_ab"),
        )
        .filter(F.col("w3").isNotNull())
        .select(
            "w1",
            "w2",
            "w3",
            "n_abc",
            "n_ab",
            (
                F.col("n_abc").cast("double") / F.col("n_ab").cast("double")
            ).alias("cond_p"),
        )
        .orderBy(F.col("n_abc").desc(), "w1", "w2", "w3")
        .limit(k)
    )


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec training-pair prep: the 200 most frequent (center,
    context) skip-gram pairs within a ±2 token window — the map stage
    every embedding-training pipeline runs over the whole corpus.

    Both directions of every co-occurrence emit from ONE pass over the
    token array (each adjacent-or-distance-2 position pair contributes
    (a,b) AND (b,a) inside the same map-side transform), so the corpus
    is scanned once and only Zipf-small pair counts shuffle. Top-200 is
    TakeOrdered on the total order (n desc, center, context).
    """
    return skipgram_pairs(load_table(spark, sf_dir, "documents"))


def skipgram_pairs(docs: DataFrame, k: int = 200) -> DataFrame:
    """See q_skipgram_pairs. docs needs (doc_id, text)."""
    t = _with_tokens(docs)
    pair_t = "array<struct<center:string,context:string>>"
    pairs = t.select(
        F.explode(
            F.expr(
                "if(size(toks) >= 2,"
                " flatten(transform(sequence(0, size(toks) - 2), i ->"
                "   concat("
                "     array(struct(toks[i] AS center, toks[i+1] AS context),"
                "           struct(toks[i+1] AS center, toks[i] AS context)),"
                "     if(i + 2 < size(toks),"
                "        array(struct(toks[i] AS center,"
                "                     toks[i+2] AS context),"
                "              struct(toks[i+2] AS center,"
                "                     toks[i] AS context)),"
                f"        cast(array() as {pair_t})))))"
                f", cast(array() as {pair_t}))"
            )
        ).alias("p")
    ).select("p.center", "p.context")
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "center", "context")
        .limit(k)
    )


FEATURE_HASH_DIMS = 64


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project each document's unbounded token
    vocabulary onto a fixed 64-dimensional count vector, one output row
    per (doc_id, non-zero bucket) — the classic collision-tolerant
    featurizer (Vowpal Wabbit / HashingVectorizer) that needs NO
    vocabulary pass, so it maps over a 100 TB corpus in the same single
    scan as a word count.

    The bucket is the sampling family's md5 device (first 4 hex chars
    -> int64 % 64): engine-portable where Spark's hash()/xxhash64 and
    DuckDB's hash() are not, uniform, and stable across runs — feature
    1000-executor cluster and a laptop must agree on bucket ids or the
    downstream model is garbage.

    Scale: explode -> map-side partial aggregate onto at most 64
    buckets per doc; the exchange carries (doc, bucket) pairs, already
    collapsed. No vocabulary state anywhere.
    """
    return feature_hash(load_table(spark, sf_dir, "documents"))


def feature_hash(docs: DataFrame) -> DataFrame:
    """See q_feature_hash. docs needs (doc_id, text)."""
    tok = _with_tokens(docs).select(
        "doc_id", F.explode("toks").alias("w")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10)
        .cast("bigint")
        % FEATURE_HASH_DIMS
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )


def q_unigram_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average log-probability under an add-one-smoothed
    corpus UNIGRAM language model — the CCNet-style LM quality filter
    (documents far below the corpus-typical log-prob are boilerplate,
    gibberish, or wrong-language; the production variant swaps the
    unigram table for a KenLM scorer, same plan shape).

    logp(token) = ln((c+1) / (N+V)) is computed ONCE PER TOKEN TYPE on
    the vocab histogram and quantized to an e9 BIGINT (one identical
    division + ln + round in both engines, the psi ln-contract); each
    document's total is then the exact integer sum(tf * logp_e9) — the
    quantize-then-sum device, so no order-dependent float accumulation
    exists. avg_logp is one closing division.

    At 100 TB: corpus -> (token, c) histogram (map-side combined, one
    exchange), doc-token tfs join the token-keyed logp map on the same
    key — two vocabulary-keyed shuffles total, Zipf heads ride AQE
    skew-split. The vocab-wide scalar (N+V) is a window over the
    HISTOGRAM, never the corpus.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        _with_tokens(docs)
        .select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    hist = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    wall = Window.partitionBy()
    lm = hist.select(
        "token",
        F.round(
            F.log(
                (F.col("c") + 1).cast("double")
                / (
                    F.sum("c").over(wall) + F.count("*").over(wall)
                ).cast("double")
            )
            * 1e9
        )
        .cast("long")
        .alias("logp_e9"),
    )
    return (
        tf.join(lm, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("logp_e9")).alias("sum_logp_e9"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_logp_e9",
            (
                F.col("sum_logp_e9").cast("double")
                / 1e9
                / F.col("n_tokens").cast("double")
            ).alias("avg_logp"),
        )
    )


NB_EVAL_MOD = 5  # doc_id % 5 == 0 -> eval split, else train


def q_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier, trained and
    evaluated distributed: add-one-smoothed per-language token
    log-probs fit on the 80% train split (doc_id % 5 != 0), argmax
    scoring on the eval split, output = the lang x predicted-lang
    confusion matrix — a real trainable model next to
    stump_split_finder, and the supervised companion to the q_lang_id
    heuristic.

    Exactness is the missing-feature decomposition: score(d, c) =
    prior_e9(c) + len(d) * logp0_e9(c) + sum over seen (c, t) of
    tf * (logp_e9(c,t) - logp0_e9(c)), where logp0(c) = ln(1/(N_c+V))
    is the unseen-token probability. Every ln is quantized to an e9
    BIGINT once per (class, token) BEFORE any aggregation (the psi
    ln-contract), so scores are exact integers, the per-doc argmax is
    an exact-integer row_number (ties to the lexicographically first
    lang), and the confusion counts are trivially hash-stable.

    At 100 TB: training is one (lang, token) map-side-combined count;
    scoring joins doc tfs against the token-keyed model — the
    unigram_doc_logprob shuffle times |classes| small rows per token,
    with the doc x class score matrix partial-aggregated map-side.
    The Zipf head rides AQE skew-split.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        _with_tokens(docs)
        .select("doc_id", F.explode("toks").alias("token"))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("doc_id", "lang", "token")
        .agg(F.count("*").alias("tf"))
    )
    train = tf.filter(F.col("doc_id") % NB_EVAL_MOD != 0)
    ev = tf.filter(F.col("doc_id") % NB_EVAL_MOD == 0)

    # Vocabulary size and per-class token mass over the TRAIN split.
    vocab_n = train.select("token").distinct().count()
    cls = train.groupBy("lang").agg(F.sum("tf").alias("n_c"))
    n_train_docs = (
        train.select("doc_id").distinct().count()
    )
    priors = (
        train.select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count("*").alias("docs_c"))
        .select(
            F.col("lang").alias("cls"),
            F.round(
                F.log(
                    F.col("docs_c").cast("double")
                    / F.lit(float(n_train_docs))
                )
                * 1e9
            )
            .cast("long")
            .alias("prior_e9"),
        )
    )
    logp0 = cls.select(
        F.col("lang").alias("cls"),
        F.round(
            F.log(F.lit(1.0) / (F.col("n_c") + vocab_n).cast("double")) * 1e9
        )
        .cast("long")
        .alias("logp0_e9"),
    )
    model = (
        train.groupBy("lang", "token")
        .agg(F.sum("tf").alias("c_tc"))
        .join(cls, "lang")
        .select(
            F.col("lang").alias("cls"),
            "token",
            F.round(
                F.log(
                    (F.col("c_tc") + 1).cast("double")
                    / (F.col("n_c") + vocab_n).cast("double")
                )
                * 1e9
            )
            .cast("long")
            .alias("logp_e9"),
        )
        .join(logp0, "cls")
        .select(
            "cls",
            "token",
            (F.col("logp_e9") - F.col("logp0_e9")).alias("delta_e9"),
        )
    )
    # Per-doc base terms: len(d) * logp0(c) + prior(c) for every class.
    doc_len = ev.groupBy("doc_id", "lang").agg(
        F.sum("tf").alias("n_tokens")
    )
    base = doc_len.crossJoin(
        F.broadcast(priors.join(logp0, "cls"))
    ).select(
        "doc_id",
        "lang",
        "cls",
        (
            F.col("prior_e9") + F.col("n_tokens") * F.col("logp0_e9")
        ).alias("base_e9"),
    )
    seen = (
        ev.join(model, "token")
        .groupBy("doc_id", "cls")
        .agg(F.sum(F.col("tf") * F.col("delta_e9")).alias("seen_e9"))
    )
    scores = base.join(seen, ["doc_id", "cls"], "left").select(
        "doc_id",
        "lang",
        "cls",
        (F.col("base_e9") + F.coalesce("seen_e9", F.lit(0))).alias(
            "score_e9"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e9").desc(), "cls"
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("cls").alias("pred_lang"))
    )
    return pred.groupBy("lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


def q_bigram_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(next | current) per source — the
    corpus-complexity / entropy-rate estimate: low values flag
    templated or boilerplate-heavy feeds (the next token is nearly
    determined), high values flag noise; the information-theoretic
    companion to text_repetition's exact-substring view.

    H(B|A) = sum over bigrams of (n_ab / N) * ln(n_a / n_ab); each
    bigram's term n_ab * ln(n_a / n_ab) is ONE identical float
    sequence quantized to an e6 BIGINT (psi ln-contract), so the
    per-source total is an exact agg-order-free integer and H takes
    two closing divisions on exact operands.

    At 100 TB: one corpus scan into the (source, a, b) map-side
    combined bigram count; context totals are a window over that
    aggregate keyed by (source, a); Zipf heads ride AQE skew-split.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bg = (
        _with_tokens(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .filter(F.expr("size(toks) >= 2"))
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS a, toks[i+1] AS b))"
                )
            ).alias("p"),
        )
        .select("source", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("source", "a", "b")
        .agg(F.count("*").alias("n_ab"))
    )
    wa = Window.partitionBy("source", "a")
    terms = bg.select(
        "source",
        "n_ab",
        F.round(
            F.col("n_ab").cast("double")
            * F.log(
                F.sum("n_ab").over(wa).cast("double")
                / F.col("n_ab").cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("term_e6"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.sum("n_ab").alias("n_bigrams"),
            F.sum("term_e6").alias("sum_term_e6"),
        )
        .select(
            "source",
            "n_bigrams",
            (
                F.col("sum_term_e6").cast("double")
                / 1e6
                / F.col("n_bigrams").cast("double")
            ).alias("h_cond_nats"),
        )
    )


GOPHER_MIN_WORDS = 30
# Gopher's required-stopword list is (the, be, to, of, and, that, have,
# with); 'be' is swapped for 'a' here because the synthetic corpus's
# function words are {the, a} — same rule semantics, discriminating
# thresholds on THIS corpus.
GOPHER_STOPWORDS = "'the','a','to','of','and','that','have','with'"


def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style rule-based quality gate, reported per
    source: the four applicable repetition-free rules from the Gopher
    cleaning pipeline (Rae et al. 2021, table A1) — minimum word count,
    mean word length in [3, 10], >= 2 distinct required English
    stopwords present, and >= 80% alphabetic words — with per-rule
    fail counts and the all-rules pass rate. This is the first filter
    a pretraining corpus meets; the census is what you inspect before
    committing to thresholds (where text_quality SCORES docs, this
    GATES them).

    Every rule evaluates as exact integer cross-multiplication on
    per-doc token statistics (3*n <= sum_len <= 10*n; 5*alpha >= 4*n)
    — no ratio ever becomes a float; the single closing division is
    the per-source pass rate.

    At 100 TB: per-doc stats are map-side higher-order functions over
    the token array (size / aggregate-sum / array_intersect / filter
    — all codegen'd, no explode, no UDF); the census is one
    |sources|-row partial-aggregated groupBy.
    """
    # text/source required (r11 NULL sweep; twin mirrors the WHERE).
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    d = docs.select("source", F.expr(TOKENS_EXPR).alias("toks")).select(
        "source",
        F.expr("size(toks)").cast("long").alias("nw"),
        F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))").alias("sl"),
        F.expr(
            "size(array_intersect(array_distinct(toks),"
            f" array({GOPHER_STOPWORDS})))"
        ).alias("nsw"),
        F.expr("size(filter(toks, x -> x rlike '^[a-z]+$'))")
        .cast("long")
        .alias("na"),
    )
    f_short = F.col("nw") < GOPHER_MIN_WORDS
    f_wordlen = ~(
        (F.lit(3) * F.col("nw") <= F.col("sl"))
        & (F.col("sl") <= F.lit(10) * F.col("nw"))
    )
    f_stop = F.col("nsw") < 2
    f_alpha = F.lit(5) * F.col("na") < F.lit(4) * F.col("nw")

    def cnt(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    agg = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        cnt(f_short, "n_fail_short"),
        cnt(f_wordlen, "n_fail_wordlen"),
        cnt(f_stop, "n_fail_stopwords"),
        cnt(f_alpha, "n_fail_alpha"),
        cnt(~(f_short | f_wordlen | f_stop | f_alpha), "n_pass_all"),
    )
    return agg.select(
        "source",
        "n_docs",
        F.col("n_fail_short").cast("long").alias("n_fail_short"),
        F.col("n_fail_wordlen").cast("long").alias("n_fail_wordlen"),
        F.col("n_fail_stopwords").cast("long").alias("n_fail_stopwords"),
        F.col("n_fail_alpha").cast("long").alias("n_fail_alpha"),
        F.col("n_pass_all").cast("long").alias("n_pass_all"),
        (
            F.col("n_pass_all").cast("double") / F.col("n_docs").cast("double")
        ).alias("pass_rate"),
    )


QUERIES = {
    "gopher_quality_rules": q_gopher_quality_rules,
    "bpe_merges": q_bpe_merges,
    "bpe_encode": q_bpe_encode,
    "unigram_doc_logprob": q_unigram_doc_logprob,
    "nb_lang_classifier": q_nb_lang_classifier,
    "bigram_entropy_by_source": q_bigram_entropy_by_source,
    "tfidf_top_terms": q_tfidf_top_terms,
    "token_source_pmi": q_token_source_pmi,
    "text_stats": q_text_stats,
    "text_scrub": q_text_scrub,
    "text_quality": q_text_quality,
    "text_repetition": q_text_repetition,
    "lang_id": q_lang_id,
    "lang_confusion": q_lang_confusion,
    "source_classifier_eval": q_source_classifier_eval,
    "doc_fingerprint": q_doc_fingerprint,
    "rolling_fingerprint": q_rolling_fingerprint,
    "token_freq_top100": q_token_freq,
    "tokenizer_fertility": q_tokenizer_fertility,
    "inverted_index": q_inverted_index,
    "vocab_growth_curve": q_vocab_growth_curve,
    "stump_split_finder": q_stump_split_finder,
    "kfold_cv_stump": q_kfold_cv_stump,
    "zipf_fit": q_zipf_fit,
    "bm25_scoring": q_bm25_scoring,
    "vocab_coverage": q_vocab_coverage,
    "trigram_novelty": q_trigram_novelty,
    "sparse_cosine_pairs": q_sparse_cosine_pairs,
    "bigram_lift": q_bigram_lift,
    "trigram_lm": q_trigram_lm,
    "feature_hash": q_feature_hash,
    "skipgram_pairs": q_skipgram_pairs,
}

_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

ORACLE = {
    "gopher_quality_rules": f"""
WITH t AS (SELECT source, {DUCK_TOKENS} AS toks FROM documents
           WHERE text IS NOT NULL AND source IS NOT NULL),
d AS (
  SELECT source,
         CAST(len(toks) AS BIGINT) AS nw,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
           AS sl,
         len(list_intersect(list_distinct(toks),
                            [{GOPHER_STOPWORDS}])) AS nsw,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
              AS BIGINT) AS na
  FROM t
),
flags AS (
  SELECT source,
         CASE WHEN nw < {GOPHER_MIN_WORDS} THEN 1 ELSE 0 END AS f_short,
         CASE WHEN NOT (3 * nw <= sl AND sl <= 10 * nw)
              THEN 1 ELSE 0 END AS f_wordlen,
         CASE WHEN nsw < 2 THEN 1 ELSE 0 END AS f_stop,
         CASE WHEN 5 * na < 4 * nw THEN 1 ELSE 0 END AS f_alpha
  FROM d
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_short) AS BIGINT) AS n_fail_short,
       CAST(SUM(f_wordlen) AS BIGINT) AS n_fail_wordlen,
       CAST(SUM(f_stop) AS BIGINT) AS n_fail_stopwords,
       CAST(SUM(f_alpha) AS BIGINT) AS n_fail_alpha,
       CAST(SUM(CASE WHEN f_short + f_wordlen + f_stop + f_alpha = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
       CAST(SUM(CASE WHEN f_short + f_wordlen + f_stop + f_alpha = 0
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS pass_rate
FROM flags GROUP BY source
""",
    "stump_split_finder": """
WITH base AS (SELECT lang, n_chars FROM documents
              WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
langs AS (SELECT DISTINCT lang AS target FROM base),
hist AS (
  SELECT l.target, d.n_chars, COUNT(*) AS n,
         SUM(CASE WHEN d.lang = l.target THEN 1 ELSE 0 END) AS n_pos
  FROM base d CROSS JOIN langs l
  GROUP BY 1, 2),
cum AS (
  SELECT target, n_chars AS threshold,
         CAST(SUM(n) OVER (PARTITION BY target ORDER BY n_chars
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_l,
         CAST(SUM(n_pos) OVER (PARTITION BY target ORDER BY n_chars
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pos_l,
         CAST(SUM(n) OVER (PARTITION BY target) AS BIGINT) AS n_tot,
         CAST(SUM(n_pos) OVER (PARTITION BY target) AS BIGINT) AS pos_tot
  FROM hist),
scored AS (
  SELECT target, threshold, n_l, n_tot - n_l AS n_r,
         pos_l, pos_tot - pos_l AS pos_r,
         CAST(round((
           (CAST(n_l AS DOUBLE)
            - CAST(pos_l * pos_l
                   + (n_l - pos_l) * (n_l - pos_l) AS DOUBLE)
              / CAST(n_l AS DOUBLE))
           + (CAST(n_tot - n_l AS DOUBLE)
              - CAST((pos_tot - pos_l) * (pos_tot - pos_l)
                     + ((n_tot - n_l) - (pos_tot - pos_l))
                       * ((n_tot - n_l) - (pos_tot - pos_l)) AS DOUBLE)
                / CAST(n_tot - n_l AS DOUBLE))
         ) * 1e9) AS BIGINT) AS gini_e9
  FROM cum WHERE n_l < n_tot)
SELECT target, threshold, n_l, n_r, pos_l, pos_r, gini_e9
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY target
                                   ORDER BY gini_e9, threshold) AS rn
      FROM scored)
WHERE rn = 1
""",
    "vocab_growth_curve": f"""
WITH t AS (SELECT doc_id, doc_id // {VOCAB_CURVE_BUCKET} AS bucket,
                  {DUCK_TOKENS} AS toks FROM documents),
per_bucket AS (
  SELECT bucket, COUNT(*) AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
  FROM t GROUP BY bucket),
first_seen AS (
  SELECT MIN(doc_id) // {VOCAB_CURVE_BUCKET} AS bucket
  FROM (SELECT doc_id, UNNEST(toks) AS token FROM t)
  GROUP BY token),
new_types AS (
  SELECT bucket, COUNT(*) AS n_new_types FROM first_seen GROUP BY bucket)
SELECT p.bucket, p.n_docs, p.n_tokens,
       COALESCE(n.n_new_types, 0) AS n_new_types,
       CAST(SUM(p.n_tokens) OVER (ORDER BY p.bucket
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens,
       CAST(SUM(COALESCE(n.n_new_types, 0))
              OVER (ORDER BY p.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_vocab
FROM per_bucket p LEFT JOIN new_types n ON n.bucket = p.bucket
""",
    "bigram_entropy_by_source": f"""
WITH t AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
bg AS (
  SELECT source, toks[CAST(i AS INT)] AS a, toks[CAST(i AS INT) + 1] AS b,
         COUNT(*) AS n_ab
  FROM t, range(1, 10000) r(i)
  WHERE CAST(i AS INT) + 1 <= len(toks)
  GROUP BY 1, 2, 3
),
terms AS (
  SELECT source, n_ab,
         CAST(round(CAST(n_ab AS DOUBLE)
                    * ln(CAST(SUM(n_ab) OVER (PARTITION BY source, a)
                              AS DOUBLE)
                         / CAST(n_ab AS DOUBLE)) * 1e6) AS BIGINT)
           AS term_e6
  FROM bg
)
SELECT source,
       CAST(SUM(n_ab) AS BIGINT) AS n_bigrams,
       CAST(SUM(term_e6) AS DOUBLE) / 1e6
         / CAST(SUM(n_ab) AS DOUBLE) AS h_cond_nats
FROM terms GROUP BY source
""",
    "nb_lang_classifier": f"""
WITH t AS (SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents),
tf AS (
  SELECT doc_id, lang, token, COUNT(*) AS tf
  FROM (SELECT doc_id, lang, UNNEST(toks) AS token FROM t)
  GROUP BY 1, 2, 3
),
train AS (SELECT * FROM tf WHERE doc_id % {NB_EVAL_MOD} <> 0),
ev AS (SELECT * FROM tf WHERE doc_id % {NB_EVAL_MOD} = 0),
vn AS (SELECT COUNT(DISTINCT token) AS v FROM train),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM train),
cls AS (SELECT lang, SUM(tf) AS n_c FROM train GROUP BY lang),
priors AS (
  SELECT lang AS cls,
         CAST(round(ln(CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
                       / (SELECT CAST(n AS DOUBLE) FROM nd)) * 1e9)
              AS BIGINT) AS prior_e9
  FROM train GROUP BY lang
),
logp0 AS (
  SELECT lang AS cls,
         CAST(round(ln(1.0 / CAST(n_c + (SELECT v FROM vn) AS DOUBLE))
                    * 1e9) AS BIGINT) AS logp0_e9
  FROM cls
),
model AS (
  SELECT tr.lang AS cls, tr.token,
         CAST(round(ln(CAST(SUM(tr.tf) + 1 AS DOUBLE)
                       / CAST(c.n_c + (SELECT v FROM vn) AS DOUBLE))
                    * 1e9) AS BIGINT) - l.logp0_e9 AS delta_e9
  FROM train tr JOIN cls c ON c.lang = tr.lang
                JOIN logp0 l ON l.cls = tr.lang
  GROUP BY tr.lang, tr.token, c.n_c, l.logp0_e9
),
doclen AS (SELECT doc_id, lang, SUM(tf) AS n_tokens
           FROM ev GROUP BY 1, 2),
base AS (
  SELECT d.doc_id, d.lang, p.cls,
         p.prior_e9 + d.n_tokens * l.logp0_e9 AS base_e9
  FROM doclen d CROSS JOIN priors p JOIN logp0 l ON l.cls = p.cls
),
seen AS (
  SELECT e.doc_id, m.cls, SUM(e.tf * m.delta_e9) AS seen_e9
  FROM ev e JOIN model m ON m.token = e.token GROUP BY 1, 2
),
scores AS (
  SELECT b.doc_id, b.lang, b.cls,
         b.base_e9 + COALESCE(s.seen_e9, 0) AS score_e9
  FROM base b LEFT JOIN seen s ON s.doc_id = b.doc_id AND s.cls = b.cls
),
pred AS (
  SELECT lang, cls AS pred_lang FROM (
    SELECT lang, cls,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score_e9 DESC, cls) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT lang, pred_lang, COUNT(*) AS n_docs FROM pred GROUP BY 1, 2
""",
    "unigram_doc_logprob": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(toks) AS token FROM t)
  GROUP BY 1, 2
),
hist AS (SELECT token, SUM(tf) AS c FROM tf GROUP BY token),
lm AS (
  SELECT token,
         CAST(round(ln(CAST(c + 1 AS DOUBLE)
                       / CAST(SUM(c) OVER () + COUNT(*) OVER () AS DOUBLE))
                    * 1e9) AS BIGINT) AS logp_e9
  FROM hist
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf * logp_e9) AS BIGINT) AS sum_logp_e9,
       CAST(SUM(tf * logp_e9) AS DOUBLE) / 1e9
         / CAST(SUM(tf) AS DOUBLE) AS avg_logp
FROM tf JOIN lm USING (token) GROUP BY doc_id
""",
    "inverted_index": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
tok AS (SELECT doc_id, UNNEST(toks) AS token FROM t),
tf AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT token, doc_id, tf,
         ROW_NUMBER() OVER (PARTITION BY token
                            ORDER BY tf DESC, doc_id) AS rn
  FROM tf)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS tf_total,
       COALESCE(string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY rn)
                  FILTER (rn <= {INVIDX_TOPK}), '') AS postings
FROM ranked GROUP BY token
""",
    "skipgram_pairs": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
rp AS (
  SELECT toks[CAST(i AS INT)] AS a, toks[CAST(i AS INT) + 1] AS b
  FROM t, range(1, 10000) r(i)
  WHERE CAST(i AS INT) + 1 <= len(toks)
  UNION ALL
  SELECT toks[CAST(i AS INT)] AS a, toks[CAST(i AS INT) + 2] AS b
  FROM t, range(1, 10000) r(i)
  WHERE CAST(i AS INT) + 2 <= len(toks)
),
pairs AS (
  SELECT a AS center, b AS context FROM rp
  UNION ALL
  SELECT b AS center, a AS context FROM rp
)
SELECT center, context, count(*) AS n
FROM pairs
GROUP BY 1, 2
ORDER BY n DESC, center, context
LIMIT 200
""",
    "trigram_lm": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
tg AS (
  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2,
         toks[CAST(i AS INT) + 2] AS w3
  FROM t, range(1, 10000) r(i)
  WHERE CAST(i AS INT) + 2 <= len(toks)
),
bg AS (
  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
  FROM t, range(1, 10000) r(i)
  WHERE CAST(i AS INT) + 1 <= len(toks)
),
tc AS (SELECT w1, w2, w3, count(*) AS n_abc FROM tg GROUP BY 1, 2, 3),
bc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2)
SELECT tc.w1, tc.w2, tc.w3, tc.n_abc, bc.n_ab,
       CAST(tc.n_abc AS DOUBLE) / CAST(bc.n_ab AS DOUBLE) AS cond_p
FROM tc JOIN bc USING (w1, w2)
ORDER BY tc.n_abc DESC, tc.w1, tc.w2, tc.w3
LIMIT 200
""",
    "feature_hash": f"""
WITH tok AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS w FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT)
         % {FEATURE_HASH_DIMS} AS bucket,
       count(*) AS n
FROM tok
GROUP BY 1, 2
""",
    "bigram_lift": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
bg AS (
  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
  FROM t, range(1, 10000) r(i)
  WHERE CAST(i AS INT) + 1 <= len(toks)
),
bc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
uni AS (SELECT unnest(toks) AS w FROM t),
uc AS (SELECT w, count(*) AS n FROM uni GROUP BY w),
tot AS (SELECT count(*) AS n_tokens FROM uni)
SELECT bc.w1, bc.w2, bc.n_ab, a.n AS n_a, b.n AS n_b,
       CAST(bc.n_ab * tot.n_tokens AS DOUBLE)
         / CAST(a.n * b.n AS DOUBLE) AS lift
FROM bc
CROSS JOIN tot
JOIN uc a ON a.w = bc.w1
JOIN uc b ON b.w = bc.w2
ORDER BY bc.n_ab DESC, bc.w1, bc.w2
LIMIT 200
""",
    "text_repetition": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
base AS (
  SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         1.0 - len(list_distinct(toks)) / len(toks) AS dup_token_ratio,
         CASE WHEN len(toks) >= 3 THEN
           1.0 - len(list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[CAST(i AS INT)] || ' '
                            || toks[CAST(i AS INT) + 1] || ' '
                            || toks[CAST(i AS INT) + 2])))
                 / CAST(len(toks) - 2 AS DOUBLE)
         ELSE 0.0 END AS dup_3gram_ratio
  FROM t
),
top AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    GROUP BY doc_id, tok)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.dup_token_ratio, b.dup_3gram_ratio,
       top_c / b.n_tokens AS top_token_ratio
FROM base b JOIN top USING (doc_id)
""",
    "text_stats": f"""
WITH t AS (SELECT doc_id, text, {DUCK_TOKENS} AS toks FROM documents
           WHERE text IS NOT NULL)
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
       len(list_distinct(toks)) / len(toks) AS ttr,
       -- COALESCE to 0 on token-less docs: the engine's 0-seeded folds
       -- are total (aggregate(toks, 0L, ...) = 0 on an empty array)
       -- while list_sum/list_max over an empty list are NULL.
       CAST(COALESCE(list_sum(list_transform(toks,
                                             x -> CAST(length(x) AS BIGINT))),
                     0) AS BIGINT) AS sum_tok_len,
       list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) / len(toks)
         AS avg_tok_len,
       CAST(COALESCE(list_max(list_transform(toks, x -> length(x))), 0)
            AS INT) AS max_tok_len,
       CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INT) AS n_bpe_tokens
FROM t
""",
    "bm25_scoring": f"""
WITH t AS (
  SELECT doc_id, len({DUCK_TOKENS}) AS dl, {DUCK_TOKENS} AS toks
  FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM t
),
tf AS (
  SELECT doc_id, dl, token, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, UNNEST(toks) AS token FROM t)
  WHERE token IN ({", ".join(f"'{x}'" for x in BM25_QUERY)})
  GROUP BY 1, 2, 3
),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(round(
           ln((CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
              / (CAST(df.df AS DOUBLE) + 0.5))
           * (CAST(tf.tf AS DOUBLE) * {BM25_K1_10 / 10.0 + 1.0})
           / (CAST(tf.tf AS DOUBLE)
              + {BM25_K1_10 / 10.0}
                * ({1.0 - BM25_B_100 / 100.0}
                   + {BM25_B_100 / 100.0} * CAST(tf.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE)
                        / CAST(s.n_docs AS DOUBLE))))
           * 1e9) AS BIGINT) AS s_e9
  FROM tf JOIN df USING (token) CROSS JOIN stats s
)
SELECT doc_id, CAST(SUM(s_e9) AS BIGINT) AS bm25_e9,
       COUNT(*) AS n_terms,
       CAST(row_number() OVER (ORDER BY SUM(s_e9) DESC, doc_id) AS BIGINT)
         AS rank
FROM scored GROUP BY doc_id
QUALIFY rank <= {BM25_TOPK}
""",
    "zipf_fit": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
freq AS (
  SELECT token, COUNT(*) AS freq
  FROM (SELECT UNNEST(toks) AS token FROM t) GROUP BY token
),
ranked AS (
  SELECT freq,
         CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
  FROM freq QUALIFY rank <= {ZIPF_TOP}
),
terms AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e9) AS BIGINT) AS x_e9,
         CAST(round(ln(CAST(freq AS DOUBLE)) * 1e9) AS BIGINT) AS y_e9,
         CAST(round(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) * 1e9)
              AS BIGINT) AS xy_e9,
         CAST(round(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) * 1e9)
              AS BIGINT) AS xx_e9
  FROM ranked
),
agg AS (
  SELECT COUNT(*) AS n, CAST(SUM(x_e9) AS BIGINT) AS sx,
         CAST(SUM(y_e9) AS BIGINT) AS sy,
         CAST(SUM(xy_e9) AS BIGINT) AS sxy,
         CAST(SUM(xx_e9) AS BIGINT) AS sxx
  FROM terms
),
fit AS (
  SELECT n, sx, sy,
         (CAST(n AS DOUBLE) * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9))
           / (CAST(n AS DOUBLE) * (sxx / 1e9) - (sx / 1e9) * (sx / 1e9))
           AS zipf_slope
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n_tokens, zipf_slope,
       ((sy / 1e9) - zipf_slope * (sx / 1e9)) / CAST(n AS DOUBLE) AS intercept
FROM fit
""",
    "kfold_cv_stump": f"""
WITH docs AS (
  SELECT doc_id % {KFOLDS} AS fold, n_chars,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
),
fh AS (
  SELECT fold, n_chars, COUNT(*) AS n, CAST(SUM(is_pos) AS BIGINT) AS n_pos
  FROM docs GROUP BY 1, 2
),
gh AS (
  SELECT n_chars, CAST(SUM(n) AS BIGINT) AS gn,
         CAST(SUM(n_pos) AS BIGINT) AS gpos
  FROM fh GROUP BY 1
),
folds AS (SELECT UNNEST(range({KFOLDS})) AS fold),
th AS (
  SELECT f.fold, g.n_chars,
         g.gn - COALESCE(h.n, 0) AS tn,
         g.gpos - COALESCE(h.n_pos, 0) AS tpos
  FROM folds f CROSS JOIN gh g
  LEFT JOIN fh h ON h.fold = f.fold AND h.n_chars = g.n_chars
),
cum AS (
  SELECT fold, n_chars AS threshold,
         CAST(SUM(tn) OVER w AS BIGINT) AS n_l,
         CAST(SUM(tpos) OVER w AS BIGINT) AS pos_l,
         CAST(SUM(tn) OVER (PARTITION BY fold) AS BIGINT) AS n_tot,
         CAST(SUM(tpos) OVER (PARTITION BY fold) AS BIGINT) AS pos_tot
  FROM th
  WINDOW w AS (PARTITION BY fold ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
),
scored AS (
  SELECT fold, threshold,
         CAST(round(({_GINI_EXPR}) * 1e9) AS BIGINT) AS gini_e9,
         pos_l * (n_tot - n_l) >= (pos_tot - pos_l) * n_l AS left_positive
  FROM cum WHERE n_l > 0 AND n_l < n_tot
),
best AS (
  SELECT fold, threshold, gini_e9, left_positive FROM (
    SELECT *, row_number() OVER (PARTITION BY fold
                                 ORDER BY gini_e9, threshold) AS rn
    FROM scored
  ) WHERE rn = 1
),
ev AS (
  SELECT h.fold, b.threshold, b.gini_e9, b.left_positive,
         CAST(SUM(h.n) AS BIGINT) AS n_eval,
         CAST(SUM(h.n_pos) AS BIGINT) AS pos_eval,
         CAST(SUM(CASE WHEN h.n_chars <= b.threshold THEN h.n ELSE 0 END)
              AS BIGINT) AS n_l_f,
         CAST(SUM(CASE WHEN h.n_chars <= b.threshold THEN h.n_pos ELSE 0 END)
              AS BIGINT) AS pos_l_f
  FROM fh h JOIN best b ON b.fold = h.fold
  GROUP BY 1, 2, 3, 4
)
SELECT fold, threshold, gini_e9, left_positive, n_eval,
       CAST(CASE WHEN left_positive
                 THEN pos_l_f + ((n_eval - n_l_f) - (pos_eval - pos_l_f))
                 ELSE (n_l_f - pos_l_f) + (pos_eval - pos_l_f)
            END AS BIGINT) AS n_correct,
       CAST(CASE WHEN left_positive
                 THEN pos_l_f + ((n_eval - n_l_f) - (pos_eval - pos_l_f))
                 ELSE (n_l_f - pos_l_f) + (pos_eval - pos_l_f)
            END AS DOUBLE) / CAST(n_eval AS DOUBLE) AS accuracy
FROM ev
""",
    "tokenizer_fertility": f"""
WITH per AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS n_bpe
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_words) AS BIGINT) AS sum_words,
       CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe,
       CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE) AS fertility,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_bpe) AS DOUBLE)
         AS chars_per_token
FROM per GROUP BY source
""",
    "text_quality": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
comp AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         len(list_filter(toks, x -> x IN ({_EN}))) / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) / len(toks) AS ttr,
         CAST(CASE WHEN len(toks) BETWEEN 20 AND 100 THEN 1.0 ELSE 0.0 END
              AS DOUBLE) AS len_ok
  FROM t
)
SELECT doc_id, n_tokens, stopword_ratio, ttr, len_ok,
       len_ok * 0.4 + ttr * 0.4 + least(stopword_ratio * 4.0, 1.0) * 0.2 AS quality
FROM comp
""",
    # trim(text, ' ') mirrors Spark trim exactly (0x20 only — bare
    # DuckDB trim also strips unicode spaces), and the explicit ASCII
    # class mirrors Java \s (RE2 \s lacks \x0B) — the DUCK_TOKENS
    # parity rule (text_common docstring).
    "text_scrub": r"""
SELECT doc_id,
       regexp_replace(regexp_replace(trim(text, ' '), '[0-9]+', '<NUM>', 'g'),
                      '[ \t\n\x0b\f\r]+', ' ', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_masked
FROM documents
""",
    "lang_id": None,  # filled below (needs fold emulation)
    "doc_fingerprint": f"""
WITH sh AS ({DUCK_SHINGLES_REL})
SELECT doc_id,
       min(CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS fingerprint
FROM sh GROUP BY doc_id
""",
    "token_freq_top100": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents)
SELECT token, count(*) AS freq
FROM (SELECT unnest(toks) AS token FROM t)
GROUP BY token
ORDER BY freq DESC, token
LIMIT 100
""",
    "sparse_cosine_pairs": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
norm2 AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM tf
          GROUP BY doc_id),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
kept AS (
  SELECT tf.doc_id, tf.token, tf.tf
  FROM tf JOIN dfreq USING (token) WHERE df <= {SPARSE_COS_MAX_DF}
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
  FROM kept a JOIN kept b
    ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, dot,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         AS cosine
FROM dots
JOIN norm2 na ON na.doc_id = doc_a
JOIN norm2 nb ON nb.doc_id = doc_b
WHERE CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
      >= {SPARSE_COS_THRESHOLD}
""",
    "trigram_novelty": f"""
WITH sh AS ({DUCK_SHINGLES_REL}),
dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
SELECT doc_id,
       count(*) AS n_shingles,
       count(CASE WHEN df = 1 THEN 1 END) AS n_unique,
       CAST(count(CASE WHEN df = 1 THEN 1 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty
FROM sh JOIN dfreq USING (s)
GROUP BY doc_id
""",
    "vocab_coverage": f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
vocab AS (
  SELECT token, 1 AS hit FROM (
    SELECT token, count(*) AS freq FROM tok GROUP BY token
    ORDER BY freq DESC, token LIMIT 100
  )
)
SELECT doc_id, count(*) AS n_tokens,
       count(v.hit) AS n_in_vocab,
       CAST(count(v.hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
FROM tok LEFT JOIN vocab v USING (token)
GROUP BY doc_id
""",
    # length(), not strlen(): Spark's length() counts CHARACTERS and
    # both engines' substr() is character-indexed, so the DuckDB twin
    # must use the char-based length() too — strlen() is bytes and
    # silently diverges on any multibyte corpus (identical on the
    # ASCII testdata, which is why a hash check alone can't catch it).
    "rolling_fingerprint": f"""
SELECT doc_id,
       CASE WHEN length(text) >= {RH_K} THEN
         list_min([
            list_reduce([CAST(ascii(substr(text, i + j, 1)) AS BIGINT)
                         for j in range(1, {RH_K} + 1)],
                        (a, b) -> (a * {RH_B} + b) % {RH_M})
            for i in range(0, length(text) - {RH_K} + 1)])
       END AS winnow_min,
       CASE WHEN length(text) > 0 THEN
         list_reduce([CAST(ascii(substr(text, j, 1)) AS BIGINT)
                      for j in range(1, length(text) + 1)],
                     (a, b) -> (a * {RH_B} + b) % {RH_M})
       END AS content_hash,
       greatest(length(text) - {RH_K - 1}, 0) AS n_windows
FROM documents
""",
}

# lang_id oracle: the engine's left-to-right strictly-greater fold over
# alphabetically-ordered languages == "alphabetically-first language with
# the maximum hit count".
_LANG_UNION = " UNION ALL ".join(
    "SELECT doc_id, '{lang}' AS lang,"
    " len(list_filter(toks, x -> x IN ({ws}))) AS hits FROM t".format(
        lang=lang, ws=", ".join(f"'{w}'" for w in ws)
    )
    for lang, ws in sorted(STOPWORDS.items())
)
ORACLE["lang_id"] = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
           WHERE text IS NOT NULL),
s AS ({_LANG_UNION}),
m AS (SELECT doc_id, max(hits) AS mh FROM s GROUP BY doc_id)
SELECT s.doc_id, min(s.lang) AS pred_lang, CAST(m.mh AS INT) AS hits
FROM s JOIN m ON s.doc_id = m.doc_id AND s.hits = m.mh
GROUP BY s.doc_id, m.mh
"""

ORACLE["source_classifier_eval"] = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
split AS (
  SELECT doc_id, source,
         md5(CAST(doc_id AS VARCHAR)) < '8' AS is_train
  FROM documents
),
tok AS (
  SELECT t.doc_id, s.source, s.is_train, unnest(t.toks) AS token
  FROM t JOIN split s ON s.doc_id = t.doc_id
),
counts AS (
  SELECT source, token, count(*) AS cnt
  FROM tok WHERE is_train GROUP BY source, token
),
totals AS (SELECT source, SUM(cnt) AS n_tok FROM counts GROUP BY source),
test_tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM tok WHERE NOT is_train GROUP BY doc_id, token
),
scores AS (
  SELECT tt.doc_id, c.source AS psource,
         CAST(SUM(tt.tf * c.cnt) AS DOUBLE) / CAST(tot.n_tok AS DOUBLE)
           AS score
  FROM test_tf tt
  JOIN counts c ON c.token = tt.token
  JOIN totals tot ON tot.source = c.source
  GROUP BY tt.doc_id, c.source, tot.n_tok
),
best AS (SELECT doc_id, max(score) AS ms FROM scores GROUP BY doc_id),
pred AS (
  SELECT s.doc_id, min(s.psource) AS pred_source
  FROM scores s JOIN best b ON b.doc_id = s.doc_id AND s.score = b.ms
  GROUP BY s.doc_id
)
SELECT sp.doc_id,
       COALESCE(p.pred_source, 'unk') AS pred_source,
       sp.source AS truth,
       COALESCE(p.pred_source, 'unk') = sp.source AS correct
FROM split sp LEFT JOIN pred p ON p.doc_id = sp.doc_id
WHERE NOT sp.is_train
"""

ORACLE["lang_confusion"] = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
           WHERE text IS NOT NULL),
s AS ({_LANG_UNION}),
m AS (SELECT doc_id, max(hits) AS mh FROM s GROUP BY doc_id),
pred AS (
  SELECT s.doc_id, min(s.lang) AS pred_lang
  FROM s JOIN m ON s.doc_id = m.doc_id AND s.hits = m.mh
  GROUP BY s.doc_id
),
cells AS (
  SELECT d.lang AS truth, p.pred_lang, count(*) AS n
  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
  GROUP BY d.lang, p.pred_lang
)
SELECT truth, pred_lang, n,
       CAST(SUM(n) OVER (PARTITION BY truth) AS BIGINT) AS n_truth,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY truth) AS DOUBLE) AS row_share
FROM cells
"""


def _bpe_oracle_sql(n_merges: int = BPE_MERGES, emit: str = "merges") -> str:
    """Unrolled DuckDB twin of q_bpe_merges / q_bpe_encode: the fixed
    merge count turns the iteration into a chain of CTE stages
    (pair-count -> argmax -> replace), each reproducing the engine's
    exact arithmetic — same symbol strings, same non-overlapping
    replace, same tie-break. ``emit`` picks the final projection: the
    merge table, or the top-K encoded-symbol frequencies."""
    pair_count = (
        # CAST: DuckDB SUM(BIGINT) widens to HUGEINT; Spark stays BIGINT.
        # The driver's value-hash is dtype-sensitive, so equal values
        # still hash-mismatch without the cast (r4 false-negative).
        "SELECT z[1] AS lhs, z[2] AS rhs, CAST(SUM(cnt) AS BIGINT) AS n FROM (\n"
        "  SELECT unnest(list_zip(sy[1:len(sy)-1], sy[2:len(sy)])) AS z, cnt\n"
        "  FROM (SELECT list_filter(string_split(trim(s, ' '), ' '),"
        " x -> x <> '') AS sy, cnt FROM {w})\n"
        "  WHERE len(sy) >= 2\n"
        ") GROUP BY 1, 2"
    )
    ctes = [
        f"toks AS (SELECT {DUCK_TOKENS} AS t FROM documents)",
        "w0 AS (\n"
        "  SELECT ' ' || array_to_string(list_transform("
        "range(1, length(tok)+1), i -> substr(tok, CAST(i AS INT), 1)), ' ')"
        " || ' ' AS s,\n"
        "         CAST(count(*) AS BIGINT) AS cnt\n"
        "  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok\n"
        ")",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(f"p{k} AS ({pair_count.format(w=f'w{k - 1}')})")
        ctes.append(
            f"b{k} AS (SELECT lhs, rhs, n FROM p{k}"
            " ORDER BY n DESC, lhs, rhs LIMIT 1)"
        )
        if k < n_merges or emit == "encoded":
            # CASE-guard: when the corpus dries up before n_merges, b{k}
            # is empty and the scalar subqueries go NULL — an unguarded
            # replace(s, NULL, NULL) would NULL-poison every subsequent
            # stage (and the encode emit would return zero rows where
            # the engine returns the un-merged vocab).
            ctes.append(
                f"w{k} AS (SELECT CASE WHEN (SELECT count(*) FROM b{k}) = 0"
                f" THEN s ELSE replace(s,"
                f" ' ' || (SELECT lhs FROM b{k}) || ' ' || (SELECT rhs FROM b{k}) || ' ',"
                f" ' ' || (SELECT lhs FROM b{k}) || (SELECT rhs FROM b{k}) || ' ') END AS s,"
                f" cnt FROM w{k - 1})"
            )
    if emit == "encoded":
        finals = (
            "SELECT sym, CAST(SUM(cnt) AS BIGINT) AS freq FROM (\n"
            "  SELECT unnest(list_filter(string_split(trim(s, ' '), ' '),"
            " x -> x <> '')) AS sym, cnt"
            f" FROM w{n_merges}\n"
            ") GROUP BY sym ORDER BY freq DESC, sym"
            f" LIMIT {BPE_ENCODE_TOPK}"
        )
        return "WITH " + ",\n".join(ctes) + "\n" + finals
    finals = "\nUNION ALL ".join(
        f"SELECT {k} AS merge_rank, lhs, rhs, n AS pair_count FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals + "\nORDER BY merge_rank"


ORACLE["bpe_merges"] = _bpe_oracle_sql()
ORACLE["bpe_encode"] = _bpe_oracle_sql(emit="encoded")

# BIGINT/BIGINT division is float division in DuckDB, matching Spark's
# double(n_docs)/df; ties rank on the ROUNDED score_e6 (never the raw
# double), so libm ln() ulp differences cannot reorder rows.
# Same ln()-quantization contract as tfidf below: exact BIGINT
# products, one double division, round(ln*1e6) BIGINT.
ORACLE["token_source_pmi"] = f"""
WITH t AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
present AS (
  SELECT DISTINCT doc_id, source, term
  FROM (SELECT doc_id, source, unnest(toks) AS term FROM t)
),
nt AS (SELECT term, count(*) AS n_t FROM present GROUP BY term),
top AS (SELECT term, n_t FROM (
  SELECT term, n_t,
         row_number() OVER (ORDER BY n_t DESC, term) AS rk FROM nt
) WHERE rk <= {PMI_TOP_TERMS}),
ns AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
nts AS (SELECT term, source, count(*) AS n_ts
        FROM present GROUP BY term, source),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT c.term, c.source, c.n_ts, top.n_t, ns.n_s,
       CAST(round(ln(CAST(c.n_ts * (SELECT n_docs FROM n) AS DOUBLE)
                     / CAST(top.n_t * ns.n_s AS DOUBLE)) * 1e6)
            AS BIGINT) AS pmi_e6
FROM nts c JOIN top USING (term) JOIN ns USING (source)
"""

ORACLE["tfidf_top_terms"] = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
posting AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
  GROUP BY doc_id, term
),
docfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT p.doc_id, p.term, p.tf, d.df,
         CAST(round(p.tf * ln((SELECT n_docs FROM n) / d.df) * 1e6)
              AS BIGINT) AS score_e6
  FROM posting p JOIN docfreq d USING (term)
)
SELECT doc_id, term, tf, df, score_e6, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score_e6 DESC, term)
                 AS INT) AS rk
  FROM scored
) WHERE rk <= {TFIDF_TOPK}
"""
