"""Q51–Q57 — corpus relevance, sampling, and curation queries.

The retrieval/curation layer of the LLM-data-pipeline surface
(BASELINE.json:6): term weighting (TF-IDF), query relevance (BM25 —
the standard crawl-vs-quality-prompt curation ranker), reproducible
stratified sampling, n-gram vocabulary building, benchmark
decontamination, repetition/boilerplate scoring, and the int8
embedding-quantization audit. Operators live in
operators/relevance.py, operators/sampling.py,
operators/text_analysis.py and operators/similarity.py; this module
binds them to the driver tables with DuckDB oracles under the
registry's determinism contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_example_spark.operators import relevance as R
from cdc_example_spark.operators import sampling as S
from cdc_example_spark.queries.registry import query
from cdc_example_spark.queries.util import dec2, shuffled_order, small_result_order
from cdc_example_spark.session import local_frame
from cdc_example_spark.sources.catalog import load_doc_tokens, load_table

# ---------------------------------------------------------------------------
# q51 — top-3 TF-IDF terms per document (IDF scoped per language).
# Cross-engine determinism of the rank: BOTH engines rank on the
# 2-decimal-rounded score (ADVICE r2) — tf and df are integers, so
# equal inputs give the identical double, and the round absorbs the
# ≤1-ulp cross-engine LN() skew between near-equal scores from
# *different* (tf, df); remaining ties break on the term string. The
# smoothed idf ln((N+1)/(df+1)) keeps corpus-universal terms at
# exactly 0.0 on both engines.
# ---------------------------------------------------------------------------

_Q51_ORACLE = r"""
WITH toks AS (
  SELECT lang, doc_id,
         unnest(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT lang, doc_id, term, COUNT(*) AS tf
  FROM toks GROUP BY lang, doc_id, term
), n AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(ROUND(CAST(
           tf.tf * LN((n.n_docs + 1.0) / (COUNT(*) OVER (PARTITION BY tf.lang, tf.term) + 1))
         AS DECIMAL(28,10)), 2) AS DOUBLE) AS tfidf
  FROM tf JOIN n USING (lang)
), ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, CAST(rnk AS BIGINT) AS rnk, tfidf
FROM ranked
WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


@query("q51_tfidf_top_terms", oracle=_Q51_ORACLE)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, language-scoped IDF."""
    toks = load_doc_tokens(spark, sf_dir)
    # operator emits the already-rounded tfidf it ranked on; tokens come
    # from the catalog's shared tokenized view (one pass for q51/52/54/55/56)
    return (
        R.tfidf_top_terms(toks, k=3, tokens_col="ws")
        .select("doc_id", "term", "rnk", "tfidf")
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# q52 — BM25 ranking of the corpus against a fixed probe query.
# The top-10 cut orders by the ROUNDED score (then doc_id): integer
# tf/df/dl make equal-input docs collide to the identical double, and
# the 2-decimal round absorbs the ≤1-ulp cross-engine ln() skew for
# unequal inputs, so the cut is reproducible on both engines.
# ---------------------------------------------------------------------------

_QUERY_TERMS = ("hash", "merge", "scan")

_Q52_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ws
  FROM documents
), dl AS (
  SELECT doc_id, len(ws) AS dl FROM d
), c AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM d)
  WHERE term IN ('hash', 'merge', 'scan')
  GROUP BY doc_id, term
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         LN(1 + (c.n - dft.df + 0.5) / (dft.df + 0.5))
           * tf.tf * (1.2 + 1)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl)) AS s
  FROM tf
  JOIN dft USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN c
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       CAST(ROUND(CAST(SUM(s) AS DECIMAL(28,10)), 2) AS DOUBLE) AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@query("q52_bm25_search", oracle=_Q52_ORACLE)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for the probe query (hash, merge, scan)."""
    toks = load_doc_tokens(spark, sf_dir)
    return R.bm25_rank(toks, _QUERY_TERMS, k=10, tokens_col="ws").select(
        "doc_id", "n_terms_matched", "bm25"
    )


# ---------------------------------------------------------------------------
# q53 — deterministic stratified sample: exactly 7 docs per language,
# the k-smallest-hash twin of reservoir sampling (operators/sampling).
# Pure int64 arithmetic end to end — bit-reproducible on any engine.
# ---------------------------------------------------------------------------

_Q53_ORACLE = """
WITH h AS (
  SELECT lang, doc_id,
         ((doc_id % 1000003) * 2654435761
          + (doc_id // 1000003) * 40503 + 987654321) % 1048576 AS hv
  FROM documents
), r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rnk
  FROM h
)
SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id
FROM r
WHERE rnk <= 7
ORDER BY lang, rnk
"""


@query("q53_stratified_sample", oracle=_Q53_ORACLE)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 7-per-language stratified sample (hash reservoir)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        S.stratified_sample_k(docs, k=7, stratum_col="lang", key_col="doc_id")
        .select("lang", "rnk", "doc_id")
        .transform(small_result_order, "lang", "rnk")
    )


# ---------------------------------------------------------------------------
# q54 — bigram vocabulary: top-5 word bigrams per language by count.
# Integer counts + string tie-breaks — fully deterministic; the Spark
# side builds bigrams with a JVM `transform` over the token array, the
# oracle with a lateral generate_series over 1-based list indexes.
# ---------------------------------------------------------------------------

_Q54_ORACLE = r"""
WITH t AS (
  SELECT lang, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ws
  FROM documents
), grams AS (
  SELECT lang,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS ngram
  FROM t
), counts AS (
  SELECT lang, ngram, COUNT(*) AS n_occurrences
  FROM grams GROUP BY lang, ngram
), ranked AS (
  SELECT lang, ngram, n_occurrences,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_occurrences DESC, ngram) AS rnk
  FROM counts
)
SELECT lang, CAST(rnk AS BIGINT) AS rnk, ngram,
       CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM ranked
WHERE rnk <= 5
ORDER BY lang, rnk
"""


@query("q54_bigram_vocab", oracle=_Q54_ORACLE)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language (tokenizer-training vocabulary)."""
    toks = load_doc_tokens(spark, sf_dir)
    return (
        R.top_ngrams(toks, n=2, k=5, tokens_col="ws")
        .select("lang", "rnk", "ngram", "n_occurrences")
        .transform(small_result_order, "lang", "rnk")
    )


# ---------------------------------------------------------------------------
# q55 — benchmark decontamination: distinct-3-shingle overlap of every
# corpus doc (doc_id ≥ 10) against the "benchmark" docs (doc_id < 10).
# overlap_frac is an exact integer ratio — identical double on both
# engines — so the contaminated flag (≥ 0.5) cannot waver.
# ---------------------------------------------------------------------------

_Q55_ORACLE = r"""
WITH ws AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(GREATEST(len(w) - 2, 0)),
                               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
  FROM ws
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id < 10
), corpus AS (
  SELECT doc_id, s FROM sh WHERE doc_id >= 10
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id
), shared AS (
  SELECT c.doc_id, COUNT(*) AS n_shared
  FROM corpus c JOIN bench b USING (s)
  GROUP BY c.doc_id
)
SELECT s1.doc_id,
       CAST(s1.n_shingles AS BIGINT) AS n_shingles,
       CAST(s2.n_shared AS BIGINT) AS n_shared,
       CAST(ROUND(CAST(CAST(s2.n_shared AS DOUBLE) / s1.n_shingles AS DECIMAL(28,10)), 2) AS DOUBLE) AS overlap_frac,
       CAST(s2.n_shared AS DOUBLE) / s1.n_shingles >= 0.5 AS contaminated
FROM sizes s1 JOIN shared s2 USING (doc_id)
ORDER BY doc_id
"""


@query("q55_decontamination", oracle=_Q55_ORACLE)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-overlap check: corpus docs sharing 3-shingles with the
    benchmark stand-in (doc_id < 10)."""
    from cdc_example_spark.operators import text_analysis as TA

    toks = load_doc_tokens(spark, sf_dir)
    out = TA.contamination_overlap(toks, bench_max_id=10, tokens_col="ws")
    # shuffled_order: the bare sort's range sampling re-ran the
    # bench-overlap join stage (r14 A/B 0.96 -> 0.69 s; util.py note).
    # Its boundary: q10/q23 measured NEGATIVE (big per-row outputs make
    # the extra exchange cost more than the re-run) and keep orderBy.
    return out.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        dec2(F.col("overlap_frac")).alias("overlap_frac"),
        (F.col("overlap_frac") >= 0.5).alias("contaminated"),
    ).transform(shuffled_order, "doc_id")


# ---------------------------------------------------------------------------
# q56 — within-document repetition (Gopher-style boilerplate signal):
# total vs distinct 3-shingles per doc, aggregated per language band.
# rep_frac is an exact integer ratio; the band CASE cuts on it exactly.
# ---------------------------------------------------------------------------

_Q56_ORACLE = r"""
WITH ws AS (
  SELECT doc_id, lang, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), sh AS (
  SELECT doc_id, lang,
         UNNEST(list_transform(range(GREATEST(len(w) - 2, 0)),
                               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
  FROM ws
), per_doc AS (
  SELECT doc_id, lang,
         COUNT(*) AS total_shingles,
         COUNT(DISTINCT s) AS n_distinct,
         1 - CAST(COUNT(DISTINCT s) AS DOUBLE) / COUNT(*) AS rep_frac
  FROM sh GROUP BY doc_id, lang
)
SELECT lang,
       CASE WHEN rep_frac >= 0.5 THEN 'high'
            WHEN rep_frac >= 0.2 THEN 'mid'
            ELSE 'low' END AS rep_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ROUND(CAST(AVG(rep_frac) AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_rep_frac,
       CAST(SUM(total_shingles) AS BIGINT) AS total_shingles
FROM per_doc
GROUP BY lang, rep_band
ORDER BY lang, rep_band
"""


@query("q56_repetition_bands", oracle=_Q56_ORACLE)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-band histogram per language (boilerplate detector)."""
    from cdc_example_spark.operators import text_analysis as TA

    toks = load_doc_tokens(spark, sf_dir)
    per_doc = TA.repetition_stats(toks, id_col="doc_id", tokens_col="ws")
    per_doc = per_doc.join(
        F.broadcast(toks.select("doc_id", "lang")), "doc_id"
    )
    band = (
        F.when(F.col("rep_frac") >= 0.5, "high")
        .when(F.col("rep_frac") >= 0.2, "mid")
        .otherwise("low")
    )
    return (
        per_doc.groupBy("lang", band.alias("rep_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dec2(F.avg("rep_frac")).alias("avg_rep_frac"),
            F.sum("total_shingles").alias("total_shingles"),
        )
        .transform(small_result_order, "lang", "rep_band")
    )


# ---------------------------------------------------------------------------
# q57 — int8 embedding quantization audit per label: the compression
# step of an embedding store (4× smaller, integer kernels), with the
# reconstruction-error metrics that gate it. rms is scaled ×1000 before
# the 2-decimal round (raw values are ~0.5% of scale — they'd round to
# 0.00 and measure nothing).
# ---------------------------------------------------------------------------

_Q57_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, label, v,
         list_max(list_transform(v, x -> abs(x))) AS scale
  FROM e
), err AS (
  SELECT vec_id, label, scale,
         CASE WHEN scale > 0 THEN
           sqrt(list_sum(list_transform(v,
                x -> pow(x - round(x * 127 / scale) * scale / 127, 2))) / len(v))
         ELSE 0.0 END AS rms_err,
         CASE WHEN scale > 0 THEN
           len(list_filter(v, x -> abs(round(x * 127 / scale)) = 127))
         ELSE 0 END AS n_saturated
  FROM s
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(ROUND(CAST(AVG(scale) AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_scale,
       CAST(ROUND(CAST(AVG(rms_err) * 1000 AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_rms_err_x1000,
       CAST(SUM(n_saturated) AS BIGINT) AS n_saturated
FROM err
GROUP BY label
ORDER BY label
"""


@query("q57_quantization_audit", oracle=_Q57_ORACLE)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization reconstruction-error audit per label."""
    from cdc_example_spark.operators.similarity import quantize_int8_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        quantize_int8_stats(emb)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            dec2(F.avg("scale")).alias("avg_scale"),
            dec2(F.avg("rms_err") * 1000).alias("avg_rms_err_x1000"),
            F.sum("n_saturated").alias("n_saturated"),
        )
        .transform(small_result_order, "label")
    )


# ---------------------------------------------------------------------------
# q69 — corpus self-perplexity under an add-α bigram LM
# (operators/relevance.bigram_lm_doc_scores): the quality filter that
# flags documents whose word transitions are unlike the rest of the
# corpus, with the LM trained on the corpus itself in the same job —
# no external model, fully oracle-replayable. Output = the 10 most
# perplexing documents; the final order uses the ROUNDED perplexity
# (+ doc_id tie-break) so last-ulp drift in log/exp between engines
# can't flip the selection.
# ---------------------------------------------------------------------------

_Q69_ORACLE = r"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ws
  FROM documents WHERE lang IS NOT NULL
), bgf AS (
  SELECT doc_id, lang,
         unnest(ws[1:len(ws) - 1]) AS prev,
         unnest(ws[2:len(ws)]) AS w
  FROM t WHERE len(ws) >= 2
), cb AS (
  SELECT lang, prev, w, COUNT(*) AS c_bg FROM bgf GROUP BY lang, prev, w
), cp AS (
  SELECT lang, prev, SUM(c_bg) AS c_prev FROM cb GROUP BY lang, prev
), vocab AS (
  SELECT lang, COUNT(DISTINCT tok) AS v
  FROM (SELECT lang, unnest(ws) AS tok FROM t) GROUP BY lang
), scored AS (
  SELECT f.doc_id, f.lang,
         ln((cb.c_bg + 0.5) / (cp.c_prev + 0.5 * vocab.v)) AS logp
  FROM bgf f
  JOIN cb USING (lang, prev, w)
  JOIN cp USING (lang, prev)
  JOIN vocab USING (lang)
), per_doc AS (
  SELECT doc_id, lang, COUNT(*) AS n_bigrams, AVG(logp) AS avg_logp
  FROM scored GROUP BY doc_id, lang
)
SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(ROUND(CAST(exp(-avg_logp) AS DECIMAL(28,10)), 2) AS DOUBLE) AS perplexity
FROM per_doc
ORDER BY perplexity DESC, doc_id
LIMIT 10
"""


@query("q69_bigram_lm_perplexity", oracle=_Q69_ORACLE)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most perplexing documents under the corpus bigram LM."""
    toks = load_doc_tokens(spark, sf_dir).filter(F.col("lang").isNotNull())
    scores = R.bigram_lm_doc_scores(toks, alpha=0.5)
    return (
        scores.select(
            "doc_id",
            "lang",
            "n_bigrams",
            dec2(F.col("perplexity")).alias("perplexity"),
        )
        .orderBy(F.col("perplexity").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q73 — Zipf rank–frequency slope per language: fit ln(freq) ~ ln(rank)
# over each language's top-100 tokens (regr_slope — a natural-corpus
# slope sits near −1; template-generated synthetic text reads shallower,
# which is exactly the kind of distribution-shift diagnostic a curation
# pipeline tracks per shard). One (lang, token) partial-agg shuffle
# builds the frequency table, a per-lang window takes the top-100
# (group-limited, never a global sort), and the regression folds in one
# group-cardinality agg. Ranks tie-break on the token string so both
# engines number equal-frequency tokens identically.
# ---------------------------------------------------------------------------

_Q73_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\W+')) AS w
  FROM documents WHERE lang IS NOT NULL
), freq AS (
  SELECT lang, w, COUNT(*) AS f FROM tok WHERE w <> '' GROUP BY lang, w
), ranked AS (
  SELECT lang, f,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f DESC, w) AS r
  FROM freq
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(ROUND(CAST(regr_slope(LN(f), LN(r)) AS DECIMAL(28,10)), 2) AS DOUBLE) AS zipf_slope,
       CAST(ROUND(CAST(regr_r2(LN(f), LN(r)) AS DECIMAL(28,10)), 2) AS DOUBLE) AS fit_r2
FROM ranked WHERE r <= 100
GROUP BY lang ORDER BY lang
"""


@query("q73_zipf_slope", oracle=_Q73_ORACLE)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ln(freq)~ln(rank) regression over each language's top-100 tokens."""
    from pyspark.sql.window import Window

    toks = load_doc_tokens(spark, sf_dir).filter(F.col("lang").isNotNull())
    freq = (
        toks.select("lang", F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("f").desc(), "w")
    ranked = freq.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 100)
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dec2(F.regr_slope(F.log("f"), F.log("r"))).alias("zipf_slope"),
            dec2(F.regr_r2(F.log("f"), F.log("r"))).alias("fit_r2"),
        )
        .transform(small_result_order, "lang")
    )


# ---------------------------------------------------------------------------
# q94 — Bloom-prefiltered decontamination: the LARGE-filter-set regime
# of q55. q55's map-only broadcast-set intersect is the right plan
# while the benchmark shingle set fits in a broadcast (MBs); when the
# filter side is itself corpus-sized (a billion-key dedup ledger, a
# full holdout set), only a Bloom BITMAP over it still broadcasts —
# 8 KB here, ~1.2 GB per 10^9 keys at 10 bits/key — so the corpus
# explode is filtered MAP-SIDE (no false negatives, codegen'd
# hash+shift probes, operators/bloom.py) and the exact confirm join
# that scrubs false positives shuffles only the surviving fraction
# instead of the whole (doc, shingle) stream. Same result as the
# exact join — the oracle IS the plain join — with the shuffle
# proportional to the true overlap. The confirm join broadcasts at
# this tier because the bench set is tiny; at the big-filter tier it
# becomes a shuffle join of survivors, which is exactly the cost the
# bloom pass just bounded. tests/test_bloom.py pins the no-false-
# negative property and the plan shape (filter before exchange).
# ---------------------------------------------------------------------------

_Q94_ORACLE = r"""
WITH ws AS (
  SELECT doc_id, lang, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, lang,
         UNNEST(list_transform(range(GREATEST(len(w) - 2, 0)),
                               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
  FROM ws
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id < 10
), corpus AS (
  SELECT doc_id, lang, s FROM sh WHERE doc_id >= 10
), sizes AS (
  SELECT doc_id, lang, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id, lang
), shared AS (
  SELECT c.doc_id, COUNT(*) AS n_shared
  FROM corpus c JOIN bench b USING (s)
  GROUP BY c.doc_id
)
SELECT z.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / z.n_shingles >= 0.2
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_contaminated,
       CAST(SUM(COALESCE(h.n_shared, 0)) AS BIGINT) AS shared_shingles,
       CAST(ROUND(CAST(AVG(CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / z.n_shingles)
                       AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_overlap
FROM sizes z LEFT JOIN shared h USING (doc_id)
GROUP BY z.lang
ORDER BY z.lang
"""


@query("q94_bloom_decontamination", oracle=_Q94_ORACLE)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language contamination summary via bloom-prefilter + exact
    confirm join (the large-filter-set decontamination shape)."""
    from cdc_example_spark.operators.bloom import bloom_build, bloom_might_contain
    from cdc_example_spark.queries.llm import _SHINGLES

    m_bits, k = 1 << 16, 4
    toks = load_doc_tokens(spark, sf_dir)
    sh = toks.select(
        "doc_id", "lang", F.array_distinct(F.expr(_SHINGLES)).alias("sh")
    )
    bench_h = (
        sh.filter(F.col("doc_id") < 10)
        .select(F.explode("sh").alias("s"))
        .select(F.xxhash64("s").alias("h"))
        .distinct()
    )
    words = bloom_build(bench_h, "h", m_bits=m_bits, k=k)
    corpus = sh.filter(F.col("doc_id") >= 10).select(
        "doc_id", "lang", "sh", F.size("sh").alias("n_shingles")
    )
    cand = (
        corpus.select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
        .filter(bloom_might_contain("h", words, m_bits=m_bits, k=k))
    )
    shared = (
        cand.join(F.broadcast(bench_h), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = corpus.filter(F.col("n_shingles") > 0).select(
        "doc_id", "lang", "n_shingles"
    )
    per_doc = sizes.join(shared, "doc_id", "left").select(
        "lang",
        "n_shingles",
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
    )
    frac = F.col("n_shared").cast("double") / F.col("n_shingles")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((frac >= 0.2).cast("long")).alias("docs_contaminated"),
            F.sum("n_shared").cast("long").alias("shared_shingles"),
            dec2(F.avg(frac)).alias("avg_overlap"),
        )
        .transform(small_result_order, "lang")
    )


# ---------------------------------------------------------------------------
# q105 — BPE-style iterative pair merging (the tokenizer-training core
# op q54's static n-gram counts lead up to): two merge rounds, each =
# count adjacent token pairs corpus-wide → pick the top pair (count
# desc, pair text asc) → rewrite the corpus with the pair fused into
# one token → recount. Each round's 1-row winner is COLLECTED and
# re-enters as string literals (the iterative-algorithm discipline —
# q58's lineage checkpoints, q62's pinned centroids): the r6
# all-in-one-plan form re-executed round 1's pair-count scan ~5×
# through the final union's chained references (no cross-DAG subtree
# reuse in Spark; measured 17.8 s vs the collected form's
# once-per-round scans at the k=10 shard). The rewrite itself stays
# per-row codegen — `replace(corpus, ' a b ', ' a_b ')`, no UDF.
# Declared merge semantics (identical on both engines by construction
# of non-overlapping leftmost-first substring replace): an occurrence
# whose leading space was consumed by the immediately preceding merge
# is skipped this round — the word2phrase behavior, not full BPE
# greedy re-scan; the NEXT round sees it. Counts are exact integers.
# Scale: pair counting is map-side combined on pair strings (at 100 TB
# you'd hash them — the q21 discipline); each round adds one corpus
# scan + one 1-row broadcast; rounds are the explicit unroll knob the
# way q58/q79 unroll their iterations.
# ---------------------------------------------------------------------------

_Q105_ORACLE = r"""
WITH c0 AS (
  SELECT doc_id, ' ' || array_to_string(
           regexp_split_to_array(TRIM(LOWER(text)), '\s+'), ' ') || ' ' AS s
  FROM documents
), p1 AS (
  SELECT pair, COUNT(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS pair
    FROM (SELECT regexp_split_to_array(TRIM(s), '\s+') AS w FROM c0)
  ) GROUP BY pair
), m1 AS (
  SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1
), c1 AS (
  SELECT doc_id,
         replace(s, ' ' || m1.pair || ' ', ' ' || replace(m1.pair, ' ', '_') || ' ') AS s
  FROM c0, m1
), p2 AS (
  SELECT pair, COUNT(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS pair
    FROM (SELECT regexp_split_to_array(TRIM(s), '\s+') AS w FROM c1)
  ) GROUP BY pair
), m2 AS (
  SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1
), c2 AS (
  SELECT doc_id,
         replace(s, ' ' || m2.pair || ' ', ' ' || replace(m2.pair, ' ', '_') || ' ') AS s
  FROM c1, m2
), vocab AS (
  SELECT token, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rnk
  FROM (SELECT unnest(regexp_split_to_array(TRIM(s), '\s+')) AS token FROM c2)
  GROUP BY token
)
SELECT stage, item, CAST(cnt AS BIGINT) AS cnt, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT 'merge1' AS stage, pair AS item, cnt, 1 AS rnk FROM m1
  UNION ALL
  SELECT 'merge2', pair, cnt, 1 FROM m2
  UNION ALL
  SELECT 'vocab', token, cnt, rnk FROM vocab WHERE rnk <= 10
)
ORDER BY stage, rnk, item
"""


def _top_pair(df: DataFrame, arr) -> DataFrame:
    """1-row (pair, cnt) winner of adjacent-pair counting over a token
    ARRAY column expression.

    Hot-path discipline (the k=100 measurement behind it): the
    corpus-sized explode emits (t1, t2) STRUCTS and the agg groups on
    them — the per-row ``concat(t1, ' ', t2)`` alloc is deferred to the
    agg OUTPUT (distinct pairs only). The winner still orders by the
    concatenated pair TEXT (cnt desc, pair asc) — the oracle's order —
    because struct lexicographic order is NOT the same relation for
    tokens containing sub-space control chars."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 1),
        lambda i: F.struct(
            F.element_at(arr, i.cast("int")).alias("t1"),
            F.element_at(arr, (i + 1).cast("int")).alias("t2"),
        ),
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(F.col("p.t1"), F.lit(" "), F.col("p.t2")).alias("pair"),
            "cnt",
        )
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
    )


@query("q105_bpe_merge_rounds", oracle=_Q105_ORACLE)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two BPE-style merges + the resulting top-10 vocabulary.

    Each round's winning pair is COLLECTED (one row — bounded by
    construction, the q58-lineage/q62-literal discipline for iterative
    algorithms) and re-enters the next round as string literals. The
    r6 shape kept every round declarative inside one plan instead;
    measured at the k=10 scaling shard that re-executed round 1's
    pair-count scan ~5× through the final union's m1/c1/m2/c2/vocab
    references (Spark has no cross-DAG subtree reuse) — 17.8 s where
    the collected form runs each round's scan exactly once. At 100 TB
    per-round materialization of the 1-row winner IS the deployment
    shape (nobody re-derives round 1 on every reference); rounds stay
    the explicit unroll knob the way q58/q79 unroll their iterations.
    """
    from pyspark.sql.window import Window

    toks = load_doc_tokens(spark, sf_dir)
    corpus = toks.select(
        "doc_id",
        F.concat(F.lit(" "), F.array_join("ws", " "), F.lit(" ")).alias("s"),
    )
    # round 1 counts straight off the token ARRAYS (no join→re-split
    # round trip); post-rewrite rounds split the corpus string on the
    # literal single space it was joined with — never the \s+ regex.
    arrs = [toks.select(F.col("ws").alias("a")),
            None]  # round-2 source filled below
    merges = []
    for r in (1, 2):
        src = arrs[r - 1] or corpus.select(
            F.split(F.trim("s"), " ").alias("a")
        )
        winners = _top_pair(src, F.col("a")).collect()
        if not winners:
            # empty corpus: nothing to merge — degrade to the raw
            # vocabulary instead of IndexError (the q110 guard's twin).
            break
        top = winners[0]
        merges.append((f"merge{r}", top["pair"], int(top["cnt"]), 1))
        corpus = corpus.select(
            "doc_id",
            F.replace(
                F.col("s"),
                F.lit(f" {top['pair']} "),
                F.lit(" " + top["pair"].replace(" ", "_") + " "),
            ).alias("s"),
        )
    w = F.split(F.trim("s"), " ")
    # top-10 FIRST (TakeOrderedAndProject — never a vocabulary-sized
    # single-task sort), then the unpartitioned rank window runs on 10
    # rows only.
    vocab = (
        corpus.select(F.explode(w).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(10)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("token"))
            ),
        )
    )
    mrows = local_frame(spark, merges, "stage string, item string, cnt long, rnk long")
    vrows = vocab.select(
        F.lit("vocab").alias("stage"),
        F.col("token").alias("item"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("rnk").cast("long").alias("rnk"),
    )
    out = mrows.unionAll(vrows)
    return out.transform(small_result_order, "stage", "rnk", "item")


# ---------------------------------------------------------------------------
# q106 — RAG-style document chunking audit: split every document into
# fixed-size overlapping token windows (chunk=64 tokens, stride=48 →
# 16-token overlap, the standard retrieval-corpus prep), and report
# the per-language audit a pipeline reviews before embedding the
# chunks: document/chunk counts, chunks per document, tail-chunk
# shapes. Chunk count per doc: 1 + ceil(max(0, n-64)/48) — the last
# window may be short but is never empty; short docs (< chunk) yield
# exactly one chunk of n tokens.
# Scale shape: one scan, per-row sequence/transform into (start,
# length) pairs — the chunk TEXT never materializes here (the
# downstream embedder reads it per chunk); only per-doc scalars cross
# the one partial-aggregated exchange on the small lang key.
# ---------------------------------------------------------------------------

_Q106_CHUNK = 64
_Q106_STRIDE = 48

_Q106_ORACLE = rf"""
WITH d AS (
  SELECT lang, len(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS n
  FROM documents
), c AS (
  SELECT lang, n,
         1 + CAST(CEIL(GREATEST(n - {_Q106_CHUNK}, 0) / {_Q106_STRIDE}.0) AS BIGINT) AS n_chunks
  FROM d
), t AS (
  SELECT lang, n, n_chunks,
         n - (n_chunks - 1) * {_Q106_STRIDE} AS tail_len
  FROM c
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
       CAST(ROUND(CAST(AVG(n_chunks) AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_chunks_per_doc,
       CAST(SUM(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_chunk_docs,
       CAST(MIN(tail_len) AS BIGINT) AS min_tail_tokens,
       CAST(ROUND(CAST(AVG(tail_len) AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_tail_tokens
FROM t GROUP BY lang ORDER BY lang
"""


@query("q106_rag_chunking", oracle=_Q106_ORACLE)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language audit of 64-token/48-stride overlapping chunking."""
    toks = load_doc_tokens(spark, sf_dir)
    n = F.size("ws")
    n_chunks = (
        F.lit(1)
        + F.ceil(
            F.greatest(n - _Q106_CHUNK, F.lit(0)).cast("double") / _Q106_STRIDE
        )
    ).cast("long")
    per_doc = toks.select(
        "lang",
        n.alias("n"),
        n_chunks.alias("n_chunks"),
    ).withColumn(
        "tail_len", F.col("n") - (F.col("n_chunks") - 1) * _Q106_STRIDE
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            dec2(F.avg("n_chunks")).alias("avg_chunks_per_doc"),
            F.sum((F.col("n_chunks") > 1).cast("long")).alias("n_multi_chunk_docs"),
            F.min("tail_len").cast("long").alias("min_tail_tokens"),
            dec2(F.avg("tail_len")).alias("avg_tail_tokens"),
        )
        .transform(small_result_order, "lang")
    )


# ---------------------------------------------------------------------------
# q110 — BPE APPLY: encode the full corpus with a trained merge table
# (VERDICT r7 item 6 — q105 trains merges; this is the tokenizer-
# APPLICATION half every training pipeline then runs at full corpus
# scale). The merge table is trained on the deterministic 5%
# tokenizer-training sample (doc_id % 20 = 0 — tokenizers train on a
# sample, encode everything) with q105's exact per-round semantics:
# count adjacent pairs → winner (count desc, pair asc) → non-
# overlapping leftmost replace — each round's 1-row winner COLLECTED
# and re-entering as string literals (the q58/q62/q100/q105
# iterative-algorithm discipline). The ENCODE is the registered plan:
# ONE corpus scan + K chained column-argument `replace` rewrites — no
# UDF, no join, pure codegen projection — then a per-language token
# audit (raw vs encoded counts, compression). The oracle replays the
# identical training rounds and the identical K-deep replace chain.
# Scale shape: at 100 TB the encode is embarrassingly parallel (per-
# row rewrites, lang-keyed partial agg); training cost is sample-
# sized and paid once at construction, exactly like deployment.
# ---------------------------------------------------------------------------

_Q110_MERGES = 6
_Q110_SAMPLE_MOD = 20


def _q110_oracle() -> str:
    k = _Q110_MERGES
    parts = [
        "WITH s0 AS (",
        "  SELECT ' ' || array_to_string(",
        r"           regexp_split_to_array(TRIM(LOWER(text)), '\s+'), ' ') || ' ' AS s",
        f"  FROM documents WHERE doc_id % {_Q110_SAMPLE_MOD} = 0",
        ")",
    ]
    for r in range(1, k + 1):
        parts.append(
            f", p{r} AS (\n"
            "  SELECT pair, COUNT(*) AS cnt FROM (\n"
            "    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS pair\n"
            rf"    FROM (SELECT regexp_split_to_array(TRIM(s), '\s+') AS w FROM s{r - 1})"
            "\n  ) GROUP BY pair\n"
            f"), m{r} AS (\n"
            # TOTAL by construction (ADVICE r9, same class as q112): an
            # empty merge round must not cascade the fe/st CTEs empty
            # while the Spark side's empty-winner break still emits
            # encode rows. The sentinel pair ' ' searches for three
            # consecutive spaces — never present in the single-spaced
            # working string — so its replace is a no-op; real winners
            # (cnt >= 1) outrank it and merge_rows filters it.
            f"  SELECT pair, cnt FROM (\n"
            f"    SELECT pair, cnt FROM p{r}\n"
            f"    UNION ALL SELECT ' ' AS pair, 0 AS cnt\n"
            f"  ) ORDER BY cnt DESC, pair LIMIT 1\n"
            ")"
        )
        if r < k:
            parts.append(
                f", s{r} AS (\n"
                f"  SELECT replace(s, ' ' || m{r}.pair || ' ',\n"
                f"                 ' ' || replace(m{r}.pair, ' ', '_') || ' ') AS s\n"
                f"  FROM s{r - 1}, m{r}\n"
                ")"
            )
    chain = "' ' || array_to_string(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'), ' ') || ' '"
    for r in range(1, k + 1):
        chain = (
            f"replace({chain}, ' ' || m{r}.pair || ' ', "
            f"' ' || replace(m{r}.pair, ' ', '_') || ' ')"
        )
    froms = ", ".join(f"m{r}" for r in range(1, k + 1))
    parts.append(
        ", fe AS (\n"
        "  SELECT lang,\n"
        r"         len(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS n_raw,"
        "\n"
        f"         {chain} AS s\n"
        f"  FROM documents, {froms}\n"
        "), st AS (\n"
        "  SELECT lang, SUM(n_raw) AS tok_raw,\n"
        "         SUM(CASE WHEN n_raw = 0 THEN 0\n"
        r"             ELSE len(regexp_split_to_array(TRIM(s), '\s+')) END) AS tok_enc"
        "\n"
        "  FROM fe GROUP BY lang\n"
        ")"
    )
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT 'merge' AS stage, {r} AS rnk, pair AS item, cnt AS n_a,\n"
        f"       0 AS n_b, CAST(0.0 AS DOUBLE) AS pct FROM m{r} WHERE cnt > 0"
        for r in range(1, k + 1)
    )
    parts.append(
        "SELECT stage, CAST(rnk AS BIGINT) AS rnk, item,\n"
        "       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, pct\n"
        "FROM (\n"
        f"{merge_rows}\n"
        "UNION ALL\n"
        "SELECT 'encode', 0, lang, tok_raw, tok_enc,\n"
        "       CASE WHEN tok_raw = 0 THEN CAST(0.0 AS DOUBLE)\n"
        "            ELSE CAST(ROUND(CAST(100.0 * (tok_raw - tok_enc) / tok_raw\n"
        "                 AS DECIMAL(28,10)), 2) AS DOUBLE) END FROM st\n"
        ")\n"
        "ORDER BY stage, rnk, item"
    )
    return "\n".join(parts)


_Q110_ORACLE = _q110_oracle()


@query("q110_bpe_encode_corpus", oracle=_Q110_ORACLE)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with 6 sample-trained BPE merges; audit per lang.

    Training (construction time, the collect-tiny-winners discipline):
    6 rounds of q105's pair-count → 1-row winner → literal replace on
    the 5% doc_id-hash sample. Registered plan: ONE documents scan +
    6 chained literal ``replace`` projections + a lang-keyed partial
    agg — the full-corpus tokenizer application, no UDF, no join.
    """
    toks = load_doc_tokens(spark, sf_dir)
    sample = toks.filter(F.col("doc_id") % _Q110_SAMPLE_MOD == 0)
    scorpus = sample.select(
        F.concat(F.lit(" "), F.array_join("ws", " "), F.lit(" ")).alias("s")
    )
    merges: list[tuple[int, str, int]] = []
    for r in range(1, _Q110_MERGES + 1):
        # round 1 counts straight off the token arrays; later rounds
        # split the rewritten corpus string on its literal join space
        src = (
            sample.select(F.col("ws").alias("a"))
            if r == 1
            else scorpus.select(F.split(F.trim("s"), " ").alias("a"))
        )
        winners = _top_pair(src, F.col("a")).collect()
        if not winners:
            # empty (or single-token) training sample: no pair to
            # merge — stop training instead of IndexError (ADVICE r8);
            # the encode chain below degrades to identity.
            break
        top = winners[0]
        merges.append((r, top["pair"], int(top["cnt"])))
        scorpus = scorpus.select(
            F.replace(
                F.col("s"),
                F.lit(f" {top['pair']} "),
                F.lit(" " + top["pair"].replace(" ", "_") + " "),
            ).alias("s")
        )
    # ---- the registered plan: full-corpus encode ----------------------
    enc = toks.select(
        "lang",
        F.size("ws").alias("n_raw"),
        F.concat(F.lit(" "), F.array_join("ws", " "), F.lit(" ")).alias("s"),
    )
    s = F.col("s")
    for _, pair, _cnt in merges:
        s = F.replace(
            s,
            F.lit(f" {pair} "),
            F.lit(" " + pair.replace(" ", "_") + " "),
        )
    n_enc = F.when(F.col("n_raw") == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(s), " "))
    )
    st = (
        enc.select("lang", "n_raw", n_enc.alias("n_enc"))
        .groupBy("lang")
        .agg(
            F.sum("n_raw").alias("tok_raw"),
            F.sum("n_enc").alias("tok_enc"),
        )
    )
    encode_rows = st.select(
        F.lit("encode").alias("stage"),
        F.lit(0).cast("long").alias("rnk"),
        F.col("lang").alias("item"),
        F.col("tok_raw").cast("long").alias("n_a"),
        F.col("tok_enc").cast("long").alias("n_b"),
        F.when(F.col("tok_raw") == 0, F.lit(0.0))
        .otherwise(
            dec2(
                F.lit(100.0)
                * (F.col("tok_raw") - F.col("tok_enc"))
                / F.col("tok_raw")
            )
        )
        .alias("pct"),
    )
    mrows = local_frame(
        spark,
        [("merge", r, pair, cnt, 0, 0.0) for r, pair, cnt in merges],
        "stage string, rnk long, item string, n_a long, n_b long, pct double",
    )
    out = mrows.unionAll(encode_rows)
    return out.transform(small_result_order, "stage", "rnk", "item")


# ---------------------------------------------------------------------------
# q112 — BPE DICTIONARY-TIER encode (VERDICT r8 item 2): q110's
# chained corpus-string replace is linear in merge count — winning at
# the declared 6 merges, but a 30k-merge production vocabulary cannot
# compile a 30k-deep expression over every corpus row. The dictionary
# tier is the production shape: character-level BPE (merges live
# INSIDE words), so encoding is a pure function of the WORD — and the
# corpus only pays one explode + one (lang, word) partial-agg shuffle
# (Zipf: distinct words ≪ corpus tokens). The merge chain then runs on
# the post-agg dictionary frame (|langs|·|vocab| rows), never on
# corpus rows. At 30k merges the per-word encode swaps the column
# chain for the Arrow-batched vocab encoder below
# (``bpe_word_subtoken_counts_udf`` — vocab-sized, off the corpus hot
# path); parity between the two encoders is pinned by
# tests/test_round9_properties.py.
#
# Training (construction, the q105/q110 collect-tiny-winners
# discipline): 6 rounds over the 5% sample's distinct-word FREQUENCY
# table — pair counts are freq-weighted adjacent segment pairs, winner
# (cnt desc, pair asc), merge applies the leftmost-non-overlapping
# replace " a b " → " ab " (char BPE concatenates). The word-freq
# frame is localCheckpoint'ed once (bounded: |distinct sample words|),
# so the 6 rounds never re-scan the corpus.
# ---------------------------------------------------------------------------

_Q112_MERGES = 6


def _q112_oracle() -> str:
    k = _Q112_MERGES
    seg0 = r"' ' || regexp_replace(word, '(.)', '\1 ', 'g')"
    parts = [
        "WITH w0 AS (",
        "  SELECT word, COUNT(*) AS freq,",
        f"         {seg0} AS seg",
        "  FROM (SELECT unnest(regexp_split_to_array(TRIM(LOWER(text)),"
        r" '\s+')) AS word",
        f"        FROM documents WHERE doc_id % {_Q110_SAMPLE_MOD} = 0)",
        "  GROUP BY word",
        ")",
    ]
    for r in range(1, k + 1):
        parts.append(
            f", p{r} AS (\n"
            "  SELECT pair, SUM(freq) AS cnt FROM (\n"
            "    SELECT freq, unnest(list_transform(range(1, len(a)),"
            " i -> a[i] || ' ' || a[i+1])) AS pair\n"
            f"    FROM (SELECT freq, regexp_split_to_array(TRIM(seg), ' ')"
            f" AS a FROM w{r - 1})\n"
            "  ) GROUP BY pair\n"
            f"), m{r} AS (\n"
            # TOTAL by construction (ADVICE r9): a degenerate sample
            # (empty p_r) must not cascade every downstream CTE empty —
            # the Spark side breaks out of the merge loop and still
            # emits identity-encode rows. The sentinel pair ' ' (two
            # empty tokens) searches for three consecutive spaces,
            # which a single-spaced segment string never contains, so
            # its replace is a no-op; real winners always have cnt >= 1
            # and outrank it, and merge_rows filters it (cnt > 0).
            f"  SELECT pair, cnt FROM (\n"
            f"    SELECT pair, cnt FROM p{r}\n"
            f"    UNION ALL SELECT ' ' AS pair, 0 AS cnt\n"
            f"  ) ORDER BY cnt DESC, pair LIMIT 1\n"
            ")"
        )
        if r < k:
            parts.append(
                f", w{r} AS (\n"
                f"  SELECT word, freq, replace(seg, ' ' || m{r}.pair || ' ',\n"
                f"                 ' ' || replace(m{r}.pair, ' ', '') || ' ')"
                f" AS seg\n"
                f"  FROM w{r - 1}, m{r}\n"
                ")"
            )
    chain = seg0
    for r in range(1, k + 1):
        chain = (
            f"replace({chain}, ' ' || m{r}.pair || ' ', "
            f"' ' || replace(m{r}.pair, ' ', '') || ' ')"
        )
    froms = ", ".join(f"m{r}" for r in range(1, k + 1))
    parts.append(
        ", cw AS (\n"
        "  SELECT lang, word, COUNT(*) AS cnt\n"
        "  FROM (SELECT lang, unnest(regexp_split_to_array(TRIM(LOWER(text)),"
        r" '\s+')) AS word FROM documents)"
        "\n"
        "  GROUP BY lang, word\n"
        "), st AS (\n"
        "  SELECT lang, SUM(cw.cnt) AS n_words,\n"
        f"         SUM(cw.cnt * len(regexp_split_to_array(TRIM({chain}), ' ')))"
        " AS n_sub\n"
        f"  FROM cw, {froms}\n"
        "  GROUP BY lang\n"
        ")"
    )
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT 'merge' AS stage, {r} AS rnk, pair AS item, cnt AS n_a,\n"
        f"       0 AS n_b, CAST(0.0 AS DOUBLE) AS pct FROM m{r} WHERE cnt > 0"
        for r in range(1, k + 1)
    )
    parts.append(
        "SELECT stage, CAST(rnk AS BIGINT) AS rnk, item,\n"
        "       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, pct\n"
        "FROM (\n"
        f"{merge_rows}\n"
        "UNION ALL\n"
        "SELECT 'encode', 0, lang, n_words, n_sub,\n"
        "       CAST(ROUND(CAST(n_sub * 1.0 / n_words AS DECIMAL(28,10)), 2)"
        " AS DOUBLE) FROM st\n"
        ")\n"
        "ORDER BY stage, rnk, item"
    )
    return "\n".join(parts)


_Q112_ORACLE = _q112_oracle()


def _char_spaced(col):
    """`word` → `" c1 c2 … ck "` (the char-level BPE working string)."""
    return F.concat(F.lit(" "), F.regexp_replace(col, "(.)", "$1 "))


def _top_pair_weighted(df: DataFrame, arr, w) -> DataFrame:
    """1-row (pair, cnt) winner of FREQUENCY-WEIGHTED adjacent-pair
    counting over a segment-array column — q105's ``_top_pair`` with
    the word-frequency weight the dictionary tier trains on (counting
    distinct words once and multiplying by freq IS the classic BPE
    trainer's word-table optimization). Rows whose array has no pair
    are filtered out before the transform so ANSI mode never sees an
    ``element_at(…, 0)`` from the degenerate ``sequence(1, 0)``."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 1),
        lambda i: F.struct(
            F.element_at(arr, i.cast("int")).alias("t1"),
            F.element_at(arr, (i + 1).cast("int")).alias("t2"),
        ),
    )
    return (
        df.filter(F.size(arr) >= 2)
        .select(w.alias("freq"), F.explode(pairs).alias("p"))
        .groupBy("p")
        .agg(F.sum("freq").alias("cnt"))
        .select(
            F.concat(F.col("p.t1"), F.lit(" "), F.col("p.t2")).alias("pair"),
            "cnt",
        )
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
    )


def bpe_word_subtoken_counts_udf(merges: "list[str]"):
    """Arrow-batched per-WORD subtoken counter for the 30k-merge tier.

    At production vocabulary sizes the column-expression chain cannot
    compile (30k nested ``replace`` calls); this pandas UDF applies the
    identical leftmost-non-overlapping str.replace chain per DISTINCT
    word — vocab-sized input, so Python here is off the corpus hot
    path by construction. Parity with the column chain at the declared
    6 merges is pinned by test_q112_arrow_vocab_encoder_parity.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    reps = [
        (f" {p} ", " " + p.replace(" ", "") + " ") for p in merges
    ]

    def enc(words):
        def one(w):
            s = " " + " ".join(w) + " "
            for a, b in reps:
                s = s.replace(a, b)
            return len(s.split())

        return words.map(one)

    # real objects, not quoted strings: pandas_udf's type inference
    # cannot resolve string annotations against function-local imports
    enc.__annotations__ = {"words": pd.Series, "return": pd.Series}
    return pandas_udf(enc, "long")


def _bpe_merge_pass(toks: "list[str]", a: str, b: str) -> "list[str]":
    """One leftmost-nonoverlapping merge pass with the replace chain's
    exact ``str.replace`` semantics: the match `` a b `` consumes the
    separator before the NEXT token, so that token can never start
    another match of the same pass (`` a a a a `` merges pairs 1 and 3
    only). Shared by the rank encoder and the driver-side trainer so
    every tier applies merges identically."""
    out: "list[str]" = []
    i = 0
    n = len(toks)
    while i < n:
        if i < n - 1 and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            if i + 2 < n:
                out.append(toks[i + 2])
            i += 3
        else:
            out.append(toks[i])
            i += 1
    return out


def train_bpe_merges(
    word_freqs: "list[tuple[str, int]]", num_merges: int
) -> "list[str]":
    """Classic BPE trainer over a collected word-frequency table — the
    30k-merge tier's CONSTRUCTION path. The in-plan trainer (q112)
    pays one Spark job per merge round, which is right at 6 merges and
    impossible at 30k; the word-frequency table is vocab-sized by
    construction (Zipf), so deep tables train driver-side on the
    collected sample exactly like every production tokenizer trainer.

    Incremental pair accounting (subword-nmt's discipline): a lazy-
    deletion heap orders candidates by (count desc, pair asc) — the
    same tie-break as the in-plan ``_top_pair_weighted`` — and each
    merge re-counts only the words that contain the winning pair.
    Stops early when no pair remains (fully merged vocabulary).
    """
    import heapq
    from collections import defaultdict

    words: "list[list[object]]" = [
        [list(w), int(f)] for w, f in word_freqs if w
    ]
    counts: "dict[tuple[str, str], int]" = defaultdict(int)
    index: "dict[tuple[str, str], set[int]]" = defaultdict(set)

    def pairs_of(toks):
        return [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]

    for wi, (toks, f) in enumerate(words):
        for p in pairs_of(toks):
            counts[p] += f
            index[p].add(wi)
    heap = [(-c, f"{a} {b}", (a, b)) for (a, b), c in counts.items()]
    heapq.heapify(heap)

    def push(p):
        c = counts.get(p, 0)
        if c > 0:
            heapq.heappush(heap, (-c, f"{p[0]} {p[1]}", p))

    merges: "list[str]" = []
    while len(merges) < num_merges and heap:
        negc, pstr, p = heapq.heappop(heap)
        c = counts.get(p, 0)
        if c <= 0:
            continue
        if -negc != c:  # stale heap entry — re-push at the live count
            push(p)
            continue
        a, b = p
        merges.append(pstr)
        for wi in list(index[p]):
            toks, f = words[wi]
            for q in pairs_of(toks):
                counts[q] -= f
                index[q].discard(wi)
            new = _bpe_merge_pass(toks, a, b)
            words[wi][0] = new
            for q in pairs_of(new):
                counts[q] += f
                index[q].add(wi)
                push(q)
        counts.pop(p, None)
        index.pop(p, None)
    return merges


def bpe_word_subtoken_counts_rank_udf(merges: "list[str]"):
    """Rank-dict BPE apply — the production encoder past ~30k merges.

    The replace-chain UDF above walks the FULL merge table per word
    (O(|merges|) str.replace calls each), which is the measured ceiling
    at deep tables (SCALE.md §6-r10: ~1.9 ms/word at 30k merges). This
    is the classic priority apply every production tokenizer uses:
    repeatedly merge the lowest-RANK adjacent pair present in the word,
    leftmost-nonoverlapping per pass — O(word_len² · lookups) per word,
    INDEPENDENT of merge-table depth.

    EXACT chain parity, not just "BPE-like": the chain applies each
    merge ONCE, in table order, one leftmost-nonoverlapping pass each
    — it never revisits an earlier merge even when a later pass
    recreates its pair, and its ``str.replace`` match consumes the
    separator before the next token (`` a a a a `` merges pairs 1 and
    3 only). Both quirks are replicated: a monotone rank pointer only
    admits pairs ranked STRICTLY ABOVE the last applied merge (so a
    word pays one pass per rank it actually contains — at most
    word_len-1 passes, regardless of table depth), and the pass itself
    is the shared ``_bpe_merge_pass``. Parity is pinned against the
    chain UDF in tests/test_round10_properties.py — on the
    corpus-trained table and on adversarial repeated-char words.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(p.split(" ")): i for i, p in enumerate(merges)}

    def enc(words):
        def one(w):
            toks = list(w)
            last = -1
            while len(toks) > 1:
                best = None
                pair = None
                for i in range(len(toks) - 1):
                    r = ranks.get((toks[i], toks[i + 1]))
                    if (
                        r is not None
                        and r > last
                        and (best is None or r < best)
                    ):
                        best, pair = r, (toks[i], toks[i + 1])
                if best is None:
                    break
                toks = _bpe_merge_pass(toks, pair[0], pair[1])
                last = best
            return len(toks) if toks else 0

        return words.map(one)

    enc.__annotations__ = {"words": pd.Series, "return": pd.Series}
    return pandas_udf(enc, "long")


@query("q112_bpe_dictionary_encode", oracle=_Q112_ORACLE)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level BPE dictionary encode: train 6 merges on the 5%
    sample's word-frequency table; the registered plan encodes the
    corpus through its (lang, word) dictionary — one corpus explode +
    one partial-agg shuffle, the merge chain on dictionary rows only.
    """
    toks = load_doc_tokens(spark, sf_dir)
    # ---- construction: the word-frequency trainer ---------------------
    wft = (
        toks.filter(F.col("doc_id") % _Q110_SAMPLE_MOD == 0)
        .select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", "freq", _char_spaced(F.col("word")).alias("seg"))
    )
    # bounded by construction (|distinct sample words|, Zipf); one
    # materialization so the 6 rounds never re-scan the corpus
    wft = wft.localCheckpoint(eager=True)
    merges: list[tuple[int, str, int]] = []
    for r in range(1, _Q112_MERGES + 1):
        a = F.split(F.trim("seg"), " ")
        winners = _top_pair_weighted(wft, a, F.col("freq")).collect()
        if not winners:
            break  # fully merged / single-char vocabulary: stop early
        top = winners[0]
        merges.append((r, top["pair"], int(top["cnt"])))
        wft = wft.withColumn(
            "seg",
            F.replace(
                F.col("seg"),
                F.lit(f" {top['pair']} "),
                F.lit(" " + top["pair"].replace(" ", "") + " "),
            ),
        )
    # ---- the registered plan: dictionary-tier corpus encode -----------
    cw = (
        toks.select("lang", F.explode("ws").alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seg = _char_spaced(F.col("word"))
    for _, pair, _cnt in merges:
        seg = F.replace(
            seg,
            F.lit(f" {pair} "),
            F.lit(" " + pair.replace(" ", "") + " "),
        )
    n_sub = F.size(F.split(F.trim(seg), " "))
    st = (
        cw.select("lang", "cnt", n_sub.alias("n_sub"))
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_sub_total"),
        )
    )
    encode_rows = st.select(
        F.lit("encode").alias("stage"),
        F.lit(0).cast("long").alias("rnk"),
        F.col("lang").alias("item"),
        F.col("n_words").cast("long").alias("n_a"),
        F.col("n_sub_total").cast("long").alias("n_b"),
        dec2(F.col("n_sub_total") / F.col("n_words")).alias("pct"),
    )
    mrows = local_frame(
        spark,
        [("merge", r, pair, cnt, 0, 0.0) for r, pair, cnt in merges],
        "stage string, rnk long, item string, n_a long, n_b long, pct double",
    )
    out = mrows.unionAll(encode_rows)
    return out.transform(small_result_order, "stage", "rnk", "item")


# ---------------------------------------------------------------------------
# q114 — hybrid retrieval: BM25 top-20 + embedding-cosine top-20 fused
# by reciprocal-rank fusion (k0=60), the calibration-free lexical+vector
# hybrid every RAG/retrieval stack runs. Candidate lists collapse to
# ≤20 rows inside their own plans (inverted-index agg / broadcast-probe
# TakeOrderedAndProject) BEFORE fusion, so the fused exchange carries
# ≤40 rows at any corpus size. Determinism: both ranks order by the
# 2-decimal-rounded score with an id tie-break (the q52/q22
# discipline); each RRF term 1/(60+r) is the identical IEEE double on
# both engines and the ≤2-term sum is commutative, with the 6-decimal
# round as the belt-and-braces quantizer. doc_id 0 is the probe (its
# embedding is the vector query) and is excluded from both candidate
# sides. NOT in the r10 driver window (the rotation promise caps r10's
# new/changed at 3) — scheduled to head r11's window; the local
# harness oracle-checks it every run meanwhile.
# ---------------------------------------------------------------------------

_Q114_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ws
  FROM documents WHERE doc_id <> 0
), dl AS (
  SELECT doc_id, len(ws) AS dl FROM d
), c AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM d)
  WHERE term IN ('hash', 'merge', 'scan')
  GROUP BY doc_id, term
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), lex_scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(CAST(SUM(
           LN(1 + (c.n - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf * (1.2 + 1)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
         ) AS DECIMAL(28,10)), 2) AS DOUBLE) AS bm25
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN c
  GROUP BY tf.doc_id
), lex_ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
  FROM lex_scored
), lex AS (
  SELECT doc_id, rnk FROM lex_ranked WHERE rnk <= 20
), q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), vec_scored AS (
  SELECT e.vec_id AS doc_id,
         CAST(ROUND(CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS DECIMAL(28,10)), 2) AS DOUBLE) AS cos_sim
  FROM embeddings e, q
  WHERE e.vec_id <> 0
), vec_ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk
  FROM vec_scored
), vec AS (
  SELECT doc_id, rnk FROM vec_ranked WHERE rnk <= 20
), u AS (
  SELECT doc_id, 'lex' AS src, rnk FROM lex
  UNION ALL
  SELECT doc_id, 'vec' AS src, rnk FROM vec
), fused AS (
  SELECT doc_id,
         CAST(COALESCE(MAX(CASE WHEN src = 'lex' THEN rnk END), 0) AS BIGINT) AS lex_rnk,
         CAST(COALESCE(MAX(CASE WHEN src = 'vec' THEN rnk END), 0) AS BIGINT) AS vec_rnk,
         CAST(ROUND(CAST(SUM(1.0 / (60 + rnk)) AS DECIMAL(28,10)), 6) AS DOUBLE) AS rrf
  FROM u GROUP BY doc_id
)
SELECT doc_id, lex_rnk, vec_rnk, rrf
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 10
"""

_HYBRID_TERMS = ("hash", "merge", "scan")


@query("q114_hybrid_rrf_search", oracle=_Q114_ORACLE)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25+cosine retrieval fused by reciprocal rank (k0=60)."""
    from pyspark.sql.window import Window

    from cdc_example_spark.functions import vector as V

    toks = load_doc_tokens(spark, sf_dir).filter(F.col("doc_id") != 0)
    # ≤20-row frames: the rank window runs on one partition by design
    # (small_result_order rationale — the result is list-sized at any
    # corpus scale, so a single-partition window IS the right plan).
    lex = (
        R.bm25_rank(toks, _HYBRID_TERMS, k=20, tokens_col="ws")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rnk")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    probe = emb.filter(F.col("doc_id") == 0).select(F.col("v").alias("qv"))
    vec = (
        emb.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("doc_id", dec2(V.cosine(F.col("v"), F.col("qv"))).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(20)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cos_sim").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rnk")
    )
    return (
        R.rrf_fuse({"lex": lex, "vec": vec}, id_col="doc_id", k0=60)
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q115 — hybrid retrieval SERVED FROM THE INDEX: the q114 fusion with
# its vector side swapped from the full-corpus brute scan to the
# persisted two-level IVF index (ivf2_topk_indexed, the q102 serving
# path) — the shape you'd actually run at 100 TB: directory-pruned
# vector candidates (2 coarse × 2 fine probes = 4 of 9 directories at
# the contract sf) + inverted-index lexical candidates → RRF
# (VERDICT r10 item 3). Candidate lists still collapse to ≤20 rows
# inside their own plans; the vector branch never scans the corpus —
# the index read is partition-pruned by the probe predicate and the
# probed cells stay ~TARGET_CELL_SIZE at any corpus (ivf2_shape_for
# policy). Determinism: the ≤20 IVF candidates are cut on the
# raw-cosine order with the vec_id tie-break (bit-identical across
# engines — V.cosine pins DuckDB's evaluation order, the q102
# discipline), then re-ranked on the 2-decimal-rounded score for
# fusion (the q114 discipline). Oracle: the pinned sf0.01 coarse+fine
# centroid literals (queries/q102_ivf2_sf001.py) replay the index
# assignment, probe, and serve as window SQL, composed with q114's
# lex + fusion SQL. Registered OUTSIDE the r11 driver window (the
# rotation promise caps r11 new/changed at 3) — the q113/q114
# precedent: local-harness oracle parity now, driver row r12.
# ---------------------------------------------------------------------------


def _q115_oracle() -> str:
    from cdc_example_spark.queries.q102_ivf2_sf001 import (
        COARSE_SF001,
        FINES_SF001,
    )

    coarse_values = ",\n        ".join(
        "({}, [{}]::DOUBLE[])".format(c, ", ".join(repr(x) for x in cv))
        for c, cv in enumerate(COARSE_SF001)
    )
    fine_values = ",\n        ".join(
        "({}, {}, [{}]::DOUBLE[])".format(c, f, ", ".join(repr(x) for x in fv))
        for c, cell in enumerate(FINES_SF001)
        for f, fv in enumerate(cell)
    )
    return rf"""
WITH coarse(ccid, ccv) AS (
  VALUES
        {coarse_values}
), fine(fcid, ffid, fv) AS (
  VALUES
        {fine_values}
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), a1 AS (
  SELECT vec_id, v, ccid AS c1 FROM (
    SELECT vec_id, v, ccid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY list_inner_product(v, ccv) DESC, ccid) AS rn
    FROM v CROSS JOIN coarse) WHERE rn = 1
), cand AS (
  SELECT vec_id, v, c1, ffid AS f1 FROM (
    SELECT a1.vec_id, a1.v, a1.c1, f.ffid,
           ROW_NUMBER() OVER (PARTITION BY a1.vec_id
                              ORDER BY list_inner_product(a1.v, f.fv) DESC, f.ffid) AS rn
    FROM a1 JOIN fine f ON f.fcid = a1.c1) WHERE rn = 1
), qv AS (
  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id = 0
), qc AS (
  SELECT query_id, qv, ccid AS pc FROM (
    SELECT query_id, qv, ccid,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY list_inner_product(qv, ccv) DESC, ccid) AS crn
    FROM qv CROSS JOIN coarse) WHERE crn <= 2
), probe_pairs AS (
  SELECT query_id, pc, ffid AS pf FROM (
    SELECT qc.query_id, qc.pc, f.ffid,
           ROW_NUMBER() OVER (PARTITION BY qc.query_id, qc.pc
                              ORDER BY list_inner_product(qc.qv, f.fv) DESC, f.ffid) AS frn
    FROM qc JOIN fine f ON f.fcid = qc.pc) WHERE frn <= 2
), vec_cut AS (
  SELECT doc_id, cos_sim FROM (
    SELECT c.vec_id AS doc_id,
           list_cosine_similarity(c.v, q.qv) AS cos_sim,
           ROW_NUMBER() OVER (ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rawrn
    FROM cand c
    JOIN probe_pairs p ON c.c1 = p.pc AND c.f1 = p.pf
    JOIN qv q ON q.query_id = p.query_id AND c.vec_id <> q.query_id
  ) WHERE rawrn <= 20
), vec AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY CAST(ROUND(CAST(cos_sim AS DECIMAL(28,10)), 2) AS DOUBLE) DESC,
                    doc_id) AS rnk
  FROM vec_cut
), d AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ws
  FROM documents WHERE doc_id <> 0
), dl AS (
  SELECT doc_id, len(ws) AS dl FROM d
), c AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM d)
  WHERE term IN ('hash', 'merge', 'scan')
  GROUP BY doc_id, term
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), lex_scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(CAST(SUM(
           LN(1 + (c.n - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf * (1.2 + 1)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
         ) AS DECIMAL(28,10)), 2) AS DOUBLE) AS bm25
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN c
  GROUP BY tf.doc_id
), lex_ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
  FROM lex_scored
), lex AS (
  SELECT doc_id, rnk FROM lex_ranked WHERE rnk <= 20
), u AS (
  SELECT doc_id, 'lex' AS src, rnk FROM lex
  UNION ALL
  SELECT doc_id, 'vec' AS src, rnk FROM vec
), fused AS (
  SELECT doc_id,
         CAST(COALESCE(MAX(CASE WHEN src = 'lex' THEN rnk END), 0) AS BIGINT) AS lex_rnk,
         CAST(COALESCE(MAX(CASE WHEN src = 'vec' THEN rnk END), 0) AS BIGINT) AS vec_rnk,
         CAST(ROUND(CAST(SUM(1.0 / (60 + rnk)) AS DECIMAL(28,10)), 6) AS DOUBLE) AS rrf
  FROM u GROUP BY doc_id
)
SELECT doc_id, lex_rnk, vec_rnk, rrf
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


@query("q115_hybrid_rrf_indexed", oracle=_q115_oracle(), oracle_sf="sf0.01")
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25+IVF2-served-cosine retrieval fused by RRF (k0=60)."""
    from pyspark.sql.window import Window

    from cdc_example_spark.operators import similarity as S2
    from cdc_example_spark.queries.llm import trained_ivf2

    toks = load_doc_tokens(spark, sf_dir).filter(F.col("doc_id") != 0)
    lex = (
        R.bm25_rank(toks, _HYBRID_TERMS, k=20, tokens_col="ws")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rnk")
    )
    coarse, fines, path = trained_ivf2(spark, sf_dir)
    probe = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
    # raw-cosine candidate cut (the q102 index-serving contract), then
    # the fusion rank on the rounded score (the q114 discipline)
    vec = (
        S2.ivf2_topk_indexed(
            spark,
            path,
            probe,
            coarse,
            fines,
            k=20,
            n_probe_coarse=2,
            n_probe_fine=2,
        )
        .select(
            F.col("vec_id").alias("doc_id"),
            dec2(F.col("cos_sim")).alias("cos_sim"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cos_sim").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rnk")
    )
    return (
        R.rrf_fuse({"lex": lex, "vec": vec}, id_col="doc_id", k0=60)
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )
