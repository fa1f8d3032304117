"""Round-6 pipeline-quality & monitoring queries (q87+).

The operators a large training-data pipeline runs AROUND the corpus
work the q21–q86 surface already covers: sparse all-pairs document
similarity (the inverted-index join that complements the MinHash /
SimHash / embedding near-dup family with an exact lexical one),
Deequ-style data-quality constraint audits, marketing-style
first/last-touch attribution, mergeable-sketch distinct rollups
(the daily-partial → monthly-union pattern that IS how distinct
counting works at 100 TB), and PSI distribution-drift monitoring
between time slices. The reference itself has no analytics surface
(SURVEY.md §2.1 — its only derived state is the keyed last-write-wins
map, `src/main/resources/static/index.html:87-89,202-216`); everything
here is the mandated BASELINE.json:6 batch/LLM-pipeline extension,
with the same oracle-and-determinism discipline as q01–q86.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_example_spark.queries.registry import query
from cdc_example_spark.queries.util import dec2, shuffled_order, small_result_order
from cdc_example_spark.session import local_frame
from cdc_example_spark.sources.catalog import load_doc_tokens, load_table

# ---------------------------------------------------------------------------
# q87 — sparse TF-IDF all-pairs cosine similarity (inverted-index
# join): exact lexical near-dup pairs with cos >= 0.5 computed in the
# df-banded token space. This is the AllPairs/PPJoin family's core
# shape on Spark: weighted postings self-join on token, never a
# doc x doc theta join. The document-frequency band [2, 50] is the
# declared posting-list prune — df=1 tokens cannot form a pair (drop
# them BEFORE the self-join, not after), and df>50 tokens are the
# stopword-ish lists whose |df|^2 pair fan-out is the classic
# quadratic blow-up (at 100 TB the band is the recall/cost knob, same
# contract as q82's length-band blocking). Per-token pair fan-out is
# therefore bounded by 50*49/2 regardless of corpus size, and the
# token shuffle that builds the postings is REUSED by both sides of
# the self-join (ReusedExchange — one exchange, two consumers).
# Cosine = dot / (norm1 * norm2) with norms over the SAME banded
# space, so the operator is self-consistent and replayable; the
# threshold compares the dec2-rounded value so a boundary ulp can
# never flip membership between engines.
# ---------------------------------------------------------------------------

_Q87_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) * 1.0 AS tf FROM tok GROUP BY 1, 2
), n AS (
  SELECT COUNT(*) * 1.0 AS n_docs FROM documents
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), w AS (
  SELECT tf.doc_id, tf.token, tf.tf * ln(1.0 + n.n_docs / dfreq.df) AS w
  FROM tf JOIN dfreq USING (token), n
  WHERE dfreq.df BETWEEN 2 AND 50
), nrm AS (
  SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, SUM(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sims AS (
  SELECT doc1, doc2,
         CAST(ROUND(CAST(p.dot / (x.nrm * y.nrm) AS DECIMAL(28,10)), 2)
              AS DOUBLE) AS cos_sim
  FROM pairs p
  JOIN nrm x ON p.doc1 = x.doc_id
  JOIN nrm y ON p.doc2 = y.doc_id
)
SELECT doc1, doc2, cos_sim FROM sims
WHERE cos_sim >= 0.5
ORDER BY doc1, doc2
"""


@query("q87_sparse_allpairs_cosine", oracle=_Q87_ORACLE)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lexical cos>=0.5 pairs via a df-banded inverted-index join."""
    toks = load_doc_tokens(spark, sf_dir)
    tf = (
        toks.select("doc_id", F.explode("ws").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    # 1-row corpus size attached via the BNLJ_INTENTIONAL broadcast
    # scalar pattern (see q83's comment for why there is no hash-join
    # spelling of "attach a scalar").
    n = toks.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(2, 50))
    )
    w = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df"))).alias(
                "w"
            ),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(
        F.col("doc_id").alias("doc1"), "token", F.col("w").alias("w1")
    )
    b = w.select(
        F.col("doc_id").alias("doc2"), "token", F.col("w").alias("w2")
    )
    pairs = (
        a.join(b, "token")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    n1 = nrm.select(F.col("doc_id").alias("doc1"), F.col("nrm").alias("nrm1"))
    n2 = nrm.select(F.col("doc_id").alias("doc2"), F.col("nrm").alias("nrm2"))
    return (
        pairs.join(n1, "doc1")
        .join(n2, "doc2")
        .select(
            "doc1",
            "doc2",
            dec2(F.col("dot") / (F.col("nrm1") * F.col("nrm2"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.5)
        # shuffled_order: range sampling re-ran the sparse-dot pair agg
        # + the two size lookups (r14 -488 ms; queries/util.py note)
        .transform(shuffled_order, "doc1", "doc2")
    )


# ---------------------------------------------------------------------------
# q88 — data-quality constraint audit (the Deequ pattern): one pass
# over the fact computes every scalar constraint metric as a partial
# aggregate (completeness, uniqueness, value ranges, date bounds), and
# the one relational constraint — referential integrity of
# orders.o_custkey against customer — is a broadcast anti-join count.
# Scale: the audit costs ONE fact scan + one broadcast join no matter
# how many scalar constraints are declared (they're all columns of the
# same aggregate), which is why this shape (not per-constraint passes)
# is how Deequ/DQX run on real lakes. Output is the audit report:
# one row per constraint with its violation count and a passed flag.
# ---------------------------------------------------------------------------

_Q88_ORACLE = """
WITH m AS (
  SELECT COUNT(*) AS row_count,
         COUNT(*) - COUNT(o_custkey) AS null_custkey,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_orderkey,
         SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
         SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                   OR o_orderdate >= TIMESTAMP '2002-01-01'
                  THEN 1 ELSE 0 END) AS bad_date
  FROM orders
), ri AS (
  SELECT COUNT(*) AS orphan_custkey
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
)
SELECT * FROM (
  SELECT 'complete_o_custkey' AS check_name, CAST(null_custkey AS BIGINT)
         AS violations, null_custkey = 0 AS passed FROM m
  UNION ALL
  SELECT 'date_in_range_o_orderdate', CAST(bad_date AS BIGINT),
         bad_date = 0 FROM m
  UNION ALL
  SELECT 'positive_o_totalprice', CAST(bad_price AS BIGINT),
         bad_price = 0 FROM m
  UNION ALL
  SELECT 'ref_integrity_o_custkey', CAST(orphan_custkey AS BIGINT),
         orphan_custkey = 0 FROM ri
  UNION ALL
  SELECT 'table_not_empty', CAST(CASE WHEN row_count > 0 THEN 0 ELSE 1 END
         AS BIGINT), row_count > 0 FROM m
  UNION ALL
  SELECT 'unique_o_orderkey', CAST(dup_orderkey AS BIGINT),
         dup_orderkey = 0 FROM m
)
ORDER BY check_name
"""


@query("q88_quality_constraint_audit", oracle=_Q88_ORACLE)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint audit: one scan + one broadcast RI join."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    m = orders.agg(
        F.count(F.lit(1)).alias("row_count"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
            "dup_orderkey"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "bad_price"
        ),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2002-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        ).alias("bad_date"),
    )
    ri = (
        orders.join(
            F.broadcast(cust),
            orders["o_custkey"] == cust["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("orphan_custkey"))
    )
    report = m.crossJoin(F.broadcast(ri)).selectExpr(
        """stack(6,
             'complete_o_custkey', null_custkey,
             'date_in_range_o_orderdate', bad_date,
             'positive_o_totalprice', bad_price,
             'ref_integrity_o_custkey', orphan_custkey,
             'table_not_empty',
               CAST(CASE WHEN row_count > 0 THEN 0 ELSE 1 END AS BIGINT),
             'unique_o_orderkey', dup_orderkey
           ) AS (check_name, violations)"""
    )
    return report.select(
        "check_name",
        F.col("violations").cast("long").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    ).transform(small_result_order, "check_name")


# ---------------------------------------------------------------------------
# q89 — first/last-touch attribution: for every purchase, which event
# type opened the user's 7-day journey and which immediately preceded
# the purchase. ONE value-range window per user stream does both
# (first_value and last_value over the same frame — one sort, one
# exchange, and that exchange is already elided by the events cache's
# user_id partitioning, like q10/q19/q84). The frame orders on a
# tie-broken clock v = epoch_us(ts) * 1000 + event_id % 1000 —
# monotonic in ts with a deterministic within-microsecond order, so
# first/last are well-defined even under timestamp collisions (at
# 100 TB, same-microsecond events per user are routine; an untied
# RANGE frame would make first/last engine-dependent). The 7-day
# lookback is expressed on the same clock (days * 86.4e9 us * 1000
# ticks), exact to the tie-break's +/-1ms — the declared contract,
# replayed identically by the oracle.
# ---------------------------------------------------------------------------

_Q89_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, value,
         epoch_us(ts) * 1000 + event_id % 1000 AS v
  FROM events
), j AS (
  SELECT user_id, event_type, value,
         first_value(event_type) OVER w AS first_touch,
         last_value(event_type) OVER w AS last_touch
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY v
               RANGE BETWEEN 604800000000000 PRECEDING AND 1 PRECEDING)
)
SELECT COALESCE(first_touch, 'none') AS first_touch,
       COALESCE(last_touch, 'none') AS last_touch,
       CAST(COUNT(*) AS BIGINT) AS purchases,
       CAST(ROUND(CAST(SUM(value) AS DECIMAL(28,10)), 2) AS DOUBLE)
         AS attributed_value
FROM j WHERE event_type = 'purchase'
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("q89_touch_attribution", oracle=_Q89_ORACLE)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch purchase attribution over a 7-day range frame."""
    ev = load_table(spark, sf_dir, "events")
    v = F.unix_micros("ts") * F.lit(1000) + F.col("event_id") % 1000
    w = (
        Window.partitionBy("user_id")
        .orderBy("v")
        .rangeBetween(-604800000000000, -1)
    )
    j = ev.select(
        "user_id", "event_type", "value", v.alias("v")
    ).select(
        "event_type",
        "value",
        F.first("event_type").over(w).alias("first_touch"),
        F.last("event_type").over(w).alias("last_touch"),
    )
    return (
        j.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        )
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            dec2(F.sum("value")).alias("attributed_value"),
        )
        .transform(small_result_order, "first_touch", "last_touch")
    )


# ---------------------------------------------------------------------------
# q90 — mergeable-sketch distinct rollup (Apache DataSketches HLL via
# hll_sketch_agg / hll_union_agg): per-(event_type, day) user sketches
# unioned up to per-type monthly estimates. THIS — partial sketches at
# the fine grain, lossless union at the coarse one — is how distinct
# counting actually runs at 100 TB: the daily pass is incremental (a
# day's sketch is built once, kilobytes persist), and any rollup
# (weekly/monthly/all-time) is a cheap union of sketches instead of a
# re-scan of raw events. The estimate is engine-specific, so the
# driver-hashed output carries the EXACT distinct count plus a
# within-3-sigma boolean for the unioned estimate — q38's established
# HLL oracle discipline; the raw estimate accuracy is additionally
# 3-sigma-tested in pytest.
# ---------------------------------------------------------------------------

_Q90_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS union_within_3sigma
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# Datasketches HLL_4 at default lgConfigK=12: RSE ~= 1.04/sqrt(2^12)
# ~= 1.6%; 3 sigma ~= 4.9% — same bound shape as q38's HLL++ contract.
_HLL_3SIGMA = 0.05


@query("q90_sketch_rollup_distinct", oracle=_Q90_ORACLE)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily HLL user sketches unioned to per-type distinct estimates."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_day"),
    )
    rolled = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        rolled.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= _HLL_3SIGMA * F.col("exact_users")
            ).alias("union_within_3sigma"),
        )
        .transform(small_result_order, "event_type")
    )


# ---------------------------------------------------------------------------
# q91 — PSI distribution-drift monitor: Population Stability Index of
# the event value distribution, first half of the month vs second
# half, per event type. Fixed-width bins (10 x width 10, top bin
# open) keep the operator replayable — data-dependent bin edges
# (quantiles) would couple the contract to sketch internals; fixed
# edges are also what production drift monitors pin so that alerts
# are comparable across runs. Laplace-smoothed bin shares make
# empty-bin terms finite. Scale: one scan → partial-agg counts on a
# (type x bin x half) key bounded by 5*10*2 = 100 groups; everything
# after operates on that 100-row frame (window denominators + one
# fold), so the monitor's cost is the scan, full stop. PSI > 0.2 is
# the conventional "investigate" line, emitted as a flag.
# ---------------------------------------------------------------------------

_Q91_ORACLE = """
WITH b AS (
  SELECT event_type,
         LEAST(9, GREATEST(0, CAST(FLOOR(value / 10) AS BIGINT))) AS bin,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END AS half
  FROM events
), c AS (
  SELECT event_type, bin,
         SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY 1, 2
), p AS (
  SELECT event_type, bin,
         (ca + 0.5) / (SUM(ca) OVER (PARTITION BY event_type) + 5.0) AS pa,
         (cb + 0.5) / (SUM(cb) OVER (PARTITION BY event_type) + 5.0) AS pb
  FROM c
)
SELECT event_type,
       CAST(ROUND(CAST(SUM((pa - pb) * ln(pa / pb)) AS DECIMAL(28,10)), 4)
            AS DOUBLE) AS psi,
       CAST(ROUND(CAST(SUM((pa - pb) * ln(pa / pb)) AS DECIMAL(28,10)), 4)
            AS DOUBLE) > 0.2 AS drifted
FROM p
GROUP BY event_type
ORDER BY event_type
"""


def _dec4(col: F.Column) -> F.Column:
    # q91 PSIs at the driver tiers are O(0.001) — two digits would
    # round them all to 0.00; four keeps the metric informative while
    # still absorbing the cross-engine ulp like dec2 does.
    return F.round(col.cast("decimal(28,10)"), 4).cast("double")


@query("q91_psi_value_drift", oracle=_Q91_ORACLE)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the value distribution, first vs second half-month."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.least(
            F.lit(9),
            F.greatest(F.lit(0), F.floor(F.col("value") / 10)),
        )
        .cast("long")
        .alias("bin"),
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "a"
        )
        .otherwise("b")
        .alias("half"),
    )
    c = b.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == "b", 1).otherwise(0)).alias("cb"),
    )
    wt = Window.partitionBy("event_type")
    p = c.select(
        "event_type",
        ((F.col("ca") + 0.5) / (F.sum("ca").over(wt) + 5.0)).alias("pa"),
        ((F.col("cb") + 0.5) / (F.sum("cb").over(wt) + 5.0)).alias("pb"),
    )
    psi = _dec4(
        F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")))
    )
    return (
        p.groupBy("event_type")
        .agg(psi.alias("psi"))
        .select("event_type", "psi", (F.col("psi") > 0.2).alias("drifted"))
        .transform(small_result_order, "event_type")
    )


# ---------------------------------------------------------------------------
# q93 — PII scan + redaction audit: the compliance pass every
# training-data pipeline runs before a corpus ships (emails, phone
# numbers, IPv4s -> typed placeholder tokens, with per-language counts
# of what was found and how many characters the redaction removed).
# The synthetic corpus is deliberately PII-free (pure word tokens), so
# the fixture INJECTS deterministic PII-shaped substrings derived from
# doc_id — identically composed in both engines — and the operator
# then has real matches to find; on a real corpus the injection step
# disappears and the scan/redact pipeline is unchanged. Everything is
# a single projection of JVM regex expressions (regexp_count +
# chained regexp_replace) followed by one partial-agg'd groupBy on
# lang: no shuffle of document text, no UDF, scan-bound at 100 TB —
# the optimal shape for a full-corpus scrub. Patterns stay inside the
# RE2-compatible subset (character classes, bounded repeats, \\b) so
# Java regex (Spark) and RE2 (DuckDB) agree match-for-match; the
# audit counts are exact integers, hash-safe without rounding.
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{4}\b"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_Q93_ORACLE = rf"""
WITH aug AS (
  SELECT lang,
         text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                   ELSE '' END AS text
  FROM documents
), scanned AS (
  SELECT lang, text,
         len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
         len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
         len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '[EMAIL]', 'g'),
             '{_PII_PHONE}', '[PHONE]', 'g'),
             '{_PII_IPV4}', '[IP]', 'g') AS redacted
  FROM aug
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_emails + n_phones + n_ips > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS emails,
       CAST(SUM(n_phones) AS BIGINT) AS phones,
       CAST(SUM(n_ips) AS BIGINT) AS ips,
       CAST(SUM(len(text) - len(redacted)) AS BIGINT) AS chars_removed
FROM scanned
GROUP BY lang
ORDER BY lang
"""


@query("q93_pii_redaction", oracle=_Q93_ORACLE)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language PII scan/redaction audit over the (deterministically
    PII-injected) document corpus."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".0."),
                    (F.col("doc_id") % 100).cast("string"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _PII_IPV4,
        "[IP]",
    )
    scanned = aug.select(
        "lang",
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit(_PII_IPV4)).alias("n_ips"),
        (F.length("text") - F.length(redacted)).alias("len_delta"),
    )
    return (
        scanned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (
                    (F.col("n_emails") + F.col("n_phones") + F.col("n_ips")) > 0
                ).cast("long")
            ).alias("docs_with_pii"),
            F.sum("n_emails").cast("long").alias("emails"),
            F.sum("n_phones").cast("long").alias("phones"),
            F.sum("n_ips").cast("long").alias("ips"),
            F.sum("len_delta").cast("long").alias("chars_removed"),
        )
        .transform(small_result_order, "lang")
    )


# ---------------------------------------------------------------------------
# q108 — cross-split n-gram leakage matrix: the BETWEEN-SPLITS twin of
# benchmark decontamination (q55/q94 guard against an EXTERNAL eval
# set; this guards the pipeline's own train/val/test boundary — the
# leakage a q43-style hash split can still admit through duplicated
# or near-duplicated documents). Every document contributes its
# distinct 5-token shingles under its q43 split; per shingle one
# groupBy computes the split-membership flags, and a single global
# agg yields, per split pair, the distinct-shingle overlap and the
# leakage fraction relative to the smaller side.
# Scale shape (r8, VERDICT r7 item 2): the registered plan groups on
# the shingle's xxhash64 — an 8-byte key across the exchange (the
# q21/q101 discipline: the hash crosses the shuffle, the text never
# leaves the map side), computed per position directly inside the
# per-row transform so no struct or concatenated string ever
# materializes. xxhash64 hashes each token column as a separate
# length-delimited field (seed-chained per column), so ("ab","c") and
# ("a","bc") cannot collide structurally; the remaining 64-bit random
# collision odds over the distinct-shingle population are the same
# losslessness pin q101's sha2 carries (there ~2^-256, here ~n²/2^65 —
# ≈1e-7 even at 10^9 distinct shingles), and
# tests/test_quality_queries.py pins raw-struct == hashed grouping on
# the real corpus. The oracle replays the RAW 5-token grouping — the
# counts are identical under that pin. The flags agg is map-side
# partial; the pair matrix is ONE row.
# ---------------------------------------------------------------------------

_Q108_ORACLE = r"""
WITH d AS (
  SELECT CASE WHEN ((doc_id % 1000003) * 2654435761
              + (doc_id // 1000003) * 40503) % 1000 < 800 THEN 'train'
              WHEN ((doc_id % 1000003) * 2654435761
              + (doc_id // 1000003) * 40503) % 1000 < 900 THEN 'val'
              ELSE 'test' END AS split,
         regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ws
  FROM documents
), g AS (
  SELECT split, ws[i] AS t1, ws[i+1] AS t2, ws[i+2] AS t3,
         ws[i+3] AS t4, ws[i+4] AS t5
  FROM (SELECT split, ws, unnest(range(1, len(ws) - 3)) AS i FROM d
        WHERE len(ws) >= 5)
), f AS (
  SELECT t1, t2, t3, t4, t5,
         MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_tr,
         MAX(CASE WHEN split = 'val'   THEN 1 ELSE 0 END) AS in_va,
         MAX(CASE WHEN split = 'test'  THEN 1 ELSE 0 END) AS in_te
  FROM g GROUP BY t1, t2, t3, t4, t5
), m AS (
  SELECT SUM(in_tr) AS n_tr, SUM(in_va) AS n_va, SUM(in_te) AS n_te,
         SUM(in_tr * in_va) AS tr_va, SUM(in_tr * in_te) AS tr_te,
         SUM(in_va * in_te) AS va_te
  FROM f
)
SELECT pair,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(shared AS BIGINT) AS n_shared,
       CAST(ROUND(CAST(100.0 * shared / LEAST(n_a, n_b)
            AS DECIMAL(28,10)), 2) AS DOUBLE) AS leak_pct
FROM (
  SELECT 'train_test' AS pair, n_tr AS n_a, n_te AS n_b, tr_te AS shared FROM m
  UNION ALL
  SELECT 'train_val', n_tr, n_va, tr_va FROM m
  UNION ALL
  SELECT 'val_test', n_va, n_te, va_te FROM m
)
ORDER BY pair
"""


def _q108_grams(hashed: bool):
    """Per-row 5-token shingle array: xxhash64 keys (the registered
    scale form) or raw (t1..t5) structs (the oracle-shaped form the
    parity pytest cross-checks)."""

    def _shingle(i):
        toks = [
            F.element_at("ws", (i + off).cast("int")) for off in range(5)
        ]
        if hashed:
            return F.xxhash64(*toks)
        return F.struct(*[t.alias(f"t{j + 1}") for j, t in enumerate(toks)])

    empty_t = (
        "array<bigint>"
        if hashed
        else "array<struct<t1:string,t2:string,t3:string,t4:string,t5:string>>"
    )
    return F.when(
        F.size("ws") >= 5,
        F.transform(F.sequence(F.lit(1), F.size("ws") - 4), _shingle),
    ).otherwise(F.array().cast(empty_t))


def _q108_split_flags(toks: DataFrame, hashed: bool) -> DataFrame:
    """Per-distinct-shingle split-membership flags (in_tr, in_va, in_te)."""
    lo = (F.col("doc_id") % F.lit(1000003)) * F.lit(2654435761)
    hi = F.expr("doc_id DIV 1000003") * F.lit(40503)
    bucket = (lo + hi) % F.lit(1000)
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return (
        toks.select(split.alias("split"), F.explode(_q108_grams(hashed)).alias("g"))
        .groupBy("g")
        .agg(
            F.max((F.col("split") == "train").cast("int")).alias("in_tr"),
            F.max((F.col("split") == "val").cast("int")).alias("in_va"),
            F.max((F.col("split") == "test").cast("int")).alias("in_te"),
        )
    )


@query("q108_split_leakage", oracle=_Q108_ORACLE)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 5-gram overlap between the q43 train/val/test splits."""
    toks = load_doc_tokens(spark, sf_dir)
    flags = _q108_split_flags(toks, hashed=True)
    m = flags.agg(
        F.sum("in_tr").alias("n_tr"),
        F.sum("in_va").alias("n_va"),
        F.sum("in_te").alias("n_te"),
        F.sum(F.col("in_tr") * F.col("in_va")).alias("tr_va"),
        F.sum(F.col("in_tr") * F.col("in_te")).alias("tr_te"),
        F.sum(F.col("in_va") * F.col("in_te")).alias("va_te"),
    )
    pairs = m.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("train_test").alias("pair"),
                    F.col("n_tr").alias("n_a"),
                    F.col("n_te").alias("n_b"),
                    F.col("tr_te").alias("shared"),
                ),
                F.struct(
                    F.lit("train_val").alias("pair"),
                    F.col("n_tr").alias("n_a"),
                    F.col("n_va").alias("n_b"),
                    F.col("tr_va").alias("shared"),
                ),
                F.struct(
                    F.lit("val_test").alias("pair"),
                    F.col("n_va").alias("n_a"),
                    F.col("n_te").alias("n_b"),
                    F.col("va_te").alias("shared"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return pairs.select(
        "pair",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("shared").cast("long").alias("n_shared"),
        dec2(
            F.lit(100.0) * F.col("shared") / F.least("n_a", "n_b")
        ).alias("leak_pct"),
    ).transform(small_result_order, "pair")


# ---------------------------------------------------------------------------
# q109 — source-mix divergence monitor: per-source KL divergence of
# the token distribution against the corpus mixture, restricted to the
# top-200 global tokens (deterministic cutoff: count desc, token asc)
# — the domain-mix dashboard a training-data pipeline watches when new
# crawl sources land. KL(p_src ‖ m) = Σ p·ln(p/m) over tokens the
# source emits (absent tokens contribute 0; m > 0 by construction of
# the global-top cut), plus the source's coverage of the top set.
# Determinism: p and m are ratios of exact integer counts, the ln()
# per-term cross-engine skew is ≤1 ulp on identical doubles, and dec2
# absorbs the 200-term sum-order wobble (the q51 discipline).
# Scale shape (r8, VERDICT r7 item 3): the top-200 (token, count)
# table is a deterministic 200-row result — it is COLLECTED at
# construction (the collect-tiny-winners discipline q58/q62/q100/q105
# established: Spark has no cross-DAG subtree reuse, so keeping it
# declarative re-executed the corpus-wide token explode twice per run)
# and re-enters the registered plan as literals: an InSet membership
# filter on the exploded stream (hash-set probe, no join) and a
# 200-entry literal lookup attached AFTER the (source, token) agg —
# the lookup runs on ≤|sources|·200 rows, never on the corpus. The
# per-source token totals are the same class of result — a
# deterministic frame bounded by the |sources| dimension (the query's
# own output cardinality) — so they are collected in the same
# construction pass; kept declarative, the tot subtree re-executed
# 3× through its gtot / mixture-join / output-spine references
# (measured: 4 corpus scans where 1 suffices — no cross-DAG subtree
# reuse). The registered plan is therefore ONE corpus scan + ONE
# Generate (pinned in tests/test_plan_audit.py), with the |sources|
# output spine built from literal rows (the q105 winner-row pattern).
# ---------------------------------------------------------------------------

_Q109_TOP = 200
#: deterministic doc_id-hash sample the reference token SET is
#: selected from (q110's tokenizer-training discipline, VERDICT r8
#: item 6): selection is sampled, every reported VALUE stays exact.
_Q109_SAMPLE_MOD = 20

_Q109_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, source,
         regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ws
  FROM documents
), tot AS (
  SELECT source, SUM(len(ws)) AS n_tok FROM d GROUP BY source
), st AS (
  SELECT unnest(ws) AS token FROM d WHERE doc_id % {_Q109_SAMPLE_MOD} = 0
), top AS (
  SELECT token FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rnk
    FROM st GROUP BY token
  ) WHERE rnk <= {_Q109_TOP}
), t AS (
  SELECT source, unnest(ws) AS token FROM d
), gtot AS (
  SELECT SUM(n_tok) * 1.0 AS n FROM tot
), sc AS (
  SELECT t.source, t.token, COUNT(*) AS cnt
  FROM t JOIN top USING (token)
  GROUP BY t.source, t.token
), sg AS (
  SELECT source, token, cnt,
         SUM(cnt) OVER (PARTITION BY token) AS gcnt
  FROM sc
), kl AS (
  SELECT sg.source,
         SUM((sg.cnt * 1.0 / tot.n_tok)
             * LN((sg.cnt * 1.0 / tot.n_tok) / (sg.gcnt / gtot.n))) AS kl,
         COUNT(*) AS n_top_present,
         SUM(sg.cnt) AS n_top_tokens
  FROM sg
  JOIN tot USING (source)
  CROSS JOIN gtot
  GROUP BY sg.source
)
SELECT tot.source,
       CAST(tot.n_tok AS BIGINT) AS n_tokens,
       CAST(COALESCE(kl.n_top_present, 0) AS BIGINT) AS n_top_present,
       CAST(ROUND(CAST(100.0 * COALESCE(kl.n_top_tokens, 0) / tot.n_tok
            AS DECIMAL(28,10)), 2) AS DOUBLE) AS top_coverage_pct,
       CAST(ROUND(CAST(COALESCE(kl.kl, 0.0) AS DECIMAL(28,10)), 2) AS DOUBLE)
         AS kl_vs_mixture
FROM tot LEFT JOIN kl USING (source)
ORDER BY source
"""


@query("q109_source_mix_divergence", oracle=_Q109_ORACLE)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence vs the corpus mixture (top-200 tokens).

    Construction bill (VERDICT r8 item 6): the reference token SET is
    selected from the deterministic 5% doc_id-hash sample — the
    deployment shape (the reference set is computed once on a sample;
    the divergence runs on everything) — so the construction collect
    explodes 5% of the corpus, not all of it. Every reported VALUE
    stays exact: the per-(source, token) counts come from the full
    registered explode, and the global token counts the mixture needs
    are their in-plan window sum over the ≤|sources|·200-row post-agg
    frame — no full-corpus construction count, no literal-map drift.
    The sampled-vs-full selection identity at the contract sf is
    pinned by test_q109_sampled_top_selection_matches_full.
    """
    from cdc_example_spark.functions import text as T

    # tokens WITH their source dimension in one scan — never a
    # documents⨝documents doc_id join just to re-attach a column the
    # same row already carries.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", T.words(F.lower(F.col("text"))).alias("ws")
    )
    tot = toks.groupBy("source").agg(
        F.sum(F.size("ws")).alias("n_tok")
    )
    t = toks.select("source", F.explode("ws").alias("token"))
    # Deterministic 200-row token SET (sample count desc, token asc),
    # collected at construction from the 5% sample: the registered
    # plan sees it only as an InSet literal, so the full corpus-wide
    # explode runs exactly once per execution — and the construction
    # scan is sample-sized.
    top_rows = (
        toks.filter(F.col("doc_id") % _Q109_SAMPLE_MOD == 0)
        .select(F.explode("ws").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("scnt"))
        .orderBy(F.col("scnt").desc(), "token")
        .limit(_Q109_TOP)
        .collect()
    )
    top_tokens = [r["token"] for r in top_rows]
    # Per-source token totals: deterministic, bounded by the |sources|
    # output dimension — collected in the same construction pass so the
    # n_tok / gtot / output-spine references cost zero extra scans.
    tot_rows = sorted(
        tot.collect(), key=lambda r: r["source"]
    )
    if not tot_rows:
        # empty corpus: the pre-r8 declarative shape returned an empty
        # result; the literal spine must too, not raise (ADVICE r8).
        return local_frame(
            spark,
            [],
            "source string, n_tokens long, n_top_present long, "
            "top_coverage_pct double, kl_vs_mixture double",
        )
    n_tok_map = F.create_map(
        *[
            lit
            for r in tot_rows
            for lit in (F.lit(r["source"]), F.lit(int(r["n_tok"])))
        ]
    )
    gtot = float(sum(int(r["n_tok"]) for r in tot_rows))
    sc = (
        # InSet hash-probe membership filter (200 literals, no join) on
        # the one exploded stream; gcnt is the exact global count —
        # the window sum over the ≤|sources|·200-row post-agg frame —
        # and n_tok attaches via the literal map AFTER the agg.
        t.filter(F.col("token").isin(top_tokens))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("gcnt", F.sum("cnt").over(Window.partitionBy("token")))
        .withColumn("n_tok", n_tok_map[F.col("source")])
    )
    kl = (
        sc.withColumn("p", F.col("cnt").cast("double") / F.col("n_tok"))
        .withColumn("m", F.col("gcnt").cast("double") / F.lit(gtot))
        .groupBy("source")
        .agg(
            F.sum(F.col("p") * F.log(F.col("p") / F.col("m"))).alias("kl"),
            F.count(F.lit(1)).alias("n_top_present"),
            F.sum("cnt").alias("n_top_tokens"),
        )
    )
    # |sources| output spine from the collected totals
    spine = local_frame(
        spark,
        [(r["source"], int(r["n_tok"])) for r in tot_rows],
        "source string, n_tok long",
    )
    return (
        spine.join(kl.withColumnRenamed("source", "_s2"),
                   F.col("source") == F.col("_s2"), "left")
        .select(
            "source",
            F.col("n_tok").cast("long").alias("n_tokens"),
            F.coalesce("n_top_present", F.lit(0)).cast("long").alias("n_top_present"),
            dec2(
                F.lit(100.0) * F.coalesce("n_top_tokens", F.lit(0)) / F.col("n_tok")
            ).alias("top_coverage_pct"),
            dec2(F.coalesce("kl", F.lit(0.0))).alias("kl_vs_mixture"),
        )
        .transform(small_result_order, "source")
    )


# ---------------------------------------------------------------------------
# q111 — temperature-scaled source-mix re-weighting planner: the
# PLANNING half that q109's divergence monitor watches the output of.
# Given the per-source token inventory, compute the temperature-scaled
# target mixture w_s ∝ p_s^τ (τ=0.7 — the standard down-weighting of
# dominant crawl sources when composing a training mix) and, for a
# token budget B = 50% of the corpus, each source's sampling rate
# w_s·B / n_s — rate > 1 means the source repeats (epochs), rate < 1
# means it is subsampled. Output is one row per source.
# Determinism: p_s are ratios of exact integer counts (identical
# doubles on both engines); POWER/ln-class libm skew is ≤1 ulp on
# identical inputs and dec2 absorbs it (the q51 discipline); the
# |sources|-term normalization sums wobble below the dec2 grid.
# Scale shape: ONE column-pruned scan (sizes only — no explode, no
# text shuffle) into a |sources|-row agg; the two global sums ride
# unpartitioned windows over that DIMENSION-sized frame (single-
# partition exchange on ≤|sources| rows — the small_result_order
# class), never a second corpus subtree.
# ---------------------------------------------------------------------------

_Q111_TAU = 0.7
_Q111_BUDGET_FRAC = 0.5

_Q111_ORACLE = rf"""
WITH d AS (
  SELECT source, len(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS n
  FROM documents
), tot AS (
  SELECT source, SUM(n) AS n_tok FROM d GROUP BY source
), x AS (
  SELECT source, n_tok,
         n_tok * 1.0 / SUM(n_tok) OVER () AS p,
         POWER(n_tok * 1.0 / SUM(n_tok) OVER (), {_Q111_TAU}) AS pw,
         SUM(n_tok) OVER () * 1.0 AS n
  FROM tot
), y AS (
  SELECT source, n_tok, p, n, pw / SUM(pw) OVER () AS wgt FROM x
)
SELECT source,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(ROUND(CAST(100.0 * p AS DECIMAL(28,10)), 2) AS DOUBLE) AS nat_share_pct,
       CAST(ROUND(CAST(100.0 * wgt AS DECIMAL(28,10)), 2) AS DOUBLE) AS temp_share_pct,
       CAST(ROUND(CAST(wgt * {_Q111_BUDGET_FRAC} * n / n_tok
            AS DECIMAL(28,10)), 2) AS DOUBLE) AS sample_rate
FROM y
ORDER BY source
"""


@query("q111_mixture_reweight_plan", oracle=_Q111_ORACLE)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (τ=0.7) source-mix plan for a 50%-of-corpus
    token budget: target shares and per-source sampling rates."""
    from cdc_example_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    tot = (
        docs.select(
            "source", F.size(T.words(F.lower(F.col("text")))).alias("n")
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_tok"))
    )
    w = Window.partitionBy()
    x = (
        tot.withColumn("n", F.sum("n_tok").over(w).cast("double"))
        .withColumn("p", F.col("n_tok") / F.col("n"))
        .withColumn("pw", F.pow(F.col("p"), F.lit(_Q111_TAU)))
    )
    y = x.withColumn("wgt", F.col("pw") / F.sum("pw").over(w))
    return y.select(
        "source",
        F.col("n_tok").cast("long").alias("n_tokens"),
        dec2(F.lit(100.0) * F.col("p")).alias("nat_share_pct"),
        dec2(F.lit(100.0) * F.col("wgt")).alias("temp_share_pct"),
        dec2(
            F.col("wgt") * F.lit(_Q111_BUDGET_FRAC) * F.col("n") / F.col("n_tok")
        ).alias("sample_rate"),
    ).transform(small_result_order, "source")


# ---------------------------------------------------------------------------
# q116 — ANN index-health monitor (VERDICT r10 item 6): the q91 PSI
# discipline tied to the persisted IVF2 layout itself. The index's
# cell assignments ARE the monitored distribution: reference = the
# training-era sub-population (vec_id < 250 — the snapshot the
# centroids were trained against), current = everything the index
# holds now; per-cell occupancy over the FULL k1 × k2 universe (a
# dead cell must surface as a row, so the universe is enumerated,
# never grouped-from-data), Laplace-smoothed PSI with integer-
# arithmetic occupancy flags, and a retrain_due line at the
# conventional 0.2. At scale the monitor reads only the layout's
# partition columns + the id (no vector data), partial-aggs to
# k1·k2 rows, and everything downstream is cell-bounded — its cost
# is a metadata-sized scan regardless of corpus size
# (operators/index_health.py). Oracle: the pinned sf0.01 coarse+fine
# centroid literals (queries/q102_ivf2_sf001.py) replay the two-level
# assignment as window SQL (the q102 discipline), then the
# universe/count/PSI arithmetic verbatim. Registered OUTSIDE the r11
# driver window (rotation cap) — the q113/q114 precedent: pytest +
# local-harness oracle parity now, driver row when the rotation
# allows (r12).
# ---------------------------------------------------------------------------


def _q116_oracle() -> str:
    from cdc_example_spark.queries.q102_ivf2_sf001 import (
        COARSE_SF001,
        FINES_SF001,
    )

    # the universe's fine bound is the LARGEST per-cell fine count —
    # train_ivf2_local trains fewer centroids in small coarse cells
    # (min 1), so cell 0's count under-declares the layout at shard
    # scales (the shape guard caught exactly this at the k=100 shard,
    # r12); at the sf0.01 contract tier every cell is full (3/3/3) so
    # this is hash-identical to the former fines[0] derivation
    n1, n2 = len(COARSE_SF001), max(len(cell) for cell in FINES_SF001)
    n_cells = n1 * n2
    coarse_values = ",\n        ".join(
        "({}, [{}]::DOUBLE[])".format(c, ", ".join(repr(x) for x in cv))
        for c, cv in enumerate(COARSE_SF001)
    )
    fine_values = ",\n        ".join(
        "({}, {}, [{}]::DOUBLE[])".format(c, f, ", ".join(repr(x) for x in fv))
        for c, cell in enumerate(FINES_SF001)
        for f, fv in enumerate(cell)
    )
    return f"""
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
  SELECT vec_id, c1, ffid AS f1 FROM (
    SELECT a1.vec_id, a1.c1, f.ffid,
           ROW_NUMBER() OVER (PARTITION BY a1.vec_id
                              ORDER BY list_inner_product(a1.v, f.fv) DESC, f.ffid) AS rn
    FROM a1 JOIN fine f ON f.fcid = a1.c1) WHERE rn = 1
), cells AS (
  SELECT CAST(r // {n2} AS INTEGER) AS coarse,
         CAST(r % {n2} AS INTEGER) AS fine
  FROM range({n_cells}) t(r)
), cnt AS (
  SELECT c1 AS coarse, f1 AS fine,
         CAST(COUNT(*) AS BIGINT) AS n_cur,
         CAST(SUM(CASE WHEN vec_id < 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref
  FROM cand GROUP BY 1, 2
), j AS (
  SELECT cells.coarse, cells.fine,
         CAST(COALESCE(cnt.n_ref, 0) AS BIGINT) AS n_ref,
         CAST(COALESCE(cnt.n_cur, 0) AS BIGINT) AS n_cur
  FROM cells LEFT JOIN cnt USING (coarse, fine)
), p AS (
  SELECT coarse, fine, n_ref, n_cur,
         (n_ref + 0.5) / (SUM(n_ref) OVER () + {n_cells} * 0.5) AS pr,
         (n_cur + 0.5) / (SUM(n_cur) OVER () + {n_cells} * 0.5) AS pc,
         SUM(n_cur) OVER () AS tc
  FROM j
)
SELECT coarse, fine, n_ref, n_cur,
       CAST(ROUND(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(28,10)), 6)
            AS DOUBLE) AS psi_term,
       CAST(ROUND(CAST(SUM((pc - pr) * ln(pc / pr)) OVER ()
            AS DECIMAL(28,10)), 4) AS DOUBLE) AS psi_total,
       n_cur = 0 AS dead,
       n_cur * {n_cells} > 4 * tc AS overloaded,
       CAST(ROUND(CAST(SUM((pc - pr) * ln(pc / pr)) OVER ()
            AS DECIMAL(28,10)), 4) AS DOUBLE) > 0.2 AS retrain_due
FROM p
ORDER BY coarse, fine
"""


@query("q116_ann_index_health", oracle=_q116_oracle(), oracle_sf="sf0.01")
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell occupancy PSI of the persisted IVF2 index vs its
    training-era population; retrain flag at PSI > 0.2.

    Shape note (VERDICT r12 item 3, MEASURED r13): splitting the count
    frame — footer-priced count(*) for n_cur + a filtered second scan
    for n_ref — was value-identical but 2.9× SLOWER at the k=100 shard
    (interleaved p50 3.73 s vs 1.30 s): ivf2_shape_for keeps cells
    ~TARGET_CELL_SIZE at any corpus, so the layout is MANY SMALL FILES
    and the monitor is file-open-bound, not column-bound — two passes
    lose to one regardless of column pruning. q116 therefore keeps the
    single-scan shape (its era predicate forces reading vec_id from
    every file anyway); the STREAMING monitor, whose reference side
    comes from persisted meta and needs no data scan at all, is where
    the footer pricing wins and lives (footer_cell_counts: one-pass
    A/B at k=100 p50 0.55 s vs 0.76 s — SCALE.md §4b-r13)."""
    from cdc_example_spark.operators.index_health import ivf_occupancy_psi
    from cdc_example_spark.queries.llm import trained_ivf2

    coarse, fines, path = trained_ivf2(spark, sf_dir)
    idx = spark.read.parquet(path).select("vec_id", "coarse", "fine")
    return ivf_occupancy_psi(
        idx,
        F.col("vec_id") < 250,
        n_coarse=len(coarse),
        # max, not fines[0]: small coarse cells train fewer fine
        # centroids, so the first cell under-declares the universe at
        # shard scales — the r12 shape-guard catch (oracle twin above)
        n_fine=max(len(cell) for cell in fines),
    )
