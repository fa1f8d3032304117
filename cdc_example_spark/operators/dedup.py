"""Deduplication operators: exact, MinHash+LSH, SimHash, shingle-Jaccard.

Scale shapes (the whole point of each variant):

- exact: shuffle 32-byte content hashes, never the documents.
- MinHash signature: pure per-row array expressions (no explode, no
  shuffle) → k-integer signature per doc.
- LSH banding: k/r band keys per doc (constant factor), shuffle 8-byte
  band hashes, group into buckets, generate pairs inside each bucket —
  candidate pairs ∝ true near-dups, not |docs|².
- SimHash: per-row 32-bit sketch; near-dup test is a cheap
  bit_count(xor) over candidate pairs.
- exact shingle-Jaccard: the verification oracle for the approximate
  paths (quadratic in bucket size — run it on LSH candidates only).

MinHash runs over the SAME 3-word shingles the exact Jaccard oracle
uses, not unigrams: corpora full of reordered copies have near-identical
word SETS, so unigram MinHash saturates (measured: 1.97M candidates
from 5k docs at sf0.1 where the shingle measure has 79 true pairs ≥0.8 —
shingle MinHash at b=4,r=3 yields 573 candidates at recall 1.0).

All JVM-side higher-order functions; the deterministic polynomial word
fingerprint (functions.text.word_fingerprint) keeps every hash
reproducible in plain SQL on any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_example_spark.functions import text as T

#: MinHash modulus and deterministic per-permutation coefficients.
MINHASH_P = 1_000_000_007


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """(a_i, b_i) for h_i(x) = (a_i·x + b_i) mod P — fixed, documented,
    reproducible in the SQL oracle."""
    return [(2 * i + 1, 97 * i + 13) for i in range(num_hashes)]


def _compute_width(df: DataFrame) -> int:
    """Shuffle width for COMPUTE-AMPLIFIED stages (in-bucket pair
    explosion, per-candidate Levenshtein DP).

    The session's shuffle width tracks input bytes (session.py
    scale_profile: ~one reducer per 8 MB), which is right for scans and
    aggregations but starves stages whose work is proportional to
    CANDIDATE PAIRS — quadratic in bucket occupancy, orders of
    magnitude past the input rows (measured at sf0.1: q113 verifies
    1.12 M candidates from 5 k docs; the 4-wide verify ran 14.4 s vs
    5.9 s at the core count, guide §2.2/§2.5). Use every slot the
    session has: max(spark.sql.shuffle.partitions, defaultParallelism)
    — identical to the plain shuffle width on a cluster whose width
    already covers its cores, the full core count under the byte-
    derived small profile. Session-derived, never a constant."""
    spark = df.sparkSession
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )


def exact_dedup(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-key row per normalized content hash."""
    w = Window.partitionBy(T.content_hash(F.col(text_col))).orderBy(key_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def word_fp_set(text: Column) -> Column:
    """Distinct polynomial fingerprints of the document's tokens."""
    return F.array_distinct(F.transform(T.words(F.lower(text)), T.word_fingerprint))


def minhash_signature(text: Column, num_hashes: int = 8) -> Column:
    """k-wise-independent-ish MinHash signature as array<long>.

    No shuffle, no Python: transform+array_min over the token
    fingerprint set. Empty docs get P (sentinel > any hash).
    """
    fps = word_fp_set(text)

    def perm(a: int, b: int):
        return lambda f: (a * f + b) % F.lit(MINHASH_P)

    mins = [
        F.coalesce(F.array_min(F.transform(fps, perm(a, b))), F.lit(MINHASH_P))
        for a, b in minhash_coeffs(num_hashes)
    ]
    return F.array(*mins)


def token_fp_rows(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
    tokens_col: str | None = None,
) -> DataFrame:
    """Exploded distinct token fingerprints: one (key, fp) row per token.

    The nested transform/fold expression is evaluated exactly ONCE per
    document inside the Generate node — downstream sketches aggregate
    plain longs. (Referencing ``word_fp_set`` from N sibling expressions
    instead would make Catalyst's project-collapse duplicate the whole
    tokenize+fold tree N times — 30× slower measured at sf0.1.)
    """
    fps = (
        F.array_distinct(F.transform(F.col(tokens_col), T.word_fingerprint))
        if tokens_col  # pre-tokenized view (catalog.load_doc_tokens)
        else word_fp_set(F.col(text_col))
    )
    return df.select(
        F.col(key_col),
        *[F.col(c) for c in extra_cols],
        F.explode(fps).alias("fp"),
    )


def shingle_fp_rows(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle: int = 3,
    extra_cols: tuple[str, ...] = (),
    tokens_col: str | None = None,
) -> DataFrame:
    """Exploded distinct ``shingle``-word fingerprints per document.

    A shingle's fingerprint composes the per-word fingerprints with the
    same base-31 polynomial fold the word hash itself uses —
    ``((fp_i·31 + fp_{i+1})·31 + fp_{i+2}) mod P`` — so the SQL oracle
    reproduces it from the word-fingerprint list without re-scanning
    characters.

    The word-fingerprint array is materialized as a real column in its
    own Project BEFORE the shingle expression references it ``shingle``
    times. One fused expression would re-evaluate the whole char-fold
    tree per lambda reference (measured: 51 s vs 0.7 s at sf0.1) —
    CollapseProject leaves the split alone because the alias is
    non-cheap and multiply referenced.

    Docs with fewer than ``shingle`` words yield no rows (mirrors the
    exact-Jaccard oracle, whose shingle set is empty for them).
    """
    ws = F.col(tokens_col) if tokens_col else T.words(F.lower(F.col(text_col)))
    wfps = df.select(
        F.col(key_col),
        *[F.col(c) for c in extra_cols],
        F.transform(ws, T.word_fingerprint).alias("_wfps"),
    )
    arr = F.col("_wfps")

    def shingle_fp(i: Column) -> Column:
        acc = F.element_at(arr, i)
        for j in range(1, shingle):
            acc = (acc * 31 + F.element_at(arr, i + j)) % F.lit(MINHASH_P)
        return acc

    shingles = F.when(
        F.size(arr) >= shingle,
        F.transform(F.sequence(F.lit(1), F.size(arr) - (shingle - 1)), shingle_fp),
    ).otherwise(F.array().cast("array<bigint>"))
    return wfps.select(
        F.col(key_col),
        *[F.col(c) for c in extra_cols],
        F.explode(F.array_distinct(shingles)).alias("fp"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle: int = 3,
    group_cols: tuple[str, ...] = (),
    max_bucket: int | None = None,
    tokens_col: str | None = None,
    pair_width: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs (key_1 < key_2, distinct).

    Signatures are MinHashes of the document's ``shingle``-word
    fingerprint set (the same measure the exact Jaccard oracle
    computes); defaults b=4 × r=3 put the S-curve midpoint near
    J≈0.63 — P[candidate] = 1−(1−J³)⁴ ≈ 0.94 at J=0.8.

    Shape for scale: the signature pipeline runs ONCE (explode →
    partial-agg min), the banded rows shuffle the id + the k-hash
    signature (8·(k+1) bytes), and pairs are generated inside each
    (band, key) bucket from a collected, sorted (id, signature) array
    — a self-join would re-execute the whole signature pipeline for
    both sides (measured 2.7 s vs 0.3 s warm at sf0.1). Each pair is
    emitted from its FIRST matching band only (the simhash_near_pairs
    discipline): earlier-band agreement is a per-pair predicate over
    the carried signatures, so no global distinct() shuffle — measured
    at sf0.1 defaults the explode emits 1.12 M rows instead of 11.4 M
    duplicated ones (10.2×).
    Bucket sizes are bounded by true near-dup cluster sizes, so the
    per-bucket quadratic is the irreducible output size; for corpora
    with pathological boilerplate clusters pass ``max_bucket`` to drop
    buckets above the cap (exact dups should be removed by
    :func:`exact_dedup` first — identical docs bucket together in
    every band).

    ``group_cols`` (e.g. lang) further partition the buckets.
    """
    rows_per_band = num_hashes // bands
    fps = shingle_fp_rows(df, text_col, key_col, shingle, extra_cols=group_cols, tokens_col=tokens_col)
    # F.expr strings, one parse call per expression: building these
    # loops column-op-by-column-op costs ~0.25 s of py4j round trips
    # per query build (measured; identical plans either way).
    aggs = [
        F.expr(f"min(({a} * fp + {b}) % {MINHASH_P}) AS s{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    s_cols = [f"s{i}" for i in range(num_hashes)]
    sig = fps.groupBy(key_col, *group_cols).agg(*aggs)
    entries = []
    for bnd in range(bands):
        key = "CAST(17 AS BIGINT)"
        for r in range(rows_per_band):
            key = f"(({key} * 31 + s{bnd * rows_per_band + r}) % {MINHASH_P})"
        entries.append(F.expr(f"struct({bnd} AS band, {key} AS key)"))
    # The banded rows carry the FULL signature (s0..s{k-1}, 8 B each)
    # through the bucket exchange, not just the 8-byte band key: each
    # pair is then emitted from its FIRST matching band only (the
    # simhash_near_pairs discipline) — "did an earlier band also
    # match?" is a plain per-pair predicate over the carried
    # signatures, replacing a global distinct() that shuffled every
    # duplicate. Measured at sf0.1 defaults: 11.40 M exploded pair
    # rows collapse to the 1.12 M distinct candidates (10.2×), and the
    # distinct exchange disappears from the plan (guide §2.3/§2.4 —
    # shuffle metadata, remove shuffles outright).
    banded = sig.select(
        F.col(key_col).alias("k"),
        *[F.col(c) for c in group_cols],
        *s_cols,
        F.explode(F.array(*entries)).alias("bk"),
    ).select(
        "k", *group_cols, *s_cols,
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    # ``pair_width`` sizes the one exchange the bucket groupBy needs.
    # When a caller's downstream pays heavy PER-PAIR work inside these
    # stages' lineage (q113's banded-Levenshtein verify), it passes
    # _compute_width so the explosion is planned core-wide; repartition
    # on the exact grouping keys REPLACES the agg's own exchange (still
    # one shuffle, pinned by the q32 single-scan plan audit). Default
    # None keeps the agg's own byte-derived session width: for a
    # candidates-only consumer (q32) the explode emits pair IDS with no
    # per-pair DP, and an r14 interleaved A/B measured the core-wide
    # exchange 18% SLOWER at sf0.1 (0.443 vs 0.364 s — dispatch
    # overhead, the exact q32 regression the r13 driver flagged).
    if pair_width is not None:
        banded = banded.repartition(pair_width, "band", "key", *group_cols)
    buckets = (
        banded.groupBy("band", "key", *group_cols)
        # struct sorts by leading field; k is unique within a bucket
        # (one key per band per doc), so this is the same id-sorted
        # order the id-array collect had.
        .agg(F.array_sort(F.collect_list(F.struct("k", *s_cols))).alias("ks"))
        .filter(F.size("ks") > 1)
    )
    if max_bucket is not None:
        # Under a bucket cap the contract is "pair kept if ANY
        # surviving bucket holds it" — first-match emission can't see
        # whether the earlier bucket survived the cap, so the capped
        # path keeps the explode-then-distinct shape.
        buckets = buckets.filter(F.size("ks") <= max_bucket)
        ks0 = F.col("ks")
        legacy_pairs = F.flatten(
            F.transform(
                ks0,
                lambda x, i: F.transform(
                    F.slice(ks0, i + F.lit(2), F.size(ks0)),
                    lambda y: F.struct(x["k"].alias("k1"), y["k"].alias("k2")),
                ),
            )
        )
        return (
            buckets.select(F.explode(legacy_pairs).alias("p"))
            .select(
                F.col("p.k1").alias(f"{key_col}_1"),
                F.col("p.k2").alias(f"{key_col}_2"),
            )
            .distinct()
        )

    def _band_key(row: Column, bnd: int) -> Column:
        key = F.lit(17).cast("long")
        for r in range(rows_per_band):
            key = (key * 31 + row[f"s{bnd * rows_per_band + r}"]) % F.lit(MINHASH_P)
        return key

    def _first_match(x: Column, y: Column) -> Column:
        # every band EARLIER than this bucket's must disagree, else the
        # pair was already emitted there (mirrors simhash_near_pairs).
        cond = F.lit(True)
        for b2 in range(bands - 1):
            cond = cond & (
                (F.col("band") <= F.lit(b2)) | (_band_key(x, b2) != _band_key(y, b2))
            )
        return cond

    ks = F.col("ks")
    pairs = F.flatten(
        F.transform(
            ks,
            lambda x, i: F.transform(
                F.filter(
                    F.slice(ks, i + F.lit(2), F.size(ks)),
                    lambda y: _first_match(x, y),
                ),
                lambda y: F.struct(x["k"].alias("k1"), y["k"].alias("k2")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.k1").alias(f"{key_col}_1"), F.col("p.k2").alias(f"{key_col}_2"))
    )


def simhash32(text: Column) -> Column:
    """32-bit SimHash over token fingerprints, as a long.

    Per bit: majority vote of the token fingerprints' bit values
    (+1/−1); bit set iff the vote is positive. Bit extraction uses
    floor-div/mod so the SQL oracle can reproduce it verbatim.
    """
    fps = word_fp_set(text)

    def bit_vote(p: float):
        return lambda acc, f: acc + (F.floor(f / F.lit(p)).cast("long") % 2) * 2 - 1

    bit_terms = []
    for bit in range(32):
        vote = F.aggregate(fps, F.lit(0).cast("long"), bit_vote(float(2**bit)))
        bit_terms.append(F.when(vote > 0, F.lit(int(2**bit)).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
    bits: int = 32,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-doc SimHash as a DataFrame — the scale path for :func:`simhash32`.

    Explode token fingerprints once, then one groupBy computing the
    per-bit majority votes as plain sums (partial agg + single shuffle).
    Bit b of fp is ``shiftright(fp, b) & 1`` — identical arithmetic to
    the floor-div/mod form the SQL oracle uses (fps are non-negative).
    Docs whose text is NULL produce no row (same as the SQL oracle's
    UNNEST semantics).
    """
    fps = token_fp_rows(df, text_col, key_col, extra_cols, tokens_col)
    # F.expr strings: one parse call per vote instead of ~6 py4j round
    # trips of Column ops — ~0.4 s less build time per query (measured;
    # identical plans either way).
    votes = [
        F.expr(f"sum((shiftright(fp, {b}) & 1) * 2 - 1) AS _v{b}") for b in range(bits)
    ]
    g = fps.groupBy(key_col, *extra_cols).agg(*votes)
    out = F.expr(
        " + ".join(f"IF(_v{b} > 0, {int(2**b)}L, 0L)" for b in range(bits))
    )
    return g.select(key_col, *extra_cols, out.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 3,
    group_cols: tuple[str, ...] = ("lang",),
    bits: int = 32,
    max_bucket: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """All pairs whose SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding (the classic near-duplicate trick from Manku,
    Jain & Sarma's WWW'07 web-crawl dedup): split the ``bits``-bit
    sketch into ``max_hamming + 1`` disjoint bit-bands — two hashes
    within Hamming distance h differ in at most h bands, so they must
    agree EXACTLY on at least one band. Blocking on (band index, band
    bits) therefore has recall 1.0 — unlike MinHash-LSH banding this
    candidate generation is lossless — and the final ``bit_count(xor)``
    filter removes band-collision false positives.

    Shape for scale (pinned by tests/test_plan_audit.py): the sketch
    pipeline runs ONCE, only (band, band-bits, sketch) longs shuffle,
    and pairs are generated inside each (band, key) bucket. Bucket
    size is bounded by the count of docs sharing ``bits/(h+1)`` exact
    sketch bits within a ``group_cols`` block; ``max_bucket`` caps
    pathological boilerplate clusters (exact dups should be removed by
    :func:`exact_dedup` first — identical docs share every band).

    In-bucket pairing is a SELF-JOIN on the band key whose two sides
    are the IDENTICAL banded-sketch subplan: Spark's ReuseExchange rule
    computes and shuffles that subplan ONCE and both join sides read
    the same shuffle files (plan shows one scan + a ReusedExchange;
    pinned by tests/test_plan_audit.py). The ``merge`` hint is load-
    bearing: with cached-table statistics the planner would otherwise
    pick a broadcast join, which has no exchanges to reuse and
    re-executes the sketch pipeline per side. Candidate filtering
    (``bit_count(xor) <= h``) runs in whole-stage codegen — measured
    ~1.0 s fresh / ~0.1 s warm at sf0.1 vs 2–6 s (with Python-worker
    variance) for an applyInPandas numpy kernel doing the same n×n
    popcount per bucket — and each pair streams straight into the
    consumer with no per-bucket matrix materialization.

    Each pair is emitted from its FIRST matching band only: both sides
    carry the full sketch, so "did an earlier band also match?" is a
    plain column predicate, replacing a global distinct() that would
    shuffle every candidate.
    """
    n_bands = max_hamming + 1
    width = bits // n_bands
    s = simhash_table(
        df, text_col, key_col, extra_cols=tuple(group_cols), bits=bits,
        tokens_col=tokens_col,
    ).select(
        F.col(key_col).alias("k"), *(F.col(c) for c in group_cols), F.col("simhash").alias("sh")
    )

    def band_key(sh_ref: str, b: int) -> str:
        off = b * width
        w_b = bits - off if b == n_bands - 1 else width  # last band takes the remainder
        return f"(shiftright({sh_ref}, {off}) & {(1 << w_b) - 1}L)"

    entries = [F.expr(f"struct({b} AS band, {band_key('sh', b)} AS key)")
               for b in range(n_bands)]
    banded = s.select(
        "k", "sh", *group_cols, F.explode(F.array(*entries)).alias("bk")
    ).select("k", "sh", *group_cols, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        # drop pathological buckets before pairing; the window's
        # partitioning equals the join keys, so both sides still share
        # one (windowed) exchange.
        wb = Window.partitionBy("band", "key", *group_cols)
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )

    a, b_ = banded.alias("a").hint("merge"), banded.alias("b").hint("merge")
    on = [F.col("a.band") == F.col("b.band"), F.col("a.key") == F.col("b.key")]
    on += [F.col(f"a.{c}") == F.col(f"b.{c}") for c in group_cols]
    on.append(F.col("a.k") < F.col("b.k"))
    # first-match: every earlier band must DISAGREE (pair not yet emitted)
    first = " AND ".join(
        f"(a.band <= {b2} OR {band_key('a.sh', b2)} != {band_key('b.sh', b2)})"
        for b2 in range(n_bands - 1)
    )
    return (
        a.join(b_, on)
        .filter(F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= max_hamming)
        .filter(F.expr(first))
        .select(
            F.col("a.k").alias(f"{key_col}_1"),
            F.col("b.k").alias(f"{key_col}_2"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).cast("long").alias("hamming"),
        )
    )


def blocked_levenshtein_pairs(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    len_col: str = "n_chars",
    sig_len: int = 96,
    max_len_diff: int = 24,
    max_dist: int = 12,
) -> DataFrame:
    """Blocked edit-distance fuzzy dedup: near-dup pairs by banded
    Levenshtein over a canonicalized prefix signature.

    The candidate *blocking* is (lang, length band): only pairs in the
    same language whose lengths differ by <= ``max_len_diff`` are
    compared — the standard fuzzy-dedup recall/cost knob, stated rather
    than hidden. Within a block the comparison is Levenshtein distance
    over the first ``sig_len`` chars of the space-joined SORTED token
    list: sorting makes the signature order-insensitive (reordered
    copies land at distance ~0; token-level Jaccard clones at small
    distances), and the bounded prefix caps the DP cost per pair.

    Scale shape — and its honest limit (measured r9):
    - length bands are buckets of width ``max_len_diff``; the probe
      side is exploded to its own bucket ±1 (3 rows/doc, constant), so
      every qualifying pair meets in EXACTLY one (lang, bucket) hash
      join — an equi-join, never a theta-join, and never all-pairs.
    - ``F.levenshtein(l, r, threshold)`` runs the banded O(d·n) DP and
      returns -1 past ``max_dist``, so the per-pair cost is bounded by
      the threshold, not the signature length.
    - BUT the blocking keys are ATTRIBUTES with fixed cardinality
      (langs × occupied length bands): block population grows linearly
      with the corpus, so candidate pairs grow QUADRATICALLY once
      bands saturate — measured at the 10× shard: 307k → ~30M
      candidates, Spark 84 s, DuckDB DNF. Attribute blocking is a
      bounded-block-size tool; the 100 TB tier is
      :func:`lsh_levenshtein_pairs` below — content-derived (LSH)
      candidate generation, whose buckets track near-dup density, with
      this same banded-DP verify.

    Returns (id1, id2, lang, dist) with id1 < id2, dist <= max_dist.
    """
    sig = F.substring(
        F.array_join(F.array_sort(T.words(F.lower(F.col(text_col)))), " "),
        1,
        sig_len,
    )
    b = F.floor(F.col(len_col) / max_len_diff).cast("long")
    d = docs.select(
        F.col(key_col).alias("k"),
        F.col(lang_col).alias("lang"),
        F.col(len_col).cast("long").alias("nc"),
        b.alias("b"),
        sig.alias("sig"),
    )
    left = d.select(
        "lang", "b", F.col("k").alias("id1"),
        F.col("nc").alias("nc1"), F.col("sig").alias("s1"),
    )
    right = d.select(
        "lang",
        F.explode(
            F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1)
        ).alias("b"),
        F.col("k").alias("id2"),
        F.col("nc").alias("nc2"),
        F.col("sig").alias("s2"),
    )
    dist = F.levenshtein(F.col("s1"), F.col("s2"), max_dist)
    # The block join's output stage runs the banded DP once per
    # candidate pair (quadratic in block occupancy) — plan its exchange
    # at _compute_width for the same reason as the LSH tier's verify
    # (replaces the join's own exchange; the probe side follows).
    left = left.repartition(_compute_width(left), "lang", "b")
    return (
        left.join(right, ["lang", "b"])
        .filter(
            (F.col("id1") < F.col("id2"))
            & (F.abs(F.col("nc1") - F.col("nc2")) <= max_len_diff)
        )
        .select(
            "id1", "id2", "lang", dist.cast("long").alias("dist")
        )
        # banded levenshtein reports "past threshold" as -1: exclude it.
        .filter(F.col("dist").between(0, max_dist))
    )


def lsh_levenshtein_pairs(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    sig_len: int = 96,
    max_dist: int = 12,
    num_hashes: int = 12,
    bands: int = 12,
    shingle: int = 2,
    max_bucket: "int | None" = None,
    verify_join: str = "merge",
) -> DataFrame:
    """Fuzzy dedup at corpus scale: LSH candidates → banded-DP verify.

    The 100 TB tier of :func:`blocked_levenshtein_pairs` (r9): its
    attribute blocking saturates — fixed (lang, length-band)
    cardinality means candidates grow quadratically with the corpus.
    Here candidate generation is CONTENT-derived MinHash-LSH
    (:func:`lsh_candidate_pairs`, lang-scoped buckets): bucket sizes
    track true near-dup cluster density, not corpus size, so the
    quadratic is confined to the irreducible output. Each candidate
    then pays exactly one threshold-banded Levenshtein over the same
    sorted-token prefix signature the attribute tier verifies with.

    Recall is the LSH S-curve on SIG-shingle Jaccard, a DECLARED knob
    (defaults b=12×r=1 ⇒ P[candidate] = 1−(1−J)¹²). Measured against
    the attribute tier's exhaustive-in-block truth at the contract
    sfs (tests/test_frequency_fuzzy.py): recall 1.0 for every pair at
    dist ≤ 2/3 of the threshold, 0.71–0.92 overall — the misses sit
    AT the threshold edge, where ``max_dist`` char edits across a
    short-word signature disturb essentially every shingle (J → 0);
    no shingle scheme can see those, and at dist≈sig-word-count the
    "near-dup" claim itself is marginal. Distances on proposed pairs
    are exact and identical between tiers. Unlike the attribute tier,
    no length-band constraint applies: qualifying pairs the band
    split misses ARE found here (16 such at sf0.01), so the recall
    profiles differ in both directions by declared design.

    Returns (id1, id2, lang, dist) with id1 < id2, dist <= max_dist.
    """
    # Catalyst silently ignores unrecognized hint names (a warning,
    # not an error), so a typo'd verify_join would quietly revert to
    # estimate-driven planning — the exact broadcast-timeout failure
    # mode the hint exists to prevent. Fail loudly instead.
    allowed = {"merge", "shuffle_merge", "merge_join", "shuffle_hash"}
    if verify_join not in allowed:
        raise ValueError(
            f"verify_join={verify_join!r} is not a recognized shuffle-join "
            f"hint; expected one of {sorted(allowed)}"
        )
    sig = F.substring(
        F.array_join(F.array_sort(T.words(F.lower(F.col(text_col)))), " "),
        1,
        sig_len,
    )
    # LSH over shingles OF THE SIGNATURE, not of the raw document: the
    # verify measure is edit distance on the sorted-token prefix, and
    # d ≤ max_dist edits disturb at most ~d of its word shingles — so
    # sig-shingle Jaccard is provably high for every qualifying pair,
    # where raw-document Jaccard need not be (measured: recall 0.43 vs
    # 1.0 at the contract sfs). Aligning the candidate measure with
    # the verify measure IS the design rule here.
    with_sig_words = docs.withColumn("_sigws", F.split(F.trim(sig), " "))
    cands = lsh_candidate_pairs(
        with_sig_words,
        text_col=text_col,
        key_col=key_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle=shingle,
        group_cols=(lang_col,),
        max_bucket=max_bucket,
        tokens_col="_sigws",
        # the explosion feeds a per-pair banded-DP verify: plan it
        # core-wide (see pair_width note in lsh_candidate_pairs)
        pair_width=_compute_width(with_sig_words),
    )
    sigs = docs.select(
        F.col(key_col).alias("_k"),
        F.col(lang_col).alias("lang"),
        sig.alias("_sig"),
    )
    k1, k2 = f"{key_col}_1", f"{key_col}_2"
    # The verify lookups MUST be shuffle joins: both sides grow with
    # the corpus — sigs is corpus-sized and cands is output-sized — so
    # neither may broadcast. Left to its estimates, Catalyst broadcast
    # BOTH at the 10× shard: the post-aggregate candidate subtree
    # estimates tiny and became a BuildLeft whose whole shingle/
    # minhash/band pipeline executed inside the broadcast thread
    # (spark.sql.broadcastTimeout abort at 300 s — caught by
    # scripts/bench_scaling.py r10), and the sigs projection broadcast
    # a full corpus column. Default "merge": sort-merge on the 8-byte
    # id keys spills gracefully at ANY size and skew — the sorted row
    # is (id, lang, sig<=96 chars), never the document text.
    # "shuffle_hash" measures ~16% faster at sf0.1 (interleaved
    # same-process A/B, 5 samples: SHJ 8.63 s vs SMJ 10.22 s median)
    # but builds its per-partition hash map unspillably — a deployment
    # that has sized its shuffle width for the corpus can opt in.
    # Each candidate pays a threshold-banded Levenshtein DP
    # (O(max_dist·sig_len) ≈ 2.4 k char cells at the defaults) inside
    # the verify-join stages — compute-amplified work, so both join
    # exchanges are planned at _compute_width: repartitioning the probe
    # side on the join key REPLACES the exchange the shuffle join would
    # plan anyway (the sigs side follows to match), still exactly two
    # shuffle joins (pinned by the q113 plan audit). Measured at sf0.1:
    # 14.4 s → 5.9 s on the 1.12 M-candidate verify (guide §2.2).
    # The two lookups project the IDENTICAL (id, lang, sig) subplan —
    # same columns, same aliases — so their shuffles canonicalize equal
    # and ReuseExchange computes the corpus sig pass (tokenize →
    # array_sort → join → substring) and its exchange ONCE; the second
    # join reads the same shuffle files (the simhash_near_pairs trick).
    # The per-side renames happen AFTER each join instead of inside the
    # sig projection, which is what used to make the subtrees differ.
    width = _compute_width(cands)
    side_a = sigs.hint(verify_join).alias("sA")
    side_b = sigs.hint(verify_join).alias("sB")
    probe = (
        cands.repartition(width, F.col(k1))
        .join(side_a, F.col(k1) == F.col("sA._k"))
        # lang is read from BOTH sides (coalesce — candidates are
        # lang-scoped buckets, so the sides agree by construction):
        # taking it from one side only lets column pruning strip it
        # from the other projection, which un-cannibalizes the two
        # subtrees and kills the exchange reuse.
        .select(k1, k2, F.col("sA.lang").alias("_langA"), F.col("sA._sig").alias("s1"))
        .repartition(width, F.col(k2))
        .alias("pj")
    )
    j = probe.join(side_b, F.col(k2) == F.col("sB._k"))
    dist = F.levenshtein(F.col("pj.s1"), F.col("sB._sig"), max_dist)
    return (
        j.select(
            F.col(f"pj.{k1}").alias("id1"),
            F.col(f"pj.{k2}").alias("id2"),
            F.coalesce(F.col("pj._langA"), F.col("sB.lang")).alias("lang"),
            dist.cast("long").alias("dist"),
        )
        .filter(F.col("dist").between(0, max_dist))
    )


def segment_dedup_stats(
    toks: DataFrame, seg_len: int = 16, tokens_col: str = "ws"
) -> DataFrame:
    """Per-document cross-corpus SEGMENT dedup audit (C4/RefinedWeb
    span-removal at fixed ``seg_len``-token chunk granularity).

    Input: one row per document carrying ``doc_id`` plus a token-array
    column; every other input column is carried through to the output.
    Each document explodes into its non-overlapping ``seg_len``-token
    segments (the trailing partial chunk counts as a segment); the
    FIRST corpus-wide occurrence of each distinct segment — ordered by
    (doc_id, position), a deterministic survivorship rule — is "kept",
    every later occurrence (including repeats within one document) is
    a dropped duplicate span.

    Output: (carried columns..., n_segs, n_kept) per document.

    Scale shape: segments cross the single segment-shuffle as their
    sha2-256 — 32-byte keys, never segment text (the exact-dedup
    discipline); the winner is a row_number window on that hash and
    the stats are partial-aggregated per doc. At 100 TB the segment
    table is corpus-sized but each row is (hash, doc_id, pos, carried
    dims) — the wide text column never leaves the map side.
    """
    if seg_len < 1:
        raise ValueError(f"segment_dedup_stats: seg_len must be >= 1, got {seg_len}")
    carried = [c for c in toks.columns if c != tokens_col]
    nseg = F.floor((F.size(tokens_col) + seg_len - 1) / seg_len)
    # nseg == 0 (empty token array) must yield ZERO segments, but
    # F.sequence(0, -1) defaults to step -1 and returns [0, -1] —
    # two phantom segments that would pollute corpus-wide
    # first-occurrence state. Guard with an explicit empty array.
    seg_texts = F.when(
        F.size(tokens_col) > 0,
        F.transform(
            F.sequence(F.lit(0), (nseg - 1).cast("int")),
            lambda i: F.array_join(
                F.slice(F.col(tokens_col), i * seg_len + 1, seg_len), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = toks.select(
        *carried, F.posexplode(seg_texts).alias("pos", "seg")
    ).select(*carried, "pos", F.sha2("seg", 256).alias("seg_h"))
    w = Window.partitionBy("seg_h").orderBy("doc_id", "pos")
    return (
        segs.withColumn("rn", F.row_number().over(w))
        .groupBy(*carried)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        )
    )
