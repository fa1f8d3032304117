"""Distributed EXACT grouped percentiles: bucket brackets + refinement.

The naive exact algorithm materializes every value of every group in
one place (a per-group sort, or an Arrow transfer into np.percentile).
That is fine while groups fit a task, but the transfer grows linearly
with the fact table: at the 60 M-row scaling shard the pandas path
spends ~20 s moving values.

:func:`grouped_exact_percentiles_bucketed` (q41's operator) computes
the same exact linear-interpolation percentiles (np.percentile / SQL
``percentile_cont`` semantics) in scan-bound distributed passes:

1. **Range pass** — the GLOBAL min/max per column, one row.
2. **Bucket pass** — one scan counts rows per (group, equi-width
   bucket) for every column jointly. A cumsum over each group's
   per-column marginal locates the buckets that hold the floor/ceil
   order statistics of every requested quantile. The counts are exact,
   so the located buckets are too; no sketch error budget is involved.
   Each (column, quantile) pair's bracket is the GLOBAL bucket range
   over groups, and each group is anchored at its exact count of
   values below that range.
3. **Refinement** — one more scan emits only the values inside the
   bracket range into a (value, count) histogram. A window cumsum on
   it locates the floor/ceil values and the standard interpolation
   ``v_lo + frac·(v_hi − v_lo)`` finishes on a handful of rows.

No value stream ever leaves the executors, and the per-row passes
carry no hash join — only 1-row broadcasts. A NULL group key is an
ordinary grouping value everywhere. NULLs are excluded (SQL percentile
semantics); rank arithmetic uses each column's non-null count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _locate_and_interpolate(
    carriers: DataFrame, hist: DataFrame, pairs, g: str
) -> DataFrame:
    """Locate the floor/ceil order statistics on the tiny in-bracket
    histogram and linearly interpolate.

    carrier rows (hv NULL, cnt 0) sort first in each (g, t) run and
    contribute nothing to the cumsum; a same-partition window spreads
    their counts onto the value rows — no broadcast join, every frame
    below is histogram-sized, and NULL group keys are ordinary
    grouping values throughout (no join, so none has to be null-safe).
    """
    allrows = carriers.unionByName(hist)
    wft = Window.partitionBy(g, "t")
    w = Window.partitionBy(g, "t").orderBy("hv")
    cum = (
        allrows.withColumn("n_lt", F.max("n_lt0").over(wft))
        .withColumn("n", F.max("n0").over(wft))
        .withColumn("C", F.sum("cnt").over(w))
    )
    qcol = F.element_at(F.array(*[F.lit(float(q)) for _, q in pairs]), F.col("t") + 1)
    p = (F.col("n") - 1).cast("double") * qcol
    first_idx = F.col("n_lt") + F.col("C") - F.col("cnt")  # global index of run start
    end_idx = F.col("n_lt") + F.col("C")  # one past run end
    has_lo = (first_idx <= F.floor(p)) & (F.floor(p) < end_idx)
    has_hi = (first_idx <= F.ceil(p)) & (F.ceil(p) < end_idx)
    is_carrier = F.col("hv").isNull()
    # Fail-loud contract: exact bucket counts make a bracket miss
    # impossible by construction — if floor(p)/ceil(p) still falls
    # outside every in-bracket run, that is a bug, and it must surface
    # as an error, not as a silently-NULL percentile. An all-NULL pair
    # (n = 0) is exempt — it legitimately has no in-bracket rows and
    # yields SQL NULL through its carrier row.
    bracket_ok = F.assert_true(
        (F.col("n") == 0)
        | (F.col("lo").isNotNull() & F.col("hi").isNotNull()),
        F.lit(
            "grouped_exact_percentiles_bucketed: bracket miss — floor/ceil "
            "rank outside every in-bracket histogram run"
        ),
    )
    per = (
        cum.filter(has_lo | has_hi | is_carrier)
        .groupBy(g, "t")
        .agg(
            F.max(F.when(has_lo, F.col("hv"))).alias("lo"),
            F.max(F.when(has_hi, F.col("hv"))).alias("hi"),
            F.first(p - F.floor(p)).alias("frac"),
            F.first("n").alias("n"),
        )
        .select(
            g,
            "t",
            F.when(
                bracket_ok.isNull(),  # assert_true → NULL on success, throws on miss
                F.col("lo") + F.col("frac") * (F.col("hi") - F.col("lo")),
            ).alias("val"),
        )
    )
    out_aggs = [
        F.max(F.when(F.col("t") == t, F.col("val"))).alias(f"{c}_p{int(q * 100)}")
        for t, (c, q) in enumerate(pairs)
    ]
    # No re-anchor join needed: every group — including ones whose
    # value columns are entirely NULL — reaches this pivot via its
    # carrier rows, whose ``val`` is NULL for a pair without values,
    # so SQL semantics (group row kept, NULL percentiles for missing
    # pairs) hold with the group list coming from the same single
    # chain.
    return per.groupBy(g).agg(*out_aggs)


def grouped_exact_percentiles_bucketed(
    df: DataFrame,
    group_col: str,
    specs: "list[tuple[str, list[float]]]",
    n_buckets: int = 2048,
    pin_marginal: bool = False,
) -> DataFrame:
    """Exact grouped percentiles via EXACT equi-width bucket brackets.

    ``specs``: ``[(value_col, [q, ...]), ...]``. Returns one row per
    group with a double column ``{col}_p{int(q*100)}`` per requested
    quantile (np.percentile linear interpolation, NULLs excluded,
    all-NULL groups kept with NULL percentiles). Raises ``ValueError``
    on a repeated column or quantile — the per-pair aliases are keyed
    by name, so duplicates would silently collide; merge the quantile
    lists per column instead.

    Two measured facts drive the shape (k=100 shard, 60 M rows):

    * a sketch bracket pass (``percentile_approx``'s GK sketch) is an
      ObjectHashAggregate paying per-row insert cost — 2.9–7.0 s warm
      vs ~1 s for a plain bucket-count aggregation;
    * ANY row-level broadcast hash join costs ~4–5 s at 60 M rows, so
      a bracket design only wins if the per-row passes carry NO join.

    Hence: bucket boundaries use the GLOBAL per-column min/max (ONE
    row, attached by a 1-row broadcast nested loop — a projection, not
    a probe), per-group non-null counts fall out of the joint bucket
    aggregation itself, and the in-bracket emission filter uses the
    GLOBAL [min-over-groups(blo), max-over-groups(bhi)] bucket range
    per pair (another 1-row broadcast), with each group's cumsum
    anchored at its exact below-global-range count. IEEE basic ops are
    correctly rounded, hence monotonic, so
    ``clamp(floor((v − gmin)·B / (gmax − gmin)), 0, B−1)`` is monotonic
    in value and every count is exact — no sketch error budget at all.

    State bound: the histogram carries each group's rows inside the
    pairwise-widest bracket range, ~2n/B per (col, q) pair for
    roughly-uniform value mass and same-magnitude groups. That bound
    is distributional, not adversarial: pathological mass
    concentration inside one global bucket width — or one group
    occupying a sliver of another group's range — degrades the
    histogram toward O(n) rows (exactness holds regardless; duplicate
    values still collapse in the (g, t, value) agg). TPC-H-shaped
    measures are the uniform case.
    """
    seen: set[str] = set()
    for c, qs in specs:
        if c in seen:
            raise ValueError(
                "grouped_exact_percentiles_bucketed: column "
                f"{c!r} appears in multiple specs entries — merge its "
                "quantile lists into one entry"
            )
        seen.add(c)
        if len(qs) != len(set(qs)):
            raise ValueError(
                "grouped_exact_percentiles_bucketed: duplicate quantiles "
                f"for column {c!r}"
            )
    pairs = [(c, q) for c, qs in specs for q in qs]
    cols = [c for c, _ in specs]
    B = int(n_buckets)
    g = group_col
    df = df.select(g, *cols)

    # ---- pass 1: GLOBAL min / max per column (ONE row; parquet
    # aggregate pushdown answers this from footer stats when possible)
    gstats = df.agg(
        *[
            a
            for c in cols
            for a in (
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            )
        ]
    )

    def _bucket(c):
        v = F.col(c).cast("double")
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        raw = F.floor((v - lo) * F.lit(float(B)) / (hi - lo))
        clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(B - 1))
        return (
            F.when(v.isNotNull() & (hi > lo), clamped)
            .when(v.isNotNull(), F.lit(0))
            .cast("long")
        )

    # ---- pass 2: joint bucket counts, ONE scan for every column ------
    # crossJoin(broadcast(1 row)) is the repo's BNLJ_INTENTIONAL scalar
    # pattern — a projection per row, NOT a hash probe. The joint
    # (g, b_c1, …, b_ck) key keeps this a single scan; each column's
    # marginal is recovered from the tiny joint frame by one explode.
    joint = (
        df.crossJoin(F.broadcast(gstats))
        .groupBy(g, *[_bucket(c).alias(f"_bk_{j}") for j, c in enumerate(cols)])
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    # NULL buckets are KEPT: they anchor groups whose columns are
    # entirely NULL (every group has ≥1 joint row, so every (g, ci)
    # reaches the carrier stage with no join against a group list).
    marg = (
        joint.select(
            g,
            "_cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("ci"), F.col(f"_bk_{j}").alias("b")
                        )
                        for j in range(len(cols))
                    ]
                )
            ).alias("s"),
        )
        .select(g, F.col("s.ci").alias("ci"), F.col("s.b").alias("b"), "_cnt")
        .groupBy(g, "ci", "b")
        .agg(F.sum("_cnt").alias("cnt"))
    )
    # per-(g, ci) non-null count and running count, from the marginal
    # itself; NULL-bucket rows contribute 0 and sort first, so they can
    # never satisfy a locate predicate.
    cntn = F.when(F.col("b").isNotNull(), F.col("cnt")).otherwise(F.lit(0))
    wn = Window.partitionBy(g, "ci")
    wcum = Window.partitionBy(g, "ci").orderBy("b")
    mc = (
        marg.withColumn("C", F.sum(cntn).over(wcum))
        .withColumn("n", F.sum(cntn).over(wn))
        .withColumn("cntn", cntn)
    )
    if pin_marginal:
        # VERDICT r9 item 4's measured attempt, kept for the record —
        # it LOSES: pinning the tiny marginal here (to spare the three
        # downstream references their re-scans) read 5.21 s vs the
        # in-plan shape's 4.94 s median in an interleaved same-process
        # A/B at the k=100 shard (5 samples each, 2026-08-15). The
        # in-plan references already share work through exchange reuse,
        # and the checkpoint's write+read breaks that sharing while
        # adding its own materialization. Default stays False (the
        # registered shape); SCALE.md §4b-r10 records the closure.
        mc = mc.localCheckpoint(eager=True)

    # locate each pair's floor/ceil rank bucket per group on the tiny
    # marginal frame — p = (n−1)·q; bucket b holds 0-based ranks
    # [C − cntn, C); exact counts ⇒ a match always exists for n > 0 —
    # then collapse to the GLOBAL per-pair bucket range. One row total.
    def _pair_preds(t):
        c, q = pairs[t]
        j = cols.index(c)
        p = (F.col("n") - 1).cast("double") * F.lit(float(q))
        run_lo = F.col("C") - F.col("cntn")
        m = (F.col("ci") == j) & F.col("b").isNotNull() & (F.col("n") > 0)
        m_lo = m & (run_lo <= F.floor(p)) & (F.floor(p) < F.col("C"))
        m_hi = m & (run_lo <= F.ceil(p)) & (F.ceil(p) < F.col("C"))
        return m_lo, m_hi

    grange = mc.groupBy(g).agg(
        *[
            a
            for t in range(len(pairs))
            for a in (
                F.max(F.when(_pair_preds(t)[0], F.col("b"))).alias(f"_blo_{t}"),
                F.max(F.when(_pair_preds(t)[1], F.col("b"))).alias(f"_bhi_{t}"),
            )
        ]
    ).agg(
        *[
            a
            for t in range(len(pairs))
            for a in (
                F.min(F.col(f"_blo_{t}")).alias(f"_gmin_{t}"),
                F.max(F.col(f"_bhi_{t}")).alias(f"_gmax_{t}"),
            )
        ]
    )

    # carriers: per (g, pair) anchor = EXACT count strictly below the
    # global range start (so the histogram cumsum — which emits every
    # group's rows inside the GLOBAL range — lines up rank-exactly),
    # plus the group's non-null count. mc is referenced a second time
    # here (and once more inside pass 3's 1-row broadcast): each
    # reference re-executes its one cheap bucket-count scan, and the
    # shared exchange is reused where the planner can — measured r10:
    # eagerly pinning this frame instead LOSES (see pin_marginal).
    anch = mc.crossJoin(F.broadcast(grange))
    anch_aggs = []
    for t, (c, q) in enumerate(pairs):
        j = cols.index(c)
        below = (
            (F.col("ci") == j)
            & F.col("b").isNotNull()
            & (F.col("b") < F.col(f"_gmin_{t}"))
        )
        anch_aggs.append(
            F.coalesce(F.sum(F.when(below, F.col("cnt"))), F.lit(0))
            .cast("long")
            .alias(f"_nlt_{t}")
        )
    for j, c in enumerate(cols):
        anch_aggs.append(
            F.coalesce(F.max(F.when(F.col("ci") == j, F.col("n"))), F.lit(0))
            .cast("long")
            .alias(f"_bn_{j}")
        )
    binfo = anch.groupBy(g).agg(*anch_aggs)

    carriers = binfo.select(
        g,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.lit(None).cast("double").alias("hv"),
                        F.lit(0).cast("long").alias("cnt"),
                        F.col(f"_nlt_{t}").alias("n_lt0"),
                        F.col(f"_bn_{cols.index(c)}").alias("n0"),
                    )
                    for t, (c, q) in enumerate(pairs)
                ]
            )
        ).alias("s"),
    ).select(g, "s.*")

    # ---- pass 3: in-bracket histogram — global bucket-range filter,
    # joins: two 1-row broadcasts only (gstats for the bucket expr,
    # grange for the emission test). Emits each group's rows inside the
    # pairwise global range: ~2n/B per pair for same-magnitude groups.
    jb = df.crossJoin(F.broadcast(gstats)).crossJoin(F.broadcast(grange))
    structs = []
    in_any = F.lit(False)
    for t, (c, q) in enumerate(pairs):
        v = F.col(c).cast("double")
        b = _bucket(c)
        inb = (
            v.isNotNull()
            & F.col(f"_gmin_{t}").isNotNull()
            & (b >= F.col(f"_gmin_{t}"))
            & (b <= F.col(f"_gmax_{t}"))
        )
        structs.append(F.when(inb, F.struct(F.lit(t).alias("t"), v.alias("v"))))
        in_any = in_any | inb
    # pre-filter with the cheap OR-of-conditions predicate BEFORE the
    # generator: ~2n/B of rows survive, so the struct-array build +
    # explode machinery runs on the histogram, not on the corpus
    # (measured 5.6 → 0.9 s warm on the 60 M shard).
    hist = (
        jb.filter(in_any)
        .select(
            g,
            F.explode(F.filter(F.array(*structs), lambda s: s.isNotNull())).alias(
                "s"
            ),
        )
        .groupBy(g, F.col("s.t").alias("t"), F.col("s.v").alias("hv"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            g,
            "t",
            "hv",
            "cnt",
            F.lit(None).cast("long").alias("n_lt0"),
            F.lit(None).cast("long").alias("n0"),
        )
    )

    return _locate_and_interpolate(carriers, hist, pairs, g)
