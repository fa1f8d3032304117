"""Distributed exact percentiles (operators/percentiles).

The bucket-bracket operator q41 runs must reproduce np.percentile's
linear interpolation EXACTLY, for every group size and value
distribution. Each case runs at two bucket geometries: a narrow one
(multi-bucket brackets and clamped edges) and the registered width.
"""

from __future__ import annotations

import numpy as np
import pytest

from cdc_example_spark.operators.percentiles import grouped_exact_percentiles_bucketed


def _check(spark, rows, specs):
    """Both bucket geometries must reproduce np.percentile bit-for-bit
    on the same inputs."""
    df = spark.createDataFrame(rows, "g string, x double, y double")
    by_g: dict[str, tuple[list, list]] = {}
    for g, x, y in rows:
        by_g.setdefault(g, ([], []))[0].append(x)
        by_g.setdefault(g, ([], []))[1].append(y)
    for regime, out_df in (
        # small n_buckets on purpose: multi-bucket brackets and clamped
        # edges must exercise, not hide behind a wide B
        ("bucket", grouped_exact_percentiles_bucketed(df, "g", specs, n_buckets=64)),
        ("bucket_wide", grouped_exact_percentiles_bucketed(df, "g", specs)),
    ):
        out = {r["g"]: r for r in out_df.collect()}
        for g, (xs, ys) in by_g.items():
            for c, qs in specs:
                vals = xs if c == "x" else ys
                for q in qs:
                    key = f"{c}_p{int(q * 100)}"
                    got = out[g][key]
                    expect = float(np.percentile(vals, q * 100))
                    assert got == pytest.approx(expect, abs=1e-9), (
                        regime, g, key, got, expect,
                    )


def test_exactness_both_regimes_and_duplicates(spark):
    rng = np.random.default_rng(7)
    rows = []
    # group sizes from a hundred to tens of thousands; y is a
    # heavy-duplication column (9 distinct values)
    for g, n in (("small", 137), ("mid", 999), ("big", 5000), ("huge", 20000)):
        xs = rng.normal(100, 25, n)
        ys = rng.integers(1, 10, n).astype(float)
        rows += [(g, float(x), float(y)) for x, y in zip(xs, ys)]
    _check(spark, rows, [("x", [0.5, 0.95]), ("y", [0.5])])


def test_rank_convention_edge(spark):
    # n=1205 / q=0.95: the (n−1)·q rank convention puts p95 between two
    # order statistics; a φ·n convention would sit one rank above it.
    rng = np.random.default_rng(11)
    xs = rng.normal(0, 1, 1205)
    rows = [("b", float(x), 0.0) for x in xs]
    _check(spark, rows, [("x", [0.5, 0.95])])


def test_single_row_and_constant_groups(spark):
    rows = [("s", 5.0, 0.0)] + [("c", 1.0, 0.0)] * 3
    _check(spark, rows, [("x", [0.5, 0.95])])


@pytest.fixture(params=["bucket"])  # the test id names the tier under test
def op(request):
    return lambda df, g, specs: grouped_exact_percentiles_bucketed(df, g, specs, n_buckets=64)


def test_null_values_excluded_and_all_null_group_kept(spark, op):
    # SQL semantics (ADVICE r3): NULLs never contribute to a percentile,
    # and a group whose column is ENTIRELY NULL must keep its row with a
    # NULL percentile — not silently vanish (the r4 re-anchor on the
    # pass-1 group list).
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("allnull", None), ("allnull", None)],
        "g string, x double",
    )
    out = {r["g"]: r for r in op(df, "g", [("x", [0.5])]).collect()}
    assert out["a"]["x_p50"] == pytest.approx(2.0)
    assert "allnull" in out, "all-NULL group row must survive"
    assert out["allnull"]["x_p50"] is None


def test_null_group_key_keeps_computed_values(spark, op):
    # ADVICE r4 (medium): a NULL group key is a legitimate SQL GROUP BY
    # group. Plain `[g]` joins are not null-safe, so the NULL group's
    # rows (a) never met their bracket row in the classify join and
    # (b) lost their computed percentiles in the re-anchor left join.
    # Every join in the operator must be eqNullSafe.
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (None, 3.0), ("a", 10.0), ("a", 30.0)],
        "g string, x double",
    )
    out = {r["g"]: r for r in op(df, "g", [("x", [0.5])]).collect()}
    assert out[None]["x_p50"] == pytest.approx(2.0), "NULL group must keep real values"
    assert out["a"]["x_p50"] == pytest.approx(20.0)


def test_duplicate_specs_raise(spark):
    # ADVICE r4 (low): per-column aliases collide on a repeated column
    # and pairs.index() maps duplicate (c, q) to the first occurrence —
    # fail loudly instead of producing an AnalysisException downstream.
    df = spark.createDataFrame([("a", 1.0, 0.0)], "g string, x double, y double")
    fn = grouped_exact_percentiles_bucketed
    with pytest.raises(ValueError, match="multiple specs entries"):
        fn(df, "g", [("x", [0.5]), ("x", [0.9])])
    with pytest.raises(ValueError, match="duplicate quantiles"):
        fn(df, "g", [("x", [0.5, 0.5])])


def test_mixed_null_column_with_values_elsewhere(spark, op):
    # one column all-NULL in one group while the OTHER column has data
    # there: the group row must carry the real percentile and the NULL
    # side by side.
    df = spark.createDataFrame(
        [("g1", None, 10.0), ("g1", None, 20.0), ("g2", 7.0, 1.0)],
        "g string, x double, y double",
    )
    out = {r["g"]: r for r in op(df, "g", [("x", [0.5]), ("y", [0.5])]).collect()}
    assert out["g1"]["x_p50"] is None
    assert out["g1"]["y_p50"] == pytest.approx(15.0)
    assert out["g2"]["x_p50"] == pytest.approx(7.0)


# ---------------------------------------------------------------------------
# property test: the bucket regime's exactness must not depend on the
# value distribution (its STATE bound does, its exactness must not) —
# heavy duplication, extreme outliers stretching the bucket range, and
# sub-bucket mass concentration all land here.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_vals = st.one_of(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    st.sampled_from([0.0, 1.0, 1.0, 1.0, 1e-12, 1e6]),  # duplication + outlier
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    groups=st.lists(
        st.lists(_vals, min_size=1, max_size=40), min_size=1, max_size=4
    ),
    q=st.sampled_from([0.0, 0.25, 0.5, 0.95, 1.0]),
)
def test_bucket_regime_exact_on_adversarial_distributions(spark, groups, q):
    rows = [
        (f"g{i}", float(v), 0.0) for i, vs in enumerate(groups) for v in vs
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {
        r["g"]: r["x_p50" if q == 0.5 else f"x_p{int(q * 100)}"]
        for r in grouped_exact_percentiles_bucketed(
            df, "g", [("x", [q])], n_buckets=16
        ).collect()
    }
    for i, vs in enumerate(groups):
        expect = float(np.percentile(vs, q * 100))
        assert out[f"g{i}"] == pytest.approx(expect, abs=1e-9), (i, q)
