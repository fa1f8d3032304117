"""``session.local_frame``: the one way the package builds a DataFrame
from rows the driver holds.

The contract pinned here: the frame plans as a ``LocalRelation``, an
action over it submits no Spark job, the declared schema survives for
every row shape the package's call sites pass, and the serving path
that broadcasts such a frame still answers exactly. A source guard
keeps the pickled-RDD path (``createDataFrame`` over a Python list)
and the ``range(0, 1, 1, 1)`` + ``lit`` literal-row idiom from
returning anywhere else in the package.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_example_spark.schemas import MESSAGES
from cdc_example_spark.session import local_frame

PACKAGE = Path(__file__).resolve().parent.parent / "cdc_example_spark"


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_plans_as_local_relation(spark):
    df = local_frame(spark, [(1, "a"), (2, "b")], "id long, name string")
    assert _optimized_plan(df).startswith("LocalRelation")


def test_collect_submits_no_job(spark):
    df = local_frame(
        spark,
        [("q1", [0.5, 0.25], [[0, 1], [1, 2]])],
        "query_id string, qv array<double>, probe_pairs array<array<int>>",
    )
    sc = spark.sparkContext
    group = "local-frame-zero-jobs"
    sc.setJobGroup(group, "local_frame collect")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        rows = df.collect()
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows[0].query_id == "q1"
    assert after == before


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("a", 1), ("b", 2)], "id string, n long"),
        ([(7, [1.0, -0.5]), (8, [])], "vec_id long, embedding array<double>"),
        ([("q", [[0, 1], [2, 3]])], "query_id string, probe_pairs array<array<int>>"),
        ([(None, "alice", "hi")], "id STRING, username STRING, message STRING"),
        ([(0, 1, 5), (2, 0, 3)], "coarse int, fine int, n_ref long"),
    ],
    ids=["string-id", "long-id-array-double", "array-array-int", "null", "counts"],
)
def test_declared_schema_and_values_survive(spark, rows, schema):
    df = local_frame(spark, rows, schema)
    assert df.schema == StructType.fromDDL(schema)
    assert [tuple(r) for r in df.collect()] == rows


def test_empty_messages_frame_keeps_its_schema(spark):
    """The keyed sink's empty snapshot and delete-merge frame: a
    ``StructType`` with non-null timestamp columns, zero rows."""
    empty = local_frame(spark, [], MESSAGES)
    assert [f.dataType.typeName() for f in MESSAGES.fields].count("timestamp") == 2
    assert empty.schema == MESSAGES
    assert _optimized_plan(empty).startswith("LocalRelation")
    assert empty.collect() == []


def test_ivf2_topk_string_ids_match_exact(spark, tmp_path):
    """A CDC-keyed layout carries string ids into the request frame:
    with probes covering every cell the serve equals exact top-k."""
    from cdc_example_spark.operators.similarity import (
        build_ivf2_index,
        cosine_topk,
        ivf2_topk_indexed,
        train_ivf2_local,
    )

    rng = np.random.default_rng(11)
    X = np.vstack([c + 0.1 * rng.normal(size=(20, 8)) for c in np.eye(8)[:4]])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = local_frame(
        spark,
        [(f"doc-{i:03d}", [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id string, embedding array<double>",
    )
    coarse, fines = train_ivf2_local(df, 2, 2, sample_size=256, seed=3)
    path = str(tmp_path / "index")
    build_ivf2_index(df, coarse, fines, path)
    queries = df.filter(F.col("vec_id") < "doc-006")
    exact = sorted(tuple(r) for r in cosine_topk(df, queries, k=4).collect())
    served = sorted(
        tuple(r)
        for r in ivf2_topk_indexed(
            spark, path, queries, coarse, fines, k=4,
            n_probe_coarse=len(coarse),
            n_probe_fine=max(len(f) for f in fines),
        ).collect()
    )
    assert len(exact) == 6 * 4
    assert [(q, v, rn) for q, v, _, rn in served] == [
        (q, v, rn) for q, v, _, rn in exact
    ]
    assert [s for _, _, s, _ in served] == pytest.approx([s for _, _, s, _ in exact])


def _offences(source: str, name: str) -> "list[str]":
    tree = ast.parse(source, filename=name)
    allowed: "set[int]" = set()
    if name == "cdc_example_spark/session.py":
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        if node.func.attr == "createDataFrame" and id(node) not in allowed:
            found.append(f"{name}:{node.lineno} createDataFrame")
        args = [a.value for a in node.args if isinstance(a, ast.Constant)]
        if node.func.attr == "range" and args == [0, 1, 1, 1]:
            found.append(f"{name}:{node.lineno} range(0, 1, 1, 1) literal row")
    return found


def test_driver_rows_only_through_local_frame():
    offences = [
        o
        for p in sorted(PACKAGE.rglob("*.py"))
        for o in _offences(
            p.read_text(encoding="utf-8"), p.relative_to(PACKAGE.parent).as_posix()
        )
    ]
    assert offences == [], (
        "build driver-side rows with session.local_frame "
        f"(a LocalRelation), not: {offences}"
    )


def test_guard_catches_both_idioms():
    source = (
        "def f(spark):\n"
        "    a = spark.createDataFrame([(1,)], 'x long')\n"
        "    return spark.range(0, 1, 1, 1).select('id')\n"
    )
    assert _offences(source, "cdc_example_spark/x.py") == [
        "cdc_example_spark/x.py:2 createDataFrame",
        "cdc_example_spark/x.py:3 range(0, 1, 1, 1) literal row",
    ]
    # only the helper's own body may call createDataFrame
    assert _offences(source, "cdc_example_spark/session.py")[0].endswith(
        "createDataFrame"
    )
