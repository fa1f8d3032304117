"""Round-9 regression pins (ADVICE r8 + VERDICT r8 item 7):

- auto-rebucket commits data+meta atomically (a crash right after the
  directory swap, or between a first 8-way write and its meta, must
  never restart as the 32-way legacy resolution);
- the growth Observation is consumed once (a non-writing batch must
  not re-trigger a resize with a stale density);
- the shrink path: a purge-shaped delete re-buckets DOWN with
  hysteresis, a point delete against a full table does not;
- q105/q109/q110 degrade to empty results on an empty corpus instead
  of raising at construction.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cdc_example_spark.operators.keyed_state import (
    AUTO_MIN_BUCKETS,
    KeyedStateSink,
)
from cdc_example_spark.streaming.envelope import decode_envelope, route_changes
from tests.cdc_fixtures import envelope, row_image

_T = "2025-10-26T23:21:07.598794Z"


def _changes(spark, n, start=0, batch_lsn=100):
    recs = [
        envelope(
            "i",
            f"k{i}",
            after=row_image(f"k{i}", _T, _T, f"m{i}", "a"),
            lsn=batch_lsn + i,
            ts_ms=batch_lsn + i,
        )
        for i in range(start, start + n)
    ]
    raw = spark.createDataFrame(recs, "key STRING, value STRING")
    return route_changes(decode_envelope(raw))


def _grown_sink(spark, path, n=200, target=10):
    sink = KeyedStateSink(path=path, rows_per_bucket_target=target)
    sink.apply_changes(_changes(spark, n), batch_id=1)
    assert sink.num_buckets > AUTO_MIN_BUCKETS
    return sink


def test_rebucket_swap_commits_meta_atomically(spark, tmp_path, monkeypatch):
    """Crash immediately AFTER the swap's second rename (before any
    post-swap statement runs): the live dir must already carry the new
    count's meta — a restart resolving LEGACY 32 would mis-address
    every key (ADVICE r8 high)."""
    path = str(tmp_path / "state")
    sink = KeyedStateSink(path=path, rows_per_bucket_target=10)

    real_rmtree = shutil.rmtree
    state = {"renamed": False}

    def crash_after_swap(p, *a, **kw):
        # the first rmtree AFTER the staged→live rename is the `.old`
        # cleanup — the first post-commit statement. Crash there.
        if state["renamed"] and p == path + ".old":
            raise RuntimeError("simulated crash after swap")
        return real_rmtree(p, *a, **kw)

    real_rename = os.rename

    def tracking_rename(src, dst):
        real_rename(src, dst)
        if dst == path:
            state["renamed"] = True

    monkeypatch.setattr(shutil, "rmtree", crash_after_swap)
    monkeypatch.setattr(os, "rename", tracking_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink.apply_changes(_changes(spark, 200), batch_id=1)
    monkeypatch.undo()

    s2 = KeyedStateSink(path=path)
    assert s2.num_buckets > AUTO_MIN_BUCKETS  # not LEGACY 32 by accident:
    assert s2._read_meta() == s2.num_buckets  # the swap carried the meta
    rows = {r["id"] for r in s2.snapshot(spark).collect()}
    assert rows == {f"k{i}" for i in range(200)}


def test_first_write_persists_meta_before_data(spark, tmp_path, monkeypatch):
    """Crash right after the FIRST 8-way parquet write: restart must
    resolve 8, not the 32-way legacy count (ADVICE r8 high, second
    window)."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "state")
    sink = KeyedStateSink(path=path)
    real_parquet = DataFrameWriter.parquet

    def write_then_crash(self, *a, **kw):
        real_parquet(self, *a, **kw)
        raise RuntimeError("simulated crash after data write")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink.apply_changes(_changes(spark, 20), batch_id=1)
    monkeypatch.undo()

    s2 = KeyedStateSink(path=path)
    assert s2.num_buckets == AUTO_MIN_BUCKETS
    assert s2._read_meta() == AUTO_MIN_BUCKETS
    # and the state is readable at the count it was hashed with
    assert len(s2.snapshot(spark).collect()) == 20


def test_non_writing_batch_does_not_regrow(spark, tmp_path):
    """A batch that performs no write (empty micro-batch) re-enters the
    growth check; a stale density would double the count on every such
    batch until AUTO_MAX (ADVICE r8 medium)."""
    path = str(tmp_path / "state")
    sink = _grown_sink(spark, path)
    grown = sink.num_buckets
    empty = spark.createDataFrame([], "key STRING, value STRING")
    for bid in (2, 3, 4):
        sink.apply_changes(route_changes(decode_envelope(empty)), batch_id=bid)
        assert sink.num_buckets == grown, "stale growth signal re-fired"


def test_purge_shrinks_buckets_with_hysteresis(spark, tmp_path):
    """Delete-heavy replay (GDPR-purge shape: most keys, most buckets
    touched) must shrink the sidecar and preserve the batch marker
    (VERDICT r8 item 7)."""
    path = str(tmp_path / "state")
    sink = _grown_sink(spark, path)
    grown = sink.num_buckets
    keep = 10
    doomed = spark.createDataFrame(
        [(f"k{i}",) for i in range(keep, 200)], "id string"
    )
    sink.delete_keys(doomed)
    assert sink.num_buckets < grown
    assert sink.num_buckets >= AUTO_MIN_BUCKETS
    assert sink._read_meta() == sink.num_buckets  # sidecar shrank with it
    assert sink.last_applied_batch_id() == 1  # marker survived the swap
    rows = {r["id"] for r in sink.snapshot(spark).collect()}
    assert rows == {f"k{i}" for i in range(keep)}
    # a fresh object resolves the shrunk count
    assert KeyedStateSink(path=path).num_buckets == sink.num_buckets
    # hysteresis: the surviving state sits inside the band — one more
    # small write neither grows nor shrinks
    sink.apply_changes(_changes(spark, 1, start=500, batch_lsn=9000), batch_id=2)
    assert sink.num_buckets == KeyedStateSink(path=path).num_buckets


def test_point_delete_does_not_shrink(spark, tmp_path):
    """A 2-key delete touches ~2 buckets: its extrapolated density says
    nothing about the table, so it must NOT trigger a shrink."""
    path = str(tmp_path / "state")
    sink = _grown_sink(spark, path)
    grown = sink.num_buckets
    sink.delete_keys(
        spark.createDataFrame([("k0",), ("k1",)], "id string")
    )
    assert sink.num_buckets == grown


def test_resize_serializes_against_concurrent_merge(spark, tmp_path, monkeypatch):
    """ADVICE r8 medium: a REST write racing the auto-resize swap must
    wait for it, never read a mid-mutation num_buckets or write into a
    half-swapped layout. Deterministic interleaving: the resize is
    held open on one thread while an upsert on another must block on
    the sink lock until it completes — the recorded event order is the
    assertion."""
    import threading

    path = str(tmp_path / "state")
    sink = KeyedStateSink(path=path, rows_per_bucket_target=10)
    order: list[str] = []
    entered, release = threading.Event(), threading.Event()
    real_rebucket = KeyedStateSink._rebucket

    def held_rebucket(self, spark_, new_count):
        order.append("rebucket_start")
        entered.set()
        assert release.wait(120)
        real_rebucket(self, spark_, new_count)
        order.append("rebucket_done")

    monkeypatch.setattr(KeyedStateSink, "_rebucket", held_rebucket)

    grower = threading.Thread(
        target=lambda: sink.apply_changes(_changes(spark, 200), batch_id=1)
    )
    grower.start()
    assert entered.wait(120)
    # the REST write merges through the stream's apply; traced from
    # here on, so only the write's merge is recorded, not the grower's
    real_apply = KeyedStateSink._apply_changes_locked

    def traced_apply(self, *a, **kw):
        order.append("merge_start")
        return real_apply(self, *a, **kw)

    monkeypatch.setattr(KeyedStateSink, "_apply_changes_locked", traced_apply)
    # resize is mid-flight and holding the lock: a REST upsert must block
    upsert_done = threading.Event()

    def do_upsert():
        req = spark.createDataFrame(
            [(None, "zoe", "hello")], "id string, username string, message string"
        )
        sink.upsert_requests(req, "2025-10-26T23:59:00Z")
        upsert_done.set()

    writer = threading.Thread(target=do_upsert)
    writer.start()
    # give the writer ample time to reach the lock; it must NOT merge
    writer.join(3.0)
    assert "merge_start" not in order, order
    release.set()
    grower.join(120)
    writer.join(120)
    assert upsert_done.is_set()
    assert order.index("rebucket_done") < order.index("merge_start"), order
    rows = {r["id"]: r["message"] for r in sink.snapshot(spark).collect()}
    assert len(rows) == 201 and "hello" in rows.values()
    # the post-resize merge addressed keys with the NEW count
    assert KeyedStateSink(path=path).num_buckets == sink.num_buckets


def test_snapshot_during_swap_window_serves_old_state(spark, tmp_path):
    """A REST read landing between the swap's two renames must serve
    the complete pre-swap state from `.old`, never a momentarily-empty
    table (reads don't take the sink lock by design)."""
    path = str(tmp_path / "state")
    sink = KeyedStateSink(path=path)
    sink.apply_changes(_changes(spark, 20), batch_id=1)
    # simulate the window: path renamed away, staged dir not yet in
    os.rename(path, path + ".old")
    rows = {r["id"] for r in sink.snapshot(spark).collect()}
    assert rows == {f"k{i}" for i in range(20)}
    os.rename(path + ".old", path)
    rows = {r["id"] for r in sink.snapshot(spark).collect()}
    assert rows == {f"k{i}" for i in range(20)}


@pytest.fixture()
def empty_corpus_dir(spark, tmp_path, sf_dir):
    sf = sf_dir
    d = str(tmp_path / "sf_empty")
    os.makedirs(d)
    (
        spark.read.parquet(os.path.join(sf, "documents.parquet"))
        .limit(0)
        .write.parquet(os.path.join(d, "documents.parquet"))
    )
    return d


def test_q109_empty_corpus_returns_empty(spark, empty_corpus_dir):
    from cdc_example_spark.queries.quality import q109

    out = q109(spark, empty_corpus_dir)
    assert out.count() == 0
    assert out.columns == [
        "source",
        "n_tokens",
        "n_top_present",
        "top_coverage_pct",
        "kl_vs_mixture",
    ]


def test_q110_empty_corpus_returns_empty(spark, empty_corpus_dir):
    from cdc_example_spark.queries.relevance import q110

    out = q110(spark, empty_corpus_dir)
    assert out.count() == 0
    assert out.columns == ["stage", "rnk", "item", "n_a", "n_b", "pct"]


def test_q109_sampled_top_selection_matches_full(spark, sf_dir):
    """VERDICT r8 item 6's exactness pin: at the contract sf the
    reference token SET selected from the 5% doc_id-hash sample must
    equal the full-corpus selection — the construction-bill cut is
    invisible to the declared output at verified scale."""
    from cdc_example_spark.functions import text as T
    from cdc_example_spark.queries.quality import _Q109_SAMPLE_MOD, _Q109_TOP
    from cdc_example_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.words(F.lower(F.col("text"))).alias("ws"))

    def top_set(df):
        return {
            r["token"]
            for r in df.select(F.explode("ws").alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "token")
            .limit(_Q109_TOP)
            .collect()
        }

    full = top_set(toks)
    sampled = top_set(toks.filter(F.col("doc_id") % _Q109_SAMPLE_MOD == 0))
    assert sampled == full


def test_q112_empty_corpus_returns_empty(spark, empty_corpus_dir):
    from cdc_example_spark.queries.relevance import q112

    out = q112(spark, empty_corpus_dir)
    assert out.count() == 0
    assert out.columns == ["stage", "rnk", "item", "n_a", "n_b", "pct"]


def test_q112_arrow_vocab_encoder_parity(spark, sf_dir):
    """The 30k-merge tier's Arrow-batched per-word encoder must agree
    with the column replace chain at the declared 6 merges — the
    parity pin that lets a production vocabulary swap the chain for
    the UDF without changing semantics (VERDICT r8 item 2)."""
    from cdc_example_spark.queries.relevance import (
        _Q112_MERGES,
        _char_spaced,
        _top_pair_weighted,
        bpe_word_subtoken_counts_udf,
    )
    from cdc_example_spark.sources.catalog import load_doc_tokens

    toks = load_doc_tokens(spark, sf_dir)
    wft = (
        toks.select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", "freq", _char_spaced(F.col("word")).alias("seg"))
        .localCheckpoint(eager=True)
    )
    merges = []
    for _ in range(_Q112_MERGES):
        a = F.split(F.trim("seg"), " ")
        winners = _top_pair_weighted(wft, a, F.col("freq")).collect()
        if not winners:
            break
        pair = winners[0]["pair"]
        merges.append(pair)
        wft = wft.withColumn(
            "seg",
            F.replace(
                F.col("seg"),
                F.lit(f" {pair} "),
                F.lit(" " + pair.replace(" ", "") + " "),
            ),
        )
    assert merges, "contract corpus must train at least one merge"
    words = (
        toks.select(F.explode("ws").alias("word")).distinct()
    )
    seg = _char_spaced(F.col("word"))
    for pair in merges:
        seg = F.replace(
            seg, F.lit(f" {pair} "), F.lit(" " + pair.replace(" ", "") + " ")
        )
    chain_n = F.size(F.split(F.trim(seg), " ")).cast("long")
    udf_n = bpe_word_subtoken_counts_udf(merges)(F.col("word"))
    diff = (
        words.select("word", chain_n.alias("a"), udf_n.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert diff == 0


def test_arrow_vocab_encoder_handles_production_merge_counts(spark):
    """The 30k-merge story, executed: a 1000-deep merge table — far
    past what a column replace chain can compile — encodes a 2k-word
    dictionary through the Arrow path, and a sampled cross-check
    matches the pure-Python model exactly."""
    from cdc_example_spark.queries.relevance import (
        bpe_word_subtoken_counts_udf,
    )

    words = spark.range(0, 2000).select(
        F.concat(
            F.lit("w"), F.col("id").cast("string"), F.lit("abacus")
        ).alias("word")
    )
    merges = [
        f"{a} {b}"
        for a in "abcdefghijklmnopqrstuvwxyz0123456789"
        for b in "abcdefghijklmnopqrstuvwxyz0123456789"
    ][:1000]
    got = {
        r["word"]: r["n"]
        for r in words.select(
            "word", bpe_word_subtoken_counts_udf(merges)(F.col("word")).alias("n")
        ).collect()
    }
    assert len(got) == 2000 and all(n >= 1 for n in got.values())
    reps = [(f" {p} ", " " + p.replace(" ", "") + " ") for p in merges]

    def model(w):
        s = " " + " ".join(w) + " "
        for a, b in reps:
            s = s.replace(a, b)
        return len(s.split())

    for w in list(got)[::97]:
        assert got[w] == model(w), w


def test_q105_empty_corpus_returns_empty(spark, empty_corpus_dir):
    from cdc_example_spark.queries.relevance import q105

    out = q105(spark, empty_corpus_dir)
    assert out.count() == 0
    assert out.columns == ["stage", "item", "cnt", "rnk"]
