"""Structured-Streaming ingest: a file feed drained in micro-batches
must produce the SAME graph as one batch over all pages (each micro-
batch is an incremental ingest), plus the watermarked window shape."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from graphiti_spark.config import RunConfig
from graphiti_spark.pipeline import run_pipeline_from_pages
from graphiti_spark.sources.pages import load_pages
from graphiti_spark.streaming.ingest import (
    PAGES_FEED_SCHEMA,
    load_graph_state,
    run_streaming_ingest,
    windowed_episode_counts,
)

SF = "/root/testdata/sf0.001"


def test_streaming_ingest_equals_batch(spark, tmp_path):
    feed = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    pages = load_pages(spark, SF).persist()
    # two feed files → with maxFilesPerTrigger=16 both could land in one
    # micro-batch, so write each half as its own commit via two drains
    pages.filter(F.col("doc_id") % 2 == 0).write.parquet(
        os.path.join(feed, "part=a")
    )
    run_streaming_ingest(spark, feed + "/part=a", state, ckpt + "1")
    assert load_graph_state(spark, state) is not None

    pages.filter(F.col("doc_id") % 2 == 1).write.parquet(
        os.path.join(feed, "part=b")
    )
    run_streaming_ingest(spark, feed + "/part=b", state, ckpt + "2")

    got = load_graph_state(spark, state)
    full = run_pipeline_from_pages(spark, pages, RunConfig())

    def rows(df, *cols):
        return {tuple(r) for r in df.select(*cols).collect()}

    assert rows(got["nodes"], "uuid", "name", "mention_count") == rows(
        full["nodes"], "uuid", "name", "mention_count"
    )
    assert rows(got["edges"], "uuid", "valid_at", "invalid_at") == rows(
        full["edges"], "uuid", "valid_at", "invalid_at"
    )


def test_windowed_episode_counts_watermarked(spark, tmp_path):
    feed = str(tmp_path / "wfeed")
    load_pages(spark, SF).write.parquet(feed)
    stream = spark.readStream.schema(PAGES_FEED_SCHEMA).parquet(feed)
    agg = windowed_episode_counts(stream, window="1 hour", watermark="2 hours")
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql(
        "SELECT sum(n_pages) AS total, count(*) AS n_windows FROM win_counts"
    ).first()
    # append mode only emits windows CLOSED by the watermark; the final
    # windows stay open, so totals are bounded by the corpus size
    assert out.n_windows > 0
    assert 0 < out.total <= 500


def test_crash_replay_of_committed_batch_is_noop(spark, tmp_path):
    """The crash window between the _LATEST flip and the stream's offset
    commit (ADVICE r02 medium): re-delivering an ALREADY-COMMITTED
    batch_id must not re-merge (mention_count would double) nor rewrite
    the version directory the prior plan reads from."""
    from graphiti_spark.streaming.ingest import make_ingest_batch_fn

    state = str(tmp_path / "replay_state")
    os.makedirs(state, exist_ok=True)
    fn = make_ingest_batch_fn(state, stream_id="replay-test")
    batch = load_pages(spark, SF).limit(40)

    fn(batch, 0)
    counts1 = {
        r.uuid: r.mention_count
        for r in load_graph_state(spark, state)["nodes"].collect()
    }
    before = sorted(os.listdir(state))

    fn(batch, 0)  # crash replay: same batch_id re-delivered
    assert sorted(os.listdir(state)) == before  # no new version
    counts2 = {
        r.uuid: r.mention_count
        for r in load_graph_state(spark, state)["nodes"].collect()
    }
    assert counts2 == counts1  # not double-counted


def test_crash_between_delta_write_and_pointer_flip(spark, tmp_path):
    """The OTHER commit crash window (VERDICT r03 next #7): the version
    directory is fully written but the process dies before the atomic
    _LATEST flip. Contract of write-new-then-flip: (a) the prior state
    stays readable (the orphan directory is invisible — nothing points
    at it), and (b) the replayed batch commits cleanly, overwriting the
    orphan (parquet mode=overwrite), producing the same graph as a
    crash-free run."""
    from graphiti_spark.streaming import ingest as ing

    state = str(tmp_path / "crash_state")
    clean = str(tmp_path / "clean_state")
    os.makedirs(state, exist_ok=True)
    os.makedirs(clean, exist_ok=True)
    pages = load_pages(spark, SF)
    batch_a = pages.filter(F.col("doc_id") < 20)
    batch_b = pages.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))

    fn = ing.make_ingest_batch_fn(state, stream_id="crash-test")
    fn(batch_a, 0)
    counts_a = {
        r.uuid: r.mention_count
        for r in load_graph_state(spark, state)["nodes"].collect()
    }
    ptr_before = open(os.path.join(state, "_LATEST")).read()

    # kill the process between the version write and the pointer flip:
    # os.replace is the flip — everything before it (save_graph_delta,
    # the tmp pointer write) has already happened when it raises
    real_replace = ing.os.replace

    def die(*a, **kw):
        raise RuntimeError("simulated crash before pointer flip")

    ing.os.replace = die
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            fn(batch_b, 1)
    finally:
        ing.os.replace = real_replace

    # (a) prior state intact: pointer untouched, graph readable, the
    # orphan v-directory exists but is not part of any chain
    assert open(os.path.join(state, "_LATEST")).read() == ptr_before
    counts_after_crash = {
        r.uuid: r.mention_count
        for r in load_graph_state(spark, state)["nodes"].collect()
    }
    assert counts_after_crash == counts_a
    orphans = [d for d in os.listdir(state) if d.startswith("v")]
    assert len(orphans) == 2  # v0 (committed) + the orphaned delta

    # (b) the stream redelivers batch 1 (offset never committed); the
    # replay guard does NOT skip it (_LATEST still records batch 0) and
    # the commit overwrites the orphan directory cleanly
    fn(batch_b, 1)
    got = load_graph_state(spark, state)

    fn2 = ing.make_ingest_batch_fn(clean, stream_id="clean-test")
    fn2(batch_a, 0)
    fn2(batch_b, 1)
    want = load_graph_state(spark, clean)

    def rows(df, *cols):
        return {tuple(r) for r in df.select(*cols).collect()}

    assert rows(got["nodes"], "uuid", "name", "mention_count") == rows(
        want["nodes"], "uuid", "name", "mention_count"
    )
    assert rows(got["edges"], "uuid", "valid_at", "invalid_at") == rows(
        want["edges"], "uuid", "valid_at", "invalid_at"
    )


def test_compact_every_boundary_snapshots_chain(spark, tmp_path):
    """The merge-on-read chain compacts at EXACTLY COMPACT_EVERY
    versions (VERDICT r03 next #7): commits 1..COMPACT_EVERY-1 append
    deltas (chain grows to COMPACT_EVERY), and the NEXT commit writes a
    full snapshot that resets the chain to itself — bounding read
    amplification at COMPACT_EVERY directories forever."""
    import json

    from graphiti_spark.materialize import DELTA_MARKER
    from graphiti_spark.streaming.ingest import (
        COMPACT_EVERY,
        make_ingest_batch_fn,
    )

    state = str(tmp_path / "compact_state")
    os.makedirs(state, exist_ok=True)
    pages = load_pages(spark, SF)
    fn = make_ingest_batch_fn(state, stream_id="compact-test")

    def ptr():
        with open(os.path.join(state, "_LATEST")) as fh:
            return json.load(fh)

    # batch i ingests 4 fresh pages; COMPACT_EVERY commits fill the chain
    for i in range(COMPACT_EVERY):
        fn(pages.filter((F.col("doc_id") >= 4 * i) & (F.col("doc_id") < 4 * (i + 1))), i)
    p = ptr()
    assert len(p["chain"]) == COMPACT_EVERY
    # every post-snapshot version in the chain is a delta directory
    for v in p["chain"][1:]:
        assert os.path.exists(os.path.join(state, v, DELTA_MARKER))

    n_before = load_graph_state(spark, state)["nodes"].count()
    fn(
        pages.filter(
            (F.col("doc_id") >= 4 * COMPACT_EVERY)
            & (F.col("doc_id") < 4 * (COMPACT_EVERY + 1))
        ),
        COMPACT_EVERY,
    )
    p2 = ptr()
    assert p2["chain"] == [p2["version"]]  # chain reset to the snapshot
    assert not os.path.exists(
        os.path.join(state, p2["version"], DELTA_MARKER)
    )  # a FULL snapshot, not a delta
    # compaction loses nothing: the snapshot carries every prior node
    assert load_graph_state(spark, state)["nodes"].count() >= n_before


def test_streaming_restart_is_exactly_once(spark, tmp_path):
    """Re-draining the same feed against the same checkpoint commits no
    new graph version: source offsets are persisted, and the graph
    commit is idempotent regardless."""
    feed = str(tmp_path / "feed2")
    state = str(tmp_path / "state2")
    ckpt = str(tmp_path / "ckpt2")
    load_pages(spark, SF).limit(50).write.parquet(feed)

    run_streaming_ingest(spark, feed, state, ckpt)
    v1 = sorted(os.listdir(state))
    n1 = load_graph_state(spark, state)["nodes"].count()

    run_streaming_ingest(spark, feed, state, ckpt)  # same checkpoint
    v2 = sorted(os.listdir(state))
    assert v2 == v1                      # no new version committed
    assert load_graph_state(spark, state)["nodes"].count() == n1


@pytest.mark.parametrize("family", ["dedup", "spans"])
def test_takedown_keeps_stream_replay_identity(spark, tmp_path, family):
    """A committed takedown is a new version but not a new batch: the
    pointer keeps the stream's batch_id and stream_id, so a redelivered
    committed batch stays a no-op and the stream's next batch commits."""
    import json

    from graphiti_spark.operators import dedup_state, span_state

    make_fn, takedown, load = {
        "dedup": (
            dedup_state.make_dedup_batch_fn,
            dedup_state.commit_remove_docs,
            dedup_state.load_dedup_state,
        ),
        "spans": (
            span_state.make_span_batch_fn,
            span_state.commit_remove_doc_spans,
            span_state.load_span_state,
        ),
    }[family]
    state = str(tmp_path / "state")
    os.makedirs(state)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch0 = docs.filter(F.col("doc_id") < 20)
    batch1 = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))

    def ptr():
        with open(os.path.join(state, "_LATEST")) as fh:
            return json.load(fh)

    fn = make_fn(state, stream_id="feed")
    fn(batch0, 0)
    takedown(spark, state, spark.createDataFrame([(0,), (5,)], "id long"))
    p = ptr()
    assert (p["seq"], p["batch_id"], p["stream_id"]) == (1, 0, "feed")

    fn(batch0, 0)  # redelivered after the takedown: still a replay
    assert ptr()["seq"] == 1
    assert not {0, 5} & {r.id for r in load(spark, state)["docs"].collect()}

    fn(batch1, 1)
    p = ptr()
    assert (p["seq"], p["batch_id"]) == (2, 1)
    assert {r.id for r in load(spark, state)["docs"].collect()} == set(
        range(1, 40)
    ) - {5}
