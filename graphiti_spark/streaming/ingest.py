"""Structured-Streaming ingestion: a live page feed becomes a
continuously-updated knowledge graph.

The reference ingests episodes one `add_episode` call at a time
(graphiti.py:619-824) — its "streaming" is an asyncio loop. The
Spark-native equivalent is micro-batch Structured Streaming where EVERY
BATCH IS AN INCREMENTAL INGEST (operators/incremental.py): new pages are
resolved against the persisted graph and merged, so the streaming path
reuses — and inherits the associativity proof of — the batch engine.

  pages feed (files/Kafka) ──readStream──▶ foreachBatch:
      prior = load latest graph state (full snapshot + delta chain,
              merge-on-read)
      merged = ingest_incremental(batch, prior)   # or first-batch pipeline
      commit v{seq}: ONLY the batch's changed rows (per-table
      MERGE-style upserts/deletes, materialize.save_graph_delta); a full
      snapshot every COMPACT_EVERY deltas bounds read amplification;
      flip the _LATEST pointer (atomic)

Exactly-once: node/edge ids are content-derived (ids.py), and the
_LATEST pointer records the last committed batch_id — a crash-replayed
batch (version committed, stream offset not yet) is detected and skipped
entirely. The guard matters because the merge itself is NOT idempotent
(mention_count sums would double) and a re-run would overwrite the
version directory the lazy prior plan reads from. Graph state is
versioned (write-new-then-flip-pointer) because overwriting the
directory a lazy plan is still reading from would corrupt it; on Iceberg
the version flip becomes the table's transactional snapshot commit.

The graph is one of three versioned-state families (StateFamily); the
corpus dedup and span states stream through the same path — one
load_state, commit_version, replay-guarded make_batch_fn, run_stream and
commit_takedown — so the exactly-once contract lives in one place.

Late data: episodes carry event time `warc_ts`; the graph itself needs
no watermark (content identity dedups replays, temporal windows are
recomputed over merged history). For bounded-state windowed analytics
over the feed, `windowed_episode_counts` shows the watermarked
aggregation shape.
"""

from __future__ import annotations

import json
import os
from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.config import RunConfig
from graphiti_spark.materialize import (
    DELTA_KEYS,
    GRAPH_TABLES,
    load_graph_versions,
    save_graph,
    save_graph_delta,
)

# Streaming sources must declare their schema up front (no inference on
# an unbounded source): the pages and documents feed shapes from
# BASELINE input_hint.
PAGES_FEED_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, "
    "lang string, group_id string, doc_id long"
)
DOCS_FEED_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def as_state_docs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The (id, text) ``docs`` table of the corpus state families."""
    return docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))


class StateFamily(NamedTuple):
    """One versioned table family — the graph, the corpus dedup state
    (operators/dedup_state.py) or the span state (operators/
    span_state.py): its snapshot tables, the delete-then-append keys of
    its delta commits, the partition column per snapshot table and its
    feed's schema."""

    tables: tuple[str, ...]
    keys: dict[str, list[str]]
    partition_cols: dict[str, str]
    feed_schema: str


GRAPH_STATE = StateFamily(GRAPH_TABLES, DELTA_KEYS, {}, PAGES_FEED_SCHEMA)

_LATEST = "_LATEST"

# a full snapshot every N delta commits bounds merge-on-read depth
COMPACT_EVERY = 8


def _latest_pointer(state_dir: str) -> dict | None:
    path = os.path.join(state_dir, _LATEST)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _chain(ptr: dict | None) -> list[str]:
    return [] if ptr is None else (ptr.get("chain") or [ptr["version"]])


def load_state(spark: SparkSession, state_dir: str, family: StateFamily):
    """Latest committed state of ``family`` (None before the first
    batch): merge-on-read over the last full snapshot + its delta
    chain."""
    chain = _chain(_latest_pointer(state_dir))
    if not chain:
        return None
    dirs = [os.path.join(state_dir, v) for v in chain]
    return load_graph_versions(spark, dirs, family.tables, family.keys)


def commit_version(
    outputs, state_dir: str, family: StateFamily, batch_id: int, stream_id
) -> None:
    """Commit a batch: DELTA version (only the changed rows — the
    parquet equivalent of per-table Iceberg MERGE) when the batch was an
    incremental update and the chain is short; FULL snapshot otherwise
    (first batch, or compaction every COMPACT_EVERY deltas). Versions are
    write-new-then-flip — the directories a lazy prior plan is reading
    are never touched."""
    ptr = _latest_pointer(state_dir)
    chain = _chain(ptr)
    # version dirs are named by a GLOBAL commit sequence, not batch_id:
    # batch ids restart at 0 for every new stream/checkpoint over the
    # same state, and a colliding name would write a delta into an
    # existing full-snapshot directory
    seq = 0 if ptr is None else ptr.get("seq", ptr.get("batch_id", 0)) + 1
    version = f"v{seq:09d}"
    path = os.path.join(state_dir, version)
    delta = outputs.get("delta")
    if delta is not None and chain and len(chain) < COMPACT_EVERY:
        save_graph_delta(delta, path, family.keys)
        chain = chain + [version]
    else:
        save_graph(outputs, path, family.tables, family.partition_cols)
        chain = [version]
    tmp = os.path.join(state_dir, f".{_LATEST}.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "version": version,
                "seq": seq,
                "batch_id": batch_id,
                "stream_id": stream_id,
                "chain": chain,
            },
            fh,
        )
    os.replace(tmp, os.path.join(state_dir, _LATEST))  # atomic flip


def make_batch_fn(
    state_dir: str, family: StateFamily, stream_id: str, build: Callable
):
    """The foreachBatch callback of every family: skip a replayed or
    empty batch, else commit ``build(batch, prior)`` — prior is the
    latest committed state, None before the first batch — as the next
    version.

    ``stream_id`` identifies the stream RUN the batch ids belong to
    (run_stream passes its checkpoint dir): Spark batch ids are monotone
    only within one checkpoint, so the replay guard must never compare
    ids across streams feeding the same state. It has no default on
    purpose: it must be stable across restarts of the same stream (a
    random per-callback id would re-merge a crash-replayed committed
    batch) yet distinct per feed (a shared default would skip a second
    feed's batch 0 as a "replay") — only the caller knows its
    checkpoint identity."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # crash-replay guard (module docstring, ADVICE r02 medium): the
        # pointer already records this or a later batch of this stream
        ptr = _latest_pointer(state_dir)
        if (
            ptr is not None
            and ptr.get("stream_id") == stream_id
            and ptr.get("batch_id", -1) >= batch_id
        ):
            return
        if batch_df.isEmpty():
            return
        prior = load_state(batch_df.sparkSession, state_dir, family)
        out = build(batch_df, prior)
        commit_version(out, state_dir, family, batch_id, stream_id)

    return process_batch


def run_stream(
    spark: SparkSession,
    feed_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    family: StateFamily,
    build: Callable,
    available_now: bool = True,
):
    """Start (and with available_now=True, drain) the stream that keeps
    ``family``'s state current with a feed: a directory of parquet files
    in the family's feed schema, the local stand-in for a Kafka/Kinesis
    source (`spark.readStream.format("kafka")` swaps in with the same
    downstream plan). checkpoint_dir gives source-offset exactly-once and
    is the replay guard's stream_id."""
    os.makedirs(state_dir, exist_ok=True)
    stream = (
        spark.readStream.schema(family.feed_schema)
        # bounded files per trigger → bounded micro-batch memory
        .option("maxFilesPerTrigger", "16")
        .parquet(feed_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            make_batch_fn(state_dir, family, checkpoint_dir, build)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query


def commit_takedown(
    spark: SparkSession, state_dir: str, family: StateFamily, repair: Callable
) -> None:
    """Commit ``repair(prior)`` (a takedown) over the latest state as the
    next version. The pointer keeps its batch_id and stream_id — a
    takedown is a version, not a batch — so an in-flight feed's replays
    stay no-ops and its next batch still commits."""
    ptr = _latest_pointer(state_dir)
    if ptr is None:
        return
    out = repair(load_state(spark, state_dir, family))
    commit_version(
        out, state_dir, family, ptr.get("batch_id", 0), ptr.get("stream_id")
    )


load_graph_state = partial(load_state, family=GRAPH_STATE)


def _graph_build(cfg: RunConfig | None) -> Callable:
    """First batch runs the full pipeline, every later batch ingests
    incrementally against the latest graph version."""
    cfg = cfg or RunConfig()

    def build(batch_df: DataFrame, prior: dict | None) -> dict:
        from graphiti_spark.operators.incremental import ingest_incremental
        from graphiti_spark.pipeline import run_pipeline_from_pages

        spark = batch_df.sparkSession
        if prior is None:
            return run_pipeline_from_pages(spark, batch_df, cfg)
        return ingest_incremental(spark, batch_df, prior, cfg)

    return build


def make_ingest_batch_fn(
    state_dir: str, cfg: RunConfig | None = None, *, stream_id: str
):
    """The graph stream's foreachBatch callback (make_batch_fn)."""
    return make_batch_fn(state_dir, GRAPH_STATE, stream_id, _graph_build(cfg))


def run_streaming_ingest(
    spark: SparkSession,
    feed_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cfg: RunConfig | None = None,
    available_now: bool = True,
):
    """A pages feed becomes a continuously-updated graph (run_stream)."""
    return run_stream(
        spark, feed_dir, state_dir, checkpoint_dir, GRAPH_STATE,
        _graph_build(cfg), available_now,
    )


def windowed_episode_counts(
    pages_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window feed analytics (late rows beyond the
    watermark are dropped, state is bounded): episodes per (group,
    event-time window)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "group_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "group_id",
            "n_pages",
        )
    )
