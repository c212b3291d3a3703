"""Versioned corpus-dedup state: the standing tables an always-on
dedup service maintains as crawl increments arrive, over the same
snapshot + delta-chain commit machinery as the graph (streaming/
ingest.py) — per-table MERGE-style delta commits, write-new-then-flip
pointer, compaction every COMPACT_EVERY deltas.

State tables (materialize.save_graph parametrized over this family):

  docs   (id, text)                  the corpus — the verify side reads
                                     prior text only for candidate ids
  index  (id, band_idx, band_key)    the MinHash-LSH index
                                     (dedup_docs.build_minhash_index),
                                     partitioned by band_idx so a
                                     batch's band-key probe prunes
  pairs  (a_id, b_id, jaccard)       the verified near-dup evidence —
                                     required so a DELETE can re-derive
                                     the surviving component structure
                                     (canon alone is a contraction and
                                     cannot split a cluster)
  canon  (id, canonical_id)          the canonical mapping

Per batch (update_dedup_state): pairs touching the batch come from
``minhash_near_dup_incremental`` (band probe against the PREBUILT
index — never prior x prior); ``canonical_docs_incremental`` recomputes
only touched components; the delta commit carries exactly the batch's
rows (docs/index appends, canon upserts of recomputed rows). Streamed
state is hash-provably equal to a one-shot full rebuild
(``init_dedup_state``) — the ``dedup_state_stream`` oracle entry checks
it against the same DuckDB closure as ``docs_canonical``.

Scale notes: at 100 TB the ``docs`` table is the Iceberg/warehouse
source table itself (the delta commit becomes that table's MERGE), not
a recopied parquet tree — the sandbox layout recopies it only at
snapshot compaction. Every prior-sized access in the update path is
key-pruned: the index probe by the batch's band keys, the canon
semi-join by pair ids, the docs semi-join by candidate ids. CC runs
over O(|batch pairs| + |touched members|).

No counterpart in the reference (its dedup state lives in the graph
DB); the shape mirrors its add_episode incremental contract
(graphiti.py:619-824) applied to the corpus instead of the graph.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.operators.dedup_docs import (
    build_minhash_index,
    canonical_docs,
    canonical_docs_incremental,
    minhash_near_dup,
    minhash_near_dup_incremental,
)
from graphiti_spark.streaming.ingest import (
    DOCS_FEED_SCHEMA,
    StateFamily,
    as_state_docs,
    commit_takedown,
    load_state,
    make_batch_fn,
    run_stream,
)

DEDUP_TABLES = ("docs", "index", "pairs", "canon")
# delete-then-append keys for merge-on-read (apply_graph_delta): a doc
# re-ingested in a later batch replaces its rows in every table
DEDUP_DELTA_KEYS: dict[str, list[str]] = {
    "docs": ["id"],
    "index": ["id"],
    "pairs": ["a_id", "b_id"],
    "canon": ["id"],
}
DEDUP_PARTITION_COLS = {"index": "band_idx"}
DEDUP_STATE = StateFamily(
    DEDUP_TABLES, DEDUP_DELTA_KEYS, DEDUP_PARTITION_COLS, DOCS_FEED_SCHEMA
)


def init_dedup_state(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.95,
    mode: str = "word",
    dropped_sink: list | None = None,
) -> dict[str, DataFrame]:
    """Full rebuild: the first batch (and the equality oracle's right-
    hand side). Returns the {docs, index, canon} table map."""
    state_docs = as_state_docs(docs, id_col, text_col)
    pairs = minhash_near_dup(
        state_docs, id_col="id", threshold=threshold, mode=mode,
        dropped_sink=dropped_sink,
    )
    return {
        "docs": state_docs,
        "index": build_minhash_index(state_docs, id_col="id"),
        "pairs": pairs,
        "canon": canonical_docs(state_docs, pairs, id_col="id"),
    }


def update_dedup_state(
    new_docs: DataFrame,
    prior: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.95,
    mode: str = "word",
    dropped_sink: list | None = None,
) -> dict[str, DataFrame]:
    """One increment: dedup the batch against the standing state and
    return the updated table map PLUS a ``delta`` entry holding only the
    batch's changed rows (the per-table MERGE the commit writes).

    Law (hash-proved by the ``dedup_state_stream`` oracle and the
    pytest): for any split of a corpus into batches, folding
    update_dedup_state over them == init_dedup_state of the union.

    The batch-sized frames (incremental pairs, batch index rows, the
    recomputed canon rows) are localCheckpointed: the prior state is a
    lazy merge-on-read plan referenced several times here, and composing
    it un-truncated grows the plan multiplicatively per batch (same
    lineage trap as operators/incremental.py)."""
    batch = as_state_docs(new_docs, id_col, text_col)
    inc_pairs = minhash_near_dup_incremental(
        batch,
        prior["index"],
        prior["docs"],
        id_col="id",
        threshold=threshold,
        mode=mode,
        dropped_sink=dropped_sink,
    ).localCheckpoint()
    batch = batch.localCheckpoint()
    batch_index = build_minhash_index(batch, id_col="id").localCheckpoint()

    canon_sink: list[DataFrame] = []
    canon = canonical_docs_incremental(
        prior["canon"], batch, inc_pairs, id_col="id", delta_sink=canon_sink
    )
    canon_upserts = canon_sink[0].localCheckpoint()
    # rebuild the full mapping from the checkpointed upserts so the
    # returned plan is prior + one bounded appendix, not prior x2
    touched = canon_upserts.select("id")
    canon = (
        prior["canon"].join(F.broadcast(touched), "id", "left_anti")
        .unionByName(canon_upserts)
    )
    return {
        "docs": prior["docs"].unionByName(batch),
        "index": prior["index"].unionByName(batch_index),
        "pairs": prior["pairs"].unionByName(inc_pairs),
        "canon": canon,
        "delta": {
            "docs": {"upserts": batch},
            "index": {"upserts": batch_index},
            "pairs": {"upserts": inc_pairs},
            "canon": {"upserts": canon_upserts},
        },
    }


def remove_docs(
    doomed_ids: DataFrame,
    prior: dict[str, DataFrame],
) -> dict[str, DataFrame]:
    """Takedown / right-to-be-forgotten: delete documents from the
    standing state and repair the canonical mapping — WITHOUT a full
    rebuild. The retained ``pairs`` evidence is what makes this sound:
    a canonical mapping is an edge CONTRACTION, so removing a cut vertex
    must SPLIT its cluster — only the surviving pair structure of the
    touched components can say how (law-tested: remove ≡ rebuild over
    the remaining corpus).

    ``doomed_ids``: one ``id`` column. Returns the updated table map +
    a ``delta`` whose deletes/upserts carry only the doomed rows and the
    touched components' recomputed canon rows.

    Scale shape: prior-sized accesses are all key-pruned semi/anti-joins
    (docs/index/pairs by doomed id; canon by touched canonical_id — the
    doomed set is broadcast). CC re-runs over only the touched
    components' surviving pairs."""
    from graphiti_spark.operators.cc import connected_components

    doomed = doomed_ids.select("id").distinct().localCheckpoint()
    doomed_a = F.broadcast(doomed.select(F.col("id").alias("a_id")))
    doomed_b = F.broadcast(doomed.select(F.col("id").alias("b_id")))

    docs = prior["docs"].join(F.broadcast(doomed), "id", "left_anti")
    index = prior["index"].join(F.broadcast(doomed), "id", "left_anti")
    dead_pairs = prior["pairs"].join(
        doomed_a, "a_id", "left_semi"
    ).unionByName(
        prior["pairs"].join(doomed_b, "b_id", "left_semi")
    ).select("a_id", "b_id").distinct().localCheckpoint()
    pairs = (
        prior["pairs"]
        .join(F.broadcast(dead_pairs), ["a_id", "b_id"], "left_anti")
    )

    # components touched by a doomed doc: recompute their SURVIVING
    # members from the surviving pairs of those components
    touched_canons = (
        prior["canon"].join(F.broadcast(doomed), "id", "left_semi")
        .select("canonical_id").distinct()
    )
    members = prior["canon"].join(
        F.broadcast(touched_canons), "canonical_id", "left_semi"
    )
    survivors = members.join(F.broadcast(doomed), "id", "left_anti").select("id")
    surviving_pairs = pairs.join(
        F.broadcast(survivors.select(F.col("id").alias("a_id"))),
        "a_id",
        "left_semi",
    )

    from graphiti_spark.operators.dedup_docs import long_id_key, long_id_unkey

    pad = long_id_key
    cc = connected_components(
        surviving_pairs.select(
            pad(F.col("a_id")).alias("src"), pad(F.col("b_id")).alias("dst")
        )
    )
    recomputed = (
        survivors.select(pad(F.col("id")).alias("uuid"))
        .join(cc, "uuid", "left")
        .select(
            long_id_unkey(F.col("uuid")).alias("id"),
            long_id_unkey(
                F.coalesce(F.col("canonical_uuid"), F.col("uuid"))
            ).alias("canonical_id"),
        )
        .localCheckpoint()
    )
    canon = (
        prior["canon"]
        .join(F.broadcast(touched_canons), "canonical_id", "left_anti")
        .unionByName(recomputed)
    )
    empty_docs = docs.limit(0)
    empty_index = index.limit(0)
    return {
        "docs": docs,
        "index": index,
        "pairs": pairs,
        "canon": canon,
        "delta": {
            "docs": {"upserts": empty_docs, "deletes": doomed},
            "index": {"upserts": empty_index, "deletes": doomed},
            "pairs": {"upserts": pairs.limit(0), "deletes": dead_pairs},
            "canon": {"upserts": recomputed, "deletes": doomed},
        },
    }


def commit_remove_docs(
    spark: SparkSession, state_dir: str, doomed_ids: DataFrame
) -> None:
    """remove_docs committed as the next version of the state."""
    commit_takedown(
        spark, state_dir, DEDUP_STATE, lambda p: remove_docs(doomed_ids, p)
    )


# ---------------------------------------------------------------- streaming
# one path with the graph stream (streaming/ingest.py): the first batch
# full-builds, every later batch updates the committed state


load_dedup_state = partial(load_state, family=DEDUP_STATE)


def _build(threshold: float, mode: str):
    return lambda batch, prior: (
        init_dedup_state(batch, threshold=threshold, mode=mode)
        if prior is None
        else update_dedup_state(batch, prior, threshold=threshold, mode=mode)
    )


def make_dedup_batch_fn(
    state_dir: str,
    *,
    stream_id: str,
    threshold: float = 0.95,
    mode: str = "word",
):
    """foreachBatch callback; its stream_id-scoped replay guard and
    commit are streaming/ingest.make_batch_fn's."""
    return make_batch_fn(
        state_dir, DEDUP_STATE, stream_id, _build(threshold, mode)
    )


def run_streaming_dedup(
    spark: SparkSession,
    feed_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    mode: str = "word",
    available_now: bool = True,
):
    """A documents feed becomes a continuously-maintained {docs, index,
    pairs, canon} state — the corpus-side twin of run_streaming_ingest."""
    return run_stream(
        spark, feed_dir, state_dir, checkpoint_dir, DEDUP_STATE,
        _build(threshold, mode), available_now,
    )
