"""Versioned exact-substring (span) dedup state: the standing tables an
always-on ExactSubstr service maintains as crawl increments arrive —
the span-dedup twin of operators/dedup_state.py, over the same
snapshot + delta-chain commit machinery as the graph (streaming/
ingest.py): per-table MERGE-style delta commits, write-new-then-flip
pointer, compaction every COMPACT_EVERY deltas.

State tables (materialize.save_graph parametrized over this family):

  docs   (id, text)                        the corpus
  grams  (id, pos, h1, h2, gram_shard)     the k-gram postings index —
                                           the distributed stand-in for
                                           Lee et al.'s suffix array,
                                           partitioned by gram_shard so
                                           a batch's gram probe prunes
  spans  (id, span_start, span_end,        the current maximal
          span_len)                        duplicated spans per doc

Monotonicity is what makes the increments cheap: ADDING docs can only
flip a gram unique → duplicated, so prior spans only grow/merge and the
repair set is the docs holding a flipped gram
(dedup_docs.dup_spans_incremental). REMOVING docs can only flip
duplicated → unique (count drops to 1), so the repair set is the
remaining holders of those flipped-down grams — both directions recompute
only |batch| + |touched docs| spans, never the corpus.

The ``spans`` delta relies on apply_graph_delta's upsert-keys-are-
implicit-deletes semantics keyed on ``id``: an upserted doc's span set
REPLACES its prior rows wholesale. Takedowns add explicit deletes for
docs whose span set becomes empty (a flip-down can erase a doc's only
span — upserts alone would leave the stale row).

No counterpart in the reference (it has no corpus layer); the family
contract (streamed ≡ one-shot rebuild, takedown ≡ rebuild over the
remaining corpus) is hash-proved by the ``span_state_stream`` /
``span_state_takedown`` oracle entries against the same DuckDB
gram+island closure as ``docs_dup_spans``.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.operators.dedup_docs import (
    _gram_occ,
    _spans_from_marked,
    dup_spans,
    dup_spans_incremental,
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

SPAN_TABLES = ("docs", "grams", "spans")
SPAN_DELTA_KEYS: dict[str, list[str]] = {
    "docs": ["id"],
    "grams": ["id"],
    "spans": ["id"],
}
SPAN_PARTITION_COLS = {"grams": "gram_shard"}
SPAN_STATE = StateFamily(
    SPAN_TABLES, SPAN_DELTA_KEYS, SPAN_PARTITION_COLS, DOCS_FEED_SCHEMA
)
N_GRAM_SHARDS = 64
SPAN_K = 8


def _flatten_occ(occ: DataFrame) -> DataFrame:
    """(id, pos, gram{h1,h2}) → the storable postings row."""
    return occ.select(
        "id",
        "pos",
        F.col("gram.h1").alias("h1"),
        F.col("gram.h2").alias("h2"),
        F.pmod(F.col("gram.h1"), F.lit(N_GRAM_SHARDS)).alias("gram_shard"),
    )


def _as_index(grams: DataFrame) -> DataFrame:
    """Storable postings → the (gram struct, id, pos) shape the
    incremental operator probes."""
    return grams.select(
        "id", "pos", F.struct(F.col("h1"), F.col("h2")).alias("gram")
    )


def init_span_state(
    docs: DataFrame,
    k: int = SPAN_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """Full rebuild: the first batch (and the equality oracle's right-
    hand side). Returns the {docs, grams, spans} table map."""
    state_docs = as_state_docs(docs, id_col, text_col)
    occ = _gram_occ(state_docs, k, "id", "text")
    return {
        "docs": state_docs,
        "grams": _flatten_occ(occ),
        "spans": dup_spans(state_docs, k, id_col="id"),
    }


def update_span_state(
    new_docs: DataFrame,
    prior: dict[str, DataFrame],
    k: int = SPAN_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """One increment: span-dedup the batch against the standing state
    and return the updated table map PLUS a ``delta`` entry holding only
    the changed rows (the per-table MERGE the commit writes).

    Law (hash-proved by ``span_state_stream`` and the fold pytest): for
    any split of a corpus into batches, folding update_span_state over
    them == init_span_state of the union.

    Adding docs only flips grams unique → duplicated, so every doc whose
    spans change appears in the incremental result (new docs with spans
    + touched prior docs) — upserts keyed on id replace exactly those
    docs' span sets; nothing needs an explicit delete. Batch-sized
    frames are localCheckpointed (the composed-plan lineage trap,
    operators/incremental.py)."""
    batch = as_state_docs(new_docs, id_col, text_col).localCheckpoint()
    spans_upserts = dup_spans_incremental(
        batch, _as_index(prior["grams"]), k, id_col="id", text_col="text"
    ).localCheckpoint()
    batch_grams = _flatten_occ(
        _gram_occ(batch, k, "id", "text")
    ).localCheckpoint()

    changed_ids = spans_upserts.select("id").distinct()
    spans = (
        prior["spans"]
        .join(F.broadcast(changed_ids), "id", "left_anti")
        .unionByName(spans_upserts)
    )
    return {
        "docs": prior["docs"].unionByName(batch),
        "grams": prior["grams"].unionByName(batch_grams),
        "spans": spans,
        "delta": {
            "docs": {"upserts": batch},
            "grams": {"upserts": batch_grams},
            "spans": {"upserts": spans_upserts},
        },
    }


def remove_doc_spans(
    doomed_ids: DataFrame,
    prior: dict[str, DataFrame],
    k: int = SPAN_K,
) -> dict[str, DataFrame]:
    """Takedown / right-to-be-forgotten for the span state: delete
    documents and repair the surviving spans — WITHOUT a full rebuild.

    Removal flips a gram's status one way (duplicated → unique when its
    remaining count is exactly 1), so the only remaining docs whose
    spans change are the last holders of such flipped-down grams. Their
    spans are recomputed from the surviving postings under the
    surviving dup predicate; a repaired doc can end with ZERO spans, so
    the delta carries explicit deletes for every touched id (law-tested
    and hash-proved: remove ≡ rebuild over the remaining corpus).

    Scale shape: every prior-sized access is key-pruned — postings by
    doomed id, counts only for the doomed docs' gram keys, the island
    window only over touched docs' marks."""
    doomed = doomed_ids.select("id").distinct().localCheckpoint()

    docs = prior["docs"].join(F.broadcast(doomed), "id", "left_anti")
    grams = prior["grams"].join(F.broadcast(doomed), "id", "left_anti")

    doomed_gram_keys = (
        prior["grams"]
        .join(F.broadcast(doomed), "id", "left_semi")
        .select("h1", "h2")
        .distinct()
    )
    # remaining counts of exactly the grams the doomed docs held
    remaining_cnt = (
        grams.join(doomed_gram_keys, ["h1", "h2"], "left_semi")
        .groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    flipped_down = remaining_cnt.filter(F.col("n_after") == 1).select(
        "h1", "h2"
    )
    touched_ids = (
        grams.join(flipped_down, ["h1", "h2"], "left_semi")
        .select("id")
        .distinct()
        .localCheckpoint()
    )

    # recompute touched docs' spans from surviving postings: a position
    # stays marked iff its gram still occurs > once in the REMAINING
    # corpus (counts pruned to the touched docs' gram keys)
    touched_occ = grams.join(F.broadcast(touched_ids), "id", "left_semi")
    touched_gram_cnt = (
        grams.join(
            touched_occ.select("h1", "h2").distinct(), ["h1", "h2"], "left_semi"
        )
        .groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    still_dup = touched_gram_cnt.filter(F.col("n_after") > 1).select(
        "h1", "h2"
    )
    marked = touched_occ.join(still_dup, ["h1", "h2"], "left_semi").select(
        "id", "pos"
    )
    spans_touched = _spans_from_marked(marked, k).localCheckpoint()

    gone = doomed.unionByName(touched_ids).distinct().localCheckpoint()
    spans = (
        prior["spans"]
        .join(F.broadcast(gone), "id", "left_anti")
        .unionByName(spans_touched)
    )
    return {
        "docs": docs,
        "grams": grams,
        "spans": spans,
        "delta": {
            "docs": {"upserts": docs.limit(0), "deletes": doomed},
            "grams": {"upserts": grams.limit(0), "deletes": doomed},
            "spans": {"upserts": spans_touched, "deletes": gone},
        },
    }


def commit_remove_doc_spans(
    spark: SparkSession, state_dir: str, doomed_ids: DataFrame
) -> None:
    """remove_doc_spans committed as the next version of the state."""
    commit_takedown(
        spark, state_dir, SPAN_STATE, lambda p: remove_doc_spans(doomed_ids, p)
    )


# ---------------------------------------------------------------- streaming
# one path with the graph stream (streaming/ingest.py): the first batch
# full-builds, every later batch updates the committed state


load_span_state = partial(load_state, family=SPAN_STATE)


def _build(k: int):
    return lambda batch, prior: (
        init_span_state(batch, k=k)
        if prior is None
        else update_span_state(batch, prior, k=k)
    )


def make_span_batch_fn(state_dir: str, *, stream_id: str, k: int = SPAN_K):
    """foreachBatch callback; its stream_id-scoped replay guard and
    commit are streaming/ingest.make_batch_fn's."""
    return make_batch_fn(state_dir, SPAN_STATE, stream_id, _build(k))


def run_streaming_spans(
    spark: SparkSession,
    feed_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = SPAN_K,
    available_now: bool = True,
):
    """A documents feed becomes a continuously-maintained {docs, grams,
    spans} state."""
    return run_stream(
        spark, feed_dir, state_dir, checkpoint_dir, SPAN_STATE, _build(k),
        available_now,
    )
