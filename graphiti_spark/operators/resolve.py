"""Entity resolution (SURVEY.md §2.3, D1–D10).

Reference flow (graphiti_core/utils/maintenance/node_operations.py:395-450 +
dedup_helpers.py): exact-normalized match → entropy gate → MinHash/LSH
blocking → Jaccard ≥ 0.9 accept → LLM escalation. This engine reproduces
the deterministic passes exactly (same constants) and replaces the LLM
escalation with an embedding-cosine fallback (D8', north_star).

Batch formulation (replaces the per-name loop):

  1. mentions → DISTINCT (group_id, name) candidate entities; exact
     canonicalization IS the identity `uuid = sha256(group_id|name_norm)`
     (D1: names that normalize equal share a uuid by construction).
  2. entropy gate (native columns) splits names into fuzzy-eligible vs not.
  3. fuzzy-eligible names: native shingles → MinHash (pandas UDF) →
     explode LSH bands into an id-sized, checkpointed band frame →
     self-join on (group_id, band_idx, band_key) = THE blocking shuffle
     (reference's lsh_buckets, dedup_helpers.py:117-128,170-195).
  4. distinct candidate pairs → names and shingles joined back → native
     Jaccard; accept ≥ 0.9 (D7); pairs failing Jaccard get the
     embedding-cosine fallback ≥ 0.95 (D8').
  5. accepted duplicate pairs → connected components (min-uuid canonical,
     D13/D14) → uuid_map(alias → canonical).

Scale notes: everything after step 1 operates on entity rows, one per
distinct (group_id, name) — orders of magnitude fewer than the mention
stream, though a name recurring in many groups is one row (and one
MinHash evaluation) per group. Blocking reads the band frame four times
(bucket sizes, cap join, both self-join sides) and scoring reads the
candidate frame twice, so both are materialized with localCheckpoint:
each signature is computed once per batch, and neither checkpoint holds
shingle arrays. The LSH band join is the only quadratic-risk stage;
bucket sizes are bounded by band collisions (reference accepts the same
bound), and a per-bucket cap guards pathological buckets. groupBy in
step 1 does map-side partial aggregation; hub names never concentrate
because the key is the name itself (uniform by hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.config import (
    EMBED_COSINE_THRESHOLD,
    FUZZY_JACCARD_THRESHOLD,
)
from graphiti_spark.functions.dedup_text import (
    entropy_gate_col,
    jaccard_col,
    lsh_band_keys_col,
    minhash_signature_udf,
    normalize_name_for_fuzzy_col,
    normalize_string_exact_col,
    shingles_col,
)
from graphiti_spark.functions.embed import cosine_col, make_embed_udf

# Guard against pathological LSH buckets (all-identical band values).
MAX_BUCKET_SIZE = 1000


def extracted_entities(mentions: DataFrame) -> DataFrame:
    """mentions(episode_uuid, group_id, name, …) → distinct candidate
    entities with deterministic exact-canonical uuids (D1)."""
    return (
        mentions.select(
            "group_id",
            normalize_string_exact_col(F.col("name")).alias("name"),
        )
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).alias("mention_count"))
        .withColumn("uuid", ids.entity_uuid_col(F.col("group_id"), F.col("name")))
    )


def lsh_bands(prepared: DataFrame, id_cols: list[str]) -> DataFrame:
    """prepared(*id_cols, shingles) → (*id_cols, band_idx, band_key), one
    row per LSH band of every row's MinHash signature. Lazy; the plan
    holds ONE evaluation of the MinHash UDF: ``explode_outer`` keeps
    Catalyst from inferring a non-empty-array filter on the generator
    input, which it would push below the UDF's Project as a second
    ArrowEvalPython over the same rows. The null band of an empty or
    null signature is filtered after the explode, where nothing can
    push it down."""
    bands = lsh_band_keys_col(minhash_signature_udf(F.col("shingles")))
    return (
        prepared.select(*id_cols, F.explode_outer(bands).alias("b"))
        .select(
            *id_cols,
            F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_key").alias("band_key"),
        )
        .filter(F.col("band_key").isNotNull())
    )


def lsh_band_frame(prepared: DataFrame, id_cols: list[str]) -> DataFrame:
    """``lsh_bands`` materialized with ``localCheckpoint``: each signature
    is computed once per batch however often blocking reads the bands
    (bucket-size aggregate, cap join, both self-join sides). The frame is
    ID-SIZED (ids + band keys, never shingle arrays); callers join names
    and shingles back onto the distinct candidate pairs only."""
    return lsh_bands(prepared, id_cols).localCheckpoint()


def _gated_shingles(entities: DataFrame) -> DataFrame:
    """(uuid, group_id, name) → (uuid, group_id, shingles) of the
    fuzzy-eligible names; low-entropy names resolve via exact only (D3)."""
    fuzzy = normalize_name_for_fuzzy_col(F.col("name"))
    return entities.filter(entropy_gate_col(fuzzy)).select(
        "uuid", "group_id", shingles_col(fuzzy).alias("shingles")
    )


def _name_shingles(entities: DataFrame) -> DataFrame:
    """(uuid, name, shingles), one row per uuid (a uuid names one
    (group_id, name)): the lookup joined onto candidate pairs."""
    return (
        entities.select("uuid", "name")
        .distinct()
        .withColumn(
            "shingles", shingles_col(normalize_name_for_fuzzy_col(F.col("name")))
        )
    )


def banded_names(entities: DataFrame) -> DataFrame:
    """(uuid, group_id, name) → one row per LSH band of every
    fuzzy-eligible name: (uuid, group_id, band_idx, band_key), checkpointed
    (``lsh_band_frame``). The shared blocking front-end of batch
    self-dedup (D12) and incremental resolve-vs-existing-graph (D9)."""
    return lsh_band_frame(_gated_shingles(entities), ["uuid", "group_id"])


def capped_buckets(
    banded: DataFrame,
    max_bucket: int = MAX_BUCKET_SIZE,
    keys: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split banded rows into (kept, dropped_bucket_metrics).

    A bucket above max_bucket is a pathological LSH collision (e.g. all-
    identical band values); dropping it bounds the pair join but LOSES
    RECALL, so the drop is surfaced as a metrics frame
    (*keys, bucket_n) instead of silently vanishing — callers feed it to
    lineage/bench output."""
    keys = keys or ["group_id", "band_idx", "band_key"]
    bucket_sizes = banded.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    kept = banded.join(bucket_sizes.filter(F.col("bucket_n") <= max_bucket), keys)
    dropped = bucket_sizes.filter(F.col("bucket_n") > max_bucket)
    return kept, dropped


def lsh_candidate_pairs(
    bands: DataFrame,
    id_col: str,
    keys: list[str],
    max_bucket: int,
    dropped_sink: list | None = None,
) -> DataFrame:
    """Self-join blocking over a band frame: distinct (a, b) id pairs,
    a < b, sharing a kept bucket. The capped-bucket metrics frame goes to
    ``dropped_sink`` when one is given."""
    kept, dropped = capped_buckets(bands, max_bucket, keys=keys)
    if dropped_sink is not None:
        dropped_sink.append(dropped)

    def side(name):
        return kept.select(*keys, F.col(id_col).alias(name))

    return (
        side("a").join(side("b"), keys)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _score_candidate_pairs(cand: DataFrame, names: DataFrame) -> DataFrame:
    """Shared D7/D8' acceptance: exact Jaccard ≥ 0.9, else near-misses
    (0.5 ≤ j < 0.9) escalate to embedding cosine ≥ 0.95. ``cand``: distinct
    (a, b) uuid pairs; ``names``: (uuid, name, shingles) covering them.

    Names, shingles and Jaccard are joined onto the candidates once and
    the (uuid, name, jaccard) pair frame is materialized, so the two
    acceptance branches read it instead of re-running the candidate
    plan. The branches are disjoint and the pairs distinct, so their
    union is distinct."""
    embed_udf = make_embed_udf()

    def side(p):
        return names.select(
            F.col("uuid").alias(p),
            F.col("name").alias(f"{p}_name"),
            F.col("shingles").alias(f"{p}_shingles"),
        )

    scored = (
        cand.join(side("a"), "a")
        .join(side("b"), "b")
        .select(
            "a", "a_name", "b", "b_name",
            jaccard_col(F.col("a_shingles"), F.col("b_shingles")).alias("jaccard"),
        )
        .localCheckpoint()
    )
    by_jaccard = scored.filter(F.col("jaccard") >= FUZZY_JACCARD_THRESHOLD)
    near_miss = (
        scored.filter(
            (F.col("jaccard") < FUZZY_JACCARD_THRESHOLD) & (F.col("jaccard") >= 0.5)
        )
        .withColumn("a_emb", embed_udf(F.col("a_name")))
        .withColumn("b_emb", embed_udf(F.col("b_name")))
        .filter(cosine_col(F.col("a_emb"), F.col("b_emb")) >= EMBED_COSINE_THRESHOLD)
    )
    return by_jaccard.select("a", "b").union(near_miss.select("a", "b")).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )


def duplicate_pairs(
    entities: DataFrame, dropped_sink: list | None = None
) -> DataFrame:
    """Fuzzy duplicate discovery: LSH blocking + Jaccard + embedding
    fallback. Input: entities(uuid, group_id, name). Output: (src, dst)
    accepted duplicate pairs (src < dst, undirected, distinct).

    ``dropped_sink``: optional list; if given, the dropped-bucket metrics
    DataFrame is appended (lazily evaluated by the caller)."""
    cand = lsh_candidate_pairs(
        banded_names(entities),
        "uuid",
        ["group_id", "band_idx", "band_key"],
        MAX_BUCKET_SIZE,
        dropped_sink,
    )
    return _score_candidate_pairs(cand, _name_shingles(entities))


def duplicate_pairs_between(
    new_entities: DataFrame,
    existing_entities: DataFrame,
    dropped_sink: list | None = None,
) -> DataFrame:
    """D9 batch form — resolve NEW names against the EXISTING graph's
    name index (reference node_operations.py:211-243 retrieves
    candidates per extracted name; here one LSH band join does it for
    the whole batch). Acceptance rules identical to duplicate_pairs.
    Output (src, dst) with src < dst so downstream CC treats the union
    of within-batch and cross-batch pairs uniformly."""
    keys = ["group_id", "band_idx", "band_key"]
    new_banded = banded_names(new_entities)
    old_banded = banded_names(existing_entities)
    # cap on the combined bucket population (mirrors what one big batch
    # would have seen)
    combined, dropped = capped_buckets(new_banded.unionByName(old_banded))
    if dropped_sink is not None:
        dropped_sink.append(dropped)
    kept_keys = combined.select(*keys).distinct()

    def side(banded, name):
        return banded.join(kept_keys, keys).select(*keys, F.col("uuid").alias(name))

    cand = (
        side(new_banded, "n").join(side(old_banded, "o"), keys)
        .filter(F.col("n") != F.col("o"))
        .select(F.least("n", "o").alias("a"), F.greatest("n", "o").alias("b"))
        .distinct()
    )
    names = _name_shingles(
        new_entities.select("uuid", "name").unionByName(
            existing_entities.select("uuid", "name")
        )
    )
    return _score_candidate_pairs(cand, names)


def canonical_uuid_map(entities: DataFrame, pairs: DataFrame) -> DataFrame:
    """entities × duplicate pairs → uuid_map(uuid → canonical_uuid) covering
    EVERY entity (identity rows included) — the reference's compressed
    uuid_map contract (bulk_utils.py:498-535, min-uuid root)."""
    from graphiti_spark.operators.cc import connected_components

    cc = connected_components(pairs)
    return entities.select("uuid").join(cc, "uuid", "left").select(
        "uuid", F.coalesce("canonical_uuid", "uuid").alias("canonical_uuid")
    )
