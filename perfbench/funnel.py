"""curate_funnel: ``operators.curation.curation_funnel(sample_rate=1.0)``
over a seeded web-crawl-like corpus.

The input is staged as a multi-file table (two files per core) so the
scan and the MinHash UDF run on every core. The traced op composes the
same stages from their public functions, each forced at its boundary.
Both must keep exactly the docs (and line-deduped content) the DuckDB
oracle keeps, and leave at most one survivor of every planted copy group.
"""

from __future__ import annotations

import os

import checks
from corpus import funnel_corpus, write_parquet

N_BASE = 1800
SAMPLE_SEED = "curate"  # curation_funnel's default draw
# run_traced copies curation_funnel stage by stage; the traced run refuses
# to start when its source no longer has this digest (see kg.MIRRORS).
MIRRORS = {
    "graphiti_spark.operators.curation:curation_funnel":
        "1318e5760bd0a552b30d9a2fc90df76632d328c862010d000e88ffa9f944a9ce",
}


def prepare(seed: int, work_dir: str, cores: int) -> dict:
    docs, planted = funnel_corpus(seed, N_BASE)
    os.makedirs(work_dir)
    path = os.path.join(work_dir, "documents.parquet")
    write_parquet(docs, path, n_files=2 * cores)
    return {"path": path, "n_docs": len(docs), "planted": planted}


# The oracle compares every doc pair for near duplicates, O(n^2): minutes
# at this corpus size. Any pair with word-set Jaccard >= 0.95 shares a
# word among the rarest |w| - floor(0.94 |w|) + 1 words of each doc
# (prefix filtering; the 0.94 leaves room for float rounding), so joining
# only pairs that share such a word, then applying the oracle's own exact
# test, gives the same pairs in about a second.
PREFIX_CTES = """cf_df AS MATERIALIZED (
  SELECT word, count(*) AS df FROM (SELECT unnest(w) AS word FROM cf_s)
  GROUP BY word
),
cf_pre AS MATERIALIZED (
  SELECT id, word FROM (
    SELECT x.id, x.word, x.n,
           row_number() OVER (PARTITION BY x.id ORDER BY f.df, x.word) AS r
    FROM (SELECT id, unnest(w) AS word, len(w) AS n FROM cf_s) x
    JOIN cf_df f USING (word)
  ) WHERE r <= n - floor(0.94 * n) + 1
),
cf_cand AS MATERIALIZED (
  SELECT DISTINCT p.id AS a, q.id AS b
  FROM cf_pre p JOIN cf_pre q ON p.word = q.word AND p.id < q.id
),
"""
ALL_PAIRS = "  FROM cf_s a JOIN cf_s b ON a.id < b.id\n"
CANDIDATE_PAIRS = "  FROM cf_cand c JOIN cf_s a ON a.id = c.a JOIN cf_s b ON b.id = c.b\n"
# The oracle tokenizes the gates' input on single spaces, the engine
# (textstats._tokens) on any whitespace. The two agree only on one-line
# text, but line dedup hands the gates multi-line text, so a marker word
# at a line edge ("word\nles") counts in the engine and not in the
# oracle, and can flip the language gate. The repository's oracle has
# this defect; the benchmark's copy splits on whitespace like the engine.
SPACE_TOKENS = "string_split(lower(trim(text)), ' ')"
WHITESPACE_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"


def _oracle_sql() -> str:
    """The repository's docs_curation_funnel oracle with every draw kept
    (it samples at 0.5; this workload at 1.0), prefix-filtered pairs and
    whitespace tokens in the gates."""
    from graphiti_spark.oracle import oracle_queries

    sql = oracle_queries()["docs_curation_funnel"]
    tail = " < 0.5\nORDER BY d.doc_id"
    if (not sql.endswith(tail) or sql.count(ALL_PAIRS) != 1
            or sql.count(SPACE_TOKENS) != 1):
        raise RuntimeError("docs_curation_funnel oracle changed shape")
    sql = sql[: -len(tail)] + " < 1.0\nORDER BY d.doc_id"
    sql = sql.replace("cf_p AS MATERIALIZED (", PREFIX_CTES + "cf_p AS MATERIALIZED (", 1)
    sql = sql.replace(SPACE_TOKENS, WHITESPACE_TOKENS)
    return sql.replace(ALL_PAIRS, CANDIDATE_PAIRS)


def expected(inp: dict) -> dict:
    con = checks.duckdb_over(inp["path"])
    return {
        "survivors": checks.digest(
            con, f"SELECT doc_id, content_sha FROM ({_oracle_sql()})"
        )
    }


def check_planted(survivor_ids: set, planted: dict) -> list[str]:
    """Every planted copy group (exact and near copies joined, since one
    doc can be copied both ways) keeps at most one survivor."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for group in planted["exact"] + planted["near"]:
        for d in group[1:]:
            parent[find(d)] = find(group[0])
    comps: dict[int, list[int]] = {}
    for d in parent:
        comps.setdefault(find(d), []).append(d)
    bad = [sorted(c) for c in comps.values()
           if len(survivor_ids.intersection(c)) > 1]
    return [f"planted copies kept twice: {bad[:3]}"] if bad else []


def _load(spark, inp):
    return spark.read.parquet(inp["path"]).select("doc_id", "text")


def run_op(spark, inp: dict) -> list:
    """One funnel; returns the survivors' (doc_id, content_sha) rows."""
    from graphiti_spark.operators.curation import curation_funnel

    out = curation_funnel(_load(spark, inp), sample_rate=1.0)
    return [tuple(r) for r in out.select("doc_id", "content_sha").collect()]


def run_traced(spark, inp: dict, layer, counts) -> list:
    """The same funnel as ``run_op``, one stage at a time (a copy of
    operators.curation.curation_funnel, guarded by ``MIRRORS``)."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.curation import dedup_lines
    from graphiti_spark.operators.dedup_docs import (
        canonical_docs,
        exact_dedup,
        minhash_near_dup,
    )
    from graphiti_spark.operators.sampling import sample_fraction
    from graphiti_spark.operators.textstats import language_id, quality_score

    with layer("exact_dedup"):
        docs = _load(spark, inp)
        ex = exact_dedup(docs)
        ids1 = (
            ex.filter(F.col("id") == F.col("canonical_id"))
            .select(F.col("id").alias("doc_id"))
            .localCheckpoint()
        )
    counts("exact_dedup.rows_out", ids1.count)
    d = docs.join(ids1, "doc_id")

    drop_sink: list = []
    with layer("minhash"):
        pairs = minhash_near_dup(
            d, threshold=0.95, mode="word", dropped_sink=drop_sink
        ).persist()
        accepted = pairs.count()
    counts("minhash.dropped_buckets", lambda: drop_sink[0].count())
    counts("minhash.accepted_pairs", accepted)
    counts("minhash.candidate_pairs", lambda d=d: candidate_pairs(d))
    counts("minhash.shingle_reuse", lambda d=d: shingle_reuse(d))

    with layer("cc"):
        canon = canonical_docs(d, pairs)
        ids2 = (
            canon.filter(F.col("id") == F.col("canonical_id"))
            .select(F.col("id").alias("doc_id"))
            .localCheckpoint()
        )
    counts("cc.rows_out", ids2.count)
    d = d.join(ids2, "doc_id")

    with layer("lines"):
        dl = dedup_lines(d)
        d = (
            d.drop("text")
            .join(
                dl.select(
                    F.col("id").alias("doc_id"), F.col("text_dedup").alias("text")
                ),
                "doc_id",
            )
            .filter(F.length("text") > 0)
            .localCheckpoint()
        )
    counts("lines.rows_out", d.count)

    with layer("gates"):
        lang = language_id(d).select(F.col("id").alias("doc_id"), "pred_lang")
        qual = quality_score(d).select(
            F.col("id").alias("doc_id"), F.col("score").alias("quality")
        )
        d = (
            d.join(lang, "doc_id")
            .join(qual, "doc_id")
            .filter(F.col("pred_lang").isin("en", "und"))
            .filter(F.col("quality") >= 0.25)
        )
        d = sample_fraction(d, 1.0, seed=SAMPLE_SEED)
        rows = [
            tuple(r)
            for r in d.select(
                "doc_id", F.sha2(F.col("text").cast("binary"), 256)
            ).collect()
        ]
    counts("gates.rows_out", len(rows))
    return rows


def candidate_pairs(d) -> int:
    """Distinct doc pairs the MinHash LSH banding proposes, before the
    exact Jaccard check (the blocking half of minhash_near_dup)."""
    from pyspark.sql import functions as F

    from graphiti_spark.functions.dedup_text import (
        lsh_band_keys_col,
        minhash_signature_udf,
    )
    from graphiti_spark.operators.dedup_docs import MAX_BUCKET, shingles_of
    from graphiti_spark.operators.resolve import capped_buckets

    banded = d.select(
        F.col("doc_id").alias("id"),
        F.explode(
            lsh_band_keys_col(minhash_signature_udf(shingles_of(F.col("text"), "word")))
        ).alias("b"),
    ).select("id", "b.band_idx", "b.band_key")
    kept, _ = capped_buckets(banded, MAX_BUCKET, keys=["band_idx", "band_key"])
    a = kept.select("band_idx", "band_key", F.col("id").alias("a"))
    b = kept.select("band_idx", "band_key", F.col("id").alias("b"))
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )


def shingle_reuse(d) -> float:
    """Word-shingle occurrences / distinct shingles over the near-dup
    stage's input: how much a per-shingle memo could save."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.dedup_docs import shingles_of

    sh = d.select(F.explode(shingles_of(F.col("text"), "word")).alias("s"))
    row = sh.agg(F.count("s").alias("n"), F.countDistinct("s").alias("k")).first()
    return row["n"] / max(row["k"], 1)
