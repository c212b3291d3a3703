"""kg_build: pages -> knowledge graph -> saved graph tables.

The op is ``pipeline.run_pipeline`` followed by ``materialize.save_graph``
of every graph table into a fresh directory, from a fresh session (each
batch build is its own process, so the op is measured cold). The traced
op composes the same stages from each layer's public functions and
forces every layer boundary; both must write the graph the DuckDB oracle
computes. The traced run then probes the search layer over the saved
graph.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import checks
from corpus import kg_corpus, write_parquet

N_DOCS = 1000
# run_traced copies the composition of these functions stage by stage.
# The traced run refuses to start when their source no longer has the
# digest recorded here, so a change to the composition has to be carried
# into run_traced (and the digest renewed) before layers are measured.
MIRRORS = {
    "graphiti_spark.pipeline:run_pipeline":
        "a0a54fc33cbd1b74b6f100c1b906e9242844cddf14430625e9fe9424c568c97d",
    "graphiti_spark.pipeline:run_pipeline_from_pages":
        "bc8f7183b642b18a7db4221c621a0b5fdcfce37ed2c45259b5b79069a701a38c",
}


def prepare(seed: int, work_dir: str) -> dict:
    docs = kg_corpus(seed, N_DOCS)
    os.makedirs(work_dir)
    write_parquet(docs, os.path.join(work_dir, "documents.parquet"))
    return {"sf_dir": work_dir, "n_docs": len(docs)}


def expected(inp: dict) -> dict:
    """Row counts and digests of the graph the DuckDB oracle builds from
    the same documents table."""
    from graphiti_spark.oracle import oracle_queries

    q = oracle_queries()
    con = checks.duckdb_over(os.path.join(inp["sf_dir"], "documents.parquet"))
    return {
        "edges": checks.digest(con, f"""SELECT uuid, valid_at, invalid_at
            FROM ({q['flagship_triples']})"""),
        "nodes": checks.digest(con, f"SELECT uuid FROM ({q['nodes']})"),
        "mention_edges": checks.digest(
            con, f"SELECT uuid FROM ({q['mention_edges']})"
        ),
    }


def observed(graph_dir: str) -> dict:
    con = checks.duckdb_over(None)

    def table(name):
        return (f"read_parquet('{graph_dir}/{name}/*/*.parquet', "
                "hive_partitioning = true)")

    return {
        "edges": checks.digest(con, f"""SELECT uuid,
            strftime(valid_at, '%Y-%m-%d %H:%M:%S') AS valid_at,
            strftime(invalid_at, '%Y-%m-%d %H:%M:%S') AS invalid_at
            FROM {table('edges')}"""),
        "nodes": checks.digest(con, f"SELECT uuid FROM {table('nodes')}"),
        "mention_edges": checks.digest(
            con, f"SELECT uuid FROM {table('mention_edges')}"
        ),
    }


def run_op(spark, inp: dict, out_dir: str) -> None:
    """One build, saved to ``out_dir``."""
    from graphiti_spark.config import RunConfig
    from graphiti_spark.materialize import save_graph
    from graphiti_spark.pipeline import run_pipeline

    save_graph(run_pipeline(spark, inp["sf_dir"], RunConfig()), out_dir)


def run_traced(spark, inp: dict, out_dir: str, layer, counts) -> None:
    """The same build as ``run_op``, one layer at a time (a copy of
    pipeline.run_pipeline_from_pages with the default RunConfig, every
    stage but pages persisted; guarded by ``MIRRORS``). ``layer(name)``
    opens the layer's span and job group; ``counts(name, value)`` records
    a layer count, where a callable value is evaluated after the op,
    outside every layer span.
    The persisted stages stay cached for those counts; the caller clears
    the cache."""
    from pyspark.sql import functions as F

    from graphiti_spark.config import BROADCAST_MAP_MAX_ROWS, RunConfig
    from graphiti_spark.materialize import save_graph
    from graphiti_spark.operators.edges import (
        build_mention_edges,
        triples_to_edges,
    )
    from graphiti_spark.operators.extract import (
        extract_token_stream,
        mentions_from_stream,
        triples_from_stream,
    )
    from graphiti_spark.operators.resolve import (
        canonical_uuid_map,
        duplicate_pairs,
        extracted_entities,
    )
    from graphiti_spark.operators.temporal import invalidate_cross_predicate
    from graphiti_spark.pipeline import build_nodes
    from graphiti_spark.search.fulltext import build_graph_postings
    from graphiti_spark.sources.pages import load_pages, pages_to_episodes

    cfg = RunConfig()
    ts = cfg.run_ts
    with layer("sources"):
        pages = load_pages(spark, inp["sf_dir"])
        episodes = pages_to_episodes(pages, ts).persist()
        n = episodes.count()
    counts("sources.rows_out", n)

    with layer("extract"):
        stream = extract_token_stream(episodes, cfg.excluded_entity_types).persist()
        mentions = mentions_from_stream(stream).persist()
        triples = triples_from_stream(stream).persist()
        n = mentions.count() + triples.count()
    counts("extract.rows_out", n)

    drop_sink: list = []
    with layer("resolve"):
        entities = extracted_entities(mentions).persist()
        entities.count()
        pairs = duplicate_pairs(entities, dropped_sink=drop_sink).persist()
        accepted = pairs.count()
    counts("resolve.dropped_buckets", lambda: drop_sink[0].count())
    counts("resolve.candidate_pairs", lambda: candidate_pairs(entities))
    counts("resolve.name_reuse", lambda: name_reuse(entities))
    counts("resolve.accepted_pairs", accepted)

    with layer("cc"):
        uuid_map = canonical_uuid_map(entities, pairs).persist()
        n = uuid_map.count()
        small = n <= BROADCAST_MAP_MAX_ROWS
    counts("cc.rows_out", n)

    with layer("edges"):
        edges_merged = triples_to_edges(
            triples, uuid_map, ts, map_is_small=small
        ).persist()
        mention_edges = build_mention_edges(
            mentions, uuid_map, ts, map_is_small=small
        ).persist()
        n = edges_merged.count() + mention_edges.count()
    counts("edges.rows_out", n)

    with layer("temporal"):
        edges = invalidate_cross_predicate(edges_merged, ts).persist()
        edges.count()
    counts(
        "temporal.invalidated",
        lambda: edges.filter(F.col("invalid_at").isNotNull()).count(),
    )

    with layer("nodes"):
        nodes = build_nodes(
            entities, uuid_map, edges_merged, ts, map_is_small=small
        ).persist()
        n = nodes.count()
    counts("nodes.rows_out", n)

    with layer("fulltext"):
        postings = build_graph_postings(
            {"edges": edges_merged, "nodes": nodes, "episodes": episodes}
        ).persist()
        n = postings.count()
    counts("fulltext.rows_out", n)

    with layer("materialize"):
        save_graph(
            {
                "episodes": episodes, "entities": entities, "pairs": pairs,
                "uuid_map": uuid_map, "nodes": nodes, "edges": edges,
                "mention_edges": mention_edges, "postings": postings,
            },
            out_dir,
        )


def candidate_pairs(entities) -> int:
    """Distinct pairs the entity-name LSH blocking proposes, before
    Jaccard and embedding scoring (the blocking half of
    resolve.duplicate_pairs)."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.resolve import banded_names, capped_buckets

    kept, _ = capped_buckets(banded_names(entities))
    a = kept.select("group_id", "band_idx", "band_key", F.col("uuid").alias("a"))
    b = kept.select("group_id", "band_idx", "band_key", F.col("uuid").alias("b"))
    return (
        a.join(b, ["group_id", "band_idx", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )


def name_reuse(entities) -> float:
    """Entity rows / distinct entity names: how often one name recurs
    across groups, so how much a per-name memo (the embed memo) saves."""
    from pyspark.sql import functions as F

    row = entities.agg(F.count("name").alias("n"),
                       F.countDistinct("name").alias("k")).first()
    return row["n"] / max(row["k"], 1)


def search_probe(spark, graph_dir: str, seed: int, layer) -> dict:
    """One query per retrieval arm and per recipe over the saved graph,
    read back once with ``materialize.load_graph``. Returns
    {config name: (latency_s, result ids)}."""
    from graphiti_spark.config import (
        ADJECTIVES_SORTED,
        ENTITY_NOUNS_SORTED,
        RELATION_VERBS_SORTED,
    )
    from graphiti_spark.materialize import load_graph
    from graphiti_spark.search import hybrid as H

    g = load_graph(spark, graph_dir)
    rng = random.Random(seed)
    vocab = ADJECTIVES_SORTED + ENTITY_NOUNS_SORTED + RELATION_VERBS_SORTED
    node_ids = sorted(r.uuid for r in g["nodes"].select("uuid").collect())
    origins = rng.sample(node_ids, 3)
    arm = lambda m: H.SearchConfig(edges=H.ChannelConfig([m], "rrf"))  # noqa: E731
    probes = [
        ("bm25", arm("bm25"), {}),
        ("cosine", arm("cosine"), {}),
        ("bfs", arm("bfs"), {"origin_uuids": origins}),
        ("rrf.edge", H.EDGE_HYBRID_SEARCH_RRF, {}),
        ("rerank.combined_cross_encoder", H.COMBINED_HYBRID_SEARCH_CROSS_ENCODER,
         {"origin_uuids": origins}),
    ]
    out = {}
    for name, config, kw in probes:
        query = " ".join(rng.sample(vocab, rng.randint(1, 3)))
        with layer(f"search.{name}"):
            t0 = time.monotonic()
            res = H.search(
                query, config, nodes=g["nodes"], edges=g["edges"],
                episodes=g["episodes"], mention_edges=g["mention_edges"],
                graph_postings=g["postings"], **kw,
            )
            ids = [r.id for df in res.values() for r in df.select("id").collect()]
            out[name] = (time.monotonic() - t0, ids)
    return out


def search_metrics(probe: dict, groups: dict) -> dict:
    def ms(prefix):
        return 1000 * statistics.median(
            t for name, (t, _) in probe.items() if name.startswith(prefix)
        )

    names = [f"search.{n}" for n in probe]
    stats = [groups[n] for n in names if n in groups]
    results = sum(len(ids) for _, ids in probe.values())
    return {
        "search.bm25_ms": ms("bm25"),
        "search.cosine_ms": ms("cosine"),
        "search.bfs_ms": ms("bfs"),
        "search.rrf_recipe_ms": ms("rrf."),
        "search.rerank_recipe_ms": ms("rerank."),
        "search.jobs_per_query": statistics.median(s.jobs for s in stats),
        "search.tasks_per_query": statistics.median(s.tasks for s in stats),
        "search.input_mb_per_query": statistics.median(s.input_mb for s in stats),
        "search.rows_read_per_result": sum(s.input_records for s in stats)
        / max(results, 1),
    }
