"""Standing-state locality bench for the corpus state families: the SAME
document batch updated into a small vs an ~8x prior corpus. Evidence for
the r4 architectural claim that per-batch cost is O(|batch| + |touched
rows|), not O(|corpus|):

  dedup   operators/dedup_state.py — the incremental pair search probes
          the PREBUILT band index by the batch's band keys (never prior
          x prior) and the canonical update recomputes only touched
          components;
  span    operators/span_state.py — the incremental span search probes
          the PREBUILT gram postings by the batch's gram keys;

and in both the commit writes batch-sized per-table deltas.

Wall clock is reported for honesty but is the weaker signal on a
shared host (documented ~2x steal variance; the joins and count aggregates
that classify untouched rows still SCAN the prior tables once — cheap,
embarrassingly parallel, exactly what a real cluster scales out). The
structural signal is rows: docs/index/grams delta upserts must be
exactly batch-sized, and the canon/spans upserts must track the batch
plus the rows it touches, not the prior.

Usage: python scripts/bench_state.py {dedup|span} <sf_dir>
Writes one JSON line to stdout; the recorded copies live at
BENCH/BENCH_dedup_state.json and BENCH/BENCH_span_state.json (sf0.1).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH_DOCS = 100

# the prior table whose size is reported, and the delta table whose
# upserts track the touched rows
REPORTED = {"dedup": ("pairs", "canon"), "span": ("grams", "spans")}


def leg(spark, family: str, docs, n, prior_frac: int, label: str) -> dict:
    from pyspark.sql import functions as F

    from graphiti_spark.materialize import (
        load_graph,
        save_graph,
        save_graph_delta,
    )
    from graphiti_spark.operators import dedup_state, span_state

    fam, init, update = {
        "dedup": (
            dedup_state.DEDUP_STATE,
            dedup_state.init_dedup_state,
            dedup_state.update_dedup_state,
        ),
        "span": (
            span_state.SPAN_STATE,
            span_state.init_span_state,
            span_state.update_span_state,
        ),
    }[family]
    prior_table = REPORTED[family][0]

    batch_lo = n - BATCH_DOCS  # same batch for both legs
    tmp = tempfile.mkdtemp(prefix=f"{family}_state_bench_{label}_")
    try:
        prior_docs = docs.filter(F.col("doc_id") < batch_lo // prior_frac)
        save_graph(
            init(prior_docs), f"{tmp}/prior", fam.tables, fam.partition_cols
        )
        spark.catalog.clearCache()
        prior = load_graph(spark, f"{tmp}/prior", fam.tables)
        prior_n = prior["docs"].count()
        prior_rows = prior[prior_table].count()

        batch = docs.filter(F.col("doc_id") >= batch_lo)
        t0 = time.monotonic()
        out = update(batch, prior)
        save_graph_delta(out["delta"], f"{tmp}/delta", fam.keys)
        wall = round(time.monotonic() - t0, 3)

        delta_rows = {
            t: {part: df.count() for part, df in frames.items()}
            for t, frames in out["delta"].items()
        }
        return {
            "label": label,
            "prior_docs": prior_n,
            f"prior_{prior_table}": prior_rows,
            "delta_rows": delta_rows,
            "update_plus_commit_sec": wall,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    family, sf_dir = sys.argv[1], sys.argv[2]
    touched = REPORTED[family][1]

    from graphiti_spark.session import get_spark

    spark = get_spark(app_name=f"bench-{family}-state")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .persist()
    )
    n = docs.count()

    small = leg(spark, family, docs, n, 8, "prior_0.125x")
    large = leg(spark, family, docs, n, 1, "prior_1x")

    ratio_prior = large["prior_docs"] / max(small["prior_docs"], 1)
    ratio_wall = round(
        large["update_plus_commit_sec"] / small["update_plus_commit_sec"], 3
    )
    growth = (
        large["delta_rows"][touched]["upserts"]
        / max(small["delta_rows"][touched]["upserts"], 1)
    )
    print(json.dumps({
        "metric": f"{family}_state_locality",
        "sf_dir": sf_dir,
        "batch_docs": BATCH_DOCS,
        "runs": [small, large],
        "prior_growth": round(ratio_prior, 2),
        f"{touched}_upsert_growth": round(growth, 2),
        "wall_growth": ratio_wall,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
