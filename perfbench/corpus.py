"""Seeded input corpora. The same seed gives identical inputs.

Both corpora are written as ``documents.parquet`` in the engine's input
schema (doc_id, text, lang, source, n_chars), the table the engine and
its DuckDB oracle read. The kg corpus is sampled from sf0.1; the funnel
corpus is generated.
"""

from __future__ import annotations

import hashlib
import os
import random
import string

import pandas as pd

COLUMNS = ["doc_id", "text", "lang", "source", "n_chars"]


def _frame(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=COLUMNS).astype(
        {"doc_id": "int64", "n_chars": "int64"}
    )


SF01_DOCUMENTS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1_documents.parquet"
)


def kg_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """A seeded sample of ``n_docs`` pages of the sf0.1 documents table
    (a copy of the repository's recorded 5,000-doc corpus): the docs
    whose sha256 of ``"<seed>:<doc_id>"`` sorts lowest, ids unchanged."""
    docs = pd.read_parquet(SF01_DOCUMENTS)
    key = docs["doc_id"].map(
        lambda d: hashlib.sha256(f"{seed}:{d}".encode()).hexdigest()
    )
    keep = key.sort_values(kind="stable").index[:n_docs]
    return docs.loc[keep, COLUMNS].sort_values("doc_id").reset_index(drop=True)


# marker words per language, as operators/textstats.py LANG_MARKERS
EN_STOP = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
FOREIGN_MARKERS = {
    "fr": ("le", "les", "et", "des", "une", "est", "dans"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es": ("el", "los", "las", "y", "una", "en"),
}


def funnel_corpus(seed: int, n_base: int) -> tuple[pd.DataFrame, dict]:
    """A web-crawl-like corpus for the curation funnel, built around
    ``n_base`` distinct docs over a 20,000-word vocabulary (low shingle
    reuse), with planted structure every funnel stage acts on:

    - exact copies (case and whitespace changed) of 6 % of docs;
    - near copies (one word added, word-set Jaccard >= 0.97) of 6 %;
    - 12 boilerplate lines shared by 40 % of docs, and 1 % of docs made
      only of boilerplate (emptied by line dedup);
    - 15 % of docs in French, German or Spanish (language gate) and 4 %
      of digit/symbol junk (quality gate).

    Doc ids are shuffled so copies are not adjacent to their originals.
    Returns (documents, planted) where planted maps 'exact' and 'near'
    to lists of doc-id groups that must collapse to one survivor."""
    rng = random.Random(seed)
    letters = string.ascii_lowercase
    vocab = sorted(
        {"".join(rng.choices(letters, k=rng.randint(4, 9))) for _ in range(20_000)}
    )

    def line(markers: tuple[str, ...]) -> str:
        words = []
        for _ in range(rng.randint(8, 14)):
            words.append(rng.choice(markers) if markers and rng.random() < 0.2
                         else rng.choice(vocab))
        return " ".join(words)

    boiler = [line(EN_STOP) for _ in range(12)]

    docs: list[tuple[str, str]] = []  # (text, lang label)
    for _ in range(n_base):
        r = rng.random()
        if r < 0.04:
            text = " ".join(
                rng.choice(("12", "34", "##", "7", "--")) for _ in range(40)
            )
            docs.append((text, "und"))
            continue
        if r < 0.05:
            docs.append(("\n".join(rng.sample(boiler, 2)), "en"))
            continue
        if r < 0.20:
            lang = rng.choice(sorted(FOREIGN_MARKERS))
            markers = FOREIGN_MARKERS[lang]
        elif r < 0.25:
            lang, markers = "und", ()
        else:
            lang, markers = "en", EN_STOP
        lines = [line(markers) for _ in range(rng.randint(4, 8))]
        if rng.random() < 0.4:
            lines.insert(rng.randint(0, len(lines)), rng.choice(boiler))
        docs.append(("\n".join(lines), lang))

    planted: dict[str, list[list[int]]] = {"exact": [], "near": []}
    groups: list[tuple[str, int]] = []  # (kind, index of the original)
    n = len(docs)
    for kind in ("exact", "near"):
        for src in rng.sample(range(n), max(1, n * 6 // 100)):
            text, lang = docs[src]
            if kind == "exact":
                copy = "  ".join(w.upper() if rng.random() < 0.3 else w
                                 for w in text.split(" "))
            else:
                copy = text + " " + rng.choice(vocab) + "x"
            docs.append((copy, lang))
            groups.append((kind, src))
    ids = list(range(len(docs)))
    rng.shuffle(ids)
    for j, (kind, src) in enumerate(groups):
        planted[kind].append(sorted((ids[src], ids[n + j])))
    rows = [
        (ids[k], text, lang, f"src{ids[k] % 20}", len(text))
        for k, (text, lang) in enumerate(docs)
    ]
    rows.sort()
    return _frame(rows), planted


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """``n_files`` = 1 writes one file; more writes a directory of that
    many part files (a multi-file input table scans in parallel)."""
    if n_files == 1:
        df.to_parquet(path, index=False)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-len(df) // n_files)
    for k in range(n_files):
        df.iloc[k * step : (k + 1) * step].to_parquet(
            os.path.join(path, f"part-{k:05d}.parquet"), index=False
        )
