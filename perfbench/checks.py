"""Output checks: digests of what the engine wrote, and of what the
repository's DuckDB oracle computes from the same input."""

from __future__ import annotations

import glob
import hashlib
import importlib
import inspect
import os

import duckdb
import pyarrow.parquet as pq


def duckdb_over(documents: str | None) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection in UTC with ``documents`` (a parquet file or a
    directory of part files) registered as the oracle's input view."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    if documents is not None:
        src = (os.path.join(documents, "*.parquet")
               if os.path.isdir(documents) else documents)
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')"
        )
    return con


def rows_digest(rows) -> tuple[int, str]:
    """(row count, sha256 over the sorted rendered rows): order-insensitive."""
    lines = sorted(
        "\x01".join("\\N" if v is None else str(v) for v in r) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def digest(con, sql: str) -> tuple[int, str]:
    return rows_digest(con.execute(sql).fetchall())


def parquet_rows(table_dir: str) -> int:
    files = glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def compare(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got}, want {want}"]


def source_sha(qualname: str) -> str:
    """sha256 of the source of a function named ``module:function``."""
    module, func = qualname.split(":")
    src = inspect.getsource(getattr(importlib.import_module(module), func))
    return hashlib.sha256(src.encode()).hexdigest()


def mirror_drift(mirrors: dict) -> list[str]:
    """The functions of ``mirrors`` ({``module:function``: sha256 of its
    source}) whose source no longer has the recorded digest."""
    return [
        f"{name} changed (sha256 {sha}, recorded {want}): carry the change "
        "into the traced copy of it, then record the new digest"
        for name, want in mirrors.items()
        if (sha := source_sha(name)) != want
    ]


def tree_sha(root: str) -> str:
    """sha256 over the paths and contents of every ``.py`` file under
    ``root``: names one version of the engine sources."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
