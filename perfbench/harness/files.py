"""Sizes of what a run wrote: files, bytes and parquet rows under a path."""

from __future__ import annotations

import os


def data_files(path: str) -> list[str]:
    """Data files under ``path`` (Spark's ``_SUCCESS``/``.crc`` skipped)."""
    return [
        os.path.join(root, n)
        for root, _, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    ]


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = data_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def parquet_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, from their footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in data_files(path) if f.endswith(".parquet")
    )
