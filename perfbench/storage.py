"""Warehouse storage accounting from outside the program: a filesystem
diff between two scans, with row counts read from parquet footers."""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow.parquet as pq

LAYERS = ("staging", "transformed", "production")


def scan(root: str | Path) -> dict[str, tuple[int, int]]:
    """Relative path -> (size, mtime_ns) for every file under ``root``."""
    out = {}
    root = str(root)
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _key(rel: str) -> tuple[str, str]:
    parts = rel.split(os.sep)
    return parts[0], parts[1] if len(parts) > 2 else ""


def written(root: str | Path, before: dict, after: dict) -> dict[tuple[str, str], dict[str, int]]:
    """Per (layer, entity): parquet files created or rewritten between
    the two scans, their bytes, and their rows."""
    out: dict[tuple[str, str], dict[str, int]] = {}
    for rel, meta in after.items():
        if not rel.endswith(".parquet") or before.get(rel) == meta:
            continue
        d = out.setdefault(_key(rel), {"files": 0, "bytes": 0, "rows": 0})
        d["files"] += 1
        d["bytes"] += meta[0]
        d["rows"] += pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows
    return out


def files_total(snap: dict, layer: str) -> int:
    return sum(1 for rel in snap if rel.endswith(".parquet") and _key(rel)[0] == layer)


def bytes_total(snap: dict) -> int:
    """Every file on disk, checksums and markers included."""
    return sum(size for size, _ in snap.values())


def layer_rows(root: str | Path, snap: dict, layer: str) -> int:
    return sum(pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows
               for rel in snap if rel.endswith(".parquet") and _key(rel)[0] == layer)
