"""Filter and state health read from a store's committed snapshot files,
from outside the engine: the manifest, per-table file groups and the
seen-filter shard blobs (parquet rows of ``(shard, bits)``)."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq


def _manifest(root: str) -> dict:
    with open(os.path.join(root, "manifest.json")) as f:
        return json.load(f)


def _shard_blobs(root: str, paths: list[str]) -> list[bytes]:
    blobs = []
    for rel in paths:
        table = pq.read_table(os.path.join(root, rel), columns=["bits"])
        blobs.extend(b for b in table.column("bits").to_pylist() if b is not None)
    return blobs


def bloom_health(blobs: list[bytes], m: int, k: int) -> dict:
    """Per-shard fill = popcount / m; estimated false-positive rate of a
    shard = fill ** k."""
    fills = [
        int(np.unpackbits(np.frombuffer(b, dtype=np.uint8)).sum()) / m
        for b in blobs
    ]
    return {
        "shards": len(fills),
        "fill_max": max(fills, default=0.0),
        "fill_mean": float(np.mean(fills)) if fills else 0.0,
        "est_fpr_max": max(fills, default=0.0) ** k,
    }


def cuckoo_health(blobs: list[bytes]) -> dict:
    """Per-shard load factor = occupied slots / all slots (16-bit slots,
    0 marks an empty one)."""
    loads = []
    for b in blobs:
        slots = np.frombuffer(b, dtype=np.uint16)
        loads.append(float(np.count_nonzero(slots)) / len(slots))
    return {
        "shards": len(loads),
        "load_max": max(loads, default=0.0),
        "load_mean": float(np.mean(loads)) if loads else 0.0,
    }


def store_health(root: str, seen_filter: str, m: int = 0, k: int = 0) -> dict:
    manifest = _manifest(root)
    tables = manifest["snapshots"][-1]["tables"]
    out = {
        "snapshots": len(manifest["snapshots"]),
        "manifest_bytes": os.path.getsize(os.path.join(root, "manifest.json")),
        "file_groups": {name: len(paths) for name, paths in tables.items()},
    }
    blobs = _shard_blobs(root, tables.get("bloom", []))
    if seen_filter == "cuckoo":
        out["cuckoo"] = cuckoo_health(blobs)
    else:
        out["bloom"] = bloom_health(blobs, m, k)
    return out
