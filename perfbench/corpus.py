"""Seeded input corpus for the benchmark.

Wraps ``tools/gen_fixtures.generate`` (imported, never edited) and
re-splits every table over ``SPLIT_MIN_ROWS`` rows into at least
``nproc`` parquet files, so Spark plans one input split per core instead
of a single split per table. Corpora are cached under the checkout by
(seed, scale); the cache keeps only the most recent few.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow.parquet as pq

SPLIT_MIN_ROWS = 10_000
#: Enough for two workloads' worth of ten seeds each (about 4 MB a corpus).
CACHE_KEEP = 24
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _generate():
    """``tools/gen_fixtures.generate``, imported from the checkout."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    sys.path.insert(0, tools)
    try:
        from gen_fixtures import generate
    finally:
        sys.path.remove(tools)
    return generate


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def _split(raw_dir: str, out_dir: str, nfiles: int) -> dict[str, dict[str, int]]:
    stats = {}
    for name in TABLES:
        src = os.path.join(raw_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        table = pq.read_table(src)
        if table.num_rows > SPLIT_MIN_ROWS:
            os.makedirs(dst)
            step = -(-table.num_rows // nfiles)
            for i in range(nfiles):
                pq.write_table(
                    table.slice(i * step, step), os.path.join(dst, f"part-{i:05d}.parquet")
                )
        else:
            shutil.copyfile(src, dst)
        stats[name] = {"rows": table.num_rows, "bytes": _dir_bytes(dst)}
    return stats


def build(cache_root: str, seed: int, scale: int, nfiles: int) -> tuple[str, dict]:
    """Return ``(sf_dir, stats)`` for the corpus of ``(seed, scale)``,
    generating it on a cache miss. ``stats`` maps each table to its
    input ``rows`` and on-disk ``bytes``."""
    key = f"seed{seed}_scale{scale}_files{nfiles}"
    out = os.path.join(cache_root, key)
    stats_file = os.path.join(out, "stats.json")
    if os.path.isfile(stats_file):
        os.utime(out)
        with open(stats_file) as f:
            return out, json.load(f)

    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".{key}.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    raw, sf = os.path.join(tmp, "raw"), os.path.join(tmp, "sf")
    os.makedirs(sf)
    _generate()(seed, scale, raw)
    stats = _split(raw, sf, nfiles)
    with open(os.path.join(sf, "stats.json"), "w") as f:
        json.dump(stats, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(sf, out)
    shutil.rmtree(tmp, ignore_errors=True)
    _evict(cache_root)
    return out, stats


def _evict(cache_root: str) -> None:
    entries = sorted(
        (e for e in os.scandir(cache_root) if e.is_dir() and not e.name.startswith(".")),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in entries[CACHE_KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)
