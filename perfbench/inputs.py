"""Seeded inputs and their expected results, cached per seed.

Everything here runs without Spark, from the seed alone:

* the crawl dumps ``yt_refresh`` ingests (``crawl.write_crawl``);
* the ``queries()`` tables for ``serve_interactive``: the repo's own
  ``tools/gen_fixture.py`` at ``base``, tiled with
  ``tools/scale_fixture.py`` to about sf0.1;
* each short query's expected digest from its DuckDB ``oracle_sql()`` twin.

A seed's directory is reused when its ``manifest.json`` exists; the
manifest is written last, so a half-built directory is rebuilt.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import shutil
import sys
from decimal import Decimal

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

REFRESH_VIDEOS = 4000
TILE_K = 3  # gen_fixture writes ~sf0.01; three tiles make ~sf0.03
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]
# one per plan shape: aggregate, range filter, top-k with enrichment join,
# the five-way join of the flagship entry()
SHORT_QUERIES = ["a1_event_type_stats", "f5_price_range", "j6_topk_enriched_customers", "q5_revenue_by_nation"]


def _canon_value(v):
    # (is_null, value) pairs keep rows sortable when a column mixes NULLs
    # with values; numbers compare by value, whichever engine typed them
    if v is None:
        return (1, "")
    if isinstance(v, bool):
        return (0, int(v))
    if isinstance(v, (float, Decimal)):
        x = float(v)
        if math.isnan(x):
            return (0, "NaN")
        x = round(x, 9)
        return (0, int(x) if x.is_integer() else x)
    if hasattr(v, "isoformat"):
        return (0, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (0, tuple(_canon_value(x) for x in v))
    return (0, v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, values
    canonicalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)
    text = repr(([columns[i] for i in order], canon))
    return hashlib.sha256(text.encode()).hexdigest()


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and ``_`` marker files
    are not data."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def load_manifest(manifest: str) -> dict | None:
    try:
        with open(manifest) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def save_manifest(manifest: str, data: dict) -> dict:
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
    os.replace(tmp, manifest)
    return data


def seed_dir(seed: int) -> str:
    return os.path.join(CACHE, f"seed{seed}")


def crawl_dump(seed: int) -> dict:
    """The seed's crawl dump and its expected store (``crawl.write_crawl``)."""
    import crawl

    base = os.path.join(seed_dir(seed), f"crawl{REFRESH_VIDEOS}")
    manifest = os.path.join(base, "manifest.json")
    cached = load_manifest(manifest)
    if cached is not None:
        return cached
    shutil.rmtree(base, ignore_errors=True)
    return save_manifest(manifest, crawl.write_crawl(base, seed, REFRESH_VIDEOS))


def query_tables(seed: int, tile_k: int = TILE_K) -> dict:
    """The seed's ``base`` fixture tiled ``tile_k`` times, with the DuckDB
    oracle digest of every short query over it."""
    import duckdb
    import gen_fixture
    import scale_fixture

    import __spark_entry__ as entry

    base = os.path.join(seed_dir(seed), f"tables{tile_k}")
    manifest = os.path.join(base, "manifest.json")
    cached = load_manifest(manifest)
    if cached is not None:
        return cached
    shutil.rmtree(base, ignore_errors=True)
    single, tiled = os.path.join(base, "base"), os.path.join(base, "tile")
    with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the result line
        gen_fixture.generate(single, seed, "base")
    rows = scale_fixture.scale_dir(single, tiled, tile_k)
    shutil.rmtree(single)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tiled}/{t}.parquet'")
        expected = {}
        for name in SHORT_QUERIES:
            res = con.execute(oracles[name])
            expected[name] = digest([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    return save_manifest(manifest, {
        "dir": tiled, "rows": rows, "bytes": dir_size(tiled)[0], "expected": expected,
    })
