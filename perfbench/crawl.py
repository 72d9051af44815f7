"""Seeded generator for a 2007-08-style YouTube crawl dump.

The reference loads its crawl XML into a store before any Phase-1 job
runs.  This module writes such a dump from a seed, with the quirks the
ingest path has to survive:

* ``<video>`` and ``<user>`` elements interleaved over several files;
* ``related`` targets drawn Zipf-popular, so in-degree is skewed;
* a few related refs to ids that are not in the crawl (dangling);
* missing and malformed numeric attributes, which ingest turns into ``-1``
  sentinels (a malformed ``rate`` becomes null);
* HTML-entity category duplicates: some ``People & Blogs`` videos are
  written double-escaped, so they parse as ``People &amp; Blogs``;
* exact duplicate ``<video>`` elements in a later file, which the
  duplicate-tolerant sink drops.

The same seed gives byte-identical files.  ``write_crawl`` also writes
``videos.parquet``, the typed table a correct ingest stores (one row per
distinct video, sentinels applied), and returns the facts the benchmark
checks job outputs against (distinct videos, vertices, edges) -- all from
the generator's own values, not from Spark.
"""

from __future__ import annotations

import os
from xml.sax.saxutils import quoteattr

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = [
    "Music", "Entertainment", "Comedy", "People & Blogs", "Film & Animation",
    "Sports", "News & Politics", "Autos & Vehicles", "Howto & DIY", "Pets & Animals",
    "Travel & Places", "Gadgets & Games", "UNA",
]
_ID_ALPHABET = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"))
# ingest's typed schema (schema.VIDEOS_SCHEMA), in read_videos_xml's column order
_STORE_SCHEMA = pa.schema([
    ("video_id", pa.string()), ("uploader", pa.string()), ("category", pa.string()),
    ("age", pa.int32()), ("length", pa.int32()), ("views", pa.int64()), ("rate", pa.float64()),
    ("ratings", pa.int64()), ("comments", pa.int64()), ("size_bytes", pa.int64()),
    ("bitrate_kbps", pa.int32()), ("related", pa.list_(pa.string())),
])
_INT_FIELDS = ["age", "length", "views", "ratings", "comments", "size_bytes", "bitrate_kbps"]
N_FILES = 4


def _ids(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        for chars in rng.integers(0, len(_ID_ALPHABET), (n - len(out), 11)):
            vid = "".join(_ID_ALPHABET[chars])
            if vid not in taken:
                taken.add(vid)
                out.append(vid)
    return out


def _int_attr(rng: np.random.Generator, value: int) -> str | None:
    """The value as text, or (3% of the time) missing / malformed."""
    r = rng.random()
    if r < 0.015:
        return None
    if r < 0.03:
        return "N/A"
    return str(value)


def write_crawl(out_dir: str, seed: int, n_videos: int) -> dict:
    """Write ``crawl_<i>.xml`` files under ``out_dir``; return their paths
    and the expected facts of the videos they hold."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    taken: set[str] = set()
    video_ids = _ids(rng, n_videos, taken)
    dangling = _ids(rng, max(n_videos // 200, 3), taken)
    n_uploaders = max(n_videos // 4, 1)
    uploaders = [f"user{u:06d}" for u in range(n_uploaders)]

    # Zipf popularity over a seeded permutation of the videos
    popular = rng.permutation(n_videos)
    weights = 1.0 / np.arange(1, n_videos + 1) ** 1.1
    weights /= weights.sum()

    n_rel = rng.integers(0, 21, n_videos)
    picks = popular[rng.choice(n_videos, int(n_rel.sum()), p=weights)]
    all_targets = [video_ids[j] for j in picks]
    for k in np.flatnonzero(rng.random(len(all_targets)) < 0.02):
        all_targets[k] = dangling[int(rng.integers(0, len(dangling)))]
    offsets = np.concatenate(([0], np.cumsum(n_rel)))

    elements: list[list[str]] = [[] for _ in range(N_FILES)]
    store: dict[str, list] = {f.name: [] for f in _STORE_SCHEMA}
    edges = 0
    for i, vid in enumerate(video_ids):
        targets = all_targets[offsets[i]:offsets[i + 1]]
        edges += sum(t != vid for t in targets)

        category = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        if "&" in category and rng.random() < 0.3:
            category = category.replace("&", "&amp;")
        values = {
            "age": int(rng.integers(0, 800)),
            "length": int(rng.integers(1, 3600)),
            "views": int(rng.pareto(1.2) * 2000),
            "ratings": int(rng.integers(0, 5000)),
            "comments": int(rng.integers(0, 2000)),
            "size_bytes": int(rng.integers(10_000, 50_000_000)),
            "bitrate_kbps": int(rng.integers(64, 1024)),
        }
        uploader = uploaders[int(rng.integers(0, n_uploaders))]
        attrs = [f"id={quoteattr(vid)}", f"uploader={quoteattr(uploader)}", f"category={quoteattr(category)}"]
        for field in _INT_FIELDS:
            text = _int_attr(rng, values[field])
            if text is not None:
                attrs.append(f"{field}={quoteattr(text)}")
            store[field].append(values[field] if text not in (None, "N/A") else -1)
        rate = "bad" if rng.random() < 0.01 else f"{rng.integers(0, 51) / 10:.1f}"
        attrs.append(f"rate={quoteattr(rate)}")
        for field, value in (("video_id", vid), ("uploader", uploader), ("category", category),
                             ("rate", None if rate == "bad" else float(rate)), ("related", targets)):
            store[field].append(value)
        related = "".join(f"<id ref={quoteattr(t)}/>" for t in targets)
        element = f"<video {' '.join(attrs)}><related>{related}</related></video>"
        f = i % N_FILES
        elements[f].append(element)
        if rng.random() < 0.02:
            elements[(f + 1) % N_FILES].append(element)

    for u, name in enumerate(uploaders):
        elements[u % N_FILES].append(
            f"<user id={quoteattr(name)} uploads={quoteattr(str(int(rng.integers(1, 40))))}"
            f" watches={quoteattr(str(int(rng.integers(0, 5000))))} friends={quoteattr(str(int(rng.integers(0, 300))))}/>"
        )

    paths = []
    parsed_videos = 0
    for f, elems in enumerate(elements):
        path = os.path.join(out_dir, f"crawl_{f}.xml")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write('<?xml version="1.0" encoding="utf-8"?>\n<crawl>\n')
            fh.write("\n".join(elems))
            fh.write("\n</crawl>\n")
        paths.append(path)
        parsed_videos += sum(e.startswith("<video") for e in elems)
    store_path = os.path.join(out_dir, "videos.parquet")
    pq.write_table(pa.table(store, schema=_STORE_SCHEMA), store_path)
    return {
        "paths": paths,
        "store": store_path,
        "videos": n_videos,
        "parsed_videos": parsed_videos,
        "vertices": n_videos + len(set(dangling) & set(all_targets)),
        "edges": edges,
        "bytes": sum(os.path.getsize(p) for p in paths),
    }
