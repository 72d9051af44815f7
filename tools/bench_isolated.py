"""Isolated re-run + shuffle-bytes adjudication for bench movers.

The round-over-round bench protocol: wall-clock on this box swings
10-20%, so a flagged mover is adjudicated by (a) an ISOLATED re-run
(fresh session per query, no session-cache pollution from earlier
queries) and (b) the contention-immune shuffle-byte deltas vs
BENCH_DETAIL.json -- bit-identical shuffle volume means plan-identical,
so a wall-clock swing is box noise (the r8 s8_hybrid_rrf precedent,
commit 513b361).

Usage: python tools/bench_isolated.py [sf_dir] q1 q2 ...
Prints one line per query: isolated median-of-3 wall, the first sample's
wall (each sample starts from clearCache, so it is memo-cold, and the
first also pays the session's first use of each code path), the first
sample's Spark jobs and shuffle r/w bytes, and the BENCH_DETAIL.json
reference values.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = sys.argv[1:]
    sf = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.1"
    names = [a for a in argv if "/" not in a]

    import __spark_entry__ as entrymod
    from perfbench.meter import MB, SparkCounters, set_job_group
    from youtubeanalyzerproject_big_data__spark.session import get_spark

    detail = {}
    try:
        detail = json.load(open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_DETAIL.json")))
    except OSError:
        pass
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark("bench-isolated")
    counters = SparkCounters(spark)
    for name in names:
        walls = []
        shuf = None
        for i in range(3):
            spark.catalog.clearCache()
            if i == 0:
                set_job_group(spark.sparkContext, f"isolated/{name}")
            t0 = time.time()
            qs[name](spark, sf).collect()
            walls.append(time.time() - t0)
            if i == 0:
                set_job_group(spark.sparkContext, None)
                spent = counters.read(f"isolated/{name}")
                shuf = {"w": round(spent["shuffle_write_mb"] * MB), "r": round(spent["shuffle_read_mb"] * MB)}
                jobs = spent["jobs"]
        first = walls[0]
        walls.sort()
        ref_med = detail.get("queries", {}).get(name)
        ref_w = detail.get("shuffle_write_bytes", {}).get(name)
        print(
            f"{name}: isolated med {walls[1]:.2f}s (min {walls[0]:.2f}, first {first:.2f}) "
            f"jobs {jobs} shufW {shuf['w']} shufR {shuf['r']} | BENCH_DETAIL med {ref_med} shufW {ref_w}",
            flush=True,
        )


if __name__ == "__main__":
    main()
