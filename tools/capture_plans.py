"""Capture .explain('formatted') for named queries into plans/<round>/.

Usage: python tools/capture_plans.py [--no-ckpt] <round> <suffix> q1 q2 ...
Writes plans/<round>/<query>_<suffix>.txt for each query (round: e.g. r12;
suffix: before/after).

--no-ckpt sets session.LIVE_PLANS, so every session.pin hands its frame
back live: ITERATIVE operators (g4/g13/g15/lp1/g8/g14) expose their full
loop-body lineage instead of an 11-line post-checkpoint stub -- the
per-round Exchange counts become meaningful (VERDICT r10 item 7) -- and
queries that pin their result (c1, d2, d3, g9, g10) show their live plan
instead of a checkpoint scan.  Only use it for plan capture: the resulting
plans are exponential-ish in rounds and must never execute.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youtubeanalyzerproject_big_data__spark import contract, session


def main() -> None:
    args = sys.argv[1:]
    no_ckpt = "--no-ckpt" in args
    if no_ckpt:
        args.remove("--no-ckpt")
        session.LIVE_PLANS = True
    rnd, suffix, names = args[0], args[1], args[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    spark = session.get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    for name in names:
        df = qs[name](spark, sf)
        note = "declared query plan as returned by queries()"
        if no_ckpt:
            note += " -- session.LIVE_PLANS=True (live pins, full loop lineage, capture-only)"
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} ({suffix}): {note}\n-- sf_dir: {sf}\n\n")
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
