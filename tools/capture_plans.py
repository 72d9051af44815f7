"""Capture .explain('formatted') for named queries into plans/<round>/.

Usage: python tools/capture_plans.py [--no-ckpt] <round> <suffix> q1 q2 ...
Writes plans/<round>/<query>_<suffix>.txt for each query (round: e.g. r12;
suffix: before/after).

--no-ckpt flips graph._DISABLE_CHECKPOINTS, so ITERATIVE operators
(g4/g13/g15/lp1/g8/g14) expose their full loop-body lineage instead of an
11-line post-checkpoint stub -- the per-round Exchange counts become
meaningful (VERDICT r10 item 7).  Only use it for plan capture: the
resulting plans are exponential-ish in rounds and must never execute.

Queries that eagerly pin their result (localCheckpoint inside, e.g. c1,
d2, d3, g9, g10) would show only a checkpoint scan; for those the LIVE
internal plan is captured via their checkpoint=False internals and noted
in the file header.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from youtubeanalyzerproject_big_data__spark import contract
from youtubeanalyzerproject_big_data__spark.io import load_table
from youtubeanalyzerproject_big_data__spark.operators import dedup, graph
from youtubeanalyzerproject_big_data__spark.session import get_spark


def _live_df(spark, sf, name):
    """Return (df, note) with a LIVE plan for eager-pinning queries."""
    if name == "d2_ngram_jaccard_pairs":
        docs = load_table(spark, sf, "documents")
        return (
            dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8, checkpoint=False),
            "live internal plan (checkpoint=False): q_d2 pins eagerly",
        )
    if name == "d3_minhash_lsh_pairs":
        docs = load_table(spark, sf, "documents")
        return (
            dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8, checkpoint=False
            ),
            "live internal plan (checkpoint=False): q_d3 pins eagerly",
        )
    if name == "c1_corpus_curation":
        result, _ = contract.dedup._c1_plan(spark, sf)
        return result, "live internal plan (_c1_plan, pre-pin): q_c1 pins eagerly"
    if name in ("g9_adamic_adar", "g10_clustering_coefficient"):
        li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
        pairs = contract.graph._copurchase_pairs(li)
        if name == "g10_clustering_coefficient":
            return (
                graph.clustering_coefficient_topk(pairs, k=20, checkpoint=False),
                "live internal plan (checkpoint=False): q_g10 pins eagerly",
            )
        seeds = li.select(F.col("l_partkey").alias("seed")).where(F.col("l_partkey") % 1000 == 1).distinct()
        return (
            graph.adamic_adar(pairs, seeds, k=5, checkpoint=False),
            "live internal plan (checkpoint=False): q_g9 pins eagerly",
        )
    return None, None


def main() -> None:
    args = sys.argv[1:]
    no_ckpt = "--no-ckpt" in args
    if no_ckpt:
        args.remove("--no-ckpt")
        graph._DISABLE_CHECKPOINTS = True
    rnd, suffix, names = args[0], args[1], args[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    for name in names:
        df, note = _live_df(spark, sf, name)
        if df is None:
            df = qs[name](spark, sf)
            note = "declared query plan as returned by queries()"
        if no_ckpt:
            note += " -- graph._DISABLE_CHECKPOINTS=True (full loop lineage, capture-only)"
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} ({suffix}): {note}\n-- sf_dir: {sf}\n\n")
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
