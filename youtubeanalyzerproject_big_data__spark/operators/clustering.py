"""Distributed Lloyd's k-means over embedding columns.

The canonical iterative trainer: per iteration, every vector is
assigned to its nearest centroid map-side (broadcast centroid literals, no
shuffle) and centroids re-estimate with ONE hash aggregate on (cell, pos).
At 100 TB that is the textbook plan -- per iteration exactly one shuffle
whose payload is the k x dim partial-sum grid, never the vectors.

Cross-engine determinism (the same recipe as graph.pagerank and
similarity.label_centroids):
  * assignment distance is a sequential IEEE fold with (dist ASC, cell
    ASC) tiebreaks -- Arrow-vectorized by default (_arrow_udfs.
    make_kmeans_assign, bit-identical to the zip_with + aggregate
    expression form, which _assign(use_arrow=False) retains);
  * centroid updates integer-quantize each element (floor(val * 1e6)),
    sum as int64 (exact in any order), and divide back with one
    correctly-rounded IEEE division;
  * seed centroids are the k vectors of smallest (md5_int32(id, "km"), id)
    -- rebuildable from the table by any engine.
So the km1 DuckDB oracle replays every iteration bit-exactly.

The per-iteration centroid grid (k x dim doubles) is collected to the
driver and re-broadcast as literals -- the standard Lloyd model lifecycle;
state is model-sized, never data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32

_SCALE = 1_000_000.0


def _sq_l2(vec_col, cent: list[float]):
    lit = F.array(*[F.lit(x) for x in cent])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(emb: DataFrame, vec_col: str, cents: list[list[float]], use_arrow: bool = True) -> DataFrame:
    """Nearest-centroid cell per row; ties to the smallest cell id.

    ``use_arrow`` (default) assigns via an Arrow-batched kernel whose
    per-row result is bit-identical to the Catalyst form (same recipe as
    similarity's make_cosine_seq: the k x dim interpreted F.aggregate
    folds were the km1 CPU tax).  ``use_arrow=False`` keeps the pure
    zip_with/aggregate + array_min expression -- the reference semantics
    the equivalence test pins the kernel against."""
    if use_arrow:
        from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_kmeans_assign

        return emb.withColumn("cell", make_kmeans_assign(cents)(F.col(vec_col)))
    choices = F.array(
        *[F.struct(_sq_l2(F.col(vec_col), c).alias("d"), F.lit(j).alias("j")) for j, c in enumerate(cents)]
    )
    return emb.withColumn("cell", F.array_min(choices)["j"])


def _update_grid(assigned: DataFrame, vec_col: str) -> DataFrame:
    """(cell, pos) -> (int64 quantized sum, member count): one hash agg."""
    g = assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "val"))
    q = F.floor(F.col("val").cast("double") * F.lit(_SCALE)).cast("long")
    return g.groupBy("cell", "pos").agg(F.sum(q).alias("s"), F.count("val").alias("n"))


def kmeans_lloyd(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 2,
    use_arrow: bool = True,
) -> DataFrame:
    """``iters`` Lloyd iterations; returns the final centroid grid.

    Output: (cell, pos, centroid, n_members) for every cell with members in
    the final assignment (an empty cell drops out of the output but keeps
    its previous centroid DURING iteration, so later rounds can re-capture
    points).  n_members repeats across a cell's positions by construction.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    base, cents = _lloyd_final_cents(emb, id_col, vec_col, dim, k, iters, use_arrow)
    assigned = _assign(base, "v", cents, use_arrow=use_arrow)
    grid = _update_grid(assigned, "v")
    return grid.select(
        F.col("cell").cast("int").alias("cell"),
        F.col("pos").cast("int").alias("pos"),
        (F.col("s").cast("double") / (F.col("n") * F.lit(_SCALE))).alias("centroid"),
        F.col("n").cast("long").alias("n_members"),
    ).orderBy("cell", "pos")


def _lloyd_final_cents(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    iters: int,
    use_arrow: bool,
):
    """Seed + the first ``iters - 1`` Lloyd updates: returns (base, cents)
    where ``cents`` are the centroids entering the FINAL iteration -- the
    centroids kmeans_lloyd's output grid aggregates under.  Shared by
    kmeans_lloyd and kmeans_assign_final so semantic dedup's cells are
    EXACTLY km1's cells (same seeds, same trajectory, same arithmetic)."""
    seeds = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("h", md5_int32(F.col("id").cast("string"), seed="km"))
        .orderBy("h", "id")
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r["v"]] for r in seeds]
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    for _ in range(iters - 1):
        grid = _update_grid(_assign(base, "v", cents, use_arrow=use_arrow), "v")
        rows = grid.collect()  # bounded: k x dim cells
        new = {}
        for r in rows:
            new.setdefault(r["cell"], [0.0] * dim)[r["pos"]] = float(r["s"]) / (r["n"] * _SCALE)
        cents = [new.get(j, cents[j]) for j in range(k)]  # empty cell keeps previous centroid
    return base, cents


def kmeans_assign_final(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """(id, v, cell): every vector's cell under the centroids entering the
    last Lloyd iteration -- the member lists behind kmeans_lloyd's
    n_members column, exposed for cell-local downstream work (semantic
    dedup's within-cell pairing, dedup.semantic_dedup_flags)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    base, cents = _lloyd_final_cents(emb, id_col, vec_col, dim, k, iters, use_arrow=True)
    return _assign(base, "v", cents, use_arrow=True).select("id", "v", F.col("cell").cast("int").alias("cell"))
