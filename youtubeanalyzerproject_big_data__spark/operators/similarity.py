"""Approximate-nearest-neighbor search over embedding columns.

Three paths:
  * brute_force_topk -- exact cosine top-k per query.  Query set is
    broadcast (small side), so the corpus never shuffles for scoring; the
    re-rank is a TWO-STAGE top-k (_topk_per_query): a map-side partial
    top-k collapses each partition to <= k rows per query before the
    exchange, then a final window ranks the bounded survivors.  No single
    reducer ever sees the corpus.
  * lsh_topk -- random-hyperplane LSH: 16-bit signatures from md5-seeded
    deterministic hyperplanes; query and corpus meet only inside matching
    buckets (multi-probe over b-bit bands), then exact cosine re-ranks.
    Bucketing turns all-pairs into per-bucket joins; recall is tunable via
    bands/rows.
  * ivf_topk_catalyst -- inverted-file index: corpus partitioned into cells around
    centroids; queries probe only the ``nprobe`` nearest cells.  The
    centroid table is a tiny model (num_cells x dim), trained once and
    broadcast in UDF closures; scan cost per query drops by
    ~num_cells/nprobe.  This is how vector stores scale scans at billions
    of rows.

Deterministic "random" hyperplanes: component c of plane p is
(md5_int32(p:c) / 2^31) - 1  in [-1, 1) -- reproducible across engines and
runs with no RNG state.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import micro_round, ratio_round

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32

# Hyperplane-LSH shape of lsh_topk and dedup.embedding_near_dup_pairs_lsh
# and of their DuckDB replays (contract/vectors._hyperplane_band_sql):
# 16 signature bits cut into 4 bands of 4.
LSH_PLANES = 16
LSH_BANDS = 4
# Product quantization of pq_topk/ivfpq_topk and their replays: 8
# subvectors, each coded against 16 codewords.
PQ_SUB = 8
PQ_CODES = 16

def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-stage exact top-k per query over (query_id, neighbor_id, cos_sim).

    Stage 1 (partial, map-side): within each input partition keep only the
    k best candidates per query -- groupBy(spark_partition_id(), query_id)
    + sort_array/slice over collect_list(struct(-cos_sim, neighbor_id)).
    Because spark_partition_id() is in the grouping key every group lives
    in exactly one task, so the partial aggregate collapses each partition
    to <= |queries| * k narrow structs BEFORE the exchange: the shuffle and
    the final window see at most num_partitions * k rows per query, never
    the candidate set.  (A bare Window.partitionBy(query_id) routes ALL of
    a query's scored candidates through one reducer -- Spark windows do no
    partial aggregation, so at 1e9 corpus rows that single task receives
    1e9 rows.  This helper is the fix.)

    Stage 2 (final): row_number window over the bounded survivors.

    Both stages realize the SAME total order (cos_sim DESC, neighbor_id
    ASC) -- ascending struct sort on (-cos_sim, neighbor_id) flips the sim
    while keeping the id tiebreak ascending, and works for any orderable
    id type -- so stage 1 provably preserves the global top-k and the
    result is bit-identical to the single-window form the DuckDB oracles
    replay.  Double negation is sign-flip only (exact for every float).
    Memory note: the partial ObjectHashAggregate buffers one group's list
    at a time after sort-fallback, bounded by one partition's rows for one
    query -- tune spark.sql.files.maxPartitionBytes, not the reducer.
    """
    part = (
        scored.groupBy(F.spark_partition_id().alias("_pid"), "query_id")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("cos_sim")).alias("ns"), F.col("neighbor_id").alias("nid")))
                ),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
        .select("query_id", F.col("t.nid").alias("neighbor_id"), (-F.col("t.ns")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        part.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", micro_round("cos_sim", "cos_sim"), "nn_rank")
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cos_sim, nn_rank), self-matches excluded.
    ``queries`` is expected small (it is broadcast); the corpus never
    shuffles for scoring, and the re-rank is the two-stage
    :func:`_topk_per_query` so no reducer ever receives the whole corpus.
    Scoring is the Arrow exact-sequential cosine kernel (bit-identical to
    the sequential fold the oracle replays, numpy-vectorized per batch).
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    cos = make_cosine_seq()
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cos(F.col("qv"), F.col("cv")))
    )
    return _topk_per_query(scored, k)


def refine_topk(corpus: DataFrame, queries: DataFrame, candidates: DataFrame, id_col: str, vec_col: str, k: int = 5) -> DataFrame:
    """Retrieve-then-refine: exact-cosine re-rank of an approximate index's
    candidate lists -- the standard two-phase ANN serving recipe (a cheap
    compressed index proposes, full-precision vectors decide).

    ``candidates`` is any (query_id, neighbor_id) table (e.g. ivfpq_topk
    at a generous k).  Candidate lists are query-count * k rows --
    broadcast-sized by construction -- so they join the corpus map-side
    (the corpus never shuffles), scoring is the Arrow exact-sequential
    cosine kernel (bit-identical to brute_force_topk's), and the final
    cut is the two-stage :func:`_topk_per_query`.  At 1e9 corpus rows
    the full-precision vectors are touched for only |candidates| rows.
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cand = candidates.select("query_id", "neighbor_id").join(F.broadcast(q), "query_id")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    cos = make_cosine_seq()
    scored = c.join(F.broadcast(cand), "neighbor_id").withColumn("cos_sim", cos(F.col("qv"), F.col("cv")))
    return _topk_per_query(scored, k)


def _plane_component(p: int, c: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1): the same
    md5-derivation as functions.hashing.md5_int32(str(c), seed=f'plane{p}'),
    evaluated driver-side so the plan carries plain float literals instead
    of thousands of constant md5 expressions (which constant-fold slowly)."""
    h = int(hashlib.md5(f"plane{p}:{c}".encode()).hexdigest()[:8], 16)
    return h / 2147483648.0 - 1.0


def _hyperplane_signature(vec_col: str, dim: int) -> F.Column:
    """LSH signature: bit p = (v . plane_p) >= 0, planes md5-derived.

    Arrow exact-sequential kernel (functions._arrow_udfs.make_hyperplane_sig):
    per-plane dots keep the identical left-to-right IEEE fold the DuckDB
    oracle replays, numpy-vectorized over the batch.  The pure-Catalyst
    alternatives both lose: a HOF fold runs interpreted, and a statically
    unrolled planes x dim expression chain exceeds Janino's 64 KB
    method limit, so whole-stage codegen pays a failed compile and falls
    back interpreted anyway (measured 6-8x slower end-to-end).
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_hyperplane_sig

    planes = [[_plane_component(p, c) for c in range(dim)] for p in range(LSH_PLANES)]
    return make_hyperplane_sig(planes)(F.col(vec_col))


def _lsh_bands(sig: F.Column) -> F.Column:
    """The signature's LSH_BANDS (band, bval) buckets as an array to explode."""
    bits = LSH_PLANES // LSH_BANDS
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(sig, b * bits).bitwiseAND(F.lit((1 << bits) - 1)).alias("bval"),
            )
            for b in range(LSH_BANDS)
        ]
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
) -> DataFrame:
    """ANN top-k: hyperplane-LSH candidate generation + exact re-rank.

    Signature is split into LSH_BANDS sub-signatures; query/corpus rows
    sharing any band bucket become candidates.  Output schema matches
    brute_force_topk so recall can be measured directly against it.
    """

    def with_bands(df: DataFrame, role: str) -> DataFrame:
        sigd = df.select(F.col(id_col).alias(f"{role}_id"), F.col(vec_col).alias(f"{role}_v")).withColumn(
            "sig", _hyperplane_signature(f"{role}_v", dim)
        )
        return sigd.select(f"{role}_id", f"{role}_v", F.explode(_lsh_bands(F.col("sig"))).alias("bk")).select(
            f"{role}_id", f"{role}_v", "bk.band", "bk.bval"
        )

    qb = with_bands(queries, "query")
    cb = with_bands(corpus, "neighbor")
    cands = (
        cb.join(F.broadcast(qb), ["band", "bval"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "query_v", "neighbor_id", "neighbor_v")
        .distinct()
    )
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq

    scored = cands.withColumn("cos_sim", make_cosine_seq()(F.col("query_v"), F.col("neighbor_v")))
    return _topk_per_query(scored, k)


def _centroids_exact(corpus: DataFrame, id_col: str, vec_col: str, num_cells: int) -> list[list[float]]:
    """Driver-side centroid model with ENGINE-PORTABLE arithmetic.

    Seeds are the ``num_cells`` corpus vectors of smallest
    (md5_int32(id), id) -- an order-stable pseudo-random sample any engine
    can reproduce.  Normalization is a sequential scalar fold
    (0.0 + x1*x1 + ... then sqrt, then per-component divide), NOT numpy --
    numpy's pairwise/SIMD reductions are library-specific, while this exact
    IEEE sequence is what the DuckDB oracle's SQL chain computes, so
    centroid components are bit-identical across engines.  Bounded collect:
    num_cells rows.  The model is tiny and train-once -- same lifecycle as
    the ALS model; at 100 TB you train on a sample and broadcast, never on
    the full scan.
    """
    import math

    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("h", md5_int32(F.col("id").cast("string"), seed="ivf"))
        .orderBy("h", "id")
        .limit(num_cells)
        .collect()
    )
    cents = []
    for r in rows:
        acc = 0.0
        for x in r["v"]:
            xd = float(x)
            acc = acc + xd * xd
        nrm = math.sqrt(acc)
        cents.append([float(x) / nrm for x in r["v"]])
    return cents


def ivf_topk_catalyst(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN with ENGINE-PORTABLE arithmetic.

    Inverted-file shape: assign corpus rows to their nearest centroid cell,
    probe the nprobe nearest cells per query, re-rank exactly inside them.
    The cell equi-join replaces the all-pairs product with a
    1/(num_cells/nprobe) slice of it (probe cost ~ nprobe/num_cells); the
    output schema matches brute_force_topk so recall is directly
    measurable.  The model is deterministic (md5-seeded _centroids_exact)
    and every fold -- cell dots, scoring cosine -- is the exact
    left-to-right IEEE sequence the DuckDB oracle replays bit-for-bit, so
    cell membership, not just the re-ranked output, is verified
    cross-engine.  The kernels run as Arrow
    exact-sequential batches (vectorized over rows, sequential over dims --
    see functions._arrow_udfs): pure-Catalyst forms lose either way (HOF
    folds run interpreted; unrolled chains blow Janino's 64 KB limit).
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import (
        make_cell_probe,
        make_cell_top1,
        make_cosine_seq,
    )

    cents = _centroids_exact(corpus, id_col, vec_col, num_cells)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")).withColumn(
        "cell", make_cell_top1(cents)(F.col("cv"))
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).withColumn(
        "cell", F.explode(make_cell_probe(cents, nprobe)(F.col("qv")))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", make_cosine_seq()(F.col("qv"), F.col("cv")))
    )
    return _topk_per_query(scored, k)


def label_centroids(emb: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-group embedding centroid, position-wise (the building block of
    IVF training, cluster summarization, and class-prototype models).

    posexplode -> one hash aggregate on (label, position).  The explode
    multiplies rows by dim, but map-side partial aggregation collapses each
    partition to |labels| x dim partial sums before the shuffle, so the
    exchange carries only the group grid -- tiny at any corpus size.  The
    explode-free alternative (per-row aggregate() into a dim-width buffer)
    stays O(rows) but runs in interpreted higher-order-function code
    (see memory: ~1.8ms/doc); the explode form stays inside whole-stage
    codegen end to end.

    Determinism: full-precision floats are hostile to the usual
    DECIMAL(18,6) input cast -- Spark quantizes the double's SHORTEST
    STRING (BigDecimal.valueOf) while other engines round the exact binary
    value, so near-tie elements diverge by 1e-6.  Instead each element is
    integer-quantized with floor(val * 1e6) (identical IEEE multiply +
    floor everywhere, no ties), summed as int64 (exact, associative,
    partition-invariant), and divided back -- the same trick as
    graph.pagerank's quantized contribution sums.  The final division is
    deliberately NOT rounded: ROUND of a non-terminating quotient re-opens
    the shortest-string hazard, while IEEE double division of two exactly
    representable integers (both < 2^52 up to ~4e9 rows/group) is
    correctly-rounded and bit-identical in every engine.
    Output: (label, pos, centroid) rows -- assemble an array model with
    sort_array(collect_list(struct(pos, centroid))) when needed.
    """
    pos = emb.select(F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("pos", "val"))
    q = F.floor(F.col("val").cast("double") * F.lit(1_000_000.0)).cast("long")
    return (
        pos.groupBy("label", "pos")
        .agg((F.sum(q).cast("double") / (F.count("val") * F.lit(1_000_000.0))).alias("centroid"))
        .orderBy("label", "pos")
    )


def normalization_stats(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector normalization statistics against the corpus mean: L2 norm
    and mean-centered L2 norm -- the preprocessing audit before cosine
    retrieval (uncentered corpora with a dominant mean direction inflate
    all cosines; the centered norm distribution is the diagnostic).

    The global mean is ONE hash aggregate over posexplode'd elements with
    the integer-quantized sums of :func:`label_centroids` (exact,
    partition-invariant), collected as a dim-sized model and inlined as a
    literal array; both norms are then map-side Catalyst sequential folds
    -- the corpus is scanned twice, shuffled never.
    """
    pos = emb.select(F.posexplode(F.col(vec_col)).alias("pos", "val"))
    q = F.floor(F.col("val").cast("double") * F.lit(1_000_000.0)).cast("long")
    mean_rows = (
        pos.groupBy("pos")
        .agg((F.sum(q).cast("double") / (F.count("val") * F.lit(1_000_000.0))).alias("m"))
        .orderBy("pos")
        .collect()
    )
    mean_lit = F.array(*[F.lit(float(r["m"])) for r in mean_rows])
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))
    centered_sq = F.zip_with(vd, mean_lit, lambda x, m: (x - m) * (x - m))
    cnorm = F.sqrt(F.aggregate(centered_sq, F.lit(0.0), lambda acc, x: acc + x))
    return emb.select(
        F.col(id_col),
        micro_round(norm, "l2_norm"),
        micro_round(cnorm, "centered_l2_norm"),
    )


def _pq_codebook_exact(corpus: DataFrame, id_col: str, vec_col: str, dim: int) -> list[list[list[float]]]:
    """Driver-side product-quantization codebook, ENGINE-PORTABLE like
    _centroids_exact: codeword sources are the PQ_CODES corpus vectors
    of smallest (md5_int32(id, "pq"), id); codebook[m][j] = subvector m of
    source j, verbatim (no Lloyd refinement, so any engine can rebuild the
    identical book from the table alone).  Bounded collect: PQ_CODES rows.
    """
    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("h", md5_int32(F.col("id").cast("string"), seed="pq"))
        .orderBy("h", "id")
        .limit(PQ_CODES)
        .collect()
    )
    sub = dim // PQ_SUB
    return [[[float(x) for x in r["v"][m * sub : (m + 1) * sub]] for r in rows] for m in range(PQ_SUB)]


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN: compress, then score against the
    reconstruction.

    Each corpus vector is encoded to PQ_SUB small codes (nearest
    codeword per subspace, squared-L2, ties to the smallest codeword id)
    and scored via the RECONSTRUCTED quantized vector -- asymmetric
    distance computation with the reconstruction materialized instead of
    per-query lookup tables.  Encode and scoring run as Arrow
    exact-sequential kernels (functions._arrow_udfs.make_pq_recon /
    make_cosine_seq): vectorized over rows, sequential over dims, so every
    fold is the exact IEEE chain the oracle replays.

    The 100 TB story is the memory/scan footprint: dim x 4 bytes/row
    becomes PQ_SUB codes (32x smaller at 64-dim/8-sub), the difference
    between a RAM-resident index and a spilling one at billions of rows.
    Encode is a single map-side projection (no shuffle); the raw embedding
    column is pruned from every post-encode stage.  Composes with IVF for
    the full billion-scale recipe -- demonstrated by :func:`ivfpq_topk`
    (driver query s5, full replay oracle).

    Determinism: encode argmin and score folds are sequential IEEE chains
    with fixed tiebreaks, replayed bit-exactly by the s4 DuckDB oracle.
    Output schema matches brute_force_topk so recall is directly
    measurable (tests/test_similarity.py).
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq, make_pq_recon

    sub = dim // PQ_SUB
    book = _pq_codebook_exact(corpus, id_col, vec_col, dim)

    # Encode once per corpus row (repartition: small parquet arrives
    # single-partition and the encode is CPU-heavy -- see dedup._shingles).
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .select("neighbor_id", make_pq_recon(book, sub)(F.col("cv")).alias("rv"))
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "cos_sim", make_cosine_seq()(F.col("qv"), F.col("rv"))
    )
    return _topk_per_query(scored, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF + PQ composed -- the billion-scale ANN recipe, demonstrated.

    IVF bounds WHICH rows a query scores (probe ``nprobe`` of
    ``num_cells`` cells: scan cost drops by ~num_cells/nprobe, exactly as
    in :func:`ivf_topk_catalyst`); PQ bounds WHAT is scored (each corpus
    vector carried as PQ_SUB codes -> reconstruction, a 32x memory/
    scan reduction at 64-dim/8-sub, exactly as in :func:`pq_topk`).  The
    composition is one map-side projection per corpus row (cell id +
    reconstructed vector, no shuffle), a broadcast probe join on cell, and
    the two-stage re-rank -- at 1e9 rows the scored candidate set per
    query is nprobe/num_cells of the corpus read at PQ width, and no
    single reducer ever sees even that.

    Determinism: the cell model is the md5-seeded engine-portable
    _centroids_exact ('ivf' seed) and the codebook _pq_codebook_exact
    ('pq' seed) -- the same models as s3/s4 -- so the s5 DuckDB oracle
    replays seeding, assignment, encoding, reconstruction, probing, and
    scoring bit-exactly.  Output schema matches brute_force_topk.
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import (
        make_cell_probe,
        make_cell_top1,
        make_cosine_seq,
        make_pq_recon,
    )

    sub = dim // PQ_SUB
    cents = _centroids_exact(corpus, id_col, vec_col, num_cells)
    book = _pq_codebook_exact(corpus, id_col, vec_col, dim)
    # One pass over the corpus: cell assignment + PQ encode (CPU-heavy --
    # repartition first, see dedup._shingles).
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .select(
            "neighbor_id",
            make_cell_top1(cents)(F.col("cv")).alias("cell"),
            make_pq_recon(book, sub)(F.col("cv")).alias("rv"),
        )
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).withColumn(
        "cell", F.explode(make_cell_probe(cents, nprobe)(F.col("qv")))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", make_cosine_seq()(F.col("qv"), F.col("rv")))
    )
    return _topk_per_query(scored, k)


def topk_recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the exact
    one -- the "measure, don't guess" gate for every ANN index choice
    (bands/planes for LSH, nprobe/cells for IVF, codes for PQ).

    A left join of the exact neighbor set against the approximate one,
    aggregated per query: (query_id, n_hits, recall_at_k).  Both inputs are
    top-k tables (k rows per query), so the join and the aggregate are tiny
    regardless of corpus size -- the expensive part is producing the inputs,
    and each of those has its own scale path.
    """
    keys = ["query_id", "neighbor_id"]
    j = exact.select(keys).join(approx.select(keys).withColumn("_hit", F.lit(1)), keys, "left")
    return (
        j.groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits"),
            F.count(F.lit(1)).alias("_k"),
        )
        .select("query_id", "n_hits", ratio_round(F.col("n_hits"), F.col("_k"), f"recall_at_{k}"))
    )


def scalar_quantize_int8_gate(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of an embedding column with a
    machine-checked reconstruction contract -- the 4x storage cut (float32
    -> uint8 codes + per-dim affine params) embedding stores apply before
    ANN indexing.

    code = clamp(floor((x - min_d) / scale_d + 0.5), 0, 255) with
    scale_d = (max_d - min_d) / 255; reconstruction min_d + code*scale_d
    is then within scale_d/2 of x BY CONSTRUCTION -- and that bound is the
    gate: one row per dimension asserting every corpus value round-trips
    within half a quantization step (constant dimensions degenerate to
    code 0, error exactly 0).

    Scale: per-dim min/max is one model-sized aggregate broadcast back;
    coding + error check are map-side expressions over the posexploded
    corpus; the output aggregate is dim-sized.  Every arithmetic step is
    a fixed IEEE sequence the DuckDB oracle replays bit-for-bit.
    """
    x = emb.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col)).alias("pos", "v0"),
    ).select("vec_id", "pos", F.col("v0").cast("double").alias("v"))
    stats = x.groupBy("pos").agg(F.min("v").alias("dmin"), F.max("v").alias("dmax"))
    j = x.join(F.broadcast(stats), "pos")
    sc = (F.col("dmax") - F.col("dmin")) / F.lit(255.0)
    code = F.when(sc == 0, F.lit(0).cast("long")).otherwise(
        F.greatest(F.lit(0).cast("long"), F.least(F.lit(255).cast("long"), F.floor((F.col("v") - F.col("dmin")) / sc + F.lit(0.5))))
    )
    err_ok = (F.abs(F.col("v") - (F.col("dmin") + code * sc)) <= sc * F.lit(0.5)).cast("int")
    return (
        j.select("pos", "dmin", "dmax", err_ok.alias("ok"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.min("ok").alias("all_within_half_step"),
            micro_round(F.min("dmin"), "dim_min"),
            micro_round(F.min("dmax"), "dim_max"),
        )
        .orderBy("pos")
    )


def pca_gate(emb: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """PCA over the embedding table with machine-checked invariants -- the
    dimensionality-reduction step an embedding pipeline runs before
    clustering/ANN (Sherman-Morrison-free classic: covariance eigh).

    Scale design: the ONLY distributed work is accumulating the Gram
    matrix and mean vector as INTEGER-QUANTIZED partial sums -- an Arrow
    kernel emits per-batch (i, j, floor(x_i*x_j*1e6)-sum) rows (d*(d+1)/2
    pairs, model-sized regardless of row count), one hash aggregate
    combines them, and the d x d eigendecomposition runs driver-side on
    the model-sized matrix (numpy eigh on 64x64).  Per-element floor
    quantization BEFORE summation makes the accumulated sums exact int64
    and therefore partition-count/engine invariant.

    Output (one row): n_vectors and dim (oracle-exact), trace_cov_nano
    (integer; per-dim variance terms floor-quantized at 1e9 then summed
    -- replayed exactly by the oracle from the same quantized sums), and
    three computed gate bits: eigsum_matches_trace (sum of eigenvalues
    equals the trace within 1e-6 -- the eigh sanity invariant),
    orthonormal_ok (||Q^T Q - I||_max < 1e-8), eigs_descending_ok.
    Eigenvalues/vectors themselves are LAPACK state, deliberately NOT in
    the contract (same rationale as ALS factors: m1/m3).
    """
    import math

    spark = emb.sparkSession

    n_pairs = dim * (dim + 1) // 2

    def gram_kernel(batches):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(dim)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            # per-element floor quantization BEFORE any summation: exact
            # int64 partials, order-free combination
            prods = mat[:, iu[0], None].squeeze(-1) * mat[:, iu[1], None].squeeze(-1)
            gq = np.floor(prods * 1e6).astype(np.int64).sum(axis=0)
            mq = np.floor(mat * 1e6).astype(np.int64).sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu[0], np.arange(dim)]),
                    "j": np.concatenate([iu[1], np.full(dim, -1)]),
                    "s": np.concatenate([gq, mq]),
                    "n": np.concatenate([np.full(n_pairs, len(pdf)), np.zeros(dim, dtype=np.int64)]),
                }
            )

    parts = (
        emb.select(vec_col)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(gram_kernel, schema="i int, j int, s long, n long")
    )
    sums = parts.groupBy("i", "j").agg(F.sum("s").alias("s"), F.sum("n").alias("n")).collect()  # model-sized: d(d+1)/2 + d rows

    import numpy as np

    G = np.zeros((dim, dim), dtype=np.int64)
    m = np.zeros(dim, dtype=np.int64)
    n_total = 0
    for r in sums:
        if r["j"] == -1:
            m[r["i"]] = r["s"]
        else:
            G[r["i"], r["j"]] = G[r["j"], r["i"]] = r["s"]
            if r["i"] == 0 and r["j"] == 0:
                n_total = r["n"] // 1  # every pair row carries the batch count
    n_total = int(n_total)
    mean = m / (n_total * 1e6)
    cov = G / (n_total * 1e6) - np.outer(mean, mean)
    # trace from the SAME scalar formula the oracle replays, term-quantized
    trace_nano = 0
    for i in range(dim):
        gii = int(G[i, i])
        mi = int(m[i])
        term = gii / n_total / 1e6 - (mi / n_total / 1e6) * (mi / n_total / 1e6)
        trace_nano += math.floor(term * 1e9)
    evals, evecs = np.linalg.eigh(cov)
    evals, evecs = evals[::-1], evecs[:, ::-1]
    eigsum_ok = int(abs(float(evals.sum()) - float(np.trace(cov))) < 1e-6)
    ortho_ok = int(float(np.abs(evecs.T @ evecs - np.eye(dim)).max()) < 1e-8)
    desc_ok = int(bool(np.all(np.diff(evals) <= 1e-12)))
    return spark.createDataFrame(
        [(n_total, dim, int(trace_nano), eigsum_ok, ortho_ok, desc_ok)],
        "n_vectors long, dim long, trace_cov_nano long, eigsum_matches_trace long, "
        "orthonormal_ok long, eigs_descending_ok long",
    )


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    filter_col: str,
    k: int = 5,
) -> DataFrame:
    """Metadata-filtered vector search: exact top-k cosine neighbors where
    each neighbor must share the query's ``filter_col`` value -- the
    "filtered ANN" every production vector store exposes (category-scoped
    retrieval, tenant isolation, language-matched examples).

    Plan shape: the filter composes INTO the scoring join condition
    (label equality AND id inequality), so non-matching corpus rows are
    discarded by the broadcast-hash probe BEFORE the cosine kernel ever
    runs -- pre-filtering, not post-filtering, which matters both for
    cost and because post-filtering a fixed-k candidate list can return
    FEWER than k valid results.  Corpus never shuffles; the re-rank is
    the two-stage partial top-k.  Composes with ivfpq_topk/refine_topk
    for the approximate route (filter the candidate join the same way).
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), F.col(filter_col).alias("_qf")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), F.col(filter_col).alias("_cf")
    )
    cos = make_cosine_seq()
    scored = (
        c.join(F.broadcast(q), (F.col("_qf") == F.col("_cf")) & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn("cos_sim", cos(F.col("qv"), F.col("cv")))
        .drop("_qf", "_cf")
    )
    return _topk_per_query(scored, k)


def scalar_quantization_profile(emb: DataFrame, vec_col: str, n_levels: int = 256) -> DataFrame:
    """Int8-style scalar quantization (SQ8) calibration + reconstruction-
    error profile, per dimension -- the memory lever that makes
    billion-vector ANN serve from RAM (4 bytes -> 1 byte per dim; this is
    what FAISS's SQ8 / IVF_SQ8 does before ADC scoring).

    Engine-exact formulation: every value pre-quantizes to integer micros
    via floor(double(x) * 1e6 + 0.5) -- pure IEEE double ops both engines
    execute bit-identically (a decimal(18,6) CAST instead rounds float32
    half-digits differently across engines: measured +/-1 micro on ~0.1%
    of elements); calibration is a
    per-dim integer (min_m, max_m) aggregate (model-sized: dim rows), and
    the code/reconstruction are ALL-integer maps:
        width = max_m - min_m + 1              (micro units)
        code  = ((x_m - min_m) * n_levels) DIV width        in [0, n)
        recon = min_m + ((2*code + 1) * width) DIV (2*n)    (cell midpoint)
    so max/total absolute error per dim replay bit-for-bit on any engine
    -- no float division anywhere (the dec_avg lesson).  The theoretical
    bound err <= width DIV (2*n_levels) + 1 micro ships alongside as a
    machine-checkable gate bit.

    Scale shape: posexplode -> ONE (dim)-keyed calibration aggregate
    (broadcast back: dim rows) -> map-side code/recon/error -> ONE
    (dim)-keyed error aggregate.  Nothing data-sized ever sits on the
    driver.  Returns per dim: (dim, min_m, max_m, n_vectors, max_err_m,
    sum_err_m, within_bound).
    """
    pos = emb.select(F.posexplode(F.col(vec_col)).alias("dim", "v")).select(
        "dim", F.floor(F.col("v").cast("double") * 1_000_000 + F.lit(0.5)).cast("long").alias("x_m")
    )
    calib = pos.groupBy("dim").agg(F.min("x_m").alias("min_m"), F.max("x_m").alias("max_m"))
    j = pos.join(F.broadcast(calib), "dim")
    code = F.expr(f"((x_m - min_m) * {n_levels}) DIV (max_m - min_m + 1)")
    recon = F.col("min_m") + F.expr(f"((2 * __code + 1) * (max_m - min_m + 1)) DIV {2 * n_levels}")
    scored = (
        j.withColumn("__code", code)
        .withColumn("__recon", recon)
        .withColumn("__err", F.abs(F.col("x_m") - F.col("__recon")))
    )
    return (
        scored.groupBy("dim")
        .agg(
            F.min("min_m").cast("long").alias("min_m"),
            F.max("max_m").cast("long").alias("max_m"),
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.max("__err").cast("long").alias("max_err_m"),
            F.sum("__err").cast("long").alias("sum_err_m"),
        )
        .withColumn(
            "within_bound",
            F.expr(f"CAST(max_err_m <= (max_m - min_m + 1) DIV {2 * n_levels} + 1 AS LONG)"),
        )
        .orderBy("dim")
    )
