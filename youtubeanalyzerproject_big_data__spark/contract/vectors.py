"""Vector queries: ANN search (s), ANN recall (r), embedding statistics (em)
and k-means (km)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32_sql
from youtubeanalyzerproject_big_data__spark.io import load_table
from youtubeanalyzerproject_big_data__spark.operators import similarity, textanalysis as text
from youtubeanalyzerproject_big_data__spark.contract import query
from youtubeanalyzerproject_big_data__spark.contract._sql import _cos_sql, _dmicro, _dratio


# em4: n/dim/trace replay exactly (same quantized-sum formula);
# eigenvalues/vectors are LAPACK state -- their invariants ship as
# engine-computed gate bits (constant 1 here), like m3/a12.
@query("em4_pca_gate", oracle="""
            WITH x AS (
              SELECT vec_id, t.i AS i, CAST(embedding[t.i] AS DOUBLE) AS v
              FROM embeddings, range(1, 65) t(i)),
            s AS (
              SELECT i, CAST(SUM(FLOOR(v * v * 1e6)) AS BIGINT) AS gii,
                     CAST(SUM(FLOOR(v * 1e6)) AS BIGINT) AS mi,
                     COUNT(*) AS n
              FROM x GROUP BY i)
            SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
                   CAST(64 AS BIGINT) AS dim,
                   CAST(SUM(FLOOR((CAST(gii AS DOUBLE) / n / 1e6
                                   - (CAST(mi AS DOUBLE) / n / 1e6) * (CAST(mi AS DOUBLE) / n / 1e6)) * 1e9)) AS BIGINT) AS trace_cov_nano,
                   CAST(1 AS BIGINT) AS eigsum_matches_trace,
                   CAST(1 AS BIGINT) AS orthonormal_ok,
                   CAST(1 AS BIGINT) AS eigs_descending_ok
            FROM s
        """)
def q_em4(spark: SparkSession, sf: str) -> DataFrame:
    """PCA gate over embeddings (similarity.pca_gate): integer-quantized
    Gram/mean accumulation (model-sized shuffle), driver-side 64x64 eigh;
    n/dim/trace are oracle-exact, eigen invariants are computed gates."""
    return similarity.pca_gate(load_table(spark, sf, "embeddings"), "embedding", dim=64)


@query("em5_anisotropy_histogram", oracle=f"""
            WITH t AS (SELECT COUNT(*) AS n FROM embeddings),
            a AS (SELECT vec_id AS pid, embedding AS ea FROM embeddings, t WHERE vec_id < n // 2),
            b AS (SELECT vec_id - n // 2 AS pid, embedding AS eb FROM embeddings, t WHERE vec_id >= n // 2),
            p AS (SELECT {_cos_sql("ea", "eb")} AS cos FROM a JOIN b USING (pid))
            SELECT CAST(FLOOR(cos * 10) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM p GROUP BY 1 ORDER BY bucket
        """)
def q_em5(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space anisotropy histogram (Ethayarajh 2019 diagnostic):
    cosine similarity over the deterministic half-shift pairing
    (vec i with vec i + N/2), bucketed at 0.1 -- a healthy embedding
    space shows mass near 0, a collapsed one near 1.  Exact-sequential
    cosine (the s1 kernel), floor(cos*10) integer buckets."""
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq

    emb = load_table(spark, sf, "embeddings")
    n_total = emb.count()
    half = n_total // 2
    a = emb.where(F.col("vec_id") < half).select(F.col("vec_id").alias("pid"), F.col("embedding").alias("va"))
    b = emb.where(F.col("vec_id") >= half).select((F.col("vec_id") - half).alias("pid"), F.col("embedding").alias("vb"))
    cos = make_cosine_seq()
    pairs = a.join(b, "pid").withColumn("cos", cos(F.col("va"), F.col("vb")))
    return (
        pairs.groupBy(F.floor(F.col("cos") * 10).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("bucket")
    )


@query("s7_ann_filtered_top5", oracle=f"""
            WITH s AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_cos_sql("q.embedding", "c.embedding")} AS cos
              FROM embeddings q JOIN embeddings c
                ON q.vec_id != c.vec_id AND q.label = c.label
              WHERE q.vec_id < 10)
            SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM s)
            WHERE rk <= 5
        """)
def q_s7(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-filtered vector search (similarity.filtered_topk): top-5
    cosine neighbors SHARING THE QUERY'S LABEL -- pre-filtering composed
    into the broadcast join condition, never post-filtering a fixed-k
    list."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.filtered_topk(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", "label", k=5
    )
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def _bruteforce_ann_oracle(k: int = 5) -> str:
    """DuckDB replay of similarity.brute_force_topk (exact cosine top-k):
    shared by the s1 oracle and r1's recall denominator."""
    cos = _cos_sql("q.embedding", "c.embedding")
    return f"""
WITH s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos} AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM s)
WHERE rk <= {k}
"""


@query("s1_ann_bruteforce_top5", bench=True, oracle=_bruteforce_ann_oracle(k=5))
def q_s1(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 10."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", k=5)
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def _hyperplane_band_sql(dim: int) -> list[str]:
    """SQL for the engine's hyperplane band values (similarity.
    _hyperplane_signature): the hyperplanes are deterministic md5
    derivations evaluated driver-side (similarity._plane_component), so the
    SQL inlines the SAME float literals (repr round-trips to identical
    doubles) and replays the signature fold -- each dot product is the
    sequential left-assoc chain 0.0 + x1*p1 + ... + xd*pd, bit-identical
    to Catalyst's aggregate/zip_with fold, so bucket membership matches
    exactly.  Returns one expression per band (unaliased)."""
    from youtubeanalyzerproject_big_data__spark.operators.similarity import _plane_component

    bits_per_band = similarity.LSH_PLANES // similarity.LSH_BANDS
    bit_sql = []
    for p in range(similarity.LSH_PLANES):
        terms = " + ".join(
            f"CAST(embedding[{c + 1}] AS DOUBLE) * CAST({_plane_component(p, c)!r} AS DOUBLE)" for c in range(dim)
        )
        bit_sql.append(f"(CASE WHEN CAST(0.0 AS DOUBLE) + {terms} >= 0 THEN 1 ELSE 0 END)")
    return [
        " + ".join(f"{bit_sql[b * bits_per_band + r]} * {1 << r}" for r in range(bits_per_band))
        for b in range(similarity.LSH_BANDS)
    ]


def _lsh_ann_oracle(dim: int = 64, k: int = 5) -> str:
    """DuckDB replay of similarity.lsh_topk (see _hyperplane_band_sql):
    candidates = any shared band value; exact cosine re-rank on candidates.
    """
    band_cols = ",\n         ".join(
        f"{e} AS b{b}" for b, e in enumerate(_hyperplane_band_sql(dim))
    )
    any_band = " OR ".join(f"q.b{b} = c.b{b}" for b in range(similarity.LSH_BANDS))
    cos = _cos_sql("qv", "cv")
    return f"""
WITH sig AS (
  SELECT vec_id, embedding,
         {band_cols}
  FROM embeddings
),
cand AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv, c.vec_id AS neighbor_id, c.embedding AS cv
  FROM sig q JOIN sig c
    ON q.vec_id != c.vec_id AND ({any_band})
  WHERE q.vec_id < 10
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM cand)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
WHERE rk <= {k}
"""


@query("s2_ann_lsh_top5", oracle=_lsh_ann_oracle(dim=64, k=5))
def q_s2(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5.  Oracle: _lsh_ann_oracle replays the
    md5-derived hyperplane signatures + banding + exact re-rank in DuckDB
    (recall vs q_s1 is additionally measured in tests)."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.lsh_topk(emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", dim=64, k=5)
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def _ivf_ann_oracle(dim: int = 64, num_cells: int = 16, nprobe: int = 4, k: int = 5) -> str:
    """DuckDB replay of similarity.ivf_topk_catalyst -- the full IVF index
    pipeline, not just the re-rank.

    The centroid model is reconstructed IN SQL: seeds = the num_cells
    vectors of smallest (md5_int32(vec_id, 'ivf'), vec_id), normalized with
    the same sequential square-sum chain the engine computes driver-side
    (_centroids_exact), so centroid components are bit-identical.  Cell
    assignment replays the per-cell sequential dot fold with the same
    (dot DESC, cell ASC) tiebreak; probing, candidate join, and exact
    cosine re-rank then mirror the engine plan.
    """
    normchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CAST(embedding[{i + 1}] AS DOUBLE) * CAST(embedding[{i + 1}] AS DOUBLE)" for i in range(dim)
    )
    dotchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CAST(v.embedding[{i + 1}] AS DOUBLE) * c.cv[{i + 1}]" for i in range(dim)
    )
    h = md5_int32_sql("CAST(vec_id AS VARCHAR)", "ivf")
    cos = _cos_sql("qv", "cv2")
    return f"""
WITH ordered AS (
  SELECT vec_id, embedding, sqrt({normchain}) AS nrm,
         ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn
  FROM embeddings
),
cents AS (
  SELECT rn - 1 AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS cv
  FROM ordered WHERE rn <= {num_cells}
),
assign AS (
  SELECT v.vec_id, v.embedding, c.cell, {dotchain} AS dp
  FROM embeddings v CROSS JOIN cents c
),
cellof AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell ASC) AS rn
    FROM assign) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell ASC) AS rn
    FROM assign WHERE vec_id < 10) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, p.qv, s.vec_id AS neighbor_id, s.embedding AS cv2
  FROM probes p JOIN cellof s USING (cell)
  WHERE p.query_id != s.vec_id
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM cand)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
WHERE rk <= {k}
"""


@query("s3_ann_ivf_top5", oracle=_ivf_ann_oracle(dim=64, num_cells=16, nprobe=4, k=5))
def q_s3(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN top-5 -- the inverted-file route: probe nprobe/num_cells of
    the corpus per query.  Catalyst variant with a deterministic md5-seeded
    centroid model so the FULL index pipeline (seeding, normalization, cell
    assignment, probing, re-rank) is replayed by the DuckDB oracle
    (_ivf_ann_oracle)."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.ivf_topk_catalyst(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", k=5, num_cells=16, nprobe=4
    )
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


# BM25 replay: identical IEEE sequence -- (idf * (tf*2.2)) / denom
# * 1e6 floored; avgdl as the same double division; literals 2.2 /
# 0.25 / 0.75 / 1.2 round-trip exactly.  ln crosses libm (t8-class
# documented ulp residual).
# s8: both retrieval legs replayed (t11's BM25 CTEs + s1's exact
# cosine), fused by integer reciprocal-rank 10^9 DIV (60 + rank).
@query("s8_hybrid_rrf", bench=True, stdout=True, oracle=rf"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
              FROM documents),
            l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
            g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl FROM l),
            h AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, unnest(toks) AS token FROM tk)
                  WHERE token IN ('table', 'scan', 'merge') GROUP BY 1, 2),
            d AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfq FROM h GROUP BY token),
            s AS (SELECT h.doc_id,
                         CAST(floor(
                           ln(1.0 + (g.n - d.dfq + 0.5) / (d.dfq + 0.5))
                           * (CAST(tf AS DOUBLE) * 2.2)
                           / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
                                                          / (CAST(g.sdl AS DOUBLE) / CAST(g.n AS DOUBLE))))
                           * 1e6) AS BIGINT) AS c
                  FROM h JOIN d USING (token) JOIN l ON h.doc_id = l.doc_id, g),
            topt AS (
              SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank_text
              FROM (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
                    FROM s GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 20)),
            vleg AS (
              SELECT neighbor_id AS v_id, CAST(rk AS BIGINT) AS rank_vec
              FROM (SELECT c.vec_id AS neighbor_id,
                           ROW_NUMBER() OVER (ORDER BY {_cos_sql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
                    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
                    WHERE q.vec_id = 0)
              WHERE rk <= 20),
            f AS (
              SELECT COALESCE(t.doc_id, v.v_id) AS doc_id,
                     COALESCE(t.rank_text, -1) AS rank_text,
                     COALESCE(v.rank_vec, -1) AS rank_vec,
                     COALESCE(1000000000 // (60 + t.rank_text), 0)
                       + COALESCE(1000000000 // (60 + v.rank_vec), 0) AS rrf_nano
              FROM topt t FULL OUTER JOIN vleg v ON t.doc_id = v.v_id)
            SELECT doc_id, CAST(rank_text AS BIGINT) AS rank_text,
                   CAST(rank_vec AS BIGINT) AS rank_vec, CAST(rrf_nano AS BIGINT) AS rrf_nano
            FROM f ORDER BY rrf_nano DESC, doc_id LIMIT 10
        """)
def q_s8(spark: SparkSession, sf: str) -> DataFrame:
    """HYBRID retrieval with reciprocal-rank fusion: the BM25 lexical leg
    (t11's scorer, terms {table, scan, merge}) and the exact-cosine
    vector leg (s1's scorer, query vec 0) each produce a top-20 ranked
    list over the shared doc/vec id space; RRF fuses them --
    score = sum over legs of 1/(60 + rank), here integer
    10^9 DIV (60 + rank) so fusion replays exactly cross-engine -- and
    the fused top-10 is the answer.  The production RAG/retrieval
    composition: each leg is independently index-accelerable (inverted
    index / ANN), fusion touches only 2k candidate rows.  Missing-leg
    ranks surface as -1 sentinels (repo invariant), contributing 0."""
    emb = load_table(spark, sf, "embeddings")
    docs = load_table(spark, sf, "documents")
    vec = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") == 0), "vec_id", "embedding", k=20
    ).select(F.col("neighbor_id").alias("v_id"), F.col("nn_rank").cast("long").alias("rank_vec"))
    txt = text.bm25_topk(docs, "doc_id", "text", ["table", "scan", "merge"], k=20)
    w20 = Window.orderBy(F.desc("score_micro"), "doc_id")  # 20-row window: model-sized
    txt = txt.select("doc_id", F.row_number().over(w20).cast("long").alias("rank_text"))
    fused = txt.join(vec, txt.doc_id == vec.v_id, "full_outer").select(
        F.coalesce(txt.doc_id, vec.v_id).alias("doc_id"),
        F.coalesce("rank_text", F.lit(-1)).alias("rank_text"),
        F.coalesce("rank_vec", F.lit(-1)).alias("rank_vec"),
        (
            F.coalesce(F.expr("CAST(1000000000 DIV (60 + rank_text) AS BIGINT)"), F.lit(0))
            + F.coalesce(F.expr("CAST(1000000000 DIV (60 + rank_vec) AS BIGINT)"), F.lit(0))
        ).alias("rrf_nano"),
    )
    return fused.orderBy(F.desc("rrf_nano"), "doc_id").limit(10)


def _pq_ann_oracle(dim: int = 64, k: int = 5) -> str:
    """DuckDB replay of similarity.pq_topk -- the full PQ pipeline.

    The codebook is rebuilt IN SQL (sources = PQ_CODES vectors of smallest
    (md5_int32(vec_id,'pq'), vec_id), subvector m taken verbatim), encoding
    replays the per-subspace sequential squared-L2 fold with the engine's
    (dist ASC, codeword ASC) tiebreak, reconstruction concatenates the
    chosen codewords, and scoring reuses the exact cosine chain -- all
    bit-identical IEEE sequences, so values hash-match without tolerance.
    """
    num_sub, num_codes = similarity.PQ_SUB, similarity.PQ_CODES
    sub = dim // num_sub
    h = md5_int32_sql("CAST(vec_id AS VARCHAR)", "pq")
    # sequential fold ((0+t1)+t2)+... identical to zip_with+aggregate
    distchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + (CAST(v.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE) - CAST(c.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE))"
        f" * (CAST(v.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE) - CAST(c.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE))"
        for i in range(sub)
    )
    cos = _cos_sql("qv", "rv")
    return f"""
WITH ordered AS (
  SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn
  FROM embeddings
),
codes AS (SELECT rn - 1 AS j, embedding FROM ordered WHERE rn <= {num_codes}),
ms AS (SELECT UNNEST(generate_series(0, {num_sub - 1})) AS m),
dists AS (
  SELECT v.vec_id, ms.m, c.j, {distchain} AS d
  FROM embeddings v CROSS JOIN ms CROSS JOIN codes c
),
enc AS (
  SELECT vec_id, m, j FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, j ASC) AS rn
    FROM dists) WHERE rn = 1
),
recon AS (
  SELECT e.vec_id,
         flatten(list(list_transform(c.embedding[e.m*{sub} + 1 : (e.m + 1)*{sub}],
                                     x -> CAST(x AS DOUBLE)) ORDER BY e.m)) AS rv
  FROM enc e JOIN codes c ON e.j = c.j
  GROUP BY e.vec_id
),
pairs AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv, r.vec_id AS neighbor_id, r.rv
  FROM embeddings q JOIN recon r ON q.vec_id != r.vec_id
  WHERE q.vec_id < 10
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM pairs)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
WHERE rk <= {k}
"""


@query("s4_ann_pq_top5", bench=True, oracle=_pq_ann_oracle(dim=64, k=5))
def q_s4(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN top-5 (similarity.pq_topk): corpus
    compressed 32x (8 codes vs 64 floats), scored against reconstructions.
    Oracle replays codebook -> encode -> reconstruct -> score bit-exactly;
    recall vs s1 additionally measured in tests."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.pq_topk(emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", dim=64, k=5)
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def _ivfpq_ann_oracle(dim: int = 64, num_cells: int = 16, nprobe: int = 4, k: int = 5) -> str:
    """DuckDB replay of similarity.ivfpq_topk -- the COMPOSED IVF+PQ index.

    IVF half (verbatim from _ivf_ann_oracle, seed 'ivf'): centroid seeding +
    normalization, sequential-dot cell assignment with (dp DESC, cell ASC)
    tiebreak, nprobe probing.  PQ half (verbatim from _pq_ann_oracle, seed
    'pq'): codebook rebuild, per-subspace squared-L2 encode with
    (d ASC, j ASC) tiebreak, reconstruction.  Candidates = corpus rows in
    probed cells; scoring = exact cosine of query vs RECONSTRUCTED vector
    (asymmetric distance).  Every arithmetic step is the same IEEE sequence
    the engine computes, so values hash-match without tolerance.
    """
    num_sub, num_codes = similarity.PQ_SUB, similarity.PQ_CODES
    sub = dim // num_sub
    hi = md5_int32_sql("CAST(vec_id AS VARCHAR)", "ivf")
    hp = md5_int32_sql("CAST(vec_id AS VARCHAR)", "pq")
    normchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CAST(embedding[{i + 1}] AS DOUBLE) * CAST(embedding[{i + 1}] AS DOUBLE)" for i in range(dim)
    )
    dotchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CAST(v.embedding[{i + 1}] AS DOUBLE) * c.cv[{i + 1}]" for i in range(dim)
    )
    distchain = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + (CAST(v.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE) - CAST(c.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE))"
        f" * (CAST(v.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE) - CAST(c.embedding[ms.m*{sub} + {i + 1}] AS DOUBLE))"
        for i in range(sub)
    )
    cos = _cos_sql("qv", "rv")
    return f"""
WITH iord AS (
  SELECT vec_id, embedding, sqrt({normchain}) AS nrm,
         ROW_NUMBER() OVER (ORDER BY {hi}, vec_id) AS rn
  FROM embeddings
),
cents AS (
  SELECT rn - 1 AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS cv
  FROM iord WHERE rn <= {num_cells}
),
assign AS (
  SELECT v.vec_id, v.embedding, c.cell, {dotchain} AS dp
  FROM embeddings v CROSS JOIN cents c
),
cellof AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell ASC) AS rn
    FROM assign) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell ASC) AS rn
    FROM assign WHERE vec_id < 10) WHERE rn <= {nprobe}
),
pord AS (
  SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY {hp}, vec_id) AS rn FROM embeddings
),
codes AS (SELECT rn - 1 AS j, embedding FROM pord WHERE rn <= {num_codes}),
ms AS (SELECT UNNEST(generate_series(0, {num_sub - 1})) AS m),
dists AS (
  SELECT v.vec_id, ms.m, c.j, {distchain} AS d
  FROM embeddings v CROSS JOIN ms CROSS JOIN codes c
),
enc AS (
  SELECT vec_id, m, j FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, j ASC) AS rn
    FROM dists) WHERE rn = 1
),
recon AS (
  SELECT e.vec_id,
         flatten(list(list_transform(c.embedding[e.m*{sub} + 1 : (e.m + 1)*{sub}],
                                     x -> CAST(x AS DOUBLE)) ORDER BY e.m)) AS rv
  FROM enc e JOIN codes c ON e.j = c.j
  GROUP BY e.vec_id
),
cand AS (
  SELECT p.query_id, p.qv, s.vec_id AS neighbor_id, r.rv
  FROM probes p JOIN cellof s USING (cell) JOIN recon r ON s.vec_id = r.vec_id
  WHERE p.query_id != s.vec_id
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM cand)
SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
WHERE rk <= {k}
"""


@query("s5_ann_ivfpq_top5", bench=True, oracle=_ivfpq_ann_oracle(dim=64, num_cells=16, nprobe=4, k=5))
def q_s5(spark: SparkSession, sf: str) -> DataFrame:
    """IVF+PQ composed ANN top-5 (similarity.ivfpq_topk): IVF bounds WHICH
    rows each query scores (probe 4/16 cells), PQ bounds WHAT is scored
    (8 codes vs 64 floats, 32x).  Uses the same md5-seeded 'ivf' centroid
    model as s3 and 'pq' codebook as s4, so the oracle replays the whole
    composed index (seed -> assign -> encode -> probe -> ADC re-rank)
    bit-exactly -- the billion-scale recipe demonstrated, not asserted."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", dim=64, k=5, num_cells=16, nprobe=4
    )
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


def _refined_ann_oracle() -> str:
    """DuckDB replay of similarity.refine_topk over ivfpq_topk candidates
    (the s6 two-phase route): the composed-index replay proposes 20, the
    exact brute-force cosine fragment decides the top 5."""
    return f"""
            WITH cand AS (
              SELECT query_id, neighbor_id
              FROM ({_ivfpq_ann_oracle(dim=64, num_cells=16, nprobe=4, k=20)})),
            s AS (
              SELECT cand.query_id, cand.neighbor_id,
                     {_cos_sql("q.embedding", "c.embedding")} AS cos
              FROM cand
              JOIN embeddings q ON cand.query_id = q.vec_id
              JOIN embeddings c ON cand.neighbor_id = c.vec_id)
            SELECT query_id, neighbor_id, {_dmicro('cos')} AS cos_sim, CAST(rk AS BIGINT) AS nn_rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM s)
            WHERE rk <= 5
        """


# Retrieve-then-refine: the s5 index replay at k=20 proposes, the
# exact brute-force cosine fragment decides -- both phases the
# same IEEE sequences as the engine's kernels.
@query("s6_ann_refined_top5", bench=True, stdout=True, oracle=_refined_ann_oracle())
def q_s6(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieve-then-refine ANN: the IVF+PQ index proposes 20 candidates
    per query (compressed scan), exact full-precision cosine decides the
    top-5 (similarity.refine_topk) -- the standard two-phase serving
    recipe.  Both phases replay bit-exactly: candidates via the s5 index
    oracle at k=20, refinement via the brute-force cosine fragment over
    exactly those pairs."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    cand = similarity.ivfpq_topk(emb, queries, "vec_id", "embedding", dim=64, k=20, num_cells=16, nprobe=4)
    out = similarity.refine_topk(emb, queries, cand, "vec_id", "embedding", k=5)
    return out.withColumn("nn_rank", F.col("nn_rank").cast("long"))


# Quantization replay: same UNNEST/pos convention as em1; scale,
# code, and round-trip error are the identical double sequence, so
# the half-step gate bit matches exactly (constant dims: sc=0 ->
# code 0, error 0, vacuously within bound).
@query("em3_int8_quantization_gate", oracle=f"""
            WITH x AS (
              SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
                     GENERATE_SUBSCRIPTS(embedding, 1) AS p
              FROM embeddings),
            x2 AS (SELECT vec_id, CAST(p - 1 AS INT) AS pos, v FROM x),
            s AS (SELECT pos, MIN(v) AS dmin, MAX(v) AS dmax FROM x2 GROUP BY pos),
            jj AS (SELECT x2.pos, v, dmin, dmax, (dmax - dmin) / 255.0 AS sc
                   FROM x2 JOIN s USING (pos)),
            c AS (SELECT pos, v, dmin, dmax, sc,
                         CASE WHEN sc = 0 THEN CAST(0 AS BIGINT)
                              ELSE CAST(GREATEST(0, LEAST(255, FLOOR((v - dmin) / sc + 0.5))) AS BIGINT)
                         END AS code
                  FROM jj),
            e AS (SELECT pos, dmin, dmax,
                         CASE WHEN ABS(v - (dmin + code * sc)) <= sc * 0.5 THEN 1 ELSE 0 END AS ok
                  FROM c)
            SELECT pos, CAST(COUNT(*) AS BIGINT) AS n_values,
                   CAST(MIN(ok) AS INT) AS all_within_half_step,
                   {_dmicro('MIN(dmin)')} AS dim_min,
                   {_dmicro('MIN(dmax)')} AS dim_max
            FROM e GROUP BY pos
        """)
def q_em3(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar quantization gate (similarity.scalar_quantize_int8_gate):
    per-dimension affine uint8 coding of the embeddings table with the
    half-step reconstruction bound asserted over every value -- the 4x
    storage cut, contract-checked.  Every arithmetic step is a fixed IEEE
    sequence the oracle replays bit-for-bit (min/max/scale/round-trip are
    exact double ops on both engines)."""
    return similarity.scalar_quantize_int8_gate(load_table(spark, sf, "embeddings"), "vec_id", "embedding")


# Mean list assembled from the SAME quantized integer sums the
# engine collects; both norms are the 0.0 + x1*x1 + ... sequential
# chains (list_sum == Catalyst aggregate fold, the _cos_sql
# equivalence).
@query("em2_normalization_stats", oracle=f"""
            WITH x AS (
              SELECT UNNEST(embedding) AS val, GENERATE_SUBSCRIPTS(embedding, 1) AS p
              FROM embeddings),
            mn AS (
              SELECT p, CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                        / (COUNT(val) * 1000000.0) AS m
              FROM x GROUP BY p),
            ml AS (SELECT list(m ORDER BY p) AS mv FROM mn)
            SELECT vec_id,
                   {_dmicro("sqrt(list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))")} AS l2_norm,
                   {_dmicro("sqrt(list_sum(list_transform(generate_series(1, len(embedding)), i -> (CAST(embedding[i] AS DOUBLE) - mv[i]) * (CAST(embedding[i] AS DOUBLE) - mv[i]))))")} AS centered_l2_norm
            FROM embeddings, ml
        """)
def q_em2(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector L2 and mean-centered L2 norms (the cosine-retrieval
    preprocessing audit; similarity.normalization_stats).  Corpus mean =
    one quantized hash aggregate collected as a dim-sized model; norms are
    map-side sequential folds the oracle replays element-for-element."""
    return similarity.normalization_stats(load_table(spark, sf, "embeddings"), "vec_id", "embedding")


def _kmeans_ctes(dim: int, k: int, iters: int, final_grid: bool = True) -> str:
    """Shared CTE chain replaying clustering's Lloyd trajectory: seed
    selection, every assignment (sequential squared-L2 fold, (dist, cell)
    tiebreak), every centroid update (floor-quantized int64 sums, IEEE
    division).  Yields cell{iters-1} (final assignment) and, when
    ``final_grid``, g{iters-1} (the output grid).  Used by both the km1
    oracle and the d10 semantic-dedup oracle so their cells are the SAME
    trajectory."""
    h = md5_int32_sql("CAST(vec_id AS VARCHAR)", "km")
    dist = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (CAST(v.embedding[i] AS DOUBLE) - c.cv[i]) * (CAST(v.embedding[i] AS DOUBLE) - c.cv[i])))"
    )

    def assign(i: int) -> str:
        return f"""
a{i} AS (
  SELECT v.vec_id, v.embedding, c.cell, {dist} AS d
  FROM embeddings v CROSS JOIN cents{i} c
),
cell{i} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM a{i})
  WHERE rn = 1
)"""

    def grid(i: int) -> str:
        return f"""
g{i} AS (
  SELECT cell, p - 1 AS pos,
         SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM (SELECT cell, UNNEST(embedding) AS val, GENERATE_SUBSCRIPTS(embedding, 1) AS p FROM cell{i})
  GROUP BY cell, p
)"""

    parts = [
        f"""ordered AS (
  SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn FROM embeddings
),
cents0 AS (
  SELECT rn - 1 AS cell, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM ordered WHERE rn <= {k}
)"""
    ]
    for i in range(iters):
        parts.append(assign(i))
        if i < iters - 1:
            # next centroids: quantized means; empty cells keep the previous centroid
            parts.append(grid(i))
            parts.append(f"""
upd{i} AS (
  SELECT cell, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cv
  FROM g{i} GROUP BY cell
),
cents{i + 1} AS (
  SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
  FROM cents{i} p LEFT JOIN upd{i} u ON p.cell = u.cell
)""")
        elif final_grid:
            parts.append(grid(i))
    return ",".join(parts)


def _kmeans_oracle(dim: int = 64, k: int = 8, iters: int = 2) -> str:
    """DuckDB replay of clustering.kmeans_lloyd: both engines walk the same
    trajectory (see _kmeans_ctes), so the final grid hash-matches exactly."""
    return f"""
WITH {_kmeans_ctes(dim, k, iters, final_grid=True)}
SELECT CAST(cell AS INT) AS cell, CAST(pos AS INT) AS pos,
       CAST(s AS DOUBLE) / (n * 1000000.0) AS centroid,
       CAST(n AS BIGINT) AS n_members
FROM g{iters - 1}
"""


@query("km1_kmeans_centroids", bench=True, oracle=_kmeans_oracle(dim=64, k=8, iters=2))
def q_km1(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Lloyd's k-means, 2 iterations, k=8 on the embeddings
    corpus (operators/clustering.kmeans_lloyd).  Every iteration is
    map-side assignment + one (cell, pos) hash agg; the oracle replays
    both iterations bit-exactly via quantized integer sums."""
    from youtubeanalyzerproject_big_data__spark.operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf, "embeddings")
    return kmeans_lloyd(emb, "vec_id", "embedding", dim=64, k=8, iters=2)


@query("em1_label_centroids", oracle=f"""
            WITH x AS (
              SELECT label, UNNEST(embedding) AS val,
                     GENERATE_SUBSCRIPTS(embedding, 1) AS p
              FROM embeddings)
            SELECT label, CAST(p - 1 AS INT) AS pos,
                   CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                         / (COUNT(val) * 1000000.0) AS centroid
            FROM x GROUP BY label, p
        """)
def q_em1(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroids, position-wise
    (operators/similarity.label_centroids): decimal-exact partial sums make
    the centroid partition-invariant, hence oracle-comparable."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.label_centroids(emb, "label", "embedding")


@query("r1_ann_lsh_recall", oracle=f"""
            WITH exact AS (SELECT query_id, neighbor_id FROM ({_bruteforce_ann_oracle(k=5)})),
            approx AS (SELECT query_id, neighbor_id FROM ({_lsh_ann_oracle()}))
            SELECT e.query_id,
                   CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
                   {_dratio('COUNT(a.neighbor_id)', 'COUNT(*)')} AS recall_at_5
            FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
            GROUP BY e.query_id
        """)
def q_r1(spark: SparkSession, sf: str) -> DataFrame:
    """ANN recall@5, gate-checked: per-query overlap of the LSH index (s2)
    with the exact brute-force top-5 (s1), via similarity.topk_recall.
    Both inputs have bit-exact DuckDB replays, so the recall METRIC itself
    is oracle-verified -- index-quality measurement as a first-class,
    machine-checked query instead of a test-only claim."""
    return similarity.topk_recall(q_s1(spark, sf), q_s2(spark, sf), k=5)


# Refined-route recall: join of the s1 and s6 replays -- the
# measured refinement benefit is itself gate-checked (r1 pattern).
@query("r2_ann_refined_recall", oracle=f"""
            WITH exact AS (SELECT query_id, neighbor_id FROM ({_bruteforce_ann_oracle(k=5)})),
            approx AS (SELECT query_id, neighbor_id FROM ({_refined_ann_oracle()}))
            SELECT e.query_id,
                   CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
                   {_dratio('COUNT(a.neighbor_id)', 'COUNT(*)')} AS recall_at_5
            FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
            GROUP BY e.query_id
        """)
def q_r2(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the retrieve-then-refine route (s6) against exact
    brute force (s1) -- gate-checked like r1, so the refinement benefit
    over the raw compressed index is a measured, machine-verified fact."""
    return similarity.topk_recall(q_s1(spark, sf), q_s6(spark, sf), k=5)


# Recall is a JOIN of two already-replayable indexes: both CTEs are
# the bit-exact s1/s2 oracles, so the metric itself is gate-checked.
# em7: full-dim exact vs first-16-dim exact, recall join replayed.
@query("em7_truncated_dim_recall", bench=True, oracle=f"""
            WITH exact AS (SELECT query_id, neighbor_id FROM ({_bruteforce_ann_oracle(k=5)})),
            ts AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_cos_sql("q.embedding[1:16]", "c.embedding[1:16]")} AS cos
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 10),
            approx AS (
              SELECT query_id, neighbor_id
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                                 ORDER BY cos DESC, neighbor_id) AS rk FROM ts)
              WHERE rk <= 5)
            SELECT e.query_id,
                   CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
                   {_dratio('COUNT(a.neighbor_id)', 'COUNT(*)')} AS recall_at_5
            FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
            GROUP BY e.query_id
            ORDER BY e.query_id
        """)
def q_em7(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated-dimension retrieval audit (the Matryoshka-embedding
    question): recall@5 of brute-force search over the FIRST 16 of 64
    dims against full-dim search -- measures what a 4x cheaper index
    (shorter vectors: 4x less memory bandwidth, 4x more vectors per
    broadcast) actually costs in retrieval quality, per query, as a
    machine-checked number.  Reuses the exact s1 kernel on sliced
    vectors, so both legs AND the recall metric replay in the oracle."""
    emb = load_table(spark, sf, "embeddings")
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    trunc = similarity.brute_force_topk(
        emb16, emb16.where(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )
    return similarity.topk_recall(q_s1(spark, sf), trunc, k=5).orderBy("query_id")


# em6: the entire SQ8 pipeline is integer micros; DuckDB replays
# calibration, code, midpoint reconstruction, and error exactly.
@query("em6_scalar_quantization", bench=True, oracle="""
            WITH pos AS (
              SELECT t.i - 1 AS dim,
                     CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x_m
              FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
            calib AS (SELECT dim, MIN(x_m) AS min_m, MAX(x_m) AS max_m FROM pos GROUP BY dim),
            s AS (
              SELECT p.dim, p.x_m, c.min_m, c.max_m,
                     ((p.x_m - c.min_m) * 256) // (c.max_m - c.min_m + 1) AS code
              FROM pos p JOIN calib c USING (dim)),
            e AS (
              SELECT dim, min_m, max_m,
                     ABS(x_m - (min_m + ((2 * code + 1) * (max_m - min_m + 1)) // 512)) AS err
              FROM s)
            SELECT dim, CAST(MIN(min_m) AS BIGINT) AS min_m, CAST(MAX(max_m) AS BIGINT) AS max_m,
                   CAST(COUNT(*) AS BIGINT) AS n_vectors,
                   CAST(MAX(err) AS BIGINT) AS max_err_m,
                   CAST(SUM(err) AS BIGINT) AS sum_err_m,
                   CAST(MAX(err) <= (MAX(max_m) - MIN(min_m) + 1) // 512 + 1 AS BIGINT) AS within_bound
            FROM e GROUP BY dim ORDER BY dim
        """)
def q_em6(spark: SparkSession, sf: str) -> DataFrame:
    """SQ8 scalar-quantization calibration + reconstruction-error profile
    (similarity.scalar_quantization_profile): per-dim integer-micro
    min/max, all-integer code/midpoint-reconstruction, exact max/total
    error, machine-checked error bound -- the 4x memory lever for
    RAM-resident ANN, engine-exact with zero float division."""
    return similarity.scalar_quantization_profile(
        load_table(spark, sf, "embeddings"), "embedding", n_levels=256
    )
