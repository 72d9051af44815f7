"""Deduplication (d), dedup recall (dr) and corpus-curation (c) queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import (
    md5_int32,
    md5_int32_lane_sql,
    md5_int32_sql,
)
from youtubeanalyzerproject_big_data__spark.io import load_table
from youtubeanalyzerproject_big_data__spark.operators import dedup, graph, textanalysis as text
from youtubeanalyzerproject_big_data__spark.contract import query
from youtubeanalyzerproject_big_data__spark.contract._sql import _cos_sql, _dmicro, _dratio
from youtubeanalyzerproject_big_data__spark.contract.text import _lang_id_oracle
from youtubeanalyzerproject_big_data__spark.contract.vectors import _hyperplane_band_sql, _kmeans_ctes
from youtubeanalyzerproject_big_data__spark.session import pin


# DuckDB word-shingle CTE fragment shared by the text-dedup oracles.
# ``max_df`` mirrors the engine's stop-shingle cut (dedup.DEFAULT_MAX_DF):
# intersections count only shingles with document frequency <= max_df,
# while Jaccard denominators (sizes) stay exact -- same semantics as
# ngram_jaccard_pairs.  None = exact (the d3 verification twin).
def _shingles_cte(max_df: int | None, source: str = "documents") -> str:
    if max_df is None:
        shf = "shf AS (SELECT doc_id, shingle FROM sh),"
    else:
        shf = f"""shc AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {max_df}),
shf AS (SELECT s.doc_id, s.shingle FROM sh s JOIN shc USING (shingle)),"""
    return rf"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
  FROM {source}
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks WHERE len(w) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
{shf}
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc1, doc2, {_dratio('n_common', '(s1.n + s2.n - n_common)')} AS jaccard
  FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
)
"""


# c15: the c10 rule bits, d1 canonical digest, integer tiers, and
# the digest-keyed split composed as nested CTEs -- one pipeline,
# one hash-exact manifest.
@query("c15_pipeline_e2e", bench=True, oracle=rf"""
            WITH s AS (
              SELECT doc_id, text,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace,
                lower(text) AS low
              FROM documents),
            r AS (
              SELECT doc_id, text,
                CAST(len(w) AS BIGINT) AS n_tok,
                CAST(len(list_distinct(w)) AS BIGINT) AS n_dis,
                CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_tok,
                n_nonspace,
                (CASE WHEN regexp_matches(low, '\bthe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\band\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\bof\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\bto\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\ba\b') THEN 1 ELSE 0 END) AS n_stop
              FROM s),
            kept AS (
              SELECT doc_id, n_tok,
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
              FROM r
              WHERE (n_tok >= 20 AND n_tok <= 100000)
                AND (2 * n_tok <= n_nonspace AND n_nonspace <= 5 * n_tok)
                AND (10 * n_alpha_tok >= 7 * n_tok)
                AND (n_stop >= 2)
                AND (10 * (n_tok - n_dis) <= 6 * n_tok)),
            winners AS (
              SELECT digest, MIN(doc_id) AS doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_dups,
                     MIN(n_tok) AS n_tok
              FROM kept GROUP BY digest),
            staged AS (
              SELECT CASE WHEN ({md5_int32_sql("digest", "c15")}) % 10 < 8 THEN 'train'
                          WHEN ({md5_int32_sql("digest", "c15")}) % 10 = 8 THEN 'val'
                          ELSE 'test' END AS split,
                     CASE WHEN n_tok < 50 THEN 'short'
                          WHEN n_tok < 200 THEN 'medium'
                          ELSE 'long' END AS tier,
                     n_dups, n_tok,
                     ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "c15fp")}) AS fp
              FROM winners)
            SELECT split, tier,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_dups) AS BIGINT) AS n_docs_with_dups,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                   CAST(bit_xor(fp) AS BIGINT) AS fp_ids
            FROM staged GROUP BY split, tier ORDER BY split, tier
        """)
def q_c15(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END curation pipeline in one DAG: Gopher rule filter (c10's
    bits) -> exact dedup keep-min (d1's canonical digest) -> integer
    token-count tiers -> leakage-safe train/val/test split keyed on the
    CONTENT digest (c11's insight: a dup group can never straddle splits
    because its members share the digest).  Emits the per-(split, tier)
    manifest: doc count, absorbed-duplicate mass, kept token mass, and an
    order-invariant XOR-md5 fingerprint of the kept ids -- what a
    training-data handoff actually ships.

    Scale shape: rule bits + digest are one map-side projection (codegen);
    the ONLY corpus shuffle is the digest groupBy (map-side combined);
    tiers/split/fingerprint are map-side on the winner set; the output is
    split x tier sized.  Every stage is exact-integer or md5-derived, so
    the whole pipeline replays hash-identically in the oracle."""
    from youtubeanalyzerproject_big_data__spark.functions.textfns import normalize
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import gopher_rule_bits

    docs = load_table(spark, sf, "documents")
    bits = gopher_rule_bits(F.col("text"))
    kept = docs.where(bits["keep"]).select(
        "doc_id",
        bits["n_tok"].alias("n_tok"),
        F.md5(normalize(F.col("text"))).alias("digest"),
    )
    winners = kept.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
        # token count is a function of the normalized text, hence of the digest
        F.min("n_tok").alias("n_tok"),
    )
    tier = (
        F.when(F.col("n_tok") < 50, "short")
        .when(F.col("n_tok") < 200, "medium")
        .otherwise("long")
    )
    split_bucket = F.pmod(md5_int32(F.col("digest"), seed="c15"), F.lit(10))
    split = (
        F.when(split_bucket < 8, "train").when(split_bucket == 8, "val").otherwise("test")
    )
    return (
        winners.select(
            split.alias("split"),
            tier.alias("tier"),
            "n_dups",
            "n_tok",
            md5_int32(F.col("doc_id").cast("string"), seed="c15fp").alias("fp"),
        )
        .groupBy("split", "tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_dups").cast("long").alias("n_docs_with_dups"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.bit_xor("fp").cast("long").alias("fp_ids"),
        )
        .orderBy("split", "tier")
    )


# c12 target mixture: an explicit whitelist of sources with fixed shares
# (ppm).  Single source of truth for BOTH the Spark query and its oracle.
C12_TARGETS: dict[str, int] = {
    **{f"src{i}": 150_000 for i in range(1, 6)},   # 5 majors @ 15%
    **{f"src{i}": 50_000 for i in range(6, 11)},   # 5 minors @ 5%
}
C12_BUDGET = 20_000


# Decontamination replay: distinct per-doc 5-grams on raw trimmed
# text (the engine's _shingles spec); the engine joins on xxhash64 of
# the gram, the oracle on the gram string -- only match COUNTS reach
# the result, so they agree modulo 64-bit hash collisions.
@query("c14_contamination_report", oracle=r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
              FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM toks WHERE len(w) >= 5)),
            ev AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 = 0),
            corp AS (SELECT doc_id AS c_doc, gram FROM g WHERE doc_id % 97 != 0),
            pe AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM ev GROUP BY doc_id),
            leaks AS (SELECT DISTINCT gram FROM corp JOIN (SELECT DISTINCT gram FROM ev) e USING (gram)),
            lk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_leaked_grams
                   FROM ev JOIN leaks USING (gram) GROUP BY doc_id),
            dp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_corpus_docs_hit FROM (
                     SELECT DISTINCT ev.doc_id, corp.c_doc FROM ev JOIN corp USING (gram))
                   GROUP BY doc_id)
            SELECT d.doc_id AS eval_id,
                   COALESCE(pe.n_grams, 0) AS n_grams,
                   COALESCE(lk.n_leaked_grams, 0) AS n_leaked_grams,
                   COALESCE(dp.n_corpus_docs_hit, 0) AS n_corpus_docs_hit
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 = 0) d
            LEFT JOIN pe USING (doc_id) LEFT JOIN lk USING (doc_id) LEFT JOIN dp USING (doc_id)
            ORDER BY eval_id
        """)
def q_c14(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-side contamination report (dedup.contamination_report): per
    held-out doc (doc_id % 97 == 0), leaked 5-gram and corpus-doc counts
    -- c3's broadcast direction, contamination-sized downstream."""
    docs = load_table(spark, sf, "documents")
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.contamination_report(corpus, eval_docs, "doc_id", "text", n=5)


@query("d13_edit_distance_pairs", oracle=r"""
            WITH nrm AS (
              SELECT doc_id,
                     substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 16) AS blk,
                     substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 64) AS head
              FROM documents
              WHERE length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) >= 16),
            g AS (SELECT blk FROM nrm GROUP BY blk HAVING COUNT(*) BETWEEN 2 AND 64),
            p AS (
              SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                     CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_distance
              FROM nrm a JOIN nrm b ON a.blk = b.blk AND a.doc_id < b.doc_id
              JOIN g ON g.blk = a.blk)
            SELECT doc1, doc2, edit_distance FROM p WHERE edit_distance <= 10
            ORDER BY doc1, doc2
        """)
def q_d13(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dups with prefix blocking (dedup.
    edit_distance_pairs): Levenshtein <= 10 over 64-char heads within
    16-char-prefix blocks -- the typo/short-text dedup route; max_block
    drops boilerplate-prefix groups (mirrored by the oracle)."""
    docs = load_table(spark, sf, "documents")
    return dedup.edit_distance_pairs(docs, "doc_id", "text").orderBy("doc1", "doc2")


# d14: the oracle's global row_number IS the spec the engine's
# two-level bucketed rank must equal (bucket = key prefix, so
# (bucket, key, id) order == (key, id) order).
@query("d14_sorted_neighborhood", bench=True, stdout=True, oracle=r"""
            WITH k AS (
              SELECT doc_id, substring(nt, 1, 24) AS sk, substring(nt, 1, 64) AS head
              FROM (SELECT doc_id,
                           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
                    FROM documents)
              WHERE length(nt) >= 24),
            r AS (SELECT doc_id, head,
                         row_number() OVER (ORDER BY sk, doc_id) AS rn
                  FROM k),
            p AS (
              SELECT LEAST(a.doc_id, b.doc_id) AS doc1,
                     GREATEST(a.doc_id, b.doc_id) AS doc2,
                     CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_distance
              FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3)
            SELECT doc1, doc2, edit_distance FROM p WHERE edit_distance <= 10
            ORDER BY doc1, doc2
        """)
def q_d14(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood near-dups (dedup.sorted_neighborhood_pairs,
    Hernandez-Stolfo SNM): sort by 24-char normalized prefix, compare
    each doc with its next 3 neighbors, Levenshtein <= 10 over 64-char
    heads.  Complements d13's prefix blocking: pairs cross block
    boundaries and candidate count is (w-1)*n regardless of key skew.
    Global rank is the two-level distributed form, never one reducer."""
    docs = load_table(spark, sf, "documents")
    return dedup.sorted_neighborhood_pairs(docs, "doc_id", "text").orderBy("doc1", "doc2")


def _minhash_lsh_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    source: str = "documents",
) -> str:
    rpb = num_hashes // bands
    # Hash j = lane j%4 of md5 digest seeded j//4 (four 32-bit lanes per
    # digest -- mirrors functions.hashing.md5_int32_lanes).
    mins = ", ".join(f"MIN({md5_int32_lane_sql('shingle', j // 4, j % 4)}) AS h{j}" for j in range(num_hashes))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('_', {', '.join(f'h{b * rpb + r}' for r in range(rpb))}) AS sig FROM sig_t"
        for b in range(bands)
    )
    # Band-bucket cap mirrors the engine's max_bucket (one row per (doc,
    # band) -> COUNT(*) == distinct docs in the bucket); the verification
    # jaccard stays EXACT (max_df=None), like _jaccard_for_pairs.
    bucket_cap = "" if max_bucket is None else f"HAVING COUNT(*) <= {max_bucket}"
    return f"""
WITH {_shingles_cte(None, source)},
sig_t AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
bok AS (SELECT band, sig FROM bands GROUP BY band, sig {bucket_cap}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a
  JOIN bok ON a.band = bok.band AND a.sig = bok.sig
  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT c.doc1, c.doc2, j.jaccard
FROM cand c JOIN jac j ON c.doc1 = j.doc1 AND c.doc2 = j.doc2
WHERE j.jaccard >= {threshold}
"""


# d15: d3's pair replay -> recursive closure (d7's idiom) ->
# keep-longest canonical per cluster.
@query("d15_dedup_keep_best", bench=True, stdout=True, oracle=f"""
            WITH RECURSIVE
            p AS (SELECT doc1, doc2 FROM ({_minhash_lsh_oracle(16, 4, 0.8, max_bucket=dedup.DEFAULT_MAX_BUCKET)})),
            e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
            reach(a, b) AS (
              SELECT a, b FROM e
              UNION
              SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
            ),
            m AS (
              SELECT c.doc_id, c.cluster_id, d.n_chars
              FROM (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a) c
              JOIN documents d USING (doc_id)),
            rk AS (SELECT cluster_id, doc_id, n_chars,
                          row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY n_chars DESC, doc_id) AS rn
                   FROM m),
            sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
                   FROM m GROUP BY cluster_id)
            SELECT sz.cluster_id, sz.n_members,
                   rk.doc_id AS canonical_id,
                   CAST(rk.n_chars AS BIGINT) AS canonical_chars,
                   CAST(sz.n_members - 1 AS BIGINT) AS n_removed
            FROM sz JOIN rk ON sz.cluster_id = rk.cluster_id AND rk.rn = 1
            WHERE sz.n_members >= 2
            ORDER BY sz.cluster_id
        """)
def q_d15(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup KEEP-BEST pipeline end-to-end: d3's MinHash-LSH pairs ->
    large-star/small-star connected components -> per-cluster CANONICAL
    selection (longest text wins, doc_id tiebreak -- the keep-longest
    heuristic near-dup pipelines actually ship).  One row per real cluster:
    (cluster_id, n_members, canonical_id, canonical_chars, n_removed).
    Scale: pairs/components are near-dup-sized, never corpus-sized; the
    canonical pick is a key-partitioned window over cluster members."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8
    )
    comp = graph.connected_components_star(
        pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    )
    members = (
        comp.select(
            F.col("id").alias("doc_id"),
            F.least("id", "component").alias("cluster_id"),
        )
        .join(docs.select("doc_id", "n_chars"), "doc_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    canon = members.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)
    sizes = members.groupBy("cluster_id").agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    return (
        sizes.where(F.col("n_members") >= 2)
        .join(canon.select("cluster_id", F.col("doc_id").alias("canonical_id"), "n_chars"), "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "canonical_id",
            F.col("n_chars").cast("long").alias("canonical_chars"),
            (F.col("n_members") - 1).cast("long").alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


# Temperature mixture: sqrt-flattened shares (T=2), all-integer
# rates through HUGEINT so the floor division is exact, f9's md5
# membership predicate.
@query("c12_target_mix", oracle=f"""
            WITH d AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            t AS (SELECT source, SUM(n_tokens) AS mass FROM d GROUP BY source),
            tg AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {p})" for s, p in sorted(C12_TARGETS.items()))}) AS v(source, t_ppm)),
            r AS (
              SELECT t.source,
                     CASE WHEN t.mass > 0
                          THEN LEAST(CAST(1000000 AS HUGEINT),
                                     (((CAST({C12_BUDGET} AS HUGEINT) * COALESCE(tg.t_ppm, 0)) // 1000000) * 1000000) // t.mass)
                          ELSE 0 END AS rate_ppm
              FROM t LEFT JOIN tg USING (source)),
            kept AS (
              SELECT d.source, d.n_tokens, r.rate_ppm FROM d JOIN r USING (source)
              WHERE ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "target")}) % 1000000 < rate_ppm)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
                   CAST(MIN(rate_ppm) AS BIGINT) AS rate_ppm
            FROM kept GROUP BY source ORDER BY source
        """)
def q_c12(spark: SparkSession, sf: str) -> DataFrame:
    """Match-the-target mixture (sampling.target_mix_sample, DoReMi
    deployment shape): explicit per-source ppm shares of a 20k-token
    budget; whitelist semantics (untargeted sources drop); all-integer
    floor-division rates, md5 membership."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import target_mix_sample
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count

    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    kept = target_mix_sample(d, "doc_id", "source", "n_tokens", C12_TARGETS, C12_BUDGET, seed="target")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
            F.min("rate_ppm").cast("long").alias("rate_ppm"),
        )
        .orderBy("source")
    )


@query("d12_containment_pairs", oracle=f"""
            WITH {_shingles_cte(dedup.DEFAULT_MAX_DF)},
            b AS (
              SELECT doc1, doc2, n_common, s1.n AS n1, s2.n AS n2
              FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id)
            SELECT contained_id, container_id, containment FROM (
              SELECT doc1 AS contained_id, doc2 AS container_id, {_dratio('n_common', 'n1')} AS containment FROM b
              UNION ALL
              SELECT doc2 AS contained_id, doc1 AS container_id, {_dratio('n_common', 'n2')} AS containment FROM b)
            WHERE containment >= 0.9
            ORDER BY contained_id, container_id
        """)
def q_d12(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric shingle-containment near-dups (dedup.containment_pairs):
    |A&B|/|A| >= 0.9 in either direction -- the quote/excerpt detector
    symmetric Jaccard misses.  Same capped inverted index as d2."""
    docs = load_table(spark, sf, "documents")
    return dedup.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.9).orderBy(
        "contained_id", "container_id"
    )


@query("d1_exact_dups", oracle=r"""
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups,
                   array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY CAST(doc_id AS VARCHAR)), ',') AS dup_ids_csv
            FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k FROM documents)
            GROUP BY k
        """)
def q_d1(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup via normalized-text hash groups."""
    return dedup.exact_duplicates(load_table(spark, sf, "documents"), "doc_id", "text")


@query("d2_ngram_jaccard_pairs", bench=True, stdout=True, oracle=f"WITH {_shingles_cte(dedup.DEFAULT_MAX_DF)} SELECT doc1, doc2, jaccard FROM jac WHERE jaccard >= 0.8")
def q_d2(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.8)."""
    return dedup.ngram_jaccard_pairs(load_table(spark, sf, "documents"), "doc_id", "text", n=3, threshold=0.8)


@query("d3_minhash_lsh_pairs", bench=True, stdout=True, oracle=_minhash_lsh_oracle(16, 4, 0.8, max_bucket=dedup.DEFAULT_MAX_BUCKET))
def q_d3(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) candidates, exact-Jaccard verified at 0.8."""
    return dedup.minhash_lsh_pairs(load_table(spark, sf, "documents"), "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8)


def _simhash_oracle(bits: int = 32, max_hamming: int = 3, max_bucket: int | None = None) -> str:
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    if bits <= 32:
        th_expr = f"{md5_int32_sql('t', 'simhash')}"
    else:
        # two lanes of one digest: (lane0 & 2^(bits-32)-1) * 2^32 + lane1
        # (twin of simhash_signatures' wide path; always positive)
        th_expr = (
            f"(({md5_int32_lane_sql('t', 'simhash', 0)}) % {1 << (bits - 32)}) * 4294967296"
            f" + ({md5_int32_lane_sql('t', 'simhash', 1)})"
        )
    cap = "" if max_bucket is None else f"HAVING COUNT(*) <= {max_bucket}"
    return rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, t FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS t
    FROM documents
  )
),
th AS (SELECT doc_id, {th_expr} AS h FROM tok),
bits_t AS (SELECT doc_id, unnest(generate_series(0, {bits - 1})) AS bit, h FROM th),
votes AS (
  SELECT doc_id, bit, CAST(SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM bits_t GROUP BY doc_id, bit
),
sig AS (
  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
blk AS (SELECT doc_id, simhash, unnest(generate_series(0, {chunks - 1})) AS chunk FROM sig),
blk2 AS (SELECT doc_id, simhash, chunk, (simhash >> (chunk * {chunk_bits})) & {mask} AS cval FROM blk),
okb AS (SELECT chunk, cval FROM blk2 GROUP BY chunk, cval {cap}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2, a.simhash AS s1, b.simhash AS s2
  FROM blk2 a
  JOIN okb USING (chunk, cval)
  JOIN blk2 b ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(s1, s2)) <= {max_hamming}
"""


@query("d4_simhash_pairs", oracle=_simhash_oracle(60, 3, max_bucket=dedup.DEFAULT_MAX_BUCKET))
def q_d4(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash(60-bit) near-dup pairs, hamming <= 3, pigeonhole-blocked.
    60-bit signatures give 15-bit chunks (32768 bucket values): the
    32-bit/8-bit-chunk form went QUADRATIC at the sf1 replay (every
    bucket ~2000 docs -> 2*10^9 candidate pairs -> driver OOM); chunk
    space must scale with the corpus, max_bucket caps the rest."""
    sigs = dedup.simhash_signatures(load_table(spark, sf, "documents"), "doc_id", "text", 60)
    return dedup.hamming_pairs(sigs, "doc_id", "simhash", 60, 3)


@query("d5_embedding_near_dups", bench=True, oracle=f"""
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   {_dmicro(_cos_sql('a.embedding', 'b.embedding'))} AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.46
        """)
def q_d5(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.46 calibrated to data)."""
    return dedup.embedding_near_dup_pairs(load_table(spark, sf, "embeddings"), "vec_id", "embedding", threshold=0.46)


# Exact-substring span removal, full replay: stride-1 window md5s
# via lateral generate_series, >=2-distinct-doc dup set, islands
# merge (gap > span_len breaks), LAG-segment splice, md5 of the
# reassembled text.  Mirrors dedup.duplicated_span_removal 1:1.
@query("d6_duplicated_span_removal", bench=True, stdout=True, oracle=r"""
            WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
                       FROM documents),
            w0 AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 29)) AS i FROM n),
            w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, md5(substr(t, CAST(i AS INT), 30)) AS h
                  FROM w0),
            d AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
            m AS (SELECT doc_id, pos FROM w JOIN d USING (h)),
            b AS (SELECT doc_id, pos,
                         CASE WHEN pos > COALESCE(MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
                                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2147483648) + 30
                              THEN 1 ELSE 0 END AS brk
                  FROM m),
            i AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM b),
            sp AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 29 AS e FROM i GROUP BY doc_id, isl),
            sp2 AS (SELECT doc_id, s, e,
                           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
                    FROM sp),
            x AS (SELECT sp2.doc_id, s, e,
                         substr(t, CAST(pe + 1 AS INT), CAST(s - pe - 1 AS INT)) AS piece
                  FROM sp2 JOIN n USING (doc_id)),
            y AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                         CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars,
                         MAX(e) AS me,
                         COALESCE(string_agg(piece, '' ORDER BY s), '') AS kept
                  FROM x GROUP BY doc_id),
            z AS (SELECT y.doc_id, n_spans, removed_chars,
                         kept || substr(t, CAST(me + 1 AS INT)) AS clean
                  FROM y JOIN n ON y.doc_id = n.doc_id)
            SELECT doc_id, n_spans, removed_chars,
                   CAST(length(clean) AS BIGINT) AS clean_len, md5(clean) AS clean_md5
            FROM z
        """)
def q_d6(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring span removal (dedup.duplicated_span_removal): every
    30-char normalized window occurring in >= 2 docs is spliced out of
    every doc; per affected doc, span count / chars removed / md5 of the
    cleaned text.  The whole pipeline -- window hashing, dup-set join,
    island merge, splice fold -- is replayed by the oracle, so the cleaned
    TEXT (via its md5) is verified, not just the counts."""
    return dedup.duplicated_span_removal(
        load_table(spark, sf, "documents"), "doc_id", "text", span_len=30
    ).orderBy("doc_id")


def _semantic_dedup_oracle(dim: int, k: int, iters: int, threshold: float) -> str:
    """DuckDB replay of dedup.semantic_dedup_flags: the km1 cell trajectory
    (shared _kmeans_ctes), within-cell ordered pairs, the exact-sequential
    cosine, and the smallest-id-wins drop rule; cells over
    dedup.DEFAULT_MAX_BUCKET skip pair generation exactly like the engine."""
    last = iters - 1
    return f"""
WITH {_kmeans_ctes(dim, k, iters, final_grid=False)},
sizes AS (SELECT cell, COUNT(*) AS n FROM cell{last} GROUP BY cell),
mem AS (SELECT c.* FROM cell{last} c JOIN sizes s ON c.cell = s.cell WHERE s.n <= {dedup.DEFAULT_MAX_BUCKET}),
pairs AS (
  SELECT b.vec_id AS id2, {_cos_sql("a.embedding", "b.embedding")} AS cos
  FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
dropped AS (SELECT DISTINCT id2 FROM pairs WHERE cos >= {threshold})
SELECT c.vec_id AS id, CAST(c.cell AS INT) AS cell,
       CAST(CASE WHEN d.id2 IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM cell{last} c LEFT JOIN dropped d ON c.vec_id = d.id2
"""


@query("d10_semantic_dedup", bench=True, stdout=True, oracle=_semantic_dedup_oracle(
    dim=64, k=8, iters=2, threshold=0.44
))
def q_d10(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup.semantic_dedup_flags): km1's
    k-means cells bound the quadratic pair work (within-cell only -- the
    SemDeDup trick, arXiv:2303.09540), exact-sequential cosine scores
    candidates, smallest id represents each near-dup set.  Threshold 0.44
    calibrated to the synthetic embeddings (cell-local cosines; drops a
    real fraction without emptying cells).  Oracle replays the full Lloyd
    trajectory (shared with km1's oracle) + the within-cell pair rule."""
    return dedup.semantic_dedup_flags(
        load_table(spark, sf, "embeddings"), "vec_id", "embedding", dim=64, k=8, iters=2, threshold=0.44
    ).orderBy("id")


# Segment-dedup replay: c4-style 1-indexed stride-12 window starts,
# list_slice end-inclusive; dup rule = md5(segment) in >= 2 distinct
# docs; clean text = kept segments string_agg'd in window order
# ('' sentinel when everything was removed).
@query("d11_segment_dedup", bench=True, stdout=True, oracle=r"""
            WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
                        FROM documents),
            st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 12)) AS s
                   FROM tk WHERE len(toks) >= 1),
            segs AS (SELECT doc_id, s,
                            array_to_string(list_slice(toks, s, least(s + 11, len(toks))), ' ') AS txt,
                            least(s + 11, len(toks)) - s + 1 AS ntok
                     FROM st),
            h AS (SELECT doc_id, s, txt, ntok, md5(txt) AS sh FROM segs),
            d AS (SELECT sh FROM h GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
            marked AS (SELECT h.*, (d.sh IS NOT NULL) AS dup
                       FROM h LEFT JOIN d ON h.sh = d.sh),
            pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
                          CAST(COUNT(*) FILTER (dup) AS BIGINT) AS n_removed,
                          CAST(COALESCE(SUM(ntok) FILTER (NOT dup), 0) AS BIGINT) AS clean_n_tokens,
                          md5(COALESCE(string_agg(txt, ' ' ORDER BY s) FILTER (NOT dup), '')) AS clean_md5
                   FROM marked GROUP BY doc_id)
            SELECT t.doc_id,
                   COALESCE(pd.n_segments, 0) AS n_segments,
                   COALESCE(pd.n_removed, 0) AS n_removed,
                   COALESCE(pd.clean_n_tokens, 0) AS clean_n_tokens,
                   COALESCE(pd.clean_md5, md5('')) AS clean_md5
            FROM tk t LEFT JOIN pd USING (doc_id)
            ORDER BY t.doc_id
        """)
def q_d11(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style segment-level corpus dedup (dedup.segment_dedup): every
    aligned 12-token segment occurring in >= 2 distinct documents is
    removed from ALL of them; per doc, segment/removal counts plus the md5
    of the spliced text, so the oracle verifies the reconstructed TEXT, not
    just counts.  The coarse linear-cost complement to d6's stride-1
    exact-substring pass (see operator docstring for the two-pass
    narrow-shuffle scale design)."""
    return dedup.segment_dedup(
        load_table(spark, sf, "documents"), "doc_id", "text", seg_tokens=12, min_df=2
    ).orderBy("doc_id")


# Components via recursive transitive closure (pair graphs from
# dedup are tiny relative to the corpus, so closure is affordable
# oracle-side; the engine itself uses graph.connected_components_star).
@query("d7_dup_clusters", bench=True, stdout=True, oracle=f"""
            WITH RECURSIVE {_shingles_cte(dedup.DEFAULT_MAX_DF)},
            p AS (SELECT doc1, doc2 FROM jac WHERE jaccard >= 0.8),
            e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
            reach(a, b) AS (
              SELECT a, b FROM e
              UNION
              SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
            ),
            comp AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a)
            SELECT d.doc_id, CAST(COALESCE(LEAST(c.doc_id, c.mn), d.doc_id) AS BIGINT) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        """)
def q_d7(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup clustering: near-dup pairs (d2 semantics) -> connected
    components -> every document labeled with its duplicate-cluster id
    (smallest doc_id in the cluster; singletons label themselves).  The
    step a training-data pipeline runs after pair generation to pick one
    representative per group.  Uses the O(log n)-round large-star/small-star
    algorithm (graph.connected_components_star); min-label propagation
    remains available for small-diameter graphs."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = graph.connected_components_star(pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")))
    return (
        docs.select(F.col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    )


def _lsh_embedding_dedup_oracle(threshold: float, dim: int) -> str:
    """DuckDB replay of dedup.embedding_near_dup_pairs_lsh: band buckets
    (capped like the engine), distinct id1<id2 candidates, cosine verify."""
    band_union = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {e} AS bval FROM embeddings"
        for b, e in enumerate(_hyperplane_band_sql(dim))
    )
    cos = _cos_sql("e1.embedding", "e2.embedding")
    return f"""
WITH bexp AS ({band_union}),
bok AS (SELECT band, bval FROM bexp GROUP BY band, bval HAVING COUNT(*) <= {dedup.DEFAULT_MAX_BUCKET}),
cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM bexp a
  JOIN bok ON a.band = bok.band AND a.bval = bok.bval
  JOIN bexp b ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
)
SELECT id1, id2, {_dmicro(cos)} AS cos_sim
FROM cand JOIN embeddings e1 ON id1 = e1.vec_id JOIN embeddings e2 ON id2 = e2.vec_id
WHERE {cos} >= {threshold}
"""


@query("d9_embedding_lsh_near_dups", oracle=_lsh_embedding_dedup_oracle(0.46, dim=64))
def q_d9(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH buckets -- the sub-quadratic
    scale path (d5 is the exact GEMM baseline at the same threshold; d9's
    pairs are the LSH-recalled subset, verified exactly).  Oracle replays
    the signatures (_lsh_embedding_dedup_oracle)."""
    emb = load_table(spark, sf, "embeddings")
    return dedup.embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding", threshold=0.46, dim=64)


# Cross-corpus: same shingle machinery, sides split by source and
# only cross-side pairs counted.
@query("d8_cross_corpus_dups", oracle=f"""
            WITH {_shingles_cte(dedup.DEFAULT_MAX_DF)},
            side AS (SELECT doc_id, (source = 'src0') AS is_new FROM documents),
            xj AS (
              SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS n_common
              FROM shf a JOIN side sa ON a.doc_id = sa.doc_id
              JOIN shf b ON a.shingle = b.shingle
              JOIN side sb ON b.doc_id = sb.doc_id
              WHERE sa.is_new AND NOT sb.is_new
              GROUP BY 1, 2
            )
            SELECT new_id, corpus_id,
                   {_dratio('n_common', '(s1.n + s2.n - n_common)')} AS jaccard
            FROM xj JOIN sizes s1 ON new_id = s1.doc_id JOIN sizes s2 ON corpus_id = s2.doc_id
            WHERE {_dratio('n_common', '(s1.n + s2.n - n_common)')} >= 0.8
        """)
def q_d8(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus dedup: incoming batch (source='src0') filtered against
    the rest of the corpus -- the incremental-ingestion contamination check.
    Only cross-side pairs are generated."""
    docs = load_table(spark, sf, "documents")
    new = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    return dedup.cross_corpus_near_dups(new, corpus, "doc_id", "text", n=3, threshold=0.8)


# Curation = lang filter (t3 logic) + quality floors (t2 logic) +
# dup-cluster representative (d7 closure); fragments reused verbatim.
@query("c1_corpus_curation", bench=True, stdout=True, oracle=rf"""
            WITH RECURSIVE {_shingles_cte(dedup.DEFAULT_MAX_DF)},
            p AS (SELECT doc1, doc2 FROM jac WHERE jaccard >= 0.8),
            e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
            reach(a, b) AS (
              SELECT a, b FROM e
              UNION
              SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
            ),
            comp AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a),
            rep AS (
              SELECT d.doc_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
              WHERE COALESCE(LEAST(c.doc_id, c.mn), d.doc_id) = d.doc_id
            ),
            q AS (
              SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                     {_dratio('(len(tk) - len(list_distinct(tk)))', 'greatest(len(tk), 1)')} AS dup_token_ratio
              FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
                    FROM documents)
            ),
            lng AS (SELECT doc_id, lang_pred FROM ({_lang_id_oracle()}))
            SELECT q.doc_id, q.n_tokens, lng.lang_pred
            FROM q JOIN lng ON q.doc_id = lng.doc_id
            JOIN rep ON q.doc_id = rep.doc_id
            WHERE lng.lang_pred = 'en' AND q.n_tokens >= 10 AND q.dup_token_ratio <= 0.6
        """)
def q_c1(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus curation end-to-end: the selection step of a training-data
    pipeline composed from the engine's own operators -- keep documents that
    are (a) English by marker vote, (b) above quality floors (length,
    repetition), and (c) the REPRESENTATIVE of their near-dup cluster
    (smallest doc_id; singletons represent themselves).

    Single-scan design (r4 advice): documents is scanned ONCE into a cached
    (doc_id, text) base; quality+lang come from one combined projection
    (text.profile_text) and the d2 shingle index reads the same cache -- the
    old form re-scanned and re-tokenized the corpus three times, which at
    100 TB is two full passes of wasted IO/CPU.  The curated id list
    (bounded: it only shrinks the corpus) is pinned eagerly, then the cache
    is released (``session.pin``, as in ngram_jaccard_pairs)."""
    base = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    prof = text.profile_text(base, "doc_id", "text").select("doc_id", "n_tokens", "dup_token_ratio", "lang_pred")
    pairs = dedup.ngram_jaccard_pairs(base, "doc_id", "text", n=3, threshold=0.8)
    comp = graph.connected_components_star(pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")))
    reps = (
        base.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .where(F.coalesce("component", "doc_id") == F.col("doc_id"))
        .select("doc_id")
    )
    result = (
        prof.join(reps, "doc_id", "left_semi")
        .where((F.col("lang_pred") == "en") & (F.col("n_tokens") >= 10) & (F.col("dup_token_ratio") <= 0.6))
        .select("doc_id", "n_tokens", "lang_pred")
    )
    return pin(result, base)


@query("c9_temperature_mix", oracle=f"""
            WITH d AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            t AS (SELECT source, SUM(n_tokens) AS mass FROM d GROUP BY source),
            q AS (SELECT source, mass, CAST(FLOOR(SQRT(CAST(mass AS DOUBLE)) * 1000000) AS BIGINT) AS qs FROM t),
            tot AS (SELECT SUM(qs) AS bq FROM q),
            r AS (SELECT source,
                         CAST(LEAST(CAST(1000000 AS HUGEINT),
                                    (CAST(30000 AS HUGEINT) * qs * 1000000) // (CAST(bq AS HUGEINT) * mass)) AS BIGINT) AS rate_ppm
                  FROM q, tot),
            kept AS (
              SELECT d.source, d.n_tokens, r.rate_ppm FROM d JOIN r USING (source)
              WHERE ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "temp")}) % 1000000 < rate_ppm)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
                   CAST(MIN(rate_ppm) AS BIGINT) AS rate_ppm
            FROM kept GROUP BY source ORDER BY source
        """)
def q_c9(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened source mixture (functions/sampling.
    temperature_mix_sample, T=2 alpha-sampling): per-source keep rates
    follow sqrt-flattened token shares against a 30k-token budget --
    sources under their flattened allowance keep everything (rate capped
    at 1.0), heavier ones thin deterministically.  Rates are all-integer
    (floor-quantized sqrt in micros, HUGEINT-exact products in the
    oracle); membership is the md5 predicate.  One model-sized aggregate
    + broadcast + map-side filter."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import temperature_mix_sample
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count

    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    kept = temperature_mix_sample(d, "doc_id", "source", "n_tokens", total_budget=30000, seed="temp")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
            F.min("rate_ppm").cast("long").alias("rate_ppm"),
        )
        .orderBy("source")
    )


# Perplexity tiers: t8's logprob chain -> integer per-token score
# -> quantile_cont cutpoints (a16's replay of Spark percentile) ->
# map-side tier assignment.  All-integer scores keep every
# comparison exact.
@query("c8_perplexity_tiers", oracle=r"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
            vocab AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY token),
            n AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM vocab),
            lp AS (SELECT token, CAST(floor(ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
                   FROM vocab, n),
            pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                          CAST(SUM(tf * lp_micro) AS BIGINT) AS s
                   FROM tf JOIN lp USING (token) GROUP BY doc_id),
            sc AS (
              SELECT d.doc_id,
                     CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                     CAST(FLOOR(COALESCE(pd.s, 0) / CAST(GREATEST(COALESCE(pd.n_tokens, 0), 1) AS DOUBLE)) AS BIGINT) AS score
              FROM documents d LEFT JOIN pd USING (doc_id)),
            cc AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) AS cuts FROM sc)
            SELECT CAST(list_sum(list_transform(cuts, t -> CASE WHEN score > t THEN 1 ELSE 0 END)) AS BIGINT) AS tier,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(MIN(score) AS BIGINT) AS min_score,
                   CAST(MAX(score) AS BIGINT) AS max_score
            FROM sc, cc
            GROUP BY tier ORDER BY tier
        """)
def q_c8(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity-tier curation: documents bucketed into
    quality quartiles by their unigram-LM score (t8's integer-quantized
    mean logprob), per-tier doc/token accounting -- the head/middle/tail
    split a curation pipeline uses to budget training data by quality.

    Scale design (a16's recipe, not NTILE): a global NTILE would sort the
    corpus on one reducer; instead ONE aggregate collects 3 exact
    percentile cutpoints (model-sized), tier assignment is a map-side
    expression, and one hash aggregate closes the report.  Determinism:
    the per-doc score is integer (floor of int64-micro sum over tokens),
    so cutpoint comparisons are exact; quantile_cont replays Spark's
    percentile interpolation (proven by a16)."""
    lp = text.unigram_logprob(load_table(spark, sf, "documents"), "doc_id", "text")
    scored = lp.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("sum_lp_micro") / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"))
        .cast("long")
        .alias("score"),
    )
    cuts = scored.agg(F.percentile("score", [0.25, 0.5, 0.75]).alias("c")).collect()[0]["c"]
    tier = sum([F.when(F.col("score") > F.lit(float(c)), 1).otherwise(0) for c in cuts], F.lit(0))
    return (
        scored.groupBy(tier.cast("long").alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("score").cast("long").alias("min_score"),
            F.max("score").cast("long").alias("max_score"),
        )
        .orderBy("tier")
    )


# Bigrams via 1-indexed generate_series (empty for <2 tokens, like
# the engine's size>=2 guard); BIGINT/BIGINT '/' is double division
# in DuckDB, matching Spark's fractional '/'.
# Rate replay: ppm = floor(least(1.0, budget/total) * 1e6) on DOUBLE
# quotients -- the exact IEEE sequence the engine computes driver-side
# (sampling.token_budget_sample), so quantized rates agree bit-exactly.
@query("c2_token_budget_mix", oracle=f"""
            WITH d AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            tot AS (SELECT source, SUM(n_tokens) AS total FROM d GROUP BY source),
            rate AS (SELECT source,
                            CAST(floor(least(1.0, CAST(800 AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS ppm
                     FROM tot),
            kept AS (
              SELECT d.source, d.n_tokens FROM d JOIN rate USING (source)
              WHERE ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "mix")}) % 1000000 < ppm)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
            FROM kept GROUP BY source
        """)
def q_c2(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus mixing (functions/sampling.token_budget_sample):
    each source/domain is deterministically thinned to a ~800-token
    allowance -- under-budget sources keep every row (rate 1.0), over-budget
    sources keep ~budget/total of theirs.  One corpus-wide hash agg collects
    #sources rows (model-sized), rates come back as a broadcast join, the
    filter is map-side.  Oracle replays the floor(double)-quantized ppm rates
    and the md5 membership predicate exactly."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import token_budget_sample
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count

    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    kept = token_budget_sample(d, "doc_id", "source", "n_tokens", budget_per_stratum=800, seed="mix")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
    )


# Chunking replay: 1-indexed stride-48 starts; DuckDB list_slice is
# end-INCLUSIVE, so the 64-token window is [s, s+63] clamped to len.
@query("c4_doc_chunks", bench=True, oracle=r"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
              FROM documents),
            st AS (
              SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) AS s
              FROM tk WHERE len(toks) >= 1)
            SELECT doc_id,
                   CAST((s - 1) // 48 AS BIGINT) AS chunk_no,
                   CAST(s AS BIGINT) AS start_token,
                   CAST(len(list_slice(toks, s, least(s + 63, len(toks)))) AS BIGINT) AS n_chunk_tokens,
                   md5(array_to_string(list_slice(toks, s, least(s + 63, len(toks))), ' ')) AS chunk_md5
            FROM st
        """)
def q_c4(spark: SparkSession, sf: str) -> DataFrame:
    """Document chunking for training/RAG: 64-token chunks on a 48-token
    stride (overlapping windows), zero-shuffle posexplode fan-out
    (operators/textanalysis.chunk_documents)."""
    return text.chunk_documents(load_table(spark, sf, "documents"), "doc_id", "text", chunk_tokens=64, stride=48)


# Packing replay: ONE global window cumsum (fine at oracle scale) --
# the engine's bucketed distributed prefix sum must equal it exactly.
@query("c5_sequence_packing", bench=True, oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
              FROM d)
            SELECT doc_id, n_tokens, start_offset,
                   CAST(start_offset // 512 AS BIGINT) AS bin_id,
                   CAST(start_offset % 512 AS BIGINT) AS pos_in_bin
            FROM c
        """)
def q_c5(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: greedy contiguous assignment of documents to
    512-token training sequences via a DISTRIBUTED prefix sum (bucketed
    local cumsum + model-sized bucket-offset cumsum + broadcast), never a
    global single-reducer window (functions/sampling.pack_sequences).
    Oracle: the plain global window cumsum it must equal."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import pack_sequences
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count

    docs = load_table(spark, sf, "documents").select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return pack_sequences(docs, "doc_id", "n_tokens", seq_len=512, bucket_span=100)


# Shuffle replay: ROW_NUMBER over the same md5 permutation keys
# equals the engine's bucketed prefix-sum rank (bucket = key
# prefix, so bucket-then-key order IS key order); doc_id tiebreak
# makes the order total even under (impossible) digest collisions.
@query("c7_training_shuffle", bench=True, oracle="""
            WITH k AS (SELECT doc_id, md5(concat('0:', CAST(doc_id AS VARCHAR))) AS key
                       FROM documents),
            r AS (SELECT doc_id,
                         CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id) - 1 AS BIGINT) AS ord_rank
                  FROM k)
            SELECT doc_id, ord_rank,
                   CAST(ord_rank % 8 AS BIGINT) AS shard,
                   CAST(ord_rank // 8 AS BIGINT) AS pos_in_shard
            FROM r
        """)
def q_c7(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-order shuffle + round-robin sharding
    (functions/sampling.training_shuffle): the md5-seeded global
    permutation a pipeline applies before writing training shards.  The
    global rank is a distributed prefix sum over 256 md5-prefix buckets --
    no global-window single reducer -- and the oracle replays the
    permutation with ROW_NUMBER over the same md5 keys, so rank, shard,
    and position are all value-checked."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import training_shuffle

    return training_shuffle(load_table(spark, sf, "documents"), "doc_id", n_shards=8, seed=0).orderBy("ord_rank")


# Weighted-sample replay: dup_token_ratio exactly as t2 (raw-text
# tokens, integer half-up _dratio), keep iff md5 ppm <
# floor(clamp(1-ratio)*1e6) -- identical doubles -> identical
# floors, no knife edges.
@query("c6_quality_weighted_sample", oracle=rf"""
            WITH t AS (
              SELECT doc_id, source, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
              FROM documents),
            q AS (
              SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
                     {_dratio('(len(toks) - len(list_distinct(toks)))', 'greatest(len(toks), 1)')} AS dup_ratio
              FROM t),
            kept AS (
              SELECT * FROM q
              WHERE ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "qw")}) % 1000000
                    < CAST(floor(least(greatest(1.0 - dup_ratio, 0.0), 1.0) * 1000000) AS BIGINT))
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
            FROM kept GROUP BY source
        """)
def q_c6(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted soft curation: each document survives with
    probability (1 - dup_token_ratio) -- repetitive docs rarely, clean
    docs almost always -- via the DETERMINISTIC weighted hash sample
    (functions/sampling.weighted_hash_sample), so the kept set is
    engine-replayable, unlike rand()-based importance sampling.
    Per-source kept counts + token mass."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import weighted_hash_sample

    docs = load_table(spark, sf, "documents")
    quality = text.quality_scores(docs, "doc_id", "text").select("doc_id", "dup_token_ratio", "n_tokens")
    d = docs.select("doc_id", "source").join(quality, "doc_id")
    kept = weighted_hash_sample(d, "doc_id", F.lit(1.0) - F.col("dup_token_ratio"), seed="qw")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
    )


@query("c3_decontamination", bench=True, stdout=True, oracle=r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
              FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM toks WHERE len(w) >= 5)),
            ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
            corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 != 0),
            pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM corp GROUP BY doc_id),
            h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits
                  FROM corp JOIN ev USING (gram) GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(pd.n_grams, 0) AS n_grams,
                   COALESCE(h.n_eval_hits, 0) AS n_eval_hits,
                   COALESCE(h.n_eval_hits, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 != 0) d
            LEFT JOIN pd USING (doc_id) LEFT JOIN h USING (doc_id)
        """)
def q_c3(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: documents with doc_id % 97 == 0 stand in
    for a held-out eval suite; every OTHER document is scored for 5-gram
    overlap with it (operators/dedup.decontaminate).  The eval gram set
    broadcasts; the corpus is scored map-side -- the contamination filter a
    training-data pipeline runs before every release."""
    docs = load_table(spark, sf, "documents")
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.decontaminate(corpus, eval_docs, "doc_id", "text", n=5)


@query("c11_leakage_safe_split", oracle=rf"""
            WITH b AS (
              SELECT doc_id,
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k,
                     CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS ntok
              FROM documents),
            s AS (
              SELECT b.*, CASE WHEN {md5_int32_sql('k', 'split')} % 10 < 1 THEN 'val'
                               WHEN {md5_int32_sql('k', 'split')} % 10 < 2 THEN 'test'
                               ELSE 'train' END AS split
              FROM b),
            st AS (
              SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(COUNT(DISTINCT k) AS BIGINT) AS n_groups,
                     CAST(SUM(ntok) AS BIGINT) AS n_tokens
              FROM s GROUP BY split),
            lk AS (
              SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaky_groups
              FROM (SELECT k, COUNT(DISTINCT split) AS ns FROM s GROUP BY k))
            SELECT split, n_docs, n_groups, n_tokens, n_leaky_groups FROM st, lk ORDER BY split
        """)
def q_c11(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split (sampling.leakage_safe_split):
    split key = md5 of NORMALIZED TEXT (the d1 dup-group key), so
    duplicate groups can't straddle splits; n_leaky_groups is computed,
    not asserted, and must be 0."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import leakage_safe_split

    return leakage_safe_split(load_table(spark, sf, "documents"), "doc_id", "text")


# dr1's group-stable sample: md5(first token) % 4 (see q_dr1 docstring).
_DR1_SAMPLE_SQL = rf"""(
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
    FROM documents)
  WHERE ({md5_int32_sql("w[1]", "dr1")}) % 4 = 0)"""


# dr1: sampled dedup-recall audit -- nested-WITH subqueries reuse
# the d3 LSH replay and the exact-Jaccard CTE on the same
# group-stable (first-token-hash) sample.
@query("dr1_dedup_recall", oracle=f"""
            WITH lsh AS ({_minhash_lsh_oracle(max_bucket=2000, source=_DR1_SAMPLE_SQL)}),
            tru AS (
              WITH {_shingles_cte(None, source=_DR1_SAMPLE_SQL)}
              SELECT doc1, doc2 FROM jac WHERE jaccard >= 0.8),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM tru),
            f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found FROM tru
                  WHERE EXISTS (SELECT 1 FROM lsh WHERE lsh.doc1 = tru.doc1 AND lsh.doc2 = tru.doc2))
            SELECT t.n_true, f.n_found,
                   CAST(CASE WHEN t.n_true = 0 THEN -1
                             ELSE (1000000 * f.n_found) // t.n_true END AS BIGINT) AS recall_ppm
            FROM t, f
        """)
def q_dr1(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-recall audit ('measure, don't guess' applied to the dedup
    family itself): on a ~1-in-4 GROUP-stable doc sample, compute the TRUE
    near-dup pair set (exact uncapped Jaccard >= 0.8 -- feasible BECAUSE
    sampled: the uncapped inverted index is quadratic in hot-shingle df,
    which the sample bounds) and the d3 MinHash+LSH pipeline's pairs on
    the same sample; report n_true / n_found / recall_ppm (exact integer
    floor division; -1 sentinel if the sample holds no true pair).

    Sampling is by md5(first token) % 4 -- NOT by doc_id: a pair survives
    sampling only if BOTH endpoints do, so id-sampling shears near-dup
    pairs apart (measured: doc_id%20 kept ZERO of sf0.01's 25 true pairs;
    every true pair at every SF shares its first token, so token-group
    sampling keeps pairs intact -- the c11 leakage-safe-split lesson
    applied to auditing).  This is how LSH parameter quality (16 hashes x
    4 bands at t=0.8) is audited at 100 TB: a sampled recall gate, the
    r1/r2 ANN pattern applied to text dedup.  Fully deterministic (md5
    everywhere), so even the recall number is oracle-hash-exact."""
    first_tok = F.element_at(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""), 1)
    docs = load_table(spark, sf, "documents").where(
        F.pmod(md5_int32(first_tok, "dr1"), F.lit(4)) == 0
    )
    true_pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8, max_df=None).select(
        "doc1", "doc2"
    )
    lsh_pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8
    ).select("doc1", "doc2")
    found = true_pairs.join(lsh_pairs, ["doc1", "doc2"], "left_semi")
    t = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    f_ = found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    return t.crossJoin(f_).select(  # two 1-row totals: the sanctioned crossJoin shape
        "n_true",
        "n_found",
        F.when(F.col("n_true") == 0, F.lit(-1))
        .otherwise(F.expr("(1000000 * n_found) DIV n_true"))
        .cast("long")
        .alias("recall_ppm"),
    )


@query("c10_rule_filter", bench=True, oracle=r"""
            WITH s AS (
              SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace,
                lower(text) AS low
              FROM documents),
            r AS (
              SELECT source,
                CAST(len(w) AS BIGINT) AS n_tok,
                CAST(len(list_distinct(w)) AS BIGINT) AS n_dis,
                CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_tok,
                n_nonspace,
                (CASE WHEN regexp_matches(low, '\bthe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\band\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\bof\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\bto\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(low, '\ba\b') THEN 1 ELSE 0 END) AS n_stop
              FROM s),
            b AS (
              SELECT source, n_tok,
                (n_tok >= 20 AND n_tok <= 100000) AS r_wc,
                (2 * n_tok <= n_nonspace AND n_nonspace <= 5 * n_tok) AS r_mwl,
                (10 * n_alpha_tok >= 7 * n_tok) AS r_alpha,
                (n_stop >= 2) AS r_stop,
                (10 * (n_tok - n_dis) <= 6 * n_tok) AS r_dup
              FROM r)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_wc,
              CAST(SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mwl,
              CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
              CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
              CAST(SUM(CASE WHEN NOT r_dup THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup,
              CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop AND r_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop AND r_dup THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
            FROM b GROUP BY source ORDER BY source
        """)
def q_c10(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4 hard rule filter funnel (textanalysis.rule_filter_stats):
    five integer-comparison rules per doc, per-source rejection counts +
    survivor token budget.  All thresholds are cross-multiplied integer
    predicates, so the keep bit is engine-exact."""
    docs = load_table(spark, sf, "documents")
    # Repartition-first (dedup._shingles rule): the per-doc regexp/HOF work
    # is the CPU; a compact parquet source may arrive single-partition.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return text.rule_filter_stats(docs, "text", "source")
