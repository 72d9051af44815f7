"""Text-analysis (t), BPE (bp) and DSIR-selection (ds) queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32_sql
from youtubeanalyzerproject_big_data__spark.io import load_table
from youtubeanalyzerproject_big_data__spark.operators import textanalysis as text
from youtubeanalyzerproject_big_data__spark.operators import quality as quality_ops
from youtubeanalyzerproject_big_data__spark.contract import query
from youtubeanalyzerproject_big_data__spark.contract._sql import _davg, _dmicro, _dratio


_MARKERS = text.LANG_MARKERS


def _lang_id_oracle() -> str:
    langs = sorted(_MARKERS)
    cnts = ", ".join(
        rf"CAST(len(regexp_extract_all(lower(text), '\b({'|'.join(_MARKERS[lang])})\b', 1)) AS BIGINT) AS c_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('c_' + lang for lang in langs)})"
    case = " ".join(f"WHEN best > 0 AND c_{lang} = best THEN '{lang}'" for lang in langs)
    return f"""
WITH m AS (SELECT doc_id, {cnts} FROM documents),
b AS (SELECT doc_id, {', '.join('c_' + lang for lang in langs)}, {best} AS best FROM m)
SELECT doc_id, CASE {case} ELSE 'und' END AS lang_pred, best AS marker_hits FROM b
"""


@query("t20_langid_confusion", oracle=f"""
            WITH p AS ({_lang_id_oracle()}),
            j AS (SELECT d.lang AS truth, p.lang_pred AS pred
                  FROM documents d JOIN p ON d.doc_id = p.doc_id),
            per AS (SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY 1, 2),
            t AS (SELECT truth, CAST(SUM(n) AS BIGINT) AS t FROM per GROUP BY truth)
            SELECT per.truth, per.pred, per.n, {_dratio('per.n', 't.t')} AS recall
            FROM per JOIN t USING (truth) ORDER BY truth, pred
        """)
def q_t20(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID confusion matrix (quality.confusion_matrix): the t3
    heuristic scored against the corpus's declared lang -- per-truth-class
    recall from exact counts, the labeling-audit primitive."""
    docs = load_table(spark, sf, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    pred = text.language_id(docs, "doc_id", "text")
    j = docs.select("doc_id", "lang").join(pred.select("doc_id", "lang_pred"), "doc_id")
    return quality_ops.confusion_matrix(j, "doc_id", "lang", "lang_pred")


@query("t5_term_df", oracle=rf"""
            WITH tok AS (
              SELECT DISTINCT doc_id, t AS token FROM (
                SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS t
                FROM documents)
            ),
            n AS (SELECT COUNT(*) AS nd FROM documents),
            d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY token)
            SELECT token, df, {_dmicro('(ln((nd + 1.0) / (df + 1.0)) + 1.0)')} AS idf
            FROM d, n ORDER BY df DESC, token LIMIT 200
        """)
def q_t5(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary statistics: top-200 tokens by document frequency with
    smoothed IDF (the stop-word / TF-IDF prerequisite)."""
    out = text.term_document_frequency(load_table(spark, sf, "documents"), "doc_id", "text")
    return out.orderBy(F.desc("df"), "token").limit(200)


@query("t1_token_counts", oracle=r"""
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS BIGINT) AS n_subword_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_measured
            FROM documents
        """)
def q_t1(spark: SparkSession, sf: str) -> DataFrame:
    return text.token_counts(load_table(spark, sf, "documents"), "doc_id", "text")


@query("t2_quality_scores", oracle=rf"""
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
                     CAST(length(regexp_replace(text, '[^\s]', '', 'g')) AS BIGINT) AS n_space,
                     CAST(len(regexp_extract_all(lower(text), '\b({'|'.join(_MARKERS['en'])})\b', 1)) AS BIGINT) AS n_stop
              FROM documents)
            SELECT doc_id, n_chars AS n_chars_measured,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   {_dratio('n_alpha', 'greatest(n_chars, 1)')} AS alpha_ratio,
                   {_dratio('n_space', 'greatest(n_chars, 1)')} AS space_ratio,
                   {_dratio('(len(toks) - len(list_distinct(toks)))', 'greatest(len(toks), 1)')} AS dup_token_ratio,
                   {_dratio('n_stop', 'greatest(len(toks), 1)')} AS stopword_ratio,
                   {_dratio('greatest(n_chars, 0)', 'greatest(len(toks), 1)')} AS chars_per_token
            FROM t
        """)
def q_t2(spark: SparkSession, sf: str) -> DataFrame:
    return text.quality_scores(load_table(spark, sf, "documents"), "doc_id", "text")


@query("t3_language_id", oracle=_lang_id_oracle())
def q_t3(spark: SparkSession, sf: str) -> DataFrame:
    return text.language_id(load_table(spark, sf, "documents"), "doc_id", "text")


@query("t4_fingerprints", oracle=r"""
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
                   CAST(concat('0x', substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 8)) AS BIGINT) AS fingerprint32
            FROM documents
        """)
def q_t4(spark: SparkSession, sf: str) -> DataFrame:
    return text.fingerprints(load_table(spark, sf, "documents"), "doc_id", "text")


# Explicit DOUBLE casts keep the idf arithmetic the same IEEE
# sequence as the engine's (N+1.0)/(df+1.0) double division.
@query("t6_tfidf_top_terms", oracle=rf"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents
            ),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
            dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS dfq FROM tf GROUP BY token),
            n AS (SELECT COUNT(*) AS nd FROM documents),
            s AS (
              SELECT doc_id, token,
                     tf * (ln(CAST(nd + 1 AS DOUBLE) / CAST(dfq + 1 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS score
              FROM tf JOIN dfq USING (token), n
            )
            SELECT doc_id, token, {_dmicro('score')} AS tfidf, CAST(rk AS BIGINT) AS rk
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rk FROM s)
            WHERE rk <= 3
        """)
def q_t6(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction)."""
    return text.tfidf_top_terms(load_table(spark, sf, "documents"), "doc_id", "text", k=3)


@query("t7_repetition_signals", oracle=rf"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
              FROM documents),
            b AS (
              SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
                     list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                    i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
              FROM tk),
            ug AS (SELECT doc_id, g, COUNT(*) AS c
                   FROM (SELECT doc_id, unnest(toks) AS g FROM b) GROUP BY 1, 2),
            ua AS (SELECT doc_id, MAX(c) AS top_token_n FROM ug GROUP BY doc_id),
            bg AS (SELECT doc_id, g, COUNT(*) AS c
                   FROM (SELECT doc_id, unnest(bigrams) AS g FROM b) GROUP BY 1, 2),
            ba AS (SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams,
                          COUNT(*) AS n_distinct_bigrams
                   FROM bg GROUP BY doc_id)
            SELECT b.doc_id, b.n_tokens,
                   {_dratio('COALESCE(ua.top_token_n, 0)', 'greatest(b.n_tokens, 1)')} AS top_token_ratio,
                   CAST(COALESCE(ba.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   {_dratio('COALESCE(ba.top_bigram_n, 0)', 'greatest(COALESCE(ba.n_bigrams, 0), 1)')} AS top_bigram_ratio,
                   {_dratio('COALESCE(ba.n_distinct_bigrams, 0)', 'greatest(COALESCE(ba.n_bigrams, 0), 1)')} AS distinct_bigram_ratio
            FROM b LEFT JOIN ua ON b.doc_id = ua.doc_id LEFT JOIN ba ON b.doc_id = ba.doc_id
        """)
def q_t7(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals per document (top-token fraction,
    top-bigram fraction, distinct-bigram ratio) -- the boilerplate /
    degenerate-text quality gates.  Explode + two hash aggregates; see
    operators/textanalysis.repetition_signals for the 100 TB story."""
    return text.repetition_signals(load_table(spark, sf, "documents"), "doc_id", "text")


@query("t8_unigram_logprob", bench=True, stdout=True, oracle=rf"""
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
                   FROM tf JOIN lp USING (token) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(pd.s, 0) AS BIGINT) AS sum_lp_micro,
                   {_dratio('COALESCE(pd.s, 0)', '(greatest(COALESCE(pd.n_tokens, 0), 1) * 1000000)')} AS mean_logprob
            FROM documents d LEFT JOIN pd USING (doc_id)
        """)
def q_t8(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style unigram-LM quality score: per-doc mean log-probability
    under a unigram model fit on the corpus itself, with integer-quantized
    per-token contributions so the sum is partition- and engine-invariant
    (operators/textanalysis.unigram_logprob).

    Residual risk (documented, accepted): the quantization floors ln()
    computed independently by JVM Math.log and DuckDB's libm, neither
    correctly rounded; a term within an ulp of an integer micro boundary
    can floor differently across engines (~1e-10/row, grows with SF).
    Green at every tested SF; if it ever trips, gate with +/-1 micro
    tolerance instead of exact hash equality."""
    return text.unigram_logprob(load_table(spark, sf, "documents"), "doc_id", "text")


# Bigram-LM replay: same tokenization as t8, bigrams via 1-based
# list indexing, add-1 smoothing over (unigram count + |vocab|),
# identical floor-micro quantization before the per-doc sum.
@query("t10_bigram_logprob", oracle=rf"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
              FROM documents),
            bg AS (
              SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bigram
              FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tk)),
            bf AS (SELECT doc_id, w1, bigram, CAST(COUNT(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2, 3),
            bc AS (SELECT bigram, w1, CAST(SUM(tf) AS BIGINT) AS c2 FROM bf GROUP BY 1, 2),
            u AS (SELECT unnest(toks) AS token FROM tk),
            uc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1 FROM u GROUP BY token),
            v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM uc),
            lp AS (SELECT bigram,
                          CAST(floor(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vsz AS DOUBLE)) * 1e6) AS BIGINT) AS lpm
                   FROM bc JOIN uc ON bc.w1 = uc.token, v),
            pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                          CAST(SUM(tf * lpm) AS BIGINT) AS s
                   FROM bf JOIN lp USING (bigram) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(COALESCE(pd.s, 0) AS BIGINT) AS sum_lp_micro,
                   {_dratio('COALESCE(pd.s, 0)', '(greatest(COALESCE(pd.n_bigrams, 0), 1) * 1000000)')} AS mean_logprob
            FROM documents d LEFT JOIN pd USING (doc_id)
        """)
def q_t10(spark: SparkSession, sf: str) -> DataFrame:
    """Add-1-smoothed bigram-LM fluency score per document
    (operators/textanalysis.bigram_logprob): ln((c(w1 w2)+1)/(c(w1)+V))
    summed over bigram occurrences, integer-quantized before the per-doc
    sum (t8's recipe, one model order up).  Same libm-ulp residual risk as
    t8, documented there."""
    return text.bigram_logprob(load_table(spark, sf, "documents"), "doc_id", "text")


@query("t11_bm25_topk", oracle=r"""
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
                  FROM h JOIN d USING (token) JOIN l ON h.doc_id = l.doc_id, g)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms, CAST(SUM(c) AS BIGINT) AS score_micro
            FROM s GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 10
        """)
def q_t11(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-10 for the query {table, scan, merge}
    (operators/textanalysis.bm25_topk): map-side term filter, model-sized
    df/avgdl aggregates inlined, quantized per-term contributions,
    TakeOrdered top-k with doc_id tiebreak.  idf crosses libm (Python
    math.log literal vs DuckDB ln) -- same documented ulp residual as
    t8/e7."""
    return text.bm25_topk(
        load_table(spark, sf, "documents"), "doc_id", "text", ["table", "scan", "merge"], k=10
    )


# PMI replay: adjacent-pair counts, vocab counts, scalars via
# cross-joined single-row CTEs; the ln() argument is the same
# quotient of exact int64 products Spark evaluates, then the t8
# floor(ln*1e6) quantization.
@query("t15_pmi_collocations", bench=True, oracle=r"""
            WITH tk AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
                        FROM documents),
            bg AS (SELECT toks[s] AS w1, toks[s + 1] AS w2
                   FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS s
                         FROM tk WHERE len(toks) >= 2)),
            pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM bg GROUP BY w1, w2),
            uni AS (SELECT unnest(toks) AS token FROM tk),
            uc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1 FROM uni GROUP BY token),
            nu AS (SELECT CAST(SUM(c1) AS BIGINT) AS v FROM uc),
            np AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS v FROM pc),
            cand AS (SELECT pc.w1, pc.w2, pc.n_pairs,
                            CAST(floor(ln((CAST(pc.n_pairs AS DOUBLE) * CAST(nu.v AS DOUBLE) * CAST(nu.v AS DOUBLE))
                                          / (CAST(np.v AS DOUBLE) * CAST(a.c1 AS DOUBLE) * CAST(b.c1 AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_micro
                     FROM pc, nu, np
                     JOIN uc a ON pc.w1 = a.token
                     JOIN uc b ON pc.w2 = b.token
                     WHERE pc.n_pairs >= 5)
            SELECT w1, w2, n_pairs, pmi_micro, (CAST(pmi_micro AS BIGINT) / 1000000.0) AS pmi
            FROM cand
            ORDER BY pmi_micro DESC, w1, w2
            LIMIT 20
        """)
def q_t15(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 corpus collocations by PMI (textanalysis.pmi_collocations):
    one pair-count shuffle + vocab-sized broadcast joins, exact-int64 PMI
    argument quantized by the t8 floor(ln*1e6) recipe, deterministic
    (pmi desc, w1, w2) TakeOrdered cut.  min_count=5 drops hapax-pair
    noise before any join."""
    return text.pmi_collocations(load_table(spark, sf, "documents"), "text", min_count=5, k=20)


# Unigram-LM replay: per-token logprob quantized to integer micros
# (floor(ln(c/N)*1e6)) BEFORE the per-doc sum, so the reduction is
# exact integer arithmetic in both engines; the only float op is the
# final rounded mean.  DOUBLE casts mirror the engine's c/N double
# division and double 1e6 multiply bit-for-bit.
# Distinctive-terms replay: same smoothed log-odds sequence with
# scalar totals; ROW_NUMBER over (score DESC, token) = the
# engine's two-stage top-k (order-equivalent by construction).
# Heaps replay: first-occurrence doc per token + integer range
# boundaries; conditional sums per checkpoint.
@query("t16_vocab_growth", oracle=r"""
            WITH tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
                        FROM documents),
            pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tk GROUP BY doc_id),
            fs AS (SELECT token, MIN(doc_id) AS fd FROM tk GROUP BY token),
            r AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
            b AS (SELECT c, lo - 1 + ((hi - lo + 1) * c) // 10 AS bound
                  FROM (SELECT unnest(generate_series(1, 10)) AS c), r),
            d AS (SELECT b.c, CAST(SUM(CASE WHEN pd.doc_id <= b.bound THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                         CAST(SUM(CASE WHEN pd.doc_id <= b.bound THEN pd.n_tok ELSE 0 END) AS BIGINT) AS n_tokens_cum
                  FROM pd, b GROUP BY b.c),
            v AS (SELECT b.c, CAST(SUM(CASE WHEN fs.fd <= b.bound THEN 1 ELSE 0 END) AS BIGINT) AS vocab_cum
                  FROM fs, b GROUP BY b.c)
            SELECT d.c AS checkpoint, d.n_docs, d.n_tokens_cum, v.vocab_cum
            FROM d JOIN v ON d.c = v.c ORDER BY checkpoint
        """)
def q_t16(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve at 10 corpus-prefix checkpoints
    (textanalysis.vocab_growth): first-occurrence aggregate + integer
    id-range boundaries; no ordered scan, no data-sized collect."""
    return text.vocab_growth(load_table(spark, sf, "documents"), "doc_id", "text", n_checkpoints=10)


@query("t17_zipf_fit", oracle=r"""
            WITH tk AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
                        FROM documents),
            vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY token
                      ORDER BY c DESC, token LIMIT 1000),
            rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rn FROM vocab),
            pts AS (SELECT CAST(floor(ln(CAST(rn AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                           CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
                    FROM rk),
            s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
                         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
                  FROM pts),
            f AS (SELECT CAST(n AS BIGINT) AS n_ranks,
                         CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_d,
                         CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd, CAST(n AS DOUBLE) AS nd
                  FROM s)
            SELECT n_ranks,
                   CAST(floor(slope_d * 1e6) AS BIGINT) AS slope_micro,
                   CAST(floor(((syd - slope_d * sxd) / nd / 1e6) * 1e6) AS BIGINT) AS intercept_micro,
                   (CAST(floor(slope_d * 1e6) AS BIGINT) / 1000000.0) AS slope,
                   (CAST(floor(((syd - slope_d * sxd) / nd / 1e6) * 1e6) AS BIGINT) / 1000000.0) AS intercept
            FROM f
        """)
def q_t17(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law slope/intercept over the top-1000 token ranks
    (textanalysis.zipf_fit): integer-quantized per-point logs, exact-int
    regression sums, float(int)-then-divide sequence replayed by the
    oracle through HUGEINT casts."""
    return text.zipf_fit(load_table(spark, sf, "documents"), "text", top_n=1000)


# BPE pair-count replay: vocab word counts, per-word char pairs
# weighted by word count, deterministic top-20.
@query("bp1_bpe_pair_counts", oracle=r"""
            WITH tk AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS w
                        FROM documents),
            vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tk GROUP BY w),
            pairs AS (SELECT substring(w, CAST(s AS INT), 2) AS pair, wc
                      FROM (SELECT w, wc, unnest(generate_series(1, length(w) - 1)) AS s
                            FROM vocab WHERE length(w) >= 2))
            SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
            FROM pairs GROUP BY pair
            ORDER BY n_occurrences DESC, pair
            LIMIT 20
        """)
def q_bp1(spark: SparkSession, sf: str) -> DataFrame:
    """BPE merge-candidate counting (textanalysis.bpe_pair_counts): top-20
    corpus-weighted adjacent char pairs; corpus reduces once to the
    (word, count) vocab, pair expansion is vocab-sized -- the real-BPE
    trainer shape."""
    return text.bpe_pair_counts(load_table(spark, sf, "documents"), "text", k=20)


# DSIR replay: hashed unigram+bigram bucket features for raw corpus
# and src0 target, add-1 bucket models, per-bucket floor(ln*1e6)
# quantization BEFORE subtraction and per-doc sums (all-integer
# reductions), deterministic top-50 cut.
@query("ds1_dsir_importance_select", bench=True, stdout=True, oracle=f"""
            WITH tk AS (SELECT doc_id, source,
                               list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '') AS toks
                        FROM documents),
            feats AS (
              SELECT doc_id, source, unnest(toks) AS feat FROM tk
              UNION ALL
              SELECT doc_id, source, toks[s] || ' ' || toks[s + 1] AS feat
              FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 1)) AS s
                    FROM tk WHERE len(toks) >= 2)),
            fb AS (SELECT doc_id, source,
                          ({md5_int32_sql('feat', 'dsir')}) % 4096 AS bucket
                   FROM feats),
            db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf FROM fb GROUP BY 1, 2),
            rc AS (SELECT bucket, CAST(SUM(tf) AS BIGINT) AS cr FROM db GROUP BY bucket),
            tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM fb WHERE source = 'src0' GROUP BY bucket),
            nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS v FROM rc),
            nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS v FROM tc),
            model AS (SELECT rc.bucket,
                             CAST(floor(ln((COALESCE(tc.ct, 0) + 1) / CAST(nt.v + 4096 AS DOUBLE)) * 1e6)
                                  - floor(ln((rc.cr + 1) / CAST(nr.v + 4096 AS DOUBLE)) * 1e6) AS BIGINT) AS diff_micro
                      FROM rc LEFT JOIN tc USING (bucket), nr, nt),
            pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_feats,
                          CAST(SUM(tf * diff_micro) AS BIGINT) AS score_micro
                   FROM db JOIN model USING (bucket) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_feats, 0) AS BIGINT) AS n_feats,
                   CAST(COALESCE(pd.score_micro, 0) AS BIGINT) AS score_micro,
                   {_dratio('COALESCE(pd.score_micro, 0)', '(greatest(COALESCE(pd.n_feats, 0), 1) * 1000000)')} AS mean_score
            FROM documents d LEFT JOIN pd USING (doc_id)
            ORDER BY score_micro DESC, d.doc_id
            LIMIT 50
        """)
def q_ds1(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style hashed-n-gram importance selection
    (textanalysis.dsir_importance_select, arXiv:2302.03169): top-50 corpus
    docs by importance weight toward the source='src0' in-domain set;
    4096-bucket hashed unigram+bigram models, add-1 smoothing, t8-quantized
    per-bucket log-ratios, deterministic (score desc, doc_id) cut."""
    docs = load_table(spark, sf, "documents")
    return text.dsir_importance_select(
        docs, docs.where(F.col("source") == "src0"), "doc_id", "text", m_buckets=4096, k=50
    )


@query("t14_distinctive_terms", oracle=r"""
            WITH tk AS (
              SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            g AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_gt FROM tk GROUP BY 1, 2),
            t AS (SELECT token, CAST(SUM(c_gt) AS BIGINT) AS c_t FROM g GROUP BY token),
            ns AS (SELECT source, CAST(SUM(c_gt) AS BIGINT) AS n_g FROM g GROUP BY source),
            tots AS (SELECT CAST(SUM(c_gt) AS BIGINT) AS n_all FROM g),
            v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM t),
            sc AS (SELECT g.source, g.token,
                          CAST(floor(ln(
                            (CAST(c_gt + 1 AS DOUBLE) / CAST(n_g + vsz AS DOUBLE))
                            / (CAST(c_t - c_gt + 1 AS DOUBLE) / CAST(n_all - n_g + vsz AS DOUBLE))
                          ) * 1e6) AS BIGINT) AS score_micro
                   FROM g JOIN t USING (token) JOIN ns USING (source), tots, v),
            r AS (SELECT source, token, score_micro,
                         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                                 ORDER BY score_micro DESC, token) AS INT) AS rank
                  FROM sc)
            SELECT source, token, score_micro, rank FROM r WHERE rank <= 5
        """)
def q_t14(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 distinctive tokens per source
    (operators/textanalysis.distinctive_terms): smoothed log-odds of each
    source's token rate vs the rest of the corpus, quantized, two-stage
    top-k cut.  t8-class libm residual on ln, documented there."""
    return text.distinctive_terms(load_table(spark, sf, "documents"), "source", "text", k=5)


# Entropy replay: same tokenization; per-doc n via a window, the
# identical -(tf/n)ln(tf/n) floor-micro sequence.
@query("t13_token_entropy", oracle=r"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
            x AS (SELECT doc_id, tf, CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM tf),
            t AS (SELECT doc_id, n,
                         CAST(floor(-((CAST(tf AS DOUBLE) / CAST(n AS DOUBLE))
                                      * ln(CAST(tf AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6) AS BIGINT) AS term
                  FROM x),
            pd AS (SELECT doc_id, CAST(MIN(n) AS BIGINT) AS n_tokens,
                          CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
                          CAST(SUM(term) AS BIGINT) AS entropy_micro
                   FROM t GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(pd.n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
                   CAST(COALESCE(pd.entropy_micro, 0) AS BIGINT) AS entropy_micro,
                   (CAST(COALESCE(pd.entropy_micro, 0) AS BIGINT) / 1000000.0) AS entropy
            FROM documents d LEFT JOIN pd USING (doc_id)
        """)
def q_t13(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token-entropy diversity score
    (operators/textanalysis.token_entropy): Shannon entropy in nats over
    each doc's own token distribution, quantized sums; both tails are
    curation cuts (looped text ~0, token soup ~ln(n))."""
    return text.token_entropy(load_table(spark, sf, "documents"), "doc_id", "text")


# Drift replay: same tokenization, same add-1 smoothed p/q with
# scalar totals, same (p * ln(p/q)) * 1e9 floor sequence.
@query("t12_token_drift_kl", oracle=rf"""
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
              FROM documents),
            c AS (SELECT token,
                         CAST(SUM(CASE WHEN doc_id < 250 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
                         CAST(SUM(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
                  FROM tk GROUP BY token),
            g AS (SELECT CAST(SUM(c_old) AS BIGINT) AS n_old, CAST(SUM(c_new) AS BIGINT) AS n_new,
                         CAST(COUNT(*) AS BIGINT) AS vsz
                  FROM c),
            t AS (SELECT CAST(floor(
                           (CAST(c_old + 1 AS DOUBLE) / CAST(n_old + vsz AS DOUBLE))
                           * ln((CAST(c_old + 1 AS DOUBLE) / CAST(n_old + vsz AS DOUBLE))
                                / (CAST(c_new + 1 AS DOUBLE) / CAST(n_new + vsz AS DOUBLE)))
                           * 1e9) AS BIGINT) AS term
                  FROM c, g)
            SELECT g.n_old AS n_old_tokens, g.n_new AS n_new_tokens, g.vsz AS vocab_size,
                   s.k AS kl_micro9, {_dratio('s.k', '1000000000')} AS kl
            FROM g, (SELECT CAST(SUM(term) AS BIGINT) AS k FROM t) s
        """)
def q_t12(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus drift monitor (operators/textanalysis.token_drift_kl):
    KL(P_old || P_new) over add-1-smoothed token distributions, the first
    250 doc_ids playing the prior snapshot and the rest the new batch.
    Quantized vocab-sized sum; t8-class libm residual documented."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return text.token_drift_kl(docs.where("doc_id < 250"), docs.where("doc_id >= 250"), "text")


# Portable regex subset only (char classes, +, {m,}) so Spark's Java
# regex and DuckDB's RE2 find identical non-overlapping matches.
@query("t9_pii_signals", oracle=r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+)', 1)) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text, '([0-9]{7,})', 1)) AS BIGINT) AS n_phoneish,
                   CAST(len(regexp_extract_all(text, '([0-9]+)', 1)) AS BIGINT) AS n_digit_runs,
                   md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS redacted_md5
            FROM documents
        """)
def q_t9(spark: SparkSession, sf: str) -> DataFrame:
    """PII detection/redaction signals per document (email/phone/digit-run
    pattern counts + md5 of the digit-redacted text).  Map-side regexp
    expressions only -- parquet-scan speed at 100 TB."""
    return text.pii_signals(load_table(spark, sf, "documents"), "doc_id", "text")


# bp2: vocab/word/char totals replay exactly; merge count is the
# contract constant; compression/round-trip bits are engine-side
# gates (the merge sequence is data-dependent state an engine-
# independent oracle can't replay without reimplementing BPE).
@query("bp2_bpe_encode_gate", oracle=r"""
            WITH tk AS (
              SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS w
              FROM documents),
            v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tk GROUP BY w)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
                   CAST(SUM(wc) AS BIGINT) AS total_words,
                   CAST(SUM(len(w) * wc) AS BIGINT) AS total_chars,
                   CAST(10 AS BIGINT) AS n_merges_applied,
                   CAST(1 AS BIGINT) AS compression_ok,
                   CAST(1 AS BIGINT) AS roundtrip_ok
            FROM v
        """)
def q_bp2(spark: SparkSession, sf: str) -> DataFrame:
    """BPE train+apply round-trip gate (textanalysis.bpe_train_apply):
    10 merges learned and applied at vocab level; vocab/word/char totals
    are oracle-exact, merge count is contract-pinned, and the
    compression/round-trip bits are computed over the whole vocab."""
    return text.bpe_train_apply(load_table(spark, sf, "documents"), "text", n_merges=10)


# Zipf replay: quantized per-point logs, HUGEINT-exact regression
# sums, and the same float-then-divide sequence as the engine.
@query("t19_rake_keywords", oracle=r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS w
              FROM documents),
            base AS (
              SELECT doc_id, i AS pos, w[i] AS token,
                     CASE WHEN w[i] IN ('the','and','of','to','a') THEN 1 ELSE 0 END AS stop
              FROM toks, unnest(generate_series(1, len(w))) AS t(i)),
            runs AS (
              SELECT doc_id, pos, token, run FROM (
                SELECT doc_id, pos, token, stop,
                       SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS run
                FROM base)
              WHERE stop = 0),
            inst AS (
              SELECT doc_id, run, CAST(COUNT(*) AS BIGINT) AS plen,
                     string_agg(token, ' ' ORDER BY pos) AS phrase
              FROM runs GROUP BY doc_id, run HAVING COUNT(*) <= 4),
            pw AS (
              SELECT r.doc_id, r.run, r.token, i.plen
              FROM runs r JOIN inst i ON r.doc_id = i.doc_id AND r.run = i.run),
            ws AS (
              SELECT token, CAST(FLOOR((1000000 * SUM(plen)) / COUNT(*)) AS BIGINT) AS wscore_micro
              FROM pw GROUP BY token),
            ps AS (
              SELECT pw.doc_id, pw.run, CAST(SUM(ws.wscore_micro) AS BIGINT) AS score_micro
              FROM pw JOIN ws ON pw.token = ws.token GROUP BY pw.doc_id, pw.run)
            SELECT i.phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   CAST(MIN(ps.score_micro) AS BIGINT) AS score_micro,
                   (CAST(MIN(ps.score_micro) AS BIGINT) / 1000000.0) AS rake_score
            FROM ps JOIN inst i ON ps.doc_id = i.doc_id AND ps.run = i.run
            GROUP BY i.phrase ORDER BY score_micro DESC, phrase LIMIT 20
        """)
def q_t19(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction (textanalysis.rake_keywords): stopword-run
    phrases, deg/freq word scores in integer micros, top-20 distinct
    phrases with deterministic ties."""
    return text.rake_keywords(load_table(spark, sf, "documents"), "doc_id", "text", k=20)


@query("t23_dup_ngram_fraction", bench=True, oracle=r"""
            WITH tk AS (SELECT source,
                               list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
                        FROM documents),
            g AS (SELECT source,
                         md5(unnest(list_transform(generate_series(1, len(toks) - 2),
                                                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gh
                  FROM tk WHERE len(toks) >= 3),
            c AS (SELECT source, gh, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
            s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_occurrences,
                         CAST(COUNT(*) AS BIGINT) AS n_distinct
                  FROM c GROUP BY source)
            SELECT source AS "group", n_occurrences, n_distinct,
                   (1000000 * (n_occurrences - n_distinct)) // n_occurrences AS dup_ppm
            FROM s ORDER BY "group"
        """)
def q_t23(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level duplicate trigram mass per source
    (textanalysis.dup_ngram_fraction): fraction of each source's trigram
    OCCURRENCES that repeat an already-seen trigram -- the cross-document
    redundancy diagnostic (t7/t21 are within-document).  Occurrence-
    preserving trigrams by iterated zip_with against the shifted token
    array; md5(gram) is the only shuffled key; dup_ppm is exact int64
    floor division."""
    return text.dup_ngram_fraction(load_table(spark, sf, "documents"), "text", "source", n=3)


# t22: same lower(trim)+whitespace tokenization and adjacent-pair
# bigrams as t21; novelty = anti-join on md5 keys, integer ppm.
@query("t22_bigram_novelty", bench=True, oracle=r"""
            WITH tk AS (SELECT doc_id, source,
                               list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
                        FROM documents),
            cb AS (SELECT doc_id, source,
                          md5(unnest(list_transform(generate_series(1, len(toks) - 1),
                                                    i -> toks[i] || ' ' || toks[i + 1]))) AS bh
                   FROM tk WHERE doc_id % 7 != 0 AND len(toks) >= 2),
            rf AS (SELECT DISTINCT md5(unnest(list_transform(generate_series(1, len(toks) - 1),
                                                             i -> toks[i] || ' ' || toks[i + 1]))) AS bh
                   FROM tk WHERE doc_id % 7 = 0 AND len(toks) >= 2),
            nov AS (SELECT cb.source, COUNT(*) AS n_novel
                    FROM cb LEFT JOIN rf ON cb.bh = rf.bh WHERE rf.bh IS NULL GROUP BY cb.source),
            tot AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                           CAST(COUNT(*) AS BIGINT) AS n_bigrams
                    FROM cb GROUP BY source)
            SELECT tot.source AS "group", tot.n_docs, tot.n_bigrams,
                   CAST(COALESCE(nov.n_novel, 0) AS BIGINT) AS n_novel,
                   (1000000 * CAST(COALESCE(nov.n_novel, 0) AS BIGINT)) // tot.n_bigrams AS novelty_ppm
            FROM tot LEFT JOIN nov ON tot.source = nov.source
            ORDER BY "group"
        """)
def q_t22(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source bigram novelty vs a reference corpus (textanalysis.
    bigram_novelty): corpus = doc_id % 7 != 0 scored against the % 7 == 0
    reference slice -- exact md5-keyed anti-join, integer ppm; the
    freshness profile that weights sources against an already-trained
    mix (c3's additive counterpart)."""
    docs = load_table(spark, sf, "documents")
    return text.bigram_novelty(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        "doc_id",
        "text",
        "source",
    )


# t21: Simpson bigram diversity -- same lower(trim)+whitespace
# tokenization as t8, bigrams from adjacent positions, md5 group
# keys mirrored, ALL-integer quantization ((1e6*r) DIV (n*(n-1))).
@query("t21_repetition_score", bench=True, oracle=r"""
            WITH tk AS (SELECT doc_id,
                               list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS toks
                        FROM documents),
            b AS (SELECT doc_id,
                         unnest(list_transform(generate_series(1, len(toks) - 1),
                                               i -> toks[i] || ' ' || toks[i + 1])) AS bg
                  FROM tk WHERE len(toks) >= 2),
            c AS (SELECT doc_id, md5(bg) AS bh, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
            agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                           CAST(SUM(c * (c - 1)) AS BIGINT) AS n_repeats
                    FROM c GROUP BY doc_id),
            s AS (SELECT doc_id, n_bigrams, n_repeats,
                         CASE WHEN n_bigrams >= 2
                              THEN (1000000 * n_repeats) // (n_bigrams * (n_bigrams - 1))
                              ELSE 0 END AS rep_micro
                  FROM agg)
            SELECT doc_id, n_bigrams, n_repeats, CAST(rep_micro AS BIGINT) AS rep_micro,
                   (CAST(rep_micro AS BIGINT) / 1000000.0) AS rep_score
            FROM s ORDER BY rep_micro DESC, doc_id LIMIT 20
        """)
def q_t21(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 most repetitive documents by Simpson bigram diversity
    (textanalysis.repetition_scores): the log-free degenerate-text
    detector -- exact int64 collision counts, engine-exact DIV
    quantization, bigram text never shuffles (md5 keys)."""
    return text.repetition_scores(load_table(spark, sf, "documents"), "doc_id", "text", k=20)


@query("t18_readability", oracle=rf"""
            WITH s AS (
              SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w,
                GREATEST(len(list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) != '')), 1) AS n_sent,
                len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
              FROM documents),
            d AS (
              SELECT source,
                CAST(len(w) AS BIGINT) AS n_words,
                CAST(n_sent AS BIGINT) AS n_sent,
                CAST(n_syll AS BIGINT) AS n_syll,
                CAST(len(list_filter(w, x -> len(regexp_extract_all(lower(x), '[aeiouy]+')) >= 3)) AS BIGINT) AS n_poly
              FROM s WHERE len(w) > 0),
            q AS (
              SELECT source, n_words, n_sent, n_syll, n_poly,
                CAST(floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
                                    - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))) * 1e6) AS BIGINT) AS flesch_micro
              FROM d)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_words) AS BIGINT) AS n_words,
              {_dratio('SUM(n_words)', 'SUM(n_sent)')} AS words_per_sentence,
              {_dratio('SUM(n_syll)', 'SUM(n_words)')} AS syllables_per_word,
              {_dratio('(100 * SUM(n_poly))', 'SUM(n_words)')} AS pct_polysyllabic,
              {_davg('(flesch_micro / 1000000.0)')} AS avg_flesch
            FROM q GROUP BY source ORDER BY source
        """)
def q_t18(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source readability profile (textanalysis.readability): Flesch
    reading ease from integer word/sentence/vowel-group counts, per-doc
    scores floor-quantized to micros before the order-free group sum."""
    docs = load_table(spark, sf, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return text.readability(docs, "text", "source")
