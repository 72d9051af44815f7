"""Text analysis for training-data curation: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All per-document map-side expressions -- zero shuffle, linear scan, fully
inside whole-stage codegen.  At 100 TB these run at parquet-scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32
from youtubeanalyzerproject_big_data__spark.functions.precision import dec_avg, micro_round, ratio_round
from youtubeanalyzerproject_big_data__spark.functions.textfns import adjacent_pairs, normalize, token_count, tokens
from youtubeanalyzerproject_big_data__spark.session import pin

# Tiny marker-word lists per language for the n-gram/stopword heuristic.
# (A real pipeline would use fastText/CLD3; those libs aren't in this
# container, and the heuristic keeps the operator oracle-checkable.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "les", "et", "des"],
    "de": ["der", "die", "das", "und", "ist"],
    "zh": ["de5", "shi4", "le5", "zai4", "wo3"],
}


def _marker_count(text: Column, words: list[str]) -> Column:
    """Count of marker-word occurrences, via one regexp over word bounds."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), F.lit(1))).cast("long")


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_chars_measured): whitespace tokenization + a
    BPE-ish subword proxy count (runs of letters/digits/other)."""
    t = F.col(text_col)
    bpe_ish = F.size(F.regexp_extract_all(t, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), F.lit(1))).cast("long")
    return df.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        bpe_ish.alias("n_subword_tokens"),
        F.length(t).cast("long").alias("n_chars_measured"),
    )


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality signals: length, mean token length, whitespace
    ratio, alpha ratio, token-duplication ratio, stopword ratio."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(t).cast("long")
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("long")
    n_space = F.length(F.regexp_replace(t, r"[^\s]", "")).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    stop = _marker_count(t, LANG_MARKERS["en"])
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_measured"),
        n_tok.alias("n_tokens"),
        # ratio_round, not ROUND(double-quotient): count ratios with
        # arbitrary integer denominators can land on a 7th-digit half where
        # the engines' ROUNDs split (41/640 class; precision.ratio_round)
        ratio_round(n_alpha, F.greatest(n_chars, F.lit(1)), "alpha_ratio"),
        ratio_round(n_space, F.greatest(n_chars, F.lit(1)), "space_ratio"),
        ratio_round(n_tok - n_distinct, F.greatest(n_tok, F.lit(1)), "dup_token_ratio"),
        ratio_round(stop, F.greatest(n_tok, F.lit(1)), "stopword_ratio"),
        ratio_round(F.greatest(n_chars, F.lit(0)), F.greatest(n_tok, F.lit(1)), "chars_per_token"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language heuristic: argmax over per-language marker
    counts, 'und' when nothing matches.  Deterministic tie-break by
    language code order."""
    t = F.col(text_col)
    scores = [(lang, _marker_count(t, words)) for lang, words in sorted(LANG_MARKERS.items())]
    # argmax via greatest + chained when (ties -> first language in sorted order)
    best = F.greatest(*[s for _, s in scores])
    pred: Column = F.lit("und")
    for lang, s in reversed(scores):
        pred = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(pred)
    return df.select(F.col(id_col), pred.alias("lang_pred"), best.alias("marker_hits"))


def profile_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality + language-ID signals in ONE map-side projection -- the
    shared-intermediate form of quality_scores + language_id for pipelines
    (q_c1) that need both: at corpus scale, two separate operators mean two
    full scans/tokenizations of the text where one pass suffices.  Column
    semantics are IDENTICAL to the standalone operators (same expression
    builders), so oracles written against them replay unchanged."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(t).cast("long")
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("long")
    n_space = F.length(F.regexp_replace(t, r"[^\s]", "")).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    stop = _marker_count(t, LANG_MARKERS["en"])
    scores = [(lang, _marker_count(t, words)) for lang, words in sorted(LANG_MARKERS.items())]
    best = F.greatest(*[s for _, s in scores])
    pred: Column = F.lit("und")
    for lang, s in reversed(scores):
        pred = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(pred)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_measured"),
        n_tok.alias("n_tokens"),
        # ratio_round, not ROUND(double-quotient): count ratios with
        # arbitrary integer denominators can land on a 7th-digit half where
        # the engines' ROUNDs split (41/640 class; precision.ratio_round)
        ratio_round(n_alpha, F.greatest(n_chars, F.lit(1)), "alpha_ratio"),
        ratio_round(n_space, F.greatest(n_chars, F.lit(1)), "space_ratio"),
        ratio_round(n_tok - n_distinct, F.greatest(n_tok, F.lit(1)), "dup_token_ratio"),
        ratio_round(stop, F.greatest(n_tok, F.lit(1)), "stopword_ratio"),
        ratio_round(F.greatest(n_chars, F.lit(0)), F.greatest(n_tok, F.lit(1)), "chars_per_token"),
        pred.alias("lang_pred"),
        best.alias("marker_hits"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint: md5 of the normalized text (stable content
    hash), plus a 64-bit prefix as integer for compact storage/joins."""
    fp = F.md5(normalize(F.col(text_col)))
    return df.select(
        F.col(id_col),
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 8), 16, 10).cast("long").alias("fingerprint32"),
    )


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style per-document repetition signals (the quality gates a
    training-data pipeline uses to drop boilerplate and degenerate text):

    - ``top_token_ratio``    occurrences of the most frequent token / n_tokens
    - ``top_bigram_ratio``   occurrences of the most frequent word-bigram / n_bigrams
    - ``distinct_bigram_ratio``  distinct bigrams / n_bigrams

    Scale design: explode + two (doc, gram) hash aggregates instead of a
    per-document quadratic array scan -- a 100k-token document costs 100k
    shuffle rows of (doc_id, gram, partial count), not 10^10 in-array
    comparisons, and map-side combine collapses repeated grams before the
    shuffle.  Docs with <2 tokens keep 0/0.0 sentinels via the left join
    from the base projection (no NULLs in outputs).
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.size("toks").cast("long").alias("n_tokens"),
        # zip_with-based pair builder (textfns.adjacent_pairs): measured
        # ~10x the transform+element_at formulation it replaced.
        adjacent_pairs(F.col("toks")).alias("bigrams"),
    )
    uni = (
        base.select("doc_id", F.explode("toks").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_n"))
    )
    bi = (
        base.select("doc_id", F.explode("bigrams").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bigram_n"),
            F.sum("c").cast("long").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
        )
    )
    nb = F.greatest(F.coalesce(F.col("n_bigrams"), F.lit(0)), F.lit(1))
    return (
        base.select("doc_id", "n_tokens")
        .join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            ratio_round(F.coalesce("top_token_n", F.lit(0)), F.greatest("n_tokens", F.lit(1)), "top_token_ratio"),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            ratio_round(F.coalesce("top_bigram_n", F.lit(0)), nb, "top_bigram_ratio"),
            ratio_round(F.coalesce("n_distinct_bigrams", F.lit(0)), nb, "distinct_bigram_ratio"),
        )
    )


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """CCNet-style language-model quality score: per-document mean unigram
    log-probability under a unigram LM fit on the corpus itself.  Low (very
    negative) means the document is full of corpus-rare tokens (often noise);
    high means boilerplate-common tokens -- both tails are curation signals.

    Scale design: one (doc, token) hash aggregate (map-side combined), the
    vocabulary is derived from it by a second aggregate (vocab-sized, i.e.
    model-sized), and the total-token count is a scalar.  The vocab joins
    back by token -- a broadcast at any realistic vocabulary size.  The
    per-document reduction sums INTEGER-QUANTIZED contributions
    (``floor(ln(c/N) * 1e6)`` per token occurrence), so partial aggregation
    order / partition count / engine cannot change the result -- the same
    recipe as pagerank's quantized contribution sums.

    Returns (doc_id, n_tokens, sum_lp_micro, mean_logprob): the exact
    integer sum plus the rounded per-token mean.  Empty docs keep 0/0.0
    sentinels (no NULLs in outputs).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    vocab = tf.groupBy("token").agg(F.sum("tf").cast("long").alias("c"))
    n_total = vocab.agg(F.sum("c")).collect()[0][0] or 1  # scalar N, model-sized collect
    lp_micro = F.floor(F.log(F.col("c").cast("double") / F.lit(float(n_total))) * 1e6).cast("long")
    scored = tf.join(F.broadcast(vocab.select("token", lp_micro.alias("lp_micro"))), "token")
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("lp_micro")).cast("long").alias("sum_lp_micro"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("sum_lp_micro", F.lit(0)).cast("long").alias("sum_lp_micro"),
            ratio_round(
                F.coalesce("sum_lp_micro", F.lit(0)),
                F.greatest(F.coalesce("n_tokens", F.lit(0)), F.lit(1)) * F.lit(1_000_000),
                "mean_logprob",
            ),
        )
    )


def chunk_documents(df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 64, stride: int = 48) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap (stride <
    chunk_tokens) -- the pre-training/RAG chunking step.  A chunk starts
    every ``stride`` tokens; the last chunk of a document may be short.

    Pure Catalyst: sequence() builds the start offsets, posexplode fans
    out, slice() cuts the window -- zero shuffle, so at 100 TB this runs at
    parquet-scan speed with output ~= input * chunk/stride expansion.
    Returns (doc_id, chunk_no, start_token, n_chunk_tokens, chunk_md5);
    empty documents yield no chunks.
    """
    toks = tokens(F.col(text_col))
    starts = F.when(F.size(toks) >= 1, F.sequence(F.lit(1), F.size(toks), F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"), F.posexplode(starts).alias("chunk_no", "start"))
    chunk = F.slice(F.col("toks"), F.col("start"), chunk_tokens)
    return base.select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.col("start").cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def pii_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII detection/redaction signals: counts of email-like, phone-like,
    and digit-run patterns per document, plus the fingerprint of the
    digit-redacted text (the form a pipeline would persist after scrubbing).

    Pure per-row regexp expressions -- zero shuffle, whole-stage codegen,
    parquet-scan speed at 100 TB.  Patterns deliberately use the portable
    regex subset (character classes, +, {m,}) that Spark's and the oracle
    engine's regex dialects agree on.
    """
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(r"([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+)"), F.lit(1))).cast("long")
    n_phoneish = F.size(F.regexp_extract_all(t, F.lit(r"([0-9]{7,})"), F.lit(1))).cast("long")
    n_digit_runs = F.size(F.regexp_extract_all(t, F.lit(r"([0-9]+)"), F.lit(1))).cast("long")
    redacted = F.regexp_replace(t, r"[0-9]+", "#")
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_email.alias("n_email"),
        n_phoneish.alias("n_phoneish"),
        n_digit_runs.alias("n_digit_runs"),
        F.md5(redacted).alias("redacted_md5"),
    )


def term_document_frequency(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(token, df, idf): document frequency + smoothed IDF per distinct
    lower-cased token -- the vocabulary statistics a TF-IDF or stop-word
    pipeline needs.  One explode of per-doc DISTINCT tokens and one hash
    aggregate; at corpus scale the shuffle carries (token, partial count)
    pairs thanks to map-side combine.  idf = ln((N+1)/(df+1)) + 1
    (sklearn-style smoothing), rounded for cross-engine comparison."""
    n_docs = df.count()  # one cheap metadata-ish scan; the N in IDF
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("token"),
    )
    out = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return out.select(
        "token",
        "df",
        micro_round(F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0, "idf"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms (the keyword-extraction /
    doc-vectorization primitive): tf = raw in-doc count, idf = the same
    smoothed ln((N+1)/(df+1)) + 1 as term_document_frequency.

    Two hash aggregates (doc x token counts, then token df derived from
    them -- both map-side combined) + one broadcast of the scalar N + a
    per-doc window; shuffles carry (token, count) pairs only.  Deterministic
    (score DESC, token ASC) tiebreak.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("dfq"))
    scored = tf.join(dfq, "token").withColumn(
        "score", F.col("tf") * (F.log((F.lit(n_docs) + 1.0) / (F.col("dfq") + 1.0)) + 1.0)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "token", micro_round("score", "tfidf"), F.col("rk").cast("long").alias("rk"))
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean BIGRAM log-probability under an add-1-smoothed
    bigram LM fit on the corpus itself: ln((c(w1 w2)+1) / (c(w1)+V)) per
    bigram occurrence -- the next step up from t8's unigram score, and the
    standard cheap fluency signal (word-salad docs score far below
    grammatical ones even when their unigrams are common).

    Scale design mirrors unigram_logprob: one (doc, bigram) hash
    aggregate; the bigram and unigram tables derived from it are
    model-sized and broadcast back; V (vocabulary size) is a scalar.
    Contributions are integer-quantized (floor(ln * 1e6)) before the
    per-document sum, so the reduction is partition- and engine-invariant.
    Returns (doc_id, n_bigrams, sum_lp_micro, mean_logprob); docs with
    < 2 tokens keep 0/0.0 sentinels.
    """
    toks = tokens(F.lower(F.col(text_col)))
    # zip_with pair builder (textfns.adjacent_pairs, ~10x the old
    # transform+element_at); w1 re-splits from the bigram string at the
    # bigram-VOCAB level, never per occurrence.
    bg = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id", F.explode(adjacent_pairs(F.col("toks"))).alias("bigram")
    )
    bf = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    bc = (
        bf.groupBy("bigram")
        .agg(F.sum("tf").cast("long").alias("c2"))
        .select("bigram", F.split("bigram", " ").getItem(0).alias("w1"), "c2")
    )
    uni = (
        df.select(toks.alias("toks"))
        .select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    vsz = uni.count()  # scalar |vocab|, model-sized
    lp_micro = F.floor(
        F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.lit(vsz)).cast("double")) * 1e6
    ).cast("long")
    lp = bc.join(F.broadcast(uni), bc.w1 == uni.token).select("bigram", lp_micro.alias("lp_micro"))
    # no broadcast hint on lp: the bigram table outgrows the unigram vocab
    # at corpus scale; AQE converts this join to broadcast while it's small.
    per_doc = (
        bf.join(lp, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("lp_micro")).cast("long").alias("sum_lp_micro"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("sum_lp_micro", F.lit(0)).cast("long").alias("sum_lp_micro"),
            ratio_round(
                F.coalesce("sum_lp_micro", F.lit(0)),
                F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1)) * F.lit(1_000_000),
                "mean_logprob",
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Okapi BM25 top-k document retrieval for a bag-of-terms query -- the
    classic lexical-search scorer (idf * saturated tf, length-normalized).

    Scale design: the corpus is scanned ONCE; per-doc query-term tfs come
    from a map-side token filter (only query-term hits survive into the
    aggregate, so the shuffle is |hits|, not |tokens|), doc length is a
    map-side expression, df/avgdl/N are model-sized aggregates inlined as
    literals, and the final top-k compiles to TakeOrderedAndProject (no
    full sort).  Per-term contributions are integer-quantized
    (floor * 1e6) before the per-doc sum, so scores are partition- and
    engine-invariant; ties break on doc_id.  idf uses the
    Robertson-Sparck-Jones form ln(1 + (N-df+0.5)/(df+0.5)), never
    negative.  Returns (doc_id, n_hit_terms, score_micro) -- the k best.
    """
    terms = list(dict.fromkeys(terms))
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).select("doc_id", "_toks", F.size("_toks").cast("long").alias("dl"))
    lengths = docs.select("doc_id", "dl")
    n_docs, sum_dl = docs.agg(F.count(F.lit(1)), F.sum("dl")).collect()[0]
    avgdl = float(sum_dl) / float(max(n_docs, 1))

    hits = (
        docs.select("doc_id", F.explode("_toks").alias("token"))
        .where(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = {r["token"]: r["n"] for r in hits.groupBy("token").agg(F.count_distinct("doc_id").alias("n")).collect()}
    import math

    idf = {t: math.log(1.0 + (n_docs - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5)) for t in terms}
    idf_col = F.create_map(*[x for t in terms for x in (F.lit(t), F.lit(idf[t]))])[F.col("token")]
    k1, b = 1.2, 0.75  # the standard tf saturation and length normalization
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    contrib = F.floor(idf_col * (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / denom * 1e6).cast("long")
    scored = (
        hits.join(lengths, "doc_id")
        .select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_terms"), F.sum("c").cast("long").alias("score_micro"))
    )
    return scored.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(k)


def token_drift_kl(old_docs: DataFrame, new_docs: DataFrame, text_col: str) -> DataFrame:
    """Data-drift monitor between two corpus snapshots: KL(P_old || P_new)
    over add-1-smoothed token distributions -- the cheap alarm a pipeline
    runs per ingestion batch (a jump means the new slice's language shifted:
    new domain, new boilerplate, encoding breakage).

    One union-scan with a side tag, one (token, side) hash aggregate to a
    model-sized vocab table, scalar totals inlined; per-token contributions
    p*ln(p/q) are integer-quantized (floor * 1e9 -- terms are tiny) so the
    vocab-sized sum is partition- and engine-invariant.  ln crosses libm
    with the documented t8-class ulp residual.  Returns one row:
    (n_old_tokens, n_new_tokens, vocab_size, kl_micro9, kl).
    """
    tagged = old_docs.select(F.lit(0).alias("side"), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")).unionByName(
        new_docs.select(F.lit(1).alias("side"), F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    )
    counts = tagged.groupBy("token").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("c_old"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("c_new"),
    )
    n_old, n_new, vsz = counts.agg(F.sum("c_old"), F.sum("c_new"), F.count(F.lit(1))).collect()[0]
    n_old, n_new, vsz = int(n_old or 0), int(n_new or 0), int(vsz or 0)
    p = (F.col("c_old") + 1).cast("double") / F.lit(float(n_old + vsz))
    q = (F.col("c_new") + 1).cast("double") / F.lit(float(n_new + vsz))
    term = F.floor(p * F.log(p / q) * 1e9).cast("long")
    return counts.agg(F.sum(term).cast("long").alias("kl_micro9")).select(
        F.lit(n_old).cast("long").alias("n_old_tokens"),
        F.lit(n_new).cast("long").alias("n_new_tokens"),
        F.lit(vsz).cast("long").alias("vocab_size"),
        "kl_micro9",
        ratio_round(F.col("kl_micro9"), F.lit(1_000_000_000), "kl"),
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) --
    the diversity twin of the repetition signals: near-zero entropy flags
    degenerate/looped text, unusually high entropy flags token soup, and
    both tails are curation cuts.

    One (doc, token) hash aggregate; per-doc totals ride a doc-partitioned
    window (group-sized); each -(tf/n)ln(tf/n) term is integer-quantized
    (floor * 1e6) before the per-doc sum, so the result is partition- and
    engine-invariant (ln crosses libm -- t8-class documented residual).
    Returns (doc_id, n_tokens, n_distinct_tokens, entropy_micro, entropy);
    empty docs keep 0 sentinels.
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w = Window.partitionBy("doc_id")
    frac = F.col("tf").cast("double") / F.col("n").cast("double")
    per_doc = (
        tf.withColumn("n", F.sum("tf").over(w))
        .select("doc_id", "n", F.floor(-(frac * F.log(frac)) * 1e6).cast("long").alias("term"))
        .groupBy("doc_id")
        .agg(
            F.min("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
            F.sum("term").cast("long").alias("entropy_micro"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_distinct_tokens", F.lit(0)).cast("long").alias("n_distinct_tokens"),
            F.coalesce("entropy_micro", F.lit(0)).cast("long").alias("entropy_micro"),
            (F.coalesce("entropy_micro", F.lit(0)).cast("double") / F.lit(1e6)).alias("entropy"),
        )
    )


def distinctive_terms(df: DataFrame, group_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Top-k distinctive tokens per group (smoothed log-odds of the
    group's token rate vs the REST of the corpus) -- the corpus-comparison
    primitive ('what makes source A read differently?'), used for domain
    tagging and contamination triage.

    score(g, t) = ln( ((c_gt+1)/(n_g+V)) / ((c_t-c_gt+1)/(n_rest_g+V)) ),
    integer-quantized.  One (group, token) hash aggregate; per-token
    global counts join back (AQE picks broadcast while the vocab is
    small); per-group totals join back as an explicit broadcast (a
    create_map literal would reject NULL keys at runtime and grow with
    group cardinality); corpus total and V are scalar literals.  NULL
    groups are dropped up front (no "rest of corpus" is defined for an
    unlabeled doc).  The final cut is the two-stage partial top-k
    (map-side slice per partition before the window), so no reducer sees
    a full vocabulary.
    Returns (group, token, score_micro, rank); ties break on token.
    """
    from pyspark.sql import Window

    g = (
        df.where(F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("grp"), F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c_gt"))
    )
    tot = g.groupBy("token").agg(F.sum("c_gt").cast("long").alias("c_t"))
    gtot = g.groupBy("grp").agg(F.sum("c_gt").cast("long").alias("_n_g"))
    n_all = gtot.agg(F.sum("_n_g")).collect()[0][0] or 0
    vsz = tot.count()
    n_g = F.col("_n_g")
    scored = g.join(tot, "token").join(F.broadcast(gtot), "grp").select(
        "grp",
        "token",
        F.floor(
            F.log(
                ((F.col("c_gt") + 1).cast("double") / (n_g + F.lit(vsz)).cast("double"))
                / ((F.col("c_t") - F.col("c_gt") + 1).cast("double") / (F.lit(n_all) - n_g + F.lit(vsz)).cast("double"))
            )
            * 1e6
        )
        .cast("long")
        .alias("score_micro"),
    )
    # two-stage top-k: partial slice per (partition, group), final window
    part = (
        scored.groupBy(F.spark_partition_id().alias("_pid"), "grp")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct((-F.col("score_micro")).alias("ns"), F.col("token").alias("t")))),
                1,
                k,
            ).alias("top")
        )
        .select("grp", F.explode("top").alias("x"))
        .select("grp", F.col("x.t").alias("token"), (-F.col("x.ns")).alias("score_micro"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("score_micro"), F.asc("token"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "token", "score_micro", "rank")
    )


def pmi_collocations(df: DataFrame, text_col: str, min_count: int = 5, k: int = 20) -> DataFrame:
    """Corpus-level collocation extraction: top-``k`` adjacent word pairs by
    pointwise mutual information, PMI = ln(p(w1 w2) / (p(w1) p(w2))) --
    the classic phrase-mining signal (word2vec's phrase pass, Mikolov et
    al. 2013, uses the same count-ratio score) that a tokenizer/vocab
    pipeline runs to promote multi-word units.  ``min_count`` drops
    rare-pair noise (PMI's known bias toward hapax pairs) BEFORE any join.

    Scale design: ONE corpus-sized shuffle -- the (w1, w2) pair hash
    aggregate, map-side combined, rows are two tokens + a count.  The
    unigram table is vocab-sized (model-sized) and broadcasts back twice;
    pair/token totals are scalars.  The final cut is TakeOrdered top-k with
    a (pmi desc, w1, w2) deterministic tiebreak.

    Cross-engine determinism: every FACTOR of the PMI argument (c_ab, Nu,
    Np, c_a, c_b) is an exact int64 < 2^53, so its int->double conversion
    is exact; the quotient is then built in doubles with one IEEE-correct
    rounding per multiply/divide, in the same left-to-right association the
    oracle SQL spells out -- bit-identical across engines at any SF.  (The
    earlier int64-product form, c_ab * Nu^2 as a long, overflowed at the
    sf10 replay where it reaches ~5.6e21.)  The result is integer-quantized
    (floor(ln * 1e6), the t8 recipe, same documented libm-ulp residual).

    Returns (w1, w2, n_pairs, pmi_micro, pmi).
    """
    # Repartition-first rule (see dedup._shingles): the pair/token HOFs are
    # the CPU-heavy per-doc step and a compact parquet source may arrive in
    # one partition.  Pairs come from textfns.adjacent_pairs (zip_with over
    # a bound token column -- ~20x the transform+element_at formulation,
    # see its docstring); the corpus-sized aggregate keys the single "w1
    # w2" string, and w1/w2 split back out at the pair-VOCAB level (931
    # rows, not 1.4M occurrences, at sf0.1).
    base = (
        df.select(F.col(text_col))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(tokens(F.lower(F.col(text_col))).alias("toks"))
    )
    pairs = base.select(F.explode(adjacent_pairs(F.col("toks"))).alias("p"))
    # Both derived tables are model-sized (pair-vocab / vocab rows); caching
    # them stops the scalar-total passes from re-tokenizing the corpus.
    pc = (
        pairs.groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            F.split("p", " ").getItem(0).alias("w1"),
            F.split("p", " ").getItem(1).alias("w2"),
            "n_pairs",
        )
        .cache()
    )
    uni = base.select(F.explode("toks").alias("token")).groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c1")).cache()
    n_uni = uni.agg(F.sum("c1")).collect()[0][0] or 1  # scalar, model-sized collect
    n_pairs_total = pc.agg(F.sum("n_pairs")).collect()[0][0] or 1
    cand = (
        pc.where(F.col("n_pairs") >= min_count)
        .join(F.broadcast(uni.select(F.col("token").alias("w1"), F.col("c1").alias("ca"))), "w1")
        .join(F.broadcast(uni.select(F.col("token").alias("w2"), F.col("c1").alias("cb"))), "w2")
    )
    # Each factor is an exact int64 < 2^53, converted to double EXACTLY and
    # multiplied in doubles (one correct rounding per op, identical in every
    # IEEE engine).  Multiplying in int64 first overflowed at the sf10
    # replay: c_ab * Nu^2 reaches ~5.6e21 there (ANSI ARITHMETIC_OVERFLOW).
    # The oracle twin mirrors the same cast-then-multiply shape and
    # left-to-right association, so arg stays bit-identical cross-engine.
    nu_d, np_d = F.lit(float(n_uni)), F.lit(float(n_pairs_total))
    arg = (F.col("n_pairs").cast("double") * nu_d * nu_d) / (
        np_d * F.col("ca").cast("double") * F.col("cb").cast("double")
    )
    pmi_micro = F.floor(F.log(arg) * 1e6).cast("long")
    result = (
        cand.select("w1", "w2", "n_pairs", pmi_micro.alias("pmi_micro"))
        .withColumn("pmi", F.col("pmi_micro").cast("double") / F.lit(1e6))
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(k)
    )
    # Pin the k-row result, release both cached model tables (storage
    # hygiene, the d2 recipe).
    return pin(result, pc, uni)


def dsir_importance_select(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    m_buckets: int = 4096,
    k: int = 50,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    score every raw-corpus document by its hashed-n-gram importance weight
    toward a small in-domain TARGET set, and keep the top-``k``.  Features
    are unigrams + adjacent bigrams hashed into ``m_buckets`` buckets; the
    log-importance weight is sum over feature occurrences of
    ln p_target(b) - ln p_raw(b) under add-1-smoothed bucket unigram
    models.  (Paper samples with Gumbel noise; this ships the
    deterministic top-k variant the paper also evaluates, keeping the
    operator oracle-checkable.)

    Scale design: feature extraction is map-side (repartition-first rule);
    the only corpus-sized shuffle is the (doc, bucket) count aggregate
    [narrow integer rows].  Both bucket models are <= m rows -- model-sized
    -- so the log-ratio table broadcasts back, and totals are scalars.
    Each bucket's two ln() terms are floor(ln*1e6)-quantized BEFORE the
    subtraction and the per-doc sum (the t8 recipe: integer reductions are
    partition- and engine-invariant; same documented libm-ulp residual).

    Returns the top-k raw docs: (doc_id, n_feats, score_micro, mean_score),
    deterministic (score desc, doc_id) cut; feature-less docs score 0.
    """
    spark = raw.sparkSession

    def feats(df: DataFrame) -> DataFrame:
        # zip_with pair builder (textfns.adjacent_pairs) over a bound
        # token column -- see its docstring for the transform+element_at
        # cost it avoids.
        return (
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
            .repartition(spark.sparkContext.defaultParallelism)
            .select("doc_id", tokens(F.lower(F.col(text_col))).alias("toks"))
            .select("doc_id", F.explode(F.concat(F.col("toks"), adjacent_pairs(F.col("toks")))).alias("feat"))
            .select("doc_id", F.pmod(md5_int32(F.col("feat"), seed="dsir"), F.lit(m_buckets)).alias("bucket"))
        )

    raw_f = feats(raw)
    tgt_c = feats(target).groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    doc_b = raw_f.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    raw_c = doc_b.groupBy("bucket").agg(F.sum("tf").cast("long").alias("cr")).cache()
    n_raw = raw_c.agg(F.sum("cr")).collect()[0][0] or 0  # scalars, model-sized collects
    n_tgt = tgt_c.agg(F.sum("ct")).collect()[0][0] or 0
    lt = F.floor(F.log((F.coalesce("ct", F.lit(0)) + 1).cast("double") / F.lit(float(n_tgt + m_buckets))) * 1e6)
    lr = F.floor(F.log((F.col("cr") + 1).cast("double") / F.lit(float(n_raw + m_buckets))) * 1e6)
    model = (
        raw_c.join(tgt_c, "bucket", "left")
        .select("bucket", (lt - lr).cast("long").alias("diff_micro"))
    )
    per_doc = (
        doc_b.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_feats"),
            F.sum(F.col("tf") * F.col("diff_micro")).cast("long").alias("score_micro"),
        )
    )
    result = (
        raw.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("score_micro", F.lit(0)).cast("long").alias("score_micro"),
            ratio_round(
                F.coalesce("score_micro", F.lit(0)),
                F.greatest(F.coalesce("n_feats", F.lit(0)), F.lit(1)) * F.lit(1_000_000),
                "mean_score",
            ),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(k)
    )
    return pin(result, raw_c)  # pin the k rows, then release the cached bucket model


def bpe_pair_counts(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Tokenizer-training support: corpus-weighted adjacent character-pair
    counts -- the counting step of byte-pair encoding (Sennrich et al.
    2016).  The highest-count pair is the merge a BPE trainer would apply
    next.

    Scale design mirrors real BPE trainers: the CORPUS is reduced once to
    a (word, count) table (one narrow hash-aggregate shuffle -- the only
    corpus-sized work); pair expansion then runs over that VOCAB table
    (model-sized), weighting each distinct word's pairs by its corpus
    count.  Training iterations (merge, recount) operate on the same
    vocab table, never the corpus -- this operator ships the distributed
    primitive that feeds them.

    Returns top-``k`` (pair, n_occurrences), deterministic
    (count desc, pair) cut.
    """
    toks = tokens(F.lower(F.col(text_col)))
    words = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    pairs = F.when(
        F.length("w") >= 2,
        F.transform(F.sequence(F.lit(1), F.length("w") - 1), lambda i: F.col("w").substr(i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select(F.explode(pairs).alias("pair"), F.col("wc"))
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(k)
    )


def vocab_growth(df: DataFrame, id_col: str, text_col: str, n_checkpoints: int = 10) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct-token count
    at ``n_checkpoints`` evenly spaced prefixes of the corpus in ingestion
    (doc-id) order -- the corpus statistic that tells a tokenizer/vocab
    designer how fast new types keep arriving (V ~ k*N^beta).

    Scale design: NO ordered scan and NO data-sized collect.  Each token's
    FIRST-occurrence doc is one (token, min(doc_id)) aggregate; checkpoint
    boundaries are integer-arithmetic splits of the [min_id, max_id] range
    (two scalars); then ONE conditional-sum aggregate over the per-doc
    count table and ONE over the first-seen vocab table produce every
    checkpoint's cumulative doc/token/vocab totals -- n_checkpoints
    columns wide, never a row per doc driver-side.

    Returns (checkpoint, n_docs, n_tokens_cum, vocab_cum).
    """
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)  # repartition-first rule (dedup._shingles)
        .select("doc_id", F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_tok")).cache()
    first_seen = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc")).cache()
    lohi = df.agg(F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")).collect()[0]
    lo, hi = int(lohi["lo"]), int(lohi["hi"])  # two scalars
    span = hi - lo + 1
    bounds = [(c, lo - 1 + (span * c) // n_checkpoints) for c in range(1, n_checkpoints + 1)]
    stats = per_doc.agg(
        *[F.sum(F.when(F.col("doc_id") <= b, 1).otherwise(0)).cast("long").alias(f"d{c}") for c, b in bounds],
        *[F.sum(F.when(F.col("doc_id") <= b, F.col("n_tok")).otherwise(0)).cast("long").alias(f"t{c}") for c, b in bounds],
    ).collect()[0]
    vocab = first_seen.agg(
        *[F.sum(F.when(F.col("first_doc") <= b, 1).otherwise(0)).cast("long").alias(f"v{c}") for c, b in bounds]
    ).collect()[0]
    per_doc.unpersist()
    first_seen.unpersist()
    rows = [(c, stats[f"d{c}"] or 0, stats[f"t{c}"] or 0, vocab[f"v{c}"] or 0) for c, _ in bounds]
    return df.sparkSession.createDataFrame(
        rows, "checkpoint long, n_docs long, n_tokens_cum long, vocab_cum long"
    )


def zipf_fit(df: DataFrame, text_col: str, top_n: int = 1000) -> DataFrame:
    """Zipf's-law fit over the corpus frequency spectrum: least-squares
    slope/intercept of ln(freq) on ln(rank) for the top-``top_n`` token
    ranks -- natural text sits near slope -1; token soup and boilerplate
    deviate hard, making the slope a cheap corpus-health gate.

    Scale: one token-count aggregate (corpus-sized shuffle, narrow rows);
    the spectrum is a model-sized TakeOrdered cut (count desc, token asc
    deterministic ties).  Cross-engine determinism: each point's
    (ln rank, ln freq) is floor-quantized to INTEGER micros first (the t8
    recipe -- per-point libm residual only), the regression sums are exact
    Python ints, and slope/intercept derive through an explicit
    float(int)-then-divide sequence the oracle replays with HUGEINT
    casts -- no order-dependent float accumulation anywhere.

    Returns one row: (n_ranks, slope_micro, intercept_micro, slope,
    intercept).
    """
    import math

    vocab = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(top_n)
    )
    counts = [r["c"] for r in vocab.collect()]  # model-sized collect
    n = len(counts)
    xs = [math.floor(math.log(i + 1) * 1e6) for i in range(n)]  # int micros
    ys = [math.floor(math.log(c) * 1e6) for c in counts]
    sx, sy = sum(xs), sum(ys)  # exact int sums, order-free
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    slope = float(num) / float(den) if den else 0.0  # micros cancel
    intercept = (float(sy) - slope * float(sx)) / float(n) / 1e6 if n else 0.0
    spark = df.sparkSession
    return spark.createDataFrame(
        [(n, int(math.floor(slope * 1e6)), int(math.floor(intercept * 1e6)))],
        "n_ranks long, slope_micro long, intercept_micro long",
    ).select(
        "n_ranks",
        "slope_micro",
        "intercept_micro",
        (F.col("slope_micro").cast("double") / F.lit(1e6)).alias("slope"),
        (F.col("intercept_micro").cast("double") / F.lit(1e6)).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Gopher/C4-style hard rule filter (c10) and readability profile (t18)
# ---------------------------------------------------------------------------

def gopher_rule_bits(t: Column) -> dict[str, Column]:
    """The five Gopher/C4 hard-filter rule bits for one text column (all
    integer cross-multiplication comparisons -- engine-bit-identical; see
    rule_filter_stats for the rule definitions).  Shared by the c10
    funnel report and the c15 end-to-end pipeline's keep predicate.
    Keys: n_tok, r_wc, r_mwl, r_alpha, r_stop, r_dup, keep."""
    toks = tokens(t)
    n_tok = F.size(toks).cast("long")
    n_nonspace = F.length(F.regexp_replace(t, r"\s", "")).cast("long")
    n_alpha_tok = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    low = F.lower(t)
    n_stop_distinct = sum(
        F.when(low.rlike(r"\b" + w + r"\b"), F.lit(1)).otherwise(F.lit(0))
        for w in LANG_MARKERS["en"]
    ).cast("long")
    r_wc = (n_tok >= 20) & (n_tok <= 100_000)
    r_mwl = (2 * n_tok <= n_nonspace) & (n_nonspace <= 5 * n_tok)
    r_alpha = 10 * n_alpha_tok >= 7 * n_tok
    r_stop = n_stop_distinct >= 2
    r_dup = 10 * (n_tok - n_distinct) <= 6 * n_tok
    return {
        "n_tok": n_tok,
        "r_wc": r_wc,
        "r_mwl": r_mwl,
        "r_alpha": r_alpha,
        "r_stop": r_stop,
        "r_dup": r_dup,
        "keep": r_wc & r_mwl & r_alpha & r_stop & r_dup,
    }


def rule_filter_stats(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Hard rule-based document filter, Gopher/C4 style (Rae et al. 2021
    par.A1.1; Raffel et al. 2020 par.2.2): each document is screened by
    FIVE deterministic rules and the per-group funnel is reported -- how
    many docs each rule rejects and how many survive all of them.  This is
    the verdict-style companion to ``quality_scores`` (which emits raw
    signals and leaves thresholds to the caller): a curation pipeline runs
    exactly this shape as its first, cheapest pass.

    Rules (all integer cross-multiplication comparisons -- no float
    thresholds anywhere, so the pass/fail bit is bit-identical in any
    engine):
      word_count      20 <= n_tokens <= 100_000
      mean_word_len   2 <= (non-space chars / n_tokens) <= 5
                      (as 2*n_tok <= n_nonspace AND n_nonspace <= 5*n_tok)
      alpha_words     >= 70% of tokens contain a letter (10*n_alpha_tok
                      >= 7*n_tok)
      stopwords       >= 2 DISTINCT English marker stopwords present
                      (Gopher's "stop word" rule, LANG_MARKERS['en'])
      dup_tokens      token-duplication ratio <= 0.6
                      (10*(n_tok - n_distinct) <= 6*n_tok)

    Scale design: one map-side projection computes every rule bit inside
    whole-stage codegen, then ONE partial-aggregated groupBy(group_col) of
    conditional sums -- the same single-scan funnel shape as
    quality.check_constraints, but grouped.  At 100 TB this runs at
    parquet-scan speed with a group-cardinality-sized shuffle.

    Returns per group: n_docs, fail counts per rule, n_kept, kept tokens.
    """
    bits = gopher_rule_bits(F.col(text_col))
    n_tok = bits["n_tok"]
    r_wc, r_mwl, r_alpha, r_stop, r_dup = (
        bits["r_wc"], bits["r_mwl"], bits["r_alpha"], bits["r_stop"], bits["r_dup"]
    )
    keep = bits["keep"]
    base = df.select(
        F.col(group_col).alias("grp"),
        n_tok.alias("n_tok"),
        r_wc.alias("r_wc"),
        r_mwl.alias("r_mwl"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        r_dup.alias("r_dup"),
        keep.alias("keep"),
    )

    def fails(c: str) -> Column:
        return F.sum(F.when(~F.col(c), 1).otherwise(0)).cast("long").alias(f"fail_{c[2:]}")

    return (
        base.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            fails("r_wc"),
            fails("r_mwl"),
            fails("r_alpha"),
            fails("r_stop"),
            fails("r_dup"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(F.lit(0))).cast("long").alias("kept_tokens"),
        )
        .orderBy(group_col)
    )


def readability(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Per-group readability profile: Flesch reading ease from whitespace
    words, [.!?]+ sentence breaks, and vowel-group ([aeiouy]+) syllable
    estimates -- the classic complexity screen (Flesch 1948; Kincaid 1975)
    a curation pipeline uses to bucket prose difficulty.  On unpunctuated
    corpora the sentence count degenerates to 1/doc (documented; the
    operator generalizes unchanged to punctuated text).

    Cross-engine determinism: the three per-doc counts are exact integers;
    the per-doc Flesch score 206.835 - 1.015*(w/s) - 84.6*(sy/w) is a
    fixed-shape double expression over integer-valued doubles (identical
    correctly-rounded result in any IEEE engine), floor-quantized to
    integer micros BEFORE aggregation so group sums are order-free; ratio
    outputs divide exact integer sums.

    Scale: pure map-side counting + one grouped conditional-sum aggregate,
    same as rule_filter_stats.

    Returns per group: n_docs, n_words, words_per_sentence,
    syllables_per_word, pct_polysyllabic, avg_flesch.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks).cast("long")
    n_sent = F.greatest(
        F.size(F.filter(F.split(t, r"[.!?]+"), lambda s: F.trim(s) != "")).cast("long"),
        F.lit(1).cast("long"),
    )
    n_syll = F.size(F.regexp_extract_all(F.lower(t), F.lit(r"[aeiouy]+"), F.lit(0))).cast("long")
    n_poly = F.size(
        F.filter(
            F.transform(toks, lambda w: F.size(F.regexp_extract_all(F.lower(w), F.lit(r"[aeiouy]+"), F.lit(0)))),
            lambda c: c >= 3,
        )
    ).cast("long")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    flesch_micro = F.floor(flesch * 1e6).cast("long")
    base = df.where(n_words > 0).select(
        F.col(group_col).alias("grp"),
        n_words.alias("n_words"),
        n_sent.alias("n_sent"),
        n_syll.alias("n_syll"),
        n_poly.alias("n_poly"),
        flesch_micro.alias("flesch_micro"),
    )
    return (
        base.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            ratio_round(F.sum("n_words"), F.sum("n_sent"), "words_per_sentence"),
            ratio_round(F.sum("n_syll"), F.sum("n_words"), "syllables_per_word"),
            ratio_round(F.lit(100) * F.sum("n_poly"), F.sum("n_words"), "pct_polysyllabic"),
            # sum(flesch_micro) can exceed ratio_round's 4.6e12 |num| bound at
            # corpus scale; dec_avg over the exactly-recoverable micro/1e6
            # doubles is the overflow-safe integer half-up
            dec_avg(F.col("flesch_micro").cast("double") / F.lit(1e6), "avg_flesch"),
        )
        .orderBy(group_col)
    )


def bpe_train_apply(df: DataFrame, text_col: str, n_merges: int = 10) -> DataFrame:
    """Full BPE loop (Sennrich et al. 2016): train ``n_merges`` merges on
    the corpus, APPLY them to encode it, and machine-check the round trip
    -- bpe_pair_counts ships the counting primitive; this is the trainer
    that drives it and the encoder a tokenization pipeline actually runs.

    Scale design (the real-BPE-trainer shape): the corpus reduces ONCE to
    the (word, count) vocab; every training iteration (pair count -> best
    pair -> merge application) and the final encode run on that VOCAB
    table -- model-sized work, the corpus is never touched again.  Driver
    state is the merge list (n_merges strings) and one best-pair scalar
    per iteration.

    Merge application is a pure-Catalyst left-to-right fold (the greedy
    BPE scan: merging consumes its left symbol, so "aaa" under (a,a)
    gives [aa, a]); interpreted-lambda cost is fine at vocab scale.

    Merge choice ties break (count desc, pair asc) -- deterministic.

    Output (one row): n_vocab_words, total_words, total_chars (all
    oracle-exact), n_merges_applied (= n_merges by contract),
    total_symbols (post-encode, <= total_chars), compression_ok and
    roundtrip_ok gate bits -- roundtrip concatenates each word's symbols
    and compares to the word, over the whole vocab.
    """
    spark = df.sparkSession
    toks = tokens(F.lower(F.col(text_col)))
    vocab = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    chars = F.transform(F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1)))
    state = vocab.select("w", "wc", chars.alias("syms")).cache()
    state.count()  # materialize before the loop

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = F.when(
            F.size("syms") >= 2,
            F.zip_with(
                F.slice("syms", 1, F.size("syms") - 1),
                F.slice("syms", 2, F.size("syms") - 1),
                lambda x, y: F.concat(x, F.lit("\x00"), y),
            ),
        ).otherwise(F.array().cast("array<string>"))
        best = (
            state.select(F.explode(pairs).alias("p"), "wc")
            .groupBy("p")
            .agg(F.sum("wc").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "p")
            .limit(1)
            .collect()
        )
        if not best:
            break
        x, y = best[0]["p"].split("\x00", 1)
        merges.append((x, y))
        lx, ly, lxy = F.lit(x), F.lit(y), F.lit(x + y)
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == lx) & (s == ly),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lxy)),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        nxt = state.select("w", "wc", merged.alias("syms")).cache()
        nxt.count()
        state.unpersist()
        state = nxt

    out = state.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab_words"),
        F.sum("wc").cast("long").alias("total_words"),
        F.sum(F.length("w") * F.col("wc")).cast("long").alias("total_chars"),
        F.sum(F.size("syms") * F.col("wc")).cast("long").alias("total_symbols"),
        F.sum(F.when(F.concat_ws("", F.col("syms")) == F.col("w"), 0).otherwise(1)).cast("long").alias("_bad"),
    ).select(
        "n_vocab_words",
        "total_words",
        "total_chars",
        F.lit(len(merges)).cast("long").alias("n_merges_applied"),
        # total_symbols itself is data-dependent trained state (no
        # engine-independent oracle); only its INVARIANT ships.
        (F.col("total_symbols") < F.col("total_chars")).cast("long").alias("compression_ok"),
        (F.col("_bad") == 0).cast("long").alias("roundtrip_ok"),
    )
    rows = out.collect()
    state.unpersist()
    return spark.createDataFrame(rows, out.schema)


def rake_keywords(df: DataFrame, id_col: str, text_col: str, k: int = 20) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs of at most 4 tokens; each word scores deg/freq (deg =
    total length of phrases containing it, freq = its occurrences in
    phrases); a phrase scores the sum of its words' scores.  Top-``k``
    distinct phrases corpus-wide -- the cheap unsupervised keyword miner
    a curation/labeling pipeline runs per domain.

    Stopword set = LANG_MARKERS['en'] (the repo's deterministic marker
    lexicon; a production run would pass a fuller list -- the plan shape
    is identical).

    Scale design: one posexplode pass; run-splitting is a doc-partitioned
    running sum (no global window); word stats are vocab-sized and
    broadcast back; the phrase aggregate keys phrase text.  Everything
    else is map-side.

    Cross-engine determinism: deg/freq are exact ints; each word score is
    floor(1e6*deg/freq) integer micros summed exactly per phrase
    occurrence; phrase text is built from an array_sort by position (no
    collect_list order dependence); cut ties (score desc, phrase).
    """
    stops = LANG_MARKERS["en"]
    base = (
        df.select(F.col(id_col).alias("_doc"), tokens(F.lower(F.col(text_col))).alias("toks"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select("_doc", F.posexplode("toks").alias("pos", "token"))
        .withColumn("stop", F.col("token").isin(stops))
    )
    w_doc = Window.partitionBy("_doc").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    runs = base.withColumn("run", F.sum(F.col("stop").cast("int")).over(w_doc)).where(~F.col("stop"))
    # phrase instances: (doc, run) -> ordered words
    inst = runs.groupBy("_doc", "run").agg(
        F.count(F.lit(1)).cast("long").alias("plen"),
        F.concat_ws(
            " ", F.transform(F.array_sort(F.collect_list(F.struct("pos", "token"))), lambda s: s["token"])
        ).alias("phrase"),
    ).where(F.col("plen") <= 4)
    # word stats over phrase words (vocab-sized)
    pw = runs.join(inst.select("_doc", "run", "plen"), ["_doc", "run"])
    wstats = (
        pw.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"), F.sum("plen").cast("long").alias("deg"))
        .select("token", F.floor(F.lit(1_000_000) * F.col("deg") / F.col("freq")).cast("long").alias("wscore_micro"))
    )
    # phrase score = sum of member word scores (per occurrence slot)
    pscore = (
        pw.join(F.broadcast(wstats), "token")
        .groupBy("_doc", "run")
        .agg(F.sum("wscore_micro").cast("long").alias("score_micro"))
        .join(inst, ["_doc", "run"])
    )
    # Final aggregate shuffles on md5(phrase), not phrase text (repo
    # invariant: agg/join keys are narrow hashes; the phrase rides as
    # payload -- identical within a group, so first() is deterministic).
    return (
        pscore.groupBy(F.md5(F.col("phrase")).alias("_pk"))
        .agg(
            F.first("phrase").alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("score_micro").cast("long").alias("score_micro"),  # identical per text; min = deterministic pick
        )
        .select("phrase", "n_occurrences", "score_micro", (F.col("score_micro").cast("double") / F.lit(1e6)).alias("rake_score"))
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(k)
    )


def repetition_scores(docs: DataFrame, id_col: str, text_col: str, k: int = 20) -> DataFrame:
    """Per-document repetitiveness by Simpson's index over word bigrams:
    rep = sum_b c_b*(c_b-1) / (n*(n-1)) -- the probability two random
    bigram OCCURRENCES are the same bigram.  The degenerate-generation
    detector for LLM corpus curation (looping text scores near 1.0, normal
    prose near 0) that, unlike entropy/perplexity, needs no log(): every
    term is an exact int64 product, so the score quantizes engine-exactly
    as (1e6 * repeats) DIV (n*(n-1)) with zero libm exposure.

    Scale shape: one repartitioned scan (per-doc tokenize/zip_with CPU --
    the dedup._shingles rule), one (doc, md5(bigram)) count aggregate (the
    repo's narrow-shuffle-key invariant: bigram TEXT never shuffles), one
    doc-level rollup, TakeOrdered top-k.  Tokens are lower(trim) split on
    whitespace; bigrams via zip_with (adjacent_pairs -- never the
    interpreted element_at(i) fold).  Returns the ``k`` most repetitive
    docs: (doc_id, n_bigrams, n_repeats, rep_micro, rep_score), ties (rep
    desc, doc_id); docs with < 2 bigrams score 0.
    """
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != F.lit(""))
    bg = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(adjacent_pairs(toks)).alias("bigram"))
        .select("doc_id", F.md5("bigram").alias("bh"))
    )
    per_bigram = bg.groupBy("doc_id", "bh").agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("n_repeats"),
    )
    rep_micro = F.when(
        F.col("n_bigrams") >= 2,
        F.expr("(1000000 * n_repeats) DIV (n_bigrams * (n_bigrams - 1))"),
    ).otherwise(F.lit(0)).cast("long")
    return (
        per_doc.select("doc_id", "n_bigrams", "n_repeats", rep_micro.alias("rep_micro"))
        .withColumn("rep_score", F.col("rep_micro").cast("double") / F.lit(1e6))
        .orderBy(F.col("rep_micro").desc(), "doc_id")
        .limit(k)
    )


def bigram_novelty(
    corpus: DataFrame, reference: DataFrame, id_col: str, text_col: str, group_col: str
) -> DataFrame:
    """Per-group novelty profile: what fraction of each group's bigram
    OCCURRENCES never appear in a reference corpus -- the freshness /
    redundancy score used to weight sources against an already-trained
    mix (the additive counterpart of c3's containment decontamination:
    c3 flags overlap, this QUANTIFIES non-overlap).

    Exact formulation: corpus bigrams left-anti-join the reference's
    DISTINCT bigram set on md5 keys (bigram text never shuffles -- the
    repo's narrow-key invariant), novelty_ppm = (1e6 * novel) DIV total
    per group, all int64.  At 100 TB the reference set would sit behind a
    Bloom filter (bf1's machinery) with a documented false-positive bite;
    the exact join IS the oracle-clean baseline and stays shuffle-bounded
    (hashes only, reference side deduped before the join).

    Returns per group: (group, n_docs, n_bigrams, n_novel, novelty_ppm).
    """
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != F.lit(""))

    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    cb = (
        corpus.select(F.col(id_col).alias("doc_id"), F.col(group_col).alias("grp"), F.col(text_col))
        .repartition(n_part)
        .select("doc_id", "grp", F.explode(adjacent_pairs(toks)).alias("bigram"))
        .select("doc_id", "grp", F.md5("bigram").alias("bh"))
    )
    ref = (
        reference.select(F.col(text_col))
        .repartition(n_part)
        .select(F.explode(adjacent_pairs(toks)).alias("bigram"))
        .select(F.md5("bigram").alias("bh"))
        .distinct()
    )
    marked = cb.join(ref, "bh", "left_anti").groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    totals = cb.groupBy("grp").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
    )
    return (
        totals.join(marked, "grp", "left")
        .select(
            F.col("grp").alias("group"),
            "n_docs",
            "n_bigrams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.expr("(1000000 * COALESCE(n_novel, 0)) DIV n_bigrams").alias("novelty_ppm"),
        )
        .orderBy("group")
    )


def dup_ngram_fraction(df: DataFrame, text_col: str, group_col: str, n: int = 3) -> DataFrame:
    """Corpus-level duplicate n-gram mass per group: what fraction of a
    source's n-gram OCCURRENCES are repeats of an n-gram already seen in
    the same source (the Gopher-style corpus redundancy diagnostic --
    t7/t21 score repetition WITHIN a document; this measures it ACROSS
    the corpus, where boilerplate and template spam live).

        dup_ppm = 1e6 * (occurrences - distinct) DIV occurrences

    all int64, per group.  n-grams are built occurrence-preserving by an
    iterated zip_with against the j-shifted token array (the
    adjacent_pairs recipe generalized to any small n -- NEVER the
    transform+element_at(i+j) fold, which runs interpreted per element;
    CLAUDE.md invariant).  The shuffle key is md5(gram), never gram text,
    and the only corpus-sized shuffle is the (group, hash) count -- the
    same aggregate a 100 TB run needs; everything upstream is map-side
    behind the repartition-first rule.

    Returns per group: (group, n_occurrences, n_distinct, dup_ppm),
    ordered by group.  Groups whose documents are all shorter than ``n``
    tokens produce no n-grams and no row (mirrored in the oracle).
    """
    toks = F.col("toks")
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        grams = F.zip_with(
            grams,
            shifted,
            lambda a, b: F.when(a.isNotNull() & b.isNotNull(), F.concat_ws(" ", a, b)),
        )
    grams = F.filter(grams, lambda x: x.isNotNull())

    n_part = df.sparkSession.sparkContext.defaultParallelism
    counts = (
        df.select(F.col(group_col).alias("grp"), tokens(F.col(text_col)).alias("toks"))
        .repartition(n_part)  # repartition-first rule (dedup._shingles)
        .select("grp", F.explode(grams).alias("gram"))
        .select("grp", F.md5("gram").alias("gh"))
        .groupBy("grp", "gh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
        )
        .select(
            F.col("grp").alias("group"),
            "n_occurrences",
            "n_distinct",
            F.expr("(1000000 * (n_occurrences - n_distinct)) DIV n_occurrences").alias("dup_ppm"),
        )
        .orderBy("group")
    )
