"""Text analysis edge cases."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat and the dog"),  # en markers
        (2, "el perro de la casa que ladra y muerde"),  # es markers
        (3, ""),  # empty
        (4, "   "),  # whitespace only
        (5, "one-token"),
        (6, "  Multi   space\ttabs  here  "),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_counts_edge_cases(docs):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import token_counts

    out = {r["doc_id"]: r for r in token_counts(docs, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 5
    assert out[3]["n_tokens"] == 0 and out[4]["n_tokens"] == 0
    assert out[6]["n_tokens"] == 4
    assert out[5]["n_subword_tokens"] == 3  # "one", "-", "token"


def test_language_id_markers(docs):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import language_id

    out = {r["doc_id"]: r["lang_pred"] for r in language_id(docs, "doc_id", "text").collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"  # nothing matches


def test_quality_scores_ranges(docs):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import quality_scores

    for r in quality_scores(docs, "doc_id", "text").collect():
        for col in ("alpha_ratio", "space_ratio", "dup_token_ratio", "stopword_ratio"):
            assert 0.0 <= r[col] <= 1.0, (r["doc_id"], col, r[col])
    out = {r["doc_id"]: r for r in quality_scores(docs, "doc_id", "text").collect()}
    assert out[1]["dup_token_ratio"] == pytest.approx(0.2)  # "the" twice in 5 tokens


def test_fingerprints_normalize(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import fingerprints

    df = spark.createDataFrame([(1, "Hello  World"), (2, "hello world"), (3, "other")], "doc_id long, text string")
    out = {r["doc_id"]: r["fingerprint"] for r in fingerprints(df, "doc_id", "text").collect()}
    assert out[1] == out[2] != out[3]


def test_repetition_signals(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import repetition_signals

    rows = [
        (1, "a b a b a b"),  # 6 tokens, 5 bigrams: 'a b' x3, 'b a' x2
        (2, "all distinct words here"),
        (3, ""),  # empty -> all-zero sentinels
        (4, "solo"),  # one token -> no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 6 and out[1]["n_bigrams"] == 5
    assert out[1]["top_token_ratio"] == pytest.approx(0.5)  # 'a' 3/6
    assert out[1]["top_bigram_ratio"] == pytest.approx(0.6)  # 'a b' 3/5
    assert out[1]["distinct_bigram_ratio"] == pytest.approx(0.4)  # 2/5
    assert out[2]["top_token_ratio"] == pytest.approx(0.25)
    assert out[2]["distinct_bigram_ratio"] == pytest.approx(1.0)
    assert out[3]["n_tokens"] == 0 and out[3]["top_token_ratio"] == 0.0
    assert out[4]["n_bigrams"] == 0 and out[4]["top_bigram_ratio"] == 0.0


def test_unigram_logprob_quantized_exact(spark):
    """Per-token contributions are integer-quantized micros: the per-doc sum
    must equal the hand-computed sum regardless of partitioning."""
    import math

    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import unigram_logprob

    rows = [(1, "a a b"), (2, "b c"), (3, "")]  # N=5: a:2 b:2 c:1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_logprob(df, "doc_id", "text").collect()}

    def lp(c):
        return math.floor(math.log(c / 5.0) * 1e6)

    assert out[1]["n_tokens"] == 3
    assert out[1]["sum_lp_micro"] == 2 * lp(2) + lp(2)  # a,a,b
    assert out[2]["sum_lp_micro"] == lp(2) + lp(1)
    assert out[3]["n_tokens"] == 0 and out[3]["sum_lp_micro"] == 0 and out[3]["mean_logprob"] == 0.0
    assert out[1]["mean_logprob"] == pytest.approx(out[1]["sum_lp_micro"] / 3e6, abs=1e-6)


def test_pii_signals_counts_and_redaction(spark):
    import hashlib

    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import pii_signals

    rows = [
        (1, "contact bob@example.com or 5551234567 x2 42"),
        (2, "no pii here"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_signals(df, "doc_id", "text").collect()}
    assert out[1]["n_email"] == 1
    assert out[1]["n_phoneish"] == 1  # only the 10-digit run
    assert out[1]["n_digit_runs"] == 3  # 5551234567, 2, 42
    expected = hashlib.md5(b"contact bob@example.com or # x# #").hexdigest()
    assert out[1]["redacted_md5"] == expected
    assert out[2]["n_email"] == 0 and out[2]["n_digit_runs"] == 0
    assert out[3]["n_digit_runs"] == 0


def test_chunk_documents_windows_and_tail(spark):
    """Stride-overlap chunking: starts every `stride` tokens, short tail
    chunks kept, empty docs emit nothing."""
    import hashlib

    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import chunk_documents

    toks = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, toks), (2, "a b"), (3, "")], "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 1,4,7,10 -> sizes 4,4,4,1
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_no"])
    assert [r["start_token"] for r in c1] == [1, 4, 7, 10]
    assert [r["n_chunk_tokens"] for r in c1] == [4, 4, 4, 1]
    assert c1[0]["chunk_md5"] == hashlib.md5(b"w0 w1 w2 w3").hexdigest()
    assert c1[3]["chunk_md5"] == hashlib.md5(b"w9").hexdigest()
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 2
    assert 3 not in by_doc


def test_bigram_logprob_hand_computed(spark):
    """Add-1 bigram LM on a 2-doc corpus: terms are hand-checkable.
    Corpus: 'a b a b' + 'c d' + 'solo' -> V=5; c(a)=2 c(b)=2;
    c2('a b')=2, c2('b a')=1, c2('c d')=1."""
    import math

    import pytest

    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import bigram_logprob

    docs = spark.createDataFrame([(1, "a b a b"), (2, "c d"), (3, "solo")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_logprob(docs, "doc_id", "text").collect()}
    # vocab = {a, b, c, d, solo} -> V=5 ('solo' forms no bigram but counts)
    # doc 1: 2x ln((2+1)/(2+5)) for 'a b' + 1x ln((1+1)/(2+5)) for 'b a'
    exp1 = 2 * math.floor(math.log(3 / 7) * 1e6) + math.floor(math.log(2 / 7) * 1e6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["sum_lp_micro"] == pytest.approx(exp1, abs=2)  # cross-libm ulp slack
    assert out[1]["mean_logprob"] == pytest.approx(exp1 / 3e6, abs=1e-5)
    # doc 2: 1x ln((1+1)/(1+5))
    assert out[2]["n_bigrams"] == 1
    assert out[2]["sum_lp_micro"] == pytest.approx(math.floor(math.log(2 / 6) * 1e6), abs=2)
    # doc 3: single token -> sentinel zeros
    assert out[3]["n_bigrams"] == 0 and out[3]["sum_lp_micro"] == 0 and out[3]["mean_logprob"] == 0.0


def test_bm25_ranks_matching_docs_first(spark):
    """BM25 sanity on a controlled corpus: a doc hitting both query terms
    outranks single-term docs; a term-free doc never appears; rarer terms
    contribute more (higher idf)."""
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark engine spark engine filler words here"),  # both terms
            (2, "spark only document with some filler words"),  # common term only
            (3, "engine only document with some filler words"),  # rarer term only
            (4, "nothing relevant in this one at all"),
            (5, "spark spark spark spark spark spark spark here"),  # tf saturation
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", ["spark", "engine"], k=10).collect()
    ranked = [r["doc_id"] for r in out]
    assert 4 not in ranked
    assert ranked[0] == 1  # both-terms doc wins
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_hit_terms"] == 2
    # saturation: 7x tf of a term must NOT beat one hit of both terms
    assert by_id[5]["score_micro"] < by_id[1]["score_micro"]


def test_token_drift_kl_zero_on_identical_and_positive_on_shift(spark):
    """KL(P||P) must be ~0 (exactly 0 in quantized micro-nats up to floor
    jitter); a vocabulary shift must be clearly positive; counts add up."""
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import token_drift_kl

    a = spark.createDataFrame([(1, "x y z x y z"), (2, "x x y")], "doc_id long, text string")
    same = token_drift_kl(a, a, "text").collect()[0]
    assert same["n_old_tokens"] == same["n_new_tokens"] == 9
    assert abs(same["kl"]) < 1e-6  # identical distributions

    b = spark.createDataFrame([(3, "p q r p q r p q r")], "doc_id long, text string")
    drift = token_drift_kl(a, b, "text").collect()[0]
    assert drift["kl"] > 0.1  # disjoint vocabularies -> large divergence
    assert drift["vocab_size"] == 6


def test_token_entropy_tails(spark):
    """Degenerate text scores ~0; a uniform distribution scores ln(k)."""
    import math

    import pytest

    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import token_entropy

    docs = spark.createDataFrame(
        [(1, "a a a a a a"), (2, "a b c d"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in token_entropy(docs, "doc_id", "text").collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["n_distinct_tokens"] == 1
    assert out[2]["entropy"] == pytest.approx(math.log(4), abs=1e-5)  # uniform over 4
    assert out[3]["n_tokens"] == 0 and out[3]["entropy"] == 0.0


def test_distinctive_terms_surface_group_specific_tokens(spark):
    """Tokens unique to a group must top its list; shared filler must not."""
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import distinctive_terms

    docs = spark.createDataFrame(
        [
            (1, "web", "the quick crawler fetched the page"),
            (2, "web", "the crawler parsed the page html"),
            (3, "chat", "the quick reply said hello there"),
            (4, "chat", "hello again said the reply bot"),
        ],
        "doc_id long, source string, text string",
    )
    out = distinctive_terms(docs, "source", "text", k=3).collect()
    top = {}
    for r in out:
        top.setdefault(r["source"], []).append((r["rank"], r["token"]))
    web_tokens = {t for _, t in top["web"]}
    chat_tokens = {t for _, t in top["chat"]}
    assert web_tokens & {"crawler", "page", "html", "parsed", "fetched"}
    assert chat_tokens & {"hello", "reply", "said", "bot"}
    assert "the" not in web_tokens and "the" not in chat_tokens  # shared filler
    assert all(len(v) == 3 for v in top.values())


def test_distinctive_terms_drops_null_groups(spark):
    """A NULL group label must be dropped, not crash the per-group-total
    lookup (the old create_map literal rejected null keys at runtime)."""
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import distinctive_terms

    docs = spark.createDataFrame(
        [
            (1, "web", "crawler crawler page"),
            (2, None, "orphan tokens with no source label"),
            (3, "chat", "hello hello reply"),
        ],
        "doc_id long, source string, text string",
    )
    out = distinctive_terms(docs, "source", "text", k=2).collect()
    groups = {r["source"] for r in out}
    assert groups == {"web", "chat"}  # null group dropped, others unaffected
    assert all(r["rank"] <= 2 for r in out)


def test_pmi_collocations_exact_score_and_order(spark):
    import math

    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "new york is big and new york is far"), (2, "new york new york hot dog hot dog"), (3, "the dog and the cat")],
        "doc_id long, text string",
    )
    out = pmi_collocations(docs, "text", min_count=2, k=10).collect()
    # Hand-computed: Nu=22 tokens, Np=19 adjacent pairs.
    # "hot dog": c_ab=2, c(hot)=2, c(dog)=3 -> ln(2*22*22/(19*2*3))
    # "new york": c_ab=4, c(new)=4, c(york)=4 -> ln(4*22*22/(19*4*4))
    exp_hot = math.floor(math.log(2 * 22 * 22 / (19 * 2 * 3)) * 1e6)
    exp_ny = math.floor(math.log(4 * 22 * 22 / (19 * 4 * 4)) * 1e6)
    got = {(r["w1"], r["w2"]): (r["n_pairs"], r["pmi_micro"]) for r in out}
    assert got[("hot", "dog")] == (2, exp_hot)
    assert got[("new", "york")] == (4, exp_ny)
    # deterministic order: pmi desc, then lexicographic
    assert [(r["w1"], r["w2"]) for r in out][0] == ("hot", "dog")
    # min_count drops pairs seen once
    assert ("is", "big") not in got


def test_dsir_ranks_in_domain_docs_first(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import dsir_importance_select

    raw = spark.createDataFrame(
        [
            (1, "spark sql query engine"),
            (2, "cats purr and sleep"),
            (3, "spark shuffle join plan"),
            (4, "dogs bark loud"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame([(100, "spark query plan shuffle sql")], "doc_id long, text string")
    out = dsir_importance_select(raw, tgt, "doc_id", "text", m_buckets=256, k=5).collect()
    order = [r["doc_id"] for r in out]
    scores = {r["doc_id"]: r["score_micro"] for r in out}
    # target-overlapping docs outrank off-domain ones
    assert scores[1] > scores[2] and scores[3] > scores[2]
    assert scores[1] > scores[4] and scores[3] > scores[4]
    # empty doc scores the neutral 0 and beats negative-weight docs here
    assert scores[5] == 0 and out[0].asDict()["doc_id"] == 5 or scores[5] == 0
    # ordering is (score desc, doc_id)
    assert order == sorted(order, key=lambda d: (-scores[d], d))


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "new newer low a")], "doc_id long, text string"
    )
    out = {r["pair"]: r["n_occurrences"] for r in bpe_pair_counts(df, "text", k=10).collect()}
    # 'low' x3 + 'lower' + 'lowest' all contribute 'lo' and 'ow'
    assert out["lo"] == 5 and out["ow"] == 5
    assert out["ne"] == 2 and out["ew"] == 2  # new + newer
    assert "a" not in out  # single-char words yield no pairs
    # deterministic cut: count desc then pair asc
    rows = bpe_pair_counts(df, "text", k=3).collect()
    assert [(r["pair"], r["n_occurrences"]) for r in rows] == [("lo", 5), ("ow", 5), ("we", 3)]


def test_vocab_growth_monotone_and_exact_totals(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import vocab_growth

    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common word{i}") for i in range(20)], "doc_id long, text string"
    )
    out = vocab_growth(df, "doc_id", "text", n_checkpoints=4).orderBy("checkpoint").collect()
    assert [r["n_docs"] for r in out] == [5, 10, 15, 20]
    assert [r["n_tokens_cum"] for r in out] == [20, 40, 60, 80]
    # vocab monotone, ends at true distinct count: 7 tok% + 3 tok% overlap -> tok0..tok6 (7) + common + 20 word{i}
    vs = [r["vocab_cum"] for r in out]
    assert vs == sorted(vs) and vs[-1] == 7 + 1 + 20


def test_zipf_fit_slope_near_minus_one_on_zipfian_data(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import zipf_fit

    # frequencies ~ 1/rank: 600, 300, 200, 150, 120, 100 for 6 types
    rows = []
    doc = 0
    for rank, freq in enumerate([600, 300, 200, 150, 120, 100], start=1):
        for _ in range(freq):
            rows.append((doc, f"w{rank}"))
            doc += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = zipf_fit(df, "text", top_n=6).collect()[0]
    assert r["n_ranks"] == 6
    assert -1.1 < r["slope"] < -0.9  # ~ -1 for 1/rank data


def test_rule_filter_stats_each_rule_fires(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import rule_filter_stats

    good = "the cat and the dog sat on a mat with " + " ".join(f"w{i}" for i in range(15))
    rows = [
        (1, good, "s1"),                                     # passes all rules
        (2, "the and of to a short", "s1"),                  # < 20 tokens -> wc
        (3, "the and " + " ".join(["wordsverylong"] * 30), "s1"),  # mean len > 5 -> mwl
        (4, "the and " + " ".join(["911"] * 30), "s1"),      # digits -> alpha
        (5, " ".join(f"tok{i}" for i in range(25)), "s1"),   # no stopwords -> stop
        (6, "the and " + " ".join(["dup"] * 40), "s1"),      # dup ratio -> dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = rule_filter_stats(df, "text", "source").collect()[0]
    assert out["n_docs"] == 6
    assert out["fail_wc"] == 1
    assert out["fail_mwl"] >= 1          # doc 3 (dup docs may also trip mwl)
    assert out["fail_alpha"] == 1        # doc 4
    assert out["fail_stop"] == 1         # doc 5
    assert out["fail_dup"] >= 2          # docs 3/4/6 are heavy-dup
    assert out["n_kept"] == 1
    assert out["kept_tokens"] == 25      # the good doc has 25 tokens


def test_readability_exact_flesch_on_known_doc(spark):
    import math

    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import readability

    # 6 words, 2 sentences, syllable groups: the(1) cat(1) sat(1) ha(1)-ppy(1)
    # dogs(1) run(1) -> per-word [1,1,1,2,1,1] = 7 syllables
    df = spark.createDataFrame(
        [(1, "the cat sat. happy dogs run!", "s1")],
        "doc_id long, text string, source string",
    )
    out = readability(df, "text", "source").collect()[0]
    assert out["n_docs"] == 1 and out["n_words"] == 6
    assert out["words_per_sentence"] == 3.0
    expected = 206.835 - 1.015 * (6 / 2) - 84.6 * (7 / 6)
    assert out["avg_flesch"] == round(math.floor(expected * 1e6) / 1e6, 6)
    # empty docs are excluded, not divide-by-zero'd
    df2 = spark.createDataFrame([(1, "   ", "s1")], "doc_id long, text string, source string")
    assert readability(df2, "text", "source").count() == 0


def test_bpe_train_apply_learns_and_roundtrips(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import bpe_train_apply

    # 'ab' dominates: 'ababab' x10 + 'cd' x2 -> first merge must be (a,b).
    df = spark.createDataFrame(
        [(1, " ".join(["ababab"] * 10 + ["cd"] * 2))], "doc_id long, text string"
    )
    out = bpe_train_apply(df, "text", n_merges=2).collect()[0]
    assert out["n_vocab_words"] == 2 and out["total_words"] == 12
    assert out["total_chars"] == 10 * 6 + 2 * 2
    assert out["n_merges_applied"] == 2
    assert out["roundtrip_ok"] == 1 and out["compression_ok"] == 1


def test_bpe_merge_fold_handles_overlaps(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import bpe_train_apply

    # 'aaa': greedy left-to-right merge of (a,a) gives [aa, a], never [a, aa]
    # or a double-merge; round-trip must still hold.
    df = spark.createDataFrame([(1, "aaa aaa aa")], "doc_id long, text string")
    out = bpe_train_apply(df, "text", n_merges=1).collect()[0]
    assert out["roundtrip_ok"] == 1


def test_rake_keywords_hand_computed(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import rake_keywords

    # One doc: "deep learning of deep learning systems and fast code".
    # Stopwords {of, and} split runs: [deep learning], [deep learning
    # systems], [fast code].
    # freq: deep=2 learning=2 systems=1 fast=1 code=1
    # deg:  deep=2+3=5 learning=5 systems=3 fast=2 code=2
    # score: deep=2.5 learning=2.5 systems=3 fast=2 code=2
    # phrases: "deep learning systems"=8.0 > "deep learning"=5.0 > "fast code"=4.0
    df = spark.createDataFrame(
        [(1, "deep learning of deep learning systems and fast code")], "doc_id long, text string"
    )
    out = rake_keywords(df, "doc_id", "text", k=10).collect()
    assert [r["phrase"] for r in out] == ["deep learning systems", "deep learning", "fast code"]
    assert [r["rake_score"] for r in out] == [8.0, 5.0, 4.0]
    assert out[1]["n_occurrences"] == 1  # "deep learning" standalone run occurs once


def test_round5_text_operators_handle_empty_corpus(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import (
        rake_keywords,
        readability,
        rule_filter_stats,
    )

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert rake_keywords(empty, "doc_id", "text").count() == 0
    assert rule_filter_stats(empty, "text", "source").count() == 0
    assert readability(empty, "text", "source").count() == 0


def test_repetition_scores_degenerate_vs_normal(spark):
    """t21: a looping document (one bigram repeated) must score ~1.0 and
    rank above varied prose (score 0: every bigram unique); docs with < 2
    bigrams score 0 and singletons produce no bigrams at all."""
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 50),              # bigrams heavily repeated
            (2, "the quick brown fox jumps over a lazy dog"),  # all unique
            (3, "one"),                          # no bigram
            (4, "two words"),                    # exactly 1 bigram -> score 0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_scores(docs, "doc_id", "text", k=10).collect()}
    assert 3 not in out  # zero bigrams -> no row
    assert out[4]["rep_micro"] == 0 and out[4]["n_bigrams"] == 1
    assert out[2]["rep_micro"] == 0 and out[2]["n_repeats"] == 0
    # doc 1: 99 bigrams, "spam ham" x50 + "ham spam" x49
    n, r = out[1]["n_bigrams"], out[1]["n_repeats"]
    assert n == 99 and r == 50 * 49 + 49 * 48
    assert out[1]["rep_micro"] == (1_000_000 * r) // (n * (n - 1))
    assert out[1]["rep_micro"] > 490_000  # near the two-bigram-loop limit of ~0.5


def test_dup_ngram_fraction_hand_counts(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import dup_ngram_fraction

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c", "s1"),   # trigrams: abc, bca, cab, abc -> 4 occ, 3 distinct
            (2, "x y", "s2"),            # shorter than n -> no row for s2
            (3, "p q r", "s3"),          # 1 occ, 1 distinct, 0 dup
            (4, "a b c", "s1"),          # s1 gains one more "a b c" occurrence
        ],
        "doc_id long, text string, source string",
    )
    out = {r["group"]: r for r in dup_ngram_fraction(docs, "text", "source", n=3).collect()}
    assert set(out) == {"s1", "s3"}
    assert (out["s1"]["n_occurrences"], out["s1"]["n_distinct"]) == (5, 3)
    assert out["s1"]["dup_ppm"] == (1_000_000 * 2) // 5
    assert (out["s3"]["n_occurrences"], out["s3"]["n_distinct"], out["s3"]["dup_ppm"]) == (1, 1, 0)


def test_dup_ngram_fraction_bigrams(spark):
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import dup_ngram_fraction

    docs = spark.createDataFrame(
        [(1, "w w w", "s")], "doc_id long, text string, source string"
    )  # bigrams: "w w" x2
    row = dup_ngram_fraction(docs, "text", "source", n=2).collect()[0]
    assert (row["n_occurrences"], row["n_distinct"], row["dup_ppm"]) == (2, 1, 500_000)
