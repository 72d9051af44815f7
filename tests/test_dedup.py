"""Dedup family semantics on a corpus with known duplicate structure."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"  # 1 word differs
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, "  THE  quick brown fox jumps over the lazy dog again and again today "),  # dup after normalize
        (4, near),  # near-dup of 1
        (5, "completely different text about spark engines and distributed query processing systems"),
        (6, "short text"),  # < 3 tokens -> no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_normalized_grouping(docs):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import exact_duplicates

    out = {r["keep_id"]: r for r in exact_duplicates(docs, "doc_id", "text").collect()}
    assert out[1]["n_dups"] == 3 and out[1]["dup_ids_csv"] == "1,2,3"
    assert out[4]["n_dups"] == 1


def test_ngram_jaccard_exact_value(docs):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["doc1"], r["doc2"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.0).collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs
    # doc1 vs doc4: 13 tokens -> 11 shingles each, last shingle differs -> 10/12
    assert pairs[(1, 4)] == pytest.approx(round(10 / 12, 6))
    assert (1, 6) not in pairs  # no shared shingles


def test_minhash_lsh_recalls_exact_and_near_dups(docs):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import minhash_lsh_pairs

    got = {(r["doc1"], r["doc2"]) for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).collect()}
    # identical-shingle docs hash to identical signatures -> always recalled
    assert {(1, 2), (1, 3), (2, 3)} <= got
    # everything reported must meet the exact-jaccard threshold (verified stage)
    from youtubeanalyzerproject_big_data__spark.operators.dedup import ngram_jaccard_pairs

    exact = {(r["doc1"], r["doc2"]) for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.8).collect()}
    assert got <= exact


def _release_cases():
    """Every operator that pins its result or its loop rounds and releases
    what it built, as name -> (spark, docs) -> zero-argument call; inputs a
    call needs but does not build (the ALS model) are built before the
    call.  The loops run 3 rounds each."""
    import datetime as dt

    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators import (
        aggregates,
        classify,
        dedup,
        graph,
        recommend,
        textanalysis,
        timeseries,
    )

    def edges(spark):
        clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
        return spark.createDataFrame(clique + [(4, 5), (5, 6), (6, 4)], "src long, dst long")

    def orders(spark):
        rows = [(c, f"2024-01-{10 + c:02d} 00:00:00", 100.0 * c) for c in range(1, 5) for _ in range(c)]
        return spark.createDataFrame(rows, "o_custkey long, d string, amt double").select(
            "o_custkey", F.col("d").cast("timestamp_ntz").alias("o_orderdate"), F.col("amt").alias("o_totalprice")
        )

    def labelled(docs):
        return docs.withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "even").otherwise("odd"))

    def recs(spark, docs):
        rows = [(f"u{u}", f"i{(u * 7 + k) % 9}", float(1 + (u + k) % 5)) for u in range(8) for k in range(4)]
        ratings = recommend.build_ratings(
            spark.createDataFrame(rows, "user string, item string, rating double"), "user", "item", "rating"
        )
        model = recommend.train_als(ratings, max_iter=1, seed=42)
        return lambda: recommend.recommend_for_users(model, ratings, n_users=3, n_recs=2)

    def events(spark):
        base = dt.datetime(2024, 1, 1)
        rows = [(base + dt.timedelta(hours=h, minutes=i),) for h in range(30) for i in range(h % 4)]
        return spark.createDataFrame(rows, "ts timestamp")

    return {
        "d2_ngram_jaccard_pairs": lambda spark, d: lambda: dedup.ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.8),
        "d3_minhash_lsh_pairs": lambda spark, d: lambda: dedup.minhash_lsh_pairs(d, "doc_id", "text", threshold=0.8),
        "d12_containment_pairs": lambda spark, d: lambda: dedup.containment_pairs(d, "doc_id", "text"),
        "cross_corpus_near_dups": lambda spark, d: lambda: dedup.cross_corpus_near_dups(
            d.where("doc_id >= 4"), d.where("doc_id < 4"), "doc_id", "text"
        ),
        "pmi_collocations": lambda spark, d: lambda: textanalysis.pmi_collocations(d, "text", min_count=1, k=5),
        "dsir_importance_select": lambda spark, d: lambda: textanalysis.dsir_importance_select(
            d, d.where("doc_id < 4"), "doc_id", "text", m_buckets=64, k=3
        ),
        "rfm_segments": lambda spark, d: lambda: aggregates.rfm_segments(
            orders(spark), "o_custkey", "o_orderdate", "o_totalprice"
        ),
        "naive_bayes_confusion": lambda spark, d: lambda: classify.naive_bayes_confusion(
            labelled(d), labelled(d), "doc_id", "text", "lang"
        ),
        "recommend_for_users": recs,
        "adamic_adar": lambda spark, d: lambda: graph.adamic_adar(
            edges(spark), spark.createDataFrame([(1,), (5,)], "seed long"), k=2
        ),
        "clustering_coefficient_topk": lambda spark, d: lambda: graph.clustering_coefficient_topk(edges(spark), k=3),
        "acf_ppm": lambda spark, d: lambda: timeseries.acf_ppm(events(spark), "ts", lags=(1, 2)),
        "hits": lambda spark, d: lambda: graph.hits(edges(spark), rounds=3, k=3),
        "kcore": lambda spark, d: lambda: graph.kcore(edges(spark), k=3, max_rounds=3),
        "k_hop_distances": lambda spark, d: lambda: graph.k_hop_distances(edges(spark), [1, 1, 5], max_hops=3),
        "weighted_shortest_paths": lambda spark, d: lambda: graph.weighted_shortest_paths(
            edges(spark).withColumn("w", F.col("src") + F.col("dst")), [1, 5], max_hops=3
        ),
        "label_propagation": lambda spark, d: lambda: graph.label_propagation(edges(spark), max_iter=3),
        "connected_components_star_fast_path": lambda spark, d: lambda: graph.connected_components_star(edges(spark)),
        "connected_components_star_distributed": lambda spark, d: lambda: graph.connected_components_star(
            edges(spark), small_graph_threshold=0
        ),
    }


RELEASE_CASES = _release_cases()


@pytest.mark.parametrize("name", sorted(RELEASE_CASES))
def test_pinning_operators_release_what_they_built(spark, docs, name):
    """An operator that pins its result must release every cache and pin
    it built on the way (VERDICT r2 finding #2 -- bench no longer
    clearCache()s between queries, so a leak here would accumulate executor
    storage across a serving session): after the call, the session's
    persistent RDDs may gain at most the pins the returned plan still reads
    (its ``LogicalRDD`` leaves) -- a loop round it supersedes, an edge cache
    or a pinned intermediate counts as a leak.  ``unpersist()`` on a pinned
    intermediate frees nothing, so this also catches a pin released that
    way."""
    call = RELEASE_CASES[name](spark, docs)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = call()
    out.collect()
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    own = {
        leaf.rdd().id()
        for leaf in map(leaves.apply, range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }
    gained = set(jsc.getPersistentRDDs().keySet().toArray()) - before - own
    assert gained == set(), f"{name} left persistent RDDs {sorted(gained)} besides its result"


def test_simhash_identical_docs_distance_zero(docs):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import hamming_pairs, simhash_signatures

    sig_df = simhash_signatures(docs, "doc_id", "text")
    sigs = {r["doc_id"]: r["simhash"] for r in sig_df.collect()}
    assert sigs[1] == sigs[2] == sigs[3]  # same token set after normalize/distinct
    pairs = {(r["doc1"], r["doc2"]): r["hamming"] for r in hamming_pairs(sig_df, "doc_id", "simhash", 32, 3).collect()}
    assert pairs[(1, 2)] == 0
    # near-dup differs by one token -> small distance, recalled by blocking
    assert (1, 4) in pairs and pairs[(1, 4)] <= 3


@pytest.mark.parametrize("d", [1, 2, 3])
def test_hamming_pairs_is_complete_below_the_cap(spark, d):
    """Pigeonhole completeness: with no bucket over the cap, the chunk
    blocking finds EVERY pair within distance d -- exactly the brute-force
    all-pairs set.  Seeded random 60-bit hashes, plus planted partners at
    each distance 0..d (and one at d + 1, which must stay out)."""
    import random

    from youtubeanalyzerproject_big_data__spark.operators.dedup import hamming_pairs

    rng = random.Random(20 + d)
    hashes = [rng.getrandbits(60) for _ in range(60)]
    for base in hashes[:12]:
        for dist in range(d + 2):
            hashes.append(base ^ sum(1 << b for b in rng.sample(range(60), dist)))
    rows = list(enumerate(hashes))
    want = {
        (i, j, bin(hi ^ hj).count("1"))
        for i, hi in rows
        for j, hj in rows
        if i < j and bin(hi ^ hj).count("1") <= d
    }
    assert {dist for _, _, dist in want} == set(range(d + 1))  # every planted distance present
    df = spark.createDataFrame(rows, "id long, h long")
    got = {tuple(r) for r in hamming_pairs(df, "id", "h", 60, d).collect()}
    assert got == want


def test_embedding_near_dup(spark):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import embedding_near_dup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id1"], r["id2"]): r["cos_sim"] for r in embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.95).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] > 0.999


def test_cross_corpus_near_dups_only_cross_pairs(spark):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import cross_corpus_near_dups

    new = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "completely different text about nothing at all here")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (101, "the quick brown fox jumps over the lazy cat now"),  # near 1
            (102, "unrelated corpus document with other words entirely thanks"),
        ],
        "doc_id long, text string",
    )
    out = {(r["new_id"], r["corpus_id"]): r["jaccard"] for r in cross_corpus_near_dups(new, corpus, "doc_id", "text", threshold=0.5).collect()}
    assert out[(1, 100)] == 1.0
    assert (1, 101) in out and out[(1, 101)] < 1.0
    assert all(k[0] in (1, 2) and k[1] >= 100 for k in out)  # cross-side only


def test_hot_shingle_cap_bounds_groups(spark):
    """Stop-shingle cut: a boilerplate phrase shared corpus-wide must not
    produce quadratic pair groups.  With max_df below the hot shingle's df,
    the hot shingle contributes nothing to intersections (pairs overlapping
    ONLY through it disappear), while pairs sharing rare shingles survive
    with their Jaccard computed over exact denominators."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved by the site"
    rows = [(i, f"{boiler} unique{i} text{i} filler{i}") for i in range(40)]
    # one true near-dup pair: identical long tail, so jaccard == 1.0
    rows += [(100, "alpha beta gamma delta epsilon zeta"), (101, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # boiler pairs share 4 of their 7 shingles: jaccard 4/10 = 0.4
    capped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3, max_df=10).collect()
    assert {(r["doc1"], r["doc2"]) for r in capped} == {(100, 101)}
    assert capped[0]["jaccard"] == 1.0

    # exact mode still sees all 40*39/2 boilerplate-driven pairs
    exact = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3, max_df=None).collect()
    assert len(exact) == 40 * 39 // 2 + 1


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """max_bucket: documents identical up to a trailing token land in the
    same band buckets; capping below the bucket size drops those candidate
    pairs entirely (the degenerate-bucket guard), while exact mode finds
    them."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import minhash_lsh_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(i, text) for i in range(12)], "doc_id long, text string")
    exact = minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.8, max_bucket=None).collect()
    assert len(exact) == 12 * 11 // 2
    capped = minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.8, max_bucket=5).collect()
    assert capped == []


def test_arrow_shingler_matches_catalyst(spark):
    """The Arrow shingle kernel must be byte-identical to the Catalyst
    word_ngrams path on whitespace edge cases (tabs/newlines/multi-space,
    leading/trailing ws, short and empty docs, repeated shingles)."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import _shingles

    rows = [
        (1, "a b c d e"),
        (2, "  a\tb\nc   d  "),
        (3, "one two"),          # under n tokens -> no shingles
        (4, ""),
        (5, "x y z x y z x y z"),  # repeated shingles -> distinct
        (6, "a  b   c\t\td \n e"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = {(r["doc_id"], r["shingle"]) for r in _shingles(df, "doc_id", "text", 3, use_arrow=True).collect()}
    catalyst = {(r["doc_id"], r["shingle"]) for r in _shingles(df, "doc_id", "text", 3, use_arrow=False).collect()}
    assert arrow == catalyst
    assert (5, "x y z") in arrow and not any(d == 3 or d == 4 for d, _ in arrow)


def test_embedding_lsh_near_dups_subset_of_exact(spark):
    """d9 semantics: LSH-bucketed pairs are a subset of the exact GEMM
    pairs with identical cosines; identical vectors share every band, so
    they are ALWAYS recalled."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),      # identical to 1
        (3, [0.99, 0.14, 0.0, 0.0]),    # near 1
        (4, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["id1"], r["id2"]): r["cos_sim"] for r in embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.95).collect()}
    lsh = {(r["id1"], r["id2"]): r["cos_sim"] for r in embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding", 0.95, dim=4).collect()}
    assert set(lsh) <= set(exact)
    assert (1, 2) in lsh  # identical vectors always share all bands
    assert all(exact[k] == v for k, v in lsh.items())


def test_decontaminate_flags_eval_overlap(spark):
    """A corpus doc sharing one 5-gram with the eval set is flagged; short
    and non-overlapping docs are not, and every corpus doc is returned."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import decontaminate

    eval_docs = spark.createDataFrame([(100, "a b c d e f")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, "x a b c d e y"),  # contains eval gram 'a b c d e'
            (2, "p q r s t u"),  # no overlap
            (3, "hi there"),  # < 5 tokens -> zero grams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(corpus, eval_docs, "doc_id", "text", n=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["contaminated"] and out[1]["n_eval_hits"] == 1 and out[1]["n_grams"] == 3
    assert not out[2]["contaminated"] and out[2]["n_eval_hits"] == 0
    assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]


def test_duplicated_span_removal_splices_shared_spans(spark):
    """Exact-substring span removal: a 40-char block shared by two docs is
    merged into ONE maximal span (the 11 overlapping 30-char windows
    coalesce) and spliced from BOTH; unique docs and docs whose repetition
    is only WITHIN themselves are untouched."""
    import hashlib

    from youtubeanalyzerproject_big_data__spark.operators.dedup import duplicated_span_removal

    shared = "0123456789abcdefghijklmnopqrstuvwxyz!@#$"  # 40 chars, no spaces
    assert len(shared) == 40
    internal = "z" * 30
    docs = spark.createDataFrame(
        [
            (1, f"head-one {shared} tail-one"),
            (2, f"other-head {shared} other-longer-tail"),
            (3, "completely unique text with no shared windows at all here"),
            (4, f"self {internal} mid {internal} end"),  # within-doc only
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicated_span_removal(docs, "doc_id", "text", span_len=30).collect()}
    assert set(out) == {1, 2}
    # The flanking spaces are shared too (both docs read " <block> "), so
    # the maximal cross-doc span is 42 chars, space to space.
    for doc_id, text in [(1, f"head-one {shared} tail-one"), (2, f"other-head {shared} other-longer-tail")]:
        r = out[doc_id]
        assert r["n_spans"] == 1
        assert r["removed_chars"] == 42
        cleaned = text.replace(f" {shared} ", "")
        assert r["clean_len"] == len(cleaned)
        assert r["clean_md5"] == hashlib.md5(cleaned.encode()).hexdigest()


def test_duplicated_span_removal_arrow_catalyst_equivalence(spark):
    """The hashlib kernel and the interpreted Catalyst HOF must produce
    identical results (same md5s over the same windows)."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import duplicated_span_removal

    docs = spark.createDataFrame(
        [
            (1, "shared prefix block abcdefghij shared tail piece one"),
            (2, "shared prefix block abcdefghij different ending here"),
            (3, "short"),
        ],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, duplicated_span_removal(docs, "doc_id", "text", span_len=20, use_arrow=True).collect()))
    c = sorted(map(tuple, duplicated_span_removal(docs, "doc_id", "text", span_len=20, use_arrow=False).collect()))
    assert a == c and len(a) == 2


def test_update_digest_index_first_seen_stable(spark):
    """Incremental index fold: a batch duplicate of an indexed digest never
    displaces the historic winner (even with a smaller id); unseen digests
    enter with the batch's min id; batch-internal dups collapse first."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import update_digest_index

    import hashlib

    def dig(t):  # real digests so join keys match md5(normalize(text))
        return hashlib.md5(t.encode()).hexdigest()

    index = spark.createDataFrame([(dig("seen before"), 5)], "text_key string, keep_id long")
    batch = spark.createDataFrame(
        [
            (1, "seen before"),  # smaller id than historic winner 5
            (7, "brand new"),
            (6, "brand new"),  # batch-internal dup: 6 wins
        ],
        "doc_id long, text string",
    )
    out = {r["text_key"]: (r["keep_id"], r["status"]) for r in update_digest_index(index, batch, "doc_id", "text").collect()}
    assert out[dig("seen before")] == (5, "kept")
    assert out[dig("brand new")] == (6, "new")
    assert len(out) == 2


def test_update_digest_index_never_shuffles_index(spark):
    """The index side must reach both joins without an Exchange: batch keys
    broadcast into a semi probe, existing keys broadcast into the anti --
    two BroadcastHashJoins, zero SortMergeJoin."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import update_digest_index
    from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan

    index = spark.createDataFrame([(f"k{i}", i) for i in range(100)], "text_key string, keep_id long")
    batch = spark.createDataFrame([(200, "a"), (201, "b")], "doc_id long, text string")
    plan = executed_plan(update_digest_index(index, batch, "doc_id", "text"))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_smallest_id_wins_within_cell(spark):
    """d10 drop rule: within a cell, a doc is dropped iff a smaller-id doc
    is cosine >= threshold; near-identical vectors collapse to the smallest
    id, orthogonal ones survive, and every input id comes back flagged."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators.dedup import semantic_dedup_flags

    rows = [(i, [10.0, eps, 0.0, 0.0]) for i, eps in ((0, 0.0), (1, 0.001), (2, 0.002))]
    rows.append((3, [0.0, 0.0, 10.0, 0.0]))  # orthogonal: shares the cell, never the drop
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["id"]: r for r in semantic_dedup_flags(emb, "vec_id", "embedding", dim=4, k=1, iters=1, threshold=0.99).collect()}
    assert set(out) == {0, 1, 2, 3}  # every input flagged
    assert out[0]["kept"] == 1 and out[1]["kept"] == 0 and out[2]["kept"] == 0  # min id represents
    assert out[3]["kept"] == 1  # orthogonal survives sharing the cell


def test_semantic_dedup_max_cell_skips_degenerate_cells(spark, monkeypatch):
    """An over-cap cell must skip pair generation entirely (all kept) --
    the bounded-work guarantee that makes within-cell pairing safe."""
    from youtubeanalyzerproject_big_data__spark.operators import dedup

    rows = [(i, [10.0, i * 0.0001, 0.0, 0.0]) for i in range(12)]  # one tight cluster of 12
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(dedup, "DEFAULT_MAX_BUCKET", 5)
    capped = dedup.semantic_dedup_flags(emb, "vec_id", "embedding", dim=4, k=1, iters=1, threshold=0.99)
    assert all(r["kept"] == 1 for r in capped.collect())  # cell of 12 > cap 5: no pairs generated
    monkeypatch.setattr(dedup, "DEFAULT_MAX_BUCKET", 12)
    at_cap = dedup.semantic_dedup_flags(emb, "vec_id", "embedding", dim=4, k=1, iters=1, threshold=0.99)
    kept = {r["id"] for r in at_cap.collect() if r["kept"] == 1}
    assert kept == {0}  # a cell of 12 within cap 12 collapses to id 0


def test_segment_dedup_removes_all_copies_and_reconstructs(spark):
    import hashlib

    from youtubeanalyzerproject_big_data__spark.operators.dedup import segment_dedup

    rows = [
        (1, "a b c d e f"),  # seg=2: [a b][c d][e f]
        (2, "a b x y e f"),  # shares [a b] and [e f] with doc 1
        (3, "zz qq"),        # unique single segment
        (4, ""),             # empty doc
        (5, "a b"),          # doc that is ONLY a duplicated segment
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in segment_dedup(df, "doc_id", "text", seg_tokens=2, min_df=2).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (out[1]["n_segments"], out[1]["n_removed"]) == (3, 2)
    assert out[1]["clean_md5"] == md5("c d") and out[1]["clean_n_tokens"] == 2
    assert out[2]["clean_md5"] == md5("x y")
    assert (out[3]["n_removed"], out[3]["clean_md5"]) == (0, md5("zz qq"))
    assert (out[4]["n_segments"], out[4]["clean_md5"]) == (0, md5(""))
    assert (out[5]["n_removed"], out[5]["clean_n_tokens"], out[5]["clean_md5"]) == (1, 0, md5(""))


def test_segment_dedup_partial_tail_segment(spark):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import segment_dedup

    # 5 tokens at seg=3 -> segments [a b c] and [d e] (short tail kept as its own segment)
    rows = [(1, "a b c d e"), (2, "d e")]  # doc2 duplicates doc1's TAIL segment
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in segment_dedup(df, "doc_id", "text", seg_tokens=3, min_df=2).collect()}
    assert out[1]["n_segments"] == 2 and out[1]["n_removed"] == 1 and out[1]["clean_n_tokens"] == 3
    assert out[2]["n_segments"] == 1 and out[2]["n_removed"] == 1 and out[2]["clean_n_tokens"] == 0


def test_containment_catches_excerpt_jaccard_misses(spark):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [(1, quote), (2, quote + " " + filler)]  # doc 1 fully inside doc 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert [(r["contained_id"], r["container_id"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0  # every shingle of 1 is in 2
    # symmetric Jaccard at the same bar sees nothing
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8, max_df=None).count() == 0


def test_edit_distance_pairs_blocking_and_distance(spark):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, base),
        (2, base.replace("dog", "dig")),        # same prefix, distance 1
        (3, "completely different opening words here today"),  # other block
        (4, base[:20] + " totally divergent tail of words"),   # same block, far
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = edit_distance_pairs(df, "doc_id", "text").collect()
    assert [(r["doc1"], r["doc2"], r["edit_distance"]) for r in out] == [(1, 2, 1)]


def test_contamination_report_counts_leaks_per_eval_doc(spark):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import contamination_report

    leak = "one two three four five"
    corpus = spark.createDataFrame(
        [(10, leak + " tail words here today now"), (11, "totally clean corpus document text")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(1, leak + " and six seven"), (2, "unrelated benchmark question here folks")],
        "doc_id long, text string",
    )
    out = {r["eval_id"]: r for r in contamination_report(corpus, evals, "doc_id", "text", n=5).collect()}
    assert out[1]["n_leaked_grams"] >= 1 and out[1]["n_corpus_docs_hit"] == 1
    assert out[2]["n_leaked_grams"] == 0 and out[2]["n_corpus_docs_hit"] == 0
    assert out[1]["n_grams"] == 4  # 8 tokens -> 4 distinct 5-grams


def test_sorted_neighborhood_pairs_cross_block(spark, monkeypatch):
    from youtubeanalyzerproject_big_data__spark.operators import dedup

    # a/b share only a 6-char prefix (separate 16-char d13 blocks) but sort
    # adjacent and have close heads -- SNM must pair them; c is far away in
    # both sort order and distance from a, but adjacent+close to d.
    rows = [
        (1, "apple banana cherry pie recipe with extra sugar and cream on top"),
        (2, "apple banapa cherry pie recipe with extra sugar and cream on top"),
        (3, "zebra crossing guard on duty every weekday morning at the school"),
        (4, "zebra crossing guards on duty every weekday morning at the school"),
        (5, "middle of the alphabet text that is completely unlike the others ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dedup, "SNM_WINDOW", 2)
    got = {
        (r["doc1"], r["doc2"]): r["edit_distance"]
        for r in dedup.sorted_neighborhood_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1  # 'banana'->'banapa', one substitution
    # 'guard'->'guards' insertion shifts the 64-char head cut by one -> distance 2
    assert (3, 4) in got and got[(3, 4)] == 2
    assert all(p in {(1, 2), (3, 4)} for p in got)  # window=2: only adjacent, close pairs


def test_sorted_neighborhood_candidate_count_is_skew_proof(spark, monkeypatch):
    from youtubeanalyzerproject_big_data__spark.operators import dedup

    # 40 docs sharing one 24-char prefix: prefix blocking would generate
    # 40*39/2 = 780 candidates; SNM with window=3 compares each doc with
    # at most 2 neighbors -> <= 2n pairs survive even before the distance cut.
    rows = [(i, f"shared boilerplate opening line number {i:04d} end") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dedup, "SNM_WINDOW", 3)
    monkeypatch.setattr(dedup, "SNM_MAX_DISTANCE", 64)
    out = dedup.sorted_neighborhood_pairs(df, "doc_id", "text").collect()
    assert 0 < len(out) <= 2 * 40


def _shingle_sets(docs, n=3):
    """Per-doc shingle sets via the engine's own shingler -- the pair-stage
    tests below verify _capped_intersections' COMBINATORICS (collapse,
    expansion, swap, df window) against plain Python set arithmetic, with
    tokenization held fixed (covered by test_arrow_shingler_matches_catalyst)."""
    from youtubeanalyzerproject_big_data__spark.operators.dedup import _shingles

    out: dict[int, set[str]] = {}
    for r in _shingles(docs, "doc_id", "text", n).collect():
        out.setdefault(r["doc_id"], set()).add(r["shingle"])
    return out


def _capped(docs, max_df):
    from youtubeanalyzerproject_big_data__spark.operators.dedup import _capped_intersections

    pairs, handles = _capped_intersections(docs, "doc_id", "text", 3, max_df)
    rows = {(r["doc1"], r["doc2"]): (r["n_common"], r["n1"], r["n2"]) for r in pairs.collect()}
    for h in handles:
        h.unpersist()
    return rows


def test_capped_intersections_clone_group_emits_all_self_pairs(spark):
    """Exact-duplicate collapse, self-pair branch: a 3-clone content group
    must emit all C(3,2) doc pairs with n_common == n1 == n2 (jaccard 1.0),
    recovered purely from the multiplicity -- the clones share one collapsed
    content row, so no cross-content candidate ever exists for them."""
    t = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, t), (2, t), (3, t), (9, "completely disjoint vocabulary sentence about storage engines here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = _shingle_sets(docs)
    got = _capped(docs, None)
    n = len(sh[1])
    assert n == 6  # 8 tokens -> 6 trigram shingles
    assert {(1, 2), (1, 3), (2, 3)} == set(got)  # doc 9 shares nothing
    for p in [(1, 2), (1, 3), (2, 3)]:
        assert got[p] == (n, n, n)


def test_capped_intersections_directional_sizes_survive_id_swap(spark):
    """Containment direction: n1 must be doc1's FULL shingle-set size after
    the least/greatest doc-id ordering, in BOTH md5-vs-doc-id orderings.
    Content pairs are expanded from (c1, c2) sorted by md5(text); doc ids
    are assigned at runtime so pair A agrees with the md5 order (no swap)
    and pair B opposes it (swap branch) -- deterministic coverage of both."""
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    long_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    exc_a = "alpha beta gamma delta epsilon"  # 3 shingles, all inside long_a
    long_b = "one two three four five six seven eight nine ten"
    exc_b = "one two three four five"
    # pair A: md5-smaller content gets the SMALLER doc id (expansion order
    # agrees with doc-id order); pair B: md5-smaller content gets the
    # LARGER doc id (the when(d1<=d2) swap must fire).
    a_first, a_second = (long_a, exc_a) if md5(long_a) < md5(exc_a) else (exc_a, long_a)
    b_first, b_second = (long_b, exc_b) if md5(long_b) < md5(exc_b) else (exc_b, long_b)
    rows = [(1, a_first), (2, a_second), (4, b_first), (3, b_second)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = _shingle_sets(docs)
    got = _capped(docs, None)
    assert set(got) == {(1, 2), (3, 4)}
    for d1, d2 in got:
        n_common, n1, n2 = got[(d1, d2)]
        assert n1 == len(sh[d1]) and n2 == len(sh[d2]), (d1, d2)
        assert n_common == len(sh[d1] & sh[d2]) == 3
    # sizes are genuinely asymmetric (excerpt 3 vs long 8), so the n1/n2
    # direction check above is not vacuous in either branch
    for p in got:
        assert sorted(got[p][1:]) == [3, 8]


def test_capped_intersections_df_window_counts_docs_not_contents(spark):
    """The 2 <= df <= max_df stop-shingle window is evaluated on DOC counts
    (sum of clone multiplicities), not distinct-content counts: a shingle in
    2 contents whose clone fan-out totals 4 docs must be dropped at
    max_df=3, removing the cross pair entirely while the clone self-pairs
    keep their remaining shingles (denominators stay FULL set sizes)."""
    x = "red green blue yellow purple orange"  # 4 shingles
    y = "cyan magenta red green blue"  # 3 shingles; shares exactly 'red green blue'
    rows = [(11, x), (12, x), (13, x), (14, y)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = _shingle_sets(docs)
    assert len(sh[11]) == 4 and len(sh[14]) == 3 and len(sh[11] & sh[14]) == 1
    # uncapped: cross pairs exist, carried by the one shared shingle (df=4)
    uncapped = _capped(docs, None)
    assert uncapped[(11, 14)] == (1, 4, 3)
    assert uncapped[(11, 12)] == (4, 4, 4)
    # max_df=3: the shared shingle's DOC df is 3+1=4 > 3 -> dropped; the
    # X-only shingles sit at doc-df 3 (clone multiplicity alone) and survive
    capped = _capped(docs, 3)
    assert set(capped) == {(11, 12), (11, 13), (12, 13)}
    for p in capped:
        # the dropped stop-shingle leaves the intersection (3 of 4) but the
        # denominators stay FULL set sizes -- caps cut n_common, never n1/n2
        assert capped[p] == (3, 4, 4)
