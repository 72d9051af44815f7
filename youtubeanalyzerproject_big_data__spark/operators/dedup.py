"""Deduplication family for large-scale training-data pipelines.

Five detectors over a document corpus, all shuffle-disciplined for 100 TB:

  * exact          -- hash-groupBy on normalized text: one shuffle keyed by
                      a 128-bit digest, never by the text itself (keeps
                      shuffle rows narrow).
  * minhash_lsh    -- shingle -> K minhashes -> B bands -> bucket self-join.
                      Candidate generation is a groupBy on (band, signature)
                      so only same-bucket docs ever meet; verification
                      re-computes exact Jaccard on candidates only.
  * simhash        -- 32-bit simhash, near-dup = small hamming distance,
                      blocked by 4x8-bit chunks (pigeonhole: distance<=3 =>
                      at least one identical chunk), so again no O(n^2).
  * ngram_jaccard  -- exact word-n-gram Jaccard via shingle-inverted-index
                      self-join (the brute-force oracle for the two above).
  * embedding near-dup -- exact cosine over all pairs (baseline; the LSH
                      route for scale lives in similarity.py).

Hashes are md5-derived (functions/hashing.py) so every stage is reproducible
in the DuckDB oracle -- no Spark-specific hash functions in results.
All stages are built-in Catalyst expressions; no Python UDFs.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32, md5_int32_lanes
from youtubeanalyzerproject_big_data__spark.functions.precision import micro_round, ratio_round
from youtubeanalyzerproject_big_data__spark.functions.textfns import normalize, token_count, tokens, word_ngrams
from youtubeanalyzerproject_big_data__spark.session import pin

# Default hot-key caps (shared with the driver oracles, which mirror the
# same cuts so capped results stay hash-exact cross-engine).  A key shared
# by g docs expands to g*(g-1)/2 candidate pairs inside one task, so
# uncapped hot keys are quadratic time bombs at corpus scale.
DEFAULT_MAX_DF = 1000  # docs per shingle before it's treated as a stop-shingle
DEFAULT_MAX_BUCKET = 2000  # docs per LSH band bucket before the bucket is dropped
# sorted_neighborhood_pairs (oracle d14): sort-key prefix chars, compared
# head chars, neighbors window, distance cut, rank-bucket prefix chars.
SNM_KEY_LEN = 24
SNM_COMPARE_LEN = 64
SNM_WINDOW = 4
SNM_MAX_DISTANCE = 10
SNM_BUCKET_CHARS = 2


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (after normalization) documents.

    Returns (keep_id, n_dups, dup_ids_csv): smallest id is kept, the rest
    are the removal set.  Grouping key is md5(normalized) so the shuffle
    carries 32-byte keys, not documents.
    """
    keyed = df.select(F.col(id_col).alias("doc_id"), F.md5(normalize(F.col(text_col))).alias("text_key"))
    return (
        keyed.groupBy("text_key")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.concat_ws(",", F.sort_array(F.collect_list(F.col("doc_id").cast("string")))).alias("dup_ids_csv"),
        )
        .select("keep_id", "n_dups", "dup_ids_csv")
    )


def _shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, use_arrow: bool = True, repartition: bool = True
) -> DataFrame:
    """(doc_id, shingle) exploded distinct word-n-gram shingles.

    Repartitions the input first (default): shingling is the CPU-heavy
    per-document step, and a compact parquet source may arrive in a handful
    of partitions -- without this, one task shingles the whole corpus while
    every other core idles.  The shuffle moves only (id, text), far cheaper
    than the compute it parallelizes.  ``repartition=False`` is for callers
    whose input ALREADY arrives well-spread from a pinned-width exchange
    (the collapsed-content tables in _capped_intersections /
    minhash_lsh_pairs): re-shuffling there moves the corpus text a second
    time for nothing AND destroys the input's hash partitioning, which the
    downstream doc_id-keyed joins/aggregates would otherwise reuse
    exchange-free (r10).

    ``use_arrow`` (default) shingles via an Arrow-batched Pandas UDF
    (functions._arrow_udfs.make_word_ngrams): Spark's higher-order array
    expressions run interpreted (~1.8 ms/doc, the d2/d3 cost center), the
    kernel is ~100x faster with byte-identical output (equivalence is
    property-tested).  False keeps the pure-Catalyst word_ngrams path.
    """
    spark = df.sparkSession
    if use_arrow:
        from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_word_ngrams

        grams = make_word_ngrams(n)(F.col("_text"))
    else:
        grams = word_ngrams(F.col("_text"), n)
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    if repartition:
        base = base.repartition(spark.sparkContext.defaultParallelism)
    return base.select("doc_id", F.explode(grams).alias("shingle"))


def _ordered_pairs(arr):
    """All (x, y) pairs with x before y from a sorted array column, as an
    array of structs (doc1, doc2) -- pure Catalyst, no self-join."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("doc1"), y.alias("doc2")),
            ),
        )
    )


def _pairs_from_groups(keyed: DataFrame, group_cols: list[str], max_group: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Candidate (doc1, doc2) pairs of doc_ids sharing a group key.

    One shuffle (groupBy the key) + in-array pair expansion; groups of one
    emit nothing, so non-shared keys -- the overwhelming majority in a real
    corpus -- cost nothing.  ``max_group`` caps pathological hot keys: a
    group of g docs expands to g*(g-1)/2 in-task pairs, so one hot bucket
    (say a boilerplate band signature shared by 10^6 docs) is a 5*10^11-pair
    task that never finishes.  The default finite cap is the standard
    stop-key cut of web-scale dedup (pairs co-occurring ONLY in dropped
    buckets are missed -- the documented trade-off); pass None for exact
    oracle twins.
    """
    groups = keyed.groupBy(*group_cols).agg(F.sort_array(F.collect_set("doc_id")).alias("ds")).where(F.size("ds") >= 2)
    if max_group is not None:
        groups = groups.where(F.size("ds") <= max_group)
    return groups.select(F.explode(_ordered_pairs(F.col("ds"))).alias("p")).select("p.doc1", "p.doc2").distinct()


def _hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int, repartition: bool = True) -> DataFrame:
    """(doc_id, sh int64): shingles as 64-bit hashes -- narrow shuffle keys;
    the hash choice never reaches results (only counts do)."""
    return _shingles(df, id_col, text_col, n, repartition=repartition).select(
        "doc_id", F.xxhash64("shingle").alias("sh")
    )


def _jaccard_for_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for given candidate pairs from hashed-shingle rows.

    Shingle sets are collected once per doc (distinct by construction), then
    each candidate pair costs one array_intersect -- verification work is
    O(candidates), not O(all overlapping pairs).
    """
    sets = sh.groupBy("doc_id").agg(F.collect_set("sh").alias("hs"))
    # shuffle_hash on the per-doc side: the static planner's size estimate
    # for a deep post-explode aggregate is garbage, and at sf10 it chose to
    # BROADCAST the candidate-pair side (~1e9 rows) -- the driver-side
    # broadcast collect blew spark.driver.maxResultSize (round-8 catch, d2's
    # twin shape).  Pinning SHJ with the build on the doc-keyed side never
    # ships anything to the driver, sorts nothing, and stays valid at any
    # scale (build bytes per partition shrink as partitions grow).
    return (
        pairs.join(sets.select(F.col("doc_id").alias("doc1"), F.col("hs").alias("h1")).hint("shuffle_hash"), "doc1")
        .join(sets.select(F.col("doc_id").alias("doc2"), F.col("hs").alias("h2")).hint("shuffle_hash"), "doc2")
        .withColumn("n_common", F.size(F.array_intersect("h1", "h2")))
        .withColumn(
            "jaccard",
            # exact-integer half-up: ROUND on the double quotient splits one
            # output ulp between engines on 7th-digit-half ratios like
            # 41/640 (precision.ratio_round docstring; VERDICT r9 item 3)
            ratio_round(F.col("n_common"), F.size("h1") + F.size("h2") - F.col("n_common")),
        )
        .select("doc1", "doc2", "jaccard")
    )


def _repartitioned_cids(keyed: DataFrame) -> DataFrame:
    """Distinct-content table (cid, m, _text) from (doc_id, _text) rows,
    built over ONE cid-keyed exchange at pinned defaultParallelism width.

    The explicit repartition (not a bare groupBy) is deliberate, twice
    over: the groupBy's own exchange would satisfy the same distribution
    but AQE would coalesce a small corpus to one task -- and the per-doc
    CPU-heavy shingling that consumes this table needs the spread (the
    _shingles contract) -- while a round-robin repartition AFTER the
    groupBy would move the text a second time and destroy the cid hash
    partitioning that the downstream doc_id-keyed joins/aggregates reuse
    exchange-free."""
    spark = keyed.sparkSession
    return (
        keyed.select(F.unhex(F.md5("_text")).alias("cid"), "_text")
        .repartition(spark.sparkContext.defaultParallelism, "cid")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("m"), F.max("_text").alias("_text"))
    )


def _capped_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
    pair_filter=None,
) -> tuple[DataFrame, list[DataFrame]]:
    """(doc1 < doc2, n_common, n1, n2) for every pair sharing >= 1 surviving
    shingle under the ``max_df`` stop-shingle cut -- the shared pair stage of
    ngram_jaccard_pairs (d2) and containment_pairs (d12).

    EXACT-DUPLICATE COLLAPSE FIRST: byte-identical documents have identical
    shingle sets, so every shingle/intersection quantity is a function of the
    distinct CONTENT only.  The corpus is collapsed to one representative per
    md5(text) (the d1 grouping precedent; the digest never reaches results),
    the inverted index runs over distinct contents with the doc-level
    document frequency recovered as sum(multiplicity), and qualifying
    content pairs are expanded back to doc pairs through the member lists at
    the very end.  On a duplicate-heavy corpus this removes the dominant
    cost wholesale: the round-8 sf10 replay (every doc a ~100-clone) died at
    >75 GB of pair-stage shuffle because Sum_sh C(df,2) ~ 5e9 intermediate
    rows carried 100x100 clone fan-out that the collapsed index never
    materializes -- post-collapse the expansion emits only the final result
    rows.  Real web corpora are 20-50% exact clones, so this is the 100 TB
    shape, not a fixture special-case; a clone-free corpus pays one extra
    digest groupBy (narrow 128-bit keys).

    Semantics are unchanged (the driver oracles, which compute on the
    uncollapsed table, stay hash-exact):

      * doc-level df(sh) = sum of clone-group sizes over contents with sh,
        so the 2 <= df <= max_df window is evaluated on DOC counts;
      * cross-content candidates come from in-group pair expansion exactly
        as before (content lists are <= df long, so groups stay bounded);
      * same-content doc pairs share every surviving shingle of the content,
        so each surviving shingle of a content with multiplicity >= 2 emits
        one (c, c) self-candidate -- the groupBy(c1, c2).count() multiplicity
        argument then yields their intersection too;
      * n1/n2 are FULL shingle-set sizes (denominators exact under the cap,
        as before), directional: n1 belongs to doc1 after the doc-id
        ordering swap, which containment (asymmetric) relies on.

    Returns the pair DataFrame plus the handles persisted while building it
    (the caller's ``session.pin`` releases them).
    """
    keyed = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    # cid as 16-byte BINARY, not the 32-char hex string: the content key
    # rides every pair-stage shuffle (index rows, bucket lists, candidate
    # pairs, member expansion), so hex doubles the dominant shuffle bytes
    # corpus-wide.  Equality/grouping semantics are identical and the
    # digest never reaches results (minhash_lsh_pairs shares the scheme).
    members = keyed.select(F.unhex(F.md5("_text")).alias("cid"), "doc_id")
    # One row per distinct content: multiplicity + a representative text
    # (identical within the group, so max() is deterministic).  The text
    # crosses the wire EXACTLY ONCE, via an explicit cid-keyed repartition
    # at pinned width: hashpartitioning(cid) satisfies the groupBy(cid)
    # requirement (partition-local agg, no second exchange), AQE cannot
    # coalesce the pinned width down to one task (per-doc shingling below
    # is the CPU-heavy step that needs the spread), and the partitioning is
    # INHERITED by the shingle table, so the downstream doc_id-keyed
    # aggregates/joins (sizes, the df-attach join) run exchange-free --
    # the old shape paid groupBy-exchange + a partition-count repartition
    # (two corpus-text shuffles) and then re-shuffled the shingles (r10).
    cids = _repartitioned_cids(keyed)
    # MEMORY_ONLY, not cache(): the shingle table is ~100x the content
    # table; MEMORY_AND_DISK's spill wrote ~25 GB at the sf10 replay and
    # starved the same disk the shuffle needs. Evicted partitions recompute
    # (CPU) instead of spilling (disk) -- the right trade on shuffle-bound
    # scratch at every scale.
    sh = _hashed_shingles(cids, "cid", "_text", n, repartition=False).persist(StorageLevel.MEMORY_ONLY)
    # Per-content info rows (multiplicity + full set size) attach to the
    # shingle rows BEFORE the index groupBy, so both ride INSIDE the index
    # structs and the pair stream leaves the explosion already carrying its
    # Jaccard denominators.  The former shape attached sizes to the pair
    # table AFTERWARDS through two shuffle_hash joins -- i.e. the dominant
    # pair-occurrence table (sum_sh C(df,2) rows, ~5e9 at sf10) crossed
    # THREE exchanges (count groupBy + join by c1 + join by c2); this one
    # crosses exactly ONE (r10).  All three attach joins here are
    # exchange-free: sizes is a partition-local aggregate of sh, and sh /
    # cids / sizes all inherit the cid hash partitioning from
    # _repartitioned_cids' single pinned exchange.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    info = sizes.join(cids.select(F.col("cid").alias("doc_id"), "m").hint("shuffle_hash"), "doc_id")
    groups = (
        sh.join(info.hint("shuffle_hash"), "doc_id")
        .groupBy("sh")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("doc_id").alias("c"), F.col("m").alias("m"), F.col("n_sh").alias("n"))
                )
            ).alias("cs"),
            F.sum("m").alias("dfd"),
        )
        .where(F.col("dfd") >= 2)
    )
    if max_df is not None:
        groups = groups.where(F.col("dfd") <= max_df)
    # structs sort by c first (n is functionally dependent on c), so the
    # in-array pair expansion keeps the canonical c1 < c2 orientation with
    # each side's denominator riding along.  Cross pairs and same-content
    # self pairs (m >= 2) concatenate into ONE exploded array, so the
    # index subtree is built once -- the former cross/selfs union planned
    # the whole groupBy(sh) aggregation TWICE, one copy per branch.
    cn = F.transform("cs", lambda x: F.struct(x["c"].alias("c"), x["n"].alias("n")))
    self_structs = F.transform(
        F.filter("cs", lambda x: x["m"] >= 2),
        lambda s: F.struct(
            F.struct(s["c"].alias("c"), s["n"].alias("n")).alias("doc1"),
            F.struct(s["c"].alias("c"), s["n"].alias("n")).alias("doc2"),
        ),
    )
    expanded = (
        groups.select(F.explode(F.concat(_ordered_pairs(cn), self_structs)).alias("p"))
        .select(
            F.col("p.doc1.c").alias("c1"),
            F.col("p.doc2.c").alias("c2"),
            F.col("p.doc1.n").alias("n1"),
            F.col("p.doc2.n").alias("n2"),
        )
    )
    pairs_c = expanded.groupBy("c1", "c2", "n1", "n2").agg(F.count(F.lit(1)).alias("n_common"))
    if pair_filter is not None:
        # Pair-level threshold gate BEFORE member expansion: the member
        # joins then carry only qualifying (result-bound) pairs instead of
        # every intersecting pair -- Catalyst cannot push the callers'
        # doc-level filters down itself because the cross branch re-derives
        # n1/n2 through the doc-id swap CASE, which references both join
        # sides.  Callers pass a predicate over (n_common, n1, n2) that is
        # EXACTLY the union of their per-direction doc-level filters.
        pairs_c = pairs_c.where(pair_filter(F.col("n_common"), F.col("n1"), F.col("n2")))
    pairs_c = pairs_c.persist(StorageLevel.MEMORY_ONLY)  # branched into cross/self expansion below
    mem1 = members.select(F.col("cid").alias("c1"), F.col("doc_id").alias("d1"))
    mem2 = members.select(F.col("cid").alias("c2"), F.col("doc_id").alias("d2"))
    cross_docs = (
        pairs_c.where(F.col("c1") != F.col("c2"))
        .join(mem1.hint("shuffle_hash"), "c1")
        .join(mem2.hint("shuffle_hash"), "c2")
        .select(
            F.least("d1", "d2").alias("doc1"),
            F.greatest("d1", "d2").alias("doc2"),
            "n_common",
            # keep sizes attached to the doc-id-ordered pair (containment is
            # directional, so n1 must stay doc1's full set size)
            F.when(F.col("d1") <= F.col("d2"), F.col("n1")).otherwise(F.col("n2")).alias("n1"),
            F.when(F.col("d1") <= F.col("d2"), F.col("n2")).otherwise(F.col("n1")).alias("n2"),
        )
    )
    self_docs = (
        pairs_c.where(F.col("c1") == F.col("c2"))
        .join(mem1.hint("shuffle_hash"), "c1")
        .join(mem2.withColumnRenamed("c2", "c1").hint("shuffle_hash"), "c1")
        .where(F.col("d1") < F.col("d2"))
        .select(F.col("d1").alias("doc1"), F.col("d2").alias("doc2"), "n_common", "n1", "n2")
    )
    return cross_docs.unionByName(self_docs), [sh, pairs_c]


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs (doc1 < doc2, jaccard >= t).

    Inverted-index semantics without the classic self-join: co-occurring
    pairs come from one groupBy(shingle_hash) + in-array pair expansion, and
    because shingles are distinct per doc, the MULTIPLICITY of each emitted
    pair is exactly |A intersect B| -- so one groupBy(doc1, doc2).count()
    yields the intersection and |A u B| = n1 + n2 - inter closes the
    Jaccard.  Shingles that appear in a single doc emit nothing, so the
    non-shared majority of the index costs nothing.  The index runs over
    DISTINCT CONTENTS with doc pairs recovered at the end -- see
    _capped_intersections for the exact-duplicate collapse.

    ``max_df`` (default finite) is the standard stop-shingle frequency cut:
    a shingle shared by d docs expands to d*(d-1)/2 pairs in one group, so
    one boilerplate phrase at corpus scale is a quadratic task.  Capped
    groups drop ONLY that shingle's contribution to intersections (Jaccard
    denominators stay exact), so pairs whose overlap is carried entirely by
    stop-shingles are missed -- the documented trade-off; the driver oracle
    mirrors the same cut, and None restores the exact path.
    """
    # Jaccard is symmetric in (n1, n2), so the threshold gate evaluates
    # EXACTLY at content-pair level and runs pre-expansion: the member
    # joins see only qualifying pairs (r10).
    pairs, handles = _capped_intersections(
        df,
        id_col,
        text_col,
        n,
        max_df,
        pair_filter=lambda c, n1, n2: ratio_round(c, n1 + n2 - c) >= threshold,
    )
    result = (
        pairs.withColumn("jaccard", ratio_round(F.col("n_common"), F.col("n1") + F.col("n2") - F.col("n_common")))
        .where(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )
    # Pin the (threshold-bounded) pairs, then release the big cached
    # shingle tables -- a long-lived session must not accumulate corpus x
    # shingle rows of executor storage.
    return pin(result, *handles)


def _minhash_sigs_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    cols = []
    for s in range((num_hashes + 3) // 4):
        lanes = md5_int32_lanes(F.col("shingle"), seed=s, lanes=min(4, num_hashes - 4 * s))
        cols.extend(lane.alias(f"h{4 * s + j}") for j, lane in enumerate(lanes))
    hashed = sh.select("doc_id", *cols)
    aggs = [F.min(f"h{j}").alias(f"h{j}") for j in range(num_hashes)]
    sigs = hashed.groupBy("doc_id").agg(*aggs)
    return sigs.select("doc_id", F.array(*[f"h{j}" for j in range(num_hashes)]).alias("minhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    Banding: num_hashes/bands rows per band; docs sharing any full band
    signature become candidates (groupBy on the band key -- candidates meet
    in a bucket, never an O(n^2) cross join).  Candidates are then verified
    with exact n-gram Jaccard >= threshold -- computed per-candidate from
    hashed shingle sets (array_intersect), NOT by materializing all
    overlapping pairs.  ``max_bucket`` drops degenerate band buckets (a
    boilerplate signature shared corpus-wide would expand quadratically in
    one task); verification sets stay exact.  Returns (doc1, doc2, jaccard).

    EXACT-DUPLICATE COLLAPSE FIRST (the _capped_intersections design,
    round-10 catch): byte-identical documents have identical shingle sets,
    identical minhash signatures, and identical band buckets, so the WHOLE
    pipeline -- shingling, signatures, banding, verification -- runs over
    DISTINCT CONTENTS, with doc pairs recovered through the member lists
    only at the very end.  The former doc-granularity form shipped each
    doc's full shingle-hash set onto every candidate DOC pair: on the
    300-clone sf30 fixture that is ~246M pairs x two ~300-element arrays
    (~1 TB of verification shuffle) and the disk watchdog killed it twice;
    post-collapse the verification join touches ~C(contents, 2) candidate
    pairs and the expansion emits only final result rows.  Clone-heavy is
    the web-corpus norm, so this is the 100 TB shape, not a fixture
    special case.

    Semantics are UNCHANGED (the driver oracle computes on the uncollapsed
    table and stays hash-exact):

      * bucket survival is decided on DOC counts: the (band, sig) group's
        doc population = sum of member multiplicities over its contents,
        and the 2 <= nd <= max_bucket window is evaluated on that sum --
        exactly the old _pairs_from_groups cut;
      * same-content doc pairs (jaccard exactly 1.0) arise whenever a
        content with multiplicity >= 2 sits in a surviving bucket, just as
        the clone docs co-occurred in their shared bucket before;
      * shingle-less contents (< n tokens) never enter band_rows, so they
        produce no pairs -- as before.
    """
    rows_per_band = num_hashes // bands
    keyed = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    members = keyed.select(F.unhex(F.md5("_text")).alias("cid"), "doc_id")
    # One cid-keyed text exchange feeding shingling at pinned width, with
    # the hash partitioning inherited downstream -- see _repartitioned_cids.
    cids = _repartitioned_cids(keyed)
    # Shingle once per CONTENT (CPU-heavy), reuse for signatures and the
    # exact-verification sets.  MEMORY_ONLY: recompute over spill, same
    # rationale as _capped_intersections.
    sh_rows = _shingles(cids, "cid", "_text", n, repartition=False).persist(StorageLevel.MEMORY_ONLY)
    sigs = _minhash_sigs_from_shingles(sh_rows, num_hashes)

    band_rows = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.element_at("minhash", b * rows_per_band + r + 1).cast("string") for r in range(rows_per_band)]
                        ).alias("sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")

    # bucket membership at content granularity, bucket CAP on doc counts
    groups = (
        band_rows.join(cids.select(F.col("cid").alias("doc_id"), "m").hint("shuffle_hash"), "doc_id")
        .groupBy("band", "sig")
        .agg(
            F.sort_array(F.collect_list(F.struct(F.col("doc_id").alias("c"), F.col("m").alias("m")))).alias("cs"),
            F.sum("m").alias("nd"),
        )
        .where(F.col("nd") >= 2)
    )
    if max_bucket is not None:
        groups = groups.where(F.col("nd") <= max_bucket)
    # Cross pairs and same-content self candidates (m >= 2, emitted as
    # c1 == c2 rows) concatenate into ONE exploded array so the band-bucket
    # aggregation subtree is planned/built once -- the former two-branch
    # form planned the whole groupBy(band, sig) twice (the d2 r10 lesson).
    carr = F.transform(F.col("cs"), lambda s: s["c"])
    self_pairs = F.transform(
        F.filter(F.col("cs"), lambda s: s["m"] >= F.lit(2)),
        lambda s: F.struct(s["c"].alias("doc1"), s["c"].alias("doc2")),
    )
    cand = (
        groups.select(F.explode(F.concat(_ordered_pairs(carr), self_pairs)).alias("p"))
        .select(F.col("p.doc1").alias("c1"), F.col("p.doc2").alias("c2"))
        .distinct()
    )
    cross_cand = cand.where(F.col("c1") != F.col("c2"))
    self_cand = cand.where(F.col("c1") == F.col("c2")).select("c1")

    sh = sh_rows.select("doc_id", F.xxhash64("shingle").alias("sh"))
    vc = (
        _jaccard_for_pairs(cross_cand.select(F.col("c1").alias("doc1"), F.col("c2").alias("doc2")), sh)
        .where(F.col("jaccard") >= threshold)
        .select(F.col("doc1").alias("c1"), F.col("doc2").alias("c2"), "jaccard")
    )
    mem1 = members.select(F.col("cid").alias("c1"), F.col("doc_id").alias("d1"))
    mem2 = members.select(F.col("cid").alias("c2"), F.col("doc_id").alias("d2"))
    # member expansion pinned shuffle_hash (the d2 r8 lesson: static stats
    # undercount post-explode aggregates so badly the planner broadcast a
    # pair table at sf10)
    cross_docs = (
        vc.join(mem1.hint("shuffle_hash"), "c1")
        .join(mem2.hint("shuffle_hash"), "c2")
        .select(F.least("d1", "d2").alias("doc1"), F.greatest("d1", "d2").alias("doc2"), "jaccard")
    )
    self_docs = (
        self_cand.where(F.lit(1.0) >= F.lit(threshold))
        .join(mem1.hint("shuffle_hash"), "c1")
        .join(mem2.withColumnRenamed("c2", "c1").hint("shuffle_hash"), "c1")
        .where(F.col("d1") < F.col("d2"))
        .select(F.col("d1").alias("doc1"), F.col("d2").alias("doc2"), F.lit(1.0).alias("jaccard"))
    )
    # Pin the verified pairs, release the cached shingles (see
    # ngram_jaccard_pairs for the storage-hygiene rationale).
    return pin(cross_docs.unionByName(self_docs), sh_rows)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(doc_id, simhash long): sign-aggregated token hashes.

    bit_b(simhash) = 1 iff sum over distinct tokens of
    (+1 if bit_b(md5_int32(token)) else -1) > 0.
    One token explode, then a SINGLE groupBy(doc_id) carrying ``bits``
    conditional-sum aggregates -- no (token x bit) row blow-up; the vote
    matrix lives in agg buffers, map-side combined, one narrow shuffle.

    ``bits`` > 32 (up to 60) draws token bits from TWO md5 lanes of one
    digest ((lane0 & 2^(bits-32)-1) * 2^32 + lane1 -- always positive, so
    shifts are sign-safe in both engines).  Width is the pigeonhole
    blocker's scale knob: simhash_pairs blocks on bits/(h+1)-bit chunks,
    and candidate volume is ~n^2 * (h+1) / 2^chunk_bits, so the chunk
    space must scale with the corpus (32-bit sigs = 8-bit chunks = 256
    buckets went quadratic at 500k docs -- the sf1 OOM that motivated
    this; 60-bit sigs carry ~10^6 docs, 100 TB wants 128-bit/32-bit
    chunks).
    """
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        # Same rationale as _shingles: parallelize per-doc compute even when
        # the source parquet arrives in one partition.
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.array_distinct(F.split(F.lower(F.trim(F.col("_text"))), r"\s+"))).alias("token"))
        .where(F.col("token") != "")
    )
    if bits <= 32:
        th = md5_int32(F.col("token"), seed="simhash")
    else:
        if bits > 60:
            raise ValueError("simhash bits > 60 needs a wider-than-int64 signature")
        lanes = md5_int32_lanes(F.col("token"), seed="simhash", lanes=2)
        th = (lanes[0].bitwiseAND(F.lit((1 << (bits - 32)) - 1)) * F.lit(1 << 32) + lanes[1]).cast("long")
    hashed = toks.select("doc_id", th.alias("th"))
    votes = [
        F.sum(F.when(F.shiftright("th", b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))).alias(f"v{b}")
        for b in range(bits)
    ]
    sig = sum(
        (F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long")) for b in range(bits)),
        start=F.lit(0).cast("long"),
    )
    return hashed.groupBy("doc_id").agg(*votes).select("doc_id", sig.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Pigeonhole blocking: split the signature into (max_hamming+1) chunks;
    any pair within distance max_hamming shares at least one exact chunk, so
    candidates come from groupBy on (chunk_idx, chunk_value) -- no O(n^2).
    Returns (doc1, doc2, hamming).

    Scale: size ``bits`` so the per-chunk value space exceeds the corpus
    (see simhash_signatures -- candidate volume is quadratic in bucket
    occupancy), with ``max_bucket`` as the degenerate-bucket backstop
    (drop semantics, the d3/_pairs_from_groups convention, mirrored in
    the oracle).
    """
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    sigs = simhash_signatures(df, id_col, text_col, bits)

    mask = (1 << chunk_bits) - 1
    blocked = sigs.select(
        F.struct("doc_id", "simhash").alias("ds_elem"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * chunk_bits).bitwiseAND(F.lit(mask)).alias("cval"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("ck.chunk", "ck.cval", "ds_elem")

    # Same one-shuffle bucket pair generation as the shingle path: structs
    # sort by doc_id first, so doc1 < doc2 holds inside every pair.
    groups = (
        blocked.groupBy("chunk", "cval").agg(F.sort_array(F.collect_set("ds_elem")).alias("ds")).where(F.size("ds") >= 2)
    )
    if max_bucket is not None:
        groups = groups.where(F.size("ds") <= max_bucket)
    xor = F.col("s1").bitwiseXOR(F.col("s2"))
    return (
        groups.select(F.explode(_ordered_pairs(F.col("ds"))).alias("p"))
        .select(
            F.col("p.doc1.doc_id").alias("doc1"),
            F.col("p.doc1.simhash").alias("s1"),
            F.col("p.doc2.doc_id").alias("doc2"),
            F.col("p.doc2.simhash").alias("s2"),
        )
        # Filter BEFORE dedup: the hamming check is a map-side expression,
        # so rejecting far pairs here shrinks the distinct's shuffle to
        # only the (much rarer) true near-dups.
        .withColumn("hamming", F.bit_count(xor).cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
        .distinct()
    )


def embedding_near_dup_pairs(emb: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs (id1 < id2, cosine >= threshold).

    Exact all-pairs via BLOCK matrix product: rows hash into num_blocks = 4
    blocks; every unordered block pair (g1 <= g2) becomes one applyInPandas
    group whose task runs a single float64 GEMM over the two blocks.  Each
    row is replicated num_blocks times (the standard all-pairs-similarity
    replication cost), the O(n^2) flops run inside BLAS, and no O(n^2) rows
    ever materialize -- only pairs above threshold leave the task.  At
    cluster scale, size num_blocks so a block pair (2 * n/num_blocks
    vectors) fits one task's memory; the LSH-bucketed route in similarity.py
    remains the sub-quadratic path.
    """
    import numpy as np
    import pandas as pd

    num_blocks = 4
    id_type = dict(emb.dtypes)[id_col]
    blocked = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(num_blocks)).cast("int").alias("blk"),
    )
    replicated = blocked.select(
        "id",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1))).alias("partner"),
    ).select("id", "v", "blk", F.least("blk", "partner").alias("g1"), F.greatest("blk", "partner").alias("g2"))

    def score_block(key, pdf):
        g1, g2 = key
        a = pdf[pdf["blk"] == g1]
        b = a if g1 == g2 else pdf[pdf["blk"] == g2]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id1": [], "id2": [], "cos_sim": []})
        ma = np.stack(a["v"].to_numpy()).astype(np.float64)
        mb = ma if g1 == g2 else np.stack(b["v"].to_numpy()).astype(np.float64)
        sims = (ma @ mb.T) / np.outer(np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1))
        ii, jj = np.nonzero(sims >= threshold)
        ida, idb = a["id"].to_numpy()[ii], b["id"].to_numpy()[jj]
        if g1 == g2:
            # within-block: the matrix holds both (i,j) and (j,i) + diagonal
            keep = ida < idb
            id1, id2 = ida[keep], idb[keep]
            cos = sims[ii[keep], jj[keep]]
        else:
            # cross-block: each unordered pair appears once; orient by id
            id1, id2 = np.minimum(ida, idb), np.maximum(ida, idb)
            cos = sims[ii, jj]
        return pd.DataFrame({"id1": id1, "id2": id2, "cos_sim": cos})

    pairs = replicated.groupBy("g1", "g2").applyInPandas(score_block, f"id1 {id_type}, id2 {id_type}, cos_sim double")
    # micro_round, not ROUND: cross-engine-identical IEEE quantization of a
    # double-valued cosine (precision.micro_round docstring)
    return pairs.select("id1", "id2", micro_round("cos_sim", "cos_sim"))


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH bucketing -- the
    SUB-QUADRATIC scale path (embedding_near_dup_pairs is the exact
    block-GEMM baseline whose flops grow O(n^2) even though its rows don't).

    Candidates are id pairs sharing any band of their md5-derived
    hyperplane signature (similarity._hyperplane_signature -- deterministic,
    oracle-replayable); only candidates are cosine-verified, so total work
    is O(n * bucket_occupancy), and DEFAULT_MAX_BUCKET caps degenerate
    buckets exactly like the MinHash banding path.  Recall follows the LSH
    collision curve: pairs above threshold missing from every shared band
    are missed (the trade for sub-quadratic candidates).
    Returns (id1, id2, cos_sim) with id1 < id2.
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq
    from youtubeanalyzerproject_big_data__spark.operators.similarity import _hyperplane_signature, _lsh_bands

    sigd = emb.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v")).withColumn(
        "sig", _hyperplane_signature("v", dim)
    )
    banded = sigd.select("doc_id", F.explode(_lsh_bands(F.col("sig"))).alias("bk")).select("doc_id", "bk.band", "bk.bval")
    candidates = _pairs_from_groups(banded, ["band", "bval"], max_group=DEFAULT_MAX_BUCKET)
    vecs = sigd.select("doc_id", "v")
    return (
        candidates.join(vecs.select(F.col("doc_id").alias("doc1"), F.col("v").alias("v1")), "doc1")
        .join(vecs.select(F.col("doc_id").alias("doc2"), F.col("v").alias("v2")), "doc2")
        .withColumn("cos_sim", make_cosine_seq()(F.col("v1"), F.col("v2")))
        .where(F.col("cos_sim") >= threshold)
        .select(F.col("doc1").alias("id1"), F.col("doc2").alias("id2"), micro_round("cos_sim", "cos_sim"))
    )


def semantic_dedup_flags(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    k-means partitions the embedding space, then near-duplicates are pruned
    WITHIN cells only -- the quadratic pair work is bounded per cell, which
    is the whole trick (at corpus scale k grows with n, so cell occupancy
    n/k stays bounded and total flops are O(n * cell_size), not O(n^2)).

    Cells are EXACTLY km1's (clustering.kmeans_assign_final shares seed
    selection and the full Lloyd trajectory, bit-for-bit).  Within a cell,
    candidate pairs come from one self-join keyed on the cell id (narrow
    int key; AQE splits a skewed cell's join), scored with the exact-
    sequential cosine kernel, and a doc is DROPPED iff some smaller-id doc
    in its cell is cosine->= ``threshold`` (deterministic representative:
    smallest id wins, the d1/c1 convention).  DEFAULT_MAX_BUCKET caps
    degenerate cells like the LSH buckets: an over-cap cell skips pair
    generation entirely (all its docs kept) rather than running an
    unbounded quadratic task -- mirrored in the oracle.

    Returns (id, cell, kept) for EVERY input vector (kept in {0,1}).
    """
    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_cosine_seq
    from youtubeanalyzerproject_big_data__spark.operators.clustering import kmeans_assign_final

    assigned = kmeans_assign_final(emb, id_col, vec_col, dim, k=k, iters=iters)
    # Pin the assignment once: the self-join reads it twice and the final
    # left join a third time; recomputing would re-run the Lloyd trajectory.
    assigned = pin(assigned)
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    capped = sizes.where(F.col("_n") <= DEFAULT_MAX_BUCKET).select("cell")
    members = assigned.select("cell", "id", "v").join(F.broadcast(capped), "cell")
    pairs = (
        members.alias("a")
        .join(members.alias("b"), (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.v").alias("v1"), F.col("b.v").alias("v2"), F.col("b.id").alias("id2"))
    )
    dropped = (
        pairs.withColumn("cos_sim", make_cosine_seq()(F.col("v1"), F.col("v2")))
        .where(F.col("cos_sim") >= threshold)
        .select(F.col("id2").alias("id"))
        .distinct()
    )
    return assigned.join(dropped.withColumn("_drop", F.lit(1)), "id", "left").select(
        "id",
        "cell",
        F.when(F.col("_drop").isNull(), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("kept"),
    )


def cross_corpus_near_dups(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dups of an INCOMING batch against an EXISTING corpus -- the
    incremental-ingestion contamination/dedup filter (drop new documents
    that duplicate what the training set already holds).

    Inverted-index join across sides only: new-side shingles meet
    corpus-side shingles on the hash, so within-side pairs are never
    generated, and the shuffle keys are 8-byte hashes.  With shingles
    distinct per doc, pair multiplicity equals the intersection size.
    DEFAULT_MAX_DF is the stop-shingle cut over the COMBINED corpus (both
    sides): a boilerplate shingle on both sides explodes the cross join
    quadratically; denominators stay exact, same trade-off as
    ngram_jaccard_pairs.  Returns (new_id, corpus_id, jaccard).
    """
    sh_new = _hashed_shingles(new_docs, id_col, text_col, n).cache()
    sh_old = _hashed_shingles(corpus_docs, id_col, text_col, n).cache()
    n_new = sh_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n1"))
    n_old = sh_old.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n2"))
    ok = (
        sh_new.select("sh")
        .unionAll(sh_old.select("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("dfc"))
        .where(F.col("dfc") <= DEFAULT_MAX_DF)
        .select("sh")
    )
    sh_new_j = sh_new.select(F.col("doc_id").alias("new_id"), "sh").join(ok, "sh", "left_semi")
    sh_old_j = sh_old.select(F.col("doc_id").alias("corpus_id"), "sh").join(ok, "sh", "left_semi")
    inter = (
        sh_new_j.join(sh_old_j, "sh")
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    result = (
        inter.join(n_new.select(F.col("doc_id").alias("new_id"), "n1"), "new_id")
        .join(n_old.select(F.col("doc_id").alias("corpus_id"), "n2"), "corpus_id")
        .withColumn("jaccard", ratio_round(F.col("n_common"), F.col("n1") + F.col("n2") - F.col("n_common")))
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )
    # Pin pairs, release both cached shingle sides (storage hygiene).
    return pin(result, sh_new, sh_old)


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with a held-out evaluation set (the step that keeps test-set text
    out of training data; real pipelines use 8-13-gram overlap, the same
    shape at any n).

    Scale design: the EVAL side is benchmark-sized (thousands of documents),
    so its distinct gram-hash set broadcasts and the corpus side is scored
    map-side -- the 100 TB corpus never shuffles on text, only its (doc,
    gram-hash) rows flow through two hash aggregates with map-side combine.
    Gram hashes are 8-byte xxhash64 (never surfaced in results; only match
    COUNTS are, so the hash choice is invisible modulo 64-bit collisions).

    Returns every corpus document: (doc_id, n_grams, n_eval_hits,
    contaminated).  Documents shorter than ``n`` tokens have zero grams and
    are never flagged.
    """
    ev = _hashed_shingles(eval_docs, id_col, text_col, n).select("sh").distinct()
    sh = _hashed_shingles(corpus, id_col, text_col, n)
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    hits = sh.join(F.broadcast(ev), "sh").groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_eval_hits"))
    return (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_eval_hits", F.lit(0)).cast("long").alias("n_eval_hits"),
            (F.coalesce("n_eval_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def duplicated_span_removal(
    df: DataFrame, id_col: str, text_col: str, span_len: int = 30, use_arrow: bool = True
) -> DataFrame:
    """Exact-substring (span-level) dedup: find every ``span_len``-char
    window of normalized text that also occurs in ANOTHER document, merge
    overlapping/adjacent hits into maximal spans per document, and splice
    them out -- the span-removal family of corpus dedup (every copy of a
    cross-document duplicated substring is removed from every document),
    the finer-grained complement to whole-doc (d1) and near-dup (d2-d5)
    routes: it catches shared boilerplate INSIDE otherwise-unique docs.

    Plan (all Catalyst, no Python):
      1. one map-side pass hashes all stride-1 windows (doc_id, pos,
         md5(window)) -- the substring itself never shuffles;
      2. hash -> distinct-doc frequency, keep hashes in >= 2 docs (one
         hash-keyed aggregate), join back to window occurrences (AQE
         broadcasts the dup set when small);
      3. islands merge per doc (window over doc_id, per-doc data bounded
         by doc length);
      4. splice via one sorted-spans fold (F.aggregate accumulator
         carries (kept_text, last_end)) -- group-sized, no reducer ever
         holds more than one document.

    Scale notes: the window table is ~|corpus chars| rows of
    (id, pos, 32-hex) -- a constant-factor blowup, linear like the
    suffix-array approach but shuffle-heavier; at extreme scale cut
    shuffle width with stride>1 candidate windows + local re-scan, the
    standard approximation.  Windows hash per doc cost O(len * span_len)
    via interpreted HOF; the repartition-first rule applies (see
    _shingles).

    Output, only for affected docs: (doc_id, n_spans, removed_chars,
    clean_len, clean_md5).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    norm = (
        df.select(F.col(id_col).alias("doc_id"), normalize(F.col(text_col)).alias("t"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    if use_arrow:
        # Same hashes via hashlib's C md5 (see make_char_window_hashes);
        # the interpreted-HOF twin below is the readable spec.
        from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_char_window_hashes

        hashes = make_char_window_hashes(span_len)(F.col("t"))
    else:
        idx = F.sequence(F.lit(1), F.length("t") - (span_len - 1))
        hashes = F.transform(idx, lambda i: F.unhex(F.md5(F.col("t").substr(i, F.lit(span_len)))))
    # Window hashes ride the shuffles as 16-byte BINARY md5, not 32-char
    # hex: the window table is the dominant shuffle (one row per corpus
    # char) and the digest never reaches results -- the cid lesson (r10).
    wins = (
        norm.where(F.length("t") >= span_len)
        .select("doc_id", F.posexplode(hashes).alias("pos0", "h"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    )
    # ">= 2 distinct docs" == "min(doc_id) != max(doc_id)" exactly, and
    # min/max partial-aggregate map-side in ONE h-keyed exchange --
    # count_distinct planned as an Expand + TWO full window-table
    # exchanges ((h, doc_id) dedup, then h) for the same decision (r10).
    dup = (
        wins.groupBy("h")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("h")
    )
    marked = wins.join(dup, "h").select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("pos").over(w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(prev_max.isNull() | (F.col("pos") > prev_max + span_len), 1).otherwise(0)
    spans = (
        marked.withColumn("brk", brk)
        .withColumn("isl", F.sum("brk").over(w))
        .groupBy("doc_id", "isl")
        .agg(F.min("pos").cast("long").alias("s"), (F.max("pos") + span_len - 1).cast("long").alias("e"))
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("removed_chars"),
    )
    acc0 = F.struct(F.lit("").alias("kept"), F.lit(0).cast("long").alias("last_e"))
    fold = F.aggregate(
        F.col("spans"),
        acc0,
        lambda acc, sp: F.struct(
            F.concat(acc["kept"], F.col("t").substr(acc["last_e"] + 1, sp["s"] - acc["last_e"] - 1)).alias("kept"),
            sp["e"].alias("last_e"),
        ),
    )
    clean = F.concat(fold["kept"], F.col("t").substr(fold["last_e"] + 1, F.length("t") - fold["last_e"]))
    return (
        per_doc.join(norm, "doc_id")
        .select(
            "doc_id",
            "n_spans",
            "removed_chars",
            F.length(clean).cast("long").alias("clean_len"),
            F.md5(clean).alias("clean_md5"),
        )
    )


def update_digest_index(index: DataFrame, new_docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Incremental dedup-index maintenance for continuous ingestion: fold a
    (small) new document batch into the corpus digest index
    (text_key, keep_id) -- the artifact se4/d1 build -- keeping first-seen
    winners stable.  Returns the UPDATED index plus a status column
    ('kept' = pre-existing entry, unchanged; 'new' = digest first seen in
    this batch, keep_id = the batch's min id).

    Index-scale discipline: the 100 TB index is scanned ONCE and never
    shuffled.  The batch digests broadcast twice: a broadcast semi-join
    marks which batch keys already exist (probing the index map-side), and
    the resulting existing-key set (<= |batch|) broadcasts back for the
    batch-minus-index anti-join.  A direct new-minus-index anti-join would
    have to shuffle the whole index (the big side of an anti-join can't be
    the broadcast build), which is exactly what this shape avoids.
    """
    nd = (
        new_docs.select(F.col(id_col).alias("doc_id"), F.md5(normalize(F.col(text_col))).alias("text_key"))
        .groupBy("text_key")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    existing = index.join(F.broadcast(nd.select("text_key")), "text_key", "left_semi").select("text_key")
    fresh = nd.join(F.broadcast(existing), "text_key", "left_anti")
    return index.select("text_key", "keep_id", F.lit("kept").alias("status")).unionByName(
        fresh.select("text_key", "keep_id", F.lit("new").alias("status"))
    )


def _segments(text, seg_tokens: int):
    """Array of (idx, txt) structs: consecutive non-overlapping
    ``seg_tokens``-word windows of the token stream (last window may be
    short).  Pure Catalyst; empty/short docs yield an empty array."""
    toks = tokens(text)
    starts = F.when(F.size(toks) >= 1, F.sequence(F.lit(1), F.size(toks), F.lit(seg_tokens))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / seg_tokens).cast("long").alias("idx"),
            F.concat_ws(" ", F.slice(toks, s, seg_tokens)).alias("txt"),
        ),
    )


def segment_dedup(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int = 12, min_df: int = 2
) -> DataFrame:
    """CCNet-style paragraph-granularity corpus dedup: hash each text
    segment, count how many DISTINCT documents each segment appears in, and
    remove every copy of any segment occurring in >= ``min_df`` documents
    (the boilerplate-paragraph removal step run before model training on
    web corpora; reference keeps whole rows -- this is the finer cut its
    data model never needed).  Real corpora segment on newlines; the
    synthetic corpus is newline-free, so the segmenter is fixed
    ``seg_tokens``-word windows -- same operator shape, pluggable split.

    Differs from d6 (duplicated_span_removal): d6 hashes every stride-1
    character window (exact-substring dedup, ~|chars| hashes/doc); this
    hashes ~|tokens|/seg_tokens aligned segments -- the linear-cost coarse
    pass a pipeline runs corpus-wide before reserving d6 for survivors.

    Scale design, two linear map passes instead of one wide shuffle:
      pass A: segment+hash map-side, shuffle only (doc_id, idx, 32-hex)
        [narrow rows, never the text]; one hash-keyed aggregate counts
        distinct docs per segment; a semi-join marks removed (doc_id, idx)
        occurrences, re-aggregated to a per-doc removed-index array
        (doc-bounded).
      pass B: re-segment the corpus map-side and splice out removed
        indices; the removed-set side of the join is |affected docs| rows
        of integer arrays -- sparse in practice, AQE broadcasts it, the
        corpus itself never shuffles in this pass.

    Returns every document: (doc_id, n_segments, n_removed, clean_n_tokens,
    clean_md5) with ''-md5 sentinel for fully-removed docs.
    """
    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")).repartition(
        spark.sparkContext.defaultParallelism
    )
    occ = base.select(
        "doc_id", F.explode(_segments(F.col("_text"), seg_tokens)).alias("s")
    ).select("doc_id", F.col("s.idx").alias("idx"), F.md5(F.col("s.txt")).alias("sh"))
    dup = (
        occ.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("dfc"))
        .where(F.col("dfc") >= min_df)
        .select("sh")
    )
    removed = (
        occ.join(dup, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("idx")).alias("rm"), F.count(F.lit(1)).cast("long").alias("n_removed"))
    )
    segs = _segments(F.col("_text"), seg_tokens)
    kept_txt = F.concat_ws(
        " ",
        F.transform(
            F.filter(segs, lambda s: ~F.array_contains(F.coalesce(F.col("rm"), F.array().cast("array<long>")), s["idx"])),
            lambda s: s["txt"],
        ),
    )
    return base.join(removed, "doc_id", "left").select(
        "doc_id",
        F.size(segs).cast("long").alias("n_segments"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        token_count(kept_txt).alias("clean_n_tokens"),
        F.md5(kept_txt).alias("clean_md5"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    C(A in B) = |A & B| / |A| >= threshold -- catches quotes, excerpts,
    and doc-inside-doc duplication that symmetric Jaccard misses (a short
    doc fully quoted inside a long one has tiny Jaccard but containment
    1.0).  The standard complement to d2 in corpus forensics
    (Broder 1997's containment, the other resemblance measure).

    Same inverted-index engine as ngram_jaccard_pairs (one
    groupBy(shingle) pair expansion over DISTINCT CONTENTS -- see
    _capped_intersections for the exact-duplicate collapse -- multiplicity =
    intersection, DEFAULT_MAX_DF stop-shingle cut mirrored by the oracle); emits
    BOTH directions of a qualifying pair separately since containment is
    directional: (contained_id, container_id, containment).
    """
    # Directional thresholds union to max(c/n1, c/n2) = c/min(n1, n2) at
    # pair level: a pair survives in SOME direction iff the gate passes, so
    # member expansion touches only result-bound pairs; the per-direction
    # exact filter below is unchanged (r10).
    both, handles = _capped_intersections(
        df,
        id_col,
        text_col,
        n,
        DEFAULT_MAX_DF,
        pair_filter=lambda c, n1, n2: ratio_round(c, F.least(n1, n2)) >= threshold,
    )
    fwd = both.select(
        F.col("doc1").alias("contained_id"),
        F.col("doc2").alias("container_id"),
        ratio_round(F.col("n_common"), F.col("n1"), "containment"),
    )
    rev = both.select(
        F.col("doc2").alias("contained_id"),
        F.col("doc1").alias("container_id"),
        ratio_round(F.col("n_common"), F.col("n2"), "containment"),
    )
    # bounded pairs; release the shingle caches
    return pin(fwd.unionByName(rev).where(F.col("containment") >= threshold), *handles)


def edit_distance_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking: documents whose
    normalized texts share a 16-char prefix are compared by
    Levenshtein distance over their first 64 chars -- the
    short-text/title dedup route (shingle methods need enough tokens to
    shingle; edit distance catches single-character typo dups they
    miss).  Both engines ship the identical classic Levenshtein, so
    distances are exact ints.

    Scale levers (same shape as d2/d3): blocking caps candidate
    generation (only same-prefix docs pair); a 64-doc cap drops
    degenerate prefix groups (boilerplate openings) the way max_df drops
    stop-shingles -- mirrored by the oracle; the 64-char head bounds the
    O(n*m) per-pair DP.  Pair expansion is the one-groupBy in-array form,
    never a self-join.

    Returns (doc1, doc2, edit_distance), doc1 < doc2, distance <= 10.
    """
    norm = normalize(F.col(text_col))
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.substring(norm, 1, 16).alias("blk"),
        F.substring(norm, 1, 64).alias("head"),
    ).where(F.length("blk") >= 16)
    groups = (
        keyed.groupBy("blk")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "head"))).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= 64))
    )
    pairs = groups.select(F.explode(_ordered_pairs_structs(F.col("ds"))).alias("p")).select(
        F.col("p.d1.doc_id").alias("doc1"),
        F.col("p.d2.doc_id").alias("doc2"),
        F.levenshtein(F.col("p.d1.head"), F.col("p.d2.head")).alias("edit_distance"),
    )
    return pairs.where(F.col("edit_distance") <= 10)


def _ordered_pairs_structs(arr):
    """All (d1, d2) element pairs with d1 before d2 from a sorted struct
    array -- the slice-based _ordered_pairs idiom (no per-lambda-index
    element_at; see CLAUDE.md)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )


def contamination_report(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """The EVAL-side view of decontamination: for each held-out benchmark
    document, how badly does it leak into the training corpus?  (c3
    answers "which corpus docs to drop"; this answers "which benchmark
    items are compromised" -- the report an eval-integrity review reads,
    per GPT-3 appendix C / PaLM contamination analyses.)

    Scale: identical broadcast direction as decontaminate -- the EVAL
    gram set is the small side; the corpus flows map-side through the
    semijoin, and everything downstream of it (leaking grams, (eval doc,
    corpus doc) pairs) is contamination-sized, never corpus-sized.

    Returns per eval doc: (eval_id, n_grams, n_leaked_grams,
    n_corpus_docs_hit) -- grams with >= 1 corpus occurrence, and the
    DISTINCT corpus documents sharing any gram.
    """
    ev = _hashed_shingles(eval_docs, id_col, text_col, n)
    co = _hashed_shingles(corpus, id_col, text_col, n).select(
        "sh", F.col("doc_id").alias("c_doc")
    )
    per_eval = ev.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    hits = co.join(F.broadcast(ev.select("sh").distinct()), "sh")  # contamination-sized
    gram_leaks = hits.select("sh").distinct()
    leaked = ev.join(F.broadcast(gram_leaks), "sh").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_leaked_grams")
    )
    doc_pairs = (
        ev.select("doc_id", "sh")
        .join(F.broadcast(hits.select("sh", "c_doc").distinct()), "sh")
        .select("doc_id", "c_doc")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_corpus_docs_hit"))
    )
    return (
        eval_docs.select(F.col(id_col).alias("doc_id"))
        .join(per_eval, "doc_id", "left")
        .join(leaked, "doc_id", "left")
        .join(doc_pairs, "doc_id", "left")
        .select(
            F.col("doc_id").alias("eval_id"),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_leaked_grams", F.lit(0)).cast("long").alias("n_leaked_grams"),
            F.coalesce("n_corpus_docs_hit", F.lit(0)).cast("long").alias("n_corpus_docs_hit"),
        )
        .orderBy("eval_id")
    )


def sorted_neighborhood_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernandez & Stolfo's SNM, the
    classic alternative to hash blocking): sort the corpus by a sorting
    key (the SNM_KEY_LEN-char normalized-text prefix), then compare each
    document ONLY with its next SNM_WINDOW - 1 neighbors in that order.
    Unlike prefix blocking (edit_distance_pairs), SNM pairs documents
    ACROSS block boundaries (two docs adjacent in sort order but
    differing inside the first SNM_KEY_LEN chars still meet) and has no
    degenerate-block blowup: candidate count is exactly
    (window - 1) * n no matter how skewed the key distribution is.

    Scale shape: the naive ``row_number() OVER (ORDER BY key)`` global
    rank funnels the corpus through one reducer, so the rank is the
    training_shuffle two-level form (functions/sampling.py): bucket =
    first SNM_BUCKET_CHARS chars of the sort key (a PREFIX, so
    (bucket, key) order == global key order), per-bucket parallel
    row_number, bucket counts cumsum'd serially (bucket-count-sized),
    offsets broadcast back.  Text-prefix buckets are skewed where md5
    buckets are not -- production raises bucket granularity or range-
    partitions on sampled cutpoints; the shape is unchanged.  Neighbor
    pairing is an integer equi-join on rank (left side exploded to
    rank + 1 .. rank + window - 1), shuffle-partitioned -- never a sort
    and never a window over the full corpus.

    Returns (doc1, doc2, edit_distance) with doc1 < doc2 and distance
    (over SNM_COMPARE_LEN-char heads) <= SNM_MAX_DISTANCE.
    """
    from pyspark.sql import Window

    norm = normalize(F.col(text_col))
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.substring(norm, 1, SNM_KEY_LEN).alias("sk"),
        F.substring(norm, 1, SNM_COMPARE_LEN).alias("head"),
    ).where(F.length("sk") >= SNM_KEY_LEN)
    keyed = keyed.withColumn("_bucket", F.substring("sk", 1, SNM_BUCKET_CHARS))
    w_local = Window.partitionBy("_bucket").orderBy("sk", "doc_id")
    local = keyed.withColumn("_local", F.row_number().over(w_local))
    w_buckets = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_offset", F.coalesce(F.sum("_n").over(w_buckets), F.lit(0)).cast("long"))
        .select("_bucket", "_offset")
    )
    ranked = (
        local.join(F.broadcast(offsets), "_bucket")
        .withColumn("rn", (F.col("_offset") + F.col("_local")).cast("long"))
        .select("rn", "doc_id", "head")
    )
    left = ranked.select(
        F.col("rn").alias("rn_l"),
        F.col("doc_id").alias("id_l"),
        F.col("head").alias("head_l"),
        F.explode(F.array(*[F.lit(o) for o in range(1, SNM_WINDOW)])).alias("_o"),
    ).withColumn("rn_r", F.col("rn_l") + F.col("_o"))
    pairs = left.join(ranked.withColumnRenamed("rn", "rn_r"), "rn_r").select(
        F.least("id_l", "doc_id").alias("doc1"),
        F.greatest("id_l", "doc_id").alias("doc2"),
        F.levenshtein(F.col("head_l"), F.col("head")).alias("edit_distance"),
    )
    return pairs.where(F.col("edit_distance") <= SNM_MAX_DISTANCE)
