"""Machine-learning queries (m): ALS, logistic regression, decision stump,
AUC, PR curve and naive Bayes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32, md5_int32_sql
from youtubeanalyzerproject_big_data__spark.io import load_table
from youtubeanalyzerproject_big_data__spark.operators import recommend
from youtubeanalyzerproject_big_data__spark.operators import classify as classify_ops
from youtubeanalyzerproject_big_data__spark.contract import query


@query("m4_logreg_gate", oracle="""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
                   CAST(64 AS BIGINT) AS n_features,
                   CAST(1 AS BIGINT) AS auc_ok,
                   CAST(1 AS BIGINT) AS runs_identical
            FROM embeddings
        """)
def q_m4(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed logistic-regression gate (classify.
    logreg_separability_gate): a linearly-separable-by-construction
    target (x0 + x1 > 0) that the distributed LBFGS fit must recover
    (AUC >= 0.95) with run-to-run deterministic coefficients (m3's
    recipe for LBFGS).  Row/positive counts are oracle-exact."""
    from youtubeanalyzerproject_big_data__spark.operators.classify import logreg_separability_gate

    return logreg_separability_gate(load_table(spark, sf, "embeddings"), "embedding", min_auc=0.95)


# m8: the t8 floor(ln*1e6) quantization on every log term makes
# (doc,label) scores exact int64; argmax ties break by label asc.
@query("m8_naive_bayes_confusion", bench=True, oracle=r"""
            WITH tr AS (SELECT doc_id, lang AS y, text FROM documents WHERE doc_id % 5 != 0),
            te AS (SELECT doc_id, lang AS true_label, text FROM documents WHERE doc_id % 5 = 0),
            trtok AS (SELECT y, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
                      FROM tr),
            tf AS (SELECT y, token, CAST(COUNT(*) AS BIGINT) AS c FROM trtok GROUP BY 1, 2),
            ny AS (SELECT y, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
            v AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS nv FROM tf),
            dt AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM tr),
            prior AS (
              SELECT pc.y,
                     CAST(floor(ln(CAST(pc.cnt AS DOUBLE) / CAST(dt.d AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micro,
                     CAST(floor(ln(1.0 / CAST(ny.n + v.nv AS DOUBLE)) * 1e6) AS BIGINT) AS default_micro
              FROM (SELECT y, COUNT(*) AS cnt FROM tr GROUP BY y) pc
              JOIN ny ON ny.y = pc.y CROSS JOIN dt CROSS JOIN v),
            lp AS (
              SELECT tf.y, tf.token,
                     CAST(floor(ln(CAST(tf.c + 1 AS DOUBLE) / CAST(ny.n + v.nv AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
              FROM tf JOIN ny ON ny.y = tf.y CROSS JOIN v),
            tetok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS token
                      FROM te),
            tetf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tetok GROUP BY 1, 2),
            ts AS (
              SELECT tetf.doc_id, p.y,
                     CAST(SUM(tetf.tf * COALESCE(lp.lp_micro, p.default_micro)) AS BIGINT) AS s
              FROM tetf CROSS JOIN prior p
              LEFT JOIN lp ON lp.y = p.y AND lp.token = tetf.token
              GROUP BY 1, 2),
            sc AS (
              SELECT te.doc_id, te.true_label, p.y,
                     p.prior_micro + COALESCE(ts.s, 0) AS score
              FROM te CROSS JOIN prior p
              LEFT JOIN ts ON ts.doc_id = te.doc_id AND ts.y = p.y),
            pred AS (
              SELECT doc_id, true_label, y,
                     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, y ASC) AS rk
              FROM sc)
            SELECT true_label, y AS pred_label, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2
        """)
def q_m8(spark: SparkSession, sf: str) -> DataFrame:
    """Multinomial naive Bayes confusion matrix (classify.
    naive_bayes_confusion): train on doc_id % 5 != 0, score the held-out
    fifth, Laplace smoothing -- the generative text classifier next to
    m4's LBFGS and m5's stump.  Every log term is floor(ln(int/int
    double quotient) * 1e6) (the t8 recipe), so (doc,label) scores are
    exact int64 sums and the argmax (score desc, label asc) replays
    engine-identically; the model is vocab-x-labels-sized and broadcast."""
    docs = load_table(spark, sf, "documents")
    return classify_ops.naive_bayes_confusion(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
        "doc_id",
        "text",
        "lang",
    )


@query("m2_als_contract", oracle="""
            SELECT CAST(50 AS BIGINT) AS n_users,
                   CAST(50 AS BIGINT) AS n_distinct_users,
                   CAST(50 AS BIGINT) AS n_full_rec_lists
        """)
def q_m2(spark: SparkSession, sf: str) -> DataFrame:
    """ALS output CONTRACT, oracle-checked: the factorization itself is
    stochastic-but-seeded (m1 stays rows-only by design), but the pipeline's
    output contract is exact -- 50 users, all distinct, each with a full
    5-item rec list -- so the gate can pin it the way a12/a13 pin sketches."""
    recs = q_als(spark, sf)
    return recs.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.countDistinct("user_label").alias("n_distinct_users"),
        F.sum((F.size(F.split("recs_csv", ",")) == 5).cast("long")).alias("n_full_rec_lists"),
    )


# m1_als_recommendations: intentionally omitted -> rows-only check
# (ALS is stochastic-but-seeded; no engine-independent oracle exists).
@query("m1_als_recommendations", bench=True, stdout=True, oracle=None)
def q_als(spark: SparkSession, sf: str) -> DataFrame:
    """M1-M4 ALS pipeline (run_alsrecs_job.py) on (customer, part, quantity)
    ratings; 10pc Bernoulli sample seed=42 mirroring the reference's S11
    (run_alsrecs_job.py:55); 50 users x 5 recs.  Rows-only: ALS is
    stochastic-but-seeded."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").cast("string").alias("user"),
        F.col("l_partkey").cast("string").alias("item"),
        F.col("l_quantity").cast("double").alias("rating"),
    )
    ratings = recommend.build_ratings(base, "user", "item", "rating", sample_fraction=0.1)
    # 10% sample leaves ~rows/10 ratings; 4 blocks ~= rows/20k at sf0.1
    # (train_als docstring) -- fewer stages, same factorization.
    model = recommend.train_als(ratings, max_iter=10, reg_param=0.1, rank=10, seed=42, num_blocks=4)
    return recommend.recommend_for_users(model, ratings, n_users=50, n_recs=5).select(
        "user_idx", "user_label", F.concat_ws(",", "recommendations").alias("recs_csv")
    )


@query("m3_als_determinism_gate", oracle="""
            SELECT CAST(50 AS BIGINT) AS n_users,
                   CAST(1 AS BIGINT) AS runs_identical
        """)
def q_m3(spark: SparkSession, sf: str) -> DataFrame:
    """ALS run-to-run reproducibility gate: train the SAME seeded pipeline
    twice in one session and compare order-invariant md5 digests of the
    full rec output.  Seeded ALS's engine claim is repeatability -- same
    seed, same data, same factorization -- and this pins it (m1 itself
    stays rows-only: no engine-independent oracle can replay the
    factorization, but the engine CAN witness its own determinism).
    Digest = sum of per-row md5_int32 over (user_idx, user_label,
    recs_csv) -- order-free by construction (functions/hashing.py), so
    partition/arrival order can't fake a mismatch.  Constant-contract
    oracle, m2-style."""
    from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32

    def run_digest():
        recs = q_als(spark, sf)
        return recs.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                md5_int32(F.concat_ws("|", F.col("user_idx").cast("string"), "user_label", "recs_csv"))
            ).cast("long").alias("digest"),
        ).collect()[0]

    r1, r2 = run_digest(), run_digest()
    same = 1 if (r1["n"] == r2["n"] and r1["digest"] == r2["digest"]) else 0
    return spark.createDataFrame([(int(r1["n"]), same)], "n_users long, runs_identical long")


M5_PRICE_GRID = [float(t) for t in range(20_000, 520_000, 20_000)]
M5_CUST_GRID = [float(t) for t in range(0, 16_000, 1_000)]


# m5: full stump-training replay -- literal grid, exact counts,
# min(pos,neg) leaf errors, deterministic argmin.
@query("m5_decision_stump", bench=True, oracle=f"""
            WITH lab AS (
              SELECT o_totalprice, CAST(o_custkey AS DOUBLE) AS o_custkey_d,
                     CAST(CAST(o_totalprice > 150000 AS BIGINT)
                          != CAST(({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "m5")}) % 20 = 0 AS BIGINT) AS BIGINT) AS y
              FROM orders),
            grid AS (SELECT 'o_totalprice' AS feature, unnest([{", ".join(str(t) for t in M5_PRICE_GRID)}]) AS threshold
                     UNION ALL
                     SELECT 'o_custkey_d', unnest([{", ".join(str(t) for t in M5_CUST_GRID)}])),
            sc AS (SELECT g.feature, g.threshold, lab.y,
                          (CASE WHEN g.feature = 'o_totalprice' THEN lab.o_totalprice
                                ELSE lab.o_custkey_d END) >= g.threshold AS r
                   FROM lab, grid g),
            agg AS (SELECT feature, threshold, CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN NOT r AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lpos,
                           CAST(SUM(CASE WHEN NOT r AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS lneg,
                           CAST(SUM(CASE WHEN r AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rpos,
                           CAST(SUM(CASE WHEN r AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rneg
                    FROM sc GROUP BY 1, 2)
            SELECT feature, threshold, n,
                   CAST(LEAST(lpos, lneg) + LEAST(rpos, rneg) AS BIGINT) AS errors,
                   CAST((1000000 * (n - (LEAST(lpos, lneg) + LEAST(rpos, rneg)))) // n AS BIGINT) AS acc_ppm
            FROM agg ORDER BY errors, feature, threshold LIMIT 1
        """)
def q_m5(spark: SparkSession, sf: str) -> DataFrame:
    """Exact decision-stump trainer (classify.decision_stump): label =
    (o_totalprice > 150000) with a 5% md5-parity flip, candidate grid =
    literal price/custkey thresholds.  The stump must pick a price split
    adjacent to the rule boundary; misclassification counts, argmin, and
    acc_ppm are pure int64, so the WHOLE training trajectory (one
    map-side grid expansion + one aggregate) replays in the oracle --
    the boosting weak learner with a hash-exact gate."""
    o = load_table(spark, sf, "orders").select(
        "o_totalprice",
        F.col("o_custkey").cast("double").alias("o_custkey_d"),
        (
            (F.col("o_totalprice") > 150_000).cast("long")
            != (md5_int32(F.col("o_orderkey").cast("string"), seed="m5") % 20 == 0).cast("long")
        ).cast("long").alias("y"),
    )
    return classify_ops.decision_stump(
        o,
        ["o_totalprice", "o_custkey_d"],
        "y",
        {"o_totalprice": M5_PRICE_GRID, "o_custkey_d": M5_CUST_GRID},
    )


# m6: tie-corrected Mann-Whitney AUC -- the oracle may use a global
# window (it's DuckDB); the ENGINE side is the distributed prefix
# sum.  HUGEINT for the ppm step (the q14 recipe).
@query("m6_auc_gate", bench=True, stdout=True, oracle=f"""
            WITH f AS (
              SELECT o_totalprice AS s,
                     CAST(CAST(o_totalprice > 150000 AS BIGINT)
                          != CAST(({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "m5")}) % 20 = 0 AS BIGINT) AS BIGINT) AS y
              FROM orders),
            ps AS (SELECT s, CAST(SUM(y) AS BIGINT) AS npos,
                          CAST(COUNT(*) - SUM(y) AS BIGINT) AS nneg
                   FROM f GROUP BY s),
            c AS (SELECT npos, nneg,
                         CAST(COALESCE(SUM(nneg) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cnb
                  FROM ps),
            t AS (SELECT CAST(SUM(npos * (2 * cnb + nneg)) AS BIGINT) AS num2,
                         CAST(SUM(npos) AS BIGINT) AS n_pos,
                         CAST(SUM(nneg) AS BIGINT) AS n_neg
                  FROM c)
            SELECT CAST(n_pos + n_neg AS BIGINT) AS n, n_pos, n_neg, num2,
                   CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(-1 AS BIGINT)
                        ELSE CAST((CAST(1000000 AS HUGEINT) * num2) // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) END AS auc_ppm
            FROM t
        """)
def q_m6(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ROC-AUC gate (classify.auc_exact): tie-corrected Mann-Whitney
    over o_totalprice as the score for m5's flipped rule label -- pure
    int64 pair counting via a distributed two-level prefix sum (never a
    global window), final ppm division driver-side in Python big-ints
    (the tpch_q14 overflow recipe; oracle uses HUGEINT).  The standard
    ranking-quality metric for any scoring model, hash-exactly
    replayable."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_totalprice").alias("score"),
        (
            (F.col("o_totalprice") > 150_000).cast("long")
            != (md5_int32(F.col("o_orderkey").cast("string"), seed="m5") % 20 == 0).cast("long")
        ).cast("long").alias("y"),
    )
    return classify_ops.auc_exact(o, "score", "y", bucket_span=1000.0)


M7_THRESHOLDS = [float(t) for t in range(50_000, 450_000, 25_000)]


# m7: the stump-shape grid evaluation as an eval curve; integer ppm
# with -1 sentinels on empty denominators.
@query("m7_pr_curve", bench=True, oracle=f"""
            WITH lab AS (
              SELECT o_totalprice AS s,
                     CAST(CAST(o_totalprice > 150000 AS BIGINT)
                          != CAST(({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "m5")}) % 20 = 0 AS BIGINT) AS BIGINT) AS y
              FROM orders),
            grid AS (SELECT unnest([{", ".join(str(t) for t in M7_THRESHOLDS)}]) AS threshold),
            agg AS (SELECT g.threshold,
                           CAST(SUM(CASE WHEN lab.s >= g.threshold AND lab.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                           CAST(SUM(CASE WHEN lab.s >= g.threshold AND lab.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                           CAST(SUM(CASE WHEN lab.s < g.threshold AND lab.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
                    FROM lab, grid g GROUP BY g.threshold)
            SELECT threshold, CAST(tp + fp AS BIGINT) AS n_pred_pos, tp, fp, fn,
                   CASE WHEN tp + fp = 0 THEN CAST(-1 AS BIGINT) ELSE (1000000 * tp) // (tp + fp) END AS precision_ppm,
                   CASE WHEN tp + fn = 0 THEN CAST(-1 AS BIGINT) ELSE (1000000 * tp) // (tp + fn) END AS recall_ppm,
                   CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(-1 AS BIGINT) ELSE (1000000 * 2 * tp) // (2 * tp + fp + fn) END AS f1_ppm
            FROM agg ORDER BY threshold
        """)
def q_m7(spark: SparkSession, sf: str) -> DataFrame:
    """Precision/recall/F1 curve (classify.pr_curve) over a 16-point
    threshold grid for m5/m6's flipped rule label -- one broadcast-grid
    pass (the stump shape) computes every operating point; all-integer
    ppm metrics with -1 sentinels on empty denominators.  The
    operating-point companion to m6's threshold-free AUC."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_totalprice").alias("score"),
        (
            (F.col("o_totalprice") > 150_000).cast("long")
            != (md5_int32(F.col("o_orderkey").cast("string"), seed="m5") % 20 == 0).cast("long")
        ).cast("long").alias("y"),
    )
    return classify_ops.pr_curve(o, "score", "y", M7_THRESHOLDS)
