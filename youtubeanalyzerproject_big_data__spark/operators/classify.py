"""Distributed classification on embedding features (MLlib LogisticRegression).

Complements the ALS (recommend.py) and k-means (clustering.py) MLlib
coverage with the supervised member of the family -- the quality-classifier
shape (fastText/logreg over document features) that training-data pipelines
run to score documents against a curated seed set (e.g. the GPT-3/LLaMA
"pages classified as reference-like" filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.session import pin


def logreg_separability_gate(
    emb: DataFrame,
    vec_col: str,
    min_auc: float = 0.95,
) -> DataFrame:
    """Train LogisticRegression twice on a linearly-separable-BY-
    CONSTRUCTION target (y = [x0 + x1 > 0] over the embedding's first two
    components) and machine-check the engine claims: the distributed
    LBFGS fit RECOVERS the separating direction (train AUC >=
    ``min_auc``; a broken gradient aggregation could not) and is
    RUN-TO-RUN deterministic in-session (identical 6dp-rounded
    coefficient digests -- the m3 recipe for LBFGS instead of ALS).
    Deriving the label from the features, not the synthetic cluster ids,
    keeps the gate scale-invariant: it tests the TRAINER, not the
    separability of whatever labels the fixture happens to carry.

    Scale: training is MLlib's treeAggregate gradient loop (map-side
    partial gradients, depth-2 combine) -- the textbook distributed-GD
    shape; the driver holds only the d-sized coefficient vector.  Output
    row: n_rows and n_positive (oracle-exact), n_features, auc_ok,
    runs_identical (gates).
    """
    import hashlib

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import array_to_vector

    spark = emb.sparkSession
    arr = F.col(vec_col).cast("array<double>")
    train = emb.select(
        array_to_vector(arr).alias("features"),
        ((arr.getItem(0) + arr.getItem(1)) > 0).cast("double").alias("label"),
    ).cache()
    n_rows = train.count()
    n_pos = train.where(F.col("label") == 1.0).count()
    dim = len(train.first()["features"])

    def fit_digest():
        model = LogisticRegression(maxIter=20, regParam=0.01, standardization=True).fit(train)
        coefs = [round(float(c), 6) for c in model.coefficients] + [round(float(model.intercept), 6)]
        digest = hashlib.md5(",".join(f"{c:.6f}" for c in coefs).encode()).hexdigest()
        preds = model.transform(train)
        auc = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(preds)
        return digest, auc

    d1, auc1 = fit_digest()
    d2, _ = fit_digest()
    train.unpersist()
    return spark.createDataFrame(
        [(int(n_rows), int(n_pos), int(dim), 1 if auc1 >= min_auc else 0, 1 if d1 == d2 else 0)],
        "n_rows long, n_positive long, n_features long, auc_ok long, runs_identical long",
    )


def decision_stump(
    df,
    feature_cols: list[str],
    label_col: str,
    thresholds: dict[str, list[float]],
):
    """Exact decision-stump training: scan a LITERAL candidate grid of
    (feature, threshold) splits and pick the one minimizing total
    misclassification -- the weak learner under every boosting ensemble,
    and the simplest supervised trainer whose whole trajectory is
    engine-exact (counts only, no floats until the final ppm).

    Scale shape: the candidate grid is a model-sized literal DataFrame
    (|features| x |thresholds| rows) BROADCAST against the facts, so the
    scan is one map-side expansion + ONE hash aggregate keyed by the
    candidate id -- a single pass over the data evaluates every split (the
    histogram trick of real tree learners, with the grid playing the bin
    boundaries).  Errors for a candidate = min(pos,neg) on each side
    (majority-vote leaves), all int64; deterministic argmin tiebreak
    (errors, feature, threshold).

    Returns ONE row: (feature, threshold, n, errors, acc_ppm).
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(f, float(t)) for f in feature_cols for t in thresholds[f]],
        "feature string, threshold double",
    )
    # one row per (fact, candidate): feature value resolved by name
    val = None
    for f in feature_cols:
        v = F.when(F.col("feature") == f, F.col(f).cast("double"))
        val = v if val is None else val.when(F.col("feature") == f, F.col(f).cast("double"))
    # Repartition-first rule (CLAUDE.md; dedup._shingles): a small parquet
    # scan arrives in one partition, and the |grid|x row expansion below
    # inherits it -- the whole candidate evaluation would run in ONE task
    # (measured 6.1s -> ~1s at bench scale for a 41-candidate grid).
    facts = df.select(*feature_cols, F.col(label_col).cast("long").alias("_y")).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    scored = facts.join(F.broadcast(grid)).select(
        "feature", "threshold", "_y", (val >= F.col("threshold")).alias("_right")
    )
    agg = scored.groupBy("feature", "threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((~F.col("_right")) & (F.col("_y") == 1)).cast("long")).cast("long").alias("lpos"),
        F.sum(((~F.col("_right")) & (F.col("_y") == 0)).cast("long")).cast("long").alias("lneg"),
        F.sum((F.col("_right") & (F.col("_y") == 1)).cast("long")).cast("long").alias("rpos"),
        F.sum((F.col("_right") & (F.col("_y") == 0)).cast("long")).cast("long").alias("rneg"),
    )
    errors = F.least("lpos", "lneg") + F.least("rpos", "rneg")
    return (
        agg.select(
            "feature",
            "threshold",
            "n",
            errors.cast("long").alias("errors"),
            F.expr("(1000000 * (n - (LEAST(lpos, lneg) + LEAST(rpos, rneg)))) DIV n").alias("acc_ppm"),
        )
        .orderBy("errors", "feature", "threshold")
        .limit(1)
    )


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bucket_span: float = 1000.0,
) -> DataFrame:
    """Exact ROC-AUC of a score against a binary label, computed as the
    tie-corrected Mann-Whitney statistic in PURE INTEGER arithmetic -- the
    standard ranking-quality gate for any scoring model (m4's logreg, a
    quality heuristic, a reranker), engine-exact so the whole evaluation
    replays in the oracle.

        2 * U = sum over distinct scores s of
                npos(s) * (2 * cum_neg_below(s) + nneg(s))
        AUC    = U / (Npos * Nneg)

    (each concordant pos/neg pair contributes 2, each tied pair 1).

    Scale shape: one hash aggregate collapses the facts to per-DISTINCT-
    score counts; cum_neg_below comes from the textbook distributed
    prefix sum (sampling.pack_sequences recipe: bucket-local window +
    model-sized bucket-offset cumsum broadcast back) -- NEVER a global
    window, which funnels the corpus through one reducer.  ``bucket_span``
    slices the score axis; offsets stay model-sized as long as the score
    range / span is (pick span so #buckets ~ 1e3-1e5).

    The final ratio multiplies 1e6 into 2*U, which overflows int64 once
    Npos*Nneg > ~9.2e12 (n ~ 6M balanced) -- so the ppm division happens
    DRIVER-SIDE on the 1-row aggregate in exact Python big-ints, and the
    oracle uses HUGEINT for the same floor division (the tpch_q14
    recipe).  Degenerate inputs (single class) return auc_ppm = -1
    (sentinel, house rule).

    Returns ONE row: (n, n_pos, n_neg, num2, auc_ppm) where num2 = 2*U.
    """
    spark = df.sparkSession
    from pyspark.sql import Window

    per_score = (
        df.select(F.col(score_col).alias("s"), F.col(label_col).cast("long").alias("y"))
        .groupBy("s")
        .agg(
            F.sum("y").cast("long").alias("npos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("nneg"),
        )
        .withColumn("_bucket", F.floor(F.col("s") / bucket_span).cast("long"))
    )
    w_local = Window.partitionBy("_bucket").orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    local = per_score.withColumn("_cum_in", F.sum("nneg").over(w_local))
    w_buckets = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        per_score.groupBy("_bucket")
        .agg(F.sum("nneg").alias("_bt"))
        .withColumn("_off", F.coalesce(F.sum("_bt").over(w_buckets), F.lit(0)).cast("long"))
        .select("_bucket", "_off")
    )
    cnb = F.col("_off") + F.col("_cum_in") - F.col("nneg")  # cum_neg strictly below s
    agg = (
        local.join(F.broadcast(offsets), "_bucket")
        .select(
            (F.col("npos") * (2 * cnb + F.col("nneg"))).alias("_c"),
            "npos",
            "nneg",
        )
        .agg(
            F.sum("_c").cast("long").alias("num2"),
            F.sum("npos").cast("long").alias("n_pos"),
            F.sum("nneg").cast("long").alias("n_neg"),
        )
        .collect()[0]  # ONE row -- model-sized by construction
    )
    num2, n_pos, n_neg = int(agg["num2"] or 0), int(agg["n_pos"] or 0), int(agg["n_neg"] or 0)
    denom = 2 * n_pos * n_neg
    auc_ppm = (1_000_000 * num2) // denom if denom else -1
    return spark.createDataFrame(
        [(n_pos + n_neg, n_pos, n_neg, num2, auc_ppm)],
        "n long, n_pos long, n_neg long, num2 long, auc_ppm long",
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Precision / recall / F1 at each threshold of a LITERAL grid -- the
    operating-point evaluation that pairs with m6's threshold-free AUC
    (AUC says whether the score ranks; this says where to cut it).

    Scale shape: decision_stump's proven one-pass evaluation -- the grid
    broadcasts against the facts (repartition-first so the |grid|x
    expansion spreads across tasks), ONE hash aggregate keyed by
    threshold computes tp/fp/fn for every operating point simultaneously.
    All metrics are exact int64 ppm floor divisions; a threshold nobody
    clears reports precision_ppm = -1 (sentinel, house rule) and the
    no-positives degenerate does the same for recall/F1.

    Returns per threshold: (threshold, n_pred_pos, tp, fp, fn,
    precision_ppm, recall_ppm, f1_ppm), ordered by threshold.
    """
    spark = df.sparkSession
    grid = spark.createDataFrame([(float(t),) for t in thresholds], "threshold double")
    facts = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("long").alias("_y"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    scored = facts.join(F.broadcast(grid)).select(
        "threshold", "_y", (F.col("_s") >= F.col("threshold")).alias("_p")
    )
    agg = scored.groupBy("threshold").agg(
        F.sum((F.col("_p") & (F.col("_y") == 1)).cast("long")).cast("long").alias("tp"),
        F.sum((F.col("_p") & (F.col("_y") == 0)).cast("long")).cast("long").alias("fp"),
        F.sum(((~F.col("_p")) & (F.col("_y") == 1)).cast("long")).cast("long").alias("fn"),
    )
    return agg.select(
        "threshold",
        (F.col("tp") + F.col("fp")).alias("n_pred_pos"),
        "tp",
        "fp",
        "fn",
        F.expr("CASE WHEN tp + fp = 0 THEN -1 ELSE (1000000 * tp) DIV (tp + fp) END").alias("precision_ppm"),
        F.expr("CASE WHEN tp + fn = 0 THEN -1 ELSE (1000000 * tp) DIV (tp + fn) END").alias("recall_ppm"),
        F.expr(
            "CASE WHEN 2 * tp + fp + fn = 0 THEN -1 ELSE (1000000 * 2 * tp) DIV (2 * tp + fp + fn) END"
        ).alias("f1_ppm"),
    ).orderBy("threshold")


def naive_bayes_confusion(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
) -> DataFrame:
    """Multinomial naive Bayes over whitespace tokens, trained on
    ``train`` and evaluated on ``test`` as a confusion matrix -- the
    classic generative text classifier (the third trained-model family
    next to m4's LBFGS logreg and m5's decision stump), with EXACT
    integer scoring so the argmax replays engine-identically.

    Exactness: every log term quantizes to floor(ln(x) * 1e6) where x is
    one IEEE double division of exact integers ((c+1)/(N_y+V) with
    Laplace smoothing; D_y/D for priors) -- the t8/unigram_logprob
    recipe, so per-(doc,label) scores are int64 sums and ties at the
    argmax break deterministically by label ascending.  Residual ulp
    risk, documented: the recipe assumes JVM Math.log and the oracle
    engine's libm log agree bit-for-bit on these quotients; neither is
    guaranteed correctly rounded, so a 1-ulp divergence landing exactly
    on a 1e-6 floor boundary could flip one score micro-unit (and an
    argmax only if that flips a tie).  Green at every tested scale
    (sf0.001-sf1); if a scale replay ever diverges here, derive the log
    terms from a shared integer-only approximation (fixed-point atanh
    series) instead of libm.

    Scale shape: the model is (vocab x labels)-sized and BROADCAST; the
    train side is two map-side-combined hash aggregates over (label,
    token); the test side aggregates (doc, token) once (the true label
    rides through the aggregate -- functionally dependent on doc_id --
    and every doc gets one tf=0 pad row so empty-text docs still reach
    the argmax at their prior), expands by the label-count factor (a
    handful), and reduces back per doc.  NO doc-sized join anywhere:
    every join below the aggregates is a model-sized broadcast
    (plan-gated).  No data-sized collect (V and the label/prior table
    are model-sized); the argmax window partitions by doc over
    label-count rows.  Returns (true_label, pred_label, n_docs) ordered
    by both.
    """
    from youtubeanalyzerproject_big_data__spark.functions.textfns import tokens

    tr_tok = train.select(
        F.col(label_col).alias("y"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    tf_tr = tr_tok.groupBy("y", "token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # Materialize the (label, token) aggregate ONCE: ny, n_vocab, the
    # per-label doc counts, and lp each take an action over it, and without
    # the pin every action re-scans and re-explodes the training corpus.
    # Model-sized (vocab x labels rows), released before return.
    tf_tr = pin(tf_tr)
    ny = tf_tr.groupBy("y").agg(F.sum("c").cast("long").alias("n"))
    n_vocab = tf_tr.select("token").distinct().count()  # scalar, model-sized

    # Per-label doc counts from one pass over (doc_id, label) -- train.count()
    # folds into the same aggregate via a grand-total sum (one scan, not two).
    d_by_y = train.groupBy(F.col(label_col).alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    d_by_y = pin(d_by_y)  # label-cardinality rows
    d_tot = sum(int(r["d"]) for r in d_by_y.select("d").collect())
    prior = (
        d_by_y
        .join(F.broadcast(ny), "y")
        .select(
            "y",
            F.floor(F.log(F.col("d").cast("double") / F.lit(float(d_tot))) * 1e6)
            .cast("long")
            .alias("prior_micro"),
            # a test token never seen with label y scores the smoothed zero-count mass
            F.floor(F.log(F.lit(1.0) / (F.col("n") + F.lit(n_vocab)).cast("double")) * 1e6)
            .cast("long")
            .alias("default_micro"),
        )
    )
    lp = (
        tf_tr.join(F.broadcast(ny), "y")
        .select(
            "y",
            "token",
            F.floor(
                F.log((F.col("c") + 1).cast("double") / (F.col("n") + F.lit(n_vocab)).cast("double")) * 1e6
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )

    # true_label rides THROUGH the (doc, token) aggregate (it is functionally
    # dependent on doc_id), and every doc gets one tf=0 pad row, so empty-text
    # docs still reach the argmax -- and no doc-sized join ever materializes:
    # the only joins below are model-sized broadcasts.
    te_base = test.select(F.col(id_col).alias("doc_id"), F.col(label_col).alias("true_label"))
    te_tok = test.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("true_label"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    te_tf = (
        te_tok.groupBy("doc_id", "true_label", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .unionByName(
            te_base.select(
                "doc_id", "true_label", F.lit("").alias("token"), F.lit(0).cast("long").alias("tf")
            )
        )
    )
    base = (
        te_tf.crossJoin(F.broadcast(prior))
        .join(F.broadcast(lp), ["y", "token"], "left")
        .groupBy("doc_id", "true_label", "y")
        .agg(
            # prior_micro is constant within the (doc, y) group (one row per label)
            (
                F.min("prior_micro")
                + F.sum(F.col("tf") * F.coalesce(F.col("lp_micro"), F.col("default_micro")))
            )
            .cast("long")
            .alias("score_micro")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("y"))
    pred = base.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    out = (
        pred.groupBy(F.col("true_label"), F.col("y").alias("pred_label"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_label", "pred_label")
    )
    # Pin the bounded result (labels^2 rows), then release the pinned
    # intermediates -- the repo's release-before-return convention.
    return pin(out, tf_tr, d_by_y)
