"""ALS pipeline M1-M4: shape, determinism, dim re-attachment."""

from __future__ import annotations

import random

import pytest


@pytest.fixture(scope="module")
def interactions(spark):
    rng = random.Random(42)
    rows = []
    for u in range(20):
        for _ in range(15):
            item = f"item{rng.randrange(30)}"
            rows.append((f"user{u}", item, float(rng.randint(1, 5))))
    return spark.createDataFrame(rows, "user string, item string, rating double")


def test_als_pipeline_shape_and_determinism(interactions):
    from youtubeanalyzerproject_big_data__spark.operators.recommend import build_ratings, recommend_for_users, train_als

    ratings = build_ratings(interactions, "user", "item", "rating")
    assert set(ratings.columns) >= {"user_idx", "item_idx", "rating", "user_label", "item_label"}

    model = train_als(ratings, max_iter=5, seed=42)
    recs = recommend_for_users(model, ratings, n_users=10, n_recs=5).collect()
    assert len(recs) == 10
    for r in recs:
        assert len(r["recommendations"]) == 5
        assert r["user_label"].startswith("user")
        assert all(item.startswith("item") for item in r["recommendations"])

    # seeded: second train+recommend gives identical recommendation sets
    model2 = train_als(ratings, max_iter=5, seed=42)
    recs2 = recommend_for_users(model2, ratings, n_users=10, n_recs=5).collect()
    assert {(r["user_idx"], tuple(r["recommendations"])) for r in recs} == {
        (r["user_idx"], tuple(r["recommendations"])) for r in recs2
    }


def test_build_ratings_drops_nulls(spark):
    from youtubeanalyzerproject_big_data__spark.operators.recommend import build_ratings

    df = spark.createDataFrame(
        [("u1", "i1", 3.0), (None, "i2", 4.0), ("u2", "i3", None)],
        "user string, item string, rating double",
    )
    assert build_ratings(df, "user", "item", "rating").count() == 1


def test_recommend_dims_semi_reduced_before_broadcast(interactions):
    """The enrichment joins must broadcast REDUCED dims: each dim is first
    left-semi-joined against the (tiny, broadcast) exploded rec keys.
    Broadcasting the full distinct item/user dims silently OOMs at scale --
    the plan must carry two LeftSemi broadcast joins below the enrichment."""
    from youtubeanalyzerproject_big_data__spark.operators.recommend import build_ratings, recommend_for_users, train_als
    from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan
    from test_plans import _live_plans

    ratings = build_ratings(interactions, "user", "item", "rating")
    model = train_als(ratings, max_iter=1, seed=42)
    # live plans keep the lazy plan visible (the default pin truncates
    # lineage and hides the joins from inspection)
    with _live_plans():
        out = recommend_for_users(model, ratings, n_users=5, n_recs=3)
    plan = executed_plan(out)
    assert plan.count("LeftSemi, BuildRight") >= 2, plan


def test_logreg_gate_recovers_separable_direction(spark):
    from youtubeanalyzerproject_big_data__spark.operators.classify import logreg_separability_gate

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = logreg_separability_gate(df, "embedding", min_auc=0.95).collect()[0]
    assert out["n_rows"] == 400 and out["n_features"] == 4
    assert out["auc_ok"] == 1        # separable by construction -> recovered
    assert out["runs_identical"] == 1  # LBFGS deterministic in-session


def test_naive_bayes_disjoint_vocab_is_diagonal(spark):
    """m8: labels with disjoint training vocabularies classify their own
    test docs perfectly; an empty-vocab test doc falls back to the prior
    argmax (most-frequent label, ties by label asc)."""
    from youtubeanalyzerproject_big_data__spark.operators.classify import naive_bayes_confusion

    train_rows = [
        # 3 'aa' docs vs 2 'bb' docs -> prior argmax is 'aa'
        (1, "apple avocado apricot", "aa"),
        (2, "apple apple avocado", "aa"),
        (3, "apricot avocado", "aa"),
        (4, "banana blueberry", "bb"),
        (5, "banana banana blueberry", "bb"),
    ]
    test_rows = [
        (10, "apple apricot", "aa"),
        (11, "blueberry banana banana", "bb"),
        (12, "", "bb"),  # no tokens -> prior-only -> predicted 'aa'
    ]
    tr = spark.createDataFrame(train_rows, "doc_id long, text string, lang string")
    te = spark.createDataFrame(test_rows, "doc_id long, text string, lang string")
    out = {(r["true_label"], r["pred_label"]): r["n_docs"]
           for r in naive_bayes_confusion(tr, te, "doc_id", "text", "lang").collect()}
    assert out == {("aa", "aa"): 1, ("bb", "bb"): 1, ("bb", "aa"): 1}
