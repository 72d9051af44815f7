"""ANN search: brute-force correctness and LSH recall."""

from __future__ import annotations

import math
import random

import pytest


@pytest.fixture(scope="module")
def clustered(spark):
    """3 well-separated clusters of 10 vectors each in R^16, seeded."""
    rng = random.Random(42)
    rows = []
    for c in range(3):
        center = [0.0] * 16
        center[c * 5] = 10.0
        for i in range(10):
            vec = [x + rng.gauss(0, 0.1) for x in center]
            rows.append((c * 10 + i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture
def small_pq(monkeypatch):
    """4 subvectors x 8 codewords: the PQ shape for the 16-dim test vectors."""
    from youtubeanalyzerproject_big_data__spark.operators import similarity

    monkeypatch.setattr(similarity, "PQ_SUB", 4)
    monkeypatch.setattr(similarity, "PQ_CODES", 8)


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_brute_force_matches_python(clustered):
    from youtubeanalyzerproject_big_data__spark.operators.similarity import brute_force_topk

    data = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in clustered.collect()}
    out = brute_force_topk(clustered, clustered.where("vec_id = 0"), "vec_id", "embedding", k=3).collect()
    got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["nn_rank"])]
    expected = sorted((i for i in data if i != 0), key=lambda i: (-_cos(data[0], data[i]), i))[:3]
    assert got == expected
    # all top-3 from the same cluster as the query
    assert all(n < 10 for n in got)


def test_lsh_recall_on_clustered_vectors(clustered):
    from youtubeanalyzerproject_big_data__spark.operators.similarity import brute_force_topk, lsh_topk

    queries = clustered.where("vec_id IN (0, 10, 20)")
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(clustered, queries, "vec_id", "embedding", 3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in lsh_topk(clustered, queries, "vec_id", "embedding", dim=16, k=3).collect()}
    recall = len(exact & approx) / len(exact)
    # well-separated clusters: hyperplane LSH should recall nearly everything
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_ivf_catalyst_recall_and_shape(clustered):
    """The oracle-checkable Catalyst IVF variant: same IVF semantics, so with
    nprobe == num_cells it must EQUAL brute force (every cell probed), and
    with 1 probe on separated clusters recall stays high."""
    from youtubeanalyzerproject_big_data__spark.operators.similarity import brute_force_topk, ivf_topk_catalyst

    queries = clustered.where("vec_id IN (0, 10, 20)")
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(clustered, queries, "vec_id", "embedding", 3).collect()}
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_catalyst(clustered, queries, "vec_id", "embedding", k=3, num_cells=3, nprobe=3).collect()
    }
    assert full == exact  # all cells probed == exhaustive search
    one = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_catalyst(clustered, queries, "vec_id", "embedding", k=3, num_cells=3, nprobe=1).collect()
    }
    recall = len(exact & one) / len(exact)
    assert recall >= 0.8, f"catalyst IVF recall too low: {recall}"


def test_pq_recall_on_clustered_vectors(clustered, small_pq):
    from youtubeanalyzerproject_big_data__spark.operators.similarity import brute_force_topk, pq_topk

    queries = clustered.where("vec_id IN (0, 10, 20)")
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(clustered, queries, "vec_id", "embedding", 3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in pq_topk(clustered, queries, "vec_id", "embedding", dim=16, k=3).collect()}
    recall = len(exact & approx) / len(exact)
    # quantized reconstructions keep cluster geometry: neighbors stay in-cluster
    assert recall >= 0.5, f"PQ recall too low: {recall}"
    # every approx neighbor at least lands in the query's cluster
    assert all(q // 10 == n // 10 for q, n in approx)


def test_ivfpq_recall_on_clustered_vectors(clustered, small_pq):
    """Composed IVF+PQ: probing restricts candidates to the query's cell
    neighborhood AND scoring runs on reconstructions -- recall must still
    track the cluster structure (the s5 billion-scale recipe)."""
    from youtubeanalyzerproject_big_data__spark.operators.similarity import brute_force_topk, ivfpq_topk

    queries = clustered.where("vec_id IN (0, 10, 20)")
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(clustered, queries, "vec_id", "embedding", 3).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            clustered, queries, "vec_id", "embedding", dim=16, k=3, num_cells=3, nprobe=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVFPQ recall too low: {recall}"
    # every approx neighbor at least lands in the query's cluster
    assert all(q // 10 == n // 10 for q, n in approx)


def test_pq_codebook_shape_and_determinism(clustered, small_pq):
    from youtubeanalyzerproject_big_data__spark.operators.similarity import _pq_codebook_exact

    b1 = _pq_codebook_exact(clustered, "vec_id", "embedding", dim=16)
    b2 = _pq_codebook_exact(clustered, "vec_id", "embedding", dim=16)
    assert b1 == b2  # md5-order seed selection is run-stable
    assert len(b1) == 4 and all(len(bm) == 8 for bm in b1) and all(len(c) == 4 for bm in b1 for c in bm)


def test_kmeans_recovers_separated_clusters(clustered):
    from youtubeanalyzerproject_big_data__spark.operators.clustering import kmeans_lloyd

    out = kmeans_lloyd(clustered, "vec_id", "embedding", dim=16, k=3, iters=3).collect()
    cells = {r["cell"] for r in out}
    sizes = {r["cell"]: r["n_members"] for r in out}
    assert len(cells) == 3 and all(sizes[c] == 10 for c in cells)  # 3 clusters of 10 recovered
    # each centroid's dominant coordinate is one cluster center's spike (~10.0)
    grids = {}
    for r in out:
        grids.setdefault(r["cell"], [0.0] * 16)[r["pos"]] = r["centroid"]
    spikes = sorted(max(range(16), key=lambda i: g[i]) for g in grids.values())
    assert spikes == [0, 5, 10] and all(max(g) > 8.0 for g in grids.values())


def test_kmeans_rejects_zero_iterations(clustered):
    """iters < 1 must fail fast with ValueError BEFORE the seed collect
    (previously: expensive collect, then a bare AssertionError)."""
    import pytest

    from youtubeanalyzerproject_big_data__spark.operators.clustering import kmeans_lloyd

    with pytest.raises(ValueError, match="iters"):
        kmeans_lloyd(clustered, "vec_id", "embedding", dim=16, k=3, iters=0)


def test_kmeans_partition_invariant(clustered):
    from youtubeanalyzerproject_big_data__spark.operators.clustering import kmeans_lloyd

    one = kmeans_lloyd(clustered.coalesce(1), "vec_id", "embedding", dim=16, k=3, iters=2).collect()
    many = kmeans_lloyd(clustered.repartition(7), "vec_id", "embedding", dim=16, k=3, iters=2).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in many]


def test_kmeans_arrow_assignment_equivalent_to_catalyst(clustered):
    """The Arrow squared-L2 assignment kernel must be bit-identical to the
    zip_with/aggregate + array_min expression form -- full kmeans_lloyd
    outputs equal row-for-row on both paths (the make_cosine_seq recipe
    applied to k-means; VERDICT r4 item 4)."""
    from youtubeanalyzerproject_big_data__spark.operators.clustering import kmeans_lloyd

    arrow = kmeans_lloyd(clustered, "vec_id", "embedding", dim=16, k=3, iters=3, use_arrow=True).collect()
    catalyst = kmeans_lloyd(clustered, "vec_id", "embedding", dim=16, k=3, iters=3, use_arrow=False).collect()
    assert [tuple(r) for r in arrow] == [tuple(r) for r in catalyst]


def test_kmeans_assign_tiebreak_smallest_cell(spark):
    """Equidistant centroids (duplicated) must assign to the SMALLEST cell
    id on both paths -- np.argmin's first-occurrence rule vs array_min's
    struct tiebreak."""
    from youtubeanalyzerproject_big_data__spark.operators.clustering import _assign

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.5, -1.0, 4.0]), (3, [0.0, 0.0, 0.0])],
        "id long, v array<double>",
    )
    cents = [[2.0, 2.0, 2.0], [1.0, 0.0, 1.0], [1.0, 0.0, 1.0], [2.0, 2.0, 2.0]]  # dup pairs force exact ties
    for use_arrow in (True, False):
        out = {r["id"]: r["cell"] for r in _assign(emb, "v", cents, use_arrow=use_arrow).collect()}
        assert all(c in (0, 1) for c in out.values()), (use_arrow, out)  # never the duplicate's higher id


def test_topk_recall_counts(spark):
    from youtubeanalyzerproject_big_data__spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    out = {r["query_id"]: r for r in topk_recall(exact, approx, k=2).collect()}
    assert out[1]["n_hits"] == 1 and out[1]["recall_at_2"] == 0.5
    assert out[2]["n_hits"] == 2 and out[2]["recall_at_2"] == 1.0


def test_refine_topk_improves_or_matches_raw_index(clustered, small_pq):
    """Retrieve-then-refine: exact re-rank of generous candidates must
    recall at least what the raw compressed index recalls, results must be
    a subset of the candidates, and scores must equal brute-force cosines."""
    from youtubeanalyzerproject_big_data__spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
        refine_topk,
    )

    queries = clustered.where("vec_id IN (0, 10, 20)")
    exact = brute_force_topk(clustered, queries, "vec_id", "embedding", 3).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    raw = ivfpq_topk(
        clustered, queries, "vec_id", "embedding", dim=16, k=3, num_cells=3, nprobe=2
    ).collect()
    cand = ivfpq_topk(
        clustered, queries, "vec_id", "embedding", dim=16, k=10, num_cells=3, nprobe=2
    )
    refined = refine_topk(clustered, queries, cand, "vec_id", "embedding", k=3).collect()

    cand_pairs = {(r["query_id"], r["neighbor_id"]) for r in cand.collect()}
    refined_pairs = {(r["query_id"], r["neighbor_id"]) for r in refined}
    raw_pairs = {(r["query_id"], r["neighbor_id"]) for r in raw}
    assert refined_pairs <= cand_pairs
    recall_refined = len(exact_pairs & refined_pairs) / len(exact_pairs)
    recall_raw = len(exact_pairs & raw_pairs) / len(exact_pairs)
    assert recall_refined >= recall_raw
    # refined scores are TRUE cosines: wherever a pair is in both, equal
    for r in refined:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert r["cos_sim"] == exact_scores[key]


def test_int8_quantization_gate_holds_and_handles_constant_dim(spark):
    """Every value must round-trip within half a quantization step; a
    constant dimension degenerates to scale 0 / code 0 / zero error and
    still gates green."""
    from youtubeanalyzerproject_big_data__spark.operators.similarity import scalar_quantize_int8_gate

    rows = [
        (1, [0.0, 7.5, -1.0]),
        (2, [1.0, 7.5, 0.25]),
        (3, [0.123, 7.5, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["pos"]: r for r in scalar_quantize_int8_gate(emb, "vec_id", "embedding").collect()}
    assert set(out) == {0, 1, 2}
    assert all(r["all_within_half_step"] == 1 for r in out.values())
    assert all(r["n_values"] == 3 for r in out.values())
    assert out[1]["dim_min"] == out[1]["dim_max"] == 7.5  # constant dim


def test_pca_gate_recovers_known_covariance(spark):
    import numpy as np

    from youtubeanalyzerproject_big_data__spark.operators.similarity import pca_gate

    # 2-dim data with known covariance: x ~ {-1, 1}, y = 2x -> cov diag
    # trace = var(x) + var(y) = 1 + 4 = 5 (population).
    rows = [(i, [float(s), float(2 * s)]) for i, s in enumerate([1.0, -1.0] * 50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pca_gate(df, "embedding", dim=2).collect()[0]
    assert out["n_vectors"] == 100 and out["dim"] == 2
    assert abs(out["trace_cov_nano"] / 1e9 - 5.0) < 1e-5
    assert out["eigsum_matches_trace"] == 1
    assert out["orthonormal_ok"] == 1
    assert out["eigs_descending_ok"] == 1


def test_filtered_topk_respects_filter_and_is_prefiltered(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators.similarity import filtered_topk

    # 2 labels; the globally-nearest neighbor of query 0 has the WRONG
    # label and must not appear.
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.999, 0.01], "b"),   # closest overall, wrong label
        (2, [0.9, 0.1], "a"),
        (3, [0.5, 0.5], "a"),
        (4, [0.0, 1.0], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = filtered_topk(df, df.where(F.col("vec_id") == 0), "vec_id", "embedding", "label", k=2).collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]  # label-a only, rank order
    # plan: the label filter sits in the join condition (pre-filter), so
    # the joined row count is label-matched only
    assert all(r["query_id"] == 0 for r in out)
