"""Deterministic Lloyd k-means (operators/clustering.py): numpy parity
of the exact fixed-point update recipe, planted-blob recovery,
partitioning invariance, empty-cluster carry, validation."""

from __future__ import annotations

import random

import pytest

from ghcn_d_etl_project_spark.operators.clustering import kmeans_lloyd


def _blobs(rng, centers, n_per, spread=0.05):
    rows = []
    i = 0
    for cx in centers:
        for _ in range(n_per):
            rows.append(
                (i, [c + rng.uniform(-spread, spread) for c in cx])
            )
            i += 1
    rng.shuffle(rows)
    return rows


def _numpy_lloyd(rows, k, iters, scale=1_000_000):
    """Reference implementation of the documented fixed-point recipe."""
    import numpy as np

    ids = sorted(r[0] for r in rows)
    by_id = dict(rows)
    C = np.asarray([by_id[i] for i in ids[:k]], dtype=np.float64)
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    rid = np.asarray([r[0] for r in rows])
    for _ in range(iters):
        d2 = (X * X).sum(1)[:, None] - 2 * X @ C.T + (C * C).sum(1)[None, :]
        cl = d2.argmin(1)
        newC = C.copy()
        for c in range(k):
            m = cl == c
            if m.sum():
                s = np.floor(X[m] * scale).sum(0)
                newC[c] = s / (scale * m.sum())
        C = newC
    d2 = (X * X).sum(1)[:, None] - 2 * X @ C.T + (C * C).sum(1)[None, :]
    cl = d2.argmin(1)
    return dict(zip(rid.tolist(), cl.tolist())), C


def test_kmeans_matches_numpy_reference(spark):
    rng = random.Random(3)
    rows = _blobs(rng, [(0.0, 0.0), (5.0, 5.0), (-4.0, 6.0)], 30)
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = {
        r["id"]: r["cluster"]
        for r in kmeans_lloyd(df, "id", "vec", k=3, iters=3).collect()
    }
    want, _ = _numpy_lloyd(rows, k=3, iters=3)
    assert got == want


def test_kmeans_recovers_planted_blobs(spark):
    """Well-separated blobs must land in pure clusters (label = the
    blob every member shares)."""
    rng = random.Random(11)
    centers = [(0.0, 0.0, 0.0), (10.0, 0.0, 0.0), (0.0, 10.0, 0.0)]
    rows = _blobs(rng, centers, 25)
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = kmeans_lloyd(df, "id", "vec", k=3, iters=5).collect()
    # ids were assigned before shuffling, 25 per center in order
    assert sorted(r[0] for r in rows) == list(range(75))
    blob_of = {i: i // 25 for i in range(75)}
    by_cluster: dict[int, set[int]] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(blob_of[r["id"]])
    assert len(by_cluster) == 3
    for blobs in by_cluster.values():
        assert len(blobs) == 1, f"mixed cluster: {by_cluster}"
    for r in out:
        assert r["dist2"] is not None and r["dist2"] < 1.0


def test_kmeans_partitioning_invariance(spark):
    rng = random.Random(5)
    rows = _blobs(rng, [(0.0, 0.0), (3.0, 3.0)], 20)
    df1 = spark.createDataFrame(rows, "id long, vec array<double>")
    df8 = df1.repartition(8)
    a = {
        (r["id"], r["cluster"], r["dist2"])
        for r in kmeans_lloyd(df1.coalesce(1), "id", "vec", k=2, iters=3).collect()
    }
    b = {
        (r["id"], r["cluster"], r["dist2"])
        for r in kmeans_lloyd(df8, "id", "vec", k=2, iters=3).collect()
    }
    assert a == b


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """Seeding k=3 on data with only two tight groups leaves (at least)
    one cluster empty after reassignment; the run must not crash and
    must still assign every row."""
    rows = [(0, [0.0, 0.0]), (1, [0.01, 0.0]), (2, [0.02, 0.0])] + [
        (10 + i, [9.0 + i * 0.01, 9.0]) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = kmeans_lloyd(df, "id", "vec", k=3, iters=4).collect()
    assert len(out) == len(rows)
    assert {r["cluster"] for r in out} <= {0, 1, 2}


def test_kmeans_explicit_init_ids(spark):
    rows = [(i, [float(i), 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = kmeans_lloyd(df, "id", "vec", k=2, iters=2, init_ids=[0, 9]).collect()
    lo = {r["id"] for r in out if r["cluster"] == 0}
    hi = {r["id"] for r in out if r["cluster"] == 1}
    assert lo == {0, 1, 2, 3, 4} and hi == {5, 6, 7, 8, 9}


def test_kmeans_validation_and_release(spark):
    rows = [(0, [0.0]), (1, [1.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    with pytest.raises(ValueError):
        kmeans_lloyd(df, "id", "vec", k=0)
    with pytest.raises(ValueError):
        kmeans_lloyd(df, "id", "vec", k=2, iters=0)
    with pytest.raises(ValueError, match="at least k"):
        kmeans_lloyd(df, "id", "vec", k=5)
    handle: list = []
    out = kmeans_lloyd(df, "id", "vec", k=2, iters=1, release_into=handle)
    assert len(out.collect()) == 2
    assert len(handle) == 1
    handle[0].unpersist()


def test_kmeans_excludes_null_rows(spark):
    rows = [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (None, [2.0, 2.0]), (3, None)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = kmeans_lloyd(df, "id", "vec", k=2, iters=1).collect()
    assert {r["id"] for r in out} == {0, 1}


def test_kmeans_dist2_is_true_squared_distance(spark):
    """dist2 equals the squared euclidean distance to the FINAL centroid
    (hand case: one cluster, centroid = fixed-point mean)."""
    rows = [(0, [0.0, 0.0]), (1, [2.0, 0.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = {r["id"]: r["dist2"] for r in kmeans_lloyd(df, "id", "vec", k=1, iters=2).collect()}
    # centroid = (1.0, 0.0) exactly (floor(0*1e6)+floor(2*1e6))/(2e6)
    assert out[0] == pytest.approx(1.0, abs=1e-9)
    assert out[1] == pytest.approx(1.0, abs=1e-9)


def test_label_centroids_hand_case(spark):
    from ghcn_d_etl_project_spark.operators.clustering import label_centroids

    rows = [
        (1, [1.0, 2.0]),
        (1, [3.0, 4.0]),
        (2, [10.0, 20.0]),
        (None, [99.0, 99.0]),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "label int, vec array<double>")
    out = {
        (r["label"], r["dim"]): (r["n"], r["centroid"])
        for r in label_centroids(df, "label", "vec").collect()
    }
    assert out[(1, 0)] == (2, pytest.approx(2.0, abs=1e-9))
    assert out[(1, 1)] == (2, pytest.approx(3.0, abs=1e-9))
    assert out[(2, 0)] == (1, pytest.approx(10.0, abs=1e-9))
    assert len(out) == 4  # 2 labels x 2 dims; NULL label/vec excluded


def test_label_centroids_fixed_point_flooring(spark):
    """Negative components floor DOWN (toward -inf), matching the
    documented recipe exactly: mean of [-0.15, 0.25] in micro-units is
    (floor(-150000.xx)=-150001-ish) — pin with values exact in 1e6."""
    from ghcn_d_etl_project_spark.operators.clustering import label_centroids

    rows = [(0, [-1.5]), (0, [2.5])]
    df = spark.createDataFrame(rows, "label int, vec array<double>")
    out = label_centroids(df, "label", "vec").collect()
    assert out[0]["centroid"] == pytest.approx(0.5, abs=1e-9)


def test_label_centroids_empty_raises(spark):
    from ghcn_d_etl_project_spark.operators.clustering import label_centroids

    df = spark.createDataFrame([], "label int, vec array<double>")
    with pytest.raises(ValueError, match="positive vector dim"):
        label_centroids(df, "label", "vec")


def test_label_centroids_null_first_row_infers_dim(spark):
    """Dim inference must come from the null-FILTERED base: a NULL
    vector (or NULL label) in the first physical row made F.size
    return NULL and int() raise an opaque TypeError."""
    from ghcn_d_etl_project_spark.operators.clustering import label_centroids

    rows = [(3, None), (None, [9.0, 9.0]), (1, [2.0, 4.0])]
    df = spark.createDataFrame(
        rows, "label int, vec array<double>"
    ).coalesce(1)
    out = {
        (r["label"], r["dim"]): r["centroid"]
        for r in label_centroids(df, "label", "vec").collect()
    }
    assert out == {
        (1, 0): pytest.approx(2.0, abs=1e-9),
        (1, 1): pytest.approx(4.0, abs=1e-9),
    }


def test_label_centroids_all_null_vectors_raises(spark):
    """Every usable row filtered away -> the existing ValueError, not a
    TypeError from int(None)."""
    from ghcn_d_etl_project_spark.operators.clustering import label_centroids

    df = spark.createDataFrame(
        [(1, None), (None, [1.0])], "label int, vec array<double>"
    )
    with pytest.raises(ValueError, match="positive vector dim"):
        label_centroids(df, "label", "vec")


# ---------------------------------------------------------------------------
# mmr_rerank (r9) — lives here with the other embedding-ML operators
# ---------------------------------------------------------------------------


def test_mmr_hand_case_diversity_beats_relevance(spark):
    """Pool: two near-duplicates with top relevance + one distinct
    mid-relevance doc. Pure relevance keeps both duplicates; MMR at
    lam=0.5 must pick the distinct doc second."""
    from ghcn_d_etl_project_spark.operators.similarity import mmr_rerank

    rows = [
        ("q", 1, 1.00, [1.0, 0.0]),
        ("q", 2, 0.99, [1.0, 0.001]),  # near-duplicate of 1
        ("q", 3, 0.60, [0.0, 1.0]),  # orthogonal
    ]
    df = spark.createDataFrame(rows, "qid string, cand long, rel double, vec array<double>")
    out = sorted(
        (r["mmr_rank"], r["cand"], r["mmr_score"])
        for r in mmr_rerank(df, "qid", "cand", "rel", "vec", k=3, lam=0.5).collect()
    )
    assert [c for _, c, _ in out] == [1, 3, 2]
    assert out[0][2] == pytest.approx(0.5, abs=1e-6)  # lam * rel at rank 1
    # rank 2 = 0.5*0.6 - 0.5*cos(3,1) = 0.3 - 0
    assert out[1][2] == pytest.approx(0.3, abs=1e-6)


def test_mmr_lam_one_is_pure_relevance(spark):
    from ghcn_d_etl_project_spark.operators.similarity import mmr_rerank

    rows = [
        ("q", i, float(10 - i), [1.0, 0.0]) for i in range(1, 6)
    ]  # identical vectors: diversity signal is constant
    df = spark.createDataFrame(rows, "qid string, cand long, rel double, vec array<double>")
    out = {
        r["mmr_rank"]: r["cand"]
        for r in mmr_rerank(df, "qid", "cand", "rel", "vec", k=3, lam=1.0).collect()
    }
    assert out == {1: 1, 2: 2, 3: 3}


def test_mmr_tie_breaks_to_smallest_cand_and_partition_invariant(spark):
    from ghcn_d_etl_project_spark.operators.similarity import mmr_rerank

    rows = [("q", i, 1.0, [float(i), 1.0]) for i in (5, 3, 9, 1)]
    df = spark.createDataFrame(rows, "qid string, cand long, rel double, vec array<double>")
    a = sorted(
        (r["mmr_rank"], r["cand"])
        for r in mmr_rerank(df.coalesce(1), "qid", "cand", "rel", "vec", k=1).collect()
    )
    b = sorted(
        (r["mmr_rank"], r["cand"])
        for r in mmr_rerank(df.repartition(8), "qid", "cand", "rel", "vec", k=1).collect()
    )
    assert a == b == [(1, 1)]  # equal relevance: smallest cand id wins


def test_mmr_multiple_queries_isolated(spark):
    from ghcn_d_etl_project_spark.operators.similarity import mmr_rerank

    rows = [
        ("a", 1, 1.0, [1.0, 0.0]),
        ("a", 2, 0.9, [0.0, 1.0]),
        ("b", 7, 1.0, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "qid string, cand long, rel double, vec array<double>")
    out = mmr_rerank(df, "qid", "cand", "rel", "vec", k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r["cand"])
    assert sorted(by_q["a"]) == [1, 2] and by_q["b"] == [7]


def test_mmr_validation(spark):
    from ghcn_d_etl_project_spark.operators.similarity import mmr_rerank

    df = spark.createDataFrame(
        [("q", 1, 1.0, [1.0])], "qid string, cand long, rel double, vec array<double>"
    )
    with pytest.raises(ValueError):
        mmr_rerank(df, "qid", "cand", "rel", "vec", k=0)
    with pytest.raises(ValueError):
        mmr_rerank(df, "qid", "cand", "rel", "vec", lam=1.5)


# ---------------------------------------------------------------------------
# nearest_centroid (r10)
# ---------------------------------------------------------------------------


def _centroids_df(spark, rows):
    return spark.createDataFrame(rows, "label int, dim int, centroid double")


def test_nearest_centroid_hand_case_and_ties(spark):
    from ghcn_d_etl_project_spark.operators.clustering import nearest_centroid

    cents = _centroids_df(
        spark,
        [(0, 0, 0.0), (0, 1, 0.0), (1, 0, 10.0), (1, 1, 0.0)],
    )
    rows = [
        (1, [1.0, 0.0]),    # near label 0
        (2, [9.0, 1.0]),    # near label 1
        (3, [5.0, 0.0]),    # exactly halfway -> smallest label wins
        (4, None),          # excluded
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = {r["id"]: (r["pred_label"], r["dist2"])
           for r in nearest_centroid(df, "id", "vec", cents).collect()}
    assert got[1][0] == 0 and got[1][1] == pytest.approx(1.0, abs=1e-9)
    assert got[2][0] == 1 and got[2][1] == pytest.approx(2.0, abs=1e-9)
    assert got[3][0] == 0 and got[3][1] == pytest.approx(25.0, abs=1e-9)
    assert 4 not in got


def test_nearest_centroid_round_trips_label_centroids(spark):
    """Well-separated blobs: assigning each vector to the prototypes
    computed FROM its own labels must reproduce the labels exactly
    (diagonal confusion)."""
    import random

    from ghcn_d_etl_project_spark.operators.clustering import (
        label_centroids,
        nearest_centroid,
    )

    rng = random.Random(3)
    rows = []
    for i in range(120):
        lbl = i % 3
        center = [0.0, 0.0, 0.0]
        center[lbl] = 10.0
        rows.append(
            (i, lbl, [c + rng.uniform(-0.5, 0.5) for c in center])
        )
    df = spark.createDataFrame(rows, "id long, label int, vec array<double>")
    cents = label_centroids(df, "label", "vec")
    out = nearest_centroid(df, "id", "vec", cents).collect()
    assert len(out) == 120
    assert all(r["pred_label"] == r["label"] for r in out)


def test_nearest_centroid_validation(spark):
    from ghcn_d_etl_project_spark.operators.clustering import nearest_centroid

    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vec array<double>")
    with pytest.raises(ValueError, match="empty"):
        nearest_centroid(
            df, "id", "vec",
            _centroids_df(spark, []).filter("label IS NOT NULL"),
        )
    # label 1 missing dim 1 of 2
    broken = _centroids_df(spark, [(0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0)])
    with pytest.raises(ValueError, match="missing dimensions"):
        nearest_centroid(df, "id", "vec", broken)


def test_nearest_centroid_shuffle_free_plan(spark):
    """Assignment must be a pure projection: no Exchange introduced by
    the classifier itself (plan-literal centroids, no join)."""
    from ghcn_d_etl_project_spark.operators.clustering import nearest_centroid

    cents = _centroids_df(spark, [(0, 0, 0.0), (1, 0, 5.0)])
    df = spark.createDataFrame(
        [(i, [float(i % 7)]) for i in range(50)], "id long, vec array<double>"
    )
    out = nearest_centroid(df, "id", "vec", cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]
    assert "Join" not in plan, plan[:800]


def test_kappa_matches_independent_python_from_confusion(spark):
    """The kappa readout cross-checked against an INDEPENDENT Python
    computation from the registered confusion matrix on the same
    fixture: same N, same po/pe/kappa after the shared round-6."""
    from ghcn_d_etl_project_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    conf = all_queries()["nearest_centroid_confusion"].fn(spark, sf).collect()
    n = sum(r.n_vecs for r in conf)
    agree = sum(r.n_vecs for r in conf if r.true_label == r.pred_label)
    rows: dict = {}
    cols: dict = {}
    for r in conf:
        rows[r.true_label] = rows.get(r.true_label, 0) + r.n_vecs
        cols[r.pred_label] = cols.get(r.pred_label, 0) + r.n_vecs
    pe_num = sum(rows[lb] * cols.get(lb, 0) for lb in rows)
    po = agree / n
    pe = pe_num / (float(n) * float(n))
    got = all_queries()["kappa_nearest_centroid"].fn(spark, sf).first()
    assert got.n_vecs == n
    assert got.po == round(po, 6)
    assert got.pe == round(pe, 6)
    if pe < 1.0:
        assert got.kappa == round((po - pe) / (1.0 - pe), 6)
    else:
        assert got.kappa is None
    assert -1.0 <= got.kappa <= 1.0
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# SemDeDup (semdedup): within-cluster cosine dedup over kmeans cells
# ---------------------------------------------------------------------------


def _semdedup_corpus(spark):
    """Two planted duplicate groups in well-separated blobs + uniques."""
    from ghcn_d_etl_project_spark.operators.clustering import semdedup  # noqa

    rows = [
        # blob A around (1, 0, 0): ids 0/1 identical (dup pair), 2 distinct
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.8, 0.6, 0.0]),
        # blob B around (0, 0, 1): ids 3/4 nearly identical
        (3, [0.0, 0.0, 1.0]),
        (4, [0.0, 0.01, 1.0]),
        (5, [0.0, 0.6, 0.8]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semdedup_planted_duplicates(spark):
    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    df = _semdedup_corpus(spark)
    out = {r["vec_id"]: r for r in semdedup(
        df, "vec_id", "embedding", k=2, iters=3, threshold=0.99
    ).collect()}
    assert len(out) == 6
    # dup pairs flagged with exactly one survivor each
    assert out[0]["n_dup_neighbors"] == 1 and out[1]["n_dup_neighbors"] == 1
    assert out[0]["keep"] != out[1]["keep"]
    assert out[3]["n_dup_neighbors"] == 1 and out[4]["n_dup_neighbors"] == 1
    assert out[3]["keep"] != out[4]["keep"]
    # uniques kept with zero neighbors
    for i in (2, 5):
        assert out[i]["keep"] is True and out[i]["n_dup_neighbors"] == 0
    # identical pair 0/1: equal dist2 -> exact tie keeps the SMALLER id
    assert out[0]["dist2"] == out[1]["dist2"]
    assert out[0]["keep"] is True and out[1]["keep"] is False


def test_semdedup_keeps_farthest_from_centroid(spark):
    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    # one cluster (k=1): a cosine-identical RAY (same direction, three
    # magnitudes) — all pairwise cosines are exactly 1; the centroid
    # sits at the mean, the farthest member must be the survivor
    rows = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),
        (2, [9.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semdedup(
        df, "vec_id", "embedding", k=1, iters=2, threshold=0.999
    ).collect()}
    farthest = max(out.values(), key=lambda r: (r["dist2"], -r["vec_id"]))
    assert farthest["vec_id"] == 2
    assert out[2]["keep"] is True
    assert out[0]["keep"] is False and out[1]["keep"] is False
    assert all(r["n_dup_neighbors"] == 2 for r in out.values())


def test_semdedup_cross_cluster_pairs_invisible(spark):
    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    # identical vectors FORCED into different clusters can't pair:
    # init_ids pins each as its own centroid and iters keeps them apart
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 0.0]),  # identical to 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semdedup(
        df, "vec_id", "embedding", k=2, iters=1,
        init_ids=[0, 1], threshold=0.99
    ).collect()}
    # 0 and 2 share a cluster -> dedup applies there
    assert out[0]["cluster"] == out[2]["cluster"]
    assert out[0]["keep"] != out[2]["keep"]
    assert out[1]["keep"] is True and out[1]["n_dup_neighbors"] == 0


def test_semdedup_zero_norm_and_null_excluded(spark):
    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 0.0]),   # zero norm: excluded
        (2, None),         # NULL: excluded
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, "vec_id", "embedding", k=2, iters=1).collect()
    assert {r["vec_id"] for r in out} == {0, 3}


def test_semdedup_deterministic_and_validated(spark):
    import pytest as _pytest

    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    df = _semdedup_corpus(spark)
    a = sorted(map(tuple, semdedup(
        df, "vec_id", "embedding", k=2, iters=3
    ).collect()))
    b = sorted(map(tuple, semdedup(
        df, "vec_id", "embedding", k=2, iters=3
    ).collect()))
    assert a == b
    with _pytest.raises(ValueError, match="threshold"):
        semdedup(df, "vec_id", "embedding", threshold=1.5)


def test_semdedup_release_unpersists(spark):
    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    held = []
    df = _semdedup_corpus(spark)
    semdedup(
        df, "vec_id", "embedding", k=2, iters=2, release_into=held
    ).collect()
    assert len(held) == 3  # kmeans base + scored + pairs
    for h in held:
        h.unpersist()


def test_semdedup_auto_k_scales_with_corpus(spark):
    """k='auto' enforces the k ∝ N contract: cluster count grows with
    the corpus at fixed target_cluster_size, so expected cluster size
    (and the within-cluster pair term) stays constant at scale."""
    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    rows = [(i, [float(i % 7) + 1.0, float(i % 11) + 1.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(
        df, "vec_id", "embedding", k="auto", iters=2,
        target_cluster_size=10,
    )
    clusters = {r["cluster"] for r in out.collect()}
    # N=60, target 10 -> k=6; kmeans may leave a cell empty but the
    # assignment can never use MORE than k labels, and with 6 distinct
    # directions it uses several
    assert len(clusters) <= 6
    assert len(clusters) >= 2
    # same corpus, bigger target -> fewer clusters (k=2)
    out2 = semdedup(
        df, "vec_id", "embedding", k="auto", iters=2,
        target_cluster_size=30,
    )
    assert len({r["cluster"] for r in out2.collect()}) <= 2


def test_semdedup_refuses_exploding_pair_budget(spark):
    """The realized Σ size·(size−1)/2 is measured from the assignment
    BEFORE the self-join; past max_pair_budget the operator refuses
    loudly (the GEMM byte-budget posture) instead of silently running
    a quadratic job."""
    import pytest as _pytest

    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    # 40 near-identical vectors -> one giant cluster: 40*39/2 = 780 pairs
    rows = [(i, [1.0, 1e-6 * i]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="max_pair_budget"):
        semdedup(
            df, "vec_id", "embedding", k=2, iters=2, max_pair_budget=100
        )
    # same corpus under a sufficient budget runs fine
    assert semdedup(
        df, "vec_id", "embedding", k=2, iters=2, max_pair_budget=1000
    ).count() == 40
    # max_pair_budget=None disables the check entirely
    assert semdedup(
        df, "vec_id", "embedding", k=2, iters=2, max_pair_budget=None
    ).count() == 40
    with _pytest.raises(ValueError, match="auto"):
        semdedup(df, "vec_id", "embedding", k="bogus")
    with _pytest.raises(ValueError, match="target_cluster_size"):
        semdedup(df, "vec_id", "embedding", k="auto", target_cluster_size=0)


def test_kmeans_prereduce_path_bit_identical(spark):
    """r15 (VERDICT r14 #2): forcing the k-row JVM pre-reduce
    (``max_collect_rows=0``) must give bit-identical output to the
    direct bounded collect — int64 partial sums are associative, so the
    two reduce topologies cannot diverge."""
    rng = random.Random(7)
    rows = _blobs(rng, [(0.0, 0.0), (1.0, 1.0), (0.0, 1.0)], 40)
    df = spark.createDataFrame(rows, "id long, vec array<double>").repartition(8)
    direct = sorted(
        map(tuple, kmeans_lloyd(df, "id", "vec", k=3, iters=3).collect())
    )
    prereduced = sorted(
        map(
            tuple,
            kmeans_lloyd(
                df, "id", "vec", k=3, iters=3, max_collect_rows=0
            ).collect(),
        )
    )
    assert direct == prereduced


def test_kmeans_prereduce_gate_counts_arrow_batches(spark):
    """The pre-reduce gate counts Arrow BATCHES, not partitions: the
    numpy partial sums are <= k rows per batch, so ONE partition of 60
    rows in batches of 10 can send k x 6 rows to the driver. With k=2
    and ``max_collect_rows=5`` the pre-reduce must engage — its shuffle
    adds stages to the run's job group — and match the direct path."""
    rng = random.Random(11)
    rows = _blobs(rng, [(0.0, 0.0), (1.0, 1.0)], 30)
    sc = spark.sparkContext
    # an RDD source has UNKNOWN partitioning, so the pre-reduce's
    # groupBy must shuffle even over one partition (a SinglePartition
    # source would satisfy the grouping with no exchange at all)
    df = spark.createDataFrame(
        sc.parallelize(rows, 1), "id long, vec array<double>"
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)

    def run(group, max_collect_rows):
        held = []
        sc.setJobGroup(group, "k-means pre-reduce gate")
        try:
            out = sorted(
                map(
                    tuple,
                    kmeans_lloyd(
                        df, "id", "vec", k=2, iters=2, release_into=held,
                        max_collect_rows=max_collect_rows,
                    ).collect(),
                )
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            for h in held:
                h.unpersist()
        st = sc.statusTracker()
        stages = {
            s
            for j in st.getJobIdsForGroup(group)
            for s in st.getJobInfo(j).stageIds
        }
        return out, len(stages)

    spark.conf.set(conf, "10")
    try:
        gated, gated_stages = run("kmeans_gate_batches", 5)
        direct, direct_stages = run("kmeans_gate_direct", 10**9)
    finally:
        spark.conf.set(conf, old)
    assert gated == direct and len(gated) == 60
    assert gated_stages > direct_stages, (gated_stages, direct_stages)
