"""k-means + SemDeDup: assignment determinism, Lloyd convergence,
planted-twin dedup."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ai_iceberg_demo_spark.tables import load_table
from ai_iceberg_demo_spark.vector.clustering import (
    KMEANS_K,
    _TRAIN_PER_CELL,
    _TWIN_OFFSET,
    d8_semdedup,
    kmeans_assign,
    kmeans_train,
    salt_near_dups,
    seed_centroids,
    training_set,
    v11b_kmeans_train,
)
from tests.conftest import SF_DIR


def _corpus(spark):
    return load_table(spark, "embeddings", SF_DIR)


def test_assign_covers_corpus_once(spark):
    corpus = _corpus(spark)
    assigned = kmeans_assign(corpus, seed_centroids(corpus))
    n = corpus.count()
    assert assigned.count() == n  # every vector exactly one cell
    assert assigned.select("vec_id").distinct().count() == n
    cells = {r["cell_id"] for r in assigned.select("cell_id").distinct().collect()}
    assert cells <= set(range(KMEANS_K))


def test_seed_vectors_assign_to_themselves(spark):
    corpus = _corpus(spark)
    assigned = kmeans_assign(corpus, seed_centroids(corpus))
    seeds = assigned.filter(F.col("vec_id") < KMEANS_K).collect()
    for r in seeds:
        assert r["cell_id"] == r["vec_id"] and r["dist"] == 0.0


def test_lloyd_iterations_do_not_increase_inertia(spark):
    corpus = _corpus(spark)

    def inertia(centroids):
        a = kmeans_assign(corpus, centroids)
        return a.agg(F.sum(F.col("dist") * F.col("dist"))).first()[0]

    seed_inertia = inertia(seed_centroids(corpus))
    trained_inertia = inertia(kmeans_train(corpus, n_iter=2))
    # Lloyd monotonically decreases inertia (up to dist rounding noise)
    assert trained_inertia <= seed_inertia * 1.001


def test_trained_centroids_shape(spark):
    corpus = _corpus(spark)
    cen = kmeans_train(corpus, n_iter=1).collect()
    assert len(cen) == KMEANS_K
    dim = len(corpus.first()["embedding"])
    assert all(len(r["centroid"]) == dim for r in cen)


def test_semdedup_drops_exactly_planted_twins(spark):
    corpus = _corpus(spark)
    n_twins = corpus.filter(F.col("vec_id") % 25 == 0).count()
    dropped = d8_semdedup(spark, SF_DIR).collect()
    # every planted twin is dropped in favor of its original; no
    # original is ever dropped (fixture has no natural near-dups)
    assert len(dropped) == n_twins
    for r in dropped:
        assert r["vec_id"] >= _TWIN_OFFSET
        assert r["kept_id"] == r["vec_id"] - _TWIN_OFFSET


def test_salted_twins_land_with_their_originals(spark):
    corpus = salt_near_dups(_corpus(spark))
    assigned = kmeans_assign(corpus, seed_centroids(corpus))
    cells = {r["vec_id"]: r["cell_id"] for r in assigned.collect()}
    twins = [v for v in cells if v >= _TWIN_OFFSET]
    assert twins
    same = sum(cells[v] == cells[v - _TWIN_OFFSET] for v in twins)
    assert same == len(twins)  # a +0.01 nudge never flips the argmin here


def test_pca_projection_invariants(spark):
    """v12: components are orthonormal, projected coordinates are
    centered (mean ≈ 0 — they're projections of centered vectors), and
    their variances come out in descending eigenvalue order."""
    import numpy as np
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.clustering import PCA_K, pca_components
    from ai_iceberg_demo_spark.vector.clustering import v12_pca_project

    corpus = load_table(spark, "embeddings", SF_DIR)
    _, comps = pca_components(corpus)
    C = np.array(comps)
    assert C.shape[0] == PCA_K
    assert np.allclose(C @ C.T, np.eye(PCA_K), atol=1e-8), "components not orthonormal"

    out = v12_pca_project(spark, SF_DIR)
    stats = out.agg(
        *[F.avg(f"pc{i+1}").alias(f"m{i+1}") for i in range(PCA_K)],
        *[F.var_pop(f"pc{i+1}").alias(f"v{i+1}") for i in range(PCA_K)],
    ).first()
    for i in range(PCA_K):
        assert abs(stats[f"m{i+1}"]) < 1e-2, f"pc{i+1} not centered"
    variances = [stats[f"v{i+1}"] for i in range(PCA_K)]
    # descending up to the rounding the projection applies
    for a, b in zip(variances, variances[1:]):
        assert a >= b - 1e-3, variances


def test_v13_standardize_array_form_matches_exploded_and_is_zero_mean_unit_std(spark):
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.clustering import standardize, v13_standardize

    corpus = load_table(spark, "embeddings", SF_DIR)
    arr = {r["vec_id"]: r["zvec"] for r in standardize(corpus).collect()}
    exploded = v13_standardize(spark, SF_DIR).collect()
    assert len(exploded) == len(arr) * len(next(iter(arr.values())))
    for r in exploded[:2000]:
        assert abs(arr[r["vec_id"]][r["dim_i"]] - r["z"]) < 1e-9

    stats = (
        v13_standardize(spark, SF_DIR)
        .groupBy("dim_i")
        .agg(F.avg("z").alias("m"), F.stddev_pop("z").alias("sd"))
        .collect()
    )
    for r in stats:
        assert abs(r["m"]) < 1e-4, r
        assert abs(r["sd"] - 1.0) < 1e-3, r


def test_v16_drift_alarm_fires_on_planted_shift_and_stays_quiet_on_fixture(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from ai_iceberg_demo_spark.vector.clustering import v16_embedding_drift

    # fixture halves come from one distribution — expect few/no flags,
    # and each z must match a numpy replay of the same rounded moments
    rows = v16_embedding_drift(spark, SF_DIR).collect()
    assert len(rows) == 64
    assert sum(r["drifted"] for r in rows) <= 3  # ~0 expected at |z|>=3

    # planted drift: dim 0 of the second half shifted by +5 sigma
    rng = np.random.default_rng(7)
    n, dim = 400, 8
    emb = rng.normal(0, 1, (n, dim))
    emb[n // 2 :, 0] += 5.0
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [row.astype("float64").tolist() for row in emb],
            "label": ["x"] * n,
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")
    planted = {r["dim_i"]: r for r in v16_embedding_drift(spark, str(tmp_path)).collect()}
    assert planted[0]["drifted"] == 1
    assert abs(planted[0]["z"]) > 10
    assert sum(r["drifted"] for r in planted.values()) <= 2  # only dim 0 (+ noise)


def test_diverse_sample_quota_is_exact_per_cell(spark):
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.clustering import (
        _DIVERSE_PER_CELL,
        kmeans_assign,
        seed_centroids,
        v17_diverse_sample,
    )

    corpus = load_table(spark, "embeddings", SF_DIR)
    sizes = {
        r["cell_id"]: r["n"]
        for r in kmeans_assign(corpus, seed_centroids(corpus))
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        r["cell_id"]: r["n"]
        for r in v17_diverse_sample(spark, SF_DIR)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(sizes)
    for cell, n in got.items():
        assert n == min(_DIVERSE_PER_CELL, sizes[cell])


def test_power_iteration_converges_to_numpy_top_eigenvector(spark):
    """v12b: after 3 rounds the SQL-replayable power iteration must
    align with numpy's exact top covariance eigenvector (|cos| ≥ 0.9)
    and the Rayleigh quotient must be within 10% of the true top
    eigenvalue — the quantized unroll is real PCA, not just
    cross-engine-stable arithmetic."""
    import numpy as np

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.clustering import v12b_power_iteration
    from tests.conftest import SF_DIR

    rows = v12b_power_iteration(spark, SF_DIR).collect()
    v = np.zeros(64)
    for r in rows:
        v[r["dim_i"]] = r["pc1"]
    lam = rows[0]["eigenvalue"]

    X = np.stack(
        [
            np.array(r["embedding"], dtype=float)
            for r in load_table(spark, "embeddings", SF_DIR).collect()
        ]
    )
    # replicate the planted rank-1 spike the operator applies
    ids = [r["vec_id"] for r in load_table(spark, "embeddings", SF_DIR).collect()]
    for row_i, vid in enumerate(ids):
        if vid % 5 == 0:
            X[row_i, 0] += 0.5
    Xc = X - X.mean(axis=0)
    C = (Xc.T @ Xc) / len(X)
    evals, evecs = np.linalg.eigh(C)
    top_vec = evecs[:, -1]
    top_val = evals[-1]
    cos = abs(float(v @ top_vec) / (np.linalg.norm(v) * np.linalg.norm(top_vec)))
    assert cos >= 0.9, cos
    assert abs(lam - top_val) / top_val <= 0.1, (lam, top_val)


SF01 = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
needs_sf01 = pytest.mark.skipif(
    not os.path.isdir(SF01), reason="sf0.1 fixture absent (single-fixture environment)"
)


def _lloyd_replay(seeds, others, n_iter):
    """The training rule spelled out vector by vector: nearest seed
    cell by 4-decimal-rounded l2 (first minimum = lowest cell_id),
    then each non-empty cell moves to its members' mean."""
    import numpy as np

    x = [np.asarray(v, dtype=float) for _, v in seeds + others]
    cen = [x[i].copy() for i in range(len(seeds))]
    for _ in range(n_iter):
        members = [[] for _ in cen]
        for v in x:
            d = [np.round(np.sqrt(np.sum((v - c) ** 2)), 4) for c in cen]
            members[int(np.argmin(d))].append(v)
        cen = [np.mean(m, axis=0) if m else c for m, c in zip(members, cen)]
    return {vid: c for (vid, _), c in zip(seeds, cen)}


# v11b_kmeans_train at sf0.1 from the distributed trainer this driver
# trainer replaced: (cell_id, n_vecs, inertia)
_V11B_SF01 = [
    (0, 238, 226.45), (1, 257, 245.45), (2, 265, 252.8), (3, 254, 241.82),
    (4, 244, 232.48), (5, 255, 243.3), (6, 264, 252.12), (7, 223, 212.23),
]


@needs_sf01
def test_driver_trainer_keeps_distributed_trainer_cells(spark):
    """At sf0.1 the whole corpus is the training set, so the driver
    trainer lands on the distributed trainer's cells: same per-cell
    sizes and rounded inertia."""
    rows = v11b_kmeans_train(spark, SF01).collect()
    assert [(r["cell_id"], r["n_vecs"], r["inertia"]) for r in rows] == _V11B_SF01


@needs_sf01
def test_kmeans_train_matches_numpy_replay(spark):
    corpus = load_table(spark, "embeddings", SF01)
    rows = [(r["vec_id"], r["embedding"]) for r in corpus.collect()]
    seeds = sorted((r for r in rows if r[0] < 16), key=lambda r: r[0])
    others = [r for r in rows if r[0] >= 16]
    want = _lloyd_replay(seeds, others, n_iter=2)
    got = kmeans_train(corpus, k=16, n_iter=2).collect()
    assert sorted(r["cell_id"] for r in got) == sorted(want)
    for r in got:
        assert max(abs(a - b) for a, b in zip(r["centroid"], want[r["cell_id"]])) < 1e-9


def test_training_set_is_seeds_plus_capped_hash_sample(spark):
    """A corpus larger than _TRAIN_PER_CELL·k trains on the seeds plus
    exactly the _TRAIN_PER_CELL·k lowest-xxhash64 others, and repeat
    calls give identical centroids."""
    import numpy as np

    k = 2
    cap = _TRAIN_PER_CELL * k
    rng = np.random.default_rng(11)
    n = cap * 3
    corpus = spark.createDataFrame(
        [(i, rng.normal(size=4).tolist()) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )
    hashed = corpus.select("vec_id", F.xxhash64("vec_id").alias("h")).collect()
    want = sorted((r["h"], r["vec_id"]) for r in hashed if r["vec_id"] >= k)[:cap]

    seeds, others = training_set(corpus, k)
    assert [vid for vid, _ in seeds] == list(range(k))
    assert [vid for vid, _ in others] == [vid for _, vid in want]

    a = kmeans_train(corpus, k=k, n_iter=3).collect()
    b = kmeans_train(corpus, k=k, n_iter=3).collect()
    assert a == b
    # trained on the sample alone, not on the other 2·cap vectors
    replay = _lloyd_replay(seeds, others, n_iter=3)
    for r in a:
        assert max(abs(x - y) for x, y in zip(r["centroid"], replay[r["cell_id"]])) < 1e-9
