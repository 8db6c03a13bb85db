"""Vector similarity: exact top-k sanity + ANN recall vs exact."""

from __future__ import annotations

import pyspark.sql.functions as F

from ai_iceberg_demo_spark.tables import load_table
from ai_iceberg_demo_spark.vector.similarity import ann_topk, cosine_topk
from tests.conftest import SF_DIR


def _query_vec(spark, vec_id=0):
    return (
        load_table(spark, "embeddings", SF_DIR)
        .filter(F.col("vec_id") == vec_id)
        .select(F.col("embedding").alias("qvec"))
    )


def test_exact_topk_self_is_first(spark):
    corpus = load_table(spark, "embeddings", SF_DIR)
    rows = cosine_topk(corpus, _query_vec(spark), k=5).collect()
    assert len(rows) == 5
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["score"] - 1.0) < 1e-6
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ann_topk_recall_vs_exact(spark):
    corpus = load_table(spark, "embeddings", SF_DIR)
    exact = {r["vec_id"] for r in cosine_topk(corpus, _query_vec(spark), k=10).collect()}
    approx = {r["vec_id"] for r in ann_topk(corpus, _query_vec(spark), k=10).collect()}
    # Fixture embeddings are near-random (top-10 cosine ≈ 0.3), so with
    # 8 tables × 4 planes per-neighbor recall is ~0.67 — require a
    # conservative overlap, plus the guaranteed self-collision.
    assert 0 in approx  # the query vector always collides with itself
    assert len(exact & approx) >= 3


def test_ivf_topk_recall_vs_exact(spark):
    """IVF with n_probe=8 of 16 cells must recover most exact top-10."""
    from ai_iceberg_demo_spark.vector.similarity import ivf_topk

    corpus = load_table(spark, "embeddings", SF_DIR)
    exact = {r["vec_id"] for r in cosine_topk(corpus, _query_vec(spark), k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_topk(corpus, _query_vec(spark), k=10, n_cells=16, n_probe=8).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_ivf_trained_centroids_recall_at_least_seed(spark):
    """v3c's trained-centroid path: k-means cells must not lose recall
    vs the train-free seed cells (on this fixture they reach 1.0)."""
    from ai_iceberg_demo_spark.vector.clustering import kmeans_train
    from ai_iceberg_demo_spark.vector.similarity import ivf_topk

    corpus = load_table(spark, "embeddings", SF_DIR)
    exact = {r["vec_id"] for r in cosine_topk(corpus, _query_vec(spark), k=10).collect()}
    seed = {
        r["vec_id"]
        for r in ivf_topk(corpus, _query_vec(spark), k=10, n_cells=16, n_probe=8).collect()
    }
    cen = kmeans_train(corpus, k=16, n_iter=2)
    trained = {
        r["vec_id"]
        for r in ivf_topk(
            corpus, _query_vec(spark), k=10, n_cells=16, n_probe=8, centroids=cen
        ).collect()
    }
    assert len(trained & exact) >= len(seed & exact)
    assert len(trained & exact) / len(exact) >= 0.8


def test_assign_cells_ties_go_to_lowest_cell_id(spark):
    """A vector at equal cosine to two centroids lands in the lower
    cell_id, whatever order the centroid rows arrive in."""
    from ai_iceberg_demo_spark.vector.similarity import assign_cells

    cells = [(7, [0.0, 1.0, 0.0]), (3, [1.0, 0.0, 0.0]), (5, [0.0, 0.0, 1.0])]
    corpus = spark.createDataFrame(
        [(1, [1.0, 1.0, 0.0]), (2, [0.0, 2.0, 2.0]), (3, [0.0, 1.0, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    for order in (cells, cells[::-1]):
        centroids = spark.createDataFrame(order, "cell_id bigint, centroid array<double>")
        got = {r["vec_id"]: r["cell_id"] for r in assign_cells(corpus, centroids).collect()}
        assert got == {1: 3, 2: 5, 3: 7}


def test_ivf_deterministic(spark):
    from ai_iceberg_demo_spark.vector.similarity import ivf_topk

    corpus = load_table(spark, "embeddings", SF_DIR)
    a = ivf_topk(corpus, _query_vec(spark), k=5).collect()
    b = ivf_topk(corpus, _query_vec(spark), k=5).collect()
    assert a == b


def test_semantic_decontamination_flags_every_planted_twin(spark):
    """t17b: every planted benchmark twin (vec_id+1e6, cosine ~0.9999
    to its source) must be flagged with exactly its own benchmark
    source as the hit; no natural corpus vector reaches the 0.98 bar
    (fixture max cross-vector cosine ~0.47)."""
    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.similarity import (
        t17b_semantic_decontamination,
    )

    flagged = {
        r["vec_id"]: r
        for r in t17b_semantic_decontamination(spark, SF_DIR).collect()
    }
    bench_ids = {
        r["vec_id"]
        for r in load_table(spark, "embeddings", SF_DIR)
        .filter(F.col("vec_id") % 10 == 3)
        .select("vec_id")
        .collect()
    }
    assert bench_ids, "fixture must contain benchmark vectors"
    assert set(flagged) == {b + 1_000_000 for b in bench_ids}
    for vid, row in flagged.items():
        assert row["n_bench_hits"] == 1
        assert row["best_score"] >= 0.99


def test_knn_graph_recall_against_brute_force(spark):
    """v18: mean recall@3 of the LSH-blocked graph vs exact brute
    force ≥ 0.8, every node emits ≤ 3 ranked edges, no self-loops."""
    import numpy as np

    from ai_iceberg_demo_spark.vector.similarity import v18_knn_graph
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    rows = v18_knn_graph(spark, SF_DIR).collect()
    by_src = {}
    for r in rows:
        assert r["src"] != r["dst"]
        by_src.setdefault(r["src"], []).append(r)
    assert all(len(v) <= 3 for v in by_src.values())
    assert all(sorted(e["rank"] for e in v) == list(range(1, len(v) + 1))
               for v in by_src.values())

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in load_table(spark, "embeddings", SF_DIR).collect()
    }
    ids = sorted(emb)
    m = np.stack([emb[i] / np.linalg.norm(emb[i]) for i in ids])
    sims = m @ m.T
    np.fill_diagonal(sims, -2.0)
    order = np.array(ids)
    hits = total = 0
    for pos, i in enumerate(ids):
        true3 = set(order[np.argsort(-sims[pos])[:3]])
        got = {e["dst"] for e in by_src.get(i, [])}
        hits += len(got & true3)
        total += 3
    assert hits / total >= 0.8


def test_quantization_preserves_cosine_geometry(spark):
    """v20: dequantized int8 vectors reproduce pairwise cosine within
    2e-2 — the fidelity bound that makes the 4x compression usable for
    candidate generation (exact rerank stays fp)."""
    import numpy as np

    from ai_iceberg_demo_spark.vector.similarity import v20_quantize_embeddings
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    emb = {r["vec_id"]: np.array(r["embedding"], dtype=float)
           for r in load_table(spark, "embeddings", SF_DIR).collect()}
    dim = len(next(iter(emb.values())))
    lo = np.min(np.stack(list(emb.values())), axis=0)
    hi = np.max(np.stack(list(emb.values())), axis=0)

    q = {}
    for r in v20_quantize_embeddings(spark, SF_DIR).collect():
        q.setdefault(r["vec_id"], np.zeros(dim))[r["dim"]] = r["q"]
        assert -127 <= r["q"] <= 127
    assert set(q) == set(emb)

    ids = sorted(emb)[:50]
    span = np.where(hi > lo, hi - lo, 1.0)
    for i in ids[:10]:
        deq_i = (q[i] + 127) / 254 * span + lo
        for j in ids:
            if i == j:
                continue
            a, b = emb[i], emb[j]
            deq_j = (q[j] + 127) / 254 * span + lo
            true = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
            approx = deq_i @ deq_j / (np.linalg.norm(deq_i) * np.linalg.norm(deq_j))
            assert abs(true - approx) < 2e-2, (i, j, true, approx)


def test_vectorized_signatures_equal_hof_buckets(spark):
    """lsh_signatures (Arrow matmul) must be bit-identical to the
    per-table HOF lsh_bucket across every table — build and probe both
    rely on this equality."""
    from ai_iceberg_demo_spark.vector.similarity import (
        lsh_bucket,
        lsh_signatures,
        lsh_tables,
    )
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR
    import pyspark.sql.functions as SF

    corpus = load_table(spark, "embeddings", SF_DIR)
    tables = lsh_tables(n_tables=4, n_planes=5, seed=7, dim=64)
    cols = [lsh_bucket(SF.col("embedding"), p).alias(f"h{t}")
            for t, p in enumerate(tables)]
    cmp = corpus.select(
        lsh_signatures(SF.col("embedding"), tables).alias("sig"), *cols
    )
    bad = cmp.filter(
        ~((SF.col("sig")[0] == SF.col("h0")) & (SF.col("sig")[1] == SF.col("h1"))
          & (SF.col("sig")[2] == SF.col("h2")) & (SF.col("sig")[3] == SF.col("h3")))
    ).count()
    assert bad == 0


def test_matryoshka_eval_self_consistency(spark):
    """v22: the full-dimension prefix must recover its own top-5
    exactly (overlap 5); every overlap is in [0, 5]; one row per
    configured prefix."""
    from ai_iceberg_demo_spark.vector.similarity import (
        _MRL_K,
        _MRL_PREFIXES,
        v22_matryoshka_eval,
    )
    from tests.conftest import SF_DIR

    rows = {r["prefix_dim"]: r[f"overlap_at_{_MRL_K}"]
            for r in v22_matryoshka_eval(spark, SF_DIR).collect()}
    assert set(rows) == set(_MRL_PREFIXES)
    assert rows[64] == _MRL_K
    assert all(0 <= v <= _MRL_K for v in rows.values())


def test_label_noise_flags_planted_flip_only_in_clone_cluster(spark):
    """v24: plant a tight 4-clone cluster (3 × label 7, 1 × label 2)
    far inside its own cosine cone — the label-2 member's 3-NN are its
    unanimous label-7 twins, so it MUST be flagged; its twins (whose
    neighborhoods include each other and the victim, non-unanimous or
    matching) must NOT be."""
    import numpy as np

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.similarity import label_noise
    from tests.conftest import SF_DIR

    base = load_table(spark, "embeddings", SF_DIR)
    rng = np.random.RandomState(7)
    center = rng.randn(64)
    center /= np.linalg.norm(center)
    clones = []
    for i in range(4):
        v = center + 0.001 * rng.randn(64)
        clones.append(
            (int(2_000_000 + i), [float(x) for x in v], 2 if i == 0 else 7)
        )
    planted = spark.createDataFrame(
        clones, "vec_id long, embedding array<float>, label int"
    )
    flagged = {
        r["src"]: r for r in label_noise(base.unionByName(planted)).collect()
    }
    assert 2_000_000 in flagged
    assert flagged[2_000_000]["own_label"] == 2
    assert flagged[2_000_000]["neighbor_label"] == 7
    for twin in (2_000_001, 2_000_002, 2_000_003):
        assert twin not in flagged


def test_ivf_tuning_curve_is_monotone_and_exact_at_full_probe(spark):
    """v25: recall@3 and candidate cost must be non-decreasing in
    n_probe, and probing every cell (n_probe = n_cells = 8) must
    reproduce brute force exactly — recall 1.0."""
    from ai_iceberg_demo_spark.vector.similarity import v25_ivf_tuning_curve
    from tests.conftest import SF_DIR

    rows = sorted(
        v25_ivf_tuning_curve(spark, SF_DIR).collect(), key=lambda r: r["n_probe"]
    )
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    recalls = [r["recall_at_3"] for r in rows]
    cands = [r["avg_candidates"] for r in rows]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    assert rows[-1]["recall_at_3"] == 1.0


def test_lsh_tuning_curve_is_monotone(spark):
    """v27: candidate sets are NESTED in n_tables (a pair is a candidate
    for every n_tables > its min colliding table), so recall@3 and
    candidate volume must both be non-decreasing — and any candidate
    displacing a true top-3 hit from the approx top-3 outscores it, so
    it is itself a true top-3 member: hits can only grow."""
    from ai_iceberg_demo_spark.vector.similarity import v27_lsh_tuning_curve
    from tests.conftest import SF_DIR

    rows = sorted(
        v27_lsh_tuning_curve(spark, SF_DIR).collect(),
        key=lambda r: r["n_tables"],
    )
    assert [r["n_tables"] for r in rows] == [1, 2, 4, 8]
    recalls = [r["recall_at_3"] for r in rows]
    cands = [r["avg_candidates"] for r in rows]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    assert cands[-1] > cands[0]  # more tables must actually widen the net
    assert all(0.0 <= r <= 1.0 for r in recalls)
    assert recalls[-1] > 0.0  # 8 tables x 4 planes finds SOME true hits


def test_lsh_probe_det_is_replayable_and_scores_exact(spark):
    """v3d: the pinned-plane probe must be bit-replayable (no RNG), its
    scores descending, the query itself excluded, and every returned
    score must equal the numpy cosine of that pair to 6dp — the rerank
    is exact, only the candidate set is approximate."""
    import numpy as np

    from ai_iceberg_demo_spark.vector.similarity import v3d_lsh_probe_det
    from tests.conftest import SF_DIR

    rows = v3d_lsh_probe_det(spark, SF_DIR).collect()
    again = v3d_lsh_probe_det(spark, SF_DIR).collect()
    assert rows == again
    assert len(rows) == 5
    assert all(r["vec_id"] != 0 for r in rows)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, "embeddings", SF_DIR)
        .filter(F.col("vec_id").isin([0] + [r["vec_id"] for r in rows]))
        .collect()
    }
    q = emb[0]
    for r in rows:
        v = emb[r["vec_id"]]
        exact = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        assert abs(round(exact, 6) - r["score"]) < 2e-6


def test_binary_quantize_hamming_matches_numpy_sign_bits(spark):
    """v29: the two-word packed Hamming distance must equal the numpy
    sign-vector Hamming for every returned pair, each probe gets
    exactly 5 neighbors, recall5 is the per-probe mean of
    in_exact_top5, and distances sit in [0, 64]."""
    import numpy as np

    from ai_iceberg_demo_spark.vector.similarity import v29_binary_quantize
    from tests.conftest import SF_DIR

    rows = v29_binary_quantize(spark, SF_DIR).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert sorted(by_probe) == [0, 1, 2]
    assert all(len(v) == 5 for v in by_probe.values())

    need = {r["vec_id"] for r in rows} | set(by_probe)
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, "embeddings", SF_DIR)
        .filter(F.col("vec_id").isin(list(need)))
        .collect()
    }
    for pid, grp in by_probe.items():
        signs_p = emb[pid] > 0
        recalls = {r["recall5"] for r in grp}
        assert len(recalls) == 1
        assert recalls.pop() == round(
            sum(1.0 for r in grp if r["in_exact_top5"]) / 5, 2
        )
        for r in grp:
            assert 0 <= r["hamming"] <= 64
            exact_ham = int((signs_p != (emb[r["vec_id"]] > 0)).sum())
            assert r["hamming"] == exact_ham


def test_product_quantization_adc_matches_numpy_codebook(spark):
    """v30: replay the whole PQ pipeline in numpy — seed codebook from
    the first 16 vectors' sub-blocks, encode by L2 argmin (4dp-rounded,
    tie to lowest code), ADC from the probe LUT — and demand the Spark
    ADC match to 1e-5 for every returned row; 5 rows per probe and
    recall5 = the per-probe mean of in_exact_top5."""
    import numpy as np

    from ai_iceberg_demo_spark.vector.similarity import (
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
        v30_product_quantization,
    )
    from tests.conftest import SF_DIR

    rows = v30_product_quantization(spark, SF_DIR).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert sorted(by_probe) == [0, 1, 2]
    assert all(len(v) == 5 for v in by_probe.values())

    need = {r["vec_id"] for r in rows} | set(by_probe) | set(range(_PQ_K))
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, "embeddings", SF_DIR)
        .filter(F.col("vec_id").isin(list(need)))
        .collect()
    }
    # codebook[m][k] = sub-block m of seed vector k
    def sub(v, m):
        return v[m * _PQ_DSUB : (m + 1) * _PQ_DSUB]

    def encode(v):
        out = []
        for m in range(_PQ_M):
            dists = [
                (round(float(np.linalg.norm(sub(v, m) - sub(emb[k], m))), 4), k)
                for k in range(_PQ_K)
            ]
            out.append(min(dists)[1])
        return out

    for pid, grp in by_probe.items():
        p = emb[pid]
        recalls = {r["recall5"] for r in grp}
        assert recalls.pop() == round(
            sum(1.0 for r in grp if r["in_exact_top5"]) / 5, 2
        )
        for r in grp:
            codes = encode(emb[r["vec_id"]])
            adc = np.sqrt(
                sum(
                    float(np.linalg.norm(sub(p, m) - sub(emb[c], m))) ** 2
                    for m, c in enumerate(codes)
                )
            )
            assert abs(round(adc, 6) - r["adc"]) < 1e-5, (pid, r["vec_id"])
            exact = float(np.linalg.norm(p - emb[r["vec_id"]]))
            assert abs(round(exact, 6) - r["l2"]) < 1e-5


def test_tombstone_search_never_serves_deleted_and_flags_promotions(spark):
    """v31: no tombstoned (vec_id%50==0) id may appear in any result,
    each probe returns exactly 5 live hits, promoted rows are exactly
    those absent from the unfiltered numpy top-5, and scores match the
    exact cosine."""
    import numpy as np

    from ai_iceberg_demo_spark.vector.similarity import v31_tombstone_search
    from tests.conftest import SF_DIR

    rows = v31_tombstone_search(spark, SF_DIR).collect()
    assert all(r["vec_id"] % 50 != 0 for r in rows)
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["qid"], []).append(r)
    assert sorted(by_probe) == [0, 1, 2]
    assert all(len(v) == 5 for v in by_probe.values())

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, "embeddings", SF_DIR).collect()
    }
    for qid, grp in by_probe.items():
        q = emb[qid]
        qn = np.linalg.norm(q)
        scored = sorted(
            (
                (round(float(q @ v / (qn * np.linalg.norm(v))), 6), vid)
                for vid, v in emb.items()
                if vid != qid
            ),
            key=lambda t: (-t[0], t[1]),
        )
        top5_all = {vid for _, vid in scored[:5]}
        for r in grp:
            assert (r["vec_id"] not in top5_all) == r["promoted"], r
            exact = next(s for s, vid in scored if vid == r["vec_id"])
            assert abs(exact - r["score"]) < 2e-6
