"""Vector similarity — SURVEY.md §2.10 (V3–V5, J6) + ANN scale path.

The reference stores 1536-d embeddings on Result nodes and runs cosine
top-k through a Neo4j vector index (`neo4j_rag.py:144-157,256-279`),
with two calibrated regimes: semantic-cache hit (top-1, ≥0.80,
`research_manager.py:333`) and RAG context (top-3, ≥0.50, `:407`).

Spark-first: cosine is a pure column expression over
ArrayType — `zip_with` product + `aggregate` sum, all JVM-side (no
UDF). Arrays are cast to double before the dot so Spark and the DuckDB
oracle sum identical IEEE doubles in identical order.

Scale path (100 TB): exact cosine is a full scan — fine for one query
vector (map-only + TakeOrderedAndProject), quadratic for joins. The
similarity join therefore equi-joins on a bucket key first (here the
fixture's cluster label; in production an LSH band or IVF cell from
``lsh_bucket``/``ann_topk``) so the cross product never materializes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import fan_out_small_input, load_table, persist_once

REGISTRY = Registry()


# ---------------------------------------------------------------------------
# Column-expression library
# ---------------------------------------------------------------------------


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-sum dot product — JVM-side, bit-compatible with the
    oracle's list_dot_product over double lists."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    a, b = as_double(a), as_double(b)
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def with_norm(df: DataFrame, vec_col: str, vec_out: str, norm_out: str) -> DataFrame:
    """Project the double-cast vector and its l2 norm ONCE per row.
    Pairwise cosine then becomes dot(av,bv)/(na·nb) — the identical
    arithmetic `cosine()` performs (so results are bit-equal and the
    oracle SQL needs no change), but the two norms are paid O(rows)
    instead of O(pairs). On the label-blocked dedup join this measured
    3.5× end-to-end at sf0.1."""
    v = as_double(F.col(vec_col))
    return df.withColumn(vec_out, v).withColumn(
        norm_out, F.sqrt(dot(F.col(vec_out), F.col(vec_out)))
    )


_COS_SQL = (
    "LIST_DOT_PRODUCT(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (SQRT(LIST_DOT_PRODUCT(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * SQRT(LIST_DOT_PRODUCT(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def cosine_topk(
    corpus: DataFrame, query_vec: DataFrame, k: int, min_score: float = -1.0
) -> DataFrame:
    """Exact top-k: broadcast the 1-row query, map-side cosine, global
    TakeOrderedAndProject — no shuffle of the corpus.

    Reference: db.index.vector.queryNodes (neo4j_rag.py:256-279).
    `query_vec` must expose a single row with column `qvec`.
    """
    score = F.round(cosine(F.col("embedding"), F.col("qvec")), 6)
    return (
        corpus.crossJoin(F.broadcast(query_vec))
        .select("vec_id", score.alias("score"))
        .filter(F.col("score") >= min_score)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane LSH signature: sign bits of `planes @ vec`,
    packed into a BIGINT bucket id. Deterministic given the seed used
    to draw `planes`. At 100 TB the corpus is written bucketed by this
    key (Iceberg bucket partition transform) so an ANN probe touches
    only matching buckets."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        bit = (dot(as_double(vec), plane_col) > 0).cast("long")
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def lsh_signatures(
    vec: Column, tables: list[np.ndarray], round_digits: int | None = None
) -> Column:
    """All L bucket ids for a vector in ONE Arrow-batched matmul:
    (batch × dim) @ (dim × L·k) sign bits, packed per table into a
    length-L long array. Bit-identical to applying `lsh_bucket` per
    table (pinned by test) but vectorized: the HOF spelling builds
    L·k interpreted aggregate() chains that never enter whole-stage
    codegen — measured 9× slower at 60 planes. This is the documented
    Python-seam exception (f30's rule): a dense numeric kernel with no
    relational form, Arrow-batched, map-only.

    ``round_digits`` rounds each plane·vec dot before the sign test —
    the quantization that makes a signature replayable bit-exactly by
    a SQL engine summing in a different order (v27/v3d's oracles)."""
    planes = np.stack(tables)  # (T, K, dim)
    n_tables_, n_planes_, _dim = planes.shape
    flat = planes.reshape(n_tables_ * n_planes_, _dim)
    weights = (1 << np.arange(n_planes_)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(v.to_numpy()).astype(np.float64)
        dots = x @ flat.T
        if round_digits is not None:
            dots = np.round(dots, round_digits)
        bits = (dots > 0).reshape(len(x), n_tables_, n_planes_)
        return pd.Series(list(bits @ weights))

    return _sigs(vec)


def md5_planes(n_tables: int, n_planes: int, dim: int) -> list[np.ndarray]:
    """A PINNED hyperplane family derived from MD5, not an RNG: plane
    component (t, p, i) = (int(md5(f"lsh#{t}#{p}#{i}")[:8], 16) % 2001
    - 1000) / 1000. Same recall behavior as seeded Gaussian planes for
    sign-test LSH (only the direction matters), but every component is
    replayable in ANSI SQL — which upgrades the LSH index family from
    rows-only recall tests to hash-checked oracles (v27/v3d), the
    discipline v11c/v12b applied to clustering."""
    import hashlib

    out = []
    for t in range(n_tables):
        tbl = np.empty((n_planes, dim))
        for p in range(n_planes):
            for i in range(dim):
                h = int(
                    hashlib.md5(f"lsh#{t}#{p}#{i}".encode()).hexdigest()[:8], 16
                )
                tbl[p, i] = (h % 2001 - 1000) / 1000.0
        out.append(tbl)
    return out


#: SQL twin of ``md5_planes`` — one (t, p, i, w) row per component.
_MD5_PLANES_SQL = """
        SELECT t.t, p.p, i.i,
               ((('0x' || SUBSTR(MD5('lsh#' || CAST(t.t AS VARCHAR) || '#'
                                  || CAST(p.p AS VARCHAR) || '#'
                                  || CAST(i.i AS VARCHAR)), 1, 8))::BIGINT
                 % 2001) - 1000) / 1000.0 AS w
        FROM (SELECT UNNEST(GENERATE_SERIES(0, {tmax})) AS t) t,
             (SELECT UNNEST(GENERATE_SERIES(0, {pmax})) AS p) p,
             (SELECT UNNEST(GENERATE_SERIES(0, {imax})) AS i) i
"""

#: SQL twin of the signature step: expects CTEs ``planes`` (t, p, i, w)
#: and ``comps`` (vec_id, i, x); defines ``dots`` then ``sigs``
#: (vec_id, t, b) — per-table bucket ids from rounded-dot sign bits.
_MD5_SIGS_SQL = """
        dots AS (
            SELECT c.vec_id, pl.t, pl.p, ROUND(SUM(pl.w * c.x), 6) AS d
            FROM comps c JOIN planes pl ON pl.i = c.i
            GROUP BY c.vec_id, pl.t, pl.p
        ), sigs AS (
            SELECT vec_id, t,
                   SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END) AS b
            FROM dots GROUP BY vec_id, t
        )
"""


def lsh_tables(n_tables: int, n_planes: int, seed: int, dim: int) -> list[np.ndarray]:
    """The deterministic plane family shared by index build and probe:
    L tables × k hyperplanes each, drawn from one seeded RNG. Build and
    probe MUST use identical (n_tables, n_planes, seed, dim) — the
    persisted index stores them in its meta table."""
    rng = np.random.RandomState(seed)
    return [rng.randn(n_planes, dim) for _ in range(n_tables)]


def build_lsh_index(
    corpus: DataFrame,
    n_tables: int = 8,
    n_planes: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """The persistable LSH index relation: (t, b, vec_id) — one row per
    (table, bucket) membership. This is M5's index artifact: at 100 TB
    it is written PARTITIONED BY (t, bucket(N, b)) on Iceberg so a
    probe prunes to L point-partition reads."""
    tables = lsh_tables(n_tables, n_planes, seed, dim)
    return corpus.select(
        "vec_id",
        F.posexplode(lsh_signatures(F.col("embedding"), tables)).alias("t", "b"),
    ).select("t", "b", "vec_id")


def lsh_probe(
    index: DataFrame,
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int,
    n_tables: int,
    n_planes: int,
    seed: int,
    dim: int,
    min_score: float = -1.0,
) -> DataFrame:
    """Probe a persisted LSH index: hash the query with the same plane
    family, equi-join (t, b) against the index for candidates, then
    exact-rerank candidates by cosine. The corpus is touched only for
    candidate vec_ids (a semi-join-shaped broadcast at realistic
    candidate counts)."""
    tables = lsh_tables(n_tables, n_planes, seed, dim)
    q_buckets = query_vec.select(
        F.posexplode(lsh_signatures(F.col("qvec"), tables)).alias("t", "b")
    )
    cand_ids = index.join(F.broadcast(q_buckets), ["t", "b"]).select("vec_id").distinct()
    candidates = corpus.join(cand_ids, "vec_id")
    score = F.round(cosine(F.col("embedding"), F.col("qvec")), 6)
    return (
        candidates.crossJoin(F.broadcast(query_vec))
        .select("vec_id", score.alias("score"))
        .filter(F.col("score") >= min_score)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def ann_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int,
    n_tables: int = 8,
    n_planes: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    L independent hash tables of k planes each (the classic LSH recall
    amplifier: per-table collision p^k, overall 1-(1-p^k)^L). A
    candidate is any row sharing the query's bucket in ≥1 table;
    candidates are exact-reranked by cosine. Tuning: more planes →
    fewer candidates/lower recall per table; more tables → higher
    recall/more candidates.

    At 100 TB the corpus is written once per table partition-bucketed
    by (table_idx, bucket) — Iceberg partition pruning turns the probe
    into L point-partition reads; the rerank touches only candidates.
    Exact `cosine_topk` remains the correctness surface.
    """
    tables = lsh_tables(n_tables, n_planes, seed, dim)
    bucketed = corpus.select(
        "vec_id",
        "embedding",
        F.posexplode(lsh_signatures(F.col("embedding"), tables)).alias("t", "b"),
    )
    q = query_vec.select(
        "qvec", F.posexplode(lsh_signatures(F.col("qvec"), tables)).alias("t", "b")
    )
    score = F.round(cosine(F.col("embedding"), F.col("qvec")), 6)
    candidates = (
        bucketed.join(F.broadcast(q), ["t", "b"])
        .select("vec_id", "embedding", "qvec")
        .dropDuplicates(["vec_id"])
    )
    return (
        candidates.select("vec_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> DataFrame:
    return (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("vec_id") == vec_id)
        .select(F.col("embedding").alias("qvec"))
    )


# ---------------------------------------------------------------------------
# Oracle-checked queries
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v3_cosine_topk",
    survey_ref="V3,O4",
    doc="cosine top-5 for one query vector (neo4j_rag.py:256-279, default "
    "k=5 at :217).",
    oracle=f"""
        WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               ROUND({_COS_SQL.format(a="e.embedding", b="q.qvec")}, 6) AS score
        FROM embeddings e, q
        ORDER BY score DESC, e.vec_id
        LIMIT 5
    """,
    bench=True,
)
def v3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    return cosine_topk(corpus, _query_vec(spark, sf_dir), k=5)


@REGISTRY.register(
    name="v4_semantic_cache_gate",
    survey_ref="V4,E1",
    doc="semantic-cache hit: top-1 with min_score 0.8 short-circuits the "
    "pipeline (neo4j_rag.py:305-331; research_manager.py:333).",
    oracle=f"""
        WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id,
                   ROUND({_COS_SQL.format(a="e.embedding", b="q.qvec")}, 6) AS score
            FROM embeddings e, q
        )
        SELECT vec_id, score FROM scored
        WHERE score >= 0.8
        ORDER BY score DESC, vec_id
        LIMIT 1
    """,
)
def v4_semantic_cache_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    return cosine_topk(corpus, _query_vec(spark, sf_dir), k=1, min_score=0.8)


@REGISTRY.register(
    name="v5_context_retrieval",
    survey_ref="V5,F5,F10",
    doc="RAG context assembly: top-3 ≥0.5, join to documents, truncate "
    "content (research_manager.py:383-424; neo4j_rag.py:333-375).",
    oracle=f"""
        WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id,
                   ROUND({_COS_SQL.format(a="e.embedding", b="q.qvec")}, 6) AS score
            FROM embeddings e, q
        ), topk AS (
            SELECT vec_id, score FROM scored WHERE score >= 0.5
            ORDER BY score DESC, vec_id LIMIT 3
        )
        SELECT t.vec_id, t.score,
               'From result ' || CAST(t.vec_id AS VARCHAR) || ': ' || SUBSTR(d.text, 1, 200) AS snippet
        FROM topk t JOIN documents d ON t.vec_id = d.doc_id
    """,
)
def v5_context_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    topk = cosine_topk(corpus, _query_vec(spark, sf_dir), k=3, min_score=0.5)
    return topk.join(docs, topk.vec_id == docs.doc_id).select(
        "vec_id",
        "score",
        F.concat(
            F.lit("From result "),
            F.col("vec_id").cast("string"),
            F.lit(": "),
            F.substring("text", 1, 200),
        ).alias("snippet"),
    )


@REGISTRY.register(
    name="j6_similarity_join",
    survey_ref="J6",
    doc="similarity theta-join (neo4j_rag.py:258-279): probe sample vs "
    "corpus, cosine ≥ 0.9, aggregated per probe. At scale the probe side "
    "is LSH-bucketed (see lsh_bucket) so the cross product never forms.",
    oracle=f"""
        WITH probe AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100)
        SELECT p.vec_id AS probe_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               ROUND(MAX(CASE WHEN e.vec_id <> p.vec_id THEN
                   ROUND({_COS_SQL.format(a="e.embedding", b="p.embedding")}, 6) END), 6) AS best_other
        FROM probe p JOIN embeddings e
          ON ROUND({_COS_SQL.format(a="e.embedding", b="p.embedding")}, 6) >= 0.9
        GROUP BY p.vec_id
    """,
)
def j6_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_norm(load_table(spark, "embeddings", sf_dir), "embedding", "cv", "cn")
    probe = with_norm(
        load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 100), "embedding", "pv", "pn"
    ).select(F.col("vec_id").alias("probe_id"), "pv", "pn")
    # norms hoisted per row (with_norm) — only the dot is per pair
    score = F.round(dot(F.col("cv"), F.col("pv")) / (F.col("cn") * F.col("pn")), 6)
    return (
        emb.crossJoin(F.broadcast(probe))
        .withColumn("score", score)
        .filter(F.col("score") >= 0.9)
        .groupBy("probe_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.round(
                F.max(F.when(F.col("vec_id") != F.col("probe_id"), F.col("score"))), 6
            ).alias("best_other"),
        )
    )


@REGISTRY.register(
    name="v3b_ann_topk",
    survey_ref="V3,E2 (scale path)",
    doc="approximate top-k via multi-table random-hyperplane LSH "
    "(ann_topk): candidates from bucket collisions, exact cosine rerank. "
    "Deterministic (seeded planes) but intentionally approximate, so no "
    "SQL oracle; recall vs exact cosine_topk is asserted ≥ 0.8 in "
    "tests/test_similarity.py.",
    oracle=None,
)
def v3b_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    return ann_topk(corpus, _query_vec(spark, sf_dir), k=5)


def assign_cells(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF cell assignment: each vector goes to its nearest centroid
    (max cosine), ties to the lowest cell_id. Map-only: the k centroids
    broadcast as ONE row holding their array, each corpus row scores
    all of them in place and ``array_max(struct(score, -cell_id,
    cell_id))`` picks the cell — no shuffle of the corpus, and one
    output row per input row (callers dedup vec_id)."""
    # norms hoisted per corpus row / per centroid (with_norm pattern);
    # only the dot is per (row, centroid)
    c = with_norm(corpus, "embedding", "_cv", "_cn")
    cells = with_norm(centroids, "centroid", "_zv", "_zn").agg(
        F.collect_list(F.struct("cell_id", "_zv", "_zn")).alias("_cells")
    )
    best = F.array_max(
        F.transform(
            "_cells",
            lambda z: F.struct(
                (dot(F.col("_cv"), z["_zv"]) / (F.col("_cn") * z["_zn"])).alias("s"),
                (-z["cell_id"]).alias("neg_id"),
                z["cell_id"].alias("cell_id"),
            ),
        )
    )
    return c.crossJoin(F.broadcast(cells)).select(
        "vec_id", best["cell_id"].alias("cell_id"), "embedding"
    )


def ivf_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) cells — the second
    scale path next to LSH (``ann_topk``).

    ``centroids`` (cell_id, centroid) is normally the k-means table from
    ``vector.clustering.kmeans_train`` — trained cells follow the data's
    density, so probes recover more of the true neighborhood than any
    fixed partition. When omitted, falls back to the first ``n_cells``
    corpus vectors (deterministic, train-free). Probe: rank cells by
    query-centroid cosine, scan the best ``n_probe`` cells, exact-rerank
    candidates.

    At 100 TB the corpus is written partition-bucketed by cell_id
    (Iceberg partition transform), so a probe reads n_probe partitions
    — the classic IVF pruning — and the rerank touches only those
    candidates. Recall tuning = n_probe/n_cells ratio.
    """
    if centroids is None:
        centroids = corpus.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
        )
    assigned = assign_cells(corpus, centroids)
    return ivf_probe(assigned, centroids, query_vec, k, n_probe=n_probe)


def ivf_candidate_pairs(
    assigned: DataFrame, centroids: DataFrame, probes: DataFrame, n_probe: int = 4
) -> DataFrame:
    """(qid, vec_id) candidate pairs from a persisted IVF index for
    MANY probe vectors at once — the multi-query sibling of
    ``ivf_probe``, feeding set-oriented pipelines (every workflow's
    probe in one plan). ``probes`` is (qid, qv).

    Cell ranking runs over the k×|probes| centroid cross — a
    driver-free frame of a few hundred rows — then the n_probe cells
    per probe broadcast onto the index table's cell_id equi-join: at
    100 TB the index is partitioned by cell_id, so each probe touches
    n_probe partitions and the corpus is never scanned whole. Rerank
    (exact scoring of the pairs) is the caller's, so score arithmetic
    stays identical to its exact path."""
    from pyspark.sql import Window

    cell_scores = centroids.crossJoin(
        F.broadcast(probes.select("qid", F.col("qv").alias("_pv")))
    ).select("qid", "cell_id", cosine(F.col("centroid"), F.col("_pv")).alias("c_score"))
    w = Window.partitionBy("qid").orderBy(F.desc("c_score"), F.asc("cell_id"))
    cells = (
        cell_scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select("qid", "cell_id")
    )
    return assigned.join(F.broadcast(cells), "cell_id").select("qid", "vec_id")


def ivf_probe(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: DataFrame,
    k: int,
    n_probe: int = 4,
    min_score: float = -1.0,
) -> DataFrame:
    """Probe a prebuilt IVF index: rank cells by query-centroid cosine,
    scan the best ``n_probe`` cells, exact-rerank the candidates.

    ``assigned`` is the persisted (vec_id, cell_id, embedding) table —
    bucketed/partitioned by cell_id in production so the probe's
    equi-join prunes to n_probe partition reads; ``centroids`` is the
    k×dim table (broadcast twice: once to rank cells, never against the
    corpus)."""
    probe_cells = (
        centroids.crossJoin(F.broadcast(query_vec))
        .select("cell_id", cosine(F.col("centroid"), F.col("qvec")).alias("c_score"))
        .orderBy(F.desc("c_score"), F.asc("cell_id"))
        .limit(n_probe)
        .select("cell_id")
    )
    candidates = assigned.join(F.broadcast(probe_cells), "cell_id")
    score = F.round(cosine(F.col("embedding"), F.col("qvec")), 6)
    return (
        candidates.crossJoin(F.broadcast(query_vec))
        .select("vec_id", score.alias("score"))
        .filter(F.col("score") >= F.lit(min_score))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


@REGISTRY.register(
    name="v3c_ivf_topk",
    survey_ref="V3,E2 (scale path)",
    doc="approximate top-k via IVF cells (ivf_topk) over TRAINED "
    "k-means centroids (clustering.kmeans_train — Lloyd rounds, "
    "deterministic seed): nearest-centroid partitioning, n_probe-cell "
    "probe, exact rerank — deterministic but approximate (no SQL "
    "oracle); recall vs exact asserted in tests/test_similarity.py for "
    "both trained and seed centroids.",
    oracle=None,
)
def v3c_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.vector.clustering import kmeans_train

    # r12: cell assignment + rerank map work serializes on the
    # single-file fixture scan — fan out (see t17b)
    corpus = fan_out_small_input(load_table(spark, "embeddings", sf_dir))
    centroids = kmeans_train(corpus, k=16, n_iter=2)
    return ivf_topk(corpus, _query_vec(spark, sf_dir), k=5, centroids=centroids)


_SEM_DECON_TAU = 0.98  # same bar as d5/d8 so the three are comparable


@REGISTRY.register(
    name="t17b_semantic_decontamination",
    survey_ref="training-data (decontamination, semantic); V3,V7",
    doc="t17's semantic sibling: flag training vectors whose embedding "
    "is near-identical (cosine >= 0.98) to ANY held-out benchmark "
    "vector — catches paraphrased/reformatted leakage that 8-gram "
    "matching (t17) misses. Benchmark = vec_id%10==3; the corpus is "
    "salted with planted twins of the benchmark rows (vec_id+1e6, "
    "first component +0.01 — clustering.salt_near_dups' convention) "
    "so leakage provably exists at every SF. The benchmark side is "
    "KBs against a 100 TB corpus: it broadcasts, the corpus is one "
    "map-side scan (norms hoisted per row), and only flagged pairs "
    "reach the tiny per-vector aggregation.",
    oracle=f"""
        WITH bench AS (
            SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS bvec
            FROM embeddings WHERE vec_id % 10 = 3
        ), corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id % 10 <> 3
            UNION ALL
            SELECT vec_id + 1000000,
                   LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                                  (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END)
            FROM embeddings WHERE vec_id % 10 = 3
        ), pairs AS (
            SELECT c.vec_id, b.bench_id,
                   ROUND({_COS_SQL.format(a="c.cvec", b="b.bvec")}, 6) AS score
            FROM corpus c, bench b
            WHERE ROUND({_COS_SQL.format(a="c.cvec", b="b.bvec")}, 6) >= {_SEM_DECON_TAU}
        )
        SELECT vec_id,
               CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
               MAX(score) AS best_score
        FROM pairs GROUP BY vec_id
    """,
)
def t17b_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: the corpus×bench HOF-cosine map work serializes on the
    # single-file fixture scan — fan it out (no-op at cluster scale)
    emb = fan_out_small_input(load_table(spark, "embeddings", sf_dir))
    base = emb.select("vec_id", as_double(F.col("embedding")).alias("embedding"))
    bench_raw = base.filter(F.col("vec_id") % 10 == 3)
    # planted twins OF THE BENCHMARK rows — semantic leakage to catch
    twins = bench_raw.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x),
        ).alias("embedding"),
    )
    corpus = with_norm(
        base.filter(F.col("vec_id") % 10 != 3).unionByName(twins), "embedding", "cv", "cn"
    )
    bench = with_norm(bench_raw, "embedding", "bv", "bn").select(
        F.col("vec_id").alias("bench_id"), "bv", "bn"
    )
    score = F.round(dot(F.col("cv"), F.col("bv")) / (F.col("cn") * F.col("bn")), 6)
    pairs = (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", "bench_id", score.alias("score"))
        .filter(F.col("score") >= _SEM_DECON_TAU)
    )
    return pairs.groupBy("vec_id").agg(
        F.count("*").alias("n_bench_hits"), F.max("score").alias("best_score")
    )


# ---------------------------------------------------------------------------
# V18: k-NN graph construction (LSH-blocked)
# ---------------------------------------------------------------------------


#: occupancy discipline for knn_graph's bucket index (r9 — kills the
#: one remaining quadratic-trending plan, 183 s at sf10):
_KNN_SPLIT_BITS = 8  # secondary planes per table → ≤256-way sub-split
_KNN_SOFT_CAP_MULT = 2  # buckets ≤ 2×target stay whole
_KNN_HARD_CAP_MULT = 3  # sub-buckets > 3×target get vec_id-salted


def knn_graph(
    corpus: DataFrame,
    k: int = 3,
    n_tables: int = 12,
    n_planes: int | None = None,
    seed: int = 42,
    dim: int = 64,
    target_bucket: int = 64,
) -> DataFrame:
    """Approximate k-nearest-neighbor graph: for every vector, its top-k
    cosine neighbors among LSH candidates (any pair colliding in ≥1 of
    L hash tables). The substrate for graph-based dedup-clustering,
    HNSW-style index seeding, and label propagation.

    Never all-pairs: candidate pairs are vectors sharing an LSH bucket
    in ≥1 of L tables. The rerank is BUCKET-LOCAL: one groupBy shuffle
    co-locates each bucket's members (vector payload moves exactly L
    times per row — bounded by table count, NOT by candidate degree),
    then one Arrow-batched numpy matmul per bucket scores its pairs.

    Two disciplines make the plan LINEAR in corpus size (r9; before
    them sf10 ran 16.9× sf1's wall at 10× the data — SCALE.md):

    1. **Occupancy is CAPPED, not just targeted.** The adaptive plane
       count (ceil(log2(n/target))) keeps the AVERAGE bucket ~target,
       but dense regions produce hot buckets whose size grows with the
       corpus, and per-bucket cost is occupancy² — Σ size² at sf10 was
       626 M pair-slots, 51% of it in the 413 buckets over 512. So:
       any bucket over 2×target splits by ceil(log2(m/target)) extra
       SIGN BITS from a secondary per-table hyperplane family
       (geometry-preserving: a true near pair co-signs the secondary
       planes with prob (1-θ/π)^bits, while unrelated co-bucket mass
       scatters), and any sub-bucket STILL over 3×target (a
       near-identical cluster no hyperplane separates) gets a
       deterministic xxhash64(vec_id, t) salt down to ~1.5×target.
       Salting a degenerate cluster costs no usable recall: every
       member's true top-k lies inside the cluster and each salt cell
       still holds ~1.5×target interchangeable members, with 12
       independently-salted tables giving 12 draws.
    2. **Per-src top-k emits INSIDE the kernel.** Exact, not a
       heuristic: if c is in src's global candidate top-k, no bucket
       can hold k better-scoring candidates (they'd outrank c
       globally), so c survives its own bucket's per-src top-k. This
       turns the shuffle after the matmul from Σ size² rows (the real
       183 s term) into ≤ k·L·N.

    Cross-table duplicate survivors carry bit-identical scores (same
    two operand vectors), so one (src, dst) max-agg dedupes them and a
    per-src window keeps k. At 100 TB the bucket index is the
    persisted M5 artifact partitioned by (t, bucket(b)); the two
    occupancy counts are column-pruned aggs over it, the hot-bucket
    lists broadcast (few by construction), and the per-src top-k
    window partitions by src (uniform key), no skew. Recall vs brute
    force is pinned in tests/test_similarity.py. The signature table
    is persisted once (the plane-sizing count doubles as its
    materializing action); the harness releases it via
    facade.release_caches.
    """
    import math

    from pyspark.sql import Window as W

    soft_cap = _KNN_SOFT_CAP_MULT * target_bucket
    hard_cap = _KNN_HARD_CAP_MULT * target_bucket
    salt_target = max(1, (3 * target_bucket) // 2)

    norm = with_norm(corpus, "embedding", "v", "n").select("vec_id", "v", "n")
    # candidate volume per table is Σ bucket², and buckets average
    # n/2^planes — planes MUST grow with log(n) or the bucket matmuls
    # re-approach all-pairs as the corpus grows (measured: 3 planes is
    # 0.6 s at 500 vectors but 9 s at 5 000).
    n = norm.count()
    if n_planes is None:
        n_planes = max(3, math.ceil(math.log2(max(2.0, n / target_bucket))))
    tables = lsh_tables(n_tables, n_planes, seed, dim)
    # secondary family (seed+1): _KNN_SPLIT_BITS extra sign bits per
    # table, consumed MSB-first so e bits of split reuse the same
    # signature. Stacked under the primary planes so ONE Arrow matmul
    # yields both (the primary low bits stay bit-identical to
    # lsh_signatures over `tables` alone); split apart with bit ops
    # after the posexplode.
    extra_tables = lsh_tables(n_tables, _KNN_SPLIT_BITS, seed + 1, dim)
    stacked = [np.vstack([t, x]) for t, x in zip(tables, extra_tables)]
    bucketed = (
        norm.select(
            "vec_id", "v", "n",
            F.posexplode(lsh_signatures(F.col("v"), stacked)).alias("t", "sig"),
        )
        .select(
            "vec_id", "v", "n", "t",
            F.col("sig").bitwiseAND(F.lit((1 << n_planes) - 1)).alias("b"),
            F.shiftright(F.col("sig"), n_planes).alias("xb"),
        )
        .transform(persist_once)  # feeds both occupancy counts + rerank
    )
    # occupancy audit #1: column-pruned count over the cached index
    sizes = bucketed.groupBy("t", "b").agg(F.count("*").alias("m"))
    hot = sizes.filter(F.col("m") > soft_cap)
    ext = bucketed.join(F.broadcast(hot), ["t", "b"], "left").withColumn(
        "sub",
        # e = ceil(log2(m/target)) extra bits, clamped to the family
        # width; cold rows (m NULL) take e=0 → sub = b<<BITS, unchanged
        F.expr(
            f"shiftleft(b, {_KNN_SPLIT_BITS}) + shiftright(xb, "
            f"{_KNN_SPLIT_BITS} - CASE WHEN m IS NULL THEN 0 ELSE "
            f"least({_KNN_SPLIT_BITS}, CAST(ceil(log2(m / "
            f"{target_bucket}.0)) AS INT)) END)"
        ),
    )
    # occupancy audit #2: sub-buckets a near-identical cluster kept hot
    sizes2 = ext.groupBy("t", "sub").agg(F.count("*").alias("m2"))
    hot2 = sizes2.filter(F.col("m2") > hard_cap)
    keyed = ext.join(F.broadcast(hot2), ["t", "sub"], "left").withColumn(
        "salt",
        F.when(F.col("m2").isNull(), F.lit(0)).otherwise(
            F.pmod(
                F.xxhash64(F.col("vec_id"), F.col("t")),
                F.ceil(F.col("m2") / salt_target).cast("long"),
            )
        ),
    )

    def _bucket_scores(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"src": [], "dst": [], "score": []}).astype(
                {"src": "int64", "dst": "int64", "score": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        vecs = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = pdf["n"].to_numpy(dtype=np.float64)
        sims = np.round((vecs @ vecs.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(sims, -np.inf)
        # per-src top-k INSIDE the kernel (exact — see docstring):
        # order by (-score, dst) to match the final window's tiebreak
        kk = min(k, m - 1)
        order = np.lexsort((ids[None, :].repeat(m, 0), -sims), axis=1)[:, :kk]
        i = np.repeat(np.arange(m), kk)
        j = order.ravel()
        return pd.DataFrame(
            {"src": ids[i], "dst": ids[j], "score": sims[i, j]}
        )

    scored = keyed.groupBy("t", "sub", "salt").applyInPandas(
        _bucket_scores, "src long, dst long, score double"
    )
    edges = scored.groupBy("src", "dst").agg(F.max("score").alias("score"))
    w = W.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "score", "rank")
    )


@REGISTRY.register(
    name="v18_knn_graph",
    survey_ref="V3/E2 extra (k-NN graph)",
    bench=True,
    doc="approximate 3-NN graph over the embedding corpus: candidate "
    "edges from the LSH bucket-index self-join (never all-pairs), "
    "exact cosine rerank, per-src top-3 by window. 12 tables; plane "
    "count adapts as ceil(log2(n/64)) so buckets stay ~64 rows at any "
    "corpus size (recall@3 ~ 0.95 at fixture scale). "
    "Deterministic (seeded planes) but approximate, so no SQL oracle; "
    "recall vs brute force is asserted in tests/test_similarity.py.",
    oracle=None,
)
def v18_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    return knn_graph(corpus, k=3)


# ---------------------------------------------------------------------------
# V19: contrastive pair mining (anchors → positive + hard negative)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v19_contrastive_mining",
    survey_ref="V3/V7 extra (contrastive training pairs)",
    doc="contrastive-pair mining for embedding training: for each "
    "anchor (vec_id%50==0) the highest-cosine SAME-label vector is "
    "the positive and the highest-cosine DIFFERENT-label vector is "
    "the hard negative — the triplet hardest for the current model "
    "to separate. The anchor set is KBs against a 100 TB corpus: it "
    "broadcasts into one map-side scored scan (t17b's shape), and "
    "only per-(anchor,side) top-1 survives a window over the "
    "anchor-bounded pair set. Exact, so fully SQL-oracled.",
    oracle=f"""
        WITH anchors AS (
            SELECT vec_id AS anchor_id, label AS alabel,
                   CAST(embedding AS DOUBLE[]) AS avec
            FROM embeddings WHERE vec_id % 50 = 0
        ), scored AS (
            SELECT a.anchor_id, e.vec_id, (e.label = a.alabel) AS is_pos,
                   ROUND({_COS_SQL.format(a="e.embedding", b="a.avec")}, 6) AS score
            FROM embeddings e, anchors a
            WHERE e.vec_id <> a.anchor_id
        ), best AS (
            SELECT anchor_id, vec_id, is_pos, score,
                   ROW_NUMBER() OVER (PARTITION BY anchor_id, is_pos
                                      ORDER BY score DESC, vec_id) AS rn
            FROM scored
        )
        SELECT anchor_id,
               MAX(CASE WHEN is_pos THEN vec_id END) AS pos_id,
               MAX(CASE WHEN is_pos THEN score END) AS pos_score,
               MAX(CASE WHEN NOT is_pos THEN vec_id END) AS neg_id,
               MAX(CASE WHEN NOT is_pos THEN score END) AS neg_score
        FROM best WHERE rn = 1
        GROUP BY anchor_id
    """,
)
def v19_contrastive_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        as_double(F.col("embedding")).alias("avec"),
    )
    corpus = with_norm(emb, "embedding", "cv", "cn")
    a = with_norm(anchors, "avec", "av", "an")
    score = F.round(dot(F.col("cv"), F.col("av")) / (F.col("cn") * F.col("an")), 6)
    scored = (
        corpus.crossJoin(F.broadcast(a))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "vec_id",
            (F.col("label") == F.col("alabel")).alias("is_pos"),
            score.alias("score"),
        )
    )
    w = W.partitionBy("anchor_id", "is_pos").orderBy(F.desc("score"), F.asc("vec_id"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy("anchor_id").agg(
        F.max(F.when(F.col("is_pos"), F.col("vec_id"))).alias("pos_id"),
        F.max(F.when(F.col("is_pos"), F.col("score"))).alias("pos_score"),
        F.max(F.when(~F.col("is_pos"), F.col("vec_id"))).alias("neg_id"),
        F.max(F.when(~F.col("is_pos"), F.col("score"))).alias("neg_score"),
    )


# ---------------------------------------------------------------------------
# V20: int8 scalar quantization of the embedding column
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v20_quantize_embeddings",
    survey_ref="V-family extra (scalar quantization)",
    doc="int8 scalar quantization: per-dimension [min, max] over the "
    "corpus (v13's posexplode partial-moment shape — O(dim) rows per "
    "task through one exchange), then each component maps to "
    "floor((x-min)/(max-min)*254)-127 ∈ [-127,127] — the 4× "
    "memory/bandwidth reduction ANN serving runs on. floor (not "
    "round) keys the oracle: identical across engines, no half-way "
    "ties. Output is the exploded (vec_id, dim, q) relation — exact "
    "integers, fully hash-checked; cosine fidelity of the dequantized "
    "vectors is pinned in tests/test_similarity.py.",
    oracle="""
        WITH expl AS (
            SELECT vec_id,
                   GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim,
                   UNNEST(CAST(embedding AS DOUBLE[])) AS x
            FROM embeddings
        ), stats AS (
            SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM expl GROUP BY dim
        )
        SELECT e.vec_id, e.dim,
               CAST(CASE WHEN s.hi = s.lo THEN 0
                    ELSE FLOOR((e.x - s.lo) / (s.hi - s.lo) * 254) - 127
               END AS INT) AS q
        FROM expl e JOIN stats s ON e.dim = s.dim
    """,
)
def v20_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    expl = emb.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("dim", "x")
    )
    stats = expl.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    return expl.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.floor((F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 254)
            - 127
        )
        .cast("int")
        .alias("q"),
    )


# ---------------------------------------------------------------------------
# V22: Matryoshka-prefix retrieval evaluation
# ---------------------------------------------------------------------------

_MRL_PREFIXES = (8, 16, 32, 64)
_MRL_K = 5


@REGISTRY.register(
    name="v22_matryoshka_eval",
    survey_ref="V3 extra (dimension-truncation evaluation)",
    doc="Matryoshka evaluation: how much of exact top-5 retrieval "
    "survives truncating embeddings to their first 8/16/32/64 dims — "
    "the table that decides how short MRL-style prefixes can get "
    "before recall pays (shorter prefixes = proportionally cheaper "
    "ANN serving). For each prefix: top-5 by prefix-cosine vs the "
    "full-dim top-5, overlap counted. One scan per prefix of the "
    "slice-projected corpus + TakeOrderedAndProject; the overlap join "
    "touches 2×k rows. Exact and fully SQL-oracled (list slicing on "
    "both engines).",
    oracle=f"""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0
        ),
        full_top AS (
            SELECT e.vec_id
            FROM embeddings e, q
            ORDER BY ROUND({_COS_SQL.format(a="e.embedding", b="q.qv")}, 6) DESC,
                     e.vec_id
            LIMIT {_MRL_K}
        )
        """
        + "\n        UNION ALL\n".join(
            f"""
        SELECT CAST({p} AS INT) AS prefix_dim,
               CAST((SELECT COUNT(*) FROM (
                   SELECT e.vec_id
                   FROM embeddings e, q
                   ORDER BY ROUND({_COS_SQL.format(
                       a=f"(CAST(e.embedding AS DOUBLE[]))[1:{p}]",
                       b=f"q.qv[1:{p}]")}, 6) DESC, e.vec_id
                   LIMIT {_MRL_K}) t
                   WHERE t.vec_id IN (SELECT vec_id FROM full_top))
               AS BIGINT) AS overlap_at_{_MRL_K}
        FROM (SELECT 1)
        """
            for p in _MRL_PREFIXES
        ),
)
def v22_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )

    def topk(prefix: int | None):
        if prefix is None:
            a, b = F.col("embedding"), F.col("qv")
        else:
            a = F.slice(as_double(F.col("embedding")), 1, prefix)
            b = F.slice(F.col("qv"), 1, prefix)
        score = F.round(cosine(a, b), 6)
        return (
            emb.crossJoin(F.broadcast(qv))
            .select("vec_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(_MRL_K)
            .select("vec_id")
        )

    full = topk(None).transform(persist_once)
    out = None
    for p in _MRL_PREFIXES:
        row = (
            topk(p)
            .join(full, "vec_id", "left_semi")
            .agg(F.count("*").cast("bigint").alias(f"overlap_at_{_MRL_K}"))
            .select(F.lit(p).cast("int").alias("prefix_dim"), f"overlap_at_{_MRL_K}")
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# V24: label-noise detection via k-NN disagreement
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v24_label_noise",
    survey_ref="training-data (label QA: k-NN disagreement); composes v18",
    doc="mislabeled-example detector (Confident-Learning-lite; Northcutt et al., JAIR 2021): flag "
    "every vector whose 3 approximate nearest neighbors (v18's "
    "LSH-blocked graph) UNANIMOUSLY carry one label that differs from "
    "its own — the curation step that catches annotation errors and "
    "join bugs before they poison supervised fine-tuning. One "
    "edge⋈label broadcast join + a per-src vote agg on top of the "
    "persisted v18 graph — at 100 TB the graph is the already-built "
    "index artifact, so the audit costs one scan of its edges. "
    "Approximate (LSH candidates), so no SQL oracle; a planted "
    "flipped-label point is proven flagged in "
    "tests/test_similarity.py, and unanimity makes the verdict "
    "robust to individual noisy neighbors.",
    oracle=None,
)
def v24_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: parallelize the signature/occupancy map passes (see t17b)
    corpus = fan_out_small_input(load_table(spark, "embeddings", sf_dir))
    return label_noise(corpus)


def label_noise(corpus: DataFrame) -> DataFrame:
    """v24's core over any (vec_id, embedding, label) frame — split out
    so tests can plant a flipped-label clone cluster and prove the
    detector fires."""
    graph = knn_graph(corpus, k=3)
    labels = corpus.select("vec_id", F.col("label").alias("l"))
    edges = graph.join(
        F.broadcast(labels.withColumnRenamed("vec_id", "dst").withColumnRenamed("l", "dst_label")),
        "dst",
    )
    votes = edges.groupBy("src").agg(
        F.count("*").alias("n_neighbors"),
        F.min("dst_label").alias("min_l"),
        F.max("dst_label").alias("max_l"),
    )
    own = labels.withColumnRenamed("vec_id", "src").withColumnRenamed("l", "own_label")
    return (
        votes.join(F.broadcast(own), "src")
        .filter(
            (F.col("n_neighbors") == 3)
            & (F.col("min_l") == F.col("max_l"))
            & (F.col("min_l") != F.col("own_label"))
        )
        .select(
            "src",
            F.col("own_label").cast("int").alias("own_label"),
            F.col("min_l").cast("int").alias("neighbor_label"),
        )
        .orderBy("src")
    )


#: probe sample shared by v25/v27/v24b: vec_id % 97 == 0
_V25_PROBES_MOD = 97


@REGISTRY.register(
    name="v24b_label_noise_det",
    survey_ref="training-data (label QA); v24's hash-oracled probe twin",
    doc="v24's verdict logic on EXACT 3-NN for the v25 probe sample "
    "(vec_id % 97): per probe, the exact cosine top-3 neighbors' "
    "majority label, agreement count, and the flagged/ok verdict — "
    "hash-checked end to end where v24 itself is rows-only (its "
    "neighbors come from the approximate LSH graph). Emits EVERY "
    "probe's audit row, not just flags: with 10 uniform labels a "
    "unanimous disagreement is a ~0.1% event, so a flags-only "
    "result would be vacuously empty on this fixture. Probes "
    "broadcast; the corpus is scanned once; per-probe top-3 via "
    "window — the same scale shape as v3.",
    oracle=f"""
        WITH probes AS (
            SELECT vec_id AS src, label AS own_label,
                   CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id % {_V25_PROBES_MOD} = 0
        ), top3 AS (
            SELECT src, own_label, vec_id, nl FROM (
                SELECT p.src, p.own_label, e.vec_id, e.label AS nl,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.src
                           ORDER BY ROUND({_COS_SQL.format(a="e.embedding", b="p.qv")}, 6) DESC,
                                    e.vec_id) AS rn
                FROM probes p JOIN embeddings e ON e.vec_id <> p.src
            ) WHERE rn <= 3
        ), votes AS (
            SELECT src, own_label, nl, COUNT(*) AS c
            FROM top3 GROUP BY src, own_label, nl
        ), maj AS (
            SELECT src, own_label, nl AS neighbor_label, c AS n_agree
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                               ORDER BY c DESC, nl) AS rn
                  FROM votes) WHERE rn = 1
        )
        SELECT src, CAST(own_label AS INT) AS own_label,
               CAST(neighbor_label AS INT) AS neighbor_label,
               CAST(n_agree AS INT) AS n_agree,
               CASE WHEN n_agree = 3 AND neighbor_label <> own_label
                    THEN 'flagged' ELSE 'ok' END AS verdict
        FROM maj ORDER BY src
    """,
)
def v24b_label_noise_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") % _V25_PROBES_MOD == 0).select(
        F.col("vec_id").alias("src"),
        F.col("label").alias("own_label"),
        as_double(F.col("embedding")).alias("qv"),
    )
    scored = emb.join(F.broadcast(probes), emb.vec_id != probes.src).select(
        "src",
        "own_label",
        "vec_id",
        F.col("label").alias("nl"),
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("s"),
    )
    top_w = W.partitionBy("src").orderBy(F.desc("s"), F.asc("vec_id"))
    top3 = scored.withColumn("rn", F.row_number().over(top_w)).filter(
        F.col("rn") <= 3
    )
    votes = top3.groupBy("src", "own_label", "nl").agg(F.count("*").alias("c"))
    maj_w = W.partitionBy("src").orderBy(F.desc("c"), F.asc("nl"))
    maj = (
        votes.withColumn("rn", F.row_number().over(maj_w))
        .filter(F.col("rn") == 1)
        .select(
            "src",
            F.col("own_label").cast("int").alias("own_label"),
            F.col("nl").cast("int").alias("neighbor_label"),
            F.col("c").cast("int").alias("n_agree"),
        )
    )
    return maj.select(
        "src",
        "own_label",
        "neighbor_label",
        "n_agree",
        F.when(
            (F.col("n_agree") == 3)
            & (F.col("neighbor_label") != F.col("own_label")),
            "flagged",
        )
        .otherwise("ok")
        .alias("verdict"),
    ).orderBy("src")


# ---------------------------------------------------------------------------
# V25: IVF tuning curve — recall@3 vs n_probe
# ---------------------------------------------------------------------------

_V25_NPROBES = (1, 2, 4, 8)
_V25_CELLS = 8


@REGISTRY.register(
    name="v25_ivf_tuning_curve",
    survey_ref="V3 family (index tuning); closes the n_probe question",
    doc="the recall/cost curve an operator consults before fixing "
    "n_probe: for each n_probe in (1,2,4,8) over the v11 seed-centroid "
    "cells, mean recall@3 of the IVF-pruned search vs exact brute "
    "force, next to the mean candidate count (the cost axis). Cells "
    "rank once per probe; a candidate is any vector whose assigned "
    "cell ranks ≤ n_probe, so all four curve points come from ONE "
    "assignment table and ONE ranked-cell table — the sweep costs "
    "one probe-set scan, not four. Every score rounds before every "
    "argmax (v11's rule), making the whole tuning table hash-exact "
    "in SQL. At 100 TB the probe set is a sample and the assignment "
    "table is the persisted M5 index — same plan, metadata-priced.",
    oracle=f"""
        WITH cen AS (
            SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centroid
            FROM embeddings WHERE vec_id < {_V25_CELLS}
        ), assign_scored AS (
            SELECT e.vec_id, c.cell_id,
                   ROUND(LIST_DISTANCE(CAST(e.embedding AS DOUBLE[]), c.centroid), 4) AS dist
            FROM embeddings e CROSS JOIN cen c
        ), assigned AS (
            SELECT vec_id, cell_id FROM (
                SELECT vec_id, cell_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
                FROM assign_scored) WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id % {_V25_PROBES_MOD} = 0
        ), cellrank AS (
            SELECT p.qid, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.qid
                       ORDER BY ROUND({_COS_SQL.format(a="c.centroid", b="p.qv")}, 6) DESC,
                                c.cell_id) AS crank
            FROM probes p CROSS JOIN cen c
        ), scored AS (
            SELECT p.qid, e.vec_id, a.cell_id,
                   ROUND({_COS_SQL.format(a="e.embedding", b="p.qv")}, 6) AS s
            FROM probes p
            JOIN embeddings e ON e.vec_id <> p.qid
            JOIN assigned a ON a.vec_id = e.vec_id
        ), exact3 AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
                FROM scored) WHERE rn <= 3
        ), np AS (
            SELECT UNNEST({list(_V25_NPROBES)!r}) AS n_probe
        ), cand AS (
            SELECT np.n_probe, s.qid, s.vec_id, s.s
            FROM scored s
            JOIN cellrank r ON r.qid = s.qid AND r.cell_id = s.cell_id
            CROSS JOIN np
            WHERE r.crank <= np.n_probe
        ), approx3 AS (
            SELECT n_probe, qid, vec_id FROM (
                SELECT n_probe, qid, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY n_probe, qid
                                          ORDER BY s DESC, vec_id) AS rn
                FROM cand) WHERE rn <= 3
        ), hits AS (
            SELECT a.n_probe, a.qid, COUNT(*) AS h
            FROM approx3 a JOIN exact3 x ON x.qid = a.qid AND x.vec_id = a.vec_id
            GROUP BY 1, 2
        ), costs AS (
            SELECT n_probe, qid, COUNT(*) AS nc FROM cand GROUP BY 1, 2
        )
        SELECT c.n_probe,
               ROUND(SUM(COALESCE(h.h, 0))
                     / (3.0 * (SELECT COUNT(*) FROM probes)), 4) AS recall_at_3,
               ROUND(AVG(c.nc), 2) AS avg_candidates
        FROM costs c
        LEFT JOIN hits h ON h.n_probe = c.n_probe AND h.qid = c.qid
        GROUP BY c.n_probe
    """,
)
def v25_ivf_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.vector.clustering import kmeans_assign, seed_centroids

    # r12: the per-row HOF cell-distance + brute-force cosine map work
    # serializes on the single-file fixture scan — fan out (see t17b)
    emb = fan_out_small_input(load_table(spark, "embeddings", sf_dir))
    cen = seed_centroids(emb, _V25_CELLS)
    assigned = kmeans_assign(emb, cen).select("vec_id", "cell_id")
    probes = emb.filter(F.col("vec_id") % _V25_PROBES_MOD == 0).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    )
    n_probes_count = probes.count()

    cr_w = W.partitionBy("qid").orderBy(
        F.desc(F.round(cosine(F.col("centroid"), F.col("qv")), 6)), F.asc("cell_id")
    )
    cellrank = (
        cen.crossJoin(F.broadcast(probes))
        .withColumn("crank", F.row_number().over(cr_w))
        .select("qid", "cell_id", "crank")
    )
    # scored feeds exact3 AND the candidate expansion (which itself
    # feeds approx3 + costs) — unpersisted, the corpus×probes cosine
    # executed ~4x (fanout_audit: 16 embeddings scans)
    scored = (
        emb.join(F.broadcast(probes), emb.vec_id != F.col("qid"))
        .join(assigned, "vec_id")
        .select(
            "qid", "vec_id", "cell_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("s"),
        )
        .transform(persist_once)
    )
    ex_w = W.partitionBy("qid").orderBy(F.desc("s"), F.asc("vec_id"))
    exact3 = (
        scored.withColumn("rn", F.row_number().over(ex_w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id")
    )
    np_df = spark.createDataFrame([(n,) for n in _V25_NPROBES], "n_probe int")
    cand = (
        scored.join(F.broadcast(cellrank), ["qid", "cell_id"])
        .join(F.broadcast(np_df), F.col("crank") <= F.col("n_probe"))
        .select("n_probe", "qid", "vec_id", "s")
        .transform(persist_once)  # approx3 + costs
    )
    ap_w = W.partitionBy("n_probe", "qid").orderBy(F.desc("s"), F.asc("vec_id"))
    approx3 = (
        cand.withColumn("rn", F.row_number().over(ap_w))
        .filter(F.col("rn") <= 3)
        .select("n_probe", "qid", "vec_id")
    )
    hits = approx3.join(exact3, ["qid", "vec_id"]).groupBy("n_probe", "qid").agg(
        F.count("*").alias("h")
    )
    costs = cand.groupBy("n_probe", "qid").agg(F.count("*").alias("nc"))
    return (
        costs.join(hits, ["n_probe", "qid"], "left")
        .groupBy("n_probe")
        .agg(
            F.round(
                F.sum(F.coalesce("h", F.lit(0))) / (3.0 * n_probes_count), 4
            ).alias("recall_at_3"),
            F.round(F.avg("nc"), 2).alias("avg_candidates"),
        )
    )


# ---------------------------------------------------------------------------
# V27: LSH tuning curve — recall@3 vs n_tables (r5 verdict task #6)
# V3d: the deterministic LSH probe, hash-oracled (r5 verdict task #7)
# ---------------------------------------------------------------------------

_V27_TMAX = 8
_V27_NPLANES = 4
_V27_CONFIGS = (1, 2, 4, 8)

#: shared oracle prefix: pinned md5 planes + per-vector signatures
_MD5_LSH_PREFIX_SQL = (
    "planes AS ("
    + _MD5_PLANES_SQL.format(tmax=_V27_TMAX - 1, pmax=_V27_NPLANES - 1, imax=63)
    + """
        ), comps AS (
            SELECT vec_id,
                   GENERATE_SUBSCRIPTS(CAST(embedding AS DOUBLE[]), 1) - 1 AS i,
                   UNNEST(CAST(embedding AS DOUBLE[])) AS x
            FROM embeddings
        ), """
    + _MD5_SIGS_SQL.strip()
)


def _md5_sig_table(emb: DataFrame) -> DataFrame:
    """(t, b, vec_id) signature relation over the pinned md5 plane
    family — the deterministic twin of ``build_lsh_index``. Rounded
    dots (round_digits=6) make every bucket id replayable in SQL."""
    planes = md5_planes(_V27_TMAX, _V27_NPLANES, 64)
    return emb.select(
        "vec_id",
        F.posexplode(
            lsh_signatures(F.col("embedding"), planes, round_digits=6)
        ).alias("t", "b"),
    )


@REGISTRY.register(
    name="v27_lsh_tuning_curve",
    survey_ref="V3 family (index tuning); v25's LSH sibling",
    doc="the recall/cost curve an operator consults before fixing the "
    "LSH table count: for each n_tables in (1,2,4,8) at band width 4, "
    "mean recall@3 of bucket-collision candidates vs exact brute "
    "force, next to the mean candidate count (the cost axis). The "
    "hyperplanes are the PINNED md5 family (md5_planes), so — unlike "
    "v3b's RNG planes — the whole curve is hash-exact in SQL: r5 "
    "task #6 (give the LSH path its v25) and #7 (retire a rows-only "
    "gap) in one query. All four curve points come from ONE signature "
    "table: a pair's min colliding table mt makes it a candidate for "
    "every n_tables > mt. Candidate discovery is a banded (t,b) "
    "equi-join — never all-pairs; the exact baseline touches only the "
    "~1% probe sample. At 100 TB the signature table is the "
    "persisted M5 index, partitioned by (t, bucket(N, b)).",
    oracle=f"""
        WITH {_MD5_LSH_PREFIX_SQL}, probes AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id % {_V25_PROBES_MOD} = 0
        ), psigs AS (
            SELECT s.vec_id AS qid, s.t, s.b
            FROM sigs s JOIN probes p ON p.qid = s.vec_id
        ), pairs AS (
            SELECT p.qid, s.vec_id, MIN(s.t) AS mt
            FROM psigs p
            JOIN sigs s ON s.t = p.t AND s.b = p.b AND s.vec_id <> p.qid
            GROUP BY p.qid, s.vec_id
        ), scored AS (
            SELECT p.qid, e.vec_id,
                   ROUND({_COS_SQL.format(a="e.embedding", b="p.qv")}, 6) AS s
            FROM probes p JOIN embeddings e ON e.vec_id <> p.qid
        ), exact3 AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
                FROM scored) WHERE rn <= 3
        ), cfg AS (
            SELECT UNNEST({list(_V27_CONFIGS)!r}) AS n_tables
        ), cand AS (
            SELECT cfg.n_tables, pr.qid, pr.vec_id, sc.s
            FROM pairs pr
            JOIN scored sc ON sc.qid = pr.qid AND sc.vec_id = pr.vec_id
            CROSS JOIN cfg
            WHERE pr.mt < cfg.n_tables
        ), approx3 AS (
            SELECT n_tables, qid, vec_id FROM (
                SELECT n_tables, qid, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY n_tables, qid
                                          ORDER BY s DESC, vec_id) AS rn
                FROM cand) WHERE rn <= 3
        ), hits AS (
            SELECT a.n_tables, a.qid, COUNT(*) AS h
            FROM approx3 a JOIN exact3 x ON x.qid = a.qid AND x.vec_id = a.vec_id
            GROUP BY 1, 2
        ), costs AS (
            SELECT n_tables, qid, COUNT(*) AS nc FROM cand GROUP BY 1, 2
        )
        SELECT c.n_tables,
               ROUND(SUM(COALESCE(h.h, 0))
                     / (3.0 * (SELECT COUNT(*) FROM probes)), 4) AS recall_at_3,
               ROUND(AVG(c.nc), 2) AS avg_candidates
        FROM costs c
        LEFT JOIN hits h ON h.n_tables = c.n_tables AND h.qid = c.qid
        GROUP BY c.n_tables
    """,
)
def v27_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # r12: md5 signature + brute-force HOF cosine map work serializes
    # on the single-file fixture scan — fan out (see t17b)
    emb = fan_out_small_input(load_table(spark, "embeddings", sf_dir))
    sigs = _md5_sig_table(emb)
    probes = emb.filter(F.col("vec_id") % _V25_PROBES_MOD == 0).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    )
    n_probes_count = probes.count()
    psigs = (
        sigs.join(
            F.broadcast(probes.select("qid")), sigs.vec_id == F.col("qid")
        ).select("qid", "t", "b")
    )
    pairs = (
        sigs.alias("c")
        .join(
            F.broadcast(psigs).alias("p"),
            (F.col("c.t") == F.col("p.t"))
            & (F.col("c.b") == F.col("p.b"))
            & (F.col("c.vec_id") != F.col("p.qid")),
        )
        .groupBy(F.col("p.qid").alias("qid"), F.col("c.vec_id").alias("vec_id"))
        .agg(F.min("c.t").alias("mt"))
    )
    # scored feeds exact3 and the per-config candidate expansion —
    # persist (fanout_audit: 12 embeddings scans unpersisted)
    scored = emb.join(F.broadcast(probes), emb.vec_id != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("s"),
    ).transform(persist_once)
    ex_w = W.partitionBy("qid").orderBy(F.desc("s"), F.asc("vec_id"))
    exact3 = (
        scored.withColumn("rn", F.row_number().over(ex_w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id")
    )
    cfg = spark.createDataFrame([(n,) for n in _V27_CONFIGS], "n_tables int")
    # candidate set is probe-bounded (hundreds) vs the corpus-sized
    # scored scan -> broadcast the candidates, never sort-merge
    cand = (
        scored.join(F.broadcast(pairs), ["qid", "vec_id"])
        .join(F.broadcast(cfg), F.col("mt") < F.col("n_tables"))
        .select("n_tables", "qid", "vec_id", "s")
        .transform(persist_once)  # approx3 + costs
    )
    ap_w = W.partitionBy("n_tables", "qid").orderBy(F.desc("s"), F.asc("vec_id"))
    approx3 = (
        cand.withColumn("rn", F.row_number().over(ap_w))
        .filter(F.col("rn") <= 3)
        .select("n_tables", "qid", "vec_id")
    )
    hits = (
        approx3.join(F.broadcast(exact3), ["qid", "vec_id"])
        .groupBy("n_tables", "qid")
        .agg(F.count("*").alias("h"))
    )
    costs = cand.groupBy("n_tables", "qid").agg(F.count("*").alias("nc"))
    return (
        costs.join(hits, ["n_tables", "qid"], "left")
        .groupBy("n_tables")
        .agg(
            F.round(
                F.sum(F.coalesce("h", F.lit(0))) / (3.0 * n_probes_count), 4
            ).alias("recall_at_3"),
            F.round(F.avg("nc"), 2).alias("avg_candidates"),
        )
    )


@REGISTRY.register(
    name="v3d_lsh_probe_det",
    survey_ref="V3 (ANN probe); v3b's hash-oracled twin",
    doc="the LSH probe itself, hash-checked: bucket vec_id 0's "
    "embedding with the pinned md5 plane family, collect every "
    "bucket-collision candidate across the 8 tables, exact-rerank by "
    "rounded cosine, top-5. Same plan shape as lsh_probe / v3b "
    "(banded (t,b) equi-join + candidate-only rerank, reference "
    "neo4j_rag.py:256-279) but with SQL-replayable hyperplanes — the "
    "r5 verdict's 'hash-oracle the LSH probe, not just recall'. At "
    "100 TB the signature relation is the persisted M5 index and the "
    "probe reads L point buckets.",
    oracle=f"""
        WITH {_MD5_LSH_PREFIX_SQL}, qsig AS (
            SELECT t, b FROM sigs WHERE vec_id = 0
        ), q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0
        ), cand AS (
            SELECT DISTINCT s.vec_id
            FROM sigs s JOIN qsig ON qsig.t = s.t AND qsig.b = s.b
            WHERE s.vec_id <> 0
        )
        SELECT e.vec_id,
               ROUND({_COS_SQL.format(a="e.embedding", b="q.qv")}, 6) AS score
        FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
        ORDER BY score DESC, e.vec_id
        LIMIT 5
    """,
)
def v3d_lsh_probe_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    sigs = _md5_sig_table(emb)
    qsig = sigs.filter(F.col("vec_id") == 0).select("t", "b")
    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    cand_ids = (
        sigs.join(F.broadcast(qsig), ["t", "b"])
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
        .distinct()
    )
    return (
        emb.join(cand_ids, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# V26: embedding ingest QA (degenerate-vector triage)
# ---------------------------------------------------------------------------


def embedding_qa_gate(
    vectors: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    norm_z: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """v26's triage as the reusable gate in front of every M5 index
    build: split ``vectors`` into (clean, quarantined) so a zero
    vector (unusable for cosine) or wrong-dim row (pipeline bug) never
    enters an LSH/IVF table silently.

    The default gate is MAP-ONLY — dim check + L2-norm-zero check add
    zero shuffles to the build. ``norm_z`` optionally adds v26's
    norm-outlier class (|z| >= norm_z vs corpus norm stats) at the
    cost of one broadcast 1-row aggregate; off by default because a
    legitimate re-scale should quarantine at ingest review, not
    silently drop mass from the index.

    Quarantined rows carry a ``qa_verdict`` column naming their class.
    Reference analog: the reference indexes only rows with a non-null
    embedding property (neo4j_rag.py:236-241); this is that discipline
    with the degenerate classes made explicit."""
    e = as_double(F.col(vec_col))
    nrm = F.sqrt(dot(e, e))
    verdict = F.when(F.size(F.col(vec_col)) != dim, "wrong_dim").when(
        nrm == 0, "zero_vector"
    )
    if norm_z is not None:
        stats = (
            vectors.select(nrm.alias("_n"), F.size(F.col(vec_col)).alias("_d"))
            .filter((F.col("_d") == dim) & (F.col("_n") > 0))
            .agg(
                F.avg("_n").alias("_m"), F.stddev_samp("_n").alias("_sd")
            )
        )
        tagged = vectors.crossJoin(F.broadcast(stats)).withColumn(
            "qa_verdict",
            verdict.when(
                (F.col("_sd") > 0)
                & (F.abs((nrm - F.col("_m")) / F.col("_sd")) >= norm_z),
                "norm_outlier",
            ).otherwise("ok"),
        ).drop("_m", "_sd")
    else:
        tagged = vectors.withColumn("qa_verdict", verdict.otherwise("ok"))
    clean = tagged.filter(F.col("qa_verdict") == "ok").drop("qa_verdict")
    quarantined = tagged.filter(F.col("qa_verdict") != "ok")
    return clean, quarantined


@REGISTRY.register(
    name="v26_embedding_qa",
    survey_ref="V-family extra (embedding ingest QA); v8g's vector sibling",
    doc="degenerate-embedding triage before anything indexes: per "
    "vector, its L2 norm, zero-component count, and dimension check, "
    "classified ok / zero_vector (unusable for cosine) / wrong_dim "
    "(pipeline bug) / norm_outlier (|z| ≥ 3 vs corpus norm stats — "
    "a silently-scaled provider). The fixture is unit-norm by "
    "construction (every check would be vacuous), so three "
    "degenerates are planted: a zero vector, a 32-dim stub, and a "
    "10× -scaled copy — each must land in its class (pinned by the "
    "oracle hash itself). Map-only over the scan plus one broadcast "
    "1-row stats agg; the triage reads every vector ONCE and is the "
    "gate in front of M5 index builds.",
    oracle=f"""
        WITH planted AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            UNION ALL
            SELECT 9000001, LIST_TRANSFORM(GENERATE_SERIES(1, 64), i -> 0.0)
            UNION ALL
            SELECT 9000002, LIST_TRANSFORM(GENERATE_SERIES(1, 32), i -> 0.1)
            UNION ALL
            SELECT 9000003,
                   LIST_TRANSFORM(CAST((SELECT embedding FROM embeddings
                                        WHERE vec_id = 0) AS DOUBLE[]),
                                  x -> x * 10.0)
        ), feat AS (
            SELECT vec_id,
                   LEN(e) AS dim,
                   ROUND(SQRT(LIST_DOT_PRODUCT(e, e)), 6) AS nrm,
                   LEN(LIST_FILTER(e, x -> x = 0.0)) AS n_zero
            FROM planted
        ), stats AS (
            SELECT ROUND(AVG(nrm), 6) AS m, ROUND(STDDEV_SAMP(nrm), 6) AS sd
            FROM feat WHERE dim = 64 AND nrm > 0
        )
        SELECT f.vec_id, CAST(f.dim AS INT) AS dim, f.nrm AS l2_norm,
               CAST(f.n_zero AS BIGINT) AS n_zero,
               CASE WHEN f.dim <> 64 THEN 'wrong_dim'
                    WHEN f.nrm = 0 THEN 'zero_vector'
                    WHEN ABS((f.nrm - s.m) / s.sd) >= 3 THEN 'norm_outlier'
                    ELSE 'ok' END AS verdict
        FROM feat f CROSS JOIN stats s
    """,
)
def v26_embedding_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    spark_planted = emb.unionByName(
        spark.range(1)
        .select(
            F.lit(9000001).alias("vec_id"),
            F.expr("transform(sequence(1, 64), i -> 0.0d)").alias("e"),
        )
    ).unionByName(
        spark.range(1).select(
            F.lit(9000002).alias("vec_id"),
            F.expr("transform(sequence(1, 32), i -> 0.1d)").alias("e"),
        )
    ).unionByName(
        emb.filter(F.col("vec_id") == 0).select(
            F.lit(9000003).alias("vec_id"),
            F.transform(F.col("e"), lambda x: x * 10.0).alias("e"),
        )
    )
    feat = spark_planted.select(
        "vec_id",
        F.size("e").alias("dim"),
        F.round(F.sqrt(dot(F.col("e"), F.col("e"))), 6).alias("nrm"),
        F.size(F.filter(F.col("e"), lambda x: x == 0.0)).alias("n_zero"),
    )
    stats = feat.filter((F.col("dim") == 64) & (F.col("nrm") > 0)).agg(
        F.round(F.avg("nrm"), 6).alias("m"),
        F.round(F.stddev_samp("nrm"), 6).alias("sd"),
    )
    return feat.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.col("nrm").alias("l2_norm"),
        F.col("n_zero").cast("bigint").alias("n_zero"),
        F.when(F.col("dim") != 64, "wrong_dim")
        .when(F.col("nrm") == 0, "zero_vector")
        .when(F.abs((F.col("nrm") - F.col("m")) / F.col("sd")) >= 3, "norm_outlier")
        .otherwise("ok")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# V28: metadata-filtered vector search (the vector-DB "filtered ANN" face)
# ---------------------------------------------------------------------------

_V28_PROBE_IDS = (0, 1, 2)


@REGISTRY.register(
    name="v28_filtered_search",
    survey_ref="V3 family (metadata-filtered vector search)",
    doc="filtered vector search: top-5 by cosine among corpus vectors "
    "sharing the probe's LABEL (self excluded) for three probe "
    "vectors — the metadata-predicate + similarity combination every "
    "vector store exposes (reference filters candidates in Cypher "
    "before scoring, neo4j_rag.py:236-279). Exact within the filter: "
    "the label predicate cuts the corpus BEFORE any scoring, probes "
    "broadcast, per-probe top-5 via window — at scale this is the "
    "label-partitioned layout where the filter prunes partitions and "
    "each probe scans only its label's shard; the IVF/LSH variants "
    "(v3b/v3c) drop in when a label shard alone is still too big.",
    oracle=f"""
        WITH probes AS (
            SELECT vec_id AS qid, label AS qlabel,
                   CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id IN {_V28_PROBE_IDS!r}
        ), scored AS (
            SELECT p.qid, e.vec_id, e.label,
                   ROUND({{cos}}, 6) AS score
            FROM probes p
            JOIN embeddings e ON e.label = p.qlabel AND e.vec_id <> p.qid
        )
        SELECT qid, vec_id, label, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY score DESC, vec_id) AS rn
            FROM scored) WHERE rn <= 5
        ORDER BY qid, score DESC, vec_id
    """.format(cos=_COS_SQL.format(a="e.embedding", b="p.qv")),
)
def v28_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id").isin(*_V28_PROBE_IDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        as_double(F.col("embedding")).alias("qv"),
    )
    scored = emb.join(
        F.broadcast(probes),
        (emb.label == probes.qlabel) & (emb.vec_id != probes.qid),
    ).select(
        "qid",
        "vec_id",
        "label",
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "label", "score")
        .orderBy("qid", F.desc("score"), "vec_id")
    )


# ---------------------------------------------------------------------------
# V18b: deterministic k-NN graph twin (pinned planes, hash-oracled)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v18b_knn_graph_det",
    survey_ref="training-data (k-NN graph); v18's hash-oracled twin",
    doc="the LSH k-NN graph with the PINNED md5 plane family instead "
    "of v18's RNG planes: per vector, exact-rerank top-3 among "
    "bucket-collision candidates across 8 tables — the whole graph "
    "hash-checks in SQL (v18 itself stays rows-only + recall-pinned; "
    "this twin proves the banded-candidate + exact-rerank semantics "
    "value-for-value). Same index discipline: candidates come from a "
    "banded (t,b) equi-join on the ONE signature table, never "
    "all-pairs; the rerank prices only collisions. At 100 TB the "
    "signature table is the persisted M5 index and the per-src top-3 "
    "window partitions on the uniform src key.",
    oracle=f"""
        WITH {_MD5_LSH_PREFIX_SQL}, cand AS (
            SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
            FROM sigs a
            JOIN sigs b ON a.t = b.t AND a.b = b.b AND a.vec_id <> b.vec_id
        ), scored AS (
            SELECT c.src, c.dst,
                   ROUND({_COS_SQL.format(a="ea.embedding", b="eb.embedding")}, 6) AS score
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.src
            JOIN embeddings eb ON eb.vec_id = c.dst
        )
        SELECT src, dst, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                         ORDER BY score DESC, dst) AS rn
            FROM scored) WHERE rn <= 3
        ORDER BY src, score DESC, dst
    """,
)
def v18b_knn_graph_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)
    # the signature table meets itself in the bucket self-join —
    # persist so the md5 signature build runs once, not per side
    sigs = _md5_sig_table(emb).transform(persist_once)
    cand = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    scored = (
        cand.join(ea, "src")
        .join(eb, "dst")
        .select(
            "src",
            "dst",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("score"),
        )
    )
    w = W.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src", "dst", "score")
        .orderBy("src", F.desc("score"), "dst")
    )


# ---------------------------------------------------------------------------
# V18c: occupancy-CAPPED deterministic k-NN graph (v18's r9 cap, hash-oracled)
# ---------------------------------------------------------------------------

#: v18c's occupancy discipline — v18's production constants scaled to
#: the md5 family's fixed 4-plane/16-bucket tables so the SPLIT tier
#: actually fires at the oracle SFs (7 hot buckets at sf0.01, 128 at
#: sf0.1 — measured; T=16 over-split, halving recall, and T=32 never
#: fired at sf0.01); the SALT tier needs a degenerate near-identical
#: cluster, absent from the isotropic fixture, so it is exercised by a
#: planted-cluster cross-engine test (tests/test_r10_ops.py) and by
#: the sf1/sf10 rehearsal fixtures.
_V18C_TARGET = 24
_V18C_SPLIT_BITS = 4  # secondary sign bits per table -> <=16-way split
_V18C_SOFT = 2 * _V18C_TARGET  # buckets <= soft stay whole
_V18C_HARD = 3 * _V18C_TARGET  # sub-buckets > hard get md5-salted
_V18C_SALT_TARGET = (3 * _V18C_TARGET) // 2  # ~1.5x target per salt cell


def _v18c_graph_sql() -> str:
    """The capped graph as ONE replayable SQL string (consumers wrap it
    verbatim — d26's discipline). Bits 0-3 of each table's signature
    are bit-identical to v18b's (same md5 components); bits 4-7 are the
    secondary split family. The salt is md5-derived (not xxhash64 —
    DuckDB lacks it) so both engines compute identical cells; e is a
    CASE over exact integer occupancy, never a float log2."""
    planes8 = _MD5_PLANES_SQL.format(
        tmax=_V27_TMAX - 1, pmax=_V27_NPLANES + _V18C_SPLIT_BITS - 1, imax=63
    )
    np_, nb = _V27_NPLANES, _V18C_SPLIT_BITS
    return f"""
        WITH planes AS ({planes8}
        ), comps AS (
            SELECT vec_id,
                   GENERATE_SUBSCRIPTS(CAST(embedding AS DOUBLE[]), 1) - 1 AS i,
                   UNNEST(CAST(embedding AS DOUBLE[])) AS x
            FROM embeddings
        ), dots AS (
            SELECT c.vec_id, pl.t, pl.p, ROUND(SUM(pl.w * c.x), 6) AS d
            FROM comps c JOIN planes pl ON pl.i = c.i
            GROUP BY c.vec_id, pl.t, pl.p
        ), sigs AS (
            SELECT vec_id, t,
                   CAST(SUM(CASE WHEN d > 0 AND p < {np_}
                                 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS b,
                   CAST(SUM(CASE WHEN d > 0 AND p >= {np_}
                                 THEN (1::BIGINT << (p - {np_})) ELSE 0 END) AS BIGINT) AS xb
            FROM dots GROUP BY vec_id, t
        ), sizes AS (
            SELECT t, b, COUNT(*) AS m FROM sigs GROUP BY t, b
        ), ext AS (
            SELECT s.vec_id, s.t,
                   (s.b << {nb}) + (s.xb >> ({nb} -
                       CASE WHEN z.m <= {_V18C_SOFT} THEN 0
                            WHEN z.m <= {4 * _V18C_TARGET} THEN 2
                            WHEN z.m <= {8 * _V18C_TARGET} THEN 3
                            ELSE {nb} END)) AS sub
            FROM sigs s JOIN sizes z ON z.t = s.t AND z.b = s.b
        ), sizes2 AS (
            SELECT t, sub, COUNT(*) AS m2 FROM ext GROUP BY t, sub
        ), keyed AS (
            SELECT e.vec_id, e.t, e.sub,
                   CASE WHEN s2.m2 <= {_V18C_HARD} THEN CAST(0 AS BIGINT)
                        ELSE ('0x' || SUBSTR(MD5('salt#'
                                  || CAST(e.vec_id AS VARCHAR) || '#'
                                  || CAST(e.t AS VARCHAR)), 1, 8))::BIGINT
                             % ((s2.m2 + {_V18C_SALT_TARGET - 1})
                                // {_V18C_SALT_TARGET})
                   END AS salt
            FROM ext e JOIN sizes2 s2 ON s2.t = e.t AND s2.sub = e.sub
        ), cand AS (
            SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
            FROM keyed a JOIN keyed b
              ON a.t = b.t AND a.sub = b.sub AND a.salt = b.salt
             AND a.vec_id <> b.vec_id
        ), scored AS (
            SELECT c.src, c.dst,
                   ROUND({_COS_SQL.format(a="ea.embedding", b="eb.embedding")}, 6) AS score
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.src
            JOIN embeddings eb ON eb.vec_id = c.dst
        )
        SELECT src, dst, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                         ORDER BY score DESC, dst) AS rn
            FROM scored) WHERE rn <= 3
    """


def _md5_capped_keys(emb: DataFrame) -> DataFrame:
    """(vec_id, t, sub, salt) — the occupancy-capped bucket keys over
    the PINNED md5 plane family: v18's r9 cap (secondary-hyperplane
    hot-bucket split + deterministic salt for degenerate clusters) with
    every step SQL-replayable. One signature table feeds both occupancy
    audits; ``sizes``/``sizes2`` are corpus-INDEPENDENT relations
    (<=2^planes buckets x 8 tables, <=2^(planes+split) subs), so their
    broadcasts are safe at any corpus size."""
    planes = md5_planes(_V27_TMAX, _V27_NPLANES + _V18C_SPLIT_BITS, 64)
    sigs = (
        emb.select(
            "vec_id",
            F.posexplode(
                lsh_signatures(F.col("embedding"), planes, round_digits=6)
            ).alias("t", "sig"),
        )
        .select(
            "vec_id",
            "t",
            F.col("sig").bitwiseAND(F.lit((1 << _V27_NPLANES) - 1)).alias("b"),
            F.shiftright(F.col("sig"), _V27_NPLANES).alias("xb"),
        )
        .transform(persist_once)  # feeds the occupancy audit AND ext
    )
    sizes = sigs.groupBy("t", "b").agg(F.count("*").alias("m"))
    ext = (
        sigs.join(F.broadcast(sizes), ["t", "b"])
        .withColumn(
            "sub",
            F.expr(
                f"shiftleft(b, {_V18C_SPLIT_BITS}) + shiftright(xb, "
                f"{_V18C_SPLIT_BITS} - CASE WHEN m <= {_V18C_SOFT} THEN 0 "
                f"WHEN m <= {4 * _V18C_TARGET} THEN 2 "
                f"WHEN m <= {8 * _V18C_TARGET} THEN 3 "
                f"ELSE {_V18C_SPLIT_BITS} END)"
            ),
        )
        .select("vec_id", "t", "sub")
    )
    sizes2 = ext.groupBy("t", "sub").agg(F.count("*").alias("m2"))
    salt_cells = F.expr(
        f"CAST((m2 + {_V18C_SALT_TARGET - 1}) DIV {_V18C_SALT_TARGET} AS BIGINT)"
    )
    return (
        ext.join(F.broadcast(sizes2), ["t", "sub"])
        .withColumn(
            "salt",
            F.when(F.col("m2") <= _V18C_HARD, F.lit(0).cast("bigint")).otherwise(
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit("salt#"),
                                    F.col("vec_id").cast("string"),
                                    F.lit("#"),
                                    F.col("t").cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("bigint"),
                    salt_cells,
                )
            ),
        )
        .select("vec_id", "t", "sub", "salt")
    )


def knn_graph_capped_det(emb: DataFrame, k: int = 3) -> DataFrame:
    """v18c's core: exact-rerank top-k among CAPPED-bucket collision
    candidates. Every join here is corpus x corpus — the keyed
    self-join and both embedding payload joins carry pinned
    shuffle_hash hints (the d13 rule).

    CONTRACT (r12 ADVICE): the returned edge set is UNIQUE per
    direction — at most one (src, dst) row — because candidates are
    .distinct()ed before the rank window and the window emits each
    (src, dst) once. BOTH mutual-edge consumers (d26b and g10) rely on
    this: they detect reciprocity as COUNT(*) = 2 over the unordered
    pair key, which duplicate same-direction edges would fake. If
    candidate generation ever stops deduplicating, restore a distinct
    here or revert those consumers to the reversed self-join."""
    from pyspark.sql import Window as W

    keyed = _md5_capped_keys(emb).transform(persist_once)
    cand = (
        keyed.alias("a")
        .join(
            keyed.alias("b").hint("shuffle_hash"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    scored = (
        cand.join(ea.hint("shuffle_hash"), "src")
        .join(eb.hint("shuffle_hash"), "dst")
        .select(
            "src",
            "dst",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("score"),
        )
    )
    w = W.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src", "dst", "score")
    )


@REGISTRY.register(
    name="v18c_knn_graph_capped",
    bench=True,  # r10: the capped-graph twin is a top-3 heaviest plan —
    # floor-guarded so the 100 TB dedup substrate's cost stays watched
    survey_ref="training-data (k-NN graph); the CAPPED deterministic "
    "twin — r9 made the occupancy-capped path v18's production plan, "
    "so the graph consumers need a hash-oracled spelling of THAT plan, "
    "not of the uncapped v18b anchor (r9 verdict marching order #2)",
    doc="the occupancy-capped k-NN graph, hash-oracled end to end: "
    "v18b's pinned md5 planes extended with a 4-bit secondary split "
    "family (hot buckets > 2x target split by exact-integer-CASE "
    "extra sign bits; sub-buckets still > 3x target get a "
    "deterministic md5 salt down to ~1.5x target), then exact cosine "
    "rerank among capped-cell collisions and per-src top-3. This is "
    "v18's r9 production discipline (vector/similarity.py knn_graph) "
    "with every step replayable in SQL — the occupancy CASE uses "
    "integer thresholds (never float log2) and the salt is md5-based "
    "(DuckDB has no xxhash64), so capped keys are bit-identical "
    "across engines. sizes/sizes2 are corpus-independent (<=128 / "
    "<=2048 rows at 4+4 bits) so their broadcasts hold at 100 TB; "
    "the keyed self-join and payload joins carry pinned shuffle_hash "
    "hints (the d13 rule). v18b (uncapped anchor) stays registered "
    "and untouched; agreement vs it is pinned in tests/test_r10_ops.py.",
    oracle=_v18c_graph_sql() + " ORDER BY src, score DESC, dst",
)
def v18c_knn_graph_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return knn_graph_capped_det(emb, k=3).orderBy(
        "src", F.desc("score"), "dst"
    )


# ---------------------------------------------------------------------------
# V29: binary sign quantization + Hamming retrieval audit
# ---------------------------------------------------------------------------

_V29_PROBES = (0, 1, 2)
_V29_K = 5


@REGISTRY.register(
    name="v29_binary_quantize",
    survey_ref="V3 family (1-bit compression); v20/v22's cheapest sibling",
    doc="binary sign quantization (1 bit/dim — the 32× compression "
    "tier below v20's int8 and v22's truncation): each 64-dim "
    "embedding packs into two BIGINT halves (sign bits, dims 1-32 → "
    "lo, 33-64 → hi), retrieval is XOR + popcount Hamming distance, "
    "and the audit scores the top-5 Hamming neighbors of three "
    "probes against the exact rounded-cosine top-5 (in_exact_top5 "
    "per row, recall@5 per probe) — the measured price of the 1-bit "
    "tier, fully deterministic and hash-checked. Packing is map-side "
    "(array HOFs, no shuffle; the scale path is the same two-word "
    "XOR in an Arrow kernel); the 3-row probe table broadcasts and "
    "the corpus is scanned once per side, top-5 via per-probe "
    "window over k·|corpus| candidate rows.",
    oracle=f"""
        WITH codes AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN e > 0 AND i <= 32
                                 THEN (1::BIGINT << (i - 1)) ELSE 0 END) AS BIGINT) AS lo,
                   CAST(SUM(CASE WHEN e > 0 AND i > 32
                                 THEN (1::BIGINT << (i - 33)) ELSE 0 END) AS BIGINT) AS hi
            FROM (SELECT vec_id, UNNEST(embedding) AS e,
                         GENERATE_SUBSCRIPTS(embedding, 1) AS i
                  FROM embeddings)
            GROUP BY vec_id
        ), probes AS (
            SELECT e.vec_id AS probe_id, e.embedding AS pvec, c.lo AS plo, c.hi AS phi
            FROM embeddings e JOIN codes c ON e.vec_id = c.vec_id
            WHERE e.vec_id IN {_V29_PROBES}
        ), ham AS (
            SELECT p.probe_id, c.vec_id,
                   CAST(BIT_COUNT(XOR(p.plo, c.lo))
                        + BIT_COUNT(XOR(p.phi, c.hi)) AS BIGINT) AS hamming
            FROM probes p JOIN codes c ON c.vec_id != p.probe_id
        ), ham_top AS (
            SELECT probe_id, vec_id, hamming,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY hamming, vec_id) AS rn
            FROM ham
        ), cos AS (
            SELECT p.probe_id, e.vec_id,
                   ROUND({_COS_SQL.format(a="p.pvec", b="e.embedding")}, 6) AS cos
            FROM probes p JOIN embeddings e ON e.vec_id != p.probe_id
        ), cos_top AS (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cos DESC, vec_id) AS rn
            FROM cos
        )
        SELECT h.probe_id, h.vec_id, h.hamming, c.cos,
               ct.vec_id IS NOT NULL AS in_exact_top5,
               ROUND(AVG(CASE WHEN ct.vec_id IS NOT NULL THEN 1.0 ELSE 0.0 END)
                     OVER (PARTITION BY h.probe_id), 2) AS recall5
        FROM ham_top h
        JOIN cos c ON c.probe_id = h.probe_id AND c.vec_id = h.vec_id
        LEFT JOIN cos_top ct ON ct.probe_id = h.probe_id
                            AND ct.vec_id = h.vec_id AND ct.rn <= {_V29_K}
        WHERE h.rn <= {_V29_K}
        ORDER BY h.probe_id, h.hamming, h.vec_id
    """,
)
def v29_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)

    def pack(vec, lo_not_hi: bool):
        half = F.slice(vec, 1 if lo_not_hi else 33, 32)
        # shiftleft() takes only a literal shift — 2^i via pow() is
        # exact through 2^31, covering the 32-bit half words
        bits = F.transform(
            half,
            lambda x, i: F.when(
                x > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)

    codes = emb.select(
        "vec_id",
        "embedding",
        pack(F.col("embedding"), True).alias("lo"),
        pack(F.col("embedding"), False).alias("hi"),
    )
    probes = (
        codes.filter(F.col("vec_id").isin(*_V29_PROBES))
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pvec"),
            F.col("lo").alias("plo"),
            F.col("hi").alias("phi"),
        )
    )
    cand = codes.select("vec_id", "embedding", "lo", "hi").crossJoin(
        F.broadcast(probes)
    ).filter(F.col("vec_id") != F.col("probe_id"))
    scored = cand.select(
        "probe_id",
        "vec_id",
        (
            F.bit_count(F.col("plo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("phi").bitwiseXOR(F.col("hi")))
        )
        .cast("long")
        .alias("hamming"),
        F.round(cosine(F.col("pvec"), F.col("embedding")), 6).alias("cos"),
    )
    ham_top = scored.withColumn(
        "rn", F.row_number().over(W.partitionBy("probe_id").orderBy("hamming", "vec_id"))
    ).filter(F.col("rn") <= _V29_K)
    cos_top = (
        scored.withColumn(
            "crn",
            F.row_number().over(
                W.partitionBy("probe_id").orderBy(F.desc("cos"), "vec_id")
            ),
        )
        .filter(F.col("crn") <= _V29_K)
        .select("probe_id", "vec_id", F.lit(True).alias("in_exact"))
    )
    return (
        ham_top.join(F.broadcast(cos_top), ["probe_id", "vec_id"], "left")
        .select(
            "probe_id",
            "vec_id",
            "hamming",
            "cos",
            F.coalesce("in_exact", F.lit(False)).alias("in_exact_top5"),
            F.round(
                F.avg(F.when(F.col("in_exact"), 1.0).otherwise(0.0)).over(
                    W.partitionBy("probe_id")
                ),
                2,
            ).alias("recall5"),
        )
        .orderBy("probe_id", "hamming", "vec_id")
    )


# ---------------------------------------------------------------------------
# V30: product quantization (PQ) + asymmetric-distance retrieval audit
# ---------------------------------------------------------------------------

_PQ_M = 8       # sub-blocks per vector (64 dims -> 8 blocks of 8)
_PQ_DSUB = 8    # dims per block
_PQ_K = 16      # codebook entries per block -> 8 x 4 bits = 4 bytes/vector
_PQ_PROBES = (0, 1, 2)
_PQ_TOPK = 5


@REGISTRY.register(
    name="v30_product_quantization",
    survey_ref="V3 family (compression); completes v20 int8 / v22 "
    "truncation / v29 binary with the codebook tier",
    bench=True,
    doc=f"product quantization (Jégou et al., TPAMI 2011): each 64-dim "
    f"embedding splits into {_PQ_M} blocks of {_PQ_DSUB} dims; per "
    f"block, the code is the argmin-L2 entry of a {_PQ_K}-entry "
    "codebook (seeded deterministically from the first 16 vectors' "
    "sub-blocks — the seed_centroids convention), compressing 512 "
    "bytes to 4. Retrieval is ADC (asymmetric distance): the probe "
    "builds a tiny per-block lookup table of squared distances to "
    "every codebook entry, and each corpus vector's distance estimate "
    "is the sum of 8 LUT hits — the corpus is scanned via its CODES "
    "only, embeddings never touched. The audit returns each of three "
    "probes' ADC top-5 with the exact L2, in_exact_top5, and "
    "recall@5 — the measured price of 128× compression. Scale: the "
    "codebook (128 rows) and each probe LUT (128 rows) broadcast; "
    "encoding is one block-explode + broadcast-join argmin (map-side "
    "partial); ADC is one sum-agg over (probe, vec) keys.",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), blocks AS (
            SELECT vec_id, m,
                   v[(m * {_PQ_DSUB} + 1):(m * {_PQ_DSUB} + {_PQ_DSUB})] AS sub
            FROM emb, (SELECT UNNEST(GENERATE_SERIES(0, {_PQ_M - 1})) AS m) g
        ), codebook AS (
            SELECT m, vec_id AS code, sub AS cvec
            FROM blocks WHERE vec_id < {_PQ_K}
        ), enc AS (
            SELECT b.vec_id, b.m, c.code,
                   ROUND(LIST_DISTANCE(b.sub, c.cvec), 4) AS d,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.m
                                      ORDER BY ROUND(LIST_DISTANCE(b.sub, c.cvec), 4),
                                               c.code) AS rn
            FROM blocks b JOIN codebook c ON c.m = b.m
        ), codes AS (
            SELECT vec_id, m, code FROM enc WHERE rn = 1
        ), lut AS (
            SELECT p.vec_id AS probe_id, c.m, c.code,
                   LIST_DISTANCE(p.sub, c.cvec) ** 2 AS d2
            FROM blocks p JOIN codebook c ON c.m = p.m
            WHERE p.vec_id IN {_PQ_PROBES}
        ), adc AS (
            SELECT l.probe_id, k.vec_id,
                   ROUND(SQRT(SUM(l.d2)), 6) AS adc
            FROM codes k
            JOIN lut l ON l.m = k.m AND l.code = k.code
            WHERE k.vec_id != l.probe_id
            GROUP BY l.probe_id, k.vec_id
        ), adc_top AS (
            SELECT probe_id, vec_id, adc,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY adc, vec_id) AS rn
            FROM adc
        ), exact AS (
            SELECT p.vec_id AS probe_id, e.vec_id,
                   ROUND(LIST_DISTANCE(p.v, e.v), 6) AS l2
            FROM emb p JOIN emb e ON e.vec_id != p.vec_id
            WHERE p.vec_id IN {_PQ_PROBES}
        ), exact_top AS (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY l2, vec_id) AS rn
            FROM exact
        )
        SELECT a.probe_id, a.vec_id, a.adc, x.l2,
               xt.vec_id IS NOT NULL AS in_exact_top5,
               ROUND(AVG(CASE WHEN xt.vec_id IS NOT NULL THEN 1.0 ELSE 0.0 END)
                     OVER (PARTITION BY a.probe_id), 2) AS recall5
        FROM adc_top a
        JOIN exact x ON x.probe_id = a.probe_id AND x.vec_id = a.vec_id
        LEFT JOIN exact_top xt ON xt.probe_id = a.probe_id
                              AND xt.vec_id = a.vec_id AND xt.rn <= {_PQ_TOPK}
        WHERE a.rn <= {_PQ_TOPK}
        ORDER BY a.probe_id, a.adc, a.vec_id
    """,
)
def v30_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    blocks = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
        F.col("v"),
    ).select(
        "vec_id", "m", F.slice("v", F.col("m") * _PQ_DSUB + 1, _PQ_DSUB).alias("sub")
    )
    codebook = blocks.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("code"), F.col("sub").alias("cvec")
    )
    l2 = lambda a, b: F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # encode: blocks x broadcast codebook, argmin as partial-aggregable
    # min(struct) on the rounded distance (ties to the lowest code)
    enc = blocks.join(F.broadcast(codebook), "m").select(
        "vec_id", "m", F.round(l2(F.col("sub"), F.col("cvec")), 4).alias("d"), "code"
    )
    codes = (
        enc.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d", "code")).alias("b"))
        .select("vec_id", "m", F.col("b.code").alias("code"))
    )
    # probe LUTs: squared block distance to EVERY codebook entry
    lut = (
        blocks.filter(F.col("vec_id").isin(*_PQ_PROBES))
        .select(F.col("vec_id").alias("probe_id"), "m", F.col("sub").alias("psub"))
        .join(F.broadcast(codebook), "m")
        .select(
            "probe_id", "m", "code",
            F.pow(l2(F.col("psub"), F.col("cvec")), F.lit(2.0)).alias("d2"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(F.round(F.sqrt(F.sum("d2")), 6).alias("adc"))
    )
    adc_top = adc.withColumn(
        "rn", F.row_number().over(W.partitionBy("probe_id").orderBy("adc", "vec_id"))
    ).filter(F.col("rn") <= _PQ_TOPK)
    probes = emb.filter(F.col("vec_id").isin(*_PQ_PROBES)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    # exact feeds both exact_top and the final join — persist so the
    # probes × corpus L2 scan runs once
    exact = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "vec_id", F.round(l2(F.col("pv"), F.col("v")), 6).alias("l2")
        )
        .transform(persist_once)
    )
    exact_top = (
        exact.withColumn(
            "xrn", F.row_number().over(W.partitionBy("probe_id").orderBy("l2", "vec_id"))
        )
        .filter(F.col("xrn") <= _PQ_TOPK)
        .select("probe_id", "vec_id", F.lit(True).alias("in_exact"))
    )
    return (
        exact.join(F.broadcast(adc_top), ["probe_id", "vec_id"])
        .join(F.broadcast(exact_top), ["probe_id", "vec_id"], "left")
        .select(
            "probe_id", "vec_id", "adc", "l2",
            F.coalesce("in_exact", F.lit(False)).alias("in_exact_top5"),
            F.round(
                F.avg(F.when(F.col("in_exact"), 1.0).otherwise(0.0)).over(
                    W.partitionBy("probe_id")
                ),
                2,
            ).alias("recall5"),
        )
        .orderBy("probe_id", "adc", "vec_id")
    )


# ---------------------------------------------------------------------------
# V31: tombstone-aware vector search (the DELETE leg of the index lifecycle)
# ---------------------------------------------------------------------------

_V31_PROBES = (0, 1, 2)
_V31_K = 5


@REGISTRY.register(
    name="v31_tombstone_search",
    survey_ref="V3 family + M5 lifecycle (create/upsert/retrain/purge had "
    "coverage; this is the DELETE leg — m7/s12 erasure must reach the index)",
    doc=f"tombstone-aware vector search: vec_id%50==0 rows are marked "
    "deleted (a GDPR erasure or retention drop — m7/s12's downstream), "
    "and each of three probes returns its top-{k} among LIVE vectors "
    "only, via an anti-join against the broadcast tombstone set BEFORE "
    "any scoring. Each hit carries `promoted` — true when the row "
    "enters the top-{k} only because a tombstoned row above it was "
    "excluded (computed in-query from the unfiltered ranking) — and "
    "the audit proves no deleted id is ever served (the failure mode "
    "of soft-delete indexes that filter AFTER truncating candidates "
    "to k). At scale the tombstone set is the index's delete-file "
    "sidecar (Iceberg positional deletes): broadcast, anti-joined at "
    "candidate-generation time, so recall among live rows is exact "
    "rather than k-minus-deleted.".format(k=_V31_K),
    oracle=f"""
        WITH tomb AS (
            SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0
        ), probes AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id IN {_V31_PROBES}
        ), scored AS (
            SELECT p.qid, e.vec_id,
                   ROUND({_COS_SQL.format(a="e.embedding", b="p.qv")}, 6) AS score
            FROM probes p
            JOIN embeddings e ON e.vec_id <> p.qid
        ), unfiltered AS (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score DESC, vec_id) AS rn_all
            FROM scored
        ), live AS (
            SELECT s.qid, s.vec_id, s.score
            FROM scored s ANTI JOIN tomb t ON s.vec_id = t.vec_id
        ), ranked AS (
            SELECT qid, vec_id, score,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score DESC, vec_id) AS rn
            FROM live
        )
        SELECT r.qid, r.vec_id, r.score,
               u.rn_all > {_V31_K} AS promoted
        FROM ranked r JOIN unfiltered u
          ON u.qid = r.qid AND u.vec_id = r.vec_id
        WHERE r.rn <= {_V31_K}
        ORDER BY r.qid, r.score DESC, r.vec_id
    """,
)
def v31_tombstone_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)
    tomb = emb.filter(F.col("vec_id") % 50 == 0).select("vec_id")
    probes = emb.filter(F.col("vec_id").isin(*_V31_PROBES)).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    )
    # persist: the scored scan feeds both the unfiltered ranking (the
    # promotion audit) and the live ranking
    scored = (
        emb.join(F.broadcast(probes), emb.vec_id != probes.qid)
        .select(
            "qid",
            "vec_id",
            F.round(cosine(as_double(F.col("embedding")), F.col("qv")), 6).alias(
                "score"
            ),
        )
        .transform(persist_once)
    )
    unfiltered = scored.withColumn(
        "rn_all",
        F.row_number().over(W.partitionBy("qid").orderBy(F.desc("score"), "vec_id")),
    ).select("qid", "vec_id", "rn_all")
    live = scored.join(F.broadcast(tomb), "vec_id", "left_anti")
    ranked = live.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("qid").orderBy(F.desc("score"), "vec_id")),
    ).filter(F.col("rn") <= _V31_K)
    return (
        unfiltered.join(F.broadcast(ranked), ["qid", "vec_id"])
        .select(
            "qid",
            "vec_id",
            "score",
            (F.col("rn_all") > _V31_K).alias("promoted"),
        )
        .orderBy("qid", F.desc("score"), "vec_id")
    )


# ---------------------------------------------------------------------------
# v3e: deterministic IVF probe, hash-oracled (v3c's exact twin)
# ---------------------------------------------------------------------------

_V3E_CELLS = 16
_V3E_PROBE = 4


@REGISTRY.register(
    name="v3e_ivf_probe_det",
    survey_ref="V3 (ANN probe); v3c's hash-oracled twin — closes the "
    "last tunable-ANN rows-only gap the way v3d closed LSH's",
    doc="the IVF probe itself, hash-checked end-to-end: seed centroids "
    f"(vec_id < {_V3E_CELLS}, ivf_topk's train-free fallback), "
    "ROUNDED-cosine cell assignment with an explicit (score DESC, "
    "cell_id) tie-break (assign_cells breaks ties the same way, but on "
    "unrounded scores whose last bits differ across engines), "
    f"top-{_V3E_PROBE} probe cells "
    "by rounded query-centroid cosine, exact rerank of the probed "
    "cells' members, top-5. Same plan shape as ivf_probe / v3c "
    "(broadcast centroid cross → cell equi-join → candidate-only "
    "rerank); the assignment window is vec_id-partitioned. v3c keeps "
    "the TRAINED-centroid "
    "path (recall-tested); this pins the probe arithmetic.",
    oracle=f"""
        WITH cen AS (
            SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centroid
            FROM embeddings WHERE vec_id < {_V3E_CELLS}
        ), q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0
        ), scored AS (
            SELECT e.vec_id, c.cell_id,
                   ROUND({_COS_SQL.format(a="e.embedding", b="c.centroid")}, 6)
                       AS s
            FROM embeddings e CROSS JOIN cen c
        ), assign AS (
            SELECT vec_id, cell_id FROM (
                SELECT vec_id, cell_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell_id) AS rn
                FROM scored) WHERE rn = 1
        ), probe AS (
            SELECT cell_id FROM (
                SELECT c.cell_id,
                       ROW_NUMBER() OVER (ORDER BY
                           ROUND({_COS_SQL.format(a="c.centroid", b="q.qv")}, 6)
                               DESC, c.cell_id) AS rn
                FROM cen c CROSS JOIN q) WHERE rn <= {_V3E_PROBE}
        ), cand AS (
            SELECT a.vec_id FROM assign a JOIN probe USING (cell_id)
            WHERE a.vec_id <> 0
        )
        SELECT e.vec_id,
               ROUND({_COS_SQL.format(a="e.embedding", b="q.qv")}, 6) AS score
        FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
        ORDER BY score DESC, e.vec_id
        LIMIT 5
    """,
)
def v3e_ivf_probe_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # r12: the corpus×cells HOF-cosine map work serializes on the
    # single-file fixture scan — fan out (see t17b)
    emb = fan_out_small_input(load_table(spark, "embeddings", sf_dir))
    cen = emb.filter(F.col("vec_id") < _V3E_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        as_double(F.col("embedding")).alias("centroid"),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    c = with_norm(emb, "embedding", "_cv", "_cn")
    z = with_norm(cen, "centroid", "_zv", "_zn")
    scored = c.crossJoin(F.broadcast(z)).select(
        "vec_id",
        "cell_id",
        F.round(
            dot(F.col("_cv"), F.col("_zv")) / (F.col("_cn") * F.col("_zn")), 6
        ).alias("s"),
    )
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cell_id"))
    assign = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )
    probe = (
        cen.crossJoin(F.broadcast(qv))
        .select(
            "cell_id",
            F.round(cosine(F.col("centroid"), F.col("qv")), 6).alias("cs"),
        )
        .orderBy(F.desc("cs"), F.asc("cell_id"))
        .limit(_V3E_PROBE)
        .select("cell_id")
    )
    cand = (
        assign.join(F.broadcast(probe), "cell_id")
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
    )
    return (
        emb.join(cand, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# v32: IVF-PQ with residual encoding (the production ANN index shape)
# ---------------------------------------------------------------------------

_V32_CELLS = 16
_V32_PROBE = 4
# codebooks seed from residuals of vec_ids [16, 32): the first 16
# vectors ARE the centroids, so their residuals are identically zero —
# seeding there would make every codebook entry the zero vector and
# every ADC 0 (degenerate). Probes likewise avoid centroid ids.
_V32_CB_LO = _V32_CELLS
_V32_CB_HI = _V32_CELLS + _PQ_K
_V32_PROBES = (40, 41, 42)


@REGISTRY.register(
    name="v32_ivf_pq",
    bench=True,
    survey_ref="V3 family (the composed production index): v3e's coarse "
    "IVF routing × v30's PQ codes, with RESIDUAL encoding — the "
    "FAISS IVFPQ shape (Jégou et al., TPAMI 2011 §IV)",
    doc="IVF-PQ end-to-end, hash-checked: vectors assign to their "
    f"nearest of {_V32_CELLS} seed centroids (rounded-L2 argmin, tie "
    "to lowest cell); each vector's RESIDUAL (v − centroid) is "
    f"product-quantized into {_PQ_M} 4-bit codes against per-block "
    "codebooks seeded from the first {_PQ_K} residual sub-blocks. A "
    f"probe ranks cells by rounded L2, scans the best {_V32_PROBE}, "
    "and scores candidates by ADC — with a DISTINCT LUT per probed "
    "cell, because the query residual q − centroid_c differs per "
    "cell (the detail naive IVF+PQ compositions get wrong). Output "
    "per probe: ADC top-5 among candidates, exact L2, membership in "
    "the exact unpruned top-5, recall@5, the PRUNING CEILING (recall "
    "an exact rerank inside the probed cells could at best reach — "
    "on this isotropic fixture the 4/16-cell prune dominates, and "
    "the ceiling column proves which loss is whose), and the "
    "candidate count — the decomposed price of pruning + 128× "
    "quantization in one table. "
    "Scale: centroids (16), codebooks (128 rows) and LUTs "
    f"({len(_PQ_PROBES)}×{_V32_PROBE}×{_PQ_M}×{_PQ_K} rows) all "
    "broadcast; encode is one block-explode + broadcast argmin; at "
    "100 TB the code table is cell_id-partitioned so a probe reads "
    f"{_V32_PROBE} partitions of 4-byte codes — embeddings move "
    "exactly once (at encode).",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), cen AS (
            SELECT vec_id AS cell_id, v AS centroid FROM emb
            WHERE vec_id < {_V32_CELLS}
        ), assign AS (
            SELECT vec_id, cell_id, res FROM (
                SELECT e.vec_id, c.cell_id,
                       LIST_TRANSFORM(e.v, (x, i) -> x - c.centroid[i]) AS res,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY ROUND(LIST_DISTANCE(e.v, c.centroid), 4),
                                    c.cell_id) AS rn
                FROM emb e CROSS JOIN cen c) WHERE rn = 1
        ), rblocks AS (
            SELECT vec_id, cell_id, m,
                   res[(m * {_PQ_DSUB} + 1):(m * {_PQ_DSUB} + {_PQ_DSUB})] AS sub
            FROM assign, (SELECT UNNEST(GENERATE_SERIES(0, {_PQ_M - 1})) AS m) g
        ), codebook AS (
            SELECT m, vec_id - {_V32_CB_LO} AS code, sub AS cvec
            FROM rblocks WHERE vec_id >= {_V32_CB_LO} AND vec_id < {_V32_CB_HI}
        ), codes AS (
            SELECT vec_id, cell_id, m, code FROM (
                SELECT b.vec_id, b.cell_id, b.m, c.code,
                       ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.m
                           ORDER BY ROUND(LIST_DISTANCE(b.sub, c.cvec), 4),
                                    c.code) AS rn
                FROM rblocks b JOIN codebook c ON c.m = b.m) WHERE rn = 1
        ), probe_cells AS (
            SELECT probe_id, cell_id, centroid FROM (
                SELECT p.vec_id AS probe_id, c.cell_id, c.centroid,
                       ROW_NUMBER() OVER (PARTITION BY p.vec_id
                           ORDER BY ROUND(LIST_DISTANCE(p.v, c.centroid), 4),
                                    c.cell_id) AS rn
                FROM emb p CROSS JOIN cen c
                WHERE p.vec_id IN {_V32_PROBES}) WHERE rn <= {_V32_PROBE}
        ), lut AS (
            SELECT pc.probe_id, pc.cell_id, cb.m, cb.code,
                   LIST_DISTANCE(
                       LIST_TRANSFORM(p.v, (x, i) -> x - pc.centroid[i])
                           [(cb.m * {_PQ_DSUB} + 1):(cb.m * {_PQ_DSUB} + {_PQ_DSUB})],
                       cb.cvec) ** 2 AS d2
            FROM probe_cells pc
            JOIN emb p ON p.vec_id = pc.probe_id
            JOIN codebook cb ON TRUE
        ), cand AS (
            SELECT pc.probe_id, k.vec_id, k.cell_id, k.m, k.code
            FROM codes k JOIN probe_cells pc ON pc.cell_id = k.cell_id
            WHERE k.vec_id != pc.probe_id
        ), adc AS (
            SELECT c.probe_id, c.vec_id,
                   ROUND(SQRT(SUM(l.d2)), 6) AS adc
            FROM cand c
            JOIN lut l ON l.probe_id = c.probe_id AND l.cell_id = c.cell_id
                      AND l.m = c.m AND l.code = c.code
            GROUP BY c.probe_id, c.vec_id
        ), ncand AS (
            SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
            FROM adc GROUP BY probe_id
        ), ceiling AS (
            SELECT xt.probe_id,
                   ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1.0
                                  ELSE 0.0 END) / {_PQ_TOPK}, 2) AS ceiling5
            FROM (SELECT probe_id, vec_id FROM exact_top
                  WHERE rn <= {_PQ_TOPK}) xt
            LEFT JOIN adc a ON a.probe_id = xt.probe_id
                           AND a.vec_id = xt.vec_id
            GROUP BY xt.probe_id
        ), adc_top AS (
            SELECT probe_id, vec_id, adc,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY adc, vec_id) AS rn
            FROM adc
        ), exact AS (
            SELECT p.vec_id AS probe_id, e.vec_id,
                   ROUND(LIST_DISTANCE(p.v, e.v), 6) AS l2
            FROM emb p JOIN emb e ON e.vec_id != p.vec_id
            WHERE p.vec_id IN {_V32_PROBES}
        ), exact_top AS (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY l2, vec_id) AS rn
            FROM exact
        )
        SELECT a.probe_id, a.vec_id, a.adc, x.l2,
               xt.vec_id IS NOT NULL AS in_exact_top5,
               ROUND(AVG(CASE WHEN xt.vec_id IS NOT NULL THEN 1.0 ELSE 0.0 END)
                     OVER (PARTITION BY a.probe_id), 2) AS recall5,
               c.ceiling5,
               n.n_candidates
        FROM adc_top a
        JOIN exact x ON x.probe_id = a.probe_id AND x.vec_id = a.vec_id
        LEFT JOIN exact_top xt ON xt.probe_id = a.probe_id
                              AND xt.vec_id = a.vec_id AND xt.rn <= {_PQ_TOPK}
        JOIN ncand n ON n.probe_id = a.probe_id
        JOIN ceiling c ON c.probe_id = a.probe_id
        WHERE a.rn <= {_PQ_TOPK}
        ORDER BY a.probe_id, a.adc, a.vec_id
    """,
)
def v32_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cen = emb.filter(F.col("vec_id") < _V32_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("centroid")
    )
    l2 = lambda a, b: F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    w_assign = W.partitionBy("vec_id").orderBy("d", "cell_id")
    assign = (
        emb.crossJoin(F.broadcast(cen))
        .select(
            "vec_id",
            "cell_id",
            F.round(l2(F.col("v"), F.col("centroid")), 4).alias("d"),
            F.zip_with(F.col("v"), F.col("centroid"), lambda x, y: x - y).alias(
                "res"
            ),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id", "res")
    )
    rblocks = assign.select(
        "vec_id",
        "cell_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
        "res",
    ).select(
        "vec_id",
        "cell_id",
        "m",
        F.slice("res", F.col("m") * _PQ_DSUB + 1, _PQ_DSUB).alias("sub"),
    )
    codebook = rblocks.filter(
        (F.col("vec_id") >= _V32_CB_LO) & (F.col("vec_id") < _V32_CB_HI)
    ).select(
        "m", (F.col("vec_id") - _V32_CB_LO).alias("code"), F.col("sub").alias("cvec")
    )
    codes = (
        rblocks.join(F.broadcast(codebook), "m")
        .select(
            "vec_id",
            "cell_id",
            "m",
            F.round(l2(F.col("sub"), F.col("cvec")), 4).alias("d"),
            "code",
        )
        .groupBy("vec_id", "cell_id", "m")
        .agg(F.min(F.struct("d", "code")).alias("b"))
        .select("vec_id", "cell_id", "m", F.col("b.code").alias("code"))
    )
    probes = emb.filter(F.col("vec_id").isin(*_V32_PROBES)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    w_pc = W.partitionBy("probe_id").orderBy("d", "cell_id")
    probe_cells = (
        probes.crossJoin(F.broadcast(cen))
        .select(
            "probe_id",
            "cell_id",
            "centroid",
            "pv",
            F.round(l2(F.col("pv"), F.col("centroid")), 4).alias("d"),
        )
        .withColumn("rn", F.row_number().over(w_pc))
        .filter(F.col("rn") <= _V32_PROBE)
        .select("probe_id", "cell_id", "centroid", "pv")
    )
    # per-cell query residual -> per-(probe, cell) LUT slice
    lut = (
        probe_cells.withColumn(
            "pres", F.zip_with(F.col("pv"), F.col("centroid"), lambda x, y: x - y)
        )
        .crossJoin(F.broadcast(codebook))
        .select(
            "probe_id",
            "cell_id",
            "m",
            "code",
            F.pow(
                l2(
                    F.slice("pres", F.col("m") * _PQ_DSUB + 1, _PQ_DSUB),
                    F.col("cvec"),
                ),
                F.lit(2.0),
            ).alias("d2"),
        )
    )
    cand = codes.join(
        F.broadcast(probe_cells.select("probe_id", "cell_id")), "cell_id"
    ).filter(F.col("vec_id") != F.col("probe_id"))
    # adc fans out to THREE consumers (top-k, candidate counts, the
    # pruning ceiling) and the final recall window; unpersisted, each
    # branch re-executed the whole encode pipeline (assign → rblocks →
    # codes) — the r7 plan showed 36 scans of embeddings and zero
    # ReusedExchange. adc is probes × candidates rows (KBs); the
    # corpus-sized encode now runs exactly once.
    adc = (
        cand.join(F.broadcast(lut), ["probe_id", "cell_id", "m", "code"])
        .groupBy("probe_id", "vec_id")
        .agg(F.round(F.sqrt(F.sum("d2")), 6).alias("adc"))
        .transform(persist_once)
    )
    ncand = adc.groupBy("probe_id").agg(
        F.count("*").cast("bigint").alias("n_candidates")
    )
    adc_top = adc.withColumn(
        "rn", F.row_number().over(W.partitionBy("probe_id").orderBy("adc", "vec_id"))
    ).filter(F.col("rn") <= _PQ_TOPK)
    # exact feeds both exact_top and the final join — persist so the
    # probes × corpus L2 scan runs once
    exact = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "vec_id", F.round(l2(F.col("pv"), F.col("v")), 6).alias("l2")
        )
        .transform(persist_once)
    )
    exact_top = (
        exact.withColumn(
            "xrn",
            F.row_number().over(W.partitionBy("probe_id").orderBy("l2", "vec_id")),
        )
        .filter(F.col("xrn") <= _PQ_TOPK)
        .select("probe_id", "vec_id", F.lit(True).alias("in_exact"))
    )
    # pruning-only ceiling: fraction of the exact top-5 that survived
    # into the candidate set at all (what exact rerank inside the
    # probed cells could at best recover)
    ceiling = (
        exact_top.join(
            adc.select("probe_id", "vec_id", F.lit(1.0).alias("_hit")),
            ["probe_id", "vec_id"],
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.round(F.sum(F.coalesce("_hit", F.lit(0.0))) / _PQ_TOPK, 2).alias(
                "ceiling5"
            )
        )
    )
    return (
        exact.join(F.broadcast(adc_top), ["probe_id", "vec_id"])
        .join(F.broadcast(exact_top), ["probe_id", "vec_id"], "left")
        .join(F.broadcast(ncand), "probe_id")
        .join(F.broadcast(ceiling), "probe_id")
        .select(
            "probe_id",
            "vec_id",
            "adc",
            "l2",
            F.coalesce("in_exact", F.lit(False)).alias("in_exact_top5"),
            F.round(
                F.avg(F.when(F.col("in_exact"), 1.0).otherwise(0.0)).over(
                    W.partitionBy("probe_id")
                ),
                2,
            ).alias("recall5"),
            "ceiling5",
            "n_candidates",
        )
        .orderBy("probe_id", "adc", "vec_id")
    )


# ---------------------------------------------------------------------------
# d26: mutual k-NN (reciprocal-neighbor precision tier over v18b's graph)
# ---------------------------------------------------------------------------


def _d26_oracle() -> str:
    """Wrap v18b's exact oracle: mutual pairs are edges present in
    BOTH directions of the same graph — the composition reuses the
    registered SQL verbatim (pipeline_model_eval's discipline)."""
    v18b = REGISTRY.specs["v18b_knn_graph_det"].oracle
    return f"""
        WITH graph AS ({v18b})
        SELECT a.src AS vec_a, a.dst AS vec_b, a.score
        FROM graph a JOIN graph b
          ON b.src = a.dst AND b.dst = a.src
        WHERE a.src < a.dst
        ORDER BY a.src, a.dst
    """


@REGISTRY.register(
    name="d26_mutual_knn",
    survey_ref="training-data (near-dup precision tier); a directed "
    "k-NN edge only says 'b is among a's closest' — in a dense "
    "region that holds for half the corpus; RECIPROCITY is the "
    "standard precision filter (hubs lose their spurious edges "
    "because the hub's own top-k points elsewhere)",
    doc="mutual k-NN pairs: edges of v18b's deterministic LSH k-NN "
    "graph present in BOTH directions, deduped to a<b. Reciprocal "
    "neighbors are the high-precision candidate tier SemDeDup-style "
    "pipelines verify first — asymmetric edges are mostly hub "
    "artifacts. The oracle WRAPS v18b's registered SQL verbatim so "
    "the two can never desync; the Spark side is the graph "
    "self-joined on reversed (src,dst) — O(k·N) edge rows keyed by "
    "vec id, never the corpus.",
    oracle=_d26_oracle(),
)
def d26_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the graph meets its own reversal — persist or the exact kNN
    # build (the expensive corpus×corpus part) executes twice (v32's
    # fan-out lesson; measured 8 parquet scans → 4)
    graph = (
        v18b_knn_graph_det(spark, sf_dir)
        .select("src", "dst", "score")
        .transform(persist_once)
    )
    rev = graph.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("_r")
    )
    return (
        graph.join(rev, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("vec_a"), F.col("dst").alias("vec_b"), "score"
        )
        .orderBy("vec_a", "vec_b")
    )


def _d26b_oracle() -> str:
    """d26's mutual-pair logic over the CAPPED graph — wraps v18c's
    registered SQL verbatim so the two can never desync."""
    v18c = REGISTRY.specs["v18c_knn_graph_capped"].oracle
    return f"""
        WITH graph AS ({v18c})
        SELECT a.src AS vec_a, a.dst AS vec_b, a.score
        FROM graph a JOIN graph b
          ON b.src = a.dst AND b.dst = a.src
        WHERE a.src < a.dst
        ORDER BY a.src, a.dst
    """


@REGISTRY.register(
    name="d26b_mutual_knn_capped",
    survey_ref="training-data (near-dup precision tier) — d26 re-based "
    "on the graph a 100 TB run would actually build: d26's registered "
    "spelling rides the deliberately-UNCAPPED v18b anchor (DNF at sf10 "
    "by inheritance, SCALE.md), so the production composition existed "
    "only in prose until this twin (r9 verdict marching order #2)",
    doc="mutual k-NN pairs over v18c's occupancy-capped deterministic "
    "graph: edges present in BOTH directions, deduped to a<b. Same "
    "reciprocity semantics as d26 (hub artifacts lose their one-way "
    "edges); the substrate is the capped graph, so the whole plan is "
    "linear at scale AND hash-oracled. The oracle wraps v18c's "
    "registered SQL verbatim; the Spark side (r12) reduces the "
    "persisted O(k*N) edge set over the unordered pair key — "
    "mutuality is COUNT(*)=2 inside one aggregation (edges are "
    "unique per direction), so the former reversed self-join and "
    "its two merge sorts are gone; never the corpus.",
    oracle=_d26b_oracle(),
)
def d26b_mutual_knn_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 optimization (guide §2.4): (src, dst) is unique in the graph
    # (per-src top-k over distinct dsts), so "edge present in BOTH
    # directions" is a COUNT over the unordered pair key — one
    # map-side-partial aggregation of the O(k*N) edges replaces the
    # reversed self-join (which sorted BOTH sides under its merge pin).
    # The forward (a<b) edge's score rides along as the only non-null
    # s_fwd. Hash agg spills sort-based under pressure, so the merge
    # pin's OOM-safety argument carries over with one sort fewer.
    emb = load_table(spark, "embeddings", sf_dir)
    graph = knn_graph_capped_det(emb, k=3).transform(persist_once)
    und = graph.select(
        F.least("src", "dst").alias("vec_a"),
        F.greatest("src", "dst").alias("vec_b"),
        F.when(F.col("src") < F.col("dst"), F.col("score")).alias("s_fwd"),
    )
    return (
        und.groupBy("vec_a", "vec_b")
        .agg(F.count("*").alias("_n"), F.max("s_fwd").alias("score"))
        .filter(F.col("_n") == 2)
        .select("vec_a", "vec_b", "score")
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# v33: k-NN classifier readout (neighbor majority vote vs true labels)
# ---------------------------------------------------------------------------


def _v33_oracle() -> str:
    v18b = REGISTRY.specs["v18b_knn_graph_det"].oracle
    return f"""
        WITH graph AS ({v18b}), votes AS (
            SELECT g.src, l.label AS nbr_label, COUNT(*) AS v
            FROM graph g JOIN embeddings l ON l.vec_id = g.dst
            GROUP BY g.src, l.label
        ), pred AS (
            SELECT src, nbr_label AS pred_label FROM (
                SELECT src, nbr_label,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY v DESC, nbr_label) AS rn
                FROM votes) WHERE rn = 1
        ), scored AS (
            SELECT e.label AS true_label,
                   CASE WHEN p.pred_label = e.label THEN 1.0 ELSE 0.0 END
                       AS hit
            FROM pred p JOIN embeddings e ON e.vec_id = p.src
        )
        SELECT CAST(true_label AS INT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(hit), 6) AS knn_accuracy
        FROM scored GROUP BY true_label
        ORDER BY label
    """


@REGISTRY.register(
    name="v33_knn_classifier",
    survey_ref="training-data (embedding quality as a TASK metric); "
    "v21 scores cluster geometry, v24 flags label noise — k-NN "
    "accuracy is the standard 'are these embeddings any good for "
    "classification' probe (kNN probing in the SSL literature)",
    doc="k-NN classification readout: each vector's label predicted by "
    "majority vote of its v18b graph neighbors (ties to the lowest "
    "label), scored against its own label, accuracy per class. "
    "Near-chance accuracy on this isotropic fixture (labels carry "
    "little geometric signal — v24's premise) is the honest "
    "baseline; a real embedding provider lifts it, and THIS table "
    "is where that shows. The oracle wraps v18b's registered SQL "
    "verbatim; voting is one (src, label)-keyed partial agg over "
    "O(k·N) edges with the label table joined by vec id.",
    oracle=_v33_oracle(),
)
def v33_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)
    graph = v18b_knn_graph_det(spark, sf_dir).select("src", "dst")
    labels = emb.select("vec_id", "label")
    votes = (
        graph.join(labels.withColumnRenamed("vec_id", "dst"), "dst")
        .groupBy("src", F.col("label").alias("nbr_label"))
        .agg(F.count("*").alias("v"))
    )
    w = W.partitionBy("src").orderBy(F.desc("v"), F.asc("nbr_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src", F.col("nbr_label").alias("pred_label"))
    )
    scored = pred.join(
        labels.withColumnRenamed("vec_id", "src"), "src"
    ).select(
        F.col("label").alias("true_label"),
        F.when(F.col("pred_label") == F.col("label"), 1.0)
        .otherwise(0.0)
        .alias("hit"),
    )
    return (
        scored.groupBy(F.col("true_label").cast("int").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("hit"), 6).alias("knn_accuracy"),
        )
        .orderBy("label")
    )


def _capped_votes(emb: DataFrame) -> DataFrame:
    """(src, nbr_label, v) neighbor-label vote counts over the capped
    k-NN graph — the shared tail of v33b (classifier readout) and v24c
    (label-noise flags). One spelling so the two consumers' plans are
    canonically identical and pipeline_graph_quality's persist is hit
    by both."""
    graph = knn_graph_capped_det(emb, k=3).select("src", "dst")
    labels = emb.select("vec_id", "label")
    return (
        graph.join(labels.withColumnRenamed("vec_id", "dst"), "dst")
        .groupBy("src", F.col("label").alias("nbr_label"))
        .agg(F.count("*").alias("v"))
    )


def _v33b_oracle() -> str:
    v18c = REGISTRY.specs["v18c_knn_graph_capped"].oracle
    return f"""
        WITH graph AS ({v18c}), votes AS (
            SELECT g.src, l.label AS nbr_label, COUNT(*) AS v
            FROM graph g JOIN embeddings l ON l.vec_id = g.dst
            GROUP BY g.src, l.label
        ), pred AS (
            SELECT src, nbr_label AS pred_label FROM (
                SELECT src, nbr_label,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY v DESC, nbr_label) AS rn
                FROM votes) WHERE rn = 1
        ), scored AS (
            SELECT e.label AS true_label,
                   CASE WHEN p.pred_label = e.label THEN 1.0 ELSE 0.0 END
                       AS hit
            FROM pred p JOIN embeddings e ON e.vec_id = p.src
        )
        SELECT CAST(true_label AS INT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(hit), 6) AS knn_accuracy
        FROM scored GROUP BY true_label
        ORDER BY label
    """


@REGISTRY.register(
    name="v33b_knn_classifier_capped",
    survey_ref="training-data (embedding quality as a TASK metric) — "
    "v33 re-based on the capped graph the production path builds "
    "(r9 verdict marching order #2; v33's registered spelling rides "
    "the uncapped v18b anchor and DNFs at sf10 by inheritance)",
    doc="v33's k-NN classification readout over v18c's occupancy-"
    "capped deterministic graph: each vector's label predicted by "
    "majority vote of its capped-graph neighbors (ties to the lowest "
    "label), accuracy per class. Identical voting semantics to v33; "
    "the oracle wraps v18c's registered SQL verbatim. Voting is one "
    "(src,label)-keyed partial agg over O(k*N) edges.",
    oracle=_v33b_oracle(),
)
def v33b_knn_classifier_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)
    # r12: the votes frame is persisted with v24c's EXACT spelling
    # (_capped_votes) — inside pipeline_graph_quality the two consumers
    # then share one plan-identical cache instead of each re-running
    # the graph⋈labels join + (src, label) agg per timed run
    votes = _capped_votes(emb).transform(persist_once)
    labels = emb.select("vec_id", "label")
    w = W.partitionBy("src").orderBy(F.desc("v"), F.asc("nbr_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src", F.col("nbr_label").alias("pred_label"))
    )
    scored = pred.join(labels.withColumnRenamed("vec_id", "src"), "src").select(
        F.col("label").alias("true_label"),
        F.when(F.col("pred_label") == F.col("label"), 1.0).otherwise(0.0).alias("hit"),
    )
    return (
        scored.groupBy(F.col("true_label").cast("int").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("hit"), 6).alias("knn_accuracy"),
        )
        .orderBy("label")
    )


def _v24c_oracle() -> str:
    v18c = REGISTRY.specs["v18c_knn_graph_capped"].oracle
    return f"""
        WITH graph AS ({v18c}), votes AS (
            SELECT g.src, l.label AS nl, COUNT(*) AS c
            FROM graph g JOIN embeddings l ON l.vec_id = g.dst
            GROUP BY g.src, l.label
        ), maj AS (
            SELECT src, nl AS neighbor_label, c AS n_agree, n_nbrs FROM (
                SELECT src, nl, c,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY c DESC, nl) AS rn,
                       SUM(c) OVER (PARTITION BY src) AS n_nbrs
                FROM votes) WHERE rn = 1
        )
        SELECT m.src, CAST(e.label AS INT) AS own_label,
               CAST(m.neighbor_label AS INT) AS neighbor_label,
               CAST(m.n_agree AS INT) AS n_agree,
               CAST(m.n_nbrs AS INT) AS n_neighbors,
               CASE WHEN m.n_agree = 3 AND m.neighbor_label <> e.label
                    THEN 'flagged' ELSE 'ok' END AS verdict
        FROM maj m JOIN embeddings e ON e.vec_id = m.src
        ORDER BY m.src
    """


@REGISTRY.register(
    name="v24c_label_noise_capped",
    survey_ref="training-data (label QA) — v24's unanimous-disagreement "
    "verdict re-based on the capped graph (r9 verdict marching order "
    "#2): v24 itself is rows-only (RNG planes) and v24b audits only "
    "the ~1% probe sample with a corpus-scan-per-probe shape; this "
    "twin hash-checks the FULL-corpus verdict on the linear-at-scale "
    "substrate",
    doc="v24's label-noise verdict over v18c's occupancy-capped "
    "deterministic graph, emitted for EVERY vector (v24b's non-vacuous "
    "discipline — with 10 uniform labels a unanimous disagreement is "
    "rare, so a flags-only result would be vacuously empty at fixture "
    "scale): per src, its neighbors' majority label (ties to lowest), "
    "agreement count, neighbor count, and the flagged/ok verdict "
    "(flagged = 3 unanimous neighbors, all differing from own label). "
    "The oracle wraps v18c's registered SQL verbatim; the audit costs "
    "one (src,label) partial agg + two windows over O(k*N) edges.",
    oracle=_v24c_oracle(),
)
def v24c_label_noise_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, "embeddings", sf_dir)
    # r12: same persisted votes spelling as v33b (_capped_votes) — in
    # the graph card the graph⋈labels join + (src, label) agg runs
    # once for both consumers instead of per family per timed run
    votes = _capped_votes(emb).transform(persist_once)
    labels = emb.select("vec_id", "label")
    wr = W.partitionBy("src").orderBy(F.desc("v"), F.asc("nbr_label"))
    ws = W.partitionBy("src")
    maj = (
        votes.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_nbrs", F.sum("v").over(ws))
        .filter(F.col("rn") == 1)
        .select(
            "src",
            F.col("nbr_label").alias("neighbor_label"),
            F.col("v").alias("n_agree"),
            "n_nbrs",
        )
    )
    own = labels.select(F.col("vec_id").alias("src"), F.col("label").alias("own"))
    return (
        maj.join(own, "src")
        .select(
            "src",
            F.col("own").cast("int").alias("own_label"),
            F.col("neighbor_label").cast("int").alias("neighbor_label"),
            F.col("n_agree").cast("int").alias("n_agree"),
            F.col("n_nbrs").cast("int").alias("n_neighbors"),
            F.when(
                (F.col("n_agree") == 3) & (F.col("neighbor_label") != F.col("own")),
                F.lit("flagged"),
            )
            .otherwise(F.lit("ok"))
            .alias("verdict"),
        )
        .orderBy("src")
    )


def _graph_quality_oracle() -> str:
    """Compose the capped-graph family's EXACT oracle strings as
    subqueries (pipeline_model_eval's discipline): substrate stats
    (v18c), reciprocity tier (d26b), classification readout (v33b),
    label QA (v24c) — drift in any part's oracle drifts this card
    identically."""
    v18c = REGISTRY.specs["v18c_knn_graph_capped"].oracle
    d26b = REGISTRY.specs["d26b_mutual_knn_capped"].oracle
    v33b = REGISTRY.specs["v33b_knn_classifier_capped"].oracle
    v24c = REGISTRY.specs["v24c_label_noise_capped"].oracle
    return f"""
        SELECT 'substrate' AS family, metric, value FROM (
            SELECT UNNEST(['n_edges', 'avg_score']) AS metric,
                   UNNEST([CAST(COUNT(*) AS DOUBLE),
                           ROUND(AVG(score), 6)]) AS value
            FROM ({v18c})
        )
        UNION ALL
        SELECT 'precision_tier', metric, value FROM (
            SELECT UNNEST(['n_mutual_pairs', 'mutual_rate']) AS metric,
                   UNNEST([CAST(COUNT(*) AS DOUBLE),
                           ROUND(2.0 * COUNT(*) /
                                 (SELECT COUNT(*) FROM ({v18c})), 6)]) AS value
            FROM ({d26b})
        )
        UNION ALL
        SELECT 'classification', 'knn_accuracy_overall',
               ROUND(SUM(n * knn_accuracy) / SUM(n), 6)
        FROM ({v33b})
        UNION ALL
        SELECT 'label_qa', metric, value FROM (
            SELECT UNNEST(['n_flagged', 'flag_rate', 'avg_n_agree']) AS metric,
                   UNNEST([CAST(SUM(CASE WHEN verdict = 'flagged'
                                         THEN 1 ELSE 0 END) AS DOUBLE),
                           ROUND(SUM(CASE WHEN verdict = 'flagged'
                                          THEN 1.0 ELSE 0.0 END) / COUNT(*), 6),
                           ROUND(AVG(n_agree), 6)]) AS value
            FROM ({v24c})
        )
        ORDER BY family, metric
    """


@REGISTRY.register(
    name="pipeline_graph_quality",
    survey_ref="training-data (composed: v18c + d26b + v33b + v24c "
    "capped-graph governance card)",
    doc="the k-NN-graph governance card in ONE long-format table "
    "(family, metric, value): substrate size/score (v18c edge count + "
    "mean cosine), reciprocity precision tier (d26b mutual pairs + "
    "the share of edges that are mutual), embedding quality as a task "
    "metric (v33b's accuracy, n-weighted across classes), and label "
    "QA (v24c flag count/rate + mean neighbor agreement) — the report "
    "a curation pipeline publishes when the graph index is rebuilt, "
    "before dedup/labeling consumers trust it. The oracle REUSES the "
    "four parts' exact oracle strings as subqueries so the card can "
    "never drift from its parts; the Spark side calls the registered "
    "operators — their shared signature substrate is persisted once "
    "(persist_once's plan-identical cache), so the expensive keying "
    "work runs once and only the O(k*N) graph tails re-execute per "
    "family.",
    oracle=_graph_quality_oracle(),
    bench=True,  # r11: heaviest registered plan (10.8 s sf0.1) — the
    # composed 100 TB graph-governance path joins the floor guard per
    # the r10 verdict's marching order #3.
)
def pipeline_graph_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    def unpivot(df: DataFrame, family: str, cols: list[str]) -> DataFrame:
        pairs = F.array(
            *[
                F.struct(F.lit(c).alias("metric"), F.col(c).cast("double").alias("value"))
                for c in cols
            ]
        )
        return df.select(F.explode(pairs).alias("_m")).select(
            F.lit(family).alias("family"),
            F.col("_m.metric").alias("metric"),
            F.col("_m.value").alias("value"),
        )

    graph = v18c_knn_graph_capped(spark, sf_dir).transform(persist_once)
    sub = graph.agg(
        F.count("*").cast("double").alias("n_edges"),
        F.round(F.avg("score"), 6).alias("avg_score"),
    ).transform(persist_once)  # feeds the substrate family AND mutual_rate
    mut = (
        d26b_mutual_knn_capped(spark, sf_dir)
        .agg(F.count("*").cast("double").alias("n_mutual_pairs"))
        .crossJoin(F.broadcast(sub.select("n_edges")))
        .select(
            "n_mutual_pairs",
            F.round(2.0 * F.col("n_mutual_pairs") / F.col("n_edges"), 6).alias(
                "mutual_rate"
            ),
        )
    )
    cls = v33b_knn_classifier_capped(spark, sf_dir).agg(
        F.round(
            F.sum(F.col("n") * F.col("knn_accuracy")) / F.sum("n"), 6
        ).alias("knn_accuracy_overall")
    )
    qa = v24c_label_noise_capped(spark, sf_dir).agg(
        F.sum(F.when(F.col("verdict") == "flagged", 1).otherwise(0))
        .cast("double")
        .alias("n_flagged"),
        F.round(
            F.sum(F.when(F.col("verdict") == "flagged", 1.0).otherwise(0.0))
            / F.count("*"),
            6,
        ).alias("flag_rate"),
        F.round(F.avg("n_agree"), 6).alias("avg_n_agree"),
    )
    return (
        unpivot(sub, "substrate", ["n_edges", "avg_score"])
        .unionByName(unpivot(mut, "precision_tier", ["n_mutual_pairs", "mutual_rate"]))
        .unionByName(unpivot(cls, "classification", ["knn_accuracy_overall"]))
        .unionByName(unpivot(qa, "label_qa", ["n_flagged", "flag_rate", "avg_n_agree"]))
        .orderBy("family", "metric")
    )


# ---------------------------------------------------------------------------
# v35: PQ tuning curve — recall vs compression across block counts
# ---------------------------------------------------------------------------

_V35_MS = (4, 8, 16)  # blocks per vector; bytes/vec = M/2 at 4-bit codes


def _v35_block_sql(m_blocks: int) -> str:
    """One PQ encode + ADC recall measurement at M=m_blocks (v30's
    spelling parameterized); returns a SELECT yielding one row."""
    dsub = 64 // m_blocks
    return f"""
            SELECT {m_blocks} AS m_blocks,
                   ROUND(AVG(hit), 4) AS recall5,
                   {m_blocks / 2.0} AS bytes_per_vector
            FROM (
                WITH blocks AS (
                    SELECT vec_id, m,
                           CAST(embedding AS DOUBLE[])
                               [(m * {dsub} + 1):(m * {dsub} + {dsub})] AS sub
                    FROM embeddings,
                         (SELECT UNNEST(GENERATE_SERIES(0, {m_blocks - 1}))
                              AS m) g
                ), codebook AS (
                    SELECT m, vec_id AS code, sub AS cvec
                    FROM blocks WHERE vec_id < {_PQ_K}
                ), codes AS (
                    SELECT vec_id, m, code FROM (
                        SELECT b.vec_id, b.m, c.code,
                               ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.m
                                   ORDER BY ROUND(LIST_DISTANCE(b.sub, c.cvec), 4),
                                            c.code) AS rn
                        FROM blocks b JOIN codebook c ON c.m = b.m)
                    WHERE rn = 1
                ), lut AS (
                    SELECT p.vec_id AS probe_id, c.m, c.code,
                           LIST_DISTANCE(p.sub, c.cvec) ** 2 AS d2
                    FROM blocks p JOIN codebook c ON c.m = p.m
                    WHERE p.vec_id IN {_PQ_PROBES}
                ), adc AS (
                    SELECT l.probe_id, k.vec_id,
                           ROUND(SQRT(SUM(l.d2)), 6) AS adc
                    FROM codes k JOIN lut l ON l.m = k.m AND l.code = k.code
                    WHERE k.vec_id != l.probe_id
                    GROUP BY l.probe_id, k.vec_id
                ), adc_top AS (
                    SELECT probe_id, vec_id,
                           ROW_NUMBER() OVER (PARTITION BY probe_id
                                              ORDER BY adc, vec_id) AS rn
                    FROM adc
                ), exact_top AS (
                    SELECT probe_id, vec_id FROM (
                        SELECT p.vec_id AS probe_id, e.vec_id,
                               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                   ORDER BY ROUND(LIST_DISTANCE(
                                       CAST(p.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])), 6),
                                   e.vec_id) AS rn
                        FROM embeddings p JOIN embeddings e
                          ON e.vec_id != p.vec_id
                        WHERE p.vec_id IN {_PQ_PROBES})
                    WHERE rn <= {_PQ_TOPK}
                )
                SELECT x.probe_id,
                       CASE WHEN a.vec_id IS NOT NULL THEN 1.0 ELSE 0.0 END
                           AS hit
                FROM exact_top x
                LEFT JOIN adc_top a ON a.probe_id = x.probe_id
                                   AND a.vec_id = x.vec_id
                                   AND a.rn <= {_PQ_TOPK}
            )
    """


@REGISTRY.register(
    name="v35_pq_tuning_curve",
    survey_ref="V3 family (compression tuning); completes the "
    "tuning-audit trio — v25 prices IVF's n_probe, v27 prices LSH's "
    "n_tables, this prices PQ's block count M",
    doc=f"PQ recall-vs-compression curve: for M ∈ {_V35_MS} blocks "
    "(bytes/vector = M/2 at 4-bit codes), encode the corpus with "
    "v30's flat-PQ spelling at that M and measure recall@5 of ADC "
    "against the exact L2 top-5 over the three standard probes — "
    "the table that answers 'how many bytes does the recall I need "
    "cost'. On REAL (clustered) embeddings more blocks = finer "
    "quantization = monotonically higher recall; on this isotropic "
    "fixture the 3-probe × top-5 sample is 15 binary judgments "
    "(±0.13 noise), so the measured points (0.33/0.20/0.40 at "
    "sf0.01) price the MACHINERY, not a monotone law — claiming "
    "monotonicity here would be fitting noise, and the exact values "
    "are pinned instead. Each M is "
    "v30's plan (block-explode ⋈ broadcast codebook → code-keyed "
    "ADC); the three runs share nothing but the scan, exactly how a "
    "tuning sweep runs in production.",
    oracle=" UNION ALL ".join(_v35_block_sql(m) for m in _V35_MS)
    + " ORDER BY m_blocks",
)
def v35_pq_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # r12: the probe×corpus HOF-l2 map work serializes on the
    # single-file fixture scan — fan out (see t17b)
    emb = fan_out_small_input(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).transform(persist_once)
    l2 = lambda a, b: F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    probes = emb.filter(F.col("vec_id").isin(*_PQ_PROBES)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    exact_top = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "vec_id",
            F.round(l2(F.col("pv"), F.col("v")), 6).alias("d"),
        )
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("probe_id").orderBy("d", "vec_id")),
        )
        .filter(F.col("rn") <= _PQ_TOPK)
        .select("probe_id", "vec_id")
        .transform(persist_once)
    )
    outs = []
    for m_blocks in _V35_MS:
        dsub = 64 // m_blocks
        blocks = emb.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(m_blocks - 1))).alias("m"),
            "v",
        ).select(
            "vec_id", "m", F.slice("v", F.col("m") * dsub + 1, dsub).alias("sub")
        )
        codebook = blocks.filter(F.col("vec_id") < _PQ_K).select(
            "m", F.col("vec_id").alias("code"), F.col("sub").alias("cvec")
        )
        codes = (
            blocks.join(F.broadcast(codebook), "m")
            .select(
                "vec_id", "m",
                F.round(l2(F.col("sub"), F.col("cvec")), 4).alias("d"),
                "code",
            )
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct("d", "code")).alias("b"))
            .select("vec_id", "m", F.col("b.code").alias("code"))
        )
        lut = (
            blocks.filter(F.col("vec_id").isin(*_PQ_PROBES))
            .select(F.col("vec_id").alias("probe_id"), "m", F.col("sub").alias("psub"))
            .join(F.broadcast(codebook), "m")
            .select(
                "probe_id", "m", "code",
                F.pow(l2(F.col("psub"), F.col("cvec")), F.lit(2.0)).alias("d2"),
            )
        )
        adc_top = (
            codes.join(F.broadcast(lut), ["m", "code"])
            .filter(F.col("vec_id") != F.col("probe_id"))
            .groupBy("probe_id", "vec_id")
            .agg(F.round(F.sqrt(F.sum("d2")), 6).alias("adc"))
            .withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("probe_id").orderBy("adc", "vec_id")
                ),
            )
            .filter(F.col("rn") <= _PQ_TOPK)
            .select("probe_id", "vec_id", F.lit(1.0).alias("_hit"))
        )
        rec = (
            exact_top.join(F.broadcast(adc_top), ["probe_id", "vec_id"], "left")
            .agg(
                F.lit(m_blocks).alias("m_blocks"),
                F.round(F.avg(F.coalesce("_hit", F.lit(0.0))), 4).alias("recall5"),
                F.lit(m_blocks / 2.0).alias("bytes_per_vector"),
            )
        )
        outs.append(rec)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("m_blocks")
