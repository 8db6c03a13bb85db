"""The reference-API facade: every Neo4jMemory/Neo4jRAG method name
works Spark-backed and preserves its documented semantics."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ai_iceberg_demo_spark.facade import ConversationMemory, VectorRAG
from ai_iceberg_demo_spark.tables import load_table
from tests.conftest import SF_DIR


def _memory(spark):
    orders = load_table(spark, "orders", SF_DIR)
    li = load_table(spark, "lineitem", SF_DIR)
    conversations = orders.select(
        F.col("o_orderkey").cast("string").alias("workflow_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("created_at"),
    )
    messages = li.select(
        F.col("l_orderkey").cast("string").alias("workflow_id"),
        F.col("l_linenumber").cast("bigint").alias("sequence"),
        F.col("l_partkey").alias("payload"),
    )
    results = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").cast("string").alias("workflow_id"),
        F.col("l_partkey").alias("result_id"),
    )
    return ConversationMemory(conversations, messages, results), conversations, messages, results


def test_conversation_crud_roundtrip(spark):
    mem, conversations, messages, results = _memory(spark)

    assert mem.verify_connection()
    wid = conversations.select("workflow_id").first()["workflow_id"]

    # get / list / paginate
    assert mem.get_conversation(wid).count() == 1
    page1 = mem.list_conversations(limit=10).collect()
    page2 = mem.list_conversations(limit=10, offset=10).collect()
    assert len(page1) == len(page2) == 10
    assert {r["workflow_id"] for r in page1}.isdisjoint(
        {r["workflow_id"] for r in page2}
    )

    # merge-upsert: existing id updates, new id inserts
    spark_ = conversations.sparkSession
    rows = spark_.createDataFrame(
        [(wid, "X", None), ("brand-new", "O", None)],
        conversations.schema,
    )
    merged = mem.create_conversation(rows)
    assert merged.count() == conversations.count() + 1
    assert merged.filter(F.col("workflow_id") == wid).first()["status"] == "X"

    # point status update
    updated = mem.update_conversation_status(wid, "done")
    assert updated.filter(F.col("workflow_id") == wid).first()["status"] == "done"
    assert updated.count() == conversations.count()


def test_list_conversations_keyset_default_and_plan(spark):
    """r6 verdict "What's wrong #2": deep pages route through keyset by
    default; no pagination path may plan a single-partition row_number
    window. The keyset page must equal the OFFSET page row-for-row."""
    mem, conversations, *_ = _memory(spark)

    page1 = mem.list_conversations(limit=10).collect()
    last = page1[-1]
    keyset2 = mem.list_conversations(
        limit=10, after=(last["created_at"], last["workflow_id"])
    ).collect()
    offset2 = mem.list_conversations(limit=10, offset=10).collect()
    assert [r["workflow_id"] for r in keyset2] == [r["workflow_id"] for r in offset2]

    def plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    for df in (
        mem.list_conversations(limit=10),
        mem.list_conversations(limit=10, offset=10),
        mem.list_conversations(limit=10, after=(last["created_at"], last["workflow_id"])),
    ):
        p = plan(df)
        assert "TakeOrderedAndProject" in p, p
        assert "Window" not in p, p  # never a single-partition row_number
        assert "Sort " not in p, p  # no global sort either
    # the keyset predicate is applied at the scan, BELOW the top-k (the
    # fixture's conversations columns are casts, so parquet-level
    # PushedFilters can't apply here — that form is pinned over native
    # columns by test_plans on o3_keyset_pagination)
    keyset_plan = plan(
        mem.list_conversations(limit=10, after=(last["created_at"], last["workflow_id"]))
    )
    cond = keyset_plan.split("Condition :")[1].split("\n")[0]
    # the optimizer rewrites created_at through the fixture's alias back
    # to the source column — the point is the range predicate runs at
    # the scan, not after the top-k
    assert " < " in cond, keyset_plan


def test_message_sequencing_and_results(spark):
    mem, conversations, messages, results = _memory(spark)
    wid = messages.select("workflow_id").first()["workflow_id"]
    prev_max = (
        messages.filter(F.col("workflow_id") == wid).agg(F.max("sequence")).first()[0]
    )

    new = messages.sparkSession.createDataFrame(
        [(wid, None, 111), (wid, None, 222)], messages.schema
    ).drop("sequence").withColumn("payload", F.col("payload").cast("long"))
    appended = mem.add_message(new.select("workflow_id", "payload"))
    new_seqs = sorted(
        r["sequence"]
        for r in appended.filter(
            (F.col("workflow_id") == wid) & (F.col("sequence") > prev_max)
        ).collect()
    )
    # the batch continues the existing max without gaps or collisions
    assert new_seqs == [prev_max + 1, prev_max + 2]

    # ordered replay honors limit and ordering
    replay = [r["sequence"] for r in mem.get_messages(wid, limit=3).collect()]
    assert len(replay) == 3 and replay == sorted(replay)

    # link-don't-copy: relinking an existing (wid, result) is a no-op
    link = results.limit(1)
    assert mem.link_existing_result(link).count() == results.count()
    assert mem.get_results(wid).count() == results.filter(
        F.col("workflow_id") == wid
    ).count()


def test_rag_surface(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    rag = VectorRAG(emb, docs)
    assert rag.verify_connection()

    chunks = rag.chunk_text()
    assert chunks.count() >= docs.count()

    index = rag.index_result_node()
    assert set(index.columns) == {"doc_id", "embedding"}

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    top = rag.search_similar_results(qv, k=5, min_score=-1.0).collect()
    assert len(top) == 5 and top[0]["vec_id"] == 0  # self-match first
    best = rag.get_best_match(qv, min_score=-1.0).collect()
    assert len(best) == 1 and best[0]["vec_id"] == 0
    ctx = rag.get_relevant_context(qv, k=3, min_score=-1.0)
    assert ctx.count() == 3 and "context" in ctx.columns


def test_research_lifecycle_cache_miss_then_hit(spark):
    """SURVEY §3.1 steps 4→5→9 replayed end-to-end through the facade
    (reference backend: ui/backend/main.py:310-414, research_manager.py
    306-424): a fresh query MISSES the semantic cache (step 4), runs the
    context probe (step 5), persists its report via add_result and
    indexes the embedding via index_result_node (step 9 miss arm); the
    SAME query re-asked then HITS the cache at score ~1.0 and takes the
    link_existing_result arm, which is idempotent on re-link."""
    mem, conversations, messages, results = _memory(spark)
    emb = load_table(spark, "embeddings", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    rag = VectorRAG(emb, docs)

    # The finished report (step 8's output) — text unlike any fixture doc.
    new_doc_id = 10_000_000
    report = spark.createDataFrame(
        [(new_doc_id, "quarterly deep research report on zirconium supply chains")],
        "doc_id long, text string",
    )
    # Query embedding = embed the query text (neo4j_rag.py:305-331 embeds
    # the query before the cosine probe); identical embed fn → the later
    # cache hit is exact.
    qv = (
        VectorRAG(emb, report)
        .index_result_node()
        .select(F.col("embedding").alias("qvec"))
    )

    # Step 4, first ask: cache probe at min_score=0.8 → MISS.
    assert rag.get_best_match(qv, min_score=0.80).count() == 0

    # Step 5: context probe (limit 3, min_score 0.5) — threshold honored:
    # every row scores ≥ 0.5, and relaxing the threshold yields exactly 3.
    ctx = rag.get_relevant_context(qv, k=3, min_score=0.50)
    assert ctx.filter(F.col("score") < 0.50).count() == 0
    relaxed = rag.get_relevant_context(qv, k=3, min_score=-1.0)
    assert relaxed.count() == 3 and "context" in relaxed.columns

    # Step 9, miss arm: add_result (M3) + index_result_node (V1/V6),
    # "persisted" by unioning the new vector onto the corpus table (the
    # MERGE the facade delegates to writeTo/merge_into in production).
    wid = results.select("workflow_id").first()["workflow_id"]
    new_result = spark.createDataFrame(
        [(wid, new_doc_id)], "workflow_id string, result_id long"
    )
    grown = mem.add_result(new_result)
    assert grown.count() == results.count() + 1

    indexed = VectorRAG(emb, report).index_result_node()
    new_vec = indexed.select(
        F.col("doc_id").alias("vec_id"),
        F.col("embedding").cast(emb.schema["embedding"].dataType).alias("embedding"),
    )
    corpus2 = emb.select("vec_id", "embedding").unionByName(new_vec)
    rag2 = VectorRAG(corpus2, docs)

    # Step 4, second ask (same query): cache HIT on the indexed report.
    best = rag2.get_best_match(qv, min_score=0.80).collect()
    assert len(best) == 1
    assert best[0]["vec_id"] == new_doc_id
    assert best[0]["score"] > 0.99

    # Step 9, hit arm: link-don't-copy — first link inserts, re-link no-ops.
    mem2 = ConversationMemory(conversations, messages, grown)
    hit_wid = conversations.select("workflow_id").first()["workflow_id"]
    link = spark.createDataFrame(
        [(hit_wid, new_doc_id)], "workflow_id string, result_id long"
    )
    linked_once = mem2.link_existing_result(link)
    assert linked_once.count() == grown.count() + 1
    mem3 = ConversationMemory(conversations, messages, linked_once)
    assert mem3.link_existing_result(link).count() == linked_once.count()


def test_create_vector_index_idempotent_and_probed(spark):
    """M5 (neo4j_rag.py:144-157): CREATE VECTOR INDEX IF NOT EXISTS —
    second call is a no-op; search_similar_results routes through the
    persisted index and agrees with the exact scan on the easy query
    (self-match first, scores identical on shared hits)."""
    emb = load_table(spark, "embeddings", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    rag = VectorRAG(emb, docs)
    name = "t_vec_idx"
    rag.drop_vector_index(name)
    try:
        assert rag.create_vector_index(name) is True
        # idempotent: second call no-ops and the table is unchanged
        n_rows = spark.table(name).count()
        assert rag.create_vector_index(name) is False
        assert spark.table(name).count() == n_rows

        qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
        via_index = rag.search_similar_results(qv, k=5, min_score=-1.0, index=name).collect()
        exact = rag.search_similar_results(qv, k=5, min_score=-1.0).collect()
        assert via_index[0]["vec_id"] == 0  # self-match always collides with itself
        exact_scores = {r["vec_id"]: r["score"] for r in exact}
        for r in via_index:  # every probed hit carries the exact score
            if r["vec_id"] in exact_scores:
                assert r["score"] == exact_scores[r["vec_id"]]

        missing = pytest.raises(ValueError, rag.search_similar_results, qv, index="no_such_idx")
        assert "does not exist" in str(missing.value)
    finally:
        rag.drop_vector_index(name)


def test_create_ivf_index_probed_with_trained_cells(spark):
    """M5, second kind: kind='ivf' persists the k-means cell assignment
    + centroid tables; search_similar_results routes through the cell
    probe, self-match first, scores exactly matching the full scan on
    shared hits. Second create is a no-op."""
    emb = load_table(spark, "embeddings", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    rag = VectorRAG(emb, docs)
    name = "t_ivf_idx"
    rag.drop_vector_index(name)
    try:
        assert rag.create_vector_index(name, kind="ivf", n_cells=16, n_probe=8) is True
        assert rag.create_vector_index(name, kind="ivf") is False
        assert spark.table(name).count() == emb.count()  # every vector assigned
        assert spark.table(f"{name}__centroids").count() == 16

        qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
        via_index = rag.search_similar_results(qv, k=5, min_score=-1.0, index=name).collect()
        exact = rag.search_similar_results(qv, k=5, min_score=-1.0).collect()
        assert via_index[0]["vec_id"] == 0 and via_index[0]["score"] == 1.0
        exact_scores = {r["vec_id"]: r["score"] for r in exact}
        for r in via_index:
            if r["vec_id"] in exact_scores:
                assert r["score"] == exact_scores[r["vec_id"]]
        # min_score threshold honored through the probe path
        gated = rag.search_similar_results(qv, k=5, min_score=0.99, index=name).collect()
        assert [r["vec_id"] for r in gated] == [0]

        bad = pytest.raises(ValueError, rag.create_vector_index, "t_other", kind="hnsw")
        assert "unsupported index kind" in str(bad.value)
    finally:
        rag.drop_vector_index(name)


def test_pipeline_interactive_routes_through_ivf_index(spark):
    """The research pipeline's cache/context probes route through a
    persisted IVF index when one is passed: the plan must carry the
    index table's cell_id equi-join, a kind mismatch must refuse
    (silent type swap), and with n_probe == n_cells the routed output
    is IDENTICAL to the exact path (same rerank arithmetic — recall
    only degrades as n_probe shrinks)."""
    from ai_iceberg_demo_spark.pipeline.research import pipeline_interactive
    from ai_iceberg_demo_spark.plans import explain_str

    emb = load_table(spark, "embeddings", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    rag = VectorRAG(emb, docs)
    name = "t_pipe_ivf_idx"
    rag.drop_vector_index(name)
    rag.drop_vector_index("t_pipe_lsh_idx")
    try:
        rag.create_vector_index(name, kind="ivf", n_cells=16, n_probe=16)
        routed = pipeline_interactive(spark, SF_DIR, index=name)
        plan = explain_str(routed, "simple")
        assert "cell_id" in plan, "index equi-join path missing from plan"

        exact = pipeline_interactive(spark, SF_DIR)
        assert routed.exceptAll(exact).count() == 0
        assert exact.exceptAll(routed).count() == 0

        # kind guard: routing through an lsh index must refuse loudly
        rag.create_vector_index("t_pipe_lsh_idx", kind="lsh")
        with pytest.raises(ValueError, match="ivf"):
            pipeline_interactive(spark, SF_DIR, index="t_pipe_lsh_idx")
    finally:
        rag.drop_vector_index(name)
        rag.drop_vector_index("t_pipe_lsh_idx")


def test_upsert_vector_index_appends_only_new_vectors(spark):
    """M5 lifecycle: upsert indexes ONLY unseen vec_ids (re-upsert is a
    0-row no-op), appended rows are probe-compatible, and a probe for a
    new vector's own embedding finds it (self-collision)."""
    emb = load_table(spark, "embeddings", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    base = emb.filter(F.col("vec_id") < 400)
    rag = VectorRAG(base, docs)
    name = "t_vec_idx_upsert"
    rag.drop_vector_index(name)
    try:
        assert rag.create_vector_index(name) is True
        n0 = spark.table(name).count()

        batch = emb.filter(F.col("vec_id") >= 400)
        n_batch = batch.count()
        assert rag.upsert_vector_index(batch, name) == n_batch
        assert spark.table(name).count() > n0
        # idempotent: the same batch again appends nothing
        assert rag.upsert_vector_index(batch, name) == 0

        # a probe with a new vector's embedding must find that vector
        new_id = batch.select(F.min("vec_id")).first()[0]
        qv = emb.filter(F.col("vec_id") == new_id).select(
            F.col("embedding").alias("qvec")
        )
        full = VectorRAG(emb, docs)
        hits = full.search_similar_results(qv, k=3, min_score=-1.0, index=name)
        assert hits.first()["vec_id"] == new_id

        missing = pytest.raises(
            ValueError, rag.upsert_vector_index, batch, "no_such_idx"
        )
        assert "does not exist" in str(missing.value)
    finally:
        rag.drop_vector_index(name)


def test_upsert_vector_index_dedups_repeated_ids_in_a_batch(spark):
    """A batch that repeats a vec_id appends it once: the IVF index
    keeps one row per vector."""
    emb = load_table(spark, "embeddings", SF_DIR)
    rag = VectorRAG(emb.filter(F.col("vec_id") < 400), load_table(spark, "documents", SF_DIR))
    name = "t_ivf_idx_dup_batch"
    rag.drop_vector_index(name)
    try:
        rag.create_vector_index(name, kind="ivf", n_cells=16)
        n0 = spark.table(name).count()
        v = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        batch = spark.createDataFrame(
            [(800001, v), (800002, v), (800001, v)], "vec_id bigint, embedding array<float>"
        )
        assert rag.upsert_vector_index(batch, name) == 2
        assert spark.table(name).count() == n0 + 2
    finally:
        rag.drop_vector_index(name)


def test_index_build_quarantines_degenerate_vectors(spark):
    """VERDICT r5 task #3: v26's QA gate fronts every M5 index build —
    a planted zero vector and wrong-dim row reach NEITHER the LSH nor
    the IVF index tables (and not via upsert either); both surface in
    the session's ``{name}__quarantine`` view with their class."""
    emb = load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    docs = load_table(spark, "documents", SF_DIR)
    degenerates = spark.range(1).select(
        F.lit(9000001).cast("long").alias("vec_id"),
        F.expr("transform(sequence(1, 64), i -> 0.0d)").alias("embedding"),
    ).unionByName(
        spark.range(1).select(
            F.lit(9000002).cast("long").alias("vec_id"),
            F.expr("transform(sequence(1, 32), i -> 0.1d)").alias("embedding"),
        )
    )
    poisoned = emb.filter(F.col("vec_id") < 200).unionByName(degenerates)

    for kind in ("lsh", "ivf"):
        name = f"t_vec_idx_qa_{kind}"
        rag = VectorRAG(poisoned, docs)
        rag.drop_vector_index(name)
        try:
            assert rag.create_vector_index(name, kind=kind) is True
            indexed = {
                r["vec_id"] for r in spark.table(name).select("vec_id").collect()
            }
            assert 9000001 not in indexed and 9000002 not in indexed
            assert len(indexed) > 0
            q = {
                r["vec_id"]: r["qa_verdict"]
                for r in spark.table(f"{name}__quarantine").collect()
            }
            assert q == {9000001: "zero_vector", 9000002: "wrong_dim"}

            # the upsert path runs the same gate: a batch mixing one
            # clean new vector with one degenerate appends only the
            # clean one
            batch = emb.filter(F.col("vec_id") == 499).unionByName(
                spark.range(1).select(
                    F.lit(9000003).cast("long").alias("vec_id"),
                    F.expr("transform(sequence(1, 64), i -> 0.0d)").alias(
                        "embedding"
                    ),
                )
            )
            assert rag.upsert_vector_index(batch, name) == 1
            after = {
                r["vec_id"] for r in spark.table(name).select("vec_id").collect()
            }
            assert 499 in after and 9000003 not in after
        finally:
            rag.drop_vector_index(name)


def test_delete_vectors_soft_deletes_from_every_probe_path(spark):
    """M5 delete leg: after delete_vectors, an index-routed search never
    serves the tombstoned id (for BOTH lsh and ivf kinds), re-deleting
    is a no-op, the base exact scan is untouched by design, and
    drop_vector_index removes the tombstone table too."""
    emb = load_table(spark, "embeddings", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    rag = VectorRAG(emb, docs)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    for kind in ("lsh", "ivf"):
        name = f"t_del_idx_{kind}"
        rag.drop_vector_index(name)
        try:
            rag.create_vector_index(name, kind=kind)
            before = rag.search_similar_results(qv, k=5, min_score=-1.0, index=name).collect()
            assert before[0]["vec_id"] == 0  # self-match present pre-delete
            victim = spark.createDataFrame([(0,)], "vec_id long")
            assert rag.delete_vectors(victim, name) == 1
            assert rag.delete_vectors(victim, name) == 0  # idempotent
            after = rag.search_similar_results(qv, k=5, min_score=-1.0, index=name).collect()
            assert all(r["vec_id"] != 0 for r in after), kind
            assert len(after) == 5  # live candidates backfill the k slots
            assert spark.catalog.tableExists(f"{name}__tombstones")
        finally:
            rag.drop_vector_index(name)
        assert not spark.catalog.tableExists(f"{name}__tombstones")


def test_erasure_pipeline_verifies_zero_residual(spark):
    """pipeline_erasure: every holding table reports erased_ok, the
    before counts agree with s12's inventory, and the subject actually
    had data to erase (non-vacuous on at least customer+orders)."""
    from ai_iceberg_demo_spark.operators.scans_filters import s12_subject_access
    from ai_iceberg_demo_spark.pipeline.curation import pipeline_erasure

    rows = {r["table_name"]: r for r in pipeline_erasure(spark, SF_DIR).collect()}
    assert set(rows) == {"customer", "orders", "lineitem", "events"}
    inv = {r["table_name"]: r["n_rows"] for r in s12_subject_access(spark, SF_DIR).collect()}
    for t, r in rows.items():
        assert r["erased_ok"] is True, t
        assert r["rows_after"] == 0
        assert r["rows_before"] == inv[t], t
    assert rows["customer"]["rows_before"] == 1
    assert rows["orders"]["rows_before"] > 0


def test_create_masked_view_enforces_policy_and_keeps_joins(spark):
    """The analyst read path: masked columns pseudonymize (no raw value
    survives), unmasked columns pass through untouched, the view is
    SQL-reachable, and a self-join on the masked column still groups
    the same entities (m18's joinability contract, exercised through
    the facade API)."""
    from ai_iceberg_demo_spark.facade import create_masked_view
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    cust = load_table(spark, "customer", SF_DIR)
    masked = create_masked_view(
        spark, cust, ["c_name", "c_mktsegment"], "cust_analyst"
    )
    pdf = masked.toPandas()
    raw = cust.toPandas()
    assert (pdf.c_name.str.startswith("p_")).all()
    assert set(pdf.columns) == set(raw.columns)
    assert (pdf.c_custkey.sort_values().values == raw.c_custkey.sort_values().values).all()
    # joinability: masked segment groups have the same sizes as raw
    got = pdf.groupby("c_mktsegment").size().sort_values().tolist()
    want = raw.groupby("c_mktsegment").size().sort_values().tolist()
    assert got == want
    # the policy is SQL-reachable
    n = spark.sql("SELECT COUNT(DISTINCT c_mktsegment) AS k FROM cust_analyst").collect()[0].k
    assert n == raw.c_mktsegment.nunique()
    spark.catalog.dropTempView("cust_analyst")
