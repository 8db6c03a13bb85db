"""rag_session: interactive memory + RAG calls, closed loop, one client.

Replays seeded research sessions through the facade
(``ConversationMemory`` / ``VectorRAG``) over the sf0.1 fixture. One
session is, in order:

  create_conversation (write, MERGE)      get_best_match (cache probe)
  get_relevant_context (only on a miss)  search_similar_results (IVF)
  add_message (write)                    get_messages
  list_conversations (page 1, keyset 2)  get_conversation
  update_conversation_status (write)     upsert_vector_index (write)

The facade's mutators are pure (they return the new table value); the
benchmark commits each one the way a parquet-backed deployment must:
conversations are rewritten as a new snapshot, messages append their
new rows, the vector index appends through ``upsert_vector_index``.

Every call's output is checked against DuckDB over the same parquet,
outside the timed region; writes are checked by row counts and key
invariants against a model of the expected state.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np

from common import (CAL_REF_S, Tracer, calibration_s, catalyst_ms, group_counters, jvm_pid,
                    median, start_session, work_cpu_s)

INDEX = "bench_ivf"
HIT_MIN, CTX_MIN = 0.38, 0.28  # the fixture thresholds of pipeline_interactive
HIT_MARGIN, MISS_MARGIN = 0.42, 0.35  # calibrated queries stay clear of HIT_MIN
PAGE = 20
# one session (12 calls) took 7-12 s of wall time on a 4-core host; a
# run plays one session per SESSION_SECONDS of --seconds, at least one
SESSION_SECONDS = 8.0
NEW_SHARE = 0.3  # sessions that open a new conversation
ZIPF = 1.2  # the rest resume the r-th most recent one with weight r**-ZIPF
NEW_VEC_BASE = 900_000
NEW_MSG_BASE = 10**12
READS = ("get_best_match", "get_relevant_context", "search_similar_results",
         "get_messages", "list_conversations", "get_conversation")
WRITES = ("create_conversation", "add_message", "update_conversation_status",
          "upsert_vector_index")
OPS = READS + WRITES


@dataclass
class Session:
    wid: str
    new: bool
    queries: list[list[float]]  # one cache hit and one miss, in seeded order
    payloads: list[int]


def _query(rng: np.random.Generator, corpus: np.ndarray, hit: bool) -> list[float]:
    """A fixture vector plus noise (a cache hit), or a fresh direction whose
    best match stays under the hit threshold (a miss)."""
    while True:
        if hit:
            base = corpus[rng.integers(0, len(corpus))]
            q = base + rng.normal(0.0, 0.16, base.shape)
        else:
            q = rng.normal(0.0, 1.0, corpus.shape[1])
        q /= np.linalg.norm(q)
        best = float((corpus @ q).max())
        if (hit and best >= HIT_MARGIN) or (not hit and best < MISS_MARGIN):
            return [float(x) for x in q]


def generate(seed: int, sf_dir: Path, n_sessions: int) -> list[Session]:
    """Seeded sessions over a recency list of conversation keys.

    A session opens a new conversation (``NEW_SHARE``) or resumes the
    r-th most recent one with Zipf weight ``r**-ZIPF``; either way its
    key moves to the front, so later sessions often return to it. Each
    session asks one question that hits the semantic cache and one that
    misses, so every session makes the same calls and the hit share is
    50%."""
    rng = np.random.default_rng(seed)
    con = duckdb.connect()
    recent = [r[0] for r in con.execute(
        f"SELECT CAST(o_orderkey AS VARCHAR) FROM read_parquet('{sf_dir}/orders.parquet') "
        "ORDER BY o_orderdate DESC, CAST(o_orderkey AS VARCHAR) DESC LIMIT 5000"
    ).fetchall()]
    emb = con.execute(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchnumpy()["embedding"]
    corpus = np.stack([np.asarray(e, dtype=np.float64) for e in emb])
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    out = []
    for i in range(n_sessions):
        if rng.random() < NEW_SHARE:
            wid, new = f"s{seed}-{i}", True
        else:
            wid, new = recent.pop(min(int(rng.zipf(ZIPF)) - 1, len(recent) - 1)), False
        recent.insert(0, wid)
        first_hit = bool(rng.integers(0, 2))
        queries = [_query(rng, corpus, first_hit), _query(rng, corpus, not first_hit)]
        out.append(Session(wid, new, queries, [int(x) for x in rng.integers(0, 10**6, 2)]))
    return out


@dataclass
class OpStats:
    lat: dict[str, list[float]] = field(default_factory=lambda: {o: [] for o in OPS})
    cpu: dict[str, list[float]] = field(default_factory=lambda: {o: [] for o in OPS})
    layer: dict[str, dict[str, list[float]]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    busy_ms: float = 0.0
    jit_ms: float = 0.0
    cal_s: list[float] = field(default_factory=list)


class RagWorkload:
    def __init__(self, spark, sf_dir: Path, scratch: Path, tracer: Tracer):
        self.spark, self.sf, self.scratch, self.tracer = spark, sf_dir, scratch, tracer
        self.stats = OpStats()
        self.db = duckdb.connect()
        self.n_msg = 0
        self.n_vec = 0
        self.n_conv_snap = 0
        self.calls = 0
        self.jvm = jvm_pid(spark)

    # -- set-up -------------------------------------------------------------

    @staticmethod
    def prepare_state(sf_dir: Path, scratch: Path) -> None:
        """Write the initial memory tables (input data, like the fixture)."""
        shutil.rmtree(scratch, ignore_errors=True)
        for sub in ("conversations_v0", "messages"):
            (scratch / sub).mkdir(parents=True)
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute(
            "COPY (SELECT CAST(o_orderkey AS VARCHAR) AS workflow_id, o_orderstatus AS status, "
            "CAST(o_orderdate AS TIMESTAMPTZ) AS created_at "
            f"FROM read_parquet('{sf_dir}/orders.parquet')) "
            f"TO '{scratch}/conversations_v0/part-0.parquet' (FORMAT PARQUET)")
        # msg_id tags rows so a commit can pick out the ones a call appended
        con.execute(
            "COPY (SELECT CAST(l_orderkey AS VARCHAR) AS workflow_id, "
            "CAST(l_linenumber AS BIGINT) AS sequence, l_partkey AS payload, "
            "l_orderkey * 8 + l_linenumber AS msg_id "
            f"FROM read_parquet('{sf_dir}/lineitem.parquet')) "
            f"TO '{scratch}/messages/part-0.parquet' (FORMAT PARQUET)")

    def setup(self) -> dict[str, float]:
        """Table handles."""
        from ai_iceberg_demo_spark.facade import ConversationMemory, VectorRAG
        from ai_iceberg_demo_spark.tables import load_table

        spark, sf = self.spark, str(self.sf)
        t0 = time.perf_counter()
        emb = load_table(spark, "embeddings", sf)
        docs = load_table(spark, "documents", sf)
        conv = spark.read.parquet(str(self._conv_dir(0)))
        msgs = spark.read.parquet(str(self.scratch / "messages"))
        t_load = time.perf_counter() - t0
        self.mem = ConversationMemory(conv, msgs, msgs.limit(0))
        self.rag = VectorRAG(emb, docs)
        self.n_conv = self._duck_one(f"SELECT COUNT(*) FROM {self._conv_scan()}")
        return {"tables.load_ms": t_load * 1000.0}

    def build_index(self) -> None:
        """The IVF index searches route through."""
        self.rag.drop_vector_index(INDEX)
        self.rag.create_vector_index(INDEX, kind="ivf", n_cells=16, n_probe=4)
        self.n_index = self._duck_one(f"SELECT COUNT(*) FROM {self._index_scan()}")

    def teardown(self) -> None:
        self.rag.drop_vector_index(INDEX)

    # -- paths + duckdb helpers --------------------------------------------------

    def _conv_dir(self, n: int) -> Path:
        return self.scratch / f"conversations_v{n}"

    def _conv_scan(self) -> str:
        return f"read_parquet('{self._conv_dir(self.n_conv_snap)}/*.parquet')"

    def _msg_scan(self) -> str:
        return f"read_parquet('{self.scratch / 'messages'}/*.parquet')"

    def _index_scan(self, suffix: str = "") -> str:
        from urllib.parse import urlparse

        wh = urlparse(self.spark.conf.get("spark.sql.warehouse.dir")).path
        return f"read_parquet('{wh}/{INDEX}{suffix}/*.parquet')"

    def _duck_one(self, sql: str, params: list | None = None):
        return self.db.execute(sql, params or []).fetchone()[0]

    # -- one timed call ----------------------------------------------------------

    def _call(self, op: str, build, act, rows_of=len):
        """Time build (the lazy DataFrame) and act (the action / commit)."""
        spark, traced = self.spark, self.tracer.enabled
        self.calls += 1
        self.stats.attempted += 1
        group = f"{op}-{self.calls}"
        if traced:
            spark.sparkContext.setJobGroup(group, op)
        c0, j0 = work_cpu_s(self.jvm)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        out = act(df)
        t2 = time.perf_counter()
        c2, j2 = work_cpu_s(self.jvm)
        self.stats.cpu[op].append((c2 - c0) * 1000.0)
        self.stats.jit_ms += (j2 - j0) * 1000.0
        self.stats.cal_s.append(calibration_s(spark))
        self.stats.lat[op].append((t2 - t0) * 1000.0)
        if traced:
            trace_id = self.tracer.new_trace()
            root = self.tracer.record(f"facade.{op}", t0, t2, trace_id)
            self.tracer.record(f"facade.{op}.build", t0, t1, trace_id, root)
            self.tracer.record(f"facade.{op}.execute", t1, t2, trace_id, root)
            cat = 0.0
            if df is not None:
                # a write plans its own QueryExecution; planning this one
                # (after the timed region) times the same Catalyst work
                df._jdf.queryExecution().executedPlan()
                cat = catalyst_ms(df)
            c = group_counters(spark, group)
            self.stats.busy_ms += c["run_ms"]
            lay = self.stats.layer.setdefault(op, {})
            for k, v in (
                ("build_ms", (t1 - t0) * 1000.0), ("catalyst_ms", cat),
                ("exec_ms", (t2 - t1) * 1000.0), ("jobs", c["jobs"]), ("tasks", c["tasks"]),
                ("rows_read_per_row", c["input_records"] / max(rows_of(out), 1)),
            ):
                lay.setdefault(k, []).append(float(v))
        return out

    def _check(self, op: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.stats.failed += 1
            if len(self.stats.errors) < 20:
                self.stats.errors.append(f"{op}: {detail}")

    def _qdf(self, q: list[float]):
        return self.spark.createDataFrame([(q,)], "qvec array<double>")

    # -- reads ---------------------------------------------------------------

    def _topk_duck(self, q, k, min_score, where="", scan=None):
        scan = scan or f"read_parquet('{self.sf}/embeddings.parquet')"
        return self.db.execute(
            f"SELECT * FROM (SELECT vec_id, ROUND(list_cosine_similarity("
            f"CAST(embedding AS DOUBLE[]), CAST(? AS DOUBLE[])), 6) AS s FROM {scan} {where}) "
            f"WHERE s >= ? ORDER BY s DESC, vec_id LIMIT {k}", [q, min_score],
        ).fetchall()

    @staticmethod
    def _same_ranked(got, want) -> bool:
        if len(got) != len(want):
            return False
        for (gi, gs), (wi, ws) in zip(got, want):
            if abs(gs - ws) > 2e-6 or (gi != wi and abs(gs - ws) > 1e-12):
                return False
        return True

    def best_match(self, q: list[float]) -> bool:
        rows = self._call("get_best_match",
                          lambda: self.rag.get_best_match(self._qdf(q), HIT_MIN),
                          lambda df: df.collect())
        got = [(r["vec_id"], r["score"]) for r in rows]
        self._check("get_best_match", self._same_ranked(got, self._topk_duck(q, 1, HIT_MIN)),
                    str(got))
        return bool(rows)

    def relevant_context(self, q: list[float]) -> None:
        rows = self._call("get_relevant_context",
                          lambda: self.rag.get_relevant_context(self._qdf(q), 3, CTX_MIN),
                          lambda df: df.collect())
        want = self._topk_duck(q, 3, CTX_MIN)
        got = sorted((r["vec_id"], r["score"]) for r in rows)
        ctx_ok = all(
            r["context"] == self._duck_one(
                f"SELECT SUBSTR(text, 1, 2000) FROM read_parquet('{self.sf}/documents.parquet') "
                "WHERE doc_id = ?", [r["vec_id"]])
            for r in rows
        )
        self._check("get_relevant_context",
                    ctx_ok and self._same_ranked(got, sorted(want)), str(got))

    def similar(self, q: list[float]) -> None:
        rows = self._call(
            "search_similar_results",
            lambda: self.rag.search_similar_results(self._qdf(q), 5, CTX_MIN, index=INDEX),
            lambda df: df.collect())
        got = [(r["vec_id"], r["score"]) for r in rows]
        cells = [r[0] for r in self.db.execute(
            f"SELECT cell_id FROM {self._index_scan('__centroids')} ORDER BY "
            "list_cosine_similarity(CAST(centroid AS DOUBLE[]), CAST(? AS DOUBLE[])) DESC, "
            "cell_id LIMIT 4", [q]).fetchall()]
        want = self._topk_duck(
            q, 5, CTX_MIN,
            where=f"WHERE cell_id IN ({','.join(str(int(c)) for c in cells)})",
            scan=self._index_scan())
        self._check("search_similar_results", self._same_ranked(got, want), str(got))

    def messages(self, s: Session) -> None:
        rows = self._call("get_messages", lambda: self.mem.get_messages(s.wid),
                          lambda df: df.collect())
        seqs = [r["sequence"] for r in rows]
        want = sorted(self.db.execute(
            f"SELECT sequence, payload, msg_id FROM {self._msg_scan()} WHERE workflow_id = ?",
            [s.wid]).fetchall())
        got = sorted((r["sequence"], r["payload"], r["msg_id"]) for r in rows)
        self._check("get_messages", got == want and seqs == sorted(seqs), f"{len(got)} rows")

    def list_pages(self) -> None:
        p1 = self._call("list_conversations", lambda: self.mem.list_conversations(limit=PAGE),
                        lambda df: df.collect())
        last = p1[-1]
        p2 = self._call(
            "list_conversations",
            lambda: self.mem.list_conversations(
                limit=PAGE, after=(last["created_at"], last["workflow_id"])),
            lambda df: df.collect())
        want = [r[0] for r in self.db.execute(
            f"SELECT workflow_id FROM {self._conv_scan()} "
            f"ORDER BY created_at DESC, workflow_id DESC LIMIT {2 * PAGE}").fetchall()]
        got = [r["workflow_id"] for r in p1 + p2]
        self._check("list_conversations", got == want, f"{got[:3]} vs {want[:3]}")

    def conversation(self, s: Session, status: str) -> None:
        rows = self._call("get_conversation", lambda: self.mem.get_conversation(s.wid),
                          lambda df: df.collect())
        self._check("get_conversation",
                    [(r["workflow_id"], r["status"]) for r in rows] == [(s.wid, status)],
                    str(rows))

    # -- writes --------------------------------------------------------------

    def _commit_conversations(self, df) -> None:
        nxt = self.n_conv_snap + 1
        df.write.parquet(str(self._conv_dir(nxt)))
        shutil.rmtree(self._conv_dir(self.n_conv_snap), ignore_errors=True)
        self.n_conv_snap = nxt
        self.mem.conversations = self.spark.read.parquet(str(self._conv_dir(nxt)))

    def _conv_invariants(self, op: str, wid: str, status: str) -> None:
        n, n_keys = self.db.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT workflow_id) FROM {self._conv_scan()}").fetchone()
        row = self.db.execute(
            f"SELECT status FROM {self._conv_scan()} WHERE workflow_id = ?", [wid]).fetchall()
        self._check(op, n == self.n_conv and n_keys == n and row == [(status,)],
                    f"rows {n} keys {n_keys} expected {self.n_conv}; {wid} -> {row}")

    def create(self, s: Session, created_at) -> None:
        schema = self.mem.conversations.schema
        exists = self._duck_one(
            f"SELECT COUNT(*) FROM {self._conv_scan()} WHERE workflow_id = ?", [s.wid])
        self._call(
            "create_conversation",
            lambda: self.mem.create_conversation(
                self.spark.createDataFrame([(s.wid, "O", created_at)], schema)),
            self._commit_conversations, rows_of=lambda _: self.n_conv)
        self.n_conv += 0 if exists else 1
        self._conv_invariants("create_conversation", s.wid, "O")

    def update_status(self, s: Session) -> None:
        self._call("update_conversation_status",
                   lambda: self.mem.update_conversation_status(s.wid, "completed"),
                   self._commit_conversations, rows_of=lambda _: self.n_conv)
        self._conv_invariants("update_conversation_status", s.wid, "completed")

    def add_messages(self, s: Session) -> None:
        from pyspark.sql import functions as F

        ids = [NEW_MSG_BASE + self.n_msg + i for i in range(len(s.payloads))]
        self.n_msg += len(ids)
        prev = self._duck_one(
            f"SELECT COALESCE(MAX(sequence), 0) FROM {self._msg_scan()} WHERE workflow_id = ?",
            [s.wid])
        msg_dir = str(self.scratch / "messages")

        def commit(df):
            df.filter(F.col("msg_id").isin(ids)).write.mode("append").parquet(msg_dir)
            self.mem.messages = self.spark.read.parquet(msg_dir)

        self._call(
            "add_message",
            lambda: self.mem.add_message(self.spark.createDataFrame(
                [(s.wid, p, m) for p, m in zip(s.payloads, ids)],
                "workflow_id string, payload bigint, msg_id bigint")),
            commit, rows_of=lambda _: len(ids))
        got = self.db.execute(
            f"SELECT msg_id, sequence FROM {self._msg_scan()} "
            f"WHERE msg_id IN ({','.join(map(str, ids))}) ORDER BY sequence").fetchall()
        want_seq = list(range(prev + 1, prev + 1 + len(ids)))
        self._check("add_message", [q for _, q in got] == want_seq, f"{got} after max {prev}")

    def upsert(self, q: list[float]) -> None:
        vid = NEW_VEC_BASE + self.n_vec
        self.n_vec += 1
        n_new = self._call(
            "upsert_vector_index",
            lambda: None,
            lambda _: self.rag.upsert_vector_index(
                self.spark.createDataFrame(
                    [(vid, q)], "vec_id bigint, embedding array<float>"), INDEX),
            rows_of=lambda n: n)
        self.n_index += 1
        n_rows = self._duck_one(f"SELECT COUNT(*) FROM {self._index_scan()}")
        self._check("upsert_vector_index", n_new == 1 and n_rows == self.n_index,
                    f"appended {n_new}, index rows {n_rows} expected {self.n_index}")

    # -- one session ---------------------------------------------------------

    def run_session(self, s: Session, n: int) -> None:
        """One research session: the same calls every time."""
        import datetime as dt

        created = dt.datetime(2002, 1, 1) + dt.timedelta(seconds=n)
        self.create(s, created if s.new else None)
        for q in s.queries:
            if not self.best_match(q):
                self.relevant_context(q)
        q = s.queries[-1]
        self.similar(q)
        self.add_messages(s)
        self.messages(s)
        self.list_pages()
        self.conversation(s, "O")
        self.update_status(s)
        self.upsert(q)

    def play(self, sessions: list[Session]) -> None:
        for n, s in enumerate(sessions):
            try:
                self.run_session(s, n)
            except Exception as exc:  # a failing call counts, the run goes on
                self.stats.failed += 1
                self.stats.errors.append(f"{type(exc).__name__}: {exc}"[:300])


def run(sf_dir: Path, scratch: Path, tracer: Tracer, seed: int, seconds: float,
        cores: int, started: float) -> dict:
    """Set up once, then play a fixed number of sessions sized from
    ``seconds``, so the call mix never depends on the host's speed.

    There is no warm pass: a cold run takes 55-100 s on a 4-core host,
    most of it set-up, and an untimed warm session added 20-30 s more,
    which the benchmark's time budget could not hold. The timed calls
    therefore include first-call costs (code generation, class loading);
    JIT compilation is left out of the CPU figure (``work_cpu_s``).

    ``setup_s`` runs from ``started`` to the first timed call, less the
    time spent generating inputs."""
    t_in = time.perf_counter()
    n_sessions = max(1, round(seconds / SESSION_SECONDS))
    sessions = generate(seed, sf_dir, n_sessions)
    RagWorkload.prepare_state(sf_dir, scratch)
    inputs_s = time.perf_counter() - t_in
    t0 = time.perf_counter()
    spark = start_session("perfbench-rag_session")
    session_s = time.perf_counter() - t0
    wl = RagWorkload(spark, sf_dir, scratch, tracer)
    setup_layer = wl.setup()
    t_index = time.perf_counter()
    wl.build_index()
    t_end = time.perf_counter()
    setup_s = t_end - started - inputs_s
    t_start = time.perf_counter()
    wl.play(sessions)
    wall = time.perf_counter() - t_start
    wl.teardown()
    shutil.rmtree(scratch, ignore_errors=True)
    st = wl.stats
    all_lat = [x for op in OPS for x in st.lat[op]]
    all_cpu = [x for op in OPS for x in st.cpu[op]]
    writes = [x for op in WRITES for x in st.lat[op]]
    wall_m = {
        "op_p50_ms": median(all_lat),
        "write_p50_ms": median(writes),
        "ops_per_s": len(all_lat) / (sum(all_lat) / 1000.0),
    }
    layer = {f"facade.{op}.{k}": median(v)
             for op, d in st.layer.items() for k, v in d.items()}
    layer.update({f"facade.{op}.cpu_ms": median(v) for op, v in st.cpu.items() if v})
    layer.update({"session.start_s": session_s, **setup_layer})
    layer["engine.jit_ms_per_op"] = st.jit_ms / len(all_cpu)
    if tracer.enabled:
        layer["engine.rag_session.busy_ratio"] = st.busy_ms / (sum(all_lat) * cores)
    info = {
        "sessions": len(sessions), "distinct_keys": len({x.wid for x in sessions}),
        "calls": len(all_lat), "inputs_s": inputs_s, "index_build_s": t_end - t_index,
        "wall_s": wall, "writes": len(writes),
        "hit_share": 0.5, "errors": st.errors,
    }
    cpu_raw = sum(all_cpu) / len(all_cpu)
    info["cpu_raw_ms_per_op"], info["calibration_s"] = cpu_raw, median(st.cal_s)
    return {"spark": spark, "setup_s": setup_s,
            "cpu_ms_per_op": cpu_raw * CAL_REF_S / median(st.cal_s),
            "wall": wall_m, "layer": layer, "info": info,
            "attempted": st.attempted, "failed": st.failed}
