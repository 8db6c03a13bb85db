"""ingest_stream: open-loop file arrivals into two streaming queries.

A generator thread makes one delivery every ``PERIOD`` seconds (seeded
jitter and content): one document file and one event file, each renamed
into its watched directory and stamped with its staging time. Both
queries read one file per trigger, so the delivery schedule fixes the
batch boundaries and every micro-batch does the same amount of work
whatever the host's speed. Two Structured Streaming queries run
concurrently:

- ``curation``: ``streaming.incremental.incremental_curation_sink`` over
  the document files (state anti-join, checkpoint, 4 parquet appends per
  micro-batch);
- ``events``: every event routed to its topic (``route_topic``), then a
  10-minute watermark and the engine's ``tumbling_counts`` per topic,
  appended to a parquet sink.

The arrival rate sits below the measured capacity, so the backlog stays
flat. After the timed window the generator stops, both queries drain,
and two stream≡batch checks run: the curated store must equal one-shot
``curate`` over every consumed document, and the emitted windows must
equal batch ``tumbling_counts`` over every consumed event for each
window the final watermark has closed.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import shutil
import threading
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

from common import (CAL_REF_S, Tracer, calibration_s, jvm_pid, median, start_session,
                    work_cpu_s)

PERIOD = 4.0
WARM_DELIVERIES = 2
DOCS_PER_FILE = 250
EVENTS_PER_FILE = 3_000
TRIGGER = "500 milliseconds"
CAL_SAMPLES = 8  # calibrations right before and right after the timed window
WATERMARK = "10 minutes"
WIDTH = "1 hour"


def schedule(seed: int, seconds: float) -> tuple[list[dict], list[dict]]:
    """Seeded deliveries: ``WARM_DELIVERIES`` warm ones, then one per ``PERIOD``.

    Document and event ids ascend across the whole schedule (warm ones
    first), so first arrival is the lowest doc_id and no event is late.
    """
    rng = np.random.default_rng(seed)
    doc = int(rng.integers(0, 1_000))
    ev = int(rng.integers(0, 20_000))
    out = []
    for i in range(WARM_DELIVERIES + max(1, math.ceil(seconds / PERIOD))):
        j = i - WARM_DELIVERIES
        due = max(0.0, (j + float(rng.uniform(-0.1, 0.1))) * PERIOD) if j >= 0 else 0.0
        out.append({"due": due, "docs": (doc, doc + DOCS_PER_FILE),
                    "events": (ev, ev + EVENTS_PER_FILE)})
        doc, ev = doc + DOCS_PER_FILE, ev + EVENTS_PER_FILE
    return out[:WARM_DELIVERIES], out[WARM_DELIVERIES:]


class Ingest:
    def __init__(self, sf_dir: Path, scratch: Path, tracer: Tracer):
        self.sf, self.root, self.tracer = sf_dir, scratch, tracer
        self.docs = pq.read_table(sf_dir / "documents.parquet", columns=["doc_id", "text"])
        self.events = pq.read_table(sf_dir / "events.parquet")
        self.staged: list[tuple[str, str, float, float]] = []  # kind, name, stamp, late
        self.sink_spans: list[tuple[int, float, float]] = []  # batch_id, start, end

    def d(self, name: str) -> Path:
        return self.root / name

    # -- queries -------------------------------------------------------------

    def start(self, spark) -> None:
        from pyspark.sql import functions as F

        from ai_iceberg_demo_spark.streaming.events import route_topic, tumbling_counts
        from ai_iceberg_demo_spark.streaming.incremental import (
            curation_batch_sink,
            incremental_curation_sink,
        )
        from ai_iceberg_demo_spark.tables import load_table, normalize_schema

        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("in_docs", "in_events", "stage", "state", "out_events"):
            self.d(sub).mkdir(parents=True)
        t0 = time.perf_counter()
        docs_schema = load_table(spark, "documents", str(self.sf)).select("doc_id", "text").schema
        raw_events = spark.read.parquet(str(self.sf / "events.parquet")).schema
        self.load_ms = (time.perf_counter() - t0) * 1000.0
        doc_stream = (spark.readStream.schema(docs_schema).option("maxFilesPerTrigger", 1)
                      .parquet(str(self.d("in_docs"))))
        if self.tracer.enabled:
            body = curation_batch_sink(str(self.d("state")))

            def timed_sink(batch_df, batch_id):
                a = time.time()
                body(batch_df, batch_id)
                self.sink_spans.append((batch_id, a, time.time()))

            writer = doc_stream.writeStream.foreachBatch(timed_sink).option(
                "checkpointLocation", str(self.d("ckpt_docs")))
        else:
            writer = incremental_curation_sink(
                doc_stream, str(self.d("state")), str(self.d("ckpt_docs")))
        # a processing-time trigger polls for files twice a second instead of
        # spinning, so idle polling does not add CPU in proportion to wall time
        self.q_docs = writer.queryName("curation").trigger(processingTime=TRIGGER).start()
        ev = normalize_schema(
            spark.readStream.schema(raw_events).option("maxFilesPerTrigger", 1)
            .parquet(str(self.d("in_events"))))
        counts = tumbling_counts(
            route_topic(ev.withWatermark("ts", WATERMARK))
            .select("ts", "value", F.col("topic").alias("event_type")),
            WIDTH,
        )
        self.q_events = (
            counts.writeStream.format("parquet").outputMode("append").queryName("events")
            .trigger(processingTime=TRIGGER).option("path", str(self.d("out_events")))
            .option("checkpointLocation", str(self.d("ckpt_events"))).start()
        )

    def stop(self) -> None:
        for q in (self.q_docs, self.q_events):
            try:
                q.stop()
            except Exception:
                pass

    # -- arrivals ------------------------------------------------------------

    def stage(self, i: int, item: dict, late: float) -> None:
        """Write delivery ``i``'s two files and rename each into its watched dir."""
        for kind, table in (("docs", self.docs), ("events", self.events)):
            lo, hi = item[kind]
            name = f"{kind}_{i:05d}.parquet"
            tmp = self.d("stage") / name
            pq.write_table(table.slice(lo, hi - lo), tmp)
            os.replace(tmp, self.d(f"in_{kind}") / name)
            self.staged.append((kind, name, time.time(), late))

    def play(self, items: list[dict], first: int) -> threading.Thread:
        """Stage ``items`` on their schedule from a generator thread."""
        def loop():
            t0 = time.perf_counter()
            for j, item in enumerate(items):
                wait = item["due"] - (time.perf_counter() - t0)
                if wait > 0:
                    time.sleep(wait)
                self.stage(first + j, item, max(0.0, time.perf_counter() - t0 - item["due"]))

        th = threading.Thread(target=loop, name="arrivals", daemon=True)
        th.start()
        return th

    def drain(self) -> None:
        for q in (self.q_docs, self.q_events):
            q.processAllAvailable()

    # -- results -------------------------------------------------------------

    @staticmethod
    def _progress(q) -> list[dict]:
        out = []
        for p in q.recentProgress:
            out.append(p if isinstance(p, dict) else json.loads(p.json))
        return out

    @staticmethod
    def _ts(s: str) -> float:
        return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()

    @staticmethod
    def _file_batches(ckpt: Path, prog: dict[int, dict]) -> dict[str, int]:
        """Staged file name -> id of the micro-batch that read it.

        The file source logs files under its own log offsets, which skip
        the no-data batches a watermark triggers; each data batch's
        progress names the log offset it read up to.
        """
        batch_of_offset = {}
        for b, p in prog.items():
            # rendered as {"logOffset":N}, as a dict or as a string
            end = re.search(r"logOffset\D*(\d+)", str(p["sources"][0].get("endOffset")))
            if p.get("numInputRows", 0) > 0 and end:
                batch_of_offset[int(end.group(1))] = b
        out = {}
        src = ckpt / "sources" / "0"
        for f in sorted(src.iterdir()) if src.exists() else []:
            if f.name.startswith("."):
                continue
            for line in f.read_text().splitlines()[1:]:
                e = json.loads(line)
                if int(e["batchId"]) in batch_of_offset:
                    out[os.path.basename(e["path"])] = batch_of_offset[int(e["batchId"])]
        return out

    def query_stats(self, kind: str, q, ckpt: Path, since: float) -> dict:
        prog = {p["batchId"]: p for p in self._progress(q)}
        commit = {b: self._ts(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0
                  for b, p in prog.items()}
        start = {b: self._ts(p["timestamp"]) for b, p in prog.items()}
        fb = self._file_batches(ckpt, prog)
        lat, queue, intervals = [], [], []
        for k, name, stamp, _ in self.staged:
            if k != kind or stamp < since:
                continue
            b = fb.get(name)
            if b is None or b not in commit:
                continue
            lat.append((commit[b] - stamp) * 1000.0)
            queue.append(max(0.0, start[b] - stamp) * 1000.0)
            intervals.append((stamp, commit[b]))
        data = [p for p in prog.values() if p.get("numInputRows", 0) > 0
                and start[p["batchId"]] >= since - 1.0]

        def dur(key):
            return median([p["durationMs"].get(key, 0) for p in data])

        if self.tracer.enabled:
            sinks = {b: (a, e) for b, a, e in self.sink_spans} if kind == "docs" else {}
            for p in data:
                b = p["batchId"]
                tid = self.tracer.new_trace()
                root = self.tracer.record(f"streaming.{q.name}.micro_batch", start[b], commit[b],
                                          tid, batch_id=b, rows=p["numInputRows"])
                if b in sinks:
                    self.tracer.record(f"streaming.{q.name}.sink", *sinks[b], tid, root)
        st = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
        return {
            "lat": lat, "queue": queue, "intervals": intervals, "batches": len(data),
            "rows": len(lat) * (DOCS_PER_FILE if kind == "docs" else EVENTS_PER_FILE),
            "exec_s": sum(p["durationMs"].get("triggerExecution", 0) for p in data) / 1000.0,
            "trigger_ms": dur("triggerExecution"), "add_batch_ms": dur("addBatch"),
            "planning_ms": dur("queryPlanning"), "wal_commit_ms": dur("walCommit"),
            "state_rows": median([s.get("numRowsTotal", 0) for s in st]) if st else 0.0,
            "state_mb": median([s.get("memoryUsedBytes", 0) / 2**20 for s in st]) if st else 0.0,
            # the watermark the last batch (data or not) ran with closed the emitted windows
            "watermark": (prog[max(prog)].get("eventTime") or {}).get("watermark") if prog else None,
        }

    def check(self, watermark: str | None) -> tuple[bool, bool, list[str]]:
        """The two stream≡batch contracts, against the DuckDB spellings of
        batch ``curate`` (the registry's ``curate_oracle_sql``) and of batch
        ``tumbling_counts`` over every consumed input file."""
        from ai_iceberg_demo_spark.pipeline.curation import curate_oracle_sql

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        errors = []
        docs = f"read_parquet('{self.d('in_docs')}/*.parquet')"
        want = con.execute("WITH " + curate_oracle_sql(docs)).fetchall()
        got = con.execute(
            "SELECT fp, doc_id, quality, n_bpe_tokens "
            f"FROM read_parquet('{self.d('state') / 'curated'}/*.parquet')").fetchall()
        docs_ok = sorted(_rounded(r) for r in got) == sorted(_rounded(r) for r in want)
        if not docs_ok:
            errors.append(f"curated store: {len(got)} rows, one-shot curate: {len(want)}")
        closed = ""
        if watermark is not None:
            wm = dt.datetime.fromisoformat(watermark.replace("Z", "+00:00"))
            closed = f"HAVING window_start + INTERVAL '{WIDTH}' <= TIMESTAMP '{wm:%Y-%m-%d %H:%M:%S.%f}'"
        want = con.execute(f"""
            SELECT TIME_BUCKET(INTERVAL '{WIDTH}', ts) AS window_start, topic,
                   CAST(COUNT(*) AS BIGINT), CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
            FROM (SELECT ts, value,
                         CASE WHEN event_type LIKE '%error%' THEN 'app.errors'
                              WHEN event_type = 'signup' THEN 'app.lifecycle'
                              WHEN event_type IN ('click', 'view') THEN 'app.engagement'
                              ELSE 'app.commerce' END AS topic
                  FROM read_parquet('{self.d('in_events')}/*.parquet'))
            GROUP BY 1, 2 {closed}""").fetchall()
        got = con.execute(
            "SELECT CAST(window_start AS TIMESTAMP), event_type, n, total_value "
            f"FROM read_parquet('{self.d('out_events')}/*.parquet')").fetchall()
        ev_ok = sorted(got) == sorted(want)
        if not ev_ok:
            missing, extra = set(want) - set(got), set(got) - set(want)
            errors.append(
                f"emitted windows differ from batch tumbling_counts (watermark {watermark}): "
                f"missing {sorted(missing)[:3]} extra {sorted(extra)[:3]}")
        return docs_ok, ev_ok, errors

    def state_footprint(self) -> tuple[int, int]:
        n_files, n_bytes = 0, 0
        for dirpath, _, files in os.walk(self.d("state")):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
        return n_files, n_bytes


def _rounded(row: tuple) -> tuple:
    return tuple(round(v, 9) if isinstance(v, float) else v for v in row)


def backlog_max(intervals: list[tuple[float, float]]) -> int:
    """Most files staged but not yet committed at any staging instant."""
    return max((sum(1 for s, c in intervals if s <= t < c) for t, _ in intervals), default=0)


def run(sf_dir: Path, scratch: Path, tracer: Tracer, seed: int, seconds: float,
        cores: int, started: float) -> dict:
    """Set up once, warm with ``WARM_DELIVERIES``, then deliver files for
    ``seconds`` and drain.

    ``setup_s`` runs from ``started`` to the first timed delivery, less
    the time spent generating inputs."""
    t_in = time.perf_counter()
    warm, items = schedule(seed, seconds)
    ing = Ingest(sf_dir, scratch, tracer)
    inputs_s = time.perf_counter() - t_in
    t0 = time.perf_counter()
    spark = start_session("perfbench-ingest_stream")
    session_s = time.perf_counter() - t0
    ing.start(spark)
    # warm pass, untimed: each warm delivery is one micro-batch per query
    for i, item in enumerate(warm):
        ing.play([item], i).join()
        ing.drain()
    setup_s = time.perf_counter() - started - inputs_s
    since = time.time()
    jvm = jvm_pid(spark)
    cal = [calibration_s(spark) for _ in range(CAL_SAMPLES)]
    cpu0, jit0 = work_cpu_s(jvm)
    t0 = time.perf_counter()
    ing.play(items, len(warm)).join()
    ing.drain()
    wall = time.perf_counter() - t0
    cpu1, jit1 = work_cpu_s(jvm)
    cpu_s, jit_s = cpu1 - cpu0, jit1 - jit0
    cal += [calibration_s(spark) for _ in range(CAL_SAMPLES)]
    docs = ing.query_stats("docs", ing.q_docs, ing.d("ckpt_docs"), since)
    evs = ing.query_stats("events", ing.q_events, ing.d("ckpt_events"), since)
    ing.stop()
    try:
        docs_ok, ev_ok, errors = ing.check(evs["watermark"])
    except Exception as exc:  # a failing check counts, the run still reports
        docs_ok = ev_ok = False
        errors = [f"check: {type(exc).__name__}: {exc}"[:300]]
    # a stream≡batch mismatch cannot be pinned on one micro-batch: all of them count
    failed = (0 if docs_ok else docs["batches"]) + (0 if ev_ok else evs["batches"])
    n_files, n_bytes = ing.state_footprint()
    in_bytes = sum(os.path.getsize(ing.d("in_docs") / name)
                   for k, name, _, _ in ing.staged if k == "docs")
    wall_m = {
        "op_p50_ms": median(docs["lat"]),
        "write_p50_ms": docs["add_batch_ms"],
        "ops_per_s": docs["rows"] / docs["exec_s"],
    }
    layer = {}
    for q, s in (("curation", docs), ("events", evs)):
        for k in ("trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms"):
            layer[f"streaming.{q}.{k}"] = s[k]
        layer[f"streaming.{q}.queue_ms"] = median(s["queue"])
    sink_ms = [(e - a) * 1000.0 for b, a, e in ing.sink_spans if a >= since]
    layer["streaming.curation.sink_ms"] = median(sink_ms) if sink_ms else 0.0
    layer["streaming.curation.write_amp"] = n_bytes / max(in_bytes, 1)
    layer["streaming.curation.state_files"] = float(n_files)
    layer["streaming.events.state_rows"] = evs["state_rows"]
    layer["streaming.events.state_mb"] = evs["state_mb"]
    layer["streaming.backlog_max_files"] = float(
        backlog_max(docs["intervals"] + evs["intervals"]))
    layer.update({"session.start_s": session_s, "tables.load_ms": ing.load_ms,
                  "engine.jit_ms_per_op": jit_s * 1000.0 / docs["rows"]})
    lates = [late for k, _, stamp, late in ing.staged if stamp >= since]
    info = {
        "files_staged": len(lates), "generator_late_max_ms": max(lates, default=0) * 1000.0,
        "doc_batches": docs["batches"], "event_batches": evs["batches"],
        "events_commit_p50_ms": median(evs["lat"]), "wall_s": wall,
        "errors": errors,
        "cpu_s": cpu_s, "jit_s": jit_s, "docs": docs["rows"], "events": evs["rows"],
        "inputs_s": inputs_s, "calibration_s": median(cal),
        "cpu_raw_ms_per_op": cpu_s * 1000.0 / docs["rows"],
    }
    shutil.rmtree(scratch, ignore_errors=True)
    return {"spark": spark, "setup_s": setup_s,
            "cpu_ms_per_op": cpu_s * 1000.0 / docs["rows"] * CAL_REF_S / median(cal),
            "wall": wall_m,
            "layer": layer, "info": info,
            "attempted": docs["batches"] + evs["batches"], "failed": failed}
