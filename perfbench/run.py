"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload rag_session --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (``BENCHMARK.json`` says why
each exists):

- ``rag_session``: closed loop, 1 client, facade memory/RAG calls (sf0.1);
- ``ingest_stream``: open-loop file deliveries into two streaming queries.

End-to-end metrics (``--trace 0``):

- ``setup_s``: one cold set-up, from the start of this script to the
  first timed operation: the engine imports, the JVM launch and session
  start, the table handles, for rag_session the IVF index build and for
  ingest_stream starting both queries and the untimed warm deliveries.
  Generating inputs (fixture tables, initial memory tables, seeded op
  streams) is excluded. A process launches one JVM, so a run has one
  cold set-up and reports it as it is, not a median of several;
- ``cpu_ms_per_op``: user + system CPU of the whole process tree (Python
  process, JVM, Python workers) less the JVM's JIT compiler threads, per
  unit of work — per facade call on rag_session, per ingested document
  on ingest_stream (its event stream rides along at a fixed 12 events
  per document) — scaled by ``common.CAL_REF_S`` over the median time of
  a fixed calibration run in the same JVM during the run. JIT
  compilation is reported on its own as the per-layer
  ``engine.jit_ms_per_op`` (see ``common.work_cpu_s``).

CPU time, unlike wall time, excludes what the hypervisor steals, and on
a shared host co-tenant load moved wall-clock latencies by 30-70%
between runs; the calibration takes out much of what that load adds to
CPU time as well. The wall-clock figures (``wall.op_p50_ms``,
``wall.write_p50_ms``, ``wall.ops_per_s``) and
``engine.peak_rss_mb`` are therefore per-layer metrics; every run also
logs them to stderr.

Failed or wrong-result operations are ``failed`` out of ``attempted``.
``--trace 1`` runs the same workload with spans and Spark counters on
and prints the per-layer metrics instead; ``perfbench/overhead.py``
compares the two runs to size the tracing overhead.

Everything the run writes (fixtures, warehouse, checkpoints, state,
spans) lives under ``.perfbench/`` in the checkout; per-run state is
removed before and after each run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

PROCESS_T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / ".perfbench"
WORKLOADS = ("rag_session", "ingest_stream")
# per-layer metric name prefix -> the end-to-end metric and workload it
# should move; the traced run prints it beside each value
MOVES = (
    ("facade.", "cpu_ms_per_op on rag_session (writes: wall.write_p50_ms)"),
    ("engine.rag_session.", "cpu_ms_per_op on rag_session"),
    ("streaming.", "cpu_ms_per_op on ingest_stream"),
    ("session.", "setup_s on both workloads"),
    ("tables.", "setup_s on both workloads"),
    ("engine.jit_ms_per_op", "setup_s on both workloads (left out of cpu_ms_per_op)"),
    ("engine.peak_rss_mb", "no end-to-end metric (memory)"),
    ("wall.", "no end-to-end metric (wall time, moved by host load)"),
    ("trace.", "tracing overhead against the untraced cpu_ms_per_op"),
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env(run_dir: Path, cores: int) -> None:
    """Pin every path Spark, the JVM and Python write to under the run dir."""
    tmp, local, wh = run_dir / "tmp", run_dir / "local", run_dir / "warehouse"
    for p in (tmp, local, wh):
        p.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                 f"-Dderby.system.home={run_dir}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={wh}",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf 'spark.driver.extraJavaOptions={java_opts}'",
        "pyspark-shell",
    ])


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "ai_iceberg_demo_spark" / "__init__.py").exists():
        log(f"no engine package under {ROOT}; run from the root of a full checkout")
        return 2
    spec = load_spec()
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    import common
    import fixture

    cores = common.nproc()
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    load_start = common.loadavg()
    run_dir = SCRATCH / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    t_fx = time.perf_counter()
    sf = fixture.ensure(SCRATCH / "fixtures")
    fixture_s = time.perf_counter() - t_fx
    configure_env(run_dir, cores)

    tracer = common.Tracer(bool(args.trace))
    # process start, shifted past fixture generation (not part of set-up)
    started = PROCESS_T0 + fixture_s
    state = run_dir / "state"
    try:
        if args.workload == "rag_session":
            import rag_session as wl
        else:
            import ingest_stream as wl
        res = wl.run(sf, state, tracer, args.seed, args.seconds, cores, started)
        spark = res["spark"]
        rss = common.peak_rss_mb([os.getpid(), common.jvm_pid(spark)])
        host = common.host_context(spark, {"sf0.1": fixture.tables_digest(sf)}, cpus_env)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            common.stop_session(active)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {"setup_s": res["setup_s"], "cpu_ms_per_op": res["cpu_ms_per_op"]}
    layer = dict(res["layer"])
    layer.update({f"wall.{k}": v for k, v in res["wall"].items()})
    layer["engine.peak_rss_mb"] = rss
    layer["trace.cpu_ms_per_op"] = e2e["cpu_ms_per_op"]
    if args.trace:
        tracer.dump(SCRATCH / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
        chosen, source = spec["per_layer"], layer
    else:
        chosen, source = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in chosen}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    context = dict(host, workload=args.workload, seed=args.seed, seconds=args.seconds,
                   trace=args.trace, loadavg_start=load_start, loadavg_end=common.loadavg(),
                   setup_s=res["setup_s"], fixture_s=fixture_s,
                   error_rate=failed / max(attempted, 1), wall=res["wall"], **res["info"])
    log(f"context {json.dumps(context, default=str)}")
    for name, m in metrics.items():
        moves = next((f"  -> {v}" for k, v in MOVES if name.startswith(k)), "") if args.trace else ""
        log(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}{moves}")
    log(f"{args.workload} error_rate = {failed}/{attempted}")
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
