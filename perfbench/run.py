#!/usr/bin/env python3
"""The repository's benchmark: one workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (perfbench/README.md says why
each was chosen and how it was sized):

- ``warehouse_build``: over ``write_warehouse_fixtures`` tables, a cold
  build of the warehouse DAG's ``merged_matches`` step as set-up, then
  timed rebuilds of ``mart_taxonomy``, its step with the most Spark jobs.
- ``mart_refresh``: the ``stream_ivm_minmax`` standing query (seed the
  copy-on-write state, drain 3 micro-batch epochs, render) on tables
  generated from the seed, after a warm-up on a smaller table set.

Each workload times at least ``MIN_PASSES`` passes and reports the
median pass.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
``setup_s``, ``op_s`` and ``out_mb``; the line before it names them the
way the workload means them (``build_s``/``refresh_s``,
``out_mb``/``state_mb``), with ``error_rate``, every operation and the
session sizing. With ``--trace 1`` the run wraps the engine's layers in
spans (perfbench/spans.py) and reports per-layer counters instead.

The engine is driven only through ``get_spark``,
``write_warehouse_fixtures``, ``build_warehouse``, catalog specs by
name and ``engine_cache_scope``. The run writes under
``.perfbench_work/`` and ``spark-warehouse/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "interpro7_dw_spark"
WORKLOADS = ("warehouse_build", "mart_refresh")

N_PROTEINS = 300
# The first build step pays the application's cold start (first fixture
# scans, codegen) and runs as set-up; the timed step is the one with the
# most Spark jobs (three write_mart calls). A traced run builds all 15.
WARM_STEP = "merged_matches"
TIMED_STEP = "mart_taxonomy"
MIN_PASSES = 2
TRACE_BUDGET_S = 120  # a traced run starts no new DAG step after this
DAG_STEPS = [
    "merged_matches", "lookup_matches", "mart_entry", "mart_taxonomy",
    "mart_proteome", "mart_set", "mart_structure", "mart_entry_xrefs",
    "search_documents", "ida_documents", "ebisearch", "flat_files",
    "match_complete_xml", "interpro_xml", "release_notes",
]
WARM_SF = 0.001
REFRESH_SF = 0.01
REFRESH_SPEC = "stream_ivm_minmax"
STATE_STEM = "ivm_minmax_stream"  # the spec's fixture_dir name

SINKS = ["write_mart", "write_lookup_mart", "write_tsv", "write_json_batches",
         "write_xml"]
ALIASES = {
    "warehouse_build": {"op_s": "build_s", "out_mb": "out_mb"},
    "mart_refresh": {"op_s": "refresh_s", "out_mb": "state_mb"},
}
END_TO_END = {"setup_s": "s", "op_s": "s", "out_mb": "MB"}
UNITS = {"wall_s": "s", "self_s": "s", "driver_only_s": "s",
         "executor_run_s": "s", "jobs": "count", "tasks": "count",
         "calls": "count", "input_bytes": "B", "output_bytes": "B",
         "shuffle_write_bytes": "B", "spill_bytes": "B", "state_mb": "MB",
         "peak_rss_mb": "MB", "failed_tasks": "count", "retries": "count",
         "max": "count"}


def per_layer_names() -> list[str]:
    """Every per-layer metric of a traced run, ``<module>.<span>.<counter>``."""
    names = ["session.start.wall_s", "session.jvm.peak_rss_mb",
             "fixtures.write.wall_s", "fixtures.write.jobs"]
    for step in DAG_STEPS:
        names += [f"warehouse.{step}.{c}" for c in ("wall_s", "jobs", "driver_only_s")]
    names.append("warehouse.steps.self_s")
    for fn in SINKS:
        names += [f"sources.{fn}.{c}" for c in ("calls", "wall_s", "output_bytes")]
    names += [f"streaming.seed.{c}" for c in ("wall_s", "jobs", "output_bytes")]
    names += [f"streaming.epoch.{c}" for c in (
        "calls", "wall_s", "self_s", "jobs", "driver_only_s", "input_bytes",
        "output_bytes", "state_mb")]
    names += [f"streaming.cow_write.{c}" for c in ("calls", "wall_s", "output_bytes")]
    names += [f"streaming.drain.{c}" for c in ("wall_s", "self_s")]
    names += [f"streaming.render.{c}" for c in ("wall_s", "jobs", "input_bytes")]
    names += [f"plans.{REFRESH_SPEC}.{c}" for c in (
        "wall_s", "self_s", "jobs", "tasks", "executor_run_s", "driver_only_s",
        "shuffle_write_bytes", "spill_bytes")]
    names += ["caching.leaked_persists.max", "spark.all.failed_tasks",
              "spark.all.retries", "trace.overhead.self_s",
              "trace.overhead.vs_untraced_s"]
    return names


def unit_of(metric: str) -> str:
    return UNITS.get(metric.rsplit(".", 1)[1], "s")


# --- session ---------------------------------------------------------------
def machine() -> dict:
    """Cores this process may use and a heap sized from physical memory."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else (os.cpu_count() or 1)
    mem_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    # a quarter of physical memory, between 1 GiB and 8 GiB: the JVM
    # shares the box with the Python workers and DuckDB
    heap_mb = max(1024, min(8192, mem_mb // 4))
    return {"cores": cores, "mem_total_mb": mem_mb, "heap": f"{heap_mb}m"}


def start_session(info: dict):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what a killed run left behind
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(info["cores"])
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM this process starts (the launcher and the driver) keeps
    # its temporary files in the checkout and writes no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import pyspark

    from interpro7_dw_spark.session import get_spark

    spark = get_spark(
        "perfbench", driver_memory=info["heap"],
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(ROOT, "spark-warehouse"),
        },
    )
    spark.range(1).count()  # the JVM and the scheduler are up
    info.update(master=spark.sparkContext.master, pyspark=pyspark.__version__)
    return spark


def stop_session(spark) -> int | None:
    """Stop Spark, end the JVM and wait for it; returns its peak RSS (MB)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    peak = None
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = int(line.split()[1]) // 1024
        except OSError:
            pass
    spark.stop()
    if proc is not None:
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    return peak


# --- operations --------------------------------------------------------------
class Run:
    """One workload run: its session, tracer and operation records."""

    def __init__(self, args, info: dict) -> None:
        self.args = args
        self.info = info
        self.spark = None
        self.tracer = None
        self.t_setup = 0.0
        self.ops: list[dict] = []
        self.leaks: list[int] = []

    def span(self, name: str | None):
        if self.tracer is None or name is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def trace_on(self) -> None:
        """Start recording spans (set-up before this is not traced)."""
        if self.tracer is not None:
            self.tracer.enabled = True

    def op(self, name: str, fn, span: str | None = None) -> dict:
        """Run ``fn(rec)``, which returns a list of check problems. A
        raise or a failed check marks the operation failed and the run
        goes on. ``fn`` may set ``rec["seconds"]`` to its timed part."""
        rec = {"op": name, "ok": False}
        t = time.perf_counter()
        try:
            with self.span(span):
                problems = fn(rec)
            rec["ok"] = not problems
            if problems:
                rec["problems"] = problems[:3]
        except Exception as e:  # an engine failure counts; the run continues
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            traceback.print_exc(file=sys.stderr)
        rec.setdefault("seconds", time.perf_counter() - t)
        if self.tracer is not None:
            self.leaks.append(self.tracer.store.persistent_rdds())
        self.ops.append(rec)
        return rec


def fixtures_dir(run: Run) -> str:
    """Warehouse fixture tables at ``N_PROTEINS``. Their generator has no
    randomness, so a checkout writes them once and later runs reuse
    them; the key hashes the generator's source, so a change to it
    writes them anew."""
    from interpro7_dw_spark import fixtures

    with open(fixtures.__file__, "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(WORK, f"fixtures_n{N_PROTEINS}_{key}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        with run.span("fixtures.write"):
            fixtures.write_warehouse_fixtures(run.spark, tmp, n_proteins=N_PROTEINS)
        os.rename(tmp, path)
    return path


def timed_passes(run: Run, name: str, body, span: str | None = None) -> list[dict]:
    """Run ``body`` as operation ``name`` until ``MIN_PASSES`` passes have
    run and ``--seconds`` have passed; a traced run makes one pass."""
    recs = []
    t_end = time.perf_counter() + run.args.seconds
    while True:
        recs.append(run.op(name, body, span=span))
        if run.tracer is not None or (
                len(recs) >= MIN_PASSES and time.perf_counter() >= t_end):
            return recs


def warehouse_build(run: Run) -> dict:
    """A cold build of ``WARM_STEP`` (set-up), then passes that rebuild
    ``TIMED_STEP`` into an empty directory. Each build checks that the
    step reports ``built`` and that its output matches the digest
    recorded in ``digests.json``. A traced run then builds the rest of
    the DAG one step at a time."""
    from check import du_bytes, tree_digest

    from interpro7_dw_spark.warehouse import build_warehouse

    run.trace_on()
    fx = fixtures_dir(run)
    with open(os.path.join(HERE, "digests.json")) as fh:
        digests = json.load(fh)

    def step_op(step: str):
        out = os.path.join(WORK, "warehouse_out", step)

        def body(rec):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            status = build_warehouse(run.spark, fx, out, steps=[step],
                                     overwrite=True)
            rec["seconds"] = time.perf_counter() - t0
            rec["out_bytes"] = du_bytes(out)
            if status.get(step) != "built":
                return [f"{step}: {status}"]
            digest = hashlib.sha256(
                json.dumps(tree_digest(out), sort_keys=True).encode()
            ).hexdigest()
            want = digests.get(f"n{N_PROTEINS}:{step}")
            if digest != want:
                return [f"{step} digest {digest} != recorded {want}"]
            return []

        return body

    run.op(f"warmup:{WARM_STEP}", step_op(WARM_STEP), span=f"warehouse.{WARM_STEP}")
    setup = time.perf_counter() - run.t_setup
    recs = timed_passes(run, TIMED_STEP, step_op(TIMED_STEP),
                        span=f"warehouse.{TIMED_STEP}")
    run.info["passes_s"] = [r["seconds"] for r in recs]
    res = {"setup_s": setup,
           "op_s": statistics.median(r["seconds"] for r in recs),
           "out_mb": statistics.median(r.get("out_bytes", 0) for r in recs) / 2**20}
    if run.tracer is not None:  # the rest of the DAG, for per-step spans
        skipped = run.info["skipped_steps"] = []
        for step in DAG_STEPS:
            if step in (WARM_STEP, TIMED_STEP):
                continue
            # keep the run inside its time limit when it also had to
            # write the fixture tables; skipped steps report 0
            if time.perf_counter() - T_PROCESS > TRACE_BUDGET_S:
                skipped.append(step)
            else:
                run.op(step, step_op(step), span=f"warehouse.{step}")
    return res


def mart_refresh(run: Run) -> dict:
    """A warm-up pass at ``WARM_SF`` (set-up), then timed passes at
    ``REFRESH_SF`` (see ``timed_passes``). Each pass is the whole spec: it drops the state, seeds it and drains the
    epochs; the benchmark forces the render into parquet, checks it
    against the spec's DuckDB oracle and sizes the state left behind."""
    import datagen
    from check import Oracle, du_bytes

    from interpro7_dw_spark.caching import engine_cache_scope
    from interpro7_dw_spark.plans.spec import all_specs, fixture_dir
    from interpro7_dw_spark.sources.catalog import TABLES

    seed = run.args.seed
    spec = all_specs()[REFRESH_SPEC]
    # fixed paths: each run overwrites the last run's tables and state
    warm = datagen.write_tables(os.path.join(WORK, "tables_warm"), WARM_SF, seed)
    sf_dir = datagen.write_tables(os.path.join(WORK, "tables"), REFRESH_SF, seed)
    state = fixture_dir(STATE_STEM, sf_dir) + "_state"
    result = os.path.join(WORK, "refresh_result")

    def force(sf: str, rec: dict) -> None:
        t0 = time.perf_counter()
        with engine_cache_scope():
            df = spec.build(run.spark, sf)
            with run.span("streaming.render"):
                df.write.mode("overwrite").parquet(result)
        rec["seconds"] = time.perf_counter() - t0

    run.op("warmup", lambda rec: force(warm, rec) or [])
    oracle = Oracle(sf_dir, TABLES, run.info["cores"])
    if run.tracer is not None:
        run.tracer.after_epoch = lambda: {"state_mb": du_bytes(state) / 2**20}
    setup = time.perf_counter() - run.t_setup
    run.trace_on()

    def refresh(rec):
        force(sf_dir, rec)
        rec["state_bytes"] = du_bytes(state)
        return oracle.compare(REFRESH_SPEC, spec.oracle, result)

    recs = timed_passes(run, "refresh", refresh, span=f"plans.{REFRESH_SPEC}")
    run.info["passes_s"] = [r["seconds"] for r in recs]
    return {"setup_s": setup,
            "op_s": statistics.median(r["seconds"] for r in recs),
            "out_mb": statistics.median(r.get("state_bytes", 0) for r in recs) / 2**20}


# --- reporting ---------------------------------------------------------------
def layer_metrics(run: Run, res: dict) -> dict:
    """The per-layer metric set from the tracer's spans (0 = no such span)."""
    tr = run.tracer
    agg = tr.by_name()
    out = {}
    for name in per_layer_names():
        span, counter = name.rsplit(".", 1)
        out[name] = float(agg.get(span, {}).get(counter, 0))
    out["warehouse.steps.self_s"] = sum(
        v["self_s"] for k, v in agg.items() if k.startswith("warehouse."))
    out["caching.leaked_persists.max"] = float(max(run.leaks, default=0))
    totals = tr.store.totals()
    out["spark.all.failed_tasks"] = float(totals["failed_tasks"])
    out["spark.all.retries"] = float(totals["retries"])
    out["trace.overhead.self_s"] = tr.overhead_s
    hist = _untraced_history(run.args.workload)
    out["trace.overhead.vs_untraced_s"] = (
        res["op_s"] - statistics.median(hist) if hist else 0.0)
    return out


def _history_path(workload: str) -> str:
    return os.path.join(WORK, f"untraced_{workload}.json")


def _untraced_history(workload: str) -> list[float]:
    try:
        with open(_history_path(workload)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return []


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package in {ROOT}; run it from a "
              "repository checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.chdir(ROOT)
    os.makedirs(WORK, exist_ok=True)

    info = machine()
    info.update(workload=args.workload, seed=args.seed, trace=args.trace)
    run = Run(args, info)
    run.spark = spark = start_session(info)
    session_s = time.perf_counter() - T_PROCESS
    run.t_setup = time.perf_counter()
    if args.trace:
        import interpro7_dw_spark.warehouse  # noqa: F401  (loaded before rebinding)
        from interpro7_dw_spark.plans.spec import all_specs
        from spans import Tracer

        all_specs()
        run.tracer = Tracer(spark)
        run.tracer.install()
        info["absent_spans"] = run.tracer.absent
    try:
        res = {"warehouse_build": warehouse_build, "mart_refresh": mart_refresh}[
            args.workload](run)
        res["setup_s"] += session_s
        if args.trace:
            run.tracer.uninstall()
            layers = layer_metrics(run, res)
            layers["session.start.wall_s"] = session_s
            path = os.path.join(WORK, f"trace_{args.workload}_{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"info": info, "spans": run.tracer.dump()}, fh)
    finally:
        info["peak_rss_mb"] = stop_session(spark)

    if args.trace:
        layers["session.jvm.peak_rss_mb"] = float(info["peak_rss_mb"] or 0)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        hist = _untraced_history(args.workload)[-19:] + [res["op_s"]]
        with open(_history_path(args.workload), "w") as fh:
            json.dump(hist, fh)
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}

    failed = sum(not o["ok"] for o in run.ops)
    attempted = max(1, len(run.ops))
    named = {ALIASES[args.workload].get(k, k): round(v, 4) for k, v in res.items()}
    named["error_rate"] = failed / attempted
    info.update(named=named, ops=[
        {k: (round(v, 3) if isinstance(v, float) else v) for k, v in o.items()}
        for o in run.ops
    ])
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
