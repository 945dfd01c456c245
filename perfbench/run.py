"""Benchmark entry point.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

Run from the repository root.  Protocol (see perfbench/README.md): Spark
``local[4]``, one closed-loop client, a fresh process per run, warm-up
discarded, medians over every timed operation, all outputs checked against
goldens.  Everything the run writes (inputs, stores, Spark shuffle and
spill files, JVM temp files) lives under ``perfbench/.work/`` and is removed
when the run ends; the span file of a traced run is kept in
``perfbench/.work/traces/``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from procfs import RssSampler, cpu_times, process_tree, reap, steal_share

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
DRIVER_MEM = "2g"

# per-layer time metrics: name -> span names whose median call time it reports
# (a tuple of tuples sums the medians of consecutive calls, e.g. plan + exec)
LAYER_TIMES = {
    "session.start_s": ("session.start",),
    "sources.extract.exec_s": ("sources.extract",),
    "sources.extract_nt.exec_s": ("sources.extract_nt.exec",),
    "sources.extract_py.exec_s": ("sources.extract_py.exec",),
    "lineage.extraction_lineage.exec_s": ("lineage.extraction_lineage.exec",),
    "canonicalize.store_write.exec_s": ("canonicalize.store_write.exec",),
    "validate.plan_s": ("validate.batch.plan", "validate.shex.plan", "validate.shacl.plan"),
    "validate.exec_s": ("validate.batch.exec", "validate.shex.exec", "validate.shacl.exec"),
    "sparql.bgp.plan_s": ("sparql.bgp.plan",),
    "sparql.bgp.exec_s": ("sparql.bgp.exec",),
    "sparql.group.plan_s": ("sparql.group.plan",),
    "sparql.group.exec_s": ("sparql.group.exec",),
    "sparql.path.plan_s": ("sparql.path.plan",),
    "sparql.path.exec_s": ("sparql.path.exec",),
    "store.lookup_s": (("store.lookup.plan",), ("store.lookup.exec",)),
    "algebra.outgoing_arcs_s": (("algebra.outgoing_arcs.plan",), ("algebra.outgoing_arcs.exec",)),
    "incremental.init_s": ("incremental.init",),
    "incremental.merge_s": ("incremental.merge",),
    "incremental.read_snapshot_s": (("incremental.read_snapshot.plan",), ("incremental.read_snapshot.count",)),
    "incremental.compact_s": ("incremental.compact",),
}
# per-layer counts the workloads record in ``Run.layer``: name -> unit
LAYER_COUNTS = {
    "sources.docs": "count",
    "sources.error_docs": "count",
    "sources.raw_triples": "count",
    "canonicalize.dedup_ratio": "ratio",
    "canonicalize.store_files": "count",
    "canonicalize.store_bytes": "bytes",
    "store.files_per_lookup": "count",
    "incremental.log_versions": "count",
    "incremental.log_bytes": "bytes",
}
SELF_LAYERS = ("bench", "sources", "lineage", "canonicalize", "validate", "sparql", "store", "algebra", "incremental")


def layer_metrics(run, tracer, peak_rss_mb: float, reference: list) -> dict:
    """Per-layer metrics of a traced run; ``reference`` holds the untraced
    operations the traced ones are compared with for the overhead."""
    out = {"process.peak_rss_mb": (peak_rss_mb, "MB")}
    for name, spans in LAYER_TIMES.items():
        if isinstance(spans[0], tuple):
            v = sum(tracer.median(*part) for part in spans)
        else:
            v = tracer.median(*spans)
        out[name] = (v, "s")
    for name, unit in LAYER_COUNTS.items():
        out[name] = (run.layer.get(name, 0), unit)
    writes = [s for s in tracer.spans if s["name"] == "canonicalize.store_write.exec"]
    out["canonicalize.layout_tasks"] = (statistics.median(s["tasks"] for s in writes) if writes else 0, "count")
    for key in ("jobs", "tasks", "failed_tasks"):
        out[f"spark.{key}"] = (tracer.per_op_total(key, "bench."), "count")
    traced = [o for o in run.ops if o.traced]
    n_traced = max(1, len({s["op"] for s in tracer.spans if s["op"] is not None}))
    own = tracer.self_times()
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = (own.get(layer, 0.0) / n_traced, "s")
    t = statistics.median(o.wall for o in traced) if traced else 0.0
    u = statistics.median(o.wall for o in reference) if reference else 0.0
    out["trace.traced_op_s"] = (t, "s")
    out["trace.untraced_op_s"] = (u, "s")
    out["trace.overhead_ratio"] = (t / u - 1 if t and u else 0.0, "ratio")
    return out


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="corpus size override (self-test only)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fails here, before any work, where the package is absent
    import rdfshape_api_spark  # noqa: F401

    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    bench_dir = os.path.join(HERE, ".work")
    work = os.path.join(bench_dir, run_id)
    trace_dir = os.path.join(bench_dir, "traces")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)

    # the JVM and the Python workers inherit this environment
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher and the driver): temp files in the
    # run directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.environ['TMPDIR']}"))
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHM_SHUFFLE", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # Spark and the JVM write to fds 1 and 2; keep them off the result line
    log_path = os.path.join(work, "run.log")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    real_out, real_err = os.dup(1), os.dup(2)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    logf = os.fdopen(os.dup(log_fd), "a", buffering=1)

    def log(msg: str) -> None:
        logf.write(msg + "\n")
        os.write(real_err, (msg + "\n").encode())

    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "master": MASTER, "nproc": os.cpu_count(), "load1_start": os.getloadavg()[0]}
    cpu_start = cpu_times()
    rss = RssSampler()
    rss.start()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = gateway = None
    code = 1
    result = None
    try:
        from rdfshape_api_spark.session import get_spark

        with tracer.span("session.start"):
            spark = get_spark(
                "perfbench",
                master=MASTER,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        tracer.bind(spark.sparkContext)
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds, bool(args.trace), log)
        workloads.WORKLOADS[args.workload](run, t_start, args.docs)
        peak = rss.stop()
        meta["load1_end"] = os.getloadavg()[0]
        meta["cpu_steal_share"] = steal_share(cpu_start, cpu_times())
        e2e, attempted, failed = workloads.summarize(run)
        meta["wall"] = workloads.wall_times(run.ops)
        log(f"setup {run.setup_s:.2f}s  measured {run.measured_s:.2f}s  " + workloads.op_table(run))
        if args.trace:
            tracer.resolve_spark_counts()
            metrics = layer_metrics(run, tracer, peak, workloads.reference_ops(run))
            tracer.write(os.path.join(trace_dir, f"{run_id}.json"), {"meta": meta, "per_layer": metrics})
        else:
            metrics = e2e
        correct = failed == 0
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if not correct:
            bad = [n for n, ok in run.checks if not ok] + [f"op {o.kind}" for o in run.ops if not o.ok]
            log("CORRECTNESS GATE FAILED: " + ", ".join(bad))
        code = 0 if correct else 1
    except Exception:  # noqa: BLE001 — report, then exit non-zero without a result
        log(traceback.format_exc())
        result = None
        code = 1
    finally:
        rss.stop()
        # the JVM and the Python workers it forked; all must end before exit
        started = process_tree(os.getpid())[1:]
        if spark is not None:
            spark.stop()
        if gateway is not None and gateway.proc is not None:
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        reap(started)
        os.dup2(real_out, 1)
        os.dup2(real_err, 2)
        logf.close()
        os.close(log_fd)
        if code != 0:
            with open(log_path, errors="replace") as fh:
                tail = fh.readlines()[-40:]
            sys.stderr.write("".join(tail))
        shutil.rmtree(work, ignore_errors=True)
    if result is not None:
        print(json.dumps({"meta": meta}))
        print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
