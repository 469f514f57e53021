"""Layered benchmark of pg_archiver_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds nothing: it generates its inputs
from ``--seed`` under ``.perfbench/`` in the checkout, starts one Spark
session on ``local[<nproc>]`` through ``pg_archiver_spark.session``,
runs the workload (see ``workloads.py``), checks every output, writes
the full results to ``.perfbench/results/`` and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer ones. Exits non-zero without a result when
the engine is not present in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

DRIVER_MEMORY = "1g"


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "BENCHMARK.json", "__spark_entry__.py", "pg_archiver_spark/__init__.py",
        "pg_archiver_spark/session.py", "tools/check.py"))


def _environment(trace: bool) -> None:
    """Keep every file the run writes inside the checkout, and turn on
    the uncompressed event log for traced runs."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit's launcher JVM would otherwise leave hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = [
        # The engine's local default heap is 48g. Under a cap that large
        # G1 grows the heap on some runs and not on others (1.25-1.85 GB
        # peak RSS for the same query_mix work); 1g holds these inputs
        # with room to spare and keeps peak RSS within a few percent.
        f"spark.driver.memory={DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf '{c}'" for c in confs) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    end_to_end, per_layer = _metric_units()
    _environment(trace)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import sparkmetrics
    import workloads
    from spans import Tracer

    # Importing the entry module registers every operator; the tracer
    # can only rebind names that exist once that import finished.
    import __spark_entry__  # noqa: F401
    from pg_archiver_spark import session
    from pg_archiver_spark.streaming import archival

    # The archiver's scratch root is fixed under /tmp; keep it in the checkout.
    archival._WORK_ROOT = os.path.join(WORK, "tmp", f"archival-{os.getpid()}")

    tracer = Tracer(f"{workload}-{seed}-{int(time.time())}") if trace else None
    wl = workloads.WORKLOADS[workload]()
    t0 = time.perf_counter()
    if tracer:
        tracer.install()
    spark = session.get_spark("perfbench")
    if tracer:
        tracer.uninstall()
    session_s = time.perf_counter() - t0
    jvm_pid = sparkmetrics.driver_jvm_pid(spark)
    max_heap_mb = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    # The listener is instrumentation: only the traced run carries it.
    listener = sparkmetrics.StreamListener() if tracer else None
    if listener:
        spark.streams.addListener(listener)
    ctx = workloads.Context(spark, ROOT, WORK, seed, seconds, tracer,
                            sparkmetrics.JobCounter(spark.sparkContext), listener)
    try:
        wl.setup(ctx)
        wl.warmup(ctx)
        steal0, total0 = sparkmetrics.cpu_ticks()
        wl.measure(ctx)
        steal1, total1 = sparkmetrics.cpu_ticks()
        canary = sparkmetrics.box_canary_s()
        peak_jvm, peak_py = sparkmetrics.peak_rss_mb(jvm_pid)
    finally:
        if listener:
            spark.streams.removeListener(listener)
        _stop(spark)

    walls = [s["wall_s"] for s in ctx.samples]
    cpus = [s["cpu_s"] for s in ctx.samples if s.get("cpu_s") is not None]
    per_op = defaultdict(list)
    for s in ctx.samples:
        per_op[s["op"]].append(s["wall_s"])
    setup_s = session_s + statistics.median(ctx.setup_reps or [0.0]) + ctx.warmup_s
    result = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]), "driver_max_heap_mb": max_heap_mb,
        "session_s": session_s, "setup_reps_s": ctx.setup_reps, "gen_reps_s": ctx.gen_reps,
        "stage_reps_s": ctx.stage_reps, "warmup_s": ctx.warmup_s, "box_canary_s": canary,
        "box_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "peak_rss_jvm_mb": peak_jvm, "peak_rss_python_mb": peak_py,
        "inputs": ctx.inputs, "samples": ctx.samples, "attempted": ctx.attempted,
        "failed": ctx.failed, "failures": ctx.failures, **ctx.extra,
    }
    metrics = {
        "setup_s": setup_s,
        "cpu_per_op_s": sum(cpus) / len(cpus) if cpus else 0.0,
        "peak_rss_mb": peak_jvm + peak_py,
        # Wall-time figures go to the sidecar only: on a shared host they
        # follow the hypervisor's steal more than the program (README).
        "ops_per_s": len(walls) / sum(walls) if walls else 0.0,
        # Each op's median, then their geometric mean: every op of the mix
        # weighs the same, however long it runs.
        "op_p50_s": statistics.geometric_mean([statistics.median(v) for v in per_op.values()]) if per_op else 0.0,
    }
    result["all_metrics"] = metrics
    if tracer:
        layers = dict.fromkeys(per_layer, 0.0)
        layers.update(ctx.layers)
        layers["session.get_spark_s"] = tracer.totals().get("session.get_spark", (0, session_s))[1]
        layers["bench.datagen_s"] = statistics.median(ctx.gen_reps or [0.0])
        layers["derby.stage_s"] = statistics.median(ctx.stage_reps or [0.0])
        ev = sparkmetrics.EventLog(os.path.join(WORK, "eventlog")).totals_in(ctx.extra.get("trace_windows", []))
        layers["executor.run_s"] = ev["run_ms"] / 1e3
        layers["executor.cpu_s"] = ev["cpu_ns"] / 1e9
        layers["executor.gc_s"] = ev["gc_ms"] / 1e3
        layers["shuffle.write_bytes"] = ev["shuffle_write_bytes"]
        layers["shuffle.read_bytes"] = ev["shuffle_read_bytes"]
        layers["spill.disk_bytes"] = ev["spill_disk_bytes"]
        layers["input.bytes"] = ev["input_bytes"]
        if layers["archival.rows_written"]:
            layers["archival.bytes_per_row"] = layers["archival.bytes_written"] / layers["archival.rows_written"]
        result["layers"] = layers
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "results", f"spans-{workload}-seed{seed}.jsonl"))
        out = {k: {"value": float(layers[k]), "unit": u} for k, u in per_layer.items()}
    else:
        out = {k: {"value": float(metrics[k]), "unit": u} for k, u in end_to_end.items()}
    result["metrics"] = out
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not _program_present():
        print(f"perfbench: pg_archiver_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if not result["attempted"]:
        print("perfbench: no operation was measured", file=sys.stderr)
        return 1
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    sidecar = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(sidecar, "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(f"perfbench: full results in {os.path.relpath(sidecar, ROOT)}")
    for k, m in result["metrics"].items():
        print(f"  {k:32s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
