"""sparksearch benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the directory that holds
``elasticsearch_spark/``). Workloads: ``search`` and ``msearch`` (see
workloads.py). ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans and layer
readers on and prints the per-layer metrics instead.

The last stdout line is one JSON object with exactly the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it records the seed, a digest of the generated inputs and the pinned
environment. Every file the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit, except the
traced run's spans (``.perfbench_work/spans/<workload>-<seed>.jsonl``);
the Spark driver JVM and its Python workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
# engine knobs that select alternative code paths: unset so every run
# measures the defaults
ENGINE_KNOBS = ("ES_SPARK_PIN_ENCODE", "SPARK_GRAFT_AQE_COALESCE",
                "SPARK_GRAFT_COLLECT_QUIESCE", "ES_SPARK_PRUNE_STATS_DIR",
                "SPARK_GRAFT_DRIVER_JAVA_OPTS")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["search", "msearch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(workdir: str, trace: bool) -> int:
    """Cores, driver memory, scratch and temp dirs inside the checkout,
    and the engine on the Python workers' path. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    for knob in ENGINE_KNOBS:
        os.environ.pop(knob, None)
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    if trace:
        prune = os.path.join(workdir, "prune-stats")
        os.makedirs(prune, exist_ok=True)
        os.environ["ES_SPARK_PRUNE_STATS_DIR"] = prune
    return cores


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine from /proc/stat. Steal is
    time this VM's vCPUs waited for a host CPU; it inflates every wall
    time of a run, so the result line records its share."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "elasticsearch_spark")):
        print(f"perfbench: no elasticsearch_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    t_start = time.perf_counter()
    trace = bool(args.trace)
    spark = None
    try:
        cores = pin_environment(workdir, trace)
        sys.path.insert(0, ROOT)
        import layers
        import workloads
        from elasticsearch_spark.session import get_spark

        spark = get_spark("perfbench", cores=cores)
        spark_start_s = time.perf_counter() - t_start
        bench = workloads.Bench(spark, workdir, args.seed, args.seconds, trace, cores)
        bench.setup(args.workload)
        gc0 = layers.jvm_gc_s(spark)
        steal0, ticks0 = cpu_ticks()
        wall = getattr(bench, f"run_{args.workload}")()
        steal1, ticks1 = cpu_ticks()
        gc_s = layers.jvm_gc_s(spark) - gc0
        heap_mb = layers.jvm_heap_used_mb(spark)
        if trace:
            bench.coverage(args.workload)
            rss = layers.peak_rss_mb(layers.jvm_pid(spark))
            metrics = workloads.per_layer(bench, args.workload, gc_s, heap_mb, rss)
            spans = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans, exist_ok=True)
            bench.tracer.dump(os.path.join(
                spans, f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = workloads.end_to_end(bench, args.workload)
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "inputs_digest": bench.inputs_digest,
            "term_dict_digest": bench.term_digest,
            "n_docs": workloads.N_DOCS, "shards": workloads.NUM_PARTITIONS,
            "cores": cores, "driver_memory": DRIVER_MEMORY,
            "spark": spark.version, "python": platform.python_version(),
            "spark_start_s": round(spark_start_s, 3),
            "inputs_s": round(bench.inputs_s, 3),
            "setup_total_s": round(sum(s["setup_s"] for s in bench.setups), 3),
            "oracle_s": round(bench.oracle_s, 3), "measured_s": round(wall, 3),
            "steal_pct": round(100 * (steal1 - steal0) / max(ticks1 - ticks0, 1), 1),
            "latencies_ms": [round(x * 1e3, 1)
                             for x in workloads.measured_latencies(bench, args.workload)],
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # kept spans, or another run still uses it
    info["run_wall_s"] = round(time.perf_counter() - t_start, 3)
    print(json.dumps(info))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
