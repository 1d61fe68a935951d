"""Benchmark of the point-in-time feature engine.

    python3 perfbench/run.py --workload fit_pit --seed 1 --seconds 10 --trace 0

Runs one workload in this process on ``local[nproc]`` against the
package's public API, checks the outputs with an independent numpy
recomputation (check.py), and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Run it from the repository root; see README.md for what is measured.
"""

from __future__ import annotations

T_PROCESS = __import__("time").time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, "_scratch")
TRACES = os.path.join(HERE, "_traces")
sys.path[:0] = [HERE, ROOT]

UNITS = {"setup_s": "s", "job_s": "s", "turns_per_s": "turns/s",
         "batch_p50_s": "s", "output_mb": "MB"}


def host_env(scratch: str) -> int:
    """Pin cores, heap, scratch dirs and the Python-worker import path
    before the JVM starts. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_gb = int(fh.readline().split()[1]) / 2**20
    # local mode: the driver heap is the executor heap; a quarter of the
    # host leaves room for the Python workers and other tenants
    heap_gb = int(max(1, min(4, total_gb // 4)))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    return cpus


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (a figure for the README, not
    a metric: it varies by a third between runs of the same code)."""
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (AttributeError, OSError):
        pass
    return 0.0


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit:
    the gateway JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, scratch: str):
    import layers
    from spans import Tracer, event_log_conf
    from workloads import WORKLOADS

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    cpus = host_env(scratch)
    log_dir = os.path.join(scratch, "eventlog")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        extra.update(event_log_conf(log_dir))

    from graphrole_spark import session

    with tracer.span("session.start"):
        spark = session.get_spark(f"perfbench-{args.workload}", cores=cpus, extra_conf=extra)
    tracer.spark = spark
    phases = {}

    def mark(phase):  # set-up phase durations, for the detail line
        phases[phase] = time.time() - T_PROCESS - sum(phases.values())

    mark("session_s")
    attempted = failed = 0
    problems = []
    wl = WORKLOADS[args.workload](spark, args.seed, scratch)
    try:
        layers.install(tracer, wl)
        with tracer.span("sources.synthesize"):
            wl.build_inputs()
        mark("inputs_s")
        wl.setup()
        mark("workload_setup_s")

        def one_rep(label):
            nonlocal attempted, failed
            tracer.rep = label
            attempted += 1
            load1 = os.getloadavg()[0]
            t0 = time.perf_counter()
            try:
                stats = wl.rep(label)
            except Exception:
                traceback.print_exc()
                failed += 1
                return None
            finally:
                spark.catalog.clearCache()
            stats.update(wall_s=time.perf_counter() - t0, load1=load1)
            return stats

        one_rep("warmup")
        mark("warmup_s")
        setup_s = time.time() - T_PROCESS
        t_measure = time.perf_counter()
        i = 0
        while True:
            stats = one_rep(f"rep{i}")
            i += 1
            if stats is not None:
                wl.rep_stats.append(stats)
            elapsed = time.perf_counter() - t_measure
            last = stats["wall_s"] if stats else 0.0
            if elapsed + last > args.seconds or (stats is None and not wl.rep_stats):
                break
        tracer.rep = "check"
        for name, bad in wl.checks() if wl.rep_stats else []:
            attempted += 1
            if bad:
                failed += 1
                problems.append(name)
                print(f"check {name} FAILED: " + "; ".join(bad[:5]), file=sys.stderr)
    finally:
        tracer.unwrap_all()
        rss_mb = jvm_peak_rss_mb(spark)
        stop(spark)

    correct = not problems
    print("detail " + json.dumps({
        "workload": args.workload, "seed": args.seed, "turns": wl.inp.n_turns if wl.inp else 0,
        "phases": phases, "jvm_peak_rss_mb": rss_mb, "reps": wl.rep_stats,
    }))
    if args.trace:
        tracer.write(os.path.join(TRACES, tracer.run_id + ".json"))
        metrics = layers.per_layer(tracer, wl, log_dir)
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in dict(setup_s=setup_s, **wl.end_to_end()).items()}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["fit_pit", "serve_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    try:
        import graphrole_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the graphrole_spark package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    scratch = os.path.join(SCRATCH, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.isdir(SCRATCH) and not os.listdir(SCRATCH):
            os.rmdir(SCRATCH)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
