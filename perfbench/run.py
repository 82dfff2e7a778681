"""Benchmark of the Kafka→Parquet job and its query engine.

One workload per process, from the root of a checkout:

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 8 --trace 0

prints human-readable lines, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` reports the
per-layer metrics and writes spans to ``.perfbench/traces/``.

Every workload, untraced and then traced, with the tracing overhead;
it exits 1 if a run crashes or an operation fails, and prints the open
defects that the runs observe as ``OPEN DEFECT`` lines:

    python3 perfbench/run.py --all --seed 1 --seconds 8

BENCHMARK.json lists ``ingest_backlog`` and ``query_onepass``;
``stream_open_loop`` runs here and with ``--workload`` only (see
``workloads.py`` for why).

Spark settings are derived from the host and passed through the
package's environment knobs, so both sides of a comparison on one host
get the same ones: ``SPARK_GRAFT_CPUS`` = usable cores − 1 (one core is
left for the driver, the stream generator and the harness),
``SPARK_GRAFT_DRIVER_MEM`` = half of MemTotal, and ``SPARK_LOCAL_DIRS``,
``TMPDIR`` and the JVMs' temp dirs inside the checkout, so a run writes
nowhere else.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "kafka_to_parquet_spark")


def spark_settings() -> dict[str, str]:
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    base = os.path.join(ROOT, ".perfbench", "work")
    java_tmp = os.path.join(base, "java-tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{total_kb // 2 // 1024}m",
        "SPARK_LOCAL_DIRS": os.path.join(base, "spark-local"),
        "TMPDIR": os.path.join(base, "tmp"),
        # The launcher JVM that spark-submit runs first, then the driver's.
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData')}"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    settings = spark_settings()
    work = os.path.join(ROOT, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    os.makedirs(os.path.join(work, "java-tmp"), exist_ok=True)
    os.environ.update(settings)
    sys.path.insert(0, ROOT)

    import workloads

    run = workloads.Run(ROOT, workload, seed, seconds, trace)
    try:
        workloads.WORKLOADS[workload](run)
        run.finish()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.stop()
        _stop_jvm()
        if trace:
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            run.tracer.write(
                os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{seed}.json"),
                settings=settings,
                metrics={k: {"value": v, "unit": u} for k, (v, u) in run.layer.items()},
                end_to_end={k: {"value": v, "unit": u} for k, (v, u) in run.e2e.items()},
                notes=run.notes,
            )
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {workload} seed {seed} cpus {settings['SPARK_GRAFT_CPUS']} "
          f"driver_mem {settings['SPARK_GRAFT_DRIVER_MEM']}")
    for line in run.notes:
        print(line)
    print(f"attempted {run.attempted} failed {run.failed} "
          f"failed_ratio {run.failed / max(run.attempted, 1):.4g} wrong_rows {run.wrong_rows}")
    metrics = run.layer if trace else run.e2e
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name} {value:.6g} {unit}")
    result = {
        "correct": run.failed == 0 and run.wrong_rows == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _stop_jvm() -> None:
    """Close the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced; prints each end-to-end metric
    and the tracing overhead (traced − untraced)."""
    import workloads

    status = 0
    for workload in workloads.WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"{workload} trace={trace}: exit {proc.returncode}")
                status = 1
                break
            results[trace] = json.loads(lines[-1])
            for line in lines[:-1]:
                print(f"{workload}{' [traced]' if trace else ''}: {line}")
            if not results[trace]["correct"]:
                status = 1
        if len(results) == 2:
            untraced, traced = results[0]["metrics"], results[1]["metrics"]
            for name in ("warm_s", "cold_s"):
                delta = traced[f"trace.{name}"]["value"] - untraced[name]["value"]
                print(f"{workload}: tracing overhead {name} {delta:+.4f} s")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: the package to benchmark is missing ({PACKAGE})", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args.seed, args.seconds)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
