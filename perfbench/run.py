"""food-engine benchmark: one workload per fresh process.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

A single workload prints a detail line (every metric under its
workload-specific name, plus ``error_rate``) and, as its last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
the per-layer ones. ``--workload all`` runs every workload untraced and
traced, each in its own process, prints every metric with its unit and
the tracing overhead, and ends with a JSON summary.

Everything it writes stays under ``.perfbench_work/`` in the checkout.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("ingest", "query_mix")


def process_start_time() -> float:
    """Wall-clock time at which this process was created (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def driver_mem_gb() -> int:
    """A quarter of the machine's memory, between 1 and 4 GiB: session.py
    defaults to 32g, sized for a much larger host."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def pin_env(run_dir: str) -> None:
    """The run environment every workload shares (README: Environment)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def spark_conf(run_dir: str, ui: bool) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
    }


def run_one(args: argparse.Namespace, t_start: float) -> int:
    sys.path.insert(0, ROOT)
    try:
        import gcp_food_delivery_data_pipeline_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the program from {ROOT}: {ex}", file=sys.stderr)
        return 3
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_env(run_dir)
    import workloads

    bench = workloads.WORKLOADS[args.workload](
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        cache_dir=os.path.join(WORK, "cache"),
        run_dir=run_dir,
    )
    try:
        t_gen = time.time()
        bench.prepare()
        gen_s = time.time() - t_gen
        bench.start_session(spark_conf(run_dir, ui=bench.wants_ui()))
        bench.setup_s = time.time() - t_start - gen_s
        bench.run()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    detail, result = bench.report()
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def run_all(args: argparse.Namespace) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    summary = {}
    for wl in WORKLOADS:
        runs = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", wl,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(trace),
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"{wl} trace={trace}: failed with code {proc.returncode}")
                return 1
            runs[trace] = (json.loads(lines[-2])["detail"], json.loads(lines[-1]))
        (d0, r0), (d1, r1) = runs[0], runs[1]
        print(f"== {wl}: correct={r0['correct'] and r1['correct']} "
              f"attempted={r0['attempted']} failed={r0['failed']}")
        for name, m in d0["metrics"].items():
            print(f"  {name:<28} {m['value']:>14.6g} {m['unit']}")
        for name, m in r1["metrics"].items():
            print(f"  [traced] {name:<40} {m['value']:>14.6g} {m['unit']}")
        overhead = {
            k: d1["metrics"][k]["value"] - m["value"] for k, m in r0["metrics"].items()
        }
        for k, v in overhead.items():
            print(f"  tracing overhead on {k}: {v:+.4f} s (traced minus untraced)")
        summary[wl] = {
            "correct": r0["correct"] and r1["correct"],
            "untraced": d0["metrics"],
            "traced": r1["metrics"],
            "trace_overhead_s": overhead,
        }
    print(json.dumps(summary))
    return 0 if all(s["correct"] for s in summary.values()) else 1


def main() -> int:
    t_start = process_start_time()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args, t_start)


if __name__ == "__main__":
    sys.exit(main())
