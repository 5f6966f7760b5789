"""Closed-loop benchmark of the map_reduce_rpc_spark engine.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 25 --trace 0

Run from the repository root. Workloads: ``olap``, ``curation``,
``lakehouse`` (see perfbench/README.md). The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
the end-to-end metrics with ``--trace 0`` and the per-layer metrics
with ``--trace 1``. The lines before it name every metric with its
unit, the tail percentile and the pinned environment. Any wrong result
makes the exit code 1; a missing engine makes it 2.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap", "curation", "lakehouse"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_env(run_dir: str, cpus: int) -> dict:
    """Everything the engine reads from its environment, fixed from
    outside, with every temporary path inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap: peak RSS then does not depend on when the
        # collector chooses to grow it; no perf-data file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell",
    }
    os.environ.update(env)
    return env


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "map_reduce_rpc_spark", "session.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import probes

    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = probes.nproc()
    env = pin_env(run_dir, cpus)
    try:
        from perfbench import bench

        lines, result, code = bench.run(args, run_dir, T_START, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines:
        print(line)
    print(result)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
