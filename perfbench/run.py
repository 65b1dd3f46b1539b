"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It checks the shipped input, clears the
workload's own run directory and artifacts, spawns perfbench/worker.py with a pinned
environment, and prints two lines on stdout: a context line, then the result
line ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.

Exits non-zero, printing no result, when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from steal import cpu_stat  # noqa: E402
from workloads import (  # noqa: E402
    DATA, DATA_ROWS, END_TO_END, PER_LAYER, ROOT, SETTINGS, TABLES, WORKLOADS, unit_of,
)

WORKER_TIMEOUT_S = 150


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def check_data() -> None:
    """The shipped tables are present and have their expected row counts."""
    import duckdb

    con = duckdb.connect()
    for t, n in DATA_ROWS.items():
        path = os.path.join(DATA, f"{t}.parquet")
        got = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        if got != n:
            die(f"{path} has {got} rows, expected {n}")


def group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def reap_group(pgid: int) -> None:
    """Stop every process left in the worker's process group and wait until
    none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 5
        while group_pids(pgid) and time.monotonic() < deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.2)
    if group_pids(pgid):
        die(f"processes {group_pids(pgid)} did not stop")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("nocouncil_etl_spark/__init__.py", "scripts/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            die(f"{need} is missing: run from the root of a full checkout")

    check_data()

    # benchmark-owned run directory, cleared at the start of every run; the
    # sf alias's basename keys the program's artifact paths
    run_dir = os.path.join(HERE, ".run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tag = "pb_" + args.workload
    alias = os.path.join(run_dir, tag)
    for d in (alias, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")):
        os.makedirs(d)
    for t in TABLES:
        os.symlink(os.path.join(DATA, f"{t}.parquet"), os.path.join(alias, f"{t}.parquet"))

    tmp = os.path.join(run_dir, "tmp")
    pinned = {
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": SETTINGS["PYTHONHASHSEED"],
        # half the cores: the JVM's JIT and GC threads and the Python workers
        # then have cores of their own instead of queueing behind tasks
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_DRIVER_MEMORY": SETTINGS["SPARK_DRIVER_MEMORY"],
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # a fixed heap (-Xms = spark.driver.memory) and young generation: G1
        # otherwise resizes both from measured pause times, and the JVM's peak
        # RSS spread 0.10-0.20 across seeds; pinned, it spread 0.02
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{SETTINGS['SPARK_DRIVER_MEMORY']} -Xmn512m' "
            "pyspark-shell"
        ),
    }
    env = {
        **os.environ, **pinned,
        "PERFBENCH_SPAWN": repr(time.time()),
        "PERFBENCH_SPAWN_STAT": " ".join(map(str, cpu_stat())),
    }
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", alias, "--out", out,
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"worker failed (exit {code}); log at {log_path}")

    res = json.load(open(out))
    if args.trace:
        names = {k: unit_of(k) for k in PER_LAYER}
        values = res["per_layer"]
    else:
        names, values = END_TO_END, res["end_to_end"]
    print(json.dumps({"context": res["context"], "settings": {**SETTINGS, **pinned}}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": values[k], "unit": u} for k, u in names.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
