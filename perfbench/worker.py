"""Measurement process of the benchmark; ``run.py`` spawns it with the pinned
environment and reads its result file.

Load model: a closed loop with one client. One SparkSession runs one query
at a time; a pass runs every query of the workload once, in an order the
seed permutes. A query execution is ``Query.fn(spark, sf_dir)`` plus
``.collect()``. Between executions, outside the timed span, the worker checks
the result digest, clears Spark's cache and runs a JVM GC.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from steal import cpu_stat, stolen_share, unstolen  # noqa: E402
from workloads import OPERATOR_MODULES, PER_LAYER, ROOT, SETTINGS, WORKLOADS  # noqa: E402

sys.path.insert(0, os.path.join(ROOT, "scripts"))
from oracle_check import digest  # noqa: E402

PKG = "nocouncil_etl_spark"
# on a slow host, a worker that would start a timed pass after this many
# seconds from spawn, with min_timed_passes done, stops instead, so the run
# ends well inside its 180 s limit
LAST_PASS_START_S = 120.0


def purge_program() -> None:
    """Drop every loaded program module so the next setup re-imports it."""
    for name in list(sys.modules):
        if name == PKG or name.startswith(PKG + "."):
            del sys.modules[name]


def clear_artifacts(tag: str) -> None:
    """Remove this workload's artifacts (keyed by its sf alias basename) from
    the checkout's .scratch; other tags are never touched."""
    import shutil

    scratch = os.path.join(ROOT, ".scratch")
    if not os.path.isdir(scratch):
        return
    for name in os.listdir(scratch):
        if name.endswith("_" + tag) or f"_{tag}_" in name:
            shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)


def files_written_since(roots: list[str], since_ns: int) -> tuple[int, int]:
    n = size = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                if st.st_mtime_ns >= since_ns:
                    n += 1
                    size += st.st_size
    return n, size


class Run:
    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.sf_dir = args.sf_dir
        self.tag = os.path.basename(os.path.normpath(self.sf_dir))
        self.expected = json.load(open(os.path.join(HERE, "expected.json")))[
            args.workload
        ]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f))
            for f in os.listdir(self.sf_dir)
        )
        self.artifact_roots = [os.path.join(ROOT, ".scratch"), os.environ["TMPDIR"]]
        self.failures: dict[str, str] = {}

    # -- setup ---------------------------------------------------------
    def setup(self) -> dict:
        session = importlib.import_module(PKG + ".session")
        t = time.perf_counter()
        self.spark = session.get_session("perfbench")
        get_session_s = time.perf_counter() - t
        registry = importlib.import_module(PKG + ".registry")
        t = time.perf_counter()
        self.reg = registry.load_all()
        load_all_s = time.perf_counter() - t
        return {"get_session_s": get_session_s, "load_all_s": load_all_s}

    def publish(self) -> float:
        """Publish the workload's artifacts from a clean state; the first
        call of each publisher query writes the artifact it serves from."""
        t = time.perf_counter()
        clear_artifacts(self.tag)
        for name in self.spec.get("publishers", []):
            self.reg[name].fn(self.spark, self.sf_dir).collect()
            self.isolate()
        return time.perf_counter() - t

    def isolate(self) -> None:
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def calibrate(self) -> float:
        """bench.py's machine-speed probe: a fixed whole-stage-codegen range
        sum, independent of the program and its data."""
        for _ in range(2):  # the first run compiles the probe
            t0 = time.perf_counter()
            self.spark.range(200_000_000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def gc_ms(self) -> int:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    # -- passes --------------------------------------------------------
    def order(self, p: int) -> list[str]:
        names = list(self.spec["queries"])
        random.Random(f"{self.args.seed}:{p}").shuffle(names)
        return names

    def run_pass(self, p: int, tracer=None, skip=()) -> dict:
        """One pass; returns per-query latencies, with the stolen share
        removed and as wall time (failed executions are left out), and,
        when traced, the pass's layer figures."""
        lat: dict[str, float] = {}
        wall: dict[str, float] = {}
        layer = {"gc_s": 0.0, "files": 0, "bytes": 0, "exec": {}}
        for name in self.order(p):
            if name in skip:
                continue
            q = self.reg[name]
            if tracer is not None:
                gc0, since = self.gc_ms(), time.time_ns()
            try:
                c0, t0 = cpu_stat(), time.perf_counter()
                if tracer is None:
                    df = q.fn(self.spark, self.sf_dir)
                    rows = df.collect()
                else:
                    span = tracer.open("plans.build", query=name)
                    try:
                        df = q.fn(self.spark, self.sf_dir)
                    finally:
                        tracer.close(span)
                    span = tracer.open("collect", query=name)
                    try:
                        rows = df.collect()
                    finally:
                        tracer.close(span)
                    span.extra["rows"] = len(rows)
                elapsed = time.perf_counter() - t0
                c1 = cpu_stat()
                got = digest(list(df.columns), [tuple(r) for r in rows])[1]
                if got == self.expected[name]["digest"]:
                    lat[name] = unstolen(elapsed, c0, c1)
                    wall[name] = elapsed
                else:
                    self.failures[name] = f"digest {got}"
            except Exception as exc:  # noqa: BLE001 — counted as a failure
                self.failures[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
                df = None
            if tracer is not None:
                layer["gc_s"] += (self.gc_ms() - gc0) / 1e3
                n, size = files_written_since(self.artifact_roots, since)
                layer["files"] += n
                layer["bytes"] += size
                if df is not None:
                    from tracer import plan_metrics

                    for k, v in plan_metrics(df).items():
                        if k == "exec.peak_memory_bytes":
                            layer["exec"][k] = max(layer["exec"].get(k, 0), v)
                        else:
                            layer["exec"][k] = layer["exec"].get(k, 0) + v
            self.isolate()
        return {"lat": lat, "wall": wall, "layer": layer}

    # -- the run -------------------------------------------------------
    def main(self) -> dict:
        a = self.args
        spawn = float(os.environ["PERFBENCH_SPAWN"])
        load_start = os.getloadavg()[0]
        # The first set-up runs from process start (JVM launch included); the
        # others re-import the program into the live session, so they time
        # import, catalog load and get_session on a running session.
        setups, setup_walls, setup_parts = [], [], []
        for i in range(SETTINGS["setups_per_run"]):
            if i:
                purge_program()
            if i == 0:
                t0 = spawn
                c0 = tuple(int(x) for x in os.environ["PERFBENCH_SPAWN_STAT"].split())
            else:
                t0, c0 = time.time(), cpu_stat()
            setup_parts.append(self.setup())
            setup_walls.append(time.time() - t0)
            setups.append(unstolen(setup_walls[-1], c0, cpu_stat()))
        phases = {"setups": time.time() - spawn}
        publish_s = self.publish()
        # warm-up: every query runs once untimed; the publishers already did
        t = time.perf_counter()
        publishers = self.spec.get("publishers", [])
        warmups = [
            self.run_pass(-1 - w, skip=publishers if w == 0 else ())["wall"]
            for w in range(SETTINGS["warmup_passes"])
        ]
        warmup_s = time.perf_counter() - t
        phases["warmup"] = time.time() - spawn
        self.failures.clear()  # the verdict covers timed passes only
        cal_before = self.calibrate()

        tracer = None
        if a.trace:
            from tracer import Tracer

            tracer = Tracer(self.spark)
            targets = {f"{PKG}.io": ["load", "fan_out", "fan_out_if_narrow"]}
            for m in OPERATOR_MODULES:
                targets[f"{PKG}.operators.{m}"] = None
            targets[f"{PKG}.pipelines.council"] = None
            for mod in targets:
                importlib.import_module(mod)

        n_timed = max(
            SETTINGS["min_timed_passes"], round(a.seconds / self.spec["nominal_pass_s"])
        )
        passes, traced = [], []
        timed_stat = cpu_stat()
        # a traced run alternates untraced and traced passes, n_timed of each
        for p in range(n_timed * (2 if tracer is not None else 1)):
            enough = len(passes) >= SETTINGS["min_timed_passes"] and (
                tracer is None or traced
            )
            if enough and time.time() - spawn > LAST_PASS_START_S:
                break
            on = tracer is not None and p % 2 == 1
            if on:
                tracer.spans.clear()
                tracer.install(targets)
            try:
                res = self.run_pass(p, tracer if on else None)
            finally:
                if on:
                    tracer.uninstall()
            if on:
                res["spans"] = list(tracer.spans)
                res["collects"] = (tracer.driver_collects, tracer.driver_collect_rows)
                tracer.driver_collects = tracer.driver_collect_rows = 0
            (traced if on else passes).append(res)
        phases["timed"] = time.time() - spawn
        timed_stolen = stolen_share(timed_stat, cpu_stat())
        cal_after = self.calibrate()
        with open(f"/proc/{self.jvm_pid()}/status") as fh:
            hwm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM"))

        n_queries = len(self.spec["queries"])
        attempted = (len(passes) + len(traced)) * n_queries
        pass_sums = [sum(r["lat"].values()) for r in passes]
        pass_walls = [sum(r["wall"].values()) for r in passes]
        pooled = [v for r in passes for v in r["lat"].values()]
        per_query = {
            q: statistics.median(r["lat"][q] for r in passes if q in r["lat"])
            for q in self.spec["queries"]
            if any(q in r["lat"] for r in passes)
        }
        failed = sum(
            n_queries - len(r["lat"]) for r in passes + traced
        )
        out = {
            "attempted": attempted,
            "failed": failed,
            "end_to_end": {
                "setup_s": statistics.median(setups),
                "pass_s": sum(per_query.values()),
                "query_p50_s": statistics.median(per_query.values()) if per_query else 0.0,
                "query_tail_s": max(per_query.values()) if per_query else 0.0,
                "jvm_peak_rss_mb": hwm_kb / 1024,
            },
            "context": {
                "workload": a.workload,
                "seed": a.seed,
                "sf_dir": os.path.relpath(self.sf_dir, ROOT),
                "queries": self.spec["queries"],
                "nproc": len(os.sched_getaffinity(0)),
                "spark_cores": os.environ["SPARK_GRAFT_CPUS"],
                "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
                "loadavg_1m_start": load_start,
                "spark_version": self.spark.version,
                "java_version": self.spark.sparkContext._jvm.System.getProperty(
                    "java.version"
                ),
                "calibration_before_s": cal_before,
                "calibration_after_s": cal_after,
                "setup_samples_s": setups,
                "setup_wall_samples_s": setup_walls,
                "publish_s": publish_s,
                "warmup_s": warmup_s,
                "warmup_wall_s": warmups,
                "timed_passes": len(passes),
                "timed_passes_planned": n_timed,
                "traced_passes": len(traced),
                "query_samples": len(pooled),
                "query_tail_def": "max over queries of the query's median latency",
                "per_query_median_s": per_query,
                "stolen_share_timed": timed_stolen,
                "pass_sums_s": pass_sums,
                "pass_wall_sums_s": pass_walls,
                "pass_latencies_s": [r["lat"] for r in passes],
                "fail_ratio": failed / attempted,
                "failures": self.failures,
                "phase_end_s": phases,
            },
        }
        if tracer is not None:
            out["per_layer"] = self.layer_metrics(traced, setup_parts, pass_sums)
            with open(os.path.join(os.path.dirname(a.out), "spans.json"), "w") as fh:
                json.dump([s.record() for r in traced for s in r["spans"]], fh)
        self.spark.stop()
        return out

    def layer_metrics(self, traced: list[dict], setup_parts, untraced_pass_s) -> dict:
        m = {k: 0.0 for k in PER_LAYER}
        fan_calls = fan_rep = 0
        for res in traced:
            for s in res["spans"]:
                n = s.name
                if n == "plans.build":
                    m["plans.build_s"] += s.duration
                    m["plans.build_jobs"] += s.incl_jobs
                    m["plans.build_stages"] += s.incl_stages
                    m["plans.build_tasks"] += s.incl_tasks
                elif n == "collect":
                    m["collect.s"] += s.duration
                    m["collect.jobs"] += s.jobs
                    m["collect.stages"] += s.stages
                    m["collect.tasks"] += s.tasks
                    m["collect.failed_tasks"] += s.failed_tasks
                    m["collect.result_rows"] += s.extra.get("rows", 0)
                elif n == "io.load":
                    m["io.load_calls"] += 1
                    m["io.load_s"] += s.duration
                elif n.startswith("io.fan_out"):
                    m["io.fan_out_s"] += s.duration
                    fan_calls += 1
                    fan_rep += bool(s.extra.get("repartitioned"))
                elif n.startswith("operators."):
                    mod = n.split(".")[1]
                    m[f"operators.{mod}.calls"] += 1
                    m[f"operators.{mod}.self_s"] += s.self_s
                    m[f"operators.{mod}.jobs"] += s.jobs
                elif n.startswith("pipelines.council."):
                    m["pipelines.council.self_s"] += s.self_s
            m["plans.driver_collects"] += res["collects"][0]
            m["plans.driver_collect_rows"] += res["collects"][1]
            m["jvm.gc_s"] += res["layer"]["gc_s"]
            m["artifacts.files_written"] += res["layer"]["files"]
            m["artifacts.bytes_written"] += res["layer"]["bytes"]
            for k, v in res["layer"]["exec"].items():
                m[k] += v
        n = len(traced)
        m = {k: v / n for k, v in m.items()}  # per traced pass
        m["io.fan_out_calls"] = fan_calls / n
        m["io.fan_out_repartitioned_ratio"] = fan_rep / fan_calls if fan_calls else 0.0
        m["artifacts.write_amp"] = m["artifacts.bytes_written"] / self.input_bytes
        build_plus_act = m["plans.build_s"] + m["collect.s"]
        m["plans.build_share"] = m["plans.build_s"] / build_plus_act
        m["session.get_session_s"] = statistics.median(x["get_session_s"] for x in setup_parts)
        m["registry.load_all_s"] = statistics.median(x["load_all_s"] for x in setup_parts)
        traced_pass_s = statistics.median(sum(r["lat"].values()) for r in traced)
        m["trace.overhead_ratio"] = traced_pass_s / statistics.median(untraced_pass_s)
        return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    res = Run(args).main()
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    # stop the gateway JVM and wait for it: it exits when its stdin closes
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
