"""The repository's PR-gate benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Stages seeded inputs under
``perfbench/.work/``, starts one ``local[nproc]`` session, warms up
once with output checks, then either times a closed loop for
``--seconds`` (``--trace 0``, end-to-end metrics) or runs an untraced,
a traced and another untraced pass (``--trace 1``, per-layer metrics,
record written to ``perfbench/records/``).  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
for _p in (REPO, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import layers  # noqa: E402
import workloads  # noqa: E402

CONFIG = os.path.join(HERE, "config.json")
PROGRAM = ("__spark_entry__.py", "bench.py", "tools/check_oracle.py",
           "imdb_metacritic_data_warehouse_spark/__init__.py")

# Gated end-to-end metrics are CPU time (Python + JVM + PySpark workers),
# not wall time: on a shared host the hypervisor's steal moves wall time
# by more than any usable bound from run to run (see README.md).  The
# wall-time twins are printed on the line before the result.
END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "op_cpu_p50_ms": "ms",
    "rows_per_cpu_s": "1/s", "peak_rss_mb": "MB",
}
ELT_TABLES = [
    "stg.genre_hub", "stg.employee_hub", "stg.movie_hub", "stg.movie_info_sat",
    "stg.movie_genre_link", "stg.movie_emp_link", "stg.emp_movie_l_sat",
    "data_mart.employee_data", "data_mart.movie_data",
    "data_mart.movie_employee_link", "data_mart.genre_metrics",
    "data_mart.rating_slide",
]
PER_LAYER = {
    "entry_queries.build_self_ms": "ms", "entry_queries.py4j_calls": "count",
    "entry_queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "operators.barriers": "count", "operators.barrier_ms": "ms",
    "spark_exec.jobs": "count", "spark_exec.tasks": "count",
    "spark_exec.job_wall_ms": "ms", "spark_exec.task_ms": "ms",
    "spark_exec.parallelism": "ratio", "spark_exec.shuffle_read_bytes": "bytes",
    "spark_exec.shuffle_write_bytes": "bytes", "spark_exec.spill_bytes": "bytes",
    "spark_exec.gc_ms": "ms", "spark_exec.input_bytes": "bytes",
    "driver.gap_ms": "ms",
    "plans.build_ms": "ms", "plans.build_self_ms": "ms",
    **{f"plans.build_ms.{t}": "ms" for t in ELT_TABLES},
    "scd2.plan_ms": "ms", "scd2.rows_inserted": "count",
    "scd2.rows_closed": "count", "scd2.rows_unchanged": "count",
    "sources.write_ms": "ms", "sources.read_ms": "ms",
    "sources.rows_written": "count", "sources.bytes_written": "bytes",
    "sources.files_written": "count", "sources.rewrite_ratio": "ratio",
    "sources.space_amplification": "ratio",
    "trace.wall_ms": "ms", "trace.untraced_wall_ms": "ms", "trace.overhead_ms": "ms",
}


def host_settings() -> tuple[int, str]:
    """(cores, driver heap): every core of the host, and a quarter of
    host memory clamped to 1..2 GB (a heap that fills keeps peak RSS
    steady from run to run, and the host is shared)."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return cpus, f"{max(1, min(2, int(mem_gb // 4)))}g"


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


class Session:
    """One Spark session with its own local dirs, temp dir and catalog
    warehouse under ``work``; ``close`` stops it and waits for the JVM."""

    def __init__(self, work: str, cpus: int, mem: str):
        for sub in ("local", "tmp", "spark-warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=mem,
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            TMPDIR=os.path.join(work, "tmp"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        )
        tempfile.tempdir = None
        from imdb_metacritic_data_warehouse_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            cpus=cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.proc = self.spark.sparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + vm_hwm_mb(self.proc.pid)

    def close(self) -> None:
        from pyspark import SparkContext

        # a signal to the whole process group may have ended the JVM
        # already; talking to it then would hang
        if self.proc.poll() is None:
            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
            self.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()
            self.proc.wait()


def make_workload(cfg: dict, spark, seed: int, sf: float, work: str):
    cls = workloads.EltWorkload if cfg["kind"] == "elt" else workloads.QueryWorkload
    return cls(spark, cfg, seed, sf, work)


def layer_metrics(rec: dict, untraced_ms: float, traced_ms: float) -> dict[str, float]:
    """Per-layer totals over the traced pass."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for op in rec["ops"].values():
        m["entry_queries.py4j_calls"] += op.get("py4j_calls", 0)
        m["entry_queries.build_jobs"] += op.get("build_jobs", 0)
        m["operators.barriers"] += op["barriers"]
        m["operators.barrier_ms"] += op["barrier_ms"]
        m["driver.gap_ms"] += op["gap_ms"]
        m["spark_exec.job_wall_ms"] += op["job_wall_ms"]
        for k in ("jobs", "tasks", "task_ms", "gc_ms", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"spark_exec.{k}"] += op[k]
        tables = op.get("tables")
        if tables is None:
            m["entry_queries.build_self_ms"] += op["build_self_ms"]
            phases = [op["catalyst"]]
        else:
            m["plans.build_self_ms"] += op["build_self_ms"]
            phases = [t["catalyst"] for t in tables.values()]
            m["sources.space_amplification"] = op["warehouse_bytes"] / op["bronze_bytes"]
            for name, t in tables.items():
                m[f"plans.build_ms.{name}"] += t["build_ms"]
                m["plans.build_ms"] += t["build_ms"]
                m["scd2.plan_ms"] += t["merge_plan_ms"]
                m["sources.write_ms"] += t["write_ms"]
                m["sources.read_ms"] += t["read_ms"]
                m["sources.rows_written"] += t["rows_written"]
                m["sources.bytes_written"] += t["bytes_written"]
                m["sources.files_written"] += t["files_written"]
                for k in ("inserted", "closed", "unchanged"):
                    m[f"scd2.rows_{k}"] += t[f"rows_{k}"]
        for p in phases:
            for phase in ("analysis", "optimization", "planning"):
                m[f"catalyst.{phase}_ms"] += p.get(phase, 0.0)
    changed = m["scd2.rows_inserted"] + m["scd2.rows_closed"]
    if changed:
        m["sources.rewrite_ratio"] = m["sources.rows_written"] / changed
    m["spark_exec.parallelism"] = m["spark_exec.task_ms"] / max(1.0, m["spark_exec.job_wall_ms"])
    m["trace.wall_ms"] = traced_ms
    m["trace.untraced_wall_ms"] = untraced_ms
    m["trace.overhead_ms"] = traced_ms - untraced_ms
    return m


def run(args, wl_cfg: dict, work: str) -> tuple[dict, dict]:
    """Returns (result line, details)."""
    cpus, mem = host_settings()
    sf = wl_cfg["sf"] if args.sf is None else args.sf
    session = None
    try:
        # set-up CPU counts from process start (interpreter, imports)
        t0 = time.perf_counter()
        session = Session(work, cpus, mem)
        session_s, session_cpu = time.perf_counter() - t0, layers.tree_cpu_s()
        wl = make_workload(wl_cfg, session.spark, args.seed, sf, work)
        staging_s, staging_cpu = wl.stage()
        t0, c0 = time.perf_counter(), layers.tree_cpu_s()
        wl.warm_up()
        warm_s, warm_cpu = time.perf_counter() - t0, layers.tree_cpu_s() - c0
        rng = random.Random(args.seed)
        details = {"workload": args.workload, "seed": args.seed, "sf": sf, "cpus": cpus,
                   "driver_memory": mem, "setup_wall_s": session_s + staging_s + warm_s,
                   "session_cpu_s": session_cpu, "staging_cpu_s": staging_cpu,
                   "warm_up_cpu_s": warm_cpu}
        if args.trace:
            # untraced, traced, untraced: the mean of the two untraced
            # passes cancels a linear drift (JIT warming, growing history)
            order = wl.order(rng)
            before = wl.one_pass(order)
            tracer = layers.Tracer(session.spark)
            tracer.install(elt=wl_cfg["kind"] == "elt")
            try:
                traced_ms, rec, traced_ops = wl.traced_pass(tracer, order)
            finally:
                tracer.uninstall()
            after = wl.one_pass(order)
            untraced_ms = sum(o["ms"] for o in before + after) / 2
            ops = before + traced_ops + after
            metrics = {k: (v, PER_LAYER[k]) for k, v in
                       layer_metrics(rec, untraced_ms, traced_ms).items()}
            details["record"] = rec
        else:
            ops = wl.timed(args.seconds, rng)
            ms, cpu = [o["ms"] for o in ops], [o["cpu_ms"] for o in ops]
            rows = wl.pass_rows(ops)
            metrics = {
                "setup_s": session_cpu + staging_cpu + warm_cpu,
                "pass_cpu_s": workloads.pass_s(ops, "cpu_ms"),
                "op_cpu_p50_ms": statistics.median(cpu),
                "rows_per_cpu_s": rows / workloads.pass_s(ops, "cpu_ms"),
                "peak_rss_mb": session.peak_rss_mb(),
            }
            metrics = {k: (v, END_TO_END[k]) for k, v in metrics.items()}
            details.update(
                op_samples=len(ops),
                wall_s=workloads.pass_s(ops, "ms"),
                op_p50_ms=statistics.median(ms),
                # 10 to 20 samples per run: too few for a gated p90
                op_p90_ms=workloads.percentile(ms, 90),
                op_cpu_p90_ms=workloads.percentile(cpu, 90),
                rows_per_s=rows / workloads.pass_s(ops, "ms"),
            )
        details["wrong"] = list(wl.wrong.values()) + [o["error"] for o in ops if o.get("error")]
        failed = sum(1 for o in ops if not o["ok"])
        result = {
            "correct": not details["wrong"] and not failed,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, details
    finally:
        if session is not None:
            session.close()


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    ap.add_argument("--limit", type=int, default=None,
                    help="run only the first N queries of a query workload")
    ap.add_argument("--records", default=os.path.join(HERE, "records"),
                    help="directory for traced-run records")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    args = parse(argv)
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    with open(CONFIG) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seed is None:
        args.seed = cfg["default_seed"]
    wl_cfg = cfg["workloads"][args.workload]
    if args.limit is not None and "queries" in wl_cfg:
        wl_cfg["queries"] = wl_cfg["queries"][: args.limit]
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".work"))
    try:
        result, details = run(args, wl_cfg, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        os.makedirs(args.records, exist_ok=True)
        path = os.path.join(args.records, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"result": result, **details}, f, indent=1, sort_keys=True)
    else:
        print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
