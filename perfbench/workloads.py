"""Workload runners: input staging, warm-up with output checks, the
timed closed loop, and the traced pass.

One client thread drives one ``local[nproc]`` session.  An operation is
one entry query forced through the ``noop`` sink (query workloads) or
one incremental ``Warehouse.run_pipeline`` batch (``elt_batches``).
Output checks run outside every timed region.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import datagen
import layers as tr

ORACLE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
STAGINGS = 3  # input stagings per run; setup_s counts their median


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(np.ceil(q / 100.0 * len(s))) - 1))]


def _median_staging(stage) -> tuple[float, float]:
    """(median wall s, median CPU s) of ``STAGINGS`` stagings."""
    walls, cpus = [], []
    for i in range(STAGINGS):
        t0, c0 = time.perf_counter(), tr.tree_cpu_s()
        stage(i)
        walls.append(time.perf_counter() - t0)
        cpus.append(tr.tree_cpu_s() - c0)
    return statistics.median(walls), statistics.median(cpus)


def timed_op(name: str, fn) -> dict:
    """Run ``fn`` once; wall and CPU ms around it.  A raised exception
    is a failed operation."""
    c0, t0 = tr.tree_cpu_s(), time.perf_counter()
    error = None
    try:
        fn()
    except Exception as e:  # counted as a failed operation
        error = f"{name}: {type(e).__name__}: {e}"[:500]
    ms = (time.perf_counter() - t0) * 1000
    return {"name": name, "ms": ms, "cpu_ms": (tr.tree_cpu_s() - c0) * 1000,
            "ok": error is None, "error": error}


# -- query workloads ---------------------------------------------------------


class QueryWorkload:
    """A frozen list of entry queries over seeded query tables."""

    def __init__(self, spark, cfg: dict, seed: int, sf: float, work: str):
        import __spark_entry__ as ent

        self.spark, self.seed, self.sf, self.work = spark, seed, sf, work
        self.names = list(cfg["queries"])
        self.fns, self.oracles = ent.queries(), ent.oracle_sql()
        self.data = ""
        self.result_rows: dict[str, int] = {}
        self.wrong: dict[str, str] = {}

    def stage(self) -> tuple[float, float]:
        def one(i):
            self.data = os.path.join(self.work, f"data{i}")
            datagen.write_tables(datagen.make_tables(self.seed, self.sf), self.data)

        return _median_staging(one)

    def warm_up(self) -> None:
        """The untimed passes: run every query once, collect its result
        and compare it with the DuckDB oracle; then one pass through the
        ``noop`` sink, so the timed passes find the JIT settled."""
        import duckdb
        from tools.check_oracle import compare

        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'"
                )
            for name in self.names:
                try:
                    got = self.fns[name](self.spark, self.data).toPandas()
                    want = con.execute(self.oracles[name]).df()
                    problems = compare(name, got, want)
                except Exception as e:  # a failing query is a failed check
                    problems = [f"{type(e).__name__}: {e}"]
                    got = []
                if problems:
                    self.wrong[name] = "; ".join(problems)[:500]
                self.result_rows[name] = len(got)
        finally:
            con.close()
        self.one_pass(self.names)

    def order(self, rng: random.Random) -> list[str]:
        return rng.sample(self.names, len(self.names))

    def run_op(self, name: str) -> None:
        self.fns[name](self.spark, self.data).write.format("noop").mode("overwrite").save()

    def timed(self, seconds: float, rng: random.Random) -> list[dict]:
        """Closed loop: whole passes in a seed-permuted order until
        ``seconds`` have elapsed.  Whole passes keep every query's
        share of the samples equal, so the median stays put."""
        ops: list[dict] = []
        t_start = time.perf_counter()
        while not ops or time.perf_counter() - t_start < seconds:
            ops += self.one_pass(self.order(rng))
        return ops

    def one_pass(self, order: list[str]) -> list[dict]:
        ops = []
        for name in order:
            op = timed_op(name, lambda n=name: self.run_op(n))
            op["ok"] = op["ok"] and name not in self.wrong
            ops.append(op)
        return ops

    def pass_rows(self, ops: list[dict]) -> int:
        """Result rows of one pass."""
        return sum(self.result_rows.values())

    def traced_pass(self, tracer: tr.Tracer, order: list[str]):
        """One pass with tracing on; returns (pass ms, per-layer record,
        operations)."""
        import bench

        spans, dfs = [], []
        t_pass = time.perf_counter()
        for name in order:
            tracer.op = name
            p0 = tracer.py4j_calls
            tracer.set_group(f"{name}|build")
            c0 = tr.now_ms()
            df = self.fns[name](self.spark, self.data)
            c1 = tr.now_ms()
            p1 = tracer.py4j_calls
            tracer.set_group(f"{name}|exec")
            df.write.format("noop").mode("overwrite").save()
            spans.append({"name": name, "start": c0, "built": c1, "end": tr.now_ms(),
                          "py4j_calls": p1 - p0})
            dfs.append(df)
        pass_ms = (time.perf_counter() - t_pass) * 1000
        tracer.uninstall()
        jobs = tracer.jobs()
        per_query = {}
        for op, df in zip(spans, dfs):
            name = op["name"]
            J = [(j["start"], j["end"]) for j in jobs if j["group"].startswith(name + "|")]
            B = [(s[2], s[3]) for s in tracer.spans if s[0] == "operators" and s[4] == name]
            build = [(op["start"], op["built"])]
            whole = [(op["start"], op["end"])]
            build_self = tr.minus_ms(build, J + B)
            rec = {
                "op_ms": op["end"] - op["start"],
                "build_ms": op["built"] - op["start"],
                "build_self_ms": build_self,
                "py4j_calls": op["py4j_calls"],
                "build_jobs": sum(1 for j in jobs if j["group"] == f"{name}|build"),
                "barriers": len(B),
                "barrier_ms": tr.union_ms(B),
                "barrier_self_ms": tr.minus_ms(B, J),
                "job_wall_ms": tr.union_ms(tr.clip(J, op["start"], op["end"])),
                "gap_ms": tr.minus_ms(whole, J + B) - build_self,
                "catalyst": tr.catalyst_phases(df),
                "plan_fingerprint": bench._plan_fingerprint(df),
            }
            rec.update(job_sums([j for j in jobs if j["group"].startswith(name + "|")]))
            per_query[name] = rec
        ops = [{"name": n, "ms": r["op_ms"], "ok": n not in self.wrong}
               for n, r in per_query.items()]
        return pass_ms, {"ops": per_query}, ops


def pass_s(ops: list[dict], key: str) -> float:
    """One pass over the operation list: the sum of each operation's
    median ``key`` (``ms`` or ``cpu_ms``), in seconds."""
    by = defaultdict(list)
    for o in ops:
        by[o["name"]].append(o[key])
    return sum(statistics.median(v) for v in by.values()) / 1000.0


def job_sums(jobs: list[dict]) -> dict:
    keys = ("tasks", "task_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
    out = {k: float(sum(j.get(k, 0.0) for j in jobs)) for k in keys}
    out["jobs"] = len(jobs)
    return out


# -- ELT workload ------------------------------------------------------------

T0 = datetime(2024, 1, 1)
OPEN_US = (datetime(9999, 12, 31) - datetime(1970, 1, 1)) // timedelta(microseconds=1)
_PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def _us_col(tab: pa.Table, col: str) -> np.ndarray:
    return pc.cast(tab.column(col), pa.int64()).to_numpy(zero_copy_only=False)


class EltWorkload:
    """Bronze on disk → initial load → seeded incremental batches."""

    def __init__(self, spark, cfg: dict, seed: int, sf: float, work: str):
        self.spark, self.seed, self.sf, self.work = spark, seed, sf, work
        self.shares = cfg["delta_shares"]
        self.inputs: datagen.EltInputs | None = None
        self.batch = 0
        self.bronze_root = os.path.join(work, "bronze")
        self.wh = None
        self.prev_rows: dict[str, int] = {}
        self.last_counts: dict[str, dict] = {}
        self.bronze_rows = 0
        self.bronze_bytes = 0
        self.wrong: dict[str, str] = {}

    def stage(self) -> tuple[float, float]:
        def one(_i):
            self.inputs = datagen.EltInputs(self.seed, self.sf, self.shares)
            self.bronze_rows, self.bronze_bytes = datagen.write_bronze(
                self.inputs.bronze(), self.bronze_root
            )

        return _median_staging(one)

    def batch_ts(self) -> str:
        return (T0 + timedelta(days=self.batch)).strftime("%Y-%m-%d %H:%M:%S")

    def warm_up(self) -> None:
        """The initial load, checked: the untimed pass that runs every
        builder, merge and writer once."""
        from imdb_metacritic_data_warehouse_spark.plans.pipeline import Warehouse

        self.wh = Warehouse(self.spark, self.bronze_root, os.path.join(self.work, "wh"))
        self.wh.run_pipeline(self.batch_ts())
        self.check(None)

    def next_delta(self) -> datagen.Delta:
        self.batch += 1
        delta = self.inputs.advance()
        self.bronze_rows, self.bronze_bytes = datagen.write_bronze(
            self.inputs.bronze(), self.bronze_root
        )
        return delta

    def run_op(self, tracer: tr.Tracer | None) -> dict:
        """Stage the next delta, run one timed batch, then check it."""
        delta = self.next_delta()
        if tracer is not None:
            tracer.op = f"batch{self.batch}"
        start_ms = tr.now_ms()
        op = timed_op("batch", lambda: self.wh.run_pipeline(self.batch_ts()))
        op["window"] = (start_ms, tr.now_ms())
        op["rows"] = self.bronze_rows
        if op["ok"]:
            op["ok"] = self.check(delta)
        else:
            self.wrong[f"batch {self.batch}"] = op["error"]
        return op

    def timed(self, seconds: float, rng: random.Random) -> list[dict]:
        ops: list[dict] = []
        while not ops or sum(o["ms"] for o in ops) < seconds * 1000:
            ops.append(self.run_op(None))
        return ops

    def one_pass(self, _order) -> list[dict]:
        return [self.run_op(None)]

    def order(self, rng):
        return None

    def pass_rows(self, ops: list[dict]) -> float:
        """Bronze rows merged by one (median) batch."""
        return statistics.median(o["rows"] for o in ops)

    # -- output checks (pyarrow over the committed versions) ---------------
    def _committed(self, schema: str, name: str) -> pa.Table:
        tab = self.wh.table(schema, name)
        path = tr.version_path(tab, tab.current_version())
        return ds.dataset(path, format=_PARQUET, partitioning="hive").to_table()

    def check(self, delta: datagen.Delta | None) -> bool:
        """After a batch: at most one open row per pk and
        valid_from < valid_to in every SCD2 table, no duplicate pk in
        hubs and marts, and movie_info_sat's inserted/closed counts
        equal to what the seeded delta implies."""
        from imdb_metacritic_data_warehouse_spark import registry

        ts_us = (datetime.strptime(self.batch_ts(), "%Y-%m-%d %H:%M:%S")
                 - datetime(1970, 1, 1)) // timedelta(microseconds=1)
        problems, counts = [], {}
        for (schema, name), spec in registry.ALL_SPECS.items():
            t = self._committed(schema, name)
            pk = t.column(spec.pk).to_numpy(zero_copy_only=False)
            key = f"{schema}.{name}"
            if spec.scd2:
                vf, vt = _us_col(t, "valid_from"), _us_col(t, "valid_to")
                is_open = vt == OPEN_US
                if len(set(pk[is_open])) != int(is_open.sum()):
                    problems.append(f"{key}: more than one open row for a pk")
                if (vf >= vt).any():
                    problems.append(f"{key}: valid_from >= valid_to")
                c = {"inserted": int((vf == ts_us).sum()), "closed": int((vt == ts_us).sum()),
                     "unchanged": int((is_open & (vf < ts_us)).sum())}
            else:
                if len(set(pk)) != len(pk):
                    problems.append(f"{key}: duplicate pk")
                prev = self.prev_rows.get(key, 0)
                c = {"inserted": len(pk) - prev, "closed": 0, "unchanged": prev}
            self.prev_rows[key] = len(pk)
            counts[key] = c
            if key == "stg.movie_info_sat":
                open_rows = int(is_open.sum())
                if open_rows != self.inputs.sat_rows(self.inputs.present):
                    problems.append(f"{key}: {open_rows} open rows, delta implies "
                                    f"{self.inputs.sat_rows(self.inputs.present)}")
                if delta is not None:
                    want = {
                        "inserted": self.inputs.sat_rows(delta.changed | delta.reappeared | delta.new),
                        "closed": self.inputs.sat_rows(delta.changed | delta.vanished),
                    }
                    for k, v in want.items():
                        if c[k] != v:
                            problems.append(f"{key}: rows {k} {c[k]}, delta implies {v}")
        self.last_counts = counts
        if problems:
            self.wrong[f"batch {self.batch}"] = "; ".join(problems)[:500]
        return not problems

    # -- traced batch -------------------------------------------------------
    def traced_pass(self, tracer: tr.Tracer, _order):
        import bench

        op = self.run_op(tracer)
        name = tracer.op
        tracer.uninstall()
        jobs = tracer.jobs()
        spans = [s for s in tracer.spans if s[4] == name]
        J = [(j["start"], j["end"]) for j in jobs]
        B = [(s[2], s[3]) for s in spans if s[0] == "operators"]
        whole = [op["window"]]
        build = [(s[2], s[3]) for s in spans if s[0] in ("plans", "scd2", "sources.read")]
        build_self = tr.minus_ms(build, J + B)

        def total(layer, table=None):
            return sum(s[3] - s[2] for s in spans
                       if s[0] == layer and (table is None or s[1] == table))

        per_table = {}
        written = [w for w in tracer.written if w["op"] == name]
        for w in written:
            t = w["table"]
            st = tr.storage_stats(w["path"])
            per_table[t] = {
                "build_ms": total("plans", t),
                "merge_plan_ms": total("scd2", t),
                "read_ms": total("sources.read", t),
                "write_ms": total("sources.write", t),
                "table_ms": total("table", t),
                "rows_written": st["rows"], "bytes_written": st["bytes"],
                "files_written": st["files"],
                **{f"rows_{k}": v for k, v in self.last_counts[t].items()},
                "catalyst": tr.catalyst_phases(w["df"]),
                "plan_fingerprint": bench._plan_fingerprint(w["df"]),
            }
            per_table[t].update(job_sums([j for j in jobs if j["group"] == f"{name}|{t}"]))
        disk = tr.tree_bytes(os.path.join(self.work, "wh")) + tr.tree_bytes(
            os.path.join(self.work, "spark-warehouse")
        )
        rec = {
            "op_ms": op["ms"],
            "ok": op["ok"],
            "bronze_rows": self.bronze_rows,
            "bronze_bytes": self.bronze_bytes,
            "warehouse_bytes": disk,
            "build_self_ms": build_self,
            "barriers": len(B),
            "barrier_ms": tr.union_ms(B),
            "barrier_self_ms": tr.minus_ms(B, J),
            "job_wall_ms": tr.union_ms(J),
            "gap_ms": tr.minus_ms(whole, J + B) - build_self,
            "tables": per_table,
        }
        rec.update(job_sums(jobs))
        return op["ms"], {"ops": {name: rec}}, [op]
