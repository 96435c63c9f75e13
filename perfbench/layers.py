"""Per-layer tracing for the traced pass, from the benchmark's own files.

Nothing here edits the program.  ``Tracer.install`` wraps public entry
points of each layer for the traced pass only and ``uninstall`` puts
the originals back:

- ``entry_queries``: py4j round trips, counted by wrapping
  ``ClientServerConnection.send_command``.
- ``operators`` barriers: ``DataFrame.localCheckpoint`` /
  ``checkpoint`` / ``persist`` / ``cache``.
- ``plans``: the builder each ``Warehouse.run_table`` resolves
  (``plans.pipeline._resolve_builder``), per table.
- ``scd2``: ``scd2_apply`` / ``insert_only_merge`` as imported into
  ``plans.pipeline``.
- ``sources``: ``VersionedParquetTable`` / ``BucketedVersionedTable``
  ``read`` and ``write``.

Spans and counters stay in memory.  Spark jobs are tagged with a job
group per operation phase and read back from the live status store
once the pass has ended, so reading them costs the pass nothing.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import pyarrow.parquet as pq

BARRIERS = ("localCheckpoint", "checkpoint", "persist", "cache")


_TICK = os.sysconf("SC_CLK_TCK")


def now_ms() -> float:
    return time.time() * 1000.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and all its
    descendants: the JVM and PySpark's Python workers.

    Each live process is read through its CPU-time clock (nanosecond
    resolution, Linux ``make_process_cpuclock(pid, CPUCLOCK_SCHED)``);
    children it has reaped come from ``/proc/<pid>/stat`` in clock
    ticks.  Time the hypervisor steals from a shared host is charged to
    no process, so this moves far less than wall time when neighbours
    are busy."""
    root, parent, reaped = os.getpid(), {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        parent[int(d)] = int(fields[1])
        reaped[int(d)] = int(fields[13]) + int(fields[14])  # cutime + cstime
    total = 0.0
    for pid in parent:
        p = pid
        while p != root and p in parent:
            p = parent[p]
        if p != root:
            continue
        try:
            total += time.clock_gettime(((~pid) << 3) | 2) + reaped[pid] / _TICK
        except OSError:
            continue
    return total


def union_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def minus_ms(base, cover) -> float:
    """Length of ``base`` intervals not covered by ``cover`` intervals."""
    return union_ms(base) - union_ms(
        [c for b in base for c in clip(cover, b[0], b[1])]
    )


class Tracer:
    """Spans (layer, name, start_ms, end_ms, op) and counters for one
    traced pass."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, str, float, float, str]] = []
        self.py4j_calls = 0
        self.op = ""
        self.table = ""
        self.groups: set[str] = set()
        self.written: list[dict] = []  # one entry per committed table version
        self._patches: list[tuple[object, str, object]] = []
        self._barrier_depth = 0

    # -- span helpers -------------------------------------------------------
    def span(self, layer: str, name: str, t0: float, t1: float) -> None:
        self.spans.append((layer, name, t0, t1, self.op))

    def set_group(self, group: str) -> None:
        self.groups.add(group)
        self.sc.setJobGroup(group, group)

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    # -- installation -------------------------------------------------------
    def install(self, elt: bool) -> None:
        from py4j.clientserver import ClientServerConnection

        tracer = self

        def count_py4j(orig):
            def send_command(conn, command, *a, **kw):
                tracer.py4j_calls += 1
                return orig(conn, command, *a, **kw)

            return send_command

        self._patch(ClientServerConnection, "send_command", count_py4j)

        df_cls = type(self.spark.range(1))
        for name in BARRIERS:
            self._patch(df_cls, name, lambda orig, n=name: self._barrier(orig, n))
        if elt:
            self._install_elt()

    def _barrier(self, orig, name):
        tracer = self

        def wrapped(*a, **kw):
            if tracer._barrier_depth:
                return orig(*a, **kw)
            tracer._barrier_depth += 1
            t0 = now_ms()
            try:
                return orig(*a, **kw)
            finally:
                tracer._barrier_depth -= 1
                tracer.span("operators", name, t0, now_ms())

        return wrapped

    def _timed(self, layer: str, name_of):
        tracer = self

        def make(orig):
            def wrapped(*a, **kw):
                t0 = now_ms()
                try:
                    return orig(*a, **kw)
                finally:
                    tracer.span(layer, name_of(a), t0, now_ms())

            return wrapped

        return make

    def _install_elt(self) -> None:
        from imdb_metacritic_data_warehouse_spark.plans import pipeline
        from imdb_metacritic_data_warehouse_spark.sources.bucketed import (
            BucketedVersionedTable,
        )
        from imdb_metacritic_data_warehouse_spark.sources.table import (
            VersionedParquetTable,
        )

        tracer = self

        def run_table(orig):
            def wrapped(wh, schema, name, batch_ts):
                tracer.table = f"{schema}.{name}"
                tracer.set_group(f"{tracer.op}|{tracer.table}")
                t0 = now_ms()
                try:
                    return orig(wh, schema, name, batch_ts)
                finally:
                    tracer.span("table", tracer.table, t0, now_ms())

            return wrapped

        def resolve_builder(orig):
            def wrapped(name):
                return self._timed("plans", lambda a: tracer.table)(orig(name))

            return wrapped

        self._patch(pipeline.Warehouse, "run_table", run_table)
        self._patch(pipeline, "_resolve_builder", resolve_builder)
        for fn in ("scd2_apply", "insert_only_merge"):
            self._patch(pipeline, fn, self._timed("scd2", lambda a: tracer.table))
        for cls in (VersionedParquetTable, BucketedVersionedTable):
            self._patch(cls, "read", self._timed("sources.read", lambda a: tracer.table))
            self._patch(cls, "write", lambda orig: self._write(orig))

    def _write(self, orig):
        tracer = self

        def wrapped(tab, df, *a, **kw):
            t0 = now_ms()
            v = orig(tab, df, *a, **kw)
            tracer.span("sources.write", tracer.table, t0, now_ms())
            tracer.written.append(
                {"table": tracer.table, "op": tracer.op, "df": df,
                 "path": version_path(tab, v)}
            )
            return v

        return wrapped

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- readers ------------------------------------------------------------
    def jobs(self) -> list[dict]:
        """Jobs of this pass's job groups, with their stages' metrics
        counted once each (a stage reused by a later job is skipped
        there and stays with the job that ran it)."""
        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        raw = []
        for i in range(seq.size()):
            j = seq.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in self.groups:
                continue
            if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
                continue
            sids = j.stageIds()
            raw.append(
                {
                    "job": j.jobId(),
                    "group": g.get(),
                    "start": float(j.submissionTime().get().getTime()),
                    "end": float(j.completionTime().get().getTime()),
                    "stages": [sids.apply(k) for k in range(sids.size())],
                }
            )
        raw.sort(key=lambda r: r["job"])
        seen: set[int] = set()
        for r in raw:
            m = defaultdict(float)
            for sid in r["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage evicted or never ran
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                m["tasks"] += st.numCompleteTasks()
                m["task_ms"] += st.executorRunTime()
                m["gc_ms"] += st.jvmGcTime()
                m["input_bytes"] += st.inputBytes()
                m["shuffle_read_bytes"] += st.shuffleReadBytes()
                m["shuffle_write_bytes"] += st.shuffleWriteBytes()
                m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            r.update(m)
            del r["stages"]
        return raw


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms of ``df``'s own
    QueryExecution.  A ``noop`` write plans a QueryExecution of its own,
    so optimization and planning are forced here, after the timed
    operation, and the tracker is read then."""
    qe = df._jdf.queryExecution()
    qe.optimizedPlan()
    qe.executedPlan()
    out: dict[str, float] = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def version_path(tab, v: int) -> str:
    """Directory of committed version ``v`` of a versioned table."""
    if hasattr(tab, "_version_dir"):
        return tab._version_dir(v)
    wdir = tab.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return os.path.join(wdir, f"{tab.database}.db", f"{tab.name}_v{v}")


def parquet_files(root: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def storage_stats(root: str) -> dict[str, int]:
    """Rows (from parquet footers), bytes and files under ``root``."""
    files = parquet_files(root)
    return {
        "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
    }


def tree_bytes(root: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(root))
