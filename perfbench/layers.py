"""Per-layer instruments for the traced run.

Everything here observes the engine from the outside:

- :class:`Tracer` keeps spans (name, start, end, parent, query id) in
  memory. It wraps the public ``lake.*`` functions, ``io.load_table`` and
  ``attest.parallel_vals`` (and each thunk handed to the latter), and
  rebinds the wrappers in every package module that imported the
  originals, so calls from any operator land in a span.
- :class:`JobLedger` reads Spark's status store for a range of job ids:
  job, stage and task counts, executor run/CPU/GC time, bytes moved, and
  which jobs carried the query's job group.
- :class:`ProgressLog` is a ``StreamingQueryListener`` that keeps every
  progress event (``recentProgress`` keeps only the last 100).
- :func:`peak_rss_kb` reads ``VmHWM`` of the driver, the JVM and the JVM's
  descendants (the Python workers).
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "cours_datalake_dwh_td_kafka_spark"

#: lake function -> the ``lake.<op>_ms`` bucket its time is reported in.
LAKE_OPS = {
    "lake_commit": "commit",
    "lake_commit_occ": "commit",
    "lake_commit_expect": "commit",
    "lake_mark_stream": "commit",
    "lake_restore": "commit",
    "lake_txn_publish": "commit",
    "lake_merge_upsert": "merge",
    "lake_delete_where": "delete",
    "lake_delete_keys": "delete",
    "lake_compact": "compact",
    "lake_cluster_by": "compact",
    "lake_bloom_index": "compact",
    "lake_vacuum": "vacuum",
    "lake_read": "read",
    "lake_read_pruned": "read",
    "lake_read_point": "read",
    "lake_read_keys": "read",
    "lake_txn_read": "read",
    "lake_txn_snapshot": "read",
    "lake_history": "read",
    "lake_maintenance_plan": "read",
    "lake_diff": "cdc",
    "lake_changes_since": "cdc",
    "lake_consume_changes": "cdc",
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    query: str | None
    thread: str
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    query: str | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _restore: list[tuple[object, str, object]] = field(default_factory=list)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sp = Span(
                len(self.spans), name, time.perf_counter(),
                parent.sid if parent else None, self.query,
                threading.current_thread().name,
            )
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_parallel_vals(self, fn):
        @functools.wraps(fn)
        def traced(*thunks, **kwargs):
            with self.span("attest.parallel_vals") as call:
                legs = [self._leg(t, call) for t in thunks]
                return fn(*legs, **kwargs)

        return traced

    def _leg(self, thunk, call: Span):
        def leg():
            with self.span("attest.leg", parent=call):
                return thunk()

        return leg

    def install(self) -> None:
        """Wrap the layer entry points and rebind every module-level
        reference to them inside the package."""
        from cours_datalake_dwh_td_kafka_spark import io, lake
        from cours_datalake_dwh_td_kafka_spark.operators import attest

        wrappers = {
            id(getattr(lake, name)): self._wrap(f"lake.{name}", getattr(lake, name))
            for name in LAKE_OPS
        }
        wrappers[id(io.load_table)] = self._wrap("io.load_table", io.load_table)
        wrappers[id(attest.parallel_vals)] = self._wrap_parallel_vals(
            attest.parallel_vals
        )
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and callable(val):
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._restore):
            setattr(mod, attr, val)
        self._restore.clear()

    def query_spans(self, query: str) -> list[Span]:
        return [s for s in self.spans if s.query == query]


def lake_op_ms(spans: list[Span]) -> dict[str, float]:
    """Milliseconds per lake bucket, counting only the outermost lake
    call of each nest (a commit inside a merge is merge time)."""
    by_id = {s.sid: s for s in spans}
    out = dict.fromkeys(sorted(set(LAKE_OPS.values())), 0.0)
    for s in spans:
        if not s.name.startswith("lake."):
            continue
        p = s.parent
        nested = False
        while p is not None:
            if by_id[p].name.startswith("lake."):
                nested = True
                break
            p = by_id[p].parent
        if not nested:
            out[LAKE_OPS[s.name[5:]]] += s.ms
    return out


def leg_stats(spans: list[Span]) -> dict[str, float]:
    """``attest.parallel_vals`` calls, their wall ms, and leg overlap: the
    summed leg time over the summed call time (1.0 = no concurrency)."""
    calls = [s for s in spans if s.name == "attest.parallel_vals"]
    legs = [s for s in spans if s.name == "attest.leg"]
    call_ms = sum(s.ms for s in calls)
    return {
        "calls": len(calls),
        "ms": call_ms,
        "overlap": (sum(s.ms for s in legs) / call_ms) if call_ms else 0.0,
    }


JOB_FIELDS = (
    "jobs", "unattributed_jobs", "stages", "stages_skipped", "tasks",
    "failed_tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class JobLedger:
    """Reads the status store of one SparkContext by job id."""

    def __init__(self, sc) -> None:
        self._jsc = sc._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def read(self, lo: int, hi: int, group: str | None) -> tuple[dict, list]:
        """Totals over jobs ``lo <= id < hi``, and their [start, end]
        intervals in epoch seconds. A job counts as attributed when it
        carries ``group`` as its job group."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tot = dict.fromkeys(JOB_FIELDS, 0)
        intervals = []
        seen_stages: set[int] = set()
        for j in range(lo, hi):
            jd = store.job(j)
            tot["jobs"] += 1
            g = jd.jobGroup()
            if group is None or not g.isDefined() or g.get() != group:
                tot["unattributed_jobs"] += 1
            tot["tasks"] += jd.numTasks() - jd.numSkippedTasks()
            tot["failed_tasks"] += jd.numFailedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    tot["stages_skipped"] += 1
                    continue
                tot["stages"] += 1
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ms"] += st.executorCpuTime() / 1e6
                tot["gc_ms"] += st.jvmGcTime()
                tot["input_bytes"] += st.inputBytes()
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot, intervals


class ProgressLog(StreamingQueryListener):
    """Every streaming progress event, keyed by query run id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events: dict[str, dict[int, dict]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                (s.numRowsTotal, s.memoryUsedBytes, s.numRowsDroppedByWatermark)
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self.events.setdefault(str(p.runId), {})[p.batchId] = rec

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, run_id: str, last_batch: int, timeout: float = 30.0) -> list[dict]:
        """Progress of batches 0..``last_batch`` of one run, in order; the
        listener bus delivers them asynchronously after termination."""
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                got = dict(self.events.get(run_id, {}))
            if all(b in got for b in range(last_batch + 1)):
                return [got[b] for b in range(last_batch + 1)]
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"stream {run_id}: progress for {len(got)} of "
                    f"{last_batch + 1} batches"
                )
            time.sleep(0.01)


def process_tree(root: int) -> set[int]:
    """``root`` and every live process descended from it."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in tree:
            tree.add(p)
            todo.extend(kids.get(p, []))
    return tree


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_kb(jvm_pid: int) -> dict[int, int]:
    """``VmHWM`` of this process, the JVM and each of its descendants."""
    return {p: _vm_hwm_kb(p) for p in process_tree(jvm_pid) | {os.getpid()}}


#: Every per-layer metric of a traced run, with its unit. A layer that
#: does no work in a workload reports 0.
PER_LAYER_UNITS = {
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.offcpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "io.load_table_calls": "count",
    "io.load_table_ms": "ms",
    "driver.idle_ms": "ms",
    "attest.parallel_vals_calls": "count",
    "attest.parallel_vals_ms": "ms",
    "attest.leg_overlap": "ratio",
    "legs.unattributed_jobs": "count",
    "legs.threads_leaked": "count",
    **{f"lake.{op}_ms": "ms" for op in sorted(set(LAKE_OPS.values()))},
    "lake.versions": "count",
    "lake.manifest_bytes": "bytes",
    "lake.data_bytes": "bytes",
    "lake.space_amp": "ratio",
    **{f"streaming.{d}_ms": "ms" for d in (
        "add_batch", "get_batch", "latest_offset", "query_planning",
        "wal_commit", "commit_offsets")},
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    **{f"streaming.{k}_rows_per_s": "rows/s" for k in ("ingest", "window")},
    **{f"streaming.{k}_trigger_{q}_ms": "ms" for k in ("ingest", "window") for q in ("p50", "tail")},
    "jvm.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.cold_setup_s": "s",
    "trace.overhead_s": "s",
}
