"""The batch workload and the closed loop that times registry rows.

The ``batch`` workload runs a fixed list of registry rows (``registry.queries()``)
at the benchmark's own sf0.01 lake. Each timed execution builds the row's
DataFrame and collects it with Arrow (``toPandas``): like the ``noop``
sink this computes every column of every row (``count()`` would let
column pruning skip work), and it hands the timed execution's own rows to
the output check, which runs after the timed region.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

import pandas as pd

import stats
from layers import JobLedger, Tracer, lake_op_ms, leg_stats

#: Operator-lane rows of the batch layer: JVM-only Catalyst/Tungsten
#: plans over ``io`` scans; no Python workers, no lake writes.
SQL_OLAP = (
    "union_except",             # relational
    "shipping_priority",        # joins
    "sessionization",           # session_queries
)

#: Operator-lane rows of the curation side: pandas-UDF/Arrow workers,
#: driver-side numpy and many small jobs.
LLM_CURATION = (
    "dedup_fingerprint",        # dedup
    "multimodal_jpeg_stats",    # multimodal
    "domain_mix_weights",       # curation
)

#: ``registry.PROTOCOL_QUERIES`` rows: lake writes beside reads and
#: ``attest.parallel_vals`` attestations whose leg jobs escape the job
#: group. Between them they call every ``lake.*_ms`` bucket:
#: ``lake_lifecycle`` commits, compacts, deletes, diffs (CDC) and merges;
#: ``lake_maintenance`` clusters, compacts, indexes and vacuums;
#: ``lake_restore`` deletes, restores and diffs.
LAKE_PROTOCOL = (
    "lake_lifecycle",
    "lake_maintenance",
    "lake_restore",
)

#: The ``batch`` workload; one pass runs every row once. Three passes give
#: 27 latencies, the fewest that reach ``MIN_LATENCIES``; the 11 slowest,
#: which the tail mean averages, are the nine lake samples and two of
#: ``multimodal_jpeg_stats``'s three.
BATCH = SQL_OLAP + LLM_CURATION + LAKE_PROTOCOL

#: Run once, traced and untimed, at the end of a traced ``batch`` run: the
#: protocol row whose leg jobs escape its job group (about 10 s at sf0.01,
#: too long for the timed loop).
TRACE_ONLY = ("erasure_e2e",)

#: ``stream_ingest`` backlog: fixed trigger count and records per file.
STREAM_FILES = 6
STREAM_ROWS_PER_FILE = 300


@dataclass
class Op:
    """One timed operation: a query execution or a stream drain."""

    name: str
    seconds: float
    error: str | None = None
    layers: dict = field(default_factory=dict)


def failure(name: str, e: Exception) -> str:
    return f"{name}: {type(e).__name__}: {e}"[:500]


class BatchRunner:
    """Runs registry rows one at a time (a closed loop, one client).

    ``fns`` maps a row name to its ``registry.queries()`` function."""

    def __init__(self, spark, sf_dir: str, fns: dict, checker) -> None:
        self.fns = fns
        self.spark = spark
        self.sf_dir = sf_dir
        self.checker = checker
        self.outputs: dict[str, pd.DataFrame] = {}

    def _timed(self, name: str, clock: list[float]) -> tuple[float, pd.DataFrame]:
        """Build and collect one row; ``clock`` gets the start, build-end
        and end times, as far as the row got before any exception."""
        clock.append(time.perf_counter())
        df = self.fns[name](self.spark, self.sf_dir)
        clock.append(time.perf_counter())
        pdf = df.toPandas()
        clock.append(time.perf_counter())
        return clock[1] - clock[0], pdf

    def execute(self, name: str) -> Op:
        clock: list[float] = []
        try:
            _build, pdf = self._timed(name, clock)
            error = self.checker.check(name, pdf)
        except Exception as e:  # a failed row is a counted failure, not a crash
            return Op(name, time.perf_counter() - clock[0], failure(name, e))
        self.outputs[name] = pdf
        return Op(name, clock[-1] - clock[0], error)

    def execute_traced(self, name: str, qid: str, tracer: Tracer, ledger: JobLedger) -> Op:
        """``execute`` with a job group, spans and a status-store read."""
        sc = self.spark.sparkContext
        before = {t.ident for t in threading.enumerate()}
        tracer.query = qid
        lo = ledger.next_job_id()
        sc.setJobGroup(qid, name)
        w0 = time.time()
        clock: list[float] = []
        try:
            with tracer.span("query"):
                build, pdf = self._timed(name, clock)
            error = self.checker.check(name, pdf)
        except Exception as e:
            clock.append(time.perf_counter())
            build, error = 0.0, failure(name, e)
        secs = clock[-1] - clock[0]
        w1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        tracer.query = None
        hi = ledger.next_job_id()
        leaked = [
            t for t in threading.enumerate()
            if t.ident not in before and t.is_alive()
        ]
        for t in leaked:
            t.join(timeout=0.2)
        jobs, intervals = ledger.read(lo, hi, qid)
        spans = tracer.query_spans(qid)
        loads = [s for s in spans if s.name == "io.load_table"]
        legs = leg_stats(spans)
        layers = {
            **{f"exec.{k}": v for k, v in jobs.items() if k != "unattributed_jobs"},
            "exec.offcpu_ms": jobs["run_ms"] - jobs["cpu_ms"],
            "operators.build_ms": build * 1e3,
            "operators.build_jobs": sum(1 for start, _ in intervals if start <= w0 + build),
            "io.load_table_calls": len(loads),
            "io.load_table_ms": sum(s.ms for s in loads),
            "driver.idle_ms": stats.idle_time(w0, w1, intervals) * 1e3,
            "attest.parallel_vals_calls": legs["calls"],
            "attest.parallel_vals_ms": legs["ms"],
            "attest.leg_overlap": legs["overlap"],
            "legs.unattributed_jobs": jobs["unattributed_jobs"],
            "legs.threads_leaked": sum(t.is_alive() for t in leaked),
            **{f"lake.{k}_ms": v for k, v in lake_op_ms(spans).items()},
        }
        return Op(name, secs, error, layers)

    def oracle_failures(self, oracle_sql: dict[str, str]) -> tuple[int, list[str]]:
        """Compare the collected outputs with DuckDB; (compared, failures)."""
        verdicts = self.checker.oracle(self.outputs, oracle_sql)
        return len(verdicts), [v for v in verdicts.values() if v]
