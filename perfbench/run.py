"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one fresh process with one
client in a closed loop on ``local[$SPARK_GRAFT_CPUS]`` (default: every
CPU this process may use). Workloads: ``batch`` (registry rows of the
``sql_olap``, ``llm_curation`` and ``lake_protocol`` groups, see
``workloads.py``) and ``stream_ingest`` (see ``stream.py``).

A run sets the session up three times and reports the median, makes one
untimed pass, then repeats passes in a seeded order until ``--seconds``
of timed work is done and every tail the run reports rests on
``MIN_LATENCIES`` samples (at most ``MAX_PASSES`` passes). A failed operation (an
exception or an output mismatch) is counted in ``failed`` and left out of
every timing metric. With ``--trace 1`` passes alternate between
untraced and traced; the traced ones supply the per-layer metrics and the
difference of the two is the tracing overhead. All scratch state lives
under ``perfbench/.work`` and a detailed report is written to
``perfbench/out``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

import stats
from checks import Checker
from layers import (
    PER_LAYER_UNITS,
    JobLedger,
    ProgressLog,
    Tracer,
    lake_op_ms,
    peak_rss_kb,
    process_tree,
)
from workloads import (
    BATCH,
    STREAM_FILES,
    STREAM_ROWS_PER_FILE,
    TRACE_ONLY,
    BatchRunner,
    Op,
    failure,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
SETUP_REPS = 3
#: Timed latencies an untraced run collects at least: with ten beyond
#: the tail, 25 put it at the 60th percentile or higher.
MIN_LATENCIES = 25
#: Timed passes a run makes at most, so a run whose operations keep
#: failing ends and reports them.
MAX_PASSES = 12

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_gmean_s": "s",
    "query_tail_mean_s": "s",
    "python_peak_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("batch", "stream_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _work_dir(workload: str, seed: int) -> str:
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # operators stage their scratch lakes under tempfile's directory; the
    # JVM and the Python workers inherit the same locations
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    return work


def _session_conf(work: str) -> dict[str, str]:
    return {
        # bench.py's setting: no forced full GC in the middle of a short run
        "spark.cleaner.periodicGC.interval": "30min",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def _stop(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    jvm = spark.sparkContext._gateway.proc
    workers = process_tree(jvm.pid) - {jvm.pid}
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    jvm.terminate()
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.05)


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.spark = None
        self.setups: list[tuple[float, float]] = []
        self.attempted = 0
        self.errors: list[str] = []
        self.report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()
        self.jvm_peak_rss_mb = 0.0

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now

    # -- set-up ---------------------------------------------------------
    def setup(self, warm) -> None:
        from cours_datalake_dwh_td_kafka_spark.session import get_spark

        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=_session_conf(self.work))
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            warm(self.spark)
            self.setups.append((t1 - t0, time.perf_counter() - t1))

    def count(self, op) -> None:
        self.attempted += 1
        if op.error:
            self.errors.append(op.error)

    def passes(self, run_pass, tail_samples) -> tuple[list, list]:
        """Timed passes until ``--seconds`` of timed work (failed
        operations included); with tracing, alternate untraced and traced
        passes (at least one of each). Also run until
        ``tail_samples(plain, traced)``, the fewest samples a tail of this
        run is taken from, reaches ``MIN_LATENCIES``, so every tail lies
        at or above the 60th percentile. Never more than ``MAX_PASSES``."""
        plain, traced = [], []
        spent = 0.0
        while len(plain) + len(traced) < MAX_PASSES:
            tracing = bool(self.args.trace) and len(traced) < len(plain)
            ops = run_pass(tracing)
            (traced if tracing else plain).append(ops)
            spent += sum(o.seconds for o in ops)
            if (spent >= self.args.seconds and (traced or not self.args.trace)
                    and tail_samples(plain, traced) >= MIN_LATENCIES):
                break
        return plain, traced

    # -- metrics --------------------------------------------------------
    def end_to_end(self, plain: list, latencies: list[float]) -> dict:
        """The ``--trace 0`` metrics. ``latencies`` hold successful
        operations only; a timing with no sample at all (every operation
        failed) reads 0 beside a non-zero ``failed``."""
        # a traced run's few untraced passes may hold too few latencies
        tail, pct = (stats.tail_mean(latencies) if len(latencies) > stats.TAIL_BEYOND
                     else (0.0, None))
        rss = {}
        if self.spark is not None:
            jvm = self.spark.sparkContext._gateway.proc.pid
            rss = peak_rss_kb(jvm)
            self.jvm_peak_rss_mb = rss.pop(jvm) / 1024.0
        # the plain median and ten-beyond sample go to the report only: with
        # rows of different lengths both jump whenever two rows swap ranks
        self.report.update(passes=len(plain), pass_s=pass_seconds(plain),
                           n_latencies=len(latencies), tail_percentile=pct,
                           p50_s=median_or_zero(latencies),
                           tail_s=stats.tail(latencies)[0] if pct is not None else None,
                           jvm_peak_rss_mb=self.jvm_peak_rss_mb, python_peak_rss_kb=rss)
        return {
            "setup_s": stats.median(a + b for a, b in self.setups),
            "pass_s": median_or_zero(pass_seconds(plain)),
            "query_gmean_s": stats.geomean(latencies) if latencies else 0.0,
            "query_tail_mean_s": tail,
            "python_peak_rss_mb": sum(rss.values()) / 1024.0,
        }

    def per_layer(self, plain: list, traced: list, layer_passes: list[dict]) -> dict:
        keys = sorted({k for d in layer_passes for k in d})
        out = {k: stats.median(d.get(k, 0.0) for d in layer_passes) for k in keys}
        out["jvm.peak_rss_mb"] = self.jvm_peak_rss_mb
        out["session.get_spark_s"] = stats.median(a for a, _ in self.setups)
        out["session.warmup_s"] = stats.median(b for _, b in self.setups)
        # the cold set-up, once: from the start of the run (JVM launch
        # included) through the untimed pass to the first timed operation
        out["session.cold_setup_s"] = self.phases["setup"] + self.phases["untimed_pass"]
        out["trace.overhead_s"] = (median_or_zero(pass_seconds(traced))
                                   - median_or_zero(pass_seconds(plain)))
        return out

    def result(self, values: dict, units: dict) -> dict:
        """The last line of the output."""
        return {
            "correct": not self.errors,
            "attempted": self.attempted,
            "failed": len(self.errors),
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }


def pass_seconds(passes: list) -> list[float]:
    """Seconds of each pass, summed over its successful operations."""
    return [sum(o.seconds for o in ops if not o.error) for ops in passes]


def median_or_zero(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


def _sum_layers(ops) -> dict:
    tot: dict[str, float] = {}
    for o in ops:
        if o.error:
            continue
        for k, v in o.layers.items():
            tot[k] = tot.get(k, 0.0) + v
    calls = tot.get("attest.parallel_vals_ms", 0.0)
    if calls:  # overlap is a ratio: recompute it over the pass
        legs = sum(o.layers.get("attest.leg_overlap", 0.0) * o.layers.get("attest.parallel_vals_ms", 0.0) for o in ops)
        tot["attest.leg_overlap"] = legs / calls
    return tot


def run_batch(run: Run) -> tuple[dict, dict]:
    from cours_datalake_dwh_td_kafka_spark import registry
    from cours_datalake_dwh_td_kafka_spark.io import LAKE_TABLES, load_table

    def warm(spark):
        # lake warm-up: footer reads and one scan per table
        for t in LAKE_TABLES:
            load_table(spark, DATA, t).count()

    run.setup(warm)
    run.phase("setup")
    names = BATCH
    qs = registry.queries()
    runner = BatchRunner(run.spark, DATA, {n: qs[n] for n in names + TRACE_ONLY},
                         Checker(ROOT, DATA))
    # the untimed pass only compiles code paths and checks outputs, so its
    # rows run concurrently, one per core, the longest (the lake rows, last
    # in BATCH) first
    with ThreadPoolExecutor(max_workers=int(os.environ["SPARK_GRAFT_CPUS"])) as pool:
        for op in pool.map(runner.execute, names[::-1]):
            run.count(op)
    run.phase("untimed_pass")
    compared, mismatches = runner.oracle_failures(registry.oracle_sql())
    run.phase("oracle")
    run.attempted += compared
    run.errors.extend(mismatches)

    tracer, ledger = Tracer(), JobLedger(run.spark.sparkContext)
    queries: list = []

    def one_pass(tracing: bool):
        order = list(names)
        run.rng.shuffle(order)
        if tracing:
            tracer.install()
        try:
            ops = [
                runner.execute_traced(n, f"{n}#{len(queries) + i}", tracer, ledger)
                if tracing else runner.execute(n)
                for i, n in enumerate(order)
            ]
        finally:
            tracer.uninstall()
        for o in ops:
            run.count(o)
            if tracing:
                queries.append({"q": o.name, "s": o.seconds, **o.layers})
        return ops

    def latencies(passes):
        return [o.seconds for ops in passes for o in ops if not o.error]

    def tail_samples(plain, traced):
        # a traced batch run reports no tail
        return MIN_LATENCIES if run.args.trace else len(latencies(plain))

    plain, traced = run.passes(one_pass, tail_samples)
    run.phase("passes")
    if run.args.trace:
        tracer.install()
        try:
            for n in TRACE_ONLY:
                o = runner.execute_traced(n, f"{n}#{len(queries)}", tracer, ledger)
                run.count(o)
                queries.append({"q": o.name, "s": o.seconds, **o.layers})
        finally:
            tracer.uninstall()
        run.phase("trace_only")
    metrics = run.end_to_end(plain, latencies(plain))
    layers = run.per_layer(plain, traced, [_sum_layers(ops) for ops in traced]) if traced else {}
    run.report["queries"] = queries
    run.report["latencies"] = {n: [o.seconds for ops in plain for o in ops if o.name == n]
                               for n in names}
    run.report["spans"] = [vars(s) for s in tracer.spans]
    return metrics, layers


def run_stream(run: Run) -> tuple[dict, dict]:
    from stream import StreamDrain, generate_backlog  # imports the engine

    warm_backlog = os.path.join(run.work, "warm_backlog")
    generate_backlog(warm_backlog, run.args.seed + 1, 2, STREAM_ROWS_PER_FILE)
    backlog = os.path.join(run.work, "backlog")
    n_rows = generate_backlog(backlog, run.args.seed, STREAM_FILES, STREAM_ROWS_PER_FILE)
    drains = iter(range(1_000_000))
    progress = ProgressLog()

    def new_drain(spark, src):
        return StreamDrain(spark, src, os.path.join(run.work, f"drain{next(drains)}"), progress)

    def warm(spark):
        # lake warm-up: one ingest drain of the small backlog
        spark.streams.addListener(progress)
        new_drain(spark, warm_backlog).ingest()

    run.setup(warm)
    run.phase("setup")
    tracer, ledger = Tracer(), JobLedger(run.spark.sparkContext)
    layer_passes: list[dict] = []
    layouts: list[dict] = []

    def one_pass(tracing: bool, src: str = backlog):
        d = new_drain(run.spark, src)
        ops, layers = [], {}
        if tracing:
            tracer.install()
        try:
            for kind, drain, check in (("ingest", d.ingest, d.check_ingest),
                                       ("window", d.window, d.check_window)):
                tracer.query = f"{kind}#{len(layer_passes)}"
                lo = ledger.next_job_id()
                w0 = time.time()
                try:
                    secs, build, prog = drain()
                    w1 = time.time()
                    error = check()
                except Exception as e:  # a failed drain is a counted failure
                    ops.append(Op(kind, time.time() - w0, failure(kind, e)))
                    continue
                trig = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in prog]
                ops.append(Op(kind, secs, error, {"triggers": trig, "rows_per_s": n_rows / secs}))
                if kind == "ingest" and error is None:
                    layouts.append(d.lake_layout())
                if tracing and error is None:
                    jobs, intervals = ledger.read(lo, ledger.next_job_id(), None)
                    _stream_layers(layers, kind, prog, jobs)
                    layers["operators.build_ms"] = layers.get("operators.build_ms", 0) + build * 1e3
                    layers["driver.idle_ms"] = layers.get("driver.idle_ms", 0) + stats.idle_time(
                        w0, w1, intervals) * 1e3
        finally:
            tracer.uninstall()
            tracer.query = None
        if tracing:
            qids = {f"{kind}#{len(layer_passes)}" for kind in ("ingest", "window")}
            spans = [s for s in tracer.spans if s.query in qids]
            layers.update({f"lake.{k}_ms": v for k, v in lake_op_ms(spans).items()})
            if layouts:
                layers.update({f"lake.{k}": v for k, v in layouts[-1].items()})
            layer_passes.append(layers)
        for o in ops:
            run.count(o)
        return ops

    # the untimed pass drains the full backlog: after a drain of the small
    # one the first timed pass ran about 20 % slower than the second,
    # after a full one about 10 %
    one_pass(False)
    run.phase("untimed_pass")

    def triggers(passes):
        return {k: [t for ops in passes for o in ops if o.name == k and not o.error
                    for t in o.layers["triggers"]]
                for k in ("ingest", "window")}

    def tail_samples(plain, traced):
        # untraced: one tail over both queries' triggers; traced: a tail
        # per query over the triggers of every pass
        if not run.args.trace:
            return sum(len(ts) for ts in triggers(plain).values())
        return min(len(ts) for ts in triggers(plain + traced).values())

    plain, traced = run.passes(one_pass, tail_samples)
    run.phase("passes")

    trig = triggers(plain)
    metrics = run.end_to_end(plain, trig["ingest"] + trig["window"])
    layers = {}
    if traced:
        layers = run.per_layer(plain, traced, layer_passes)
        # tracing adds nothing inside a trigger, so both kinds of pass count
        trig = triggers(plain + traced)
        for k, ts in trig.items():
            layers[f"streaming.{k}_trigger_p50_ms"] = median_or_zero(ts) * 1e3
            if len(ts) > stats.TAIL_BEYOND:
                layers[f"streaming.{k}_trigger_tail_ms"] = stats.tail(ts)[0] * 1e3
            layers[f"streaming.{k}_rows_per_s"] = median_or_zero(
                o.layers["rows_per_s"] for ops in plain + traced for o in ops
                if o.name == k and not o.error)
    run.report.update(backlog_rows=n_rows, triggers=trig, layouts=layouts,
                      spans=[vars(s) for s in tracer.spans])
    return metrics, layers


STREAM_DURATIONS = (
    ("addBatch", "add_batch"), ("getBatch", "get_batch"),
    ("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
    ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets"),
)


def _stream_layers(layers: dict, kind: str, prog: list[dict], jobs: dict) -> None:
    """Fold one drain's status-store totals and progress events into the
    pass's per-layer record."""
    for k, v in jobs.items():
        if k != "unattributed_jobs":
            layers[f"exec.{k}"] = layers.get(f"exec.{k}", 0) + v
    layers["exec.offcpu_ms"] = layers["exec.run_ms"] - layers["exec.cpu_ms"]
    for src, dst in STREAM_DURATIONS:
        key = f"streaming.{dst}_ms"
        layers[key] = layers.get(key, 0) + sum(p["duration_ms"].get(src, 0) for p in prog)
    if kind == "window":
        states = [p["state"][0] for p in prog if p["state"]]
        layers["streaming.state_rows"] = states[-1][0]
        layers["streaming.state_mem_bytes"] = max(s[1] for s in states)
        layers["streaming.rows_dropped_by_watermark"] = sum(s[2] for s in states)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import cours_datalake_dwh_td_kafka_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = _work_dir(args.workload, args.seed)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if args.workload == "stream_ingest":
        # stateful streaming keeps one state store per shuffle partition,
        # fixed at the first run; size them to the cores as the engine's
        # streaming notes advise (the batch default of 32 would make every
        # window trigger schedule 32 state-store tasks)
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", os.environ["SPARK_GRAFT_CPUS"])
    run = Run(args, work)
    try:
        body = run_stream if args.workload == "stream_ingest" else run_batch
        metrics, layers = body(run)
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        run.phase("stop")

    if args.trace:
        values = {k: layers.get(k, 0.0) for k in PER_LAYER_UNITS}
        units = PER_LAYER_UNITS
    else:
        values, units = metrics, END_TO_END
    print(f"perfbench: phases {json.dumps({k: round(v, 1) for k, v in run.phases.items()})}",
          file=sys.stderr)
    run.report.update(end_to_end=metrics, per_layer=layers, errors=run.errors, phases=run.phases,
                      cpus=os.environ["SPARK_GRAFT_CPUS"])
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(run.report, f, indent=1, default=str)
    for e in run.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps(run.result(values, units)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
