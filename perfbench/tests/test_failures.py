"""A failing operation is counted, kept out of the timings, and cannot
keep a run from ending.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import types

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run as bench  # noqa: E402
import stats  # noqa: E402
from workloads import BatchRunner, Op  # noqa: E402


def _run(seconds: float = 1.0, trace: int = 0) -> bench.Run:
    args = argparse.Namespace(workload="batch", seed=1, seconds=seconds, trace=trace)
    run = bench.Run(args, work="unused")
    run.setups = [(1.0, 0.5)]
    return run


class _Checker:
    def check(self, name, pdf):
        return None if name == "good" else f"{name}: wrong rows"


def _frame(rows: int):
    return types.SimpleNamespace(toPandas=lambda: pd.DataFrame({"x": range(rows)}))


def _boom(spark, sf_dir):
    time.sleep(0.01)
    raise RuntimeError("boom")


def test_batch_row_exception_and_mismatch_are_failures_with_their_time():
    runner = BatchRunner(None, "unused", {
        "good": lambda spark, sf_dir: _frame(3),
        "bad": _boom,
        "mismatch": lambda spark, sf_dir: _frame(2),
    }, _Checker())
    good, bad, mismatch = (runner.execute(n) for n in ("good", "bad", "mismatch"))
    assert good.error is None
    assert bad.error == "bad: RuntimeError: boom"
    assert bad.seconds >= 0.01  # time to the failure still counts toward --seconds
    assert mismatch.error == "mismatch: wrong rows"
    assert set(runner.outputs) == {"good", "mismatch"}


def test_one_failed_op_gives_failed_1_and_stays_out_of_the_timings():
    run = _run()
    n = iter(range(1000))

    def one_pass(tracing):
        k = next(n)
        ops = [Op(q, 0.1 * (i + 1)) for i, q in enumerate("abcde")]
        if k == 0:
            ops.append(Op("f", 0.001, "f: RuntimeError: boom"))
        for o in ops:
            run.count(o)
        return ops

    def latencies(passes):
        return [o.seconds for ops in passes for o in ops if not o.error]

    plain, _ = run.passes(one_pass, lambda plain, traced: len(latencies(plain)))
    assert len(latencies(plain)) >= bench.MIN_LATENCIES
    metrics = run.end_to_end(plain, latencies(plain))
    assert len(plain) == 5
    assert metrics["pass_s"] == pytest.approx(1.5)
    assert metrics["query_gmean_s"] == pytest.approx(stats.geomean([0.1, 0.2, 0.3, 0.4, 0.5]))
    line = run.result(metrics, bench.END_TO_END)
    assert (line["correct"], line["failed"], line["attempted"]) == (False, 1, 26)


def test_a_run_whose_ops_all_fail_still_ends():
    run = _run(seconds=5.0)

    def one_pass(tracing):
        ops = [Op("a", 0.0001, "a: RuntimeError: boom")]
        for o in ops:
            run.count(o)
        return ops

    plain, traced = run.passes(one_pass, lambda plain, traced: 0)
    assert len(plain) + len(traced) == bench.MAX_PASSES
    line = run.result(run.end_to_end(plain, []), bench.END_TO_END)
    assert line["failed"] == line["attempted"] == bench.MAX_PASSES
    assert line["metrics"]["pass_s"]["value"] == 0.0

