"""Per-layer instruments on toy inputs: job-group attribution of a job
started from a raw thread, span nesting for the lake buckets, leg overlap,
and the per-layer metric list matching ``BENCHMARK.json``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from layers import PER_LAYER_UNITS, JobLedger, Span, Tracer, lake_op_ms, leg_stats  # noqa: E402


def _span(sid, name, start, end, parent=None):
    return Span(sid, name, start, parent, "q", "main", end)


def test_lake_buckets_count_only_the_outermost_lake_call():
    spans = [
        _span(0, "query", 0.0, 10.0),
        _span(1, "lake.lake_merge_upsert", 1.0, 4.0, 0),
        _span(2, "lake.lake_commit_occ", 2.0, 3.0, 1),   # inside the merge
        _span(3, "lake.lake_commit_occ", 5.0, 5.5, 0),
        _span(4, "lake.lake_read", 6.0, 6.25, 0),
    ]
    ms = lake_op_ms(spans)
    assert ms["merge"] == pytest.approx(3000)
    assert ms["commit"] == pytest.approx(500)
    assert ms["read"] == pytest.approx(250)
    assert ms["vacuum"] == 0


def test_leg_overlap_is_leg_time_over_call_time():
    spans = [
        _span(0, "attest.parallel_vals", 0.0, 2.0),
        _span(1, "attest.leg", 0.0, 2.0, 0),
        _span(2, "attest.leg", 0.0, 1.0, 0),
    ]
    got = leg_stats(spans)
    assert got["calls"] == 1
    assert got["ms"] == pytest.approx(2000)
    assert got["overlap"] == pytest.approx(1.5)


def test_tracer_parents_thunks_to_their_parallel_vals_call():
    from cours_datalake_dwh_td_kafka_spark.operators import attest, refresh

    tracer = Tracer()
    tracer.query = "q#0"
    tracer.install()
    try:
        assert refresh.parallel_vals is not attest.parallel_vals.__wrapped__
        assert refresh.parallel_vals is attest.parallel_vals
        assert refresh.parallel_vals(lambda: 1, lambda: 2) == [1, 2]
    finally:
        tracer.uninstall()
    assert refresh.parallel_vals is attest.parallel_vals
    assert not hasattr(attest.parallel_vals, "__wrapped__")
    call = next(s for s in tracer.spans if s.name == "attest.parallel_vals")
    legs = [s for s in tracer.spans if s.name == "attest.leg"]
    assert len(legs) == 2
    assert all(s.parent == call.sid and s.query == "q#0" for s in legs)


def test_per_layer_names_match_the_benchmark_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def test_a_job_from_a_raw_thread_is_unattributed(spark):
    """Two-thread toy query: the caller's job carries the job group, the
    job a plain ``threading.Thread`` starts does not."""
    sc = spark.sparkContext
    ledger = JobLedger(sc)
    lo = ledger.next_job_id()
    sc.setJobGroup("toy#0", "toy")
    try:
        spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().collect()
        leg = threading.Thread(target=lambda: spark.range(10).collect())
        leg.start()
        leg.join(timeout=60)
        assert not leg.is_alive()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    hi = ledger.next_job_id()
    tot, intervals = ledger.read(lo, hi, "toy#0")
    assert tot["jobs"] == hi - lo >= 2
    assert tot["unattributed_jobs"] == 1
    assert len(intervals) == tot["jobs"]
    assert tot["tasks"] > 0 and tot["failed_tasks"] == 0


def test_space_amp_on_a_toy_lake(spark, tmp_path):
    """Two appends and an overwrite: the live version lists only the
    overwrite's files, so every earlier byte counts as amplification."""
    from cours_datalake_dwh_td_kafka_spark.lake import _read_manifest, current_version, lake_commit

    import stats

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1)
    lake_commit(df, path)
    lake_commit(df, path)
    live = _read_manifest(path, current_version(path))["files"]
    assert len(live) == 2
    live_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in live)
    amp = stats.space_amp(path, live)
    assert amp == pytest.approx(stats.tree_bytes(path) / live_bytes)
    assert amp > 1.0  # the manifests

    lake_commit(df, path, mode="overwrite")
    live = _read_manifest(path, current_version(path))["files"]
    assert len(live) == 1
    assert stats.space_amp(path, live) > 3.0  # three data files, one live
