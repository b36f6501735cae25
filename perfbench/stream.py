"""The ``stream_ingest`` workload: a seeded backlog of Kafka-shaped weather
records drained by two Structured Streaming queries, one after the other.

- ``ingest``: ``parse_kafka_json`` -> ``enrich_alerts`` ->
  ``commit_stream_to_lake`` (one OCC lake commit per trigger, with
  ``event_time`` stats).
- ``window``: the reference's 5 min / 1 min ``sliding_window_agg`` with a
  10 min watermark, in update mode, into a driver-side table keyed by
  window and city.

Both read the backlog with ``maxFilesPerTrigger=1`` and ``availableNow``,
so every file is one trigger. Each pass drains into a fresh lake table
and fresh checkpoints, so every pass makes the same number of commits
and ``space_amp`` does not grow with the run length.
"""

from __future__ import annotations

import json
import os
import random
import time

from pyspark.sql import SparkSession

from cours_datalake_dwh_td_kafka_spark.lake import _read_manifest, current_version, lake_read
from cours_datalake_dwh_td_kafka_spark.operators.attest import multiset_eq
from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
    WEATHER_SCHEMA,
    commit_stream_to_lake,
    enrich_alerts,
    parse_kafka_json,
    sliding_window_agg,
)

import stats

#: (city, country) pairs of the generated producer.
CITIES = (
    ("Paris", "France"), ("Lyon", "France"), ("Berlin", "Germany"),
    ("Hamburg", "Germany"), ("Madrid", "Spain"), ("Rome", "Italy"),
    ("Oslo", "Norway"), ("Dakar", "Senegal"),
)
#: Event-time origin of the generated stream (2023-11-14 22:13:20 UTC).
BASE_TS = 1_700_000_000.0
#: A drain that outlives this is stopped and counted as a failure.
DRAIN_TIMEOUT_S = 60


def generate_backlog(dirpath: str, seed: int, files: int, rows_per_file: int) -> int:
    """Write ``files`` JSON-lines files of weather records, one Kafka
    message value per line, with the producer's fields. Event time is
    stamped at generation from a seeded clock that only moves forward
    (2-8 s per record), so no record falls behind the watermark. Files
    get strictly increasing mtimes: the file source orders by them.
    Returns the number of records written."""
    rng = random.Random(seed)
    os.makedirs(dirpath, exist_ok=True)
    ts = BASE_TS
    for i in range(files):
        path = os.path.join(dirpath, f"part-{i:04d}.json")
        with open(path, "w") as f:
            for _ in range(rows_per_file):
                ts += rng.uniform(2.0, 8.0)
                city, country = CITIES[rng.randrange(len(CITIES))]
                rec = {
                    "city": city,
                    "country": country,
                    "temperature": round(rng.gauss(22.0, 8.0), 2),
                    "windspeed": round(abs(rng.gauss(12.0, 6.0)), 2),
                    "timestamp": round(ts, 3),
                }
                f.write(json.dumps(rec) + "\n")
        mtime = 1_000_000 + i * 60
        os.utime(path, (mtime, mtime))
    return files * rows_per_file


def _source(spark: SparkSession, backlog: str):
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(backlog)
    )
    return enrich_alerts(parse_kafka_json(raw, WEATHER_SCHEMA))


def _batch_twin(spark: SparkSession, backlog: str):
    return enrich_alerts(parse_kafka_json(spark.read.text(backlog), WEATHER_SCHEMA))


class StreamDrain:
    """One drain of the backlog through both queries."""

    def __init__(self, spark: SparkSession, backlog: str, out_dir: str, progress) -> None:
        self.spark = spark
        self.backlog = backlog
        self.lake = os.path.join(out_dir, "lake")
        self.out_dir = out_dir
        self.progress = progress
        self.window_rows: dict[tuple, object] = {}

    def _drain(self, build) -> tuple[float, float, list[dict]]:
        """Build the query, run it to the end of the backlog; returns the
        seconds of both steps and the progress of every trigger."""
        t0 = time.perf_counter()
        writer = build()
        t1 = time.perf_counter()
        q = writer.start()
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"drain still running after {DRAIN_TIMEOUT_S} s")
        secs = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        last = q.lastProgress["batchId"]
        return secs, t1 - t0, self.progress.wait_for(str(q.runId), last)

    def ingest(self) -> tuple[float, float, list[dict]]:
        return self._drain(lambda: commit_stream_to_lake(
            _source(self.spark, self.backlog),
            self.lake,
            os.path.join(self.out_dir, "ck_ingest"),
            stats_cols=("event_time",),
        ))

    def window(self) -> tuple[float, float, list[dict]]:
        rows = self.window_rows

        def upsert(batch_df, _batch_id) -> None:
            for r in batch_df.collect():
                rows[(r.window_start, r.window_end, r.city, r.country)] = r

        return self._drain(lambda: (
            sliding_window_agg(_source(self.spark, self.backlog))
            .writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", os.path.join(self.out_dir, "ck_window"))
            .trigger(availableNow=True)
        ))

    def check_ingest(self) -> str | None:
        twin = _batch_twin(self.spark, self.backlog)
        got = lake_read(self.spark, self.lake).select(*twin.columns)
        return None if multiset_eq(got, twin) else "ingest: lake != batch twin"

    def check_window(self) -> str | None:
        twin = sliding_window_agg(_batch_twin(self.spark, self.backlog))
        got = self.spark.createDataFrame(list(self.window_rows.values()), twin.schema)
        return None if multiset_eq(got, twin) else "window: table != batch twin"

    def lake_layout(self) -> dict[str, float]:
        """Versions, manifest and data bytes, and space amplification of
        the ingest table after the drain."""
        version = current_version(self.lake)
        live = _read_manifest(self.lake, version)["files"]
        return {
            "versions": version,
            "manifest_bytes": stats.tree_bytes(os.path.join(self.lake, "_manifests")),
            "data_bytes": stats.tree_bytes(os.path.join(self.lake, "data")),
            "space_amp": stats.space_amp(self.lake, live),
        }
