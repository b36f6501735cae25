"""Record the digest (row count and order-insensitive value hash) of every
batch row the workloads run, from the current engine, into
``expected.json``. Each row runs twice, in separate passes; a row whose
two digests differ is reported and left out.

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import shutil
import sys

import run as bench


def main() -> int:
    work = bench._work_dir("record", 0)
    sys.path.insert(0, bench.ROOT)
    from cours_datalake_dwh_td_kafka_spark import registry
    from cours_datalake_dwh_td_kafka_spark.session import get_spark

    from checks import EXPECTED, Checker
    from workloads import BATCH, TRACE_ONLY

    spark = get_spark(app_name="perfbench-record", extra_conf=bench._session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    checker = Checker(bench.ROOT, bench.DATA)
    qs = registry.queries()
    names = list(BATCH + TRACE_ONLY)
    digests: dict[str, list] = {n: [] for n in names}
    try:
        for _ in range(2):
            for n in names:
                digests[n].append(checker.digest(qs[n](spark, bench.DATA).toPandas()))
    finally:
        bench._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    stable = {n: d[0] for n, d in digests.items() if d[0] == d[1]}
    for n, d in digests.items():
        if d[0] != d[1]:
            print(f"unstable: {n} {d}", file=sys.stderr)
    with open(EXPECTED, "w") as f:
        json.dump(stable, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0 if len(stable) == len(digests) else 1


if __name__ == "__main__":
    sys.exit(main())
