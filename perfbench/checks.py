"""Output checks. Every timed execution is compared with the row count and
order-insensitive value hash recorded from the seed commit
(``expected.json``); once per run the workload's oracled rows are compared
with DuckDB. Both use the normalisation of ``tests/conftest.py`` so the
benchmark and the test suite agree on what "equal" means."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import types

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def _conftest(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(root, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    def __init__(self, root: str, data_dir: str) -> None:
        self._conftest = _conftest(root)
        self._data_dir = data_dir
        self.expected: dict[str, dict] = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                self.expected = json.load(f)

    def digest(self, pdf: pd.DataFrame) -> dict:
        """Row count and order-insensitive value hash of one result."""
        norm = self._conftest._normalize(pdf)
        blob = norm.to_csv(index=False).encode()
        return {"rows": len(pdf), "hash": hashlib.sha256(blob).hexdigest()[:16]}

    def check(self, name: str, pdf: pd.DataFrame) -> str | None:
        """None when ``pdf`` reproduces the recorded digest, else why not."""
        want = self.expected.get(name)
        if want is None:
            return f"{name}: no recorded digest"
        got = self.digest(pdf)
        if got != want:
            return f"{name}: got {got}, recorded {want}"
        return None

    def oracle(self, outputs: dict[str, pd.DataFrame], oracle_sql: dict[str, str]) -> dict[str, str | None]:
        """Compare each collected output that has an oracle with DuckDB
        over the same lake files; name -> None or the mismatch."""
        import duckdb

        con = duckdb.connect()
        try:
            self._conftest.register_duck_views(con, self._data_dir)
            verdicts: dict[str, str | None] = {}
            for name, pdf in outputs.items():
                if name not in oracle_sql:
                    continue
                duck = con.execute(oracle_sql[name]).df()
                shim = types.SimpleNamespace(toPandas=lambda pdf=pdf: pdf)
                try:
                    self._conftest.assert_matches_oracle(shim, duck, name)
                    verdicts[name] = None
                except AssertionError as e:
                    verdicts[name] = str(e)[:500]
            return verdicts
        finally:
            con.close()
