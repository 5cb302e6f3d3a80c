"""Expected outputs of the stream and query keys, from the DuckDB oracle.

For each key the oracle SQL (``engine.registry.ORACLE_SQL``) is run once
per fixture; its row count, column names and an order-insensitive hash of
the canonical rows are cached in ``<fixture>/_expected.json``. A Spark
result matches when all three agree. Canonicalization is the test suite's
(``tests.oracle._canon``), which is type-strict: 1 and 1.0 differ.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from tests.oracle import _canon, duck_run_df


def digest(pdf) -> dict:
    rows = _canon(pdf)
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return {"rows": len(rows), "columns": sorted(pdf.columns), "hash": h.hexdigest()}


class Expected:
    def __init__(self, fixture_dir: str):
        self.dir = fixture_dir
        self.path = os.path.join(fixture_dir, "_expected.json")
        self.cache: dict = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.cache = json.load(fh)

    def ensure(self, keys, oracle_sql: dict) -> float:
        """Compute missing expectations; return the seconds it took."""
        t0 = time.perf_counter()
        missing = [k for k in keys if k not in self.cache]
        for k in missing:
            self.cache[k] = digest(duck_run_df(self.dir, oracle_sql[k]))
        if missing:
            tmp = self.path + f".tmp{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return time.perf_counter() - t0

    def mismatch(self, key: str, spark_df) -> str | None:
        """None when ``spark_df`` matches the oracle, else what differs."""
        got, want = digest(spark_df.toPandas()), self.cache[key]
        for field in ("columns", "rows", "hash"):
            if got[field] != want[field]:
                return f"{field}: got {got[field]!r}, want {want[field]!r}"
        return None
