"""Correctness check against the repository's own oracles.

Each query's Spark result is compared with the DuckDB oracle from
``__spark_entry__.oracle_sql()`` (or, for the queries it names, the exact
Python oracle in ``tools/drive_at_sf.py``) by that tool's order-insensitive
``digest``: same sorted column names, same row count, same canonical rows.

The oracle runs over the benchmark's unpermuted base tables and its result
is cached on disk, keyed by the base data and the oracle's text. Spark runs
over the seeded permutation, so a query whose answer depends on input row
order fails the check.

``main`` is the entry of the child process the benchmark runs the check
in, so that DuckDB and the oracle's frames never enter the measured
driver process.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import pickle
import sys

import duckdb


def _file_md5(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


class Oracle:
    def __init__(self, base_dir: str, cache_dir: str) -> None:
        from tools import drive_at_sf

        import __spark_entry__

        self._tool = drive_at_sf
        self._sql = __spark_entry__.oracle_sql()
        self.base_dir = base_dir
        self.cache_dir = cache_dir
        self._data_key = hashlib.md5(
            "".join(
                _file_md5(os.path.join(base_dir, f"{t}.parquet"))
                for t in drive_at_sf.TABLES
            ).encode()
        ).hexdigest()

    def _connect(self):
        con = duckdb.connect()
        for t in self._tool.TABLES:
            path = os.path.join(self.base_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def expected(self, name: str):
        """The oracle's result for ``name`` as a pandas frame (cached)."""
        special = self._tool.SPECIAL_ORACLES.get(name)
        text = inspect.getsource(special) if special else self._sql[name]
        key = hashlib.md5((self._data_key + name + text).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = self._connect()
        try:
            if special:
                frame = special(con)
            else:
                frame = con.execute(self._sql[name]).fetch_arrow_table().to_pandas()
        finally:
            con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(frame, f)
        os.replace(tmp, path)
        return frame

    def mismatch(self, name: str, got) -> str | None:
        """None when ``got`` (a pandas frame) matches the oracle, else why."""
        want = self.expected(name)
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        if self._tool.digest(got) != self._tool.digest(want):
            return "values differ"
        return None


def main() -> None:
    """Check pickled results against their oracles. Arguments: the base
    tables' directory, the oracle cache directory and the pickle, a dict
    of query name to pandas frame. Prints one JSON object of query name to
    mismatch (None when the result matches)."""
    base_dir, cache_dir, results_path = sys.argv[1:]
    with open(results_path, "rb") as f:
        results = pickle.load(f)
    oracle = Oracle(base_dir, cache_dir)
    verdicts = {}
    for name, got in results.items():
        try:
            verdicts[name] = oracle.mismatch(name, got)
        except Exception as e:  # noqa: BLE001 — counted as a mismatch
            verdicts[name] = f"{type(e).__name__}: {e}"[:300]
    print(json.dumps(verdicts))
