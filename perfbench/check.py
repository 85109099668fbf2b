"""Output checks of the benchmark: registry query results against their
DuckDB oracles (`SparkEntry.oracleSql`), compared by row count, column
names and the canonical value hash of the project's correctness tool
`tools/check.py` (loaded from there, so the two cannot drift apart).

An oracle's summary depends only on its SQL and the input tables, so it
is computed once per checkout and kept in a cache file under the build
directory: the slow oracles (the connected-components dedup verdict, PQ
recall) then cost a run nothing after the first.
"""
import hashlib
import importlib.util
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))


def _project_check():
    path = os.path.join(os.path.dirname(HERE), "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_tools_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_tools = _project_check()
canon = _tools.canon
TABLES = _tools.TABLES


def data_digest(data_dir):
    """Hash of the names and bytes of the tables in `data_dir`."""
    h = hashlib.sha256()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            h.update(t.encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Checker:
    def __init__(self, data_dir, tmp_dir, cache_path):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.con.execute("SET threads=4")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.digest = data_digest(data_dir)
        self.cache_path = cache_path
        self.cache = {}
        if os.path.exists(cache_path):
            with open(cache_path) as fh:
                self.cache = json.load(fh)

    def _summary(self, df):
        return [len(df), sorted(df.columns), canon(df)]

    def oracle(self, sql):
        """The oracle's [rows, columns, hash], or a one-line reason it
        failed (failures are not cached)."""
        key = hashlib.sha256(f"{self.digest}\0{sql}".encode()).hexdigest()
        if key not in self.cache:
            try:
                summary = self._summary(self.con.execute(sql).df())
            except Exception as e:  # an oracle that cannot run fails its ops
                return f"oracle failed: {e}"
            self.cache[key] = summary
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.cache_path)
        return self.cache[key]

    def compare(self, sql, result_dir):
        """None when the parquet result at `result_dir` matches the oracle,
        else a one-line reason."""
        want = self.oracle(sql)
        if isinstance(want, str):
            return want
        try:
            got = self._summary(self.con.execute(
                f"SELECT * FROM '{result_dir}/*.parquet'").df())
        except Exception as e:
            return f"result unreadable: {e}"
        if got[0] != want[0]:
            return f"rows {got[0]} vs oracle {want[0]}"
        if got[1] != want[1]:
            return f"columns {got[1]} vs oracle {want[1]}"
        if got[2] != want[2]:
            return "value hash differs from oracle"
        return None
