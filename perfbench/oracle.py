"""Correctness checks.

Query results are judged by the repository's own DuckDB gate,
tools/check_oracle.py: the harness writes each cold result to parquet as
graft.Verify does, with oracle_sql.json beside them, and check_oracle
compares them with DuckDB's answers to `SparkEntry.oracleSql` (columns by
name, rows sorted, values exact). The only addition here is a cache: DuckDB
answers are computed once per input and kept under the input's content hash
and the SQL's hash.
"""
import contextlib
import hashlib
import io
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
import check_oracle  # noqa: E402

TABLES = check_oracle.TABLES


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


class CachedDuckDB:
    """Stands in for the duckdb module inside check_oracle: `connect()`
    returns a connection whose query answers come from the cache, and DuckDB
    runs only on a miss. View definitions are replayed on a real
    connection then."""

    def __init__(self, cache: Path, threads: int):
        self.cache, self.threads = cache, threads
        self.views, self.answer = [], None

    def connect(self):
        return self

    def execute(self, sql: str):
        if sql.startswith("CREATE VIEW"):
            self.views.append(sql)
            return self
        f = self.cache / f"{_sha(sql)[:24]}.pkl"
        if not f.exists():
            import duckdb
            con = duckdb.connect()
            try:
                con.execute(f"SET threads TO {self.threads}")
                for v in self.views:
                    con.execute(v)
                df = con.execute(sql).fetchdf()
            finally:
                con.close()
            f.parent.mkdir(parents=True, exist_ok=True)
            tmp = f.with_name(f.name + ".tmp")
            df.to_pickle(tmp)
            tmp.replace(f)
        self.answer = pd.read_pickle(f)
        return self

    def fetchdf(self):
        return self.answer


def check_queries(data_dir: Path, out_dir: Path, cache_root: Path, names, threads: int):
    """Failure message per query name that check_oracle failed; the rest
    passed. `out_dir` holds <name>/*.parquet and oracle_sql.json."""
    data_hash = (data_dir / "DATA_HASH").read_text().strip()
    real = check_oracle.duckdb
    check_oracle.duckdb = CachedDuckDB(cache_root / data_hash, threads)
    log = io.StringIO()
    try:
        with contextlib.redirect_stdout(log):
            check_oracle.main(str(data_dir), str(out_dir), list(names))
    finally:
        check_oracle.duckdb = real
    fails = {}
    for line in log.getvalue().splitlines():
        if line.startswith("FAIL "):
            name, _, msg = line[5:].partition(": ")
            fails[name] = msg
    return fails


def compare_text(out_dir: Path, want: bytes) -> str:
    """Compare the part files of a text output directory, concatenated in
    name order, with the expected bytes."""
    parts = sorted(p for p in out_dir.glob("part-*") if p.is_file())
    if not parts:
        return "no output files"
    got = b"".join(p.read_bytes() for p in parts)
    if got == want:
        return ""
    n = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
    line = got[:n].count(b"\n") + 1
    return f"differs from expected at byte {n} (line {line}); {len(got)} vs {len(want)} bytes"
