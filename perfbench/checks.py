"""Output checks against the DuckDB oracles, outside any timed region.

Results are compared in ``tests/oracle.py``'s canonical form: columns
sorted by name, rows sorted, floats compared bit-exactly. Oracle
results are cached on disk, keyed by query, oracle SQL and a checksum
of the input files, because the slowest oracles take seconds each.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path


def files_digest(data_dir: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(data_dir.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


class OracleCache:
    def __init__(self, cache_dir: Path, data_dir: Path) -> None:
        self.cache_dir = cache_dir
        self.data_dir = data_dir
        self.digest = files_digest(data_dir)

    def expected(self, name: str, sql: str) -> tuple[list[str], list[list[str]]]:
        from tests.oracle import canonicalize, run_oracle

        key = hashlib.sha256(f"{name}\0{sql}\0{self.digest}".encode()).hexdigest()[:24]
        path = self.cache_dir / f"{name}-{key}.json"
        if path.exists():
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, rows
        cols, rows = canonicalize(run_oracle(sql, str(self.data_dir)))
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        with open(tmp, "w") as f:
            json.dump([cols, rows], f)
        os.replace(tmp, path)
        return cols, [list(r) for r in rows]

    def matches(self, name: str, sql: str | None, spark_pdf) -> bool:
        """True when ``spark_pdf`` equals the oracle's result; a query
        without an oracle fails, since every benchmarked query has one."""
        from tests.oracle import canonicalize

        if sql is None:
            return False
        cols, rows = canonicalize(spark_pdf)
        want_cols, want_rows = self.expected(name, sql)
        return [c.lower() for c in cols] == [c.lower() for c in want_cols] and [
            list(r) for r in rows
        ] == want_rows
