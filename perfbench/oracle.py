"""Output check: a query's Spark result against its DuckDB oracle.

Both sides are reduced to a digest: row count, sorted column names, and
a SHA-256 of the rows rendered order-insensitively (columns sorted by
name, rows sorted, values normalized as the engine's own local verifier
renders them). Oracle digests are slow to compute for the dedup family,
so they are cached on disk, keyed by query name, oracle SQL and input
fingerprint: a changed query or input recomputes, nothing else does.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from datagen import TABLES


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(cols: list[str], rows: list[tuple]) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(rows), "cols": sorted(cols), "hash": h}


def compare(got: dict, want: dict) -> str | None:
    """``None`` when the digests agree, else what differs."""
    if got["rows"] != want["rows"]:
        return f"row count {got['rows']} vs oracle {want['rows']}"
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} vs oracle {want['cols']}"
    if got["hash"] != want["hash"]:
        return "value hash differs from oracle"
    return None


class OracleCache:
    """DuckDB oracle digests for one input, memoized on disk."""

    def __init__(self, cache_dir: str, input_dir: str, input_tag: str):
        self.cache_dir = cache_dir
        self.input_dir = input_dir
        self.input_tag = input_tag
        self._con = None

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256(
            f"{name}\x00{sql}\x00{self.input_tag}".encode()
        ).hexdigest()[:32]
        return os.path.join(self.cache_dir, f"{name}-{key}.json")

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.input_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return con

    def get(self, name: str, sql: str) -> dict:
        path = self._path(name, sql)
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            pass
        if self._con is None:
            self._con = self._connect()
        res = self._con.execute(sql)
        want = digest([d[0] for d in res.description], res.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, path)
        return want

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
