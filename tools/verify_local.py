"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given SF and
compares against ``oracle_sql()`` via DuckDB: row count, column names,
and an order-insensitive value hash (rows sorted, columns sorted by
name, values stringified with repr-ish normalization). Not the
driver's exact hash — but any mismatch here is a real mismatch there.

With ``--prepared`` the queries run in the bench's steady state
(``bench.prepare_session``): they read the relayout copies, whose scan
order differs from the snapshot's, and the ingest sidecars.

Usage: python tools/verify_local.py [--prepared] [sf_dir] [query ...]
"""

from __future__ import annotations

import atexit
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from pandas_reporter_spark.tables import TABLES


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    return "\n".join(lines)


def _prepared(spark, sf: str) -> str:
    """A private copy of snapshot `sf`, brought to the bench's steady
    state by `bench.prepare_session`. Its artifacts are all built
    fresh: they are named after the copy, so none an earlier build left
    for `sf` is reused. The copy and its artifacts are removed at
    exit."""
    import bench
    from pandas_reporter_spark import artifacts

    run_sf = tempfile.mkdtemp(prefix="verify_sf_")
    shutil.copytree(sf, run_sf, dirs_exist_ok=True)

    def remove():
        for name in artifacts.DECLARED:
            shutil.rmtree(artifacts.path(spark, run_sf, name), ignore_errors=True)
        shutil.rmtree(run_sf, ignore_errors=True)

    atexit.register(remove)
    bench.prepare_session(spark, run_sf, [])
    return run_sf


def main():
    args = [a for a in sys.argv[1:] if a != "--prepared"]
    prepared = len(args) < len(sys.argv) - 1
    sf = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(args)

    import __spark_entry__ as e
    from pandas_reporter_spark.session import get_session

    qs, oracles = e.queries(), e.oracle_sql()
    spark = get_session("verify_local")
    # the queries read `run_sf`, the oracle reads `sf`: the same rows
    run_sf = _prepared(spark, sf) if prepared else sf

    con = duckdb.connect()
    for t in TABLES:
        # driver testdata tables are single files; the make_sfn
        # synthetic trees are multi-file directories — glob those
        p = f"{sf}/{t}.parquet"
        glob = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')"
        )

    results = {}
    n_pass = n_rows_only = n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, run_sf)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            results[name] = {"status": "SPARK_ERR", "err": str(ex)[:300]}
            n_fail += 1
            print(f"{name}: SPARK_ERR {str(ex)[:200]}")
            continue
        if name not in oracles:
            results[name] = {"status": "rows_only", "rows": len(rows)}
            n_rows_only += 1
            print(f"{name}: rows-only ({len(rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            results[name] = {"status": "ORACLE_ERR", "err": str(ex)[:300]}
            n_fail += 1
            print(f"{name}: ORACLE_ERR {str(ex)[:200]}")
            continue
        status = []
        if len(rows) != len(orows):
            status.append(f"rowcount {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            status.append(f"schema {sorted(cols)} vs {sorted(ocols)}")
        if not status and frame_key(cols, rows) != frame_key(ocols, orows):
            status.append("value-hash mismatch")
            # show first differing line for debugging
            a = frame_key(cols, rows).split("\n")
            b = frame_key(ocols, orows).split("\n")
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"  first diff @ sorted row {i}:\n   spark {x!r}\n   duck  {y!r}")
                    break
        if status:
            results[name] = {"status": "FAIL", "why": "; ".join(status)}
            n_fail += 1
            print(f"{name}: FAIL ({'; '.join(status)})")
        else:
            results[name] = {"status": "pass", "rows": len(rows)}
            n_pass += 1
            print(f"{name}: pass ({len(rows)} rows, {time.time()-t0:.1f}s)")

    print(
        f"\n== {n_pass} pass, {n_rows_only} rows-only, {n_fail} fail "
        f"of {len(results)} at {sf}{' (prepared)' if prepared else ''}"
    )
    with open("/tmp/verify_local.json", "w") as f:
        json.dump(results, f, indent=1)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
