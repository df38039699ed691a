"""Three-decade Spark-vs-DuckDB grid for a round's NEW operators —
the SCALE_R{N}_NEWOPS.json generator (r11 produced the DSIR/shard
rows ad-hoc; this makes the methodology a committed tool).

Per (query, sf): Spark min-of-reps to a noop sink with the cache
cleared per rep; DuckDB runs the registered oracle on a fresh
connection, warm once then min-of-reps (reps=1 at labels past the
first when SPARK_GRAFT_NEWOPS_DUCK1=1, for interpreter-bound oracles
at the top decade).

Usage: python tools/newops_grid.py out.json q1,q2 label=dir [...]
Env: SPARK_GRAFT_AB_REPS (default 2).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _duck_con(sf_dir: str):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        glob = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')"
        )
    return con


def main():
    out_path = sys.argv[1]
    names = [q.strip() for q in sys.argv[2].split(",") if q.strip()]
    sf_dirs = dict(a.split("=", 1) for a in sys.argv[3:])
    reps = int(os.environ.get("SPARK_GRAFT_AB_REPS", "2"))
    duck1_hi = os.environ.get("SPARK_GRAFT_NEWOPS_DUCK1") == "1"

    from pandas_reporter_spark.registry import ORACLES, QUERIES, load_all
    from pandas_reporter_spark.session import get_session

    load_all()
    unknown = set(names) - set(QUERIES)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
    spark = get_session("newops_grid")

    res = {"reps": reps, "grid": {}}
    first = next(iter(sf_dirs))
    for label, sf_dir in sf_dirs.items():
        row = {}
        for name in names:
            def run():
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()

            run()
            best = 9e9
            for _ in range(reps):
                spark.catalog.clearCache()
                t0 = time.time()
                run()
                best = min(best, time.time() - t0)
            cell = {"spark": round(best, 3)}
            if name in ORACLES:
                con = _duck_con(sf_dir)
                sql = ORACLES[name]
                dreps = 1 if (duck1_hi and label != first) else reps
                con.execute(sql).fetchall()
                bestd = 9e9
                for _ in range(dreps):
                    t0 = time.time()
                    con.execute(sql).fetchall()
                    bestd = min(bestd, time.time() - t0)
                con.close()
                cell["duck"] = round(bestd, 3)
            row[name] = cell
            print(label, name, json.dumps(cell), flush=True)
        res["grid"][label] = row

    with open(out_path, "w") as f:
        json.dump(res, f, indent=2)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
