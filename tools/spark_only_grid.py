"""Spark-only decade rows for queries whose ORACLE cannot run at the
target scale (e.g. a brute-force pair oracle that is O(n²) by design,
kept deliberately independent of the engine's banded plan for the
sf0.01 correctness gate). Merges {query: {label: {spark, rows}}} rows
into an existing newops-grid JSON under the same keys, with duck: null
so the provenance is explicit.

Usage: python tools/spark_only_grid.py out.json q1,q2 label=dir [...]
Env: SPARK_GRAFT_AB_REPS (default 2).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    out_path = sys.argv[1]
    names = [q.strip() for q in sys.argv[2].split(",") if q.strip()]
    sf_dirs = dict(a.split("=", 1) for a in sys.argv[3:])
    reps = int(os.environ.get("SPARK_GRAFT_AB_REPS", "2"))

    from pandas_reporter_spark.registry import QUERIES, load_all
    from pandas_reporter_spark.session import get_session

    load_all()
    spark = get_session("spark_only_grid")

    try:
        with open(out_path) as f:
            res = json.load(f)
    except Exception:
        res = {"reps": reps, "grid": {}}

    for label, sf_dir in sf_dirs.items():
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
            rows = QUERIES[name](spark, sf_dir).count()
            cell = {"spark": round(best, 3), "rows": rows, "duck": None}
            res["grid"].setdefault(name, {})[label] = cell
            print(name, label, json.dumps(cell), flush=True)

    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
