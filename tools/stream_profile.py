"""Per-phase breakdown of the streaming bench rows.

Runs each streaming query N times after `bench.prepare_session` and
reports, per run: wall seconds, and the engine's own
durationMs phases from StreamingQueryProgress (addBatch, getBatch,
latestOffset, queryPlanning, walCommit, commitOffsets, triggerExecution)
summed over the run's micro-batches — the measurement VERDICT r15 item 3
asks for before touching the micro-batch floor.

Usage: python tools/stream_profile.py [-n reps] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

STREAMING = [
    "q_stream_quality_gate",
    "q_stream_stream_join",
    "q_events_stateful",
    "q_stream_file_sink",
    "q_stream_sample_weighted",
    "q_stream_enrich",
]


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    names = args or STREAMING

    import __spark_entry__ as e
    import bench
    from pandas_reporter_spark.operators import events
    from pandas_reporter_spark.session import get_session

    qs = e.queries()
    spark = get_session("stream_profile")
    bench.prepare_session(spark, SF_DIR, [qs[n] for n in names])

    out: dict[str, list] = {}
    for name in names:
        runs = []
        for _ in range(reps):
            t0 = time.time()
            bench.run(qs[name](spark, SF_DIR))
            wall = round(time.time() - t0, 3)
            phases: dict[str, float] = {"n_batches": 0}
            for p in events.LAST_PROGRESS:
                phases["n_batches"] += 1
                for k, v in (p.get("durationMs") or {}).items():
                    phases[k] = phases.get(k, 0) + v / 1000.0
            phases = {k: round(v, 3) for k, v in phases.items()}
            runs.append({"wall": wall, **phases})
        out[name] = runs
        print(name, json.dumps(runs), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
