"""One benchmark process: set the engine up, then run passes over the
workload's queries as a closed loop (one client, one query at a time).

Started by ``run.py`` with the launch settings already in its
environment; reads its job from the JSON file named on the command
line and writes everything it measured to the job's ``out`` file.
Passes, each in an order shuffled by the run's seed:

1. ``first``: every query once in the fresh session (the cold path:
   codegen, Python worker start, first sidecar reads), each result
   collected to the driver as a client would; after the pass, every
   result is compared with its DuckDB oracle digest;
2. ``warm``: ``WARM_PASSES`` discarded noop passes;
3. ``timed``: noop passes until both the measuring time and
   ``MIN_TIMED_PASSES`` are reached. A pass during which the host stole
   more than ``STEAL_LIMIT`` of the slots' time (``/proc/stat`` steal)
   is run once more, within ``MAX_RERUNS``, and the metrics count the
   least disturbed passes. A traced run times traced and untraced
   passes in pairs, so the tracing overhead is measured in one process.

The engine writes its relayout copies and sidecars to its default
location, named after the input directory; ``run.py`` links the input
under a run-unique name, so every run starts from empty artifact state,
and deletes ``artifact_dirs`` of that name when the run ends.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import procstat
import stats
from oracle import OracleCache, compare, digest
from tracing import Tracer, group_id

#: the engine's default artifact location
ARTIFACT_ROOT = "/dev/shm"
#: discarded noop passes between the first pass and the timed ones
WARM_PASSES = 1
#: the warm-up counts as steady when the first timed pass used at most
#: this share less CPU than the last warm pass
WARM_TOL = 0.1
#: timed passes the metrics need; a traced run needs this many of each kind
MIN_TIMED_PASSES = 2
#: passes run beyond the minimum to replace ones the host disturbed
MAX_RERUNS = 1
#: share of a pass's slot time the host may steal before the pass is
#: treated as disturbed
STEAL_LIMIT = 0.03


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def artifact_dirs(input_name: str) -> list[str]:
    """The engine's artifact directories for one input directory name.

    The engine writes every relayout copy and sidecar to ``/dev/shm`` as
    ``prs_<kind>_<input name>_<mtime>`` (some with a further suffix).
    The name is matched between underscores, so input ``pbin_x_12`` does
    not claim the artifacts of ``pbin_x_123``.
    """
    if not os.path.isdir(ARTIFACT_ROOT):
        return []
    key = f"_{input_name}_"
    return sorted(
        os.path.join(ARTIFACT_ROOT, n) for n in os.listdir(ARTIFACT_ROOT)
        if n.startswith("prs_") and key in n
    )


def _artifact_bytes(input_dir: str) -> int:
    return sum(_du(d) for d in artifact_dirs(os.path.basename(input_dir)))


class Worker:
    def __init__(self, job: dict):
        self.job = job
        self.sf = job["input_dir"]
        self.tracer = Tracer(job["trace"])
        self.rng = random.Random(job["seed"])
        self.exec_id = 0
        self.passes: list[dict] = []
        self.slots = len(os.sched_getaffinity(0))

    # -- set-up -----------------------------------------------------------

    def setup(self) -> dict:
        job, tr = self.job, self.tracer
        timings = {}
        with tr.span("setup"):
            t = time.time()
            with tr.span("session.start"):
                from pandas_reporter_spark import session

                self.spark = session.get_session("perfbench")
            timings["session.start_s"] = time.time() - t
            t = time.time()
            with tr.span("registry.load"):
                import __spark_entry__

                self.queries = __spark_entry__.queries()
                self.oracles = __spark_entry__.oracle_sql()
            timings["registry.load_s"] = time.time() - t
            timings["tables.relayout_s"] = 0.0
            if job["relayout"]:
                t = time.time()
                with tr.span("tables.relayout"):
                    from pandas_reporter_spark import tables

                    tables.relayout(self.spark, self.sf)
                timings["tables.relayout_s"] = time.time() - t
            timings["tables.relayout_bytes"] = _artifact_bytes(self.sf)
            from pandas_reporter_spark import ingest

            report = {}
            timings["ingest.total_s"] = 0.0
            if job["ingest"]:
                t = time.time()
                with tr.span("ingest.total"):
                    report = ingest.ingest(self.spark, self.sf)
                timings["ingest.total_s"] = time.time() - t
            timings["ingest.bytes"] = (
                _artifact_bytes(self.sf) - timings["tables.relayout_bytes"]
            )
        return {"ready": time.time(), "timings": timings, "ingest": report,
                "artifacts": list(ingest.MATERIALIZERS)}

    # -- passes -------------------------------------------------------------

    def _module(self, name: str) -> str:
        fn = self.queries.get(name)
        return fn.__module__.rsplit(".", 1)[-1] if fn else "unregistered"

    def _execute(self, name: str, sink: str, traced: bool) -> dict:
        self.exec_id += 1
        eid = self.exec_id
        sc = self.spark.sparkContext
        mod = self._module(name)
        rec = {"name": name, "module": mod, "exec": eid, "ok": False}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("query", eid):
                if traced:
                    sc.setJobGroup(group_id(eid, "build"), name)
                with self.tracer.span(f"{mod}.build", eid):
                    df = self.queries[name](self.spark, self.sf)
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(group_id(eid, "run"), name)
                with self.tracer.span(f"{mod}.run", eid):
                    if sink == "noop":
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        rec["result"] = (df.columns, [tuple(r) for r in df.collect()])
            t2 = time.perf_counter()
            rec.update(ok=True, build_s=t1 - t0, run_s=t2 - t1, wall_s=t2 - t0)
        except Exception as e:  # one failing query must not end the run
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            rec["wall_s"] = time.perf_counter() - t0
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return rec

    def run_pass(self, kind: str, sink: str = "noop", traced: bool = False) -> dict:
        """One pass over every query. ``traced`` records spans and sets a
        job group per call, so the event log attributes Spark's work."""
        self.tracer.enabled = traced
        order = list(self.job["queries"])
        self.rng.shuffle(order)
        pid = os.getpid()
        with self.tracer.span(f"pass.{kind}"):
            cpu0, steal0, t0 = procstat.tree_cpu_s(pid), procstat.steal_s(), time.perf_counter()
            recs = [self._execute(q, sink, traced) for q in order]
            wall = time.perf_counter() - t0
            cpu = procstat.tree_cpu_s(pid) - cpu0
            steal = procstat.steal_s() - steal0
        for r in recs:  # digests are bookkeeping, kept out of the timing
            if "result" in r:
                r["digest"] = digest(*r.pop("result"))
        p = {"kind": kind, "traced": traced, "wall_s": wall, "cpu_s": cpu,
             "steal_s": steal, "counted": False, "records": recs}
        self.passes.append(p)
        return p

    def run_passes(self) -> dict:
        job = self.job
        first = self.run_pass("first", sink="collect")
        warm = first
        for _ in range(WARM_PASSES):
            warm = self.run_pass("warm")
        # a traced run times traced and untraced passes in pairs
        paired = job["trace"]
        need = 2 * MIN_TIMED_PASSES if paired else MIN_TIMED_PASSES
        timed = []
        t_start = time.perf_counter()
        while True:
            p = self.run_pass("timed", traced=paired and stats.traced_turn(len(timed)))
            timed.append(p)
            clean = sum(stats.steal_share(q, self.slots) <= STEAL_LIMIT for q in timed)
            done = (
                time.perf_counter() - t_start >= job["seconds"]
                and (clean >= need or len(timed) >= need + MAX_RERUNS)
                and not (paired and len(timed) % 2)
            )
            # stop early rather than overrun the run's time limit
            if done or time.time() + p["wall_s"] > job["deadline"]:
                break
        for p in stats.counted_passes(timed, need, STEAL_LIMIT, self.slots):
            p["counted"] = True
        steady = timed[0]["cpu_s"] >= (1.0 - WARM_TOL) * warm["cpu_s"]
        return {"first_pass_s": first["wall_s"], "steady": steady,
                "check": self.check(first)}

    def check(self, check_pass: dict) -> dict:
        job = self.job
        cache = OracleCache(job["oracle_cache"], job["source_dir"], job["input_tag"])
        out = {}
        try:
            for rec in check_pass["records"]:
                name = rec["name"]
                if not rec["ok"]:
                    out[name] = rec["error"]
                elif name not in self.oracles:
                    out[name] = "no oracle SQL to check against"
                else:
                    out[name] = compare(rec["digest"], cache.get(name, self.oracles[name]))
        finally:
            cache.close()
        return out


def main(job_path: str) -> None:
    with open(job_path) as f:
        job = json.load(f)
    w = Worker(job)
    result = {"setup": w.setup()}
    result.update(w.run_passes())
    result["passes"] = w.passes
    java = [p for p in procstat.tree(os.getpid()) if procstat.comm(p) == "java"]
    result["jvm_peak_rss_mb"] = procstat.peak_rss_mb(java[0]) if java else 0.0
    w.spark.stop()
    result["spans"] = w.tracer.spans
    tmp = job["out"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, job["out"])


if __name__ == "__main__":
    main(sys.argv[1])
