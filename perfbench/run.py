"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload census_moe --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the engine. The run

- makes the inputs (``datagen.py``) once per checkout, cached under
  ``perfbench/.cache`` and verified before use;
- starts one benchmark process (``worker.py``) with the launch settings
  pinned in ``perfbench/settings.json``, in a run directory under
  ``perfbench/.work`` that holds its Spark local dir, temp dir and
  working directory, over the inputs linked under a run-unique name, so
  the engine's artifacts for them start empty;
- stops every process it started, and deletes the run directory and the
  engine's ``/dev/shm`` artifacts named after the run's input;
- prints a report on stderr and, as the last line of stdout, one JSON
  object with the run's metrics: the ``end_to_end`` metrics of
  ``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
  ``--trace 1``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import datagen  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402
import worker  # noqa: E402
from tracing import (  # noqa: E402
    empty_counts, read_event_log, render_report, self_time_by_name,
)

#: engine modules whose queries the workloads run, in report order
MODULES = ("census_queries", "relational", "queries", "dedup", "multimodal",
           "text", "similarity", "graph")
#: scale factor of the generated inputs, and the generator's seed (the
#: run's ``--seed`` orders the queries; the inputs stay the same)
INPUT_SF = 0.01
INPUT_GEN_SEED = 20261017
#: wall-clock limit of one run, inside the 180 s a run may take
RUN_LIMIT_S = 170.0
#: the worker starts no pass it expects to end later than this before
#: the limit, leaving time for the check and for stopping Spark
FINISH_MARGIN_S = 15.0


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- inputs -------------------------------------------------------------------

def _source_tag(sf: float, seed: int) -> str:
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        src = hashlib.sha256(f.read()).hexdigest()[:12]
    return f"sf{sf:g}-g{seed}-{src}"


def ensure_inputs(sf: float, seed: int) -> tuple[str, str]:
    """The cached input directory for ``(sf, seed)`` and its tag, written
    if missing or incomplete. A cache counts only with its ``_DONE``
    marker and the row counts it records matching the parquet footers."""
    import pyarrow.parquet as pq

    tag = _source_tag(sf, seed)
    out = os.path.join(HERE, ".cache", "inputs", tag)
    done = os.path.join(out, "_DONE")
    try:
        with open(done) as f:
            counts = json.load(f)
        if counts == datagen.row_counts(sf) and all(
            pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows == n
            for t, n in counts.items()
        ):
            return out, tag
    except (OSError, ValueError):
        pass
    print(f"perfbench: writing inputs {tag}", file=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    counts = datagen.write(out, sf, seed)
    with open(done, "w") as f:
        json.dump(counts, f)
    return out, tag


def alias_inputs(source: str, dest: str) -> None:
    """Hard-link the cached tables under a run-unique directory name.
    The engine names every artifact after its input directory, so the
    name keeps one run's artifacts apart from any other's."""
    os.makedirs(dest)
    for t in datagen.TABLES:
        os.link(os.path.join(source, f"{t}.parquet"), os.path.join(dest, f"{t}.parquet"))


# -- launch -------------------------------------------------------------------

def launch_env(launch: dict, run_dir: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2**20
    mem = launch["driver_mem"]
    gb = int(min(mem["max_gb"], max(mem["min_gb"], total_gb * mem["share_of_host"])))
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{gb}g",
        SPARK_GRAFT_AQE=launch["aqe"],
        SPARK_CONF_DIR=os.path.join(run_dir, "conf"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
    )
    return env


def spark_defaults(run_dir: str, trace: bool) -> str:
    lines = [f"spark.driver.extraJavaOptions -Djava.io.tmpdir={run_dir}/tmp"]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{run_dir}/eventlog",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    return "\n".join(lines) + "\n"


def stop_group(pgid: int) -> None:
    """Stop every process of a run's process group and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not procstat.group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + 10.0
        while procstat.group_members(pgid) and time.time() < end:
            time.sleep(0.1)
    if procstat.group_members(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def run_worker(job: dict, env: dict, run_dir: str, limit_s: float) -> dict:
    """Start the worker process, wait for it and return what it measured,
    with ``spawn``, the wall-clock time it was started."""
    for d in ("conf", "spark-local", "tmp", "cwd", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    with open(os.path.join(run_dir, "conf", "spark-defaults.conf"), "w") as f:
        f.write(spark_defaults(run_dir, job["trace"]))
    job_path = os.path.join(run_dir, "job.json")
    with open(job_path, "w") as f:
        json.dump(job, f)
    spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), job_path],
        cwd=os.path.join(run_dir, "cwd"), env=env, stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc.pid)
    if code != 0:
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited with {code}'}")
    with open(job["out"]) as f:
        result = json.load(f)
    result["spawn"] = spawn
    if job["trace"]:
        result["events"] = {
            f"{k[0]}:{k[1]}": v
            for k, v in read_event_log(os.path.join(run_dir, "eventlog")).items()
        }
    return result


def sweep_artifacts(input_name: str) -> int:
    """Delete the engine's artifacts named after this run's input; return
    how many directories went."""
    dirs = worker.artifact_dirs(input_name)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    return len(dirs)


# -- metrics ------------------------------------------------------------------

def timed_passes(result: dict, traced: bool | None = None,
                 counted: bool = False) -> list[dict]:
    return [p for p in result["passes"] if p["kind"] == "timed"
            and (traced is None or p["traced"] == traced)
            and (p["counted"] or not counted)]


def end_to_end(result: dict, source_bytes: int) -> dict:
    # every timed execution counts against pass_rate; timings come from
    # the counted (least disturbed) passes
    checked = {name: why is None for name, why in result["check"].items()}
    passed, attempted = stats.pass_rate(
        ((r["name"], r["ok"]) for p in timed_passes(result) for r in p["records"]), checked
    )
    timed = timed_passes(result, counted=True)
    recs = [r for p in timed for r in p["records"]]
    walls = [r["wall_s"] for r in recs if r["ok"]]
    t = result["setup"]["timings"]
    return {
        "setup_s": result["setup"]["ready"] - result["spawn"],
        "first_pass_s": result["first_pass_s"],
        "queries_per_s": len(timed[0]["records"]) / stats.median([p["wall_s"] for p in timed]),
        "query_p50_s": stats.median(walls),
        "cpu_s_per_query": sum(p["cpu_s"] for p in timed) / len(recs),
        "pass_rate": passed / attempted,
        "stored_bytes_ratio": (t["tables.relayout_bytes"] + t["ingest.bytes"]) / source_bytes,
        "_attempted": attempted,
        "_failed": attempted - passed,
        "_walls": walls,
    }


def _fold(acc: dict, rec: dict, build: dict, run: dict) -> None:
    """Add one traced query execution to a per-module or per-query total."""
    for k in build:
        acc[k] = acc.get(k, 0) + build[k] + run[k]
    acc["eager_jobs"] = acc.get("eager_jobs", 0) + build["jobs"]
    for k in ("build_s", "run_s", "wall_s"):
        acc[k] = acc.get(k, 0.0) + rec.get(k, 0.0)
    acc.setdefault("walls", []).append(rec["wall_s"])


def _idle_share(acc: dict, slots: int) -> float:
    """1 - executor run time / (wall x slots): the share of the local
    slots no task used while the queries ran."""
    busy = acc.get("wall_s", 0.0) * slots
    return 1.0 - acc.get("executor_run_s", 0.0) / busy if busy else 0.0


def per_layer(result: dict, slots: int) -> tuple[dict, list[dict], dict]:
    """Per-layer metrics, the report's per-query rows, and the tracing
    overhead, from a traced run. Module and query figures are per traced
    timed pass."""
    m = {k: float(v) for k, v in result["setup"]["timings"].items()}
    rep = result["setup"]["ingest"]
    m["ingest.failed"] = float(sum(not r["ok"] for r in rep.values()))
    m["ingest.primed_ratio"] = sum(r["primed"] for r in rep.values()) / len(rep) if rep else 0.0
    for name in result["setup"]["artifacts"]:
        m[f"ingest.{name}_s"] = float(rep[name]["seconds"]) if name in rep else 0.0

    traced = timed_passes(result, traced=True)
    untraced = timed_passes(result, traced=False)
    if min(len(traced), len(untraced)) < worker.MIN_TIMED_PASSES:
        fail(f"{len(traced)} traced and {len(untraced)} untraced timed passes; "
             f"the tracing overhead needs {worker.MIN_TIMED_PASSES} of each")
    zero = empty_counts()
    mods: dict[str, dict] = {mod: {} for mod in MODULES}
    queries: dict[str, dict] = {}
    for p in traced:
        for r in p["records"]:
            build = result["events"].get(f"{r['exec']}:build", zero)
            run = result["events"].get(f"{r['exec']}:run", zero)
            _fold(mods.setdefault(r["module"], {}), r, build, run)
            _fold(queries.setdefault(r["name"], {"module": r["module"]}), r, build, run)
    n = len(traced)
    for mod, acc in mods.items():
        for k in ("build_s", "run_s", "eager_jobs", *zero):
            m[f"{mod}.{k}"] = acc.get(k, 0) / n
        m[f"{mod}.idle_slot_share"] = _idle_share(acc, slots)
    rows = [
        {"name": name, "module": acc["module"], "wall_s": stats.median(acc["walls"]),
         "jobs": acc["jobs"] / n, "eager_jobs": acc["eager_jobs"] / n,
         "stages": acc["stages"] / n, "tasks": acc["tasks"] / n,
         "idle_slot_share": _idle_share(acc, slots)}
        for name, acc in queries.items()
    ]
    m["process.jvm_peak_rss_mb"] = result["jvm_peak_rss_mb"]
    m["host.steal_s"] = stats.median([p["steal_s"] for p in timed_passes(result)])
    on = stats.median([p["wall_s"] for p in traced])
    off = stats.median([p["wall_s"] for p in untraced])
    m["trace.overhead_share"] = on / off - 1.0
    return m, rows, {"traced_s": on, "untraced_s": off, "share": on / off - 1.0}


def summary(workload: str, seed: int, env: dict, result: dict, e2e: dict) -> str:
    timed = timed_passes(result)
    counted = timed_passes(result, counted=True)
    n = len(e2e["_walls"])
    q = stats.reportable_tail(n)
    tail = (f"p{q:g} {stats.tail_percentile(e2e['_walls'], q):.3f} s" if q
            else f"no tail percentile: {n} samples leave fewer than "
                 f"{stats.MIN_BEYOND} beyond p75")
    t = result["setup"]["timings"]
    return "\n".join([
        "perfbench: launch " + " ".join(f"{k}={v}" for k, v in sorted(env.items())
                                          if k.startswith("SPARK_GRAFT_") or k == "PYTHONPATH"),
        f"perfbench: inputs sf={INPUT_SF:g} gen_seed={INPUT_GEN_SEED}; passes "
        f"warm={worker.WARM_PASSES} min_timed={worker.MIN_TIMED_PASSES} "
        f"max_reruns={worker.MAX_RERUNS} steal_limit={worker.STEAL_LIMIT:g} "
        f"warm_tol={worker.WARM_TOL:g}",
        "perfbench: set-up " + ", ".join(f"{k} {v:.3f}" for k, v in t.items() if k.endswith("_s")),
        "perfbench: passes (kind wall_s cpu_s steal_s) " + ", ".join(
            f"{p['kind']}{'*' if p['counted'] else ''} {p['wall_s']:.2f} {p['cpu_s']:.1f} "
            f"{p['steal_s']:.2f}" for p in result["passes"]),
        f"perfbench: {workload} seed={seed}: {n} timed samples in the {len(counted)} "
        f"counted (*) of {len(timed)} timed passes "
        f"({'steady' if result['steady'] else 'CPU still falling'} after warm-up); {tail}",
    ])


# -- main ---------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.time()
    # a stopped run still stops its processes and deletes its directory
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))

    for need in ("__spark_entry__.py", "pandas_reporter_spark", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the engine")
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wl = settings["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; have {sorted(settings['workloads'])}")

    source, tag = ensure_inputs(INPUT_SF, INPUT_GEN_SEED)
    source_bytes = sum(
        os.path.getsize(os.path.join(source, f"{t}.parquet")) for t in datagen.TABLES
    )
    run_id = f"{args.workload}_{os.getpid()}"
    run_dir = os.path.join(HERE, ".work", run_id)
    input_name = f"pbin_{run_id}"
    input_dir = os.path.join(run_dir, "in", input_name)
    job = {
        **wl,
        "input_dir": input_dir, "source_dir": source, "input_tag": tag,
        "oracle_cache": os.path.join(HERE, ".cache", "oracle"),
        "seed": args.seed, "seconds": args.seconds, "trace": bool(args.trace),
        "out": os.path.join(run_dir, "result.json"),
        "deadline": t_begin + RUN_LIMIT_S - FINISH_MARGIN_S,
    }
    env = launch_env(settings["launch"], run_dir)
    try:
        alias_inputs(source, input_dir)
        result = run_worker(job, env, run_dir, RUN_LIMIT_S - (time.time() - t_begin))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        gone = sweep_artifacts(input_name)
        print(f"perfbench: deleted {gone} engine artifact dirs of {input_name}",
              file=sys.stderr)

    fails = {q: why for q, why in result["check"].items() if why is not None}
    for q, why in sorted(fails.items()):
        print(f"perfbench: {q} FAILED its output check: {why}", file=sys.stderr)
    for q in sorted({r["name"] for p in timed_passes(result) for r in p["records"] if not r["ok"]}):
        print(f"perfbench: {q} raised during a timed pass", file=sys.stderr)
    e2e = end_to_end(result, source_bytes)
    print(summary(args.workload, args.seed, env, result, e2e), file=sys.stderr)

    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-last.json"), "w") as f:
        json.dump(result, f)
    if args.trace:
        slots = len(os.sched_getaffinity(0))
        values, rows, overhead = per_layer(result, slots)
        print(render_report(args.workload, self_time_by_name(result["spans"]), rows,
                            overhead, slots), file=sys.stderr)
        wanted = bench["per_layer"]
    else:
        values = e2e
        wanted = bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, v in metrics.items():
        print(f"  {name:<34}{v['value']:>16.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": not fails and e2e["_failed"] == 0,
        "attempted": e2e["_attempted"],
        "failed": e2e["_failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
