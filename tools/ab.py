"""In-session timing and plans for bench queries, optionally A/B against
a git ref.

Usage: python tools/ab.py [-n reps] [-r ref] [query ...]

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) in ONE
Spark session brought to the bench's steady state by
`bench.prepare_session`, with the bench's production-pass rows
(`bench._bench_overrides`) in place of their registered forms. The
default query list is `bench.BENCH_QUERIES`.

Without -r each query has one arm, "tree" (the working tree). With
-r a second arm, named by the ref, runs the query body committed at
that ref (`old_fn`). Host wall-clock drifts by tens of percent between
sessions, so the arms are compared inside one session: reps are
interleaved, arm order alternates per rep (whichever arm runs first
pays that rep's GC and page-cache state), and each arm reports its
min of N. Before timing, each arm's plan is captured: the formatted
physical plan, or the analyzed plan for a streaming frame.

Prints one JSON object on its last stdout line:
    {query: {arm: {"best_s": seconds or null, "plan": text or null}}}
Writes no files.
"""

from __future__ import annotations

import argparse
import ast
import importlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def old_fn(module: str, name: str, ref: str = "HEAD"):
    """The form of ``module.name`` committed at `ref`, as a plain callable.

    The function's source is taken from ``git show <ref>:<module>``,
    stripped of its decorators (so nothing re-registers) and exec-ed in
    the module's CURRENT namespace: the helpers it closes over are
    today's, which isolates the change to the body itself."""
    mod = importlib.import_module(module)
    rel = module.replace(".", "/") + ".py"
    src = subprocess.check_output(
        ["git", "-C", REPO, "show", f"{ref}:{rel}"], text=True
    )
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            node.decorator_list = []
            node.name = name + "__old"
            m = ast.fix_missing_locations(ast.Module(body=[node], type_ignores=[]))
            ns = dict(mod.__dict__)
            exec(compile(m, f"<git:{ref}:{rel}:{name}>", "exec"), ns)
            return ns[name + "__old"]
    raise KeyError(f"{name} not found in {ref}:{rel}")


def plan(df) -> str:
    qe = df._jdf.queryExecution()
    if df.isStreaming:
        return qe.analyzed().toString()
    return df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("-n", type=int, default=3, help="reps per arm (min is reported)")
    p.add_argument("-r", metavar="REF", help="also time the bodies at this git ref")
    p.add_argument("queries", nargs="*")
    args = p.parse_args()

    import __spark_entry__ as e
    import bench
    from pandas_reporter_spark.session import get_session

    qs = {**e.queries(), **bench._bench_overrides()}
    names = args.queries or [n for n in bench.BENCH_QUERIES if n in qs]
    arms = {n: {"tree": qs[n]} for n in names}
    if args.r:
        for n in names:
            try:
                arms[n][args.r] = old_fn(qs[n].__module__, qs[n].__name__, args.r)
            except (KeyError, subprocess.CalledProcessError) as exc:
                print(f"ab: {n} has no {args.r} arm: {exc}", file=sys.stderr)

    spark = get_session("ab")
    bench.prepare_session(spark, SF_DIR, [fn for a in arms.values() for fn in a.values()])

    out = {n: {arm: {"best_s": None, "plan": None} for arm in a} for n, a in arms.items()}
    for n, a in arms.items():
        for arm, fn in a.items():
            try:
                out[n][arm]["plan"] = plan(fn(spark, SF_DIR))
            except Exception as exc:
                print(f"ab: {n} {arm} plan FAILED: {exc!r}", file=sys.stderr)
    for rep in range(args.n):
        for n, a in arms.items():
            order = list(a.items())
            for arm, fn in order if rep % 2 == 0 else order[::-1]:
                spark.sparkContext.setJobDescription(f"ab:{n}:{arm}")
                t0 = time.time()
                try:
                    bench.run(fn(spark, SF_DIR))
                except Exception as exc:
                    print(f"ab: {n} {arm} FAILED: {exc!r}", file=sys.stderr)
                    continue
                dt = round(time.time() - t0, 3)
                best = out[n][arm]["best_s"]
                if best is None or dt < best:
                    out[n][arm]["best_s"] = dt
    print(json.dumps(out))


if __name__ == "__main__":
    main()
