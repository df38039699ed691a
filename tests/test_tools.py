"""The timing tools share one session-prep path.

`bench.prepare_session` is the only function in `bench.py` and
`tools/` that relayouts, ingests or warms the Python worker pool, so
every timing tool times the same steady state (`tools/ingest_wins.py`
is exempt: it measures ingest itself). `tools/ab.py` runs end to end
on a private snapshot and reports both arms of an A/B with their plans.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
#: the shared read-only sf0.001 snapshot (TESTDATA.md)
SF = "/root/testdata/sf0.001"
SHM = "/dev/shm"

PREP_CALLS = {"relayout", "ingest"}
#: the one prep path, and the tool that measures ingest itself
PREP_OWNER = ("bench.py", "prepare_session")
EXEMPT = "tools/ingest_wins.py"


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _is_prep_call(call: ast.Call) -> bool:
    """relayout(...), ingest(...), or the pool warm: mapInPandas over a
    range() frame."""
    if _callee(call) in PREP_CALLS:
        return True
    recv = getattr(call.func, "value", None)
    return (
        _callee(call) == "mapInPandas"
        and isinstance(recv, ast.Call)
        and _callee(recv) == "range"
    )


def _prep_callers(rel: str) -> list[tuple[str, str, int]]:
    """(file, top-level owner, line) of every prep call in `rel`."""
    with open(os.path.join(REPO, rel)) as f:
        tree = ast.parse(f.read())
    out = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Call) and _is_prep_call(node):
                out.append((rel, owner, node.lineno))
    return out


def test_only_prepare_session_preps_a_session():
    files = ["bench.py"] + sorted(
        os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "tools", "*.py"))
    )
    calls = [c for rel in files for c in _prep_callers(rel)]
    stray = [c for c in calls if c[:2] != PREP_OWNER and c[0] != EXEMPT]
    assert not stray, stray
    # the guard sees the one sanctioned copy: relayout, ingest, pool warm
    assert sum(1 for c in calls if c[:2] == PREP_OWNER) == 3


def _shm_dirs() -> set[str]:
    return set(os.listdir(SHM)) if os.path.isdir(SHM) else set()


@pytest.mark.skipif(
    not os.path.isdir(os.path.join(REPO, ".git")), reason="not a git checkout"
)
def test_ab_reports_both_arms_with_plans(tmp_path):
    name = f"ab_sf_{os.getpid()}"
    sf = str(tmp_path / name)
    tag = f"_{name}_"  # how the engine's /dev/shm dirs name this copy
    shutil.copytree(SF, sf)
    before = _shm_dirs()
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_SF_DIR": sf,
        "TMPDIR": str(tmp_path),
    }
    try:
        out = subprocess.run(
            [sys.executable, "tools/ab.py", "-n", "1", "-r", "HEAD", "q_sum_m"],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
        )
        new = _shm_dirs() - before
    finally:
        for d in _shm_dirs() - before:
            if tag in d:
                shutil.rmtree(os.path.join(SHM, d), ignore_errors=True)
    assert out.returncode == 0, out.stderr
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"q_sum_m"}
    assert set(res["q_sum_m"]) == {"tree", "HEAD"}
    for arm in res["q_sum_m"].values():
        assert arm["best_s"] is not None
        assert arm["plan"]
    # the run laid out and primed its private copy, and the shared
    # snapshot the rest of the suite reads stays unprimed
    assert [d for d in new if tag in d], new
    assert not [d for d in new if f"_{os.path.basename(SF)}_" in d], new
    assert not [d for d in _shm_dirs() if tag in d]
