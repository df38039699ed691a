"""Tracing for the per-layer run: spans kept in memory, Spark's event
log read back per job group, and the one-screen report.

Spans are recorded by the benchmark around its own calls into the
engine's layers; nothing inside the engine is instrumented. Each span
has a name, start, end and parent, and all spans of one query execution
share an ``exec`` id. Spark's work is attributed to a query execution
through the job group the worker sets before each call
(``pb:<exec>:build`` around the registered query function,
``pb:<exec>:run`` around the noop write).
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from stats import self_times

GROUP_PREFIX = "pb:"


class Tracer:
    """Collects spans in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, exec_id: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "exec": exec_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def group_id(exec_id: int, phase: str) -> str:
    return f"{GROUP_PREFIX}{exec_id}:{phase}"


def _parse_group(gid: str | None) -> tuple[int, str] | None:
    if not gid or not gid.startswith(GROUP_PREFIX):
        return None
    exec_part, _, phase = gid[len(GROUP_PREFIX):].partition(":")
    return int(exec_part), phase


def empty_counts() -> dict:
    """Job, stage and task counts and task metrics of no work."""
    return {
        "jobs": 0, "stages": 0, "tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "gc_s": 0.0, "spill_bytes": 0,
    }


def read_event_log(log_dir: str) -> dict[tuple[int, str], dict]:
    """Per ``(exec id, phase)``: jobs, stages and tasks run, and the
    task metrics summed over them, from every event log in ``log_dir``."""
    out: dict[tuple[int, str], dict] = {}
    stage_group: dict[int, tuple[int, str]] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = _parse_group(ev.get("Properties", {}).get("spark.jobGroup.id"))
                    if key is not None:
                        out.setdefault(key, empty_counts())["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    key = _parse_group(ev.get("Properties", {}).get("spark.jobGroup.id"))
                    if key is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = key
                        out.setdefault(key, empty_counts())["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if key is None or m is None:
                        continue
                    agg = out.setdefault(key, empty_counts())
                    agg["tasks"] += 1
                    agg["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    agg["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    rd = m.get("Shuffle Read Metrics", {})
                    agg["shuffle_read_bytes"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    )
                    agg["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, tuple[float, float, int]]:
    """span name -> (total seconds, self seconds, count)."""
    own = self_times(spans)
    out: dict[str, list] = {}
    for s in spans:
        row = out.setdefault(s["name"], [0.0, 0.0, 0])
        row[0] += s["end"] - s["start"]
        row[1] += own[s["id"]]
        row[2] += 1
    return {k: tuple(v) for k, v in out.items()}


def render_report(workload: str, layer_self: dict, per_query: list[dict],
                  overhead: dict, slots: int) -> str:
    """The traced run's one-screen report."""
    lines = [f"== perfbench trace: {workload} ({slots} slots) =="]
    lines.append(f"{'span':<26}{'total_s':>9}{'self_s':>9}{'n':>6}")
    for name, (total, own, n) in sorted(layer_self.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"{name:<26}{total:>9.3f}{own:>9.3f}{n:>6}")
    lines.append("")
    lines.append(
        f"{'query (by idle_slot_share)':<28}{'module':<15}{'wall_s':>7}"
        f"{'jobs':>5}{'eager':>6}{'stages':>7}{'tasks':>6}{'idle':>6}"
    )
    for q in sorted(per_query, key=lambda r: -r["idle_slot_share"]):
        lines.append(
            f"{q['name']:<28}{q['module']:<15}{q['wall_s']:>7.3f}{q['jobs']:>5.0f}"
            f"{q['eager_jobs']:>6.0f}{q['stages']:>7.0f}{q['tasks']:>6.0f}"
            f"{q['idle_slot_share']:>6.2f}"
        )
    lines.append("")
    lines.append(
        "tracing overhead: traced passes {traced_s:.3f} s vs untraced "
        "{untraced_s:.3f} s median wall ({share:+.1%})".format(**overhead)
    )
    return "\n".join(lines)
