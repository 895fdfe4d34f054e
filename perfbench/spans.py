"""Spans, the per-span Spark event-log rollup, and the RSS sampler.

A span is one call into a layer's public function plus the
materialization of what it returns. Its Spark jobs carry the span name
as their job group, so the event log attributes every task to the span
that caused it. The log is read after the SparkContext stops (the file
is complete then); this module needs only the standard library.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

MB = 1024 * 1024


class Tracer:
    """Records spans in memory; ``layer`` is the span name up to the first
    dot (``lsh.minhash_dup_pairs`` belongs to ``lsh``)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        group = f"{name}#{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "group": group, "layer": name.split(".")[0]}
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.monotonic() - t0
            self.spans.append(rec)
            self.sc.setJobGroup("untraced", "between spans")

    def materialize(self, name: str, build):
        """Run ``build()`` and materialize its result inside one span, the way
        ``run_pipeline`` materializes a stage (eager local checkpoint plus
        a count). Returns the pinned DataFrame."""
        with self.span(name) as rec:
            df = build().localCheckpoint(eager=True)
            rec["rows_out"] = df.count()
        return df

    def total_wall(self) -> float:
        return sum(s["wall_s"] for s in self.spans)


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def rollup(log_path: Path) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run seconds, shuffle write MB,
    spill MB (disk), and task skew (the largest per-stage ratio of max to
    median task run time, over stages with at least 4 tasks)."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "run_s": 0.0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    )
    stage_task_ms: dict[int, list[int]] = defaultdict(list)
    with open(log_path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                job_group[ev["Job ID"]] = g
                groups[g]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                sid = ev["Stage ID"]
                if not m or sid not in stage_group:
                    continue
                agg = groups[stage_group[sid]]
                agg["tasks"] += 1
                agg["run_s"] += m["Executor Run Time"] / 1000.0
                agg["shuffle_write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                )
                agg["spill_mb"] += m["Disk Bytes Spilled"] / MB
                stage_task_ms[sid].append(m["Executor Run Time"])
    for g in groups.values():
        g["task_skew"] = 1.0
    for sid, ms in stage_task_ms.items():
        if len(ms) >= 4:
            skew = max(ms) / max(statistics.median(ms), 1)
            g = groups[stage_group[sid]]
            g["task_skew"] = max(g["task_skew"], skew)
    return dict(groups)


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every ``period`` s."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _tree_pids(root))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
