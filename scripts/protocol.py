"""Pinned scaling protocol: the same bench job at two core counts.

Usage: python scripts/protocol.py LOW HIGH [--expansion 40] [--repeats 3]

For each repeat it runs ``bench.py`` at LOW and then at HIGH cores, then
the pure-CPU and DRAM burn controls at the same two core counts. Every
leg is launched the same way::

    taskset -c 0-(k-1) spark-submit --master local[k] \\
        --driver-memory max(8,2k)g --py-files dist/image_dedup_spark.zip bench.py

so the whole process tree (JVM GC/shuffle threads, Python workers) gets
exactly k CPUs, the way an executor shares its cores with its own
overhead threads. The burn controls run perfect-software workloads under
the same pinning in the same window; the efficiency they lose is the
platform's (hypervisor steal, turbo, one DRAM controller), not the
engine's. They are reported next to the legs, not as a bound on them.

Writes one run JSON under BENCH/ (legs, burns, code stamp) and, when
every leg ran the same code and found the same clusters, regenerates
BENCH/BASELINE.md from that run alone. Exits non-zero otherwise.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing as mp
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

from make_pyfiles_zip import build

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "BENCH")
# What a leg executes; any difference from HEAD here changes the stamp.
MEASURED = ("image_dedup_spark", "bench.py")
# Per-worker work units: a tight integer loop with no memory traffic,
# and copies of an array far larger than the per-core caches. Each is
# about 20 s of work per worker on one 2 GHz Xeon (Sapphire Rapids) core,
# long enough that start-up jitter does not move the efficiency.
BURN_ITERS = {"cpu": 60_000_000, "mem": 250}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def stamp() -> str:
    """Short HEAD sha, plus a digest of the uncommitted part of the
    measured code (diff and untracked files' names and contents) when it
    differs from HEAD."""
    head = _git("rev-parse", "--short=12", "HEAD").strip()
    dirty = _git("diff", "HEAD", "--", *MEASURED)
    untracked = _git(
        "ls-files", "--others", "--exclude-standard", "--", *MEASURED
    ).splitlines()
    if untracked:
        dirty += "\n".join(untracked) + _git("hash-object", "--", *untracked)
    if not dirty:
        return head
    return f"{head}-dirty-{hashlib.sha1(dirty.encode()).hexdigest()[:8]}"


def run_leg(cores: int, expansion: int) -> dict:
    """One pinned ``spark-submit`` of bench.py; returns its JSON line."""
    for tool in ("taskset", "spark-submit"):
        if shutil.which(tool) is None:
            raise SystemExit(f"protocol.py: `{tool}` is not on PATH; "
                             "every leg is launched through it")
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        "spark-submit",
        "--master", f"local[{cores}]",
        # spark.driver.memory set by get_spark comes too late under
        # spark-submit (the JVM is already up), so it is set here. 2 GB a
        # core: an 8g heap OOMs a 16-core leg at 5M docs, and an oversized
        # 48g heap runs the same stages about 2x slower than 8g.
        "--driver-memory", f"{max(8, 2 * cores)}g",
        "--py-files", build(),
        os.path.join(REPO, "bench.py"),
    ]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_BENCH_EXPANSION=str(expansion),
    )
    out = subprocess.run(
        cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=7200
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench leg at {cores} cores failed (exit {out.returncode}):\n"
            f"{out.stdout[-2000:]}\n{out.stderr[-4000:]}"
        )
    return json.loads(lines[-1])


def _burn_worker(kind: str, n_iter: int, barrier, out) -> None:
    import numpy as np

    a = np.arange(24_000_000, dtype=np.int64) if kind == "mem" else None
    barrier.wait()
    t0 = time.monotonic()
    if a is None:
        x = 1
        for _ in range(n_iter):
            x = (x * 0x9E3779B97F4A7C15 + 0xB5) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 29
    else:
        for _ in range(n_iter):
            a.copy()
    out.put((t0, time.monotonic()))


def run_burn(kind: str, cores: int) -> float:
    """Work units/s of ``cores`` burn workers pinned to CPUs 0..cores-1,
    timed from a common start barrier to the last worker's finish."""
    ctx = mp.get_context("spawn")
    barrier, out = ctx.Barrier(cores), ctx.Queue()
    n_iter = BURN_ITERS[kind]
    procs = [
        ctx.Process(target=_burn_worker, args=(kind, n_iter, barrier, out))
        for _ in range(cores)
    ]
    all_cpus = os.sched_getaffinity(0)
    os.sched_setaffinity(0, range(cores))  # inherited by the workers
    try:
        for p in procs:
            p.start()
    finally:
        os.sched_setaffinity(0, all_cpus)
    spans = [out.get(timeout=600) for _ in procs]
    for p in procs:
        p.join()
    wall = max(t1 for _, t1 in spans) - min(t0 for t0, _ in spans)
    return cores * n_iter / wall


def _efficiency(low: int, high: int, tp_low: float, tp_high: float) -> float:
    return tp_high / (high / low * tp_low)


def write_report(run: dict, run_name: str) -> float:
    """BENCH/BASELINE.md from one run; returns the paired-median efficiency."""
    low, high = run["low"], run["high"]
    lows = [g for g in run["legs"] if g["cores"] == low]
    highs = [g for g in run["legs"] if g["cores"] == high]
    paired = [
        _efficiency(low, high, a["docs_per_sec"], b["docs_per_sec"])
        for a, b in zip(lows, highs)
    ]
    eff = statistics.median(paired)
    burn_rows = []
    for kind, label in (("cpu", "pure-CPU (integer hash loop)"),
                        ("mem", "DRAM-bound (large array copies)")):
        effs = [_efficiency(low, high, b["low"], b["high"])
                for b in run["burn"][kind]]
        burn_rows.append(
            f"| {label} | {', '.join(f'{e:.3f}' for e in effs)} "
            f"| **{statistics.median(effs):.3f}** |"
        )
    leg_rows = [
        f"| {g['repeat']} | {g['cores']} | {g['dedup_pipeline_sec']} "
        f"| {g['docs_per_sec']} | {g['n_clusters']} | {g['value']} |"
        for g in run["legs"]
    ]
    def stage_s(g: dict) -> dict:
        return {**g["queries"], "dedup_pipeline_sec": g["dedup_pipeline_sec"]}

    stage_rows = []
    for key in stage_s(lows[0]):
        a = statistics.median(stage_s(g)[key] for g in lows)
        b = statistics.median(stage_s(g)[key] for g in highs)
        stage_rows.append(
            f"| {key} | {a:.1f} | {b:.1f} | {a / b:.2f}× "
            f"| {a / b / (high / low):.2f} |"
        )
    first = run["legs"][0]
    text = f"""# BENCH/BASELINE — pinned scaling protocol, {low} → {high} cores

Command: `python scripts/protocol.py {low} {high} --expansion \
{run['expansion']} --repeats {run['repeats']}`.
Started {run['started']} at code stamp `{run['stamp']}`.
Raw run: `BENCH/{run_name}`.

Every leg is the same `bench.py` job on the same input ({first['n_docs']}
docs = sf{first['sf']} documents × {run['expansion']}), launched as
`taskset -c 0-(k-1) spark-submit --master local[k] --driver-memory
max(8,2k)g --py-files dist/image_dedup_spark.zip bench.py`,
k = {low} then {high} in each repeat. `n_clusters` is
{first['n_clusters']} on every leg.

## Scaling efficiency

Per pair i: `tp_high_i / (({high}/{low}) · tp_low_i)` over docs/s, where
the two legs of a pair ran back to back in one time window.

Per pair: {', '.join(f'{p:.3f}' for p in paired)}.

**Paired-median efficiency: {eff:.3f}** (target ≥ 0.8).

## Same-window burn controls

Perfect-software workloads under the same pinning, run after each pair
of legs and scored with the same formula over work units/s. What they
lose is the platform's; they are a reference, not a bound on the legs.

| control | efficiency per repeat | median |
|---|---|---|
{chr(10).join(burn_rows)}

## Legs

| repeat | cores | pipeline s | docs/s | n_clusters | total s |
|---|---|---|---|---|---|
{chr(10).join(leg_rows)}

## Per-stage medians

| stage | {low}c s | {high}c s | speedup | efficiency |
|---|---|---|---|---|
{chr(10).join(stage_rows)}
"""
    with open(os.path.join(BENCH, "BASELINE.md"), "w") as f:
        f.write(text)
    return eff


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("low", type=int)
    ap.add_argument("high", type=int)
    ap.add_argument("--expansion", type=int, default=40)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args(argv)
    if not 1 <= args.low < args.high or args.repeats < 1:
        ap.error("need 1 <= LOW < HIGH and --repeats >= 1")

    started = datetime.now(timezone.utc)
    stamps = []
    legs = []
    burn = {"cpu": [], "mem": []}
    for r in range(args.repeats):
        for k in (args.low, args.high):
            stamps.append(stamp())
            leg = run_leg(k, args.expansion)
            leg.update(cores=k, repeat=r, stamp=stamps[-1])
            legs.append(leg)
            print(f"repeat {r} {k}c: {leg['dedup_pipeline_sec']} s, "
                  f"{leg['docs_per_sec']} docs/s, "
                  f"n_clusters {leg['n_clusters']}", flush=True)
        for kind in burn:
            burn[kind].append({"low": run_burn(kind, args.low),
                               "high": run_burn(kind, args.high)})
    stamps.append(stamp())

    run = {
        "low": args.low,
        "high": args.high,
        "expansion": args.expansion,
        "repeats": args.repeats,
        "started": started.isoformat(timespec="seconds"),
        "stamp": stamps[0],
        "legs": legs,
        "burn": burn,
    }
    run_name = (f"protocol_c{args.low}-{args.high}_x{args.expansion}_"
                f"{stamps[0]}_{started.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(BENCH, exist_ok=True)
    with open(os.path.join(BENCH, run_name), "w") as f:
        json.dump(run, f, indent=1)
    print(f"run: BENCH/{run_name}")

    if len(set(stamps)) > 1:
        print(f"refusing to report: the measured code changed during the "
              f"run (stamps {sorted(set(stamps))})", file=sys.stderr)
        return 1
    clusters = {g["n_clusters"] for g in legs}
    if len(clusters) > 1:
        print(f"refusing to report: legs disagree on n_clusters "
              f"{sorted(clusters)}", file=sys.stderr)
        return 1
    eff = write_report(run, run_name)
    print(json.dumps({"paired_median_efficiency": round(eff, 3)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
