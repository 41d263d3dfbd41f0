"""N -> 4N scaling efficiency of the flagship (BASELINE.json north rule).

The rule asks for >=0.8 throughput scaling efficiency from N to 4N
executors. Without a cluster, the IDENTICAL flagship job (bench.py) runs
on IDENTICAL input at local[N] and local[4N], with N = host cores // 4
(local[1] -> local[4] on a 4-core host); a host with fewer than 4 cores
has no N -> 4N pair and the tool refuses to run.

Each level runs in its own subprocess (fresh JVM, fresh Python worker
pool) in bench.py's session shape (bench.session): one untimed warm-up
on the real input, then bench.REPS timed reps. Per level it reports every rep
and the median pages/sec; efficiency = median(4N) / (4 x median(N)).
identical_output checks that every rep at every level produced the same
(clipped points, interpolated cells) pair. The report is printed as one
JSON line and written to BENCH-SCALING.json.

Usage:
    python tools/bench_scaling.py              # both levels + report
    python tools/bench_scaling.py --cores 4    # one level (internal)

Env: SPARK_GRAFT_PAGES (flagship pages, default 1000000).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import (HOST, REPS, _flagship_pipeline, prepare_pages,  # noqa: E402
                   session, time_reps)

N_PAGES = int(os.environ.get("SPARK_GRAFT_PAGES", "1000000"))


def ladder_levels(cores: int) -> tuple[int, int]:
    """(N, 4N) for a host with `cores` cores; refuses below 4 cores."""
    if cores < 4:
        raise SystemExit(f"the N->4N ladder needs at least 4 cores; this "
                         f"host has {cores}")
    return cores // 4, 4 * (cores // 4)


def efficiency(pps_n, pps_4n) -> float:
    """throughput scaling efficiency from the per-rep pages/sec of the
    two levels: median(4N) / (4 x median(N))."""
    return statistics.median(pps_4n) / (4.0 * statistics.median(pps_n))


def identical_output(levels) -> bool:
    """True when every rep of every level gave the same (clipped,
    interp) pair."""
    return len({tuple(o) for lv in levels for o in lv["outputs"]}) == 1


def run_level(cores: int, n_pages: int) -> dict:
    """the flagship at local[cores]: warm-up, then REPS timed reps."""
    spark = session(cores)
    pages_path = prepare_pages(spark, n_pages)
    # warm-up on the REAL input, untimed: spawns+imports the python worker
    # pool, JIT-compiles the exact generated code for this plan, and warms
    # the OS page cache -- all states a long-lived cluster executor holds
    _flagship_pipeline(spark, pages_path)
    secs, outs = time_reps(lambda: _flagship_pipeline(spark, pages_path))
    spark.stop()
    return {"cores": cores, "rep_secs": secs, "outputs": outs}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    if args.cores:  # child: one level, print one JSON line
        print("RESULT " + json.dumps(run_level(args.cores, N_PAGES)))
        return

    levels = []
    for cores in ladder_levels(HOST.cores):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cores",
             str(cores)],
            capture_output=True, text=True, cwd=REPO, env=os.environ)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("RESULT ")]
        if not line:
            sys.stderr.write(out.stdout + out.stderr)
            raise SystemExit(f"level local[{cores}] failed")
        lv = json.loads(line[-1][len("RESULT "):])
        lv["pages_per_sec"] = [round(N_PAGES / s, 1) for s in lv["rep_secs"]]
        lv["median_pages_per_sec"] = statistics.median(lv["pages_per_sec"])
        levels.append(lv)

    n, n4 = levels
    eff = round(efficiency(n["pages_per_sec"], n4["pages_per_sec"]), 3)
    report = {
        "metric": f"flagship pages/sec at local[{n['cores']}] and "
                  f"local[{n4['cores']}]: median of {REPS} reps after one "
                  f"untimed warm-up, one JVM per level",
        "n_pages": N_PAGES,
        "host_cores": HOST.cores,
        "driver_memory_mb": HOST.driver_memory_mb,
        "reps": REPS,
        "levels": {f"local{lv['cores']}": lv for lv in levels},
        "scaling_efficiency": eff,
        "meets_north_rule_0.8": eff >= 0.8,
        "identical_output": identical_output(levels),
    }
    print(json.dumps(report))
    with open(os.path.join(REPO, "BENCH-SCALING.json"), "w") as f:
        f.write(json.dumps(report) + "\n")


if __name__ == "__main__":
    main()
