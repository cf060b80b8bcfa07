"""Scaling-efficiency evidence: the identical dedup job at two parallelism
levels (BASELINE.json north rule; no real cluster in this sandbox, so N vs
4N executors is evidenced as local[8] vs local[32] on identical input).

Each level runs in a FRESH subprocess/JVM so nothing is warm-shared.
Prints one JSON line and (with --update-bench-md) rewrites the measured
section of BENCH.md.

Usage: python scripts/scaling_bench.py [--rows 50000] [--update-bench-md]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_level(master: str, rows: int, shuffle_partitions: int | None = None) -> dict:
    env = dict(os.environ)
    if shuffle_partitions:
        # pin the JOB config across levels: only the core grant varies
        env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(shuffle_partitions)
    # memory grant rides build_session's per-core default (600m/core with
    # an 8g floor): total heap grows with the core grant like a fixed
    # per-executor-memory cluster, and the floor is the per-process minimum
    # a real executor JVM would get anyway. (A strict 625m/core grant was
    # tried and OOMs the low leg at 200k+ docs — the floor is load-bearing.)
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "run_pipeline.py"),
            "--rows", str(rows), "--master", master, "--json",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
    )
    if out.returncode != 0:
        # keep the FULL stderr: the 30-line tail once hid a root cause
        # behind the shutdown-hook noise that follows any driver abort
        import time as _time
        dump = os.path.join(
            "/tmp", f"leg_fail_{master.replace('[','_').replace(']','')}"
            f"_{int(_time.time())}.log")
        with open(dump, "w") as f:
            f.write(out.stderr)
            f.write("\n--- stdout ---\n")
            f.write(out.stdout)
        sys.stderr.write(
            f"--- {master} leg failed (rc={out.returncode}); full stderr at "
            f"{dump}; tail ---\n"
            + "\n".join(out.stderr.splitlines()[-30:])
            + "\n"
        )
        raise RuntimeError(f"{master} leg failed; see {dump}")
    last = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(last)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=50000)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument(
        "--mode", choices=["local", "local-cluster"], default="local",
        help="local = one JVM with K threads (local[K] at both levels). "
             "local-cluster = SEPARATE EXECUTOR JVMS on this host: the low "
             "leg runs 1 executor, the high leg N executors, each with "
             "--exec-cores cores and --exec-mem-mb fixed per-executor "
             "memory — the honest in-sandbox analog of BASELINE.json's "
             "'N vs 4N executors' (each executor owns its GC, shuffle "
             "server and Python worker fleet).")
    ap.add_argument("--exec-cores", type=int, default=8,
                    help="local-cluster mode: cores per executor")
    ap.add_argument("--exec-mem-mb", type=int, default=16384,
                    help="local-cluster mode: memory per executor (MB), "
                         "held FIXED across both levels like a real "
                         "cluster's per-executor grant")
    ap.add_argument("--executors-high", type=int, default=4,
                    help="local-cluster mode: executor count of the high "
                         "leg (low leg is always 1)")
    ap.add_argument("--reps", type=int, default=2,
                    help="legs per level; MIN elapsed wins (one-sided "
                         "shared-host noise: slow runs are contention, "
                         "fast runs are the machine)")
    ap.add_argument("--shuffle-partitions", type=int, default=64,
                    help="pinned job-level shuffle partition count used at "
                         "BOTH levels (a real cluster holds this fixed "
                         "while executor count varies); 0 = per-level "
                         "core-count default")
    ap.add_argument("--update-bench-md", action="store_true")
    args = ap.parse_args()

    if args.mode == "local-cluster":
        # executor-count scaling at fixed per-executor shape
        args.low = args.exec_cores
        args.high = args.executors_high * args.exec_cores
        low_master = f"local-cluster[1,{args.exec_cores},{args.exec_mem_mb}]"
        high_master = (
            f"local-cluster[{args.executors_high},{args.exec_cores},"
            f"{args.exec_mem_mb}]"
        )
    else:
        low_master = f"local[{args.low}]"
        high_master = f"local[{args.high}]"

    # hardware ceiling first (cheap): what the box itself gives N -> 4N
    # busy cores for coordination-free parallel arithmetic
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from cpu_calibration import hardware_efficiency

    hw = hardware_efficiency(args.low, args.high)

    sp = args.shuffle_partitions or None

    def best_of(master):
        runs = [run_level(master, args.rows, sp) for _ in range(args.reps)]
        runs.sort(key=lambda r: r["elapsed_sec"])
        for a, b in zip(runs, runs[1:]):
            assert (a["pairs"], a["multi_clusters"]) == (
                b["pairs"], b["multi_clusters"]
            ), "outputs must be identical across reps"
        best = dict(runs[0])
        # per-phase (ledger row wall_s) MIN across reps: on this shared host
        # a single leg's phase profile is not trustworthy (identical-code
        # phases varied ~2x between reps); contention noise is one-sided per
        # phase for the same reason it is for totals, so the per-phase floor
        # is the machine-independent decomposition. Published alongside the
        # raw per-rep ledgers so the aggregation is auditable.
        best["phases_min_of_reps"] = {
            k: min(r["ledger"][k]["wall_s"] for r in runs if k in r["ledger"])
            for k in runs[0]["ledger"]
        }
        best["phases_all_reps"] = [r["ledger"] for r in runs]
        return best, [r["elapsed_sec"] for r in runs]

    low, low_all = best_of(low_master)
    high, high_all = best_of(high_master)
    assert (low["pairs"], low["multi_clusters"]) == (
        high["pairs"], high["multi_clusters"]
    ), "outputs must be identical across parallelism levels"

    ratio = args.high / args.low
    speedup = low["elapsed_sec"] / high["elapsed_sec"]
    efficiency = speedup / ratio
    normalized = efficiency / hw["hardware_efficiency"]

    result = {
        "metric": "scaling_efficiency",
        "mode": args.mode,
        "rows": args.rows,
        "low": {"cores": args.low, "master": low_master,
                "all_elapsed_sec": low_all, **low},
        "high": {"cores": args.high, "master": high_master,
                 "all_elapsed_sec": high_all, **high},
        "speedup": round(speedup, 3),
        "core_ratio": ratio,
        "efficiency": round(efficiency, 3),
        "hardware": hw,
        "efficiency_vs_hardware": round(normalized, 3),
        "target": 0.8,
        # pass is keyed on the RAW efficiency against the published 0.8
        # target — the hardware ceiling (pure-numpy processes, no JVM
        # shuffle/GC) contextualizes a miss but must not convert it into a
        # pass. pass_vs_hardware is reported separately.
        "pass": efficiency >= 0.8,
        "pass_raw": efficiency >= 0.8,
        "pass_vs_hardware": normalized >= 0.8,
    }
    print(json.dumps(result))

    if args.update_bench_md:
        common_tail = f"""Both levels run the full web-dedup pipeline (extract -> MinHash/SimHash/LSH
-> prefix/winnow candidates -> exact verification -> substring LCS ->
union-find clustering) on the identical deterministic synthetic corpus in a
fresh JVM per leg; corpus generation and Spark startup are excluded from the
timed window; each level runs {args.reps}x and the MIN is reported (shared-
host noise is one-sided). Pair/cluster outputs are identical at both levels
and every rep (pairs={low['pairs']}, multi_clusters={low['multi_clusters']}).
"""
        if args.mode == "local-cluster":
            marker = "## Multi-executor scaling"
            md = f"""{marker} (local-cluster: 1 vs {args.executors_high} executor JVMs, identical input)

The faithful analog of BASELINE.json's "N vs 4N executors": each executor
is a SEPARATE JVM with its own {args.exec_mem_mb} MB heap, GC, shuffle
server and Python worker fleet; the per-executor shape
({args.exec_cores} cores x {args.exec_mem_mb} MB) is held fixed and only
the executor COUNT varies, exactly like scaling out a real cluster.

| level | executors | total cores | rows | elapsed (s), min of {args.reps} | docs/sec | all reps (s) |
|---|---|---|---|---|---|---|
| N | 1 | {args.low} | {args.rows} | {low['elapsed_sec']} | {low['docs_per_sec']} | {low_all} |
| 4N | {args.executors_high} | {args.high} | {args.rows} | {high['elapsed_sec']} | {high['docs_per_sec']} | {high_all} |

speedup = {speedup:.2f}x over a {ratio:.0f}x executor ratio ->
**multi-executor scaling efficiency = {efficiency:.3f}** (target >= 0.8)

Hardware ceiling on this box for the same core counts
(scripts/cpu_calibration.py, pure-numpy processes, zero coordination):
speedup {hw['hardware_speedup']:.2f}x -> hardware efficiency =
{hw['hardware_efficiency']:.3f}; efficiency vs that ceiling =
**{normalized:.3f}**.

{common_tail}"""
        else:
            marker = "## Measured scaling"
            md = f"""{marker} (local[{args.low}] vs local[{args.high}], identical input)

| level | cores | rows | elapsed (s), min of {args.reps} | docs/sec | all reps (s) |
|---|---|---|---|---|---|
| N | {args.low} | {args.rows} | {low['elapsed_sec']} | {low['docs_per_sec']} | {low_all} |
| 4N | {args.high} | {args.rows} | {high['elapsed_sec']} | {high['docs_per_sec']} | {high_all} |

speedup = {speedup:.2f}x over a {ratio:.0f}x core ratio ->
**raw scaling efficiency = {efficiency:.3f}** (target >= 0.8)

Hardware ceiling on this box (scripts/cpu_calibration.py — {args.low} vs
{args.high} independent processes of pure numpy arithmetic, zero
coordination): speedup {hw['hardware_speedup']:.2f}x -> **hardware
efficiency = {hw['hardware_efficiency']:.3f}**. A {ratio:.0f}x-core grant on
this shared VM does not deliver {ratio:.0f}x arithmetic throughput even with
no framework at all, so the engine's coordination efficiency is
raw / hardware = **{normalized:.3f}**.

{common_tail}"""
        import re

        path = os.path.join(REPO, "BENCH.md")
        existing = "# BENCH — measured performance evidence\n"
        if os.path.exists(path):
            with open(path) as f:
                existing = f.read()
        # upsert ONLY this mode's section: replace from its marker up to
        # the next top-level heading (or EOF), preserving everything else
        pat = re.compile(re.escape(marker) + r".*?(?=\n## |\Z)", re.S)
        if pat.search(existing):
            new = pat.sub(lambda _m: md.rstrip() + "\n", existing)
        else:
            new = existing.rstrip() + "\n\n" + md
        with open(path, "w") as f:
            f.write(new)


if __name__ == "__main__":
    main()
