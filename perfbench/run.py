"""Benchmark of ufo_dedup_spark: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--smoke]

Run from the repository root (it imports ``ufo_dedup_spark`` from there).
Workloads and metric names are declared in ``BENCHMARK.json``.

``--trace 0`` runs the workload as a closed loop of complete units for at
least ``--seconds`` (at least one unit), checks every unit's outputs and
reports the end-to-end metrics. Each run is a fresh process, so the first
unit is cold (JVM JIT and Python workers included), as it is for a user's
batch job. ``--trace 1`` runs the workload's layers serially under spans
with the Spark event log on, holds their outputs to the same checks, and
reports the per-layer metrics.
``--smoke`` shrinks every input for the benchmark's own tests.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Lines before it describe the host, the inputs and every metric with its
direction. Everything the run writes stays under ``.bench_work/``; the
spans of a traced run are kept in ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# set-up runs this many times and reports its median, so one slow
# preparation does not move setup_s
SETUP_REPEATS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _emit(spec_metrics, values, correct, attempted, failed, report):
    metrics = {}
    for m in spec_metrics:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"# {m['name']} = {v:.6g} {m['unit']}, {m['better']} is better")
    print("report: " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def _untraced(args, wl, sess, setup_s) -> dict:
    from perfbench.host import TreeSampler
    from perfbench.workloads import Unit

    units = []
    t_start = time.perf_counter()
    with TreeSampler() as sampler:
        while not units or time.perf_counter() - t_start < args.seconds:
            t0 = time.perf_counter()
            try:
                units.append(wl.run(sess.spark))
            except Exception as exc:  # noqa: BLE001 - a raising unit is a failed result
                traceback.print_exc()
                wall = time.perf_counter() - t0
                units.append(Unit(wall, [(wl.name, wall)], errors=[repr(exc)]))
                break
    attempted = failed = 0
    checks = []
    for unit in units:
        if unit.outputs:
            failures, report = wl.check(sess.spark, unit)
        else:
            failures, report = unit.errors, {}
        checks.append(report)
        attempted += len(unit.ops)
        # a failure names one op (a query) or the unit as a whole
        failed += min(len(failures), len(unit.ops))
        for msg in failures:
            print(f"# CHECK FAILED: {msg}", file=sys.stderr)
    wall = statistics.median(u.wall_s for u in units)
    values = {
        "wall_s": wall,
        "setup_s": setup_s,
        "peak_rss_mb": sampler.peak_mb,
    }
    report = {
        "units": len(units),
        "unit_walls_s": [u.wall_s for u in units],
        "ops_s": dict(units[0].ops),
        "checks": checks,
        **values,
        f"{wl.item}_per_s": wl.items / wall,
    }
    return {"values": values, "report": report,
            "attempted": attempted, "failed": failed}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "ufo_dedup_spark", "pipeline.py")):
        print(f"error: no ufo_dedup_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.host import HostError, Session
    from perfbench.tracing import Tracer, layer_metrics, reconcile, stage_metrics
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    try:
        try:
            sess = Session(work, event_log=bool(args.trace))
        except HostError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 3
        try:
            wl = WORKLOADS[args.workload](args.seed, args.smoke, work)
            setups = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.prepare(sess.spark)
                setups.append(time.perf_counter() - t0)
            setup_s = sess.build_s + statistics.median(setups)
            print(f"# host {json.dumps(sess.describe())}")
            print(f"# workload {args.workload} {json.dumps(wl.describe())}")
            if not args.trace:
                res = _untraced(args, wl, sess, setup_s)
            else:
                tracer = Tracer(
                    sess.spark, run_id=f"{args.workload}-{args.seed}-{os.getpid()}"
                )
                traced = wl.trace(sess.spark, tracer)
        finally:
            sess.close()
        if not args.trace:
            _emit(spec["end_to_end"], res["values"], res["failed"] == 0,
                  res["attempted"], res["failed"], res["report"])
            return 0
        groups, totals = stage_metrics(sess.event_dir, tracer)
        failures = traced["failures"] + reconcile(groups, totals)
        for msg in failures:
            print(f"# CHECK FAILED: {msg}", file=sys.stderr)
        values = layer_metrics(tracer, groups, traced["rows"])
        values.update(traced["shape"], **{"trace.overhead_s": tracer.overhead_s})
        tracer.write(os.path.join(
            ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.json"
        ))
        report = {"traced": traced["report"], "unit_wall_s": traced["unit_wall_s"],
                  "event_log_totals": totals,
                  "groups": {g: dict(m) for g, m in groups.items()}}
        _emit(spec["per_layer"], values, not failures, 1, int(bool(failures)),
              report)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
