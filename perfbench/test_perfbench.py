"""Tests of the benchmark itself.

    python -m pytest perfbench -q                  # everything (~6 min)
    python -m pytest perfbench -q -m "not slow"    # no Spark, seconds

The slow tests run every workload in ``--smoke`` mode, untraced and traced,
through the same command line the benchmark is driven by, and hold the
printed JSON to the schema in ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

from perfbench import tables
from perfbench.tracing import Tracer, reconcile, stage_metrics
from perfbench.workloads import HEADLINE, in_battery, query_family

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_shape():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= spec["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= len(spec["per_layer"]) <= 128
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    for p in spec["paths"]:
        assert os.path.isdir(os.path.join(ROOT, p))


def test_tables_are_a_function_of_the_seed():
    sizes = tables.TableSizes(sf=0.0002, documents=40, embeddings=20)
    a, b = tables.generate(3, sizes), tables.generate(3, sizes)
    assert all(a[t].equals(b[t]) for t in a)
    assert not tables.generate(4, sizes)["orders"].equals(a["orders"])
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    # ranked queries need tie-free money columns
    prices = a["orders"].column("o_totalprice").to_pylist()
    assert len(set(prices)) == len(prices)


def test_query_families():
    from ufo_dedup_spark import queries as Q

    assert query_family("ann_near_dup_pairs") == "ann"
    assert query_family("geocode_cascade") == "ufo_etl"
    assert query_family("doc_stats") == "doc_dedup"
    assert query_family("pricing_summary") == "relational"
    names = list(Q.queries())
    assert set(HEADLINE) <= set(names)
    battery = [n for n in names if in_battery(n)]
    assert len(battery) == 22
    assert {query_family(n) for n in battery} == {
        "relational", "doc_dedup", "ann", "ufo_etl"
    }


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_event_log_attribution_and_reconciliation(tmp_path):
    tracer = Tracer(SimpleNamespace(sparkContext=None), run_id="t")
    tracer.spans.append(
        {"name": "verify", "group": "verify", "start": 100.0, "end": 200.0,
         "parent": None, "run_id": "t", "tree_cpu_s": 0.0}
    )

    def stage(sid, group, t):
        props = {"spark.jobGroup.id": group} if group else {}
        return _event(
            "SparkListenerStageSubmitted",
            **{"Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                              "Submission Time": t * 1000},
               "Properties": props},
        )

    def task(sid, cpu_ns, written):
        return _event(
            "SparkListenerTaskEnd",
            **{"Stage ID": sid, "Stage Attempt ID": 0, "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                "Shuffle Read Metrics": {"Local Bytes Read": 7},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}},
        )

    def done(sid, cpu_ns, written):
        return _event(
            "SparkListenerStageCompleted",
            **{"Stage Info": {"Stage ID": sid, "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
                {"Name": "internal.metrics.shuffle.write.bytesWritten",
                 "Value": written}]}},
        )

    lines = [
        stage(0, "extract", 50), task(0, 10**9, 2**20), done(0, 10**9, 2**20),
        stage(1, None, 150), task(1, 2 * 10**9, 0), done(1, 2 * 10**9, 0),
        stage(2, None, 300), task(2, 10**9, 0), done(2, 10**9, 0),
    ]
    (tmp_path / "app").write_text("\n".join(lines) + "\n")
    groups, totals = stage_metrics(str(tmp_path), tracer)
    assert groups["extract"]["cpu_s"] == 1.0
    assert groups["extract"]["shuffle_write_mb"] == 1.0
    assert groups["verify"]["cpu_s"] == 2.0  # groupless stage inside the span
    assert groups["unattributed"]["cpu_s"] == 1.0
    assert reconcile(groups, totals) == []
    totals["cpu_s"] += 1.0
    assert reconcile(groups, totals)


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = _run(["--workload", "dedup_dense", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp_path, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_run_prints_the_declared_metrics(workload, trace):
    spec = _spec()
    proc = _run(["--workload", workload, "--seed", "42", "--seconds", "1",
                 "--trace", str(trace), "--smoke"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, proc.stderr[-3000:]
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
