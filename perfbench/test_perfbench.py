"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402
from gen import CatalogModel, Generator, frozen_sample  # noqa: E402
from spans import Tracer  # noqa: E402


def _inputs(seed: int) -> bytes:
    """Every kind of generated input, serialized."""
    out = []
    for vectors in (False, True):
        m = CatalogModel(Generator(seed), vectors)
        out.append(m.initial(300))
        out.append(m.ingest_batch(0, 200))
        out.append(m.churn(0, n_update=30, n_insert=10, n_delete=10))
        out.append(Generator(seed).near_vector(7, random.Random(1)))
    return json.dumps(out, sort_keys=True).encode()


def test_same_seed_same_inputs_different_seed_different_inputs():
    assert _inputs(3) == _inputs(3)
    assert _inputs(3) != _inputs(4)


def test_ingest_batch_expected_delta_counts_admitted_new_keys():
    m = CatalogModel(Generator(1), vectors=False)
    m.initial(500)
    recs, delta = m.ingest_batch(0, 400)
    admitted_new = {
        r["foreign_identifier"] for r in recs
        if r["url"] is not None and r["license"] != "junklicense"
        and int(r["foreign_identifier"]) >= 500
    }
    assert delta == len(admitted_new) > 0
    # duplicates and rows the cleaner must drop are both present
    fids = [r["foreign_identifier"] for r in recs]
    assert len(fids) > len(set(fids))
    assert any(r["url"] is None for r in recs)
    assert any(r["license"] == "junklicense" for r in recs)


def test_churn_never_touches_frozen_vector_samples():
    m = CatalogModel(Generator(2), vectors=True)
    m.initial(2000)
    for i in range(5):
        recs, dels, delta = m.churn(i, n_update=50, n_insert=20, n_delete=20)
        assert delta == 0
        assert not any(frozen_sample(r["media_id"]) for r in recs)
        assert not any(frozen_sample(k) for k in dels)


def test_percentile_needs_ten_samples_beyond_it():
    assert report.percentile(list(range(100)), 0.90) == 89
    assert report.percentile(list(range(99)), 0.90) is None
    assert report.percentile(list(range(20)), 0.50) == 9
    assert report.percentile(list(range(19)), 0.50) is None
    assert report.percentile([], 0.5) is None


def test_every_printed_metric_is_declared_with_its_unit():
    declared = report.declared()
    assert report.END_TO_END_UNITS == declared["end_to_end"]
    assert report.layer_units() == declared["per_layer"]
    for units in (report.END_TO_END_UNITS, report.layer_units()):
        line = json.loads(report.result_line(
            True, 3, 0, {k: 1.5 for k in units}, units
        ))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in line["metrics"].items()} == units


def test_declared_workloads_are_runnable():
    with open(report.BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    from run import _parse

    for w in spec["workloads"]:
        _parse(["--workload", w["name"], "--seed", "1", "--seconds", "1"])


def test_run_fails_without_printing_a_result_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(report.BENCHMARK_JSON, tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_overhead_pairs_traced_with_untraced_runs(tmp_path):
    import overhead

    def write(name, p50):
        (tmp_path / name).write_text(json.dumps({
            "setup_s": 10.0, "op_p50_s": {"value": p50, "samples": 5},
            "ops_per_s": 1.0 / p50, "peak_rss_mb": 100.0,
        }))

    write("run-serve-3-t0.json", 0.5)
    write("run-serve-3-t1.json", 0.75)
    write("run-refresh-3-t0.json", 9.0)  # no traced twin: not reported
    got = list(overhead.pairs(str(tmp_path)))
    assert [(w, s) for w, s, _ in got] == [("serve", 3)]
    assert got[0][2]["op_p50_s"] == 0.25 and got[0][2]["setup_s"] == 0.0


class _FakeContext:
    """Just enough of a SparkContext for the tracer: per-thread local
    properties and a status tracker that reports one job per group."""

    def __init__(self):
        self.local = threading.local()
        self.groups_seen: list[str] = []

    def getLocalProperty(self, key):
        return getattr(self.local, "props", {}).get(key)

    def setLocalProperty(self, key, value):
        props = self.local.__dict__.setdefault("props", {})
        if value is None:
            props.pop(key, None)
        else:
            props[key] = value

    def setJobGroup(self, group, desc):
        self.setLocalProperty("spark.jobGroup.id", group)
        self.setLocalProperty("spark.job.description", desc)

    def run_job(self):
        self.groups_seen.append(self.getLocalProperty("spark.jobGroup.id"))

    def statusTracker(self):
        ctx = self

        class _Tracker:
            def getJobIdsForGroup(self, group):
                return [i for i, g in enumerate(ctx.groups_seen) if g == group]

            def getJobInfo(self, job):
                return None

        return _Tracker()


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_tracer_counts_jobs_on_engine_pools_toward_their_span():
    spark = _FakeSpark()
    sc = spark.sparkContext
    tracer = Tracer(spark, enabled=True)
    submit = ThreadPoolExecutor.submit
    tracer.propagate_to_pools()
    try:
        with tracer.span("outer"):
            sc.run_job()
            with tracer.span("inner"):
                sc.run_job()
            with ThreadPoolExecutor(max_workers=2) as pool:
                for f in [pool.submit(sc.run_job) for _ in range(3)]:
                    f.result()
        assert sc.getLocalProperty("spark.jobGroup.id") is None
    finally:
        tracer.uninstall()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["inner"].parent is by_name["outer"]
    assert by_name["inner"].jobs == 1
    assert by_name["outer"].self_jobs == 4 and by_name["outer"].jobs == 5
    summary = tracer.summary(["outer", "inner", "never"], n_ops=1)
    assert summary["never"]["calls"] == 0 and summary["outer"]["calls"] == 1
    assert ThreadPoolExecutor.submit is submit


def test_tracer_disabled_records_nothing():
    tracer = Tracer(_FakeSpark(), enabled=False)
    with tracer.span("x") as sp:
        assert sp is None
    assert tracer.spans == []


def test_installed_span_excludes_its_counter_bookkeeping():
    import time

    class Layer:
        def work(self, x):
            return x + 1

    def slow_before(args):
        time.sleep(0.05)
        return 10

    def slow_counters(out, sp, args, pre):
        time.sleep(0.05)
        sp.counters["seen"] = out + pre

    tracer = Tracer(_FakeSpark(), enabled=True)
    tracer.install(Layer, "work", "layer.work", before=slow_before,
                   counters=slow_counters)
    try:
        assert Layer().work(1) == 2
    finally:
        tracer.uninstall()
    (sp,) = tracer.spans
    assert sp.counters == {"seen": 12}
    assert sp.wall < 0.05
    assert "work" in Layer.__dict__ and Layer().work(1) == 2
