"""Catalog benchmark: one named workload, one seed, a closed loop of one
client for a fixed time, then output checks and one JSON result line.

    python3 perfbench/run.py --workload ingest|refresh|serve \
        --seed N --seconds S --trace 0|1

Run from the repository root: the engine package is imported from the
working directory and every file the run writes stays under
``.bench_run/`` (removed at exit) and ``.bench_out/`` (the per-run
report and, with ``--trace 1``, the span dump). ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "refresh", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class SparkCounters:
    """Scheduler-wide counters: jobs and stages submitted so far, and
    tasks failed so far, read from the driver JVM."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()

    def jobs(self) -> int:
        return int(self.sc.dagScheduler().nextJobId())

    def stages(self) -> int:
        return int(self.sc.dagScheduler().nextStageId())

    def failed_tasks(self) -> int:
        seq = self.sc.statusStore().executorList(True)
        return sum(int(seq.apply(i).failedTasks()) for i in range(seq.size()))


def start_spark(root: str, work: str):
    """A local session on every available core whose Python workers import
    the engine from ``root`` and whose scratch, warehouse, metastore and
    temp files all live under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_RUN_DIR"] = f"{work}/spark"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # no JVM writes outside the work dir: no hsperfdata in /tmp, temp
    # files in the work dir, for the launcher and the driver alike
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    from openverse_catalog_spark.session import get_spark

    spark = get_spark(
        app_name="catalog-benchmark",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={work}/spark/derby {jvm_opts}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its
    stdin closes), and wait until that process has ended."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_tracing(tracer) -> None:
    """Wrap the engine's public layer entry points (traced run only)."""
    from openverse_catalog_spark.operators.catalog import LakeCatalog
    from openverse_catalog_spark.operators.cowtable import CowTable
    from openverse_catalog_spark.operators.incindex import IncrementalIndex
    from openverse_catalog_spark.operators.matview import MaterializedView
    from openverse_catalog_spark.operators.searchindex import SearchIndex
    from openverse_catalog_spark.operators.vectorindex import VectorIndex
    from openverse_catalog_spark.sources import landing

    from workloads import du

    def commit_dirs(t) -> set[str]:
        # every commit writes its data files into a new data/c<uuid> dir
        with contextlib.suppress(FileNotFoundError):
            return set(os.listdir(f"{t.root}/data"))
        return set()

    def merge_counters(out, sp, args, before):
        t = args[0]
        sp.counters.update(
            files_rewritten=out["files_rewritten"],
            files_skipped=out["files_skipped"],
            files_written=out["files_written"],
            bytes_written=sum(du(f"{t.root}/data/{d}") for d in commit_dirs(t) - before),
            rows_committed=out["rows"] - t.live_rows(out["version"] - 1),
        )

    tracer.propagate_to_pools()
    tracer.install(landing, "write_landing", "landing.write")
    tracer.install(CowTable, "merge", "cowtable.merge",
                   before=lambda args: commit_dirs(args[0]), counters=merge_counters)
    tracer.install(CowTable, "delete", "cowtable.delete")
    tracer.install(CowTable, "compact", "cowtable.compact",
                   counters=lambda out, sp, *_: sp.counters.update(
                       files_written=out.get("files_written", 0)))
    tracer.install(LakeCatalog, "maintain_tables", "catalog.maintain_tables")
    tracer.install(LakeCatalog, "recover", "catalog.recover")
    tracer.install(LakeCatalog, "vacuum_tables", "catalog.vacuum_tables",
                   counters=lambda out, sp, *_: sp.counters.update(
                       files_deleted=sum(out.values())))
    tracer.install(SearchIndex, "refresh", "searchindex.refresh")
    tracer.install(VectorIndex, "refresh", "vectorindex.refresh")
    tracer.install(IncrementalIndex, "maintain", "incindex.maintain")
    tracer.install(MaterializedView, "refresh", "matview.refresh")


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "openverse_catalog_spark")):
        print("run from the repository root (openverse_catalog_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(root, work)
        from spans import Tracer
        from workloads import WORKLOADS

        tracer = Tracer(spark, enabled=False)
        counters = SparkCounters(spark)
        wl = WORKLOADS[args.workload](spark, f"{work}/fixture", args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0

        if args.trace:
            tracer.enabled = True
            install_tracing(tracer)
        lat, errors, failed = [], [], 0
        jobs0, stages0, ft0 = counters.jobs(), counters.stages(), counters.failed_tasks()
        ft = ft0
        start = time.perf_counter()
        i = 0
        # the clock is read only between whole blocks of ops
        while i % wl.block or time.perf_counter() - start < args.seconds:
            t = time.perf_counter()
            try:
                fails = wl.op(i)
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                fails = [traceback.format_exc(limit=3)]
            lat.append(time.perf_counter() - t)
            ft_now = counters.failed_tasks()
            if ft_now > ft:
                fails.append(f"{ft_now - ft} Spark tasks failed")
            ft = ft_now
            if fails:
                failed += 1
                errors.extend(fails)
            i += 1
        wall = time.perf_counter() - start
        jobs, stages = counters.jobs() - jobs0, counters.stages() - stages0
        tracer.enabled = False
        tracer.uninstall()
        # measured before the checks, which build indexes of their own
        stored = wl.stored_bytes_per_row()

        mismatches = wl.check()
        errors.extend(mismatches)
        attempted = len(lat)
        failed = min(attempted, failed + len(mismatches))
        # an op that raised before committing leaves the checks nothing
        # new to disagree with: no completed op, no correct run
        correct = not mismatches and failed < attempted
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_kb = _vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)
        p50 = report.median(lat)
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "ops_per_s": attempted / wall,
            "stored_bytes_per_row": stored,
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "attempted": attempted, "failed": failed,
            "failed_ratio": failed / attempted,
            "op_p50_s": {"value": p50, "samples": attempted},
            "op_p90_s": {"value": report.percentile(lat, 0.90), "samples": attempted},
            "wall_s": wall, "jobs_per_op": jobs / attempted,
            # detail only: the JVM's high-water mark depends on when its
            # collector runs and spreads too widely across runs
            "peak_rss_mb": rss_kb / 1024.0,
            "phases": wl.phase.times,
            "notes": wl.notes,
            "errors": errors[:20],
            **{k: v for k, v in e2e.items() if k != "op_p50_s"},
        }
        if args.trace:
            units = report.layer_units()
            summary = tracer.summary(report.LAYER_FIELDS, attempted)
            values = {
                report.layer_metric_name(span, f): summary[span].get(f, 0.0)
                for span, fields in report.LAYER_FIELDS.items()
                for f in fields
            }
            values.update({
                "spark.jobs_per_op": jobs / attempted,
                "spark.stages_per_op": stages / attempted,
                "spark.tasks_failed": counters.failed_tasks() - ft0,
                "trace.op_p50_s": p50,
            })
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"detail": detail, "metrics": values},
            )
        else:
            units, values = report.END_TO_END_UNITS, e2e
        name = f"run-{args.workload}-{args.seed}-t{args.trace}.json"
        with open(os.path.join(out_dir, name), "w") as fh:
            json.dump(detail, fh, indent=1)
        print(json.dumps(detail))
        print(report.result_line(correct, attempted, failed, values, units))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only once no other run uses it


if __name__ == "__main__":
    sys.exit(run(_parse(sys.argv[1:])))
