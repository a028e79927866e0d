"""Metric declarations and summary statistics for the benchmark.

Kept free of Spark and engine imports so the benchmark's own tests can
check them without starting a session.
"""

from __future__ import annotations

import json
import math
import os
import statistics

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)

# a percentile is reported only with at least this many samples above it
MIN_TAIL_SAMPLES = 10

# per-layer metrics: span name -> the per-op fields reported for it
LAYER_FIELDS = {
    "landing.write": ("s",),
    "catalog.txn": ("self_s",),
    "cowtable.merge": (
        "calls", "s", "jobs", "stages", "files_rewritten", "files_skipped",
        "files_written", "bytes_written", "rows_committed",
    ),
    "cowtable.delete": ("s", "jobs"),
    "catalog.maintain_tables": ("calls", "s", "jobs"),
    "catalog.recover": ("s",),
    "catalog.vacuum_tables": ("s", "files_deleted"),
    "cowtable.compact": ("s", "files_written"),
    "searchindex.refresh": ("calls", "s", "jobs"),
    "vectorindex.refresh": ("calls", "s", "jobs"),
    "incindex.maintain": ("s",),
    "matview.refresh": ("calls", "s", "jobs"),
    "popularity.constants": ("s", "jobs"),
    "popularity.score": ("s", "jobs"),
    "searchindex.bm25": ("calls", "s", "jobs", "files_read"),
    "vectorindex.search": ("calls", "s", "jobs"),
    "cowtable.read_pruned": ("calls", "s", "jobs", "files_read"),
}
_UNITS = {
    "s": "s", "self_s": "s", "calls": "count", "jobs": "count",
    "stages": "count", "bytes_written": "B", "rows_committed": "rows",
}


def layer_metric_name(span: str, field: str) -> str:
    # catalog.txn reports its self time (the transaction minus its merge)
    return f"{span}.s" if field == "self_s" else f"{span}.{field}"


def layer_units() -> dict[str, str]:
    units = {
        layer_metric_name(span, f): _UNITS.get(f, "count")
        for span, fields in LAYER_FIELDS.items()
        for f in fields
    }
    units.update({
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_failed": "count",
        "trace.op_p50_s": "s",
    })
    return units


END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "stored_bytes_per_row": "B/row",
}


def percentile(values, q: float):
    """Nearest-rank ``q`` percentile, or None unless at least
    ``MIN_TAIL_SAMPLES`` samples lie above it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_TAIL_SAMPLES:
        return None
    return sorted(values)[rank - 1]


def median(values) -> float:
    return float(statistics.median(values))


def declared(path: str = BENCHMARK_JSON) -> dict[str, dict[str, str]]:
    """{'end_to_end'|'per_layer': {metric: unit}} from BENCHMARK.json."""
    with open(path) as fh:
        spec = json.load(fh)
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]}
        for kind in ("end_to_end", "per_layer")
    }


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(values[k]), "unit": units[k]} for k in units
        },
    })
