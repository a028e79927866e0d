"""Tracing overhead: traced minus untraced end-to-end metrics for runs of
the same workload and seed.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 1
    python3 perfbench/overhead.py            # every pair in .bench_out/

Reads the per-run reports ``run.py`` leaves in ``.bench_out/`` and prints
one JSON line per (workload, seed) that has both a traced and an untraced
report.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

METRICS = ("setup_s", "op_p50_s", "ops_per_s", "peak_rss_mb")


def _value(detail: dict, name: str) -> float:
    v = detail[name]
    return v["value"] if isinstance(v, dict) else v


def pairs(out_dir: str):
    runs = {}
    for path in glob.glob(os.path.join(out_dir, "run-*-t[01].json")):
        m = re.fullmatch(r"run-(\w+)-(-?\d+)-t([01])\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                runs[(m[1], int(m[2]), int(m[3]))] = json.load(fh)
    for (w, seed, trace), untraced in sorted(runs.items()):
        traced = runs.get((w, seed, 1))
        if trace == 0 and traced is not None:
            yield w, seed, {
                k: _value(traced, k) - _value(untraced, k) for k in METRICS
            }


def main(out_dir: str = ".bench_out") -> int:
    found = False
    for w, seed, delta in pairs(out_dir):
        found = True
        print(json.dumps({"workload": w, "seed": seed, "traced_minus_untraced": delta}))
    return 0 if found else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
