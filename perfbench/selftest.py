"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

First checks that ``moves.json`` names, for every per-layer metric of
BENCHMARK.json, the end-to-end metrics and workloads it should move.  Then it
runs every workload of BENCHMARK.json at ``--scale tiny`` (a few thousand
source rows; query tables the size of sf0.001), untraced and traced, and
asserts that each run passes its output checks and prints every metric
BENCHMARK.json names, with its unit and a finite value, end-to-end values
non-zero.  Then it corrupts one stored content page and asserts that the run
counts failed operations and exits non-zero.  Takes about five minutes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload} trace={trace} printed nothing:\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1])


def _check_metrics(label: str, result: dict, spec: list[dict], nonzero: bool) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        raise AssertionError(f"{label}: metrics differ from BENCHMARK.json: "
                             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if m["unit"] != want[name]:
            raise AssertionError(f"{label}: {name} unit {m['unit']!r} != {want[name]!r}")
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            raise AssertionError(f"{label}: {name} value {m['value']!r} is not a finite number")
        if nonzero and m["value"] == 0:
            raise AssertionError(f"{label}: end-to-end metric {name} is 0")


def _check_moves(spec: dict) -> None:
    with open(os.path.join(ROOT, "perfbench", "moves.json")) as f:
        groups = json.load(f)
    listed = sorted(n for g in groups for n in g["layer_metrics"])
    layer = sorted(m["name"] for m in spec["per_layer"])
    if listed != layer:
        raise AssertionError(f"moves.json lists {len(listed)} layer metrics, BENCHMARK.json has {len(layer)}: "
                             f"missing {sorted(set(layer) - set(listed))}, extra {sorted(set(listed) - set(layer))}")
    # query.total_s stands in for the driver queries, which are no workload
    targets = {m["name"] for m in spec["end_to_end"]} | {"query.total_s"}
    workloads = {w["name"] for w in spec["workloads"]}
    for g in groups:
        for mv in g["moves"]:
            if mv["metric"] not in targets or mv["workload"] not in workloads:
                raise AssertionError(f"moves.json: {g['layer_metrics'][0]} moves unknown {mv}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    _check_moves(spec)
    print("selftest: moves.json covers every per-layer metric", flush=True)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{w['name']} --trace {trace}"
            code, result = _run(w["name"], trace)
            if code != 0 or not result["correct"] or result["failed"]:
                raise AssertionError(f"{label}: exit {code}, {result['failed']} of {result['attempted']} failed")
            _check_metrics(label, result, spec[key], nonzero=trace == 0)
            print(f"selftest: {label}: {len(result['metrics'])} metrics, {result['attempted']} operations ok",
                  flush=True)
    code, result = _run("column_read", 0, "--corrupt")
    if code == 0 or result["correct"] or result["failed"] / result["attempted"] <= 0:
        raise AssertionError(f"corrupted page not detected: exit {code}, result {result}")
    print(f"selftest: corrupted page: {result['failed']} of {result['attempted']} operations failed, exit {code}")
    print("selftest: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
