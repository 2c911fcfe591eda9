"""Smoke test of the benchmark itself, in one process. Each workload runs
at its own scale, on its committed goldens; both are small (``iterative``
reads the 500-row ``embeddings`` table, the same size as at sf0.001).

For every workload it runs one untraced pass and one traced pass on one
session, then checks that:

1. every end-to-end and per-layer metric named in BENCHMARK.json is
   produced, with the unit BENCHMARK.json gives it;
2. the traced outputs equal the untraced outputs: every operation of
   both passes matches the same committed golden;
3. the tracer wrapped the layers during the traced pass and no wrapper
   is left afterwards.

Usage, from the root of a checkout::

    python3 wlbench/selftest.py

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracer as tr  # noqa: E402
from run import END_TO_END, PER_LAYER, Bench, end_to_end, isolate, per_layer, setup, shutdown, time_import  # noqa: E402
from workloads import WORKLOADS, inputs  # noqa: E402


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    import_s = time_import()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []
    for group, units in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[group]}
        if declared != units:
            problems.append(f"{group}: BENCHMARK.json {declared} != run.py {units}")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        problems.append(f"workloads: BENCHMARK.json != {sorted(WORKLOADS)}")

    os.makedirs(os.path.join(HERE, ".scratch"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, ".scratch"))
    isolate(root, scratch)
    spark = None
    try:
        first = WORKLOADS[sorted(WORKLOADS)[0]]
        spark, setup_rec = setup(inputs(first.sf), len(os.sched_getaffinity(0)), import_s)
        for w in WORKLOADS.values():
            bench = Bench(spark, w, inputs(w.sf), seed=0)
            untraced = bench.run_pass("smoke")
            traced = bench.traced_pass()
            left = tr.leftover_wrappers()
            if left:
                problems.append(f"{w.name}: wrappers left after the traced pass: {left[:5]}")
            if traced["frame.calls"] + traced["queries.load.calls"] == 0:
                problems.append(f"{w.name}: the traced pass recorded no layer calls")
            if bench.failed or bench.attempted != 2 * len(w.ops):
                problems.append(f"{w.name}: {bench.failed} of {bench.attempted} operations failed")
            for name, values, units in (
                ("end_to_end", end_to_end(setup_rec, [untraced]), END_TO_END),
                ("per_layer", per_layer(setup_rec, untraced, [untraced], traced), PER_LAYER),
            ):
                missing = sorted(set(units) - set(values))
                extra = sorted(set(values) - set(units))
                bad = [k for k, v in values.items() if not isinstance(v, (int, float)) or v != v]
                if missing or extra or bad:
                    problems.append(f"{w.name} {name}: missing {missing}, extra {extra}, not numbers {bad}")
            print(f"{w.name}: {bench.attempted} operations, {bench.failed} failed, "
                  f"{traced['spark.jobs']} jobs traced, overhead {traced['trace.pass_s'] - untraced['wall_s']:.2f}s")
    finally:
        shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest ok" if not problems else f"selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
