"""Fast self-test of the benchmark on tiny fixtures.

  python3 perfbench/selftest.py

For every workload it makes one untraced and one traced run on inputs
about a tenth of the real size, and checks that
  - every run's outputs pass the workload's output check;
  - every end-to-end metric is measured by each untraced run, every
    per-layer metric of a layer the workload calls by its traced run,
    and every per-layer metric by the traced run of some workload;
  - the traced op's spans nest;
  - the layers' self times cover at least 90 % of the traced op's wall
    time;
and reports the tracing overhead: traced op wall time minus the untraced
median. Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import REPO, WORK, fixtures, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

MIN_SELF_SHARE = 0.9


def shrink() -> None:
    # a work dir of its own: tiny fixtures and their run records never
    # mix with real ones (pin.py reads the real records)
    run.WORK = os.path.join(WORK, "selftest")
    fixtures.TRANSCRIPT_SHAPE = dict(n_convs=300, hot_convs=2, hot_mult=5)
    fixtures.HOT_BAND = (500, 1_000)
    fixtures.TOTAL_TURNS, fixtures.TOTAL_TOL = 15_000, 0.05
    fixtures.QUERY_SIZES = dict(events=2_000, users=50, documents=100,
                                embeddings=100, lineitem=6_000)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    shrink()
    problems: list[str] = []
    layer_seen: set[str] = set()
    for wl in spec["workloads"]:
        name = wl["name"]
        plain = run.run(name, seed=0, traced=False)
        traced = run.run(name, seed=0, traced=True)
        for label, out in (("untraced", plain), ("traced", traced)):
            if out["stats"]["failed"]:
                problems.append(f"{name} {label}: {out['stats']['failed']}"
                                f" of {out['stats']['attempted']} ops failed")
        for label, wanted, out, layers in (
                ("untraced", spec["end_to_end"], plain, None),
                ("traced", spec["per_layer"], traced, WORKLOADS[name].LAYERS)):
            try:
                run.select_metrics(wanted, out["metrics"], layers)
            except RuntimeError as e:
                problems.append(f"{name} {label}: {e}")
        layers = traced["metrics"]
        layer_seen |= set(layers)
        share = layers["trace.self_share"]
        if share < MIN_SELF_SHARE:
            problems.append(f"{name}: layer self times cover {share:.1%} of "
                            f"the traced op, under {MIN_SELF_SHARE:.0%}")
        overhead = layers["trace.wall_s"] - plain["metrics"]["run_s"]
        print(f"# selftest {name}: untraced op {plain['metrics']['run_s']:.2f}s"
              f", traced op {layers['trace.wall_s']:.2f}s, tracing overhead "
              f"{overhead:+.2f}s, self-time share {share:.1%}", flush=True)
    missing = {m["name"] for m in spec["per_layer"]} - layer_seen
    if missing:
        problems.append(f"per-layer metrics no workload emits: "
                        f"{sorted(missing)}")
    for p in problems:
        print(f"# selftest FAILED: {p}", flush=True)
    print("# selftest " + ("failed" if problems else "passed"), flush=True)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
