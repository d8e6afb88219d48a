"""Pin output fingerprints from finished runs.

  python3 perfbench/pin.py

Reads every run record under perfbench/_work/results/ and writes, per
workload and seed, the outputs' [rows, hash] fingerprints into
perfbench/pins.json. Later runs of that workload and seed fail their
output check when an output differs from its pin. A seed whose runs
disagree with each other is reported and left unpinned.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import WORK  # noqa: E402
from perfbench.workloads import PINS  # noqa: E402


def main() -> int:
    seen: dict[tuple[str, str], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(WORK, "results", "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if rec["stats"]["failed"] or not rec.get("fingerprints"):
            continue
        seen.setdefault((rec["workload"], str(rec["seed"])), []).append(
            rec["fingerprints"])
    pins: dict = {}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    bad = 0
    for (workload, seed), fps in sorted(seen.items()):
        if any(fp != fps[0] for fp in fps):
            print(f"{workload} seed {seed}: runs disagree, not pinned")
            bad += 1
            continue
        pins.setdefault(workload, {})[seed] = fps[0]
        print(f"{workload} seed {seed}: pinned from {len(fps)} run(s)")
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
