#!/usr/bin/env python3
"""Record the output check of each seed in perfbench/expected.json.

    python3 perfbench/record_expected.py --workload er_code --seeds 1-20 9973

Run from the repository root.  One session runs the workload's unit once
per seed and stores its ``check`` (the readable summary ``run.py`` compares
every unit against).  A unit that breaks an invariant is not recorded.  Run
it again only when a change alters the program's results on purpose.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def seeds_of(specs: list[str]) -> list[int]:
    out = []
    for spec in specs:
        lo, _, hi = spec.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("er_code", "curate_docs"))
    ap.add_argument("--seeds", nargs="+", required=True, help="seeds or ranges: 1-20 9973")
    args = ap.parse_args()

    expected = run.load_expected()
    got = expected.setdefault(args.workload, {})
    with run.bench_session(trace=False) as s:
        from workloads import WORKLOADS

        cls = WORKLOADS[args.workload]
        for seed in seeds_of(args.seeds):
            w = cls(s["spark"], seed, work_dir=os.path.join(s["run_dir"], "work"))
            w.load()
            w.prepare()
            unit = w.run()
            s["spark"].catalog.clearCache()
            if unit.problems:
                print(f"seed {seed}: not recorded, {unit.problems}", file=sys.stderr)
                continue
            got[str(seed)] = unit.check
            print(f"seed {seed}: {json.dumps(unit.check, sort_keys=True)}", flush=True)
    expected[args.workload] = dict(sorted(got.items(), key=lambda kv: int(kv[0])))
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
