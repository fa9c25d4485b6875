#!/usr/bin/env python3
"""Pins the query digests the neardup workload checks each pass against.

    python3 perfbench/pin_digests.py

Reads the digests every neardup run left in perfbench/.out (run the workload
in at least two fresh JVMs with different seeds first) and writes
perfbench/digests.json with each query whose digest is the same in every
run. Queries whose output differs between runs are named and left unpinned.
Pin only output whose graft.Verify dump passed tools/oracle_precheck.py on
the workload's tables; delete any query that did not from digests.json.
"""
import json
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def main():
    runs = [json.loads(p.read_text())
            for p in sorted((BENCH / ".out").glob("digests-neardup-*.json"))]
    if len(runs) < 2:
        raise SystemExit("need digests from at least two neardup runs")
    names = sorted(set().union(*runs))
    pins = {}
    for q in names:
        seen = {r.get(q) for r in runs}
        if len(seen) == 1:
            pins[q] = seen.pop()
        else:
            print(f"{q}: differs between runs {sorted(map(str, seen))}; not pinned")
    (BENCH / "digests.json").write_text(json.dumps(pins, indent=2) + "\n")
    print(f"pinned {len(pins)} of {len(names)} queries from {len(runs)} runs")


if __name__ == "__main__":
    main()
