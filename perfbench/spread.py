"""Run-to-run spread of the end-to-end metrics, against their bounds.

    python3 perfbench/spread.py 101 110

Reads the untraced run records ``.perfbench/results/<workload>-trace0-
seed<n>.json`` for seeds first..last and prints, per workload and
end-to-end metric of BENCHMARK.json: the run count, the median, the
distance between the quartiles as a share of the median, and the bound.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from stats import iqr_share, median

ROOT = Path(__file__).resolve().parent.parent


def main(argv: list[str]) -> int:
    first, last = int(argv[0]), int(argv[1])
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    results = ROOT / ".perfbench" / "results"
    for w in bench["workloads"]:
        records = [
            json.loads(p.read_text())
            for seed in range(first, last + 1)
            if (p := results / f"{w['name']}-trace0-seed{seed}.json").is_file()
        ]
        for m in bench["end_to_end"]:
            values = [r["result"]["metrics"][m["name"]]["value"] for r in records]
            if len(values) < 2:
                print(f"{w['name']:8s} {m['name']:12s} n={len(values)}: too few runs")
                continue
            print(
                f"{w['name']:8s} {m['name']:12s} n={len(values):2d} "
                f"median={median(values):12.4f} {m['unit']:3s} "
                f"iqr/median={iqr_share(values):.3f} bound={m['bound']}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
