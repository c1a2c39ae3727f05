"""Summarize benchmark records (JSONL written by ``run.py --record``).

    python3 perfbench/summarize.py perfbench/evidence/pipeline_1sym.jsonl

For each workload: every end-to-end metric's median over the runs and
its spread, the distance between the first and third quartile as a
share of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound from BENCHMARK.json; then per run, the steal share and
the pass times by position (warm-up first).
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main(paths: list[str]) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = defaultdict(list)
    for path in paths:
        for line in Path(path).read_text().splitlines():
            rec = json.loads(line)
            if not rec["trace"]:
                runs[rec["workload"]].append(rec)
    for workload, recs in runs.items():
        print(f"{workload}: {len(recs)} runs, head {recs[0]['git_head'][:12]}, "
              f"failed passes {sum(r['failed'] for r in recs)} of {sum(r['attempted'] for r in recs)}")
        for name, bound in bounds.items():
            values = [r["end_to_end"][name] for r in recs]
            s = spread(values) if len(values) > 1 else 0.0
            print(f"  {name:12s} median {statistics.median(values):10.3f}  spread {s:6.3f}  "
                  f"bound {bound:.2f}  (bound/3 {bound / 3:.3f})")
        for r in recs:
            passes = " ".join(f"{p['pass_s']:6.2f}" for p in r["passes"])
            print(f"    seed {r['seed']:4d}  steal {r['steal_pct']:5.2f}%  load1 {r['load1']:5.2f}  "
                  f"setup {r['end_to_end']['setup_s']:6.2f}  passes {passes}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
