"""Summarize repeated runs: per workload and metric, the median over runs,
the inter-quartile spread as a share of it (how steady the metric is
from run to run), and tails pooled over every run's samples.

    python3 perfbench/summarize.py [.perfbench_out]

Reads the ``samples-*.json`` files that ``run.py`` leaves in
``.perfbench_out/``.
"""

from __future__ import annotations

import glob
import json
import os
import sys

from stats import median, spread, tail

#: per-operation latency samples, the ones a pooled tail means something for
LATENCIES = ("apply_ms", "lookup_ms", "snapshot_read_s", "mv_lag_s")


def main(out_dir: str) -> int:
    runs: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "samples-*.json"))):
        with open(path) as f:
            doc = json.load(f)
        runs.setdefault(f"{doc['workload']} trace={doc['trace']}", []).append(doc)
    if not runs:
        print(f"no samples-*.json under {out_dir}", file=sys.stderr)
        return 1
    for key, docs in sorted(runs.items()):
        print(f"== {key}: {len(docs)} runs, seeds {sorted(d['seed'] for d in docs)}")
        names = sorted({n for d in docs for n in d["metrics"]})
        for n in names:
            vals = [d["metrics"][n] for d in docs if n in d["metrics"]]
            sp = f"{spread(vals):.3f}" if len(vals) >= 2 and median(vals) else "-"
            print(f"  {n:32s} median {median(vals):14.6g}  spread {sp:>6s}  runs {len(vals)}")
        for n in LATENCIES:
            pooled = [v for d in docs for v in d["samples"].get(n, [])]
            t = tail(pooled)
            if t is not None:
                print(
                    f"  pooled {n:25s} p50 {median(pooled):12.6g}"
                    f"  p{t[1]:g} {t[0]:12.6g}  n={t[2]}"
                )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else ".perfbench_out"))
