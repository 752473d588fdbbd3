"""Compare two sets of benchmark records workload by workload, layer by layer.

    python3 perfbench/layerdiff.py BASE NEW

BASE and NEW are each a record written by ``run.py --out`` or a directory of
them (for example one per seed).  Records are grouped by workload; within a
group each metric is the median over that side's records, traced and
untraced metrics alike.  For every workload the table lists each metric that
is non-zero on either side, grouped by layer (the part of the name before the
first dot), with both medians, the difference and the ratio NEW/BASE.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """{workload: {metric: [values]}} from one record or a directory."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        for name, value in rec.get("metrics", {}).items():
            if isinstance(value, (int, float)):
                out[rec["workload"]][name].append(float(value))
    return out


def _fmt(value, width, digits) -> str:
    return f"{'-':>{width}}" if value is None else f"{value:{width}.{digits}f}"


def diff(base: dict, new: dict) -> list[str]:
    lines = []
    for workload in sorted(set(base) | set(new)):
        b, n = base.get(workload, {}), new.get(workload, {})
        lines.append(f"== {workload}")
        lines.append(f"{'metric':34} {'base':>14} {'new':>14} {'new-base':>14} {'new/base':>9}")
        by_layer = defaultdict(list)
        for metric in sorted(set(b) | set(n)):
            # end-to-end metric names have no layer prefix; list them first
            by_layer[metric.split(".", 1)[0] if "." in metric else ""].append(metric)
        for layer in sorted(by_layer):
            for metric in by_layer[layer]:
                vb = statistics.median(b[metric]) if b.get(metric) else None
                vn = statistics.median(n[metric]) if n.get(metric) else None
                if not vb and not vn:
                    continue
                d = (vn - vb) if vb is not None and vn is not None else None
                r = (vn / vb) if vb and vn is not None else None
                lines.append(f"{metric:34} {_fmt(vb, 14, 4)} {_fmt(vn, 14, 4)} "
                             f"{_fmt(d, 14, 4)} {_fmt(r, 9, 3)}")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="layer-by-layer diff of two benchmark runs")
    p.add_argument("base")
    p.add_argument("new")
    args = p.parse_args(argv)
    print("\n".join(diff(load(args.base), load(args.new))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
