"""Benchmark harness: registry bench queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage: python bench.py [name ...] [--reps N]

Runs the registry's bench entries (``catalog.HEADLINE``), or the named
registry queries, through ``run.run_query`` after ``run.warm``.  Each query
is forced end-to-end with a noop-format write (full computation of every
output column, no collect-to-driver cost, no result pruning shortcuts);
with ``--reps N`` each runs N times and its median is recorded.  One line
per run goes to stderr with the construct/action split; stdout gets ONE
JSON line:
  {"metric": "total_wall_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "construct_sec": {name: sec, ...},
   "core20_wall_sec": N, "n_queries": N, "failed": {name: "Type: msg"},
   "regressions": {...}, "sf": 0.1, "ratio_vs_anchor": R,
   "ratio_vs_rolling": R, "note": "..."}
Totals cover successful queries only; any failure exits 1.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ssis_to_dbt_spark import catalog  # noqa: E402
from ssis_to_dbt_spark.run import run_query, session, warm  # noqa: E402


def _load_gate(path: str) -> dict[str, float]:
    # one loader for both gate files: accepts the nested
    # {"queries": {...}, ...} shape (anchor) AND the flat {name: sec} shape
    # (rolling baseline), and raises loudly on anything else — a format
    # drift must fail, not silently yield a None/NaN ratio
    with open(path) as fh:
        data = json.load(fh)
    q = data.get("queries") if isinstance(data, dict) else None
    if isinstance(q, dict):
        data = q
    if not isinstance(data, dict) or not all(
        isinstance(v, (int, float)) for v in data.values()
    ):
        raise ValueError(f"{path}: unrecognized bench gate schema")
    return data


def main() -> int:
    args = sys.argv[1:]
    reps = 1
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    unknown = [n for n in args if n not in catalog.ALL_QUERIES]
    if unknown or reps < 1:
        print(f"usage: bench.py [name ...] [--reps N>=1]; unknown: {unknown}",
              file=sys.stderr)
        return 2
    names = args or catalog.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0
    spark = session("ssis_to_dbt_spark_bench")
    warm(spark, sf_dir)

    def run_once(name: str):
        rec = run_query(spark, name, sf_dir)
        print(json.dumps({"q": name, "wall_s": round(rec.wall_s, 3),
                          "construct_s": round(rec.construct_s, 3),
                          "action_s": round(rec.action_s, 3),
                          "error": rec.error}),
              file=sys.stderr, flush=True)
        return rec

    times: dict[str, float] = {}
    construct: dict[str, float] = {}
    failed: dict[str, str] = {}
    for name in names:
        recs = [run_once(name) for _ in range(reps)]
        errors = [r.error for r in recs if r.error]
        if errors:
            failed[name] = errors[0]
            continue
        recs.sort(key=lambda r: r.wall_s)
        med = recs[len(recs) // 2]
        times[name] = round(med.wall_s, 3)
        construct[name] = round(med.construct_s, 3)

    # Per-query regression gate against the FROZEN ANCHOR.
    # bench_anchor.json holds the earliest recorded quiet per-query
    # median and is NEVER refreshed — a regression can no longer hide by
    # being absorbed into a rolling-baseline refresh.  bench_baseline.json
    # stays as the ROLLING reference (latest quiet medians) for
    # like-for-like round deltas; both ratios are reported.  A one-shot
    # exceedance is NOT a verdict — any query over 1.5x its anchor re-runs
    # twice more and both its recorded time and the gate use the median of
    # the 3 reps, so a single cold-start/noise spike cannot flag.  Only
    # applied at the anchor's own scale factor; informational (the driver
    # records the whole JSON line either way).
    here = os.path.dirname(os.path.abspath(__file__))
    regressions: dict[str, dict] = {}
    anchor: dict[str, float] = {}
    rolling: dict[str, float] = {}
    anchor_path = os.path.join(here, "bench_anchor.json")
    base_path = os.path.join(here, "bench_baseline.json")
    if os.path.exists(anchor_path):
        anchor = _load_gate(anchor_path)
    if os.path.exists(base_path):
        rolling = _load_gate(base_path)
    if sf == 0.1 and anchor:
        for name, t in times.items():
            b = anchor.get(name)
            if b is None or b <= 0.3 or t <= 1.5 * b:
                continue
            reruns = [run_once(name) for _ in range(2)]
            reps_s = sorted([t] + [round(r.wall_s, 3) for r in reruns
                                   if not r.error])
            med = round(statistics.median(reps_s), 3)
            times[name] = med
            if med > 1.5 * b:
                regressions[name] = {"sec": med, "anchor_sec": b,
                                     "ratio": round(med / b, 2),
                                     "reps": reps_s}

    def _ratio(base: dict[str, float]) -> float | None:
        common = [n for n in times if n in base and base[n] > 0]
        if not common:
            return None
        return round(
            sum(times[n] for n in common) / sum(base[n] for n in common), 3
        )

    ratio_vs_anchor = _ratio(anchor) if sf == 0.1 else None
    ratio_vs_rolling = _ratio(rolling) if sf == 0.1 else None

    total = round(sum(times.values()), 3)
    core20 = round(sum(t for n, t in times.items() if n in catalog.CORE20), 3)
    # ONE line, and the last: the capture keeps the TAIL of stdout, so the
    # line must carry every verdict-relevant number including the per-query
    # map (71 floats is a few KB; well under any line-length risk)
    print(json.dumps(
        {"metric": "total_wall_sec", "value": total, "unit": "sec",
         "queries": times, "construct_sec": construct,
         "core20_wall_sec": core20, "n_queries": len(times),
         "failed": failed,
         "regressions": regressions, "sf": sf,
         "ratio_vs_anchor": ratio_vs_anchor,
         "ratio_vs_rolling": ratio_vs_rolling,
         "note": ("ratio_vs_anchor compares the common-query sum against "
                  "the FROZEN bench_anchor.json (earliest quiet medians, "
                  "never refreshed); ratio_vs_rolling against the rolling "
                  "bench_baseline.json (latest quiet medians).  The "
                  "regression gate runs on the anchor.  Driver-machine "
                  "runs historically show a uniform ~1.2-1.4x uplift vs "
                  "quiet runs (shared-machine load); compare against "
                  "BENCH_LOCAL_r{N}.json before reading per-query deltas "
                  "as code regressions.  Totals cover successful queries "
                  "only; entries in failed did not finish")},
        separators=(",", ":"),
    ))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
