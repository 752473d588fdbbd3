"""Checkpoint-lifecycle audit: does the registry keep a long session healthy?

Runs the bench list (``catalog.HEADLINE``) in one session through the one
run path, with no harness-side release of pinned blocks between queries,
then re-runs the first three queries at the end and reports the re-run /
in-loop ratio plus the persistent-RDD population over time.  Passing = the
registry's own block scope keeps the session healthy: re-runs <= 1.3x
their in-loop time, block count bounded by one query's working set rather
than growing with the session.  A failing query is listed under ``failed``
and does not stop the audit.

Usage: python tools/leak_audit.py [--quick N]  (N = only first N queries)
Scale factor: $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data, as bench.py).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssis_to_dbt_spark import catalog  # noqa: E402
from ssis_to_dbt_spark.run import run_query, session, warm  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    names = list(catalog.HEADLINE)
    if "--quick" in args:
        i = args.index("--quick")
        names = names[: int(args[i + 1])]
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = session("leak_audit")
    warm(spark, sf_dir)

    def n_blocks() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    in_loop: dict[str, float] = {}
    failed: dict[str, str] = {}
    max_pinned = 0
    for name in names:
        rec = run_query(spark, name, sf_dir)
        pinned = n_blocks()
        max_pinned = max(max_pinned, pinned)
        if rec.error:
            failed[name] = rec.error
        else:
            in_loop[name] = round(rec.wall_s, 3)
        print(json.dumps({"q": name, "sec": round(rec.wall_s, 3),
                          "pinned_rdds": pinned, "error": rec.error}),
              flush=True)

    rerun = {}
    for name in list(in_loop)[:3]:
        rec = run_query(spark, name, sf_dir)
        if rec.error:
            failed[f"{name} (re-run)"] = rec.error
        else:
            rerun[name] = round(rec.wall_s, 3)
    ratios = {
        n: round(rerun[n] / in_loop[n], 2) if in_loop[n] > 0 else None
        for n in rerun
    }
    print(json.dumps({
        "in_loop_total": round(sum(in_loop.values()), 3),
        "rerun": rerun,
        "rerun_over_inloop": ratios,
        "max_pinned_rdds": max_pinned,
        "final_pinned_rdds": n_blocks(),
        "failed": failed,
        "pass": all(r is None or r <= 1.3 for r in ratios.values()),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
