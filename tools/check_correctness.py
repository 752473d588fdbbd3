"""Local replica of the driver's correctness gate.

Runs registry queries on a scale-factor dir and compares each against its
DuckDB oracle on the same parquet: row count, column-name set, and exact
order-insensitive value comparison (stricter than any value hash — if this
passes, the driver's hash passes).

Usage: python tools/check_correctness.py [sf_dir] [name ...] [--all] [--json OUT]

- no names: the 50-entry driver window (``catalog.QUERIES``), as the
  driver runs it;
- names: just those registry entries (window or not);
- ``--all``: every registered query (``catalog.ALL_QUERIES``) — backs the
  README claim that all registered queries pass;
- ``--json OUT``: also write a per-query record (status/rows/secs, plus
  the shuffle-partition count and sf_dir), the ``REGISTRY_r{N}.json``
  artifact.

sf_dir defaults to the sf0.01 test data; ``$CHECK_SHUFFLE`` sets the
shuffle-partition count (default 16).  Exits 1 if any query fails.
"""

from __future__ import annotations

import json
import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssis_to_dbt_spark import catalog  # noqa: E402
from ssis_to_dbt_spark.run import run_query, session  # noqa: E402
from ssis_to_dbt_spark.session import tune_for_correctness  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if v is None:
        return ("null",)
    return ("s", str(v))


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize(r[i]) for i in order) for r in rows)


def compare(rec, con) -> str | None:
    """Problems between a collected run record and its oracle, or None."""
    try:
        res = con.sql(catalog.ALL_ORACLES[rec.name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as exc:
        return f"oracle error: {exc}"
    srows, scols = rec.result, rec.columns
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount {len(srows)} vs {len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
    if not problems:
        sc, oc = canon(srows, scols), canon(orows, ocols)
        for i, (a, b) in enumerate(zip(sc, oc)):
            if a != b:
                problems.append(
                    f"first diff at sorted row {i}:\n  spark  {a}\n  oracle {b}"
                )
                break
    return "; ".join(problems) or None


def main() -> int:
    json_out = None
    if "--json" in sys.argv:
        i = sys.argv.index("--json")
        if i + 1 >= len(sys.argv):
            print(__doc__, file=sys.stderr)
            return 2
        json_out = sys.argv[i + 1]
        del sys.argv[i : i + 2]
    run_all = "--all" in sys.argv
    if run_all:
        sys.argv.remove("--all")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    unknown = sorted(set(only) - set(catalog.ALL_QUERIES))
    if unknown:
        print(f"ERROR unknown query names: {unknown}", file=sys.stderr)
        return 2
    names = list(catalog.ALL_QUERIES) if run_all else only or list(catalog.QUERIES)

    shuffle = int(os.environ.get("CHECK_SHUFFLE", "16"))
    spark = tune_for_correctness(session("check_correctness", shuffle))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    counts = {"pass": 0, "fail": 0, "rows_only": 0}
    records = {}
    for name in names:
        rec = run_query(spark, name, sf_dir, consume="collect")
        secs = round(rec.wall_s, 1)
        if rec.error:
            status, detail = "fail", f"spark error: {rec.error}"
        elif name not in catalog.ALL_ORACLES:
            status, detail = "rows_only", None
        else:
            detail = compare(rec, con)
            status = "fail" if detail else "pass"
        counts[status] += 1
        if status == "fail":
            print(f"FAIL  {name}: {detail}")
            records[name] = {"status": status, "err": detail}
        else:
            tag = "PASS" if status == "pass" else "ROWS"
            print(f"{tag}  {name}: {rec.rows} rows ({secs}s)")
            records[name] = {"status": status, "rows": rec.rows, "secs": secs}
    print(f"\n{counts['pass']} passed, {counts['fail']} failed, "
          f"{counts['rows_only']} rows-only of {len(names)}")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "shuffle_partitions": shuffle,
                 "total": len(names), "passed": counts["pass"],
                 "failed": counts["fail"], "rows_only": counts["rows_only"],
                 "queries": records},
                fh,
                indent=1,
            )
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if counts["fail"] else 0


if __name__ == "__main__":
    sys.exit(main())
