"""The one run path for registry queries.

``bench.py`` and the scripts in ``tools/`` build their session with
:func:`session`, warm it with :func:`warm` and run every query through
:func:`run_query`, which times construction and consumption separately and
turns a failing query into a record instead of an exception.
"""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass

from pyspark.sql import SparkSession

from . import catalog
from .session import build_session
from .sources.readers import testdata


@dataclass
class RunRecord:
    """One registry query run.

    ``construct_s`` is the builder call: driver-side plan construction plus
    whatever the builder runs eagerly (index builds, eager checkpoints,
    bounded collects).  ``action_s`` is the consumer.  ``rows``,
    ``columns`` and ``result`` are set by a collect only; ``error`` is
    ``"Type: first line of the message"`` when the query raised.
    """

    name: str
    construct_s: float = 0.0
    action_s: float = 0.0
    wall_s: float = 0.0
    rows: int | None = None
    columns: list[str] | None = None
    result: list | None = None
    error: str | None = None


def session(app_name: str, shuffle_partitions: int | None = None) -> SparkSession:
    """A quiet session: no console progress bars, ERROR-level logs."""
    spark = build_session(
        app_name=app_name,
        shuffle_partitions=shuffle_partitions,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark: SparkSession, sf_dir: str) -> None:
    """Bring a fresh session to steady state before anything is timed.

    JVM/codegen warm-up, then a full noop read of every input table (the
    first directory listing and a cold OS page cache are not the engine),
    then the Python/Arrow worker start-up (daemon fork and Arrow serializer
    init cost ~8 s once per session).
    """
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for df in testdata(spark, sf_dir).values():
        df.write.format("noop").mode("overwrite").save()
    spark.range(256, numPartitions=64).mapInArrow(
        lambda it: it, "id long"
    ).collect()
    spark.range(256, numPartitions=64).groupBy("id").applyInPandas(
        lambda pdf: pdf, "id long"
    ).collect()


def run_query(
    spark: SparkSession, name: str, sf_dir: str, consume: str = "noop"
) -> RunRecord:
    """Build registry query ``name`` on ``sf_dir`` and consume it.

    ``consume`` is ``"noop"`` (a noop-format write: every output column is
    computed, nothing reaches the driver) or ``"collect"``.  An exception
    from the builder or the consumer is caught into ``error`` and its
    traceback goes to stderr; the next call runs normally.
    """
    if consume not in ("noop", "collect"):
        raise ValueError(f"consume must be 'noop' or 'collect', not {consume!r}")
    builder = catalog.ALL_QUERIES[name]
    rec = RunRecord(name)
    t0 = time.perf_counter()
    try:
        df = builder(spark, sf_dir)
        t1 = time.perf_counter()
        rec.construct_s = t1 - t0
        if consume == "collect":
            rec.columns = df.columns
            rec.result = df.collect()
            rec.rows = len(rec.result)
        else:
            df.write.format("noop").mode("overwrite").save()
        rec.action_s = time.perf_counter() - t1
    except Exception as exc:  # one failing query must not end the run
        traceback.print_exc()
        lines = str(exc).strip().splitlines()
        rec.error = f"{type(exc).__name__}: {lines[0] if lines else ''}"
    rec.wall_s = time.perf_counter() - t0
    return rec
