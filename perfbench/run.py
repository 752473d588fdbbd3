"""spark-graft benchmark: one command, seeded workloads, oracle-checked.

    python3 perfbench/run.py --workload etl_warehouse --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run generates its inputs from the seed
(``gen.py``), sets the session up three times and reports the median
(``setup_s``), then runs passes of the workload until ``--seconds`` have
passed (at least one), comparing every operation's output with its DuckDB
oracle after each pass.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` is a separate run that records spans and Spark counters and
prints the per-layer metrics.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a detailed record
(per-operation latencies, errors, spans) goes to ``--out``.  The exit code
is non-zero when any operation raised or returned a wrong output.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_geomean_s": "s", "peak_rss_mb": "MB",
}
# per-layer metric -> unit; every workload prints all of them (0 where the
# layer is not used)
PER_LAYER = {
    "session.build_s": "s", "session.cold_build_s": "s",
    "session.jvm_warm_s": "s", "session.worker_warm_s": "s",
    "sources.warm_read_s": "s", "sources.input_rows": "count",
    "sources.input_bytes": "B",
    "catalog.construct_s": "s", "catalog.construct_jobs": "count",
    "catalog.plan_nodes": "count",
    "spark.plan_s": "s", "spark.analyze_s": "s", "spark.optimize_s": "s",
    "spark.physical_s": "s", "spark.action_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "spark.peak_mem_bytes": "B",
    "spark.shuffle_partitions": "count", "spark.bhj_joins": "count",
    "spark.smj_joins": "count",
    "python.nodes": "count", "python.bytes_sent": "B",
    "python.bytes_received": "B", "python.worker_s": "s",
    "blocks.pinned_rdds": "count", "blocks.pinned_bytes": "B",
    "blocks.scrub_s": "s",
    "sink.write_s": "s", "sink.files": "count", "sink.bytes": "B",
    "sink.bytes_per_input_byte": "ratio",
    "pipeline.run_s": "s", "pipeline.tables": "count",
    "dtsx.parse_s": "s", "dtsx.bind_s": "s", "dtsx.run_s": "s",
    "streaming.write_stream_s": "s", "streaming.batches": "count",
    "streaming.data_batch_frac": "ratio", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.plan_s": "s",
    "streaming.commit_s": "s", "streaming.offset_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "B",
    "self.pipeline_s": "s", "self.catalog_s": "s", "self.spark_s": "s",
    "self.sink_s": "s", "self.sources_s": "s", "self.dtsx_s": "s",
    "self.streaming_s": "s",
    "trace.wall_s": "s",
}
# span totals reported per pass (outermost span of each name only)
_SPAN_TOTALS = {
    "catalog.construct": "catalog.construct_s", "spark.plan": "spark.plan_s",
    "spark.action": "spark.action_s", "sink.write": "sink.write_s",
    "pipeline.run": "pipeline.run_s", "dtsx.parse": "dtsx.parse_s",
    "dtsx.bind": "dtsx.bind_s", "dtsx.run": "dtsx.run_s",
    "streaming.write_stream": "streaming.write_stream_s",
}
_SETUP_SPANS = {
    "session.build": "session.build_s", "session.jvm_warm": "session.jvm_warm_s",
    "session.worker_warm": "session.worker_warm_s",
    "sources.warm_read": "sources.warm_read_s",
}


def geomean(values) -> float:
    """Geometric mean: each operation weighs the same however long it takes,
    as in TPC-H's power metric."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Context:
    """Everything one run shares: session, paths, tracer and accounting."""

    def __init__(self, args, work, data_dir, tracer):
        self.fail_op = args.fail_op
        self.work = work
        self.data_dir = data_dir
        self.tracer = tracer
        self.spark = None
        self.counters = None
        self.oracle = None
        self.pass_no = -1
        self.latencies: list[tuple[int, str, float]] = []
        self.layers: list[dict] = []
        self._cur: dict = {}
        self._op_start = 0.0
        self._op_excluded = 0.0
        self._pass_excluded = 0.0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    # job groups tag Spark jobs with the operation that launched them
    def group(self, name: str, kind: str) -> str:
        return f"pb-{self.pass_no}-{name}-{kind}"

    def job_group(self, name: str, kind: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(self.group(name, kind), name)

    # operation latency: time since the previous operation ended (or
    # op_begin), minus measurement work done in between
    def op_begin(self) -> None:
        self._op_start = time.perf_counter()
        self._op_excluded = 0.0

    def op_done(self, name: str) -> None:
        now = time.perf_counter()
        self.latencies.append(
            (self.pass_no, name, now - self._op_start - self._op_excluded))
        self._op_start = now
        self._op_excluded = 0.0

    def exclude(self, seconds: float) -> None:
        self._op_excluded += seconds
        self._pass_excluded += seconds

    def layer_add(self, values: dict) -> None:
        """Add to the current pass's per-layer values."""
        for k, v in values.items():
            self._cur[k] = self._cur.get(k, 0.0) + v

    def oracle_compare(self, name: str, output) -> str | None:
        from ssis_to_dbt_spark import catalog

        sql = catalog.ALL_ORACLES.get(name)
        if sql is None:
            return "no oracle registered"
        try:
            return self.oracle.compare(output, sql)
        except Exception as exc:  # an unreadable output is a wrong output
            return f"{type(exc).__name__}: {exc}"

    def run_pass(self, wl) -> tuple[float, dict]:
        self.pass_no += 1
        self.tracer.run_id = f"pass-{self.pass_no}"
        self._cur = {}
        self._pass_excluded = 0.0
        t0 = time.perf_counter()
        failures = wl.run_pass()
        wall = time.perf_counter() - t0 - self._pass_excluded
        if self.traced:
            runs = {self.tracer.run_id}
            for layer, secs in self.tracer.self_times(runs).items():
                self._cur[f"self.{layer}_s"] = secs
            for span, key in _SPAN_TOTALS.items():
                self.layer_add({key: self.tracer.total(span, runs)})
            self.layer_add(self.counters.take())
            if self._cur.get("streaming.batches"):
                self._cur["streaming.data_batch_frac"] = (
                    self._cur.pop("streaming.data_batches") / self._cur["streaming.batches"])
            self._cur["trace.wall_s"] = wall
            self.layers.append(self._cur)
        return wall, failures


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; let Python workers
    import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the inputs are a few MB; the session's 8g default is not needed
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def build(ctx, tracer):
    """One set-up: session, JVM warm-up, Python worker warm-up, warm read."""
    from ssis_to_dbt_spark.session import build_session
    from ssis_to_dbt_spark.sources.readers import testdata

    work = ctx.work
    with tracer.span("session.build"):
        spark = build_session(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.jvm_warm"):
        spark.range(1_000_000).selectExpr("sum(id)").collect()
    with tracer.span("session.worker_warm"):
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(256, numPartitions=cpus).mapInArrow(lambda it: it, "id long").collect()
        spark.range(256, numPartitions=cpus).groupBy("id").applyInPandas(
            lambda pdf: pdf, "id long").collect()
    with tracer.span("sources.warm_read"):
        for df in testdata(spark, ctx.data_dir).values():
            df.write.format("noop").mode("overwrite").save()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    t_start = time.perf_counter()
    import probes

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    data_dir = os.path.join(work, "data")
    sizes = gen.generate(args.workload, args.seed, data_dir)
    phases = {"generated": time.perf_counter() - t_start}

    import workloads  # imports pyspark and the engine

    from oracle import Oracle

    tracer = probes.Tracer(enabled=bool(args.trace))
    ctx = Context(args, work, data_dir, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        setup_times = []
        for rep in range(SETUP_REPS):
            tracer.run_id = f"setup-{rep}"
            t0 = time.perf_counter()
            ctx.spark = build(ctx, tracer)
            setup_times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                ctx.spark.stop()
        spark = ctx.spark
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        # the two thresholds that decide join strategy and scan parallelism
        thresholds = {k: spark.conf.get(k) for k in (
            "spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes")}
        ctx.oracle = Oracle(data_dir)
        if args.trace:
            ctx.counters = probes.SparkCounters(spark)
            workloads.patch_layers(tracer, ctx.counters)
        phases["set_up"] = time.perf_counter() - t_start

        walls, failures = [], {}
        deadline = time.perf_counter() + args.seconds
        while True:
            wall, failed = ctx.run_pass(wl)
            walls.append(wall)
            failures.update({(ctx.pass_no, op): err for op, err in failed.items()})
            if time.perf_counter() >= deadline:
                break
        phases["measured"] = time.perf_counter() - t_start
        peak_rss = probes.vm_hwm_mb(jvm_pid) + probes.vm_hwm_mb(os.getpid())
    finally:
        tracer.unwrap_all()
        if ctx.oracle is not None:
            ctx.oracle.close()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stopped"] = time.perf_counter() - t_start

    # latencies of failed executions are left out, unless every one failed
    # (the run is then refused anyway)
    ok_lat = ([lat for p, name, lat in ctx.latencies if (p, name) not in failures]
              or [lat for _, _, lat in ctx.latencies])
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sizes": sizes, "thresholds": thresholds, "attempted": len(wl.ops) * len(walls),
        "failed": len(failures),
        "errors": {f"pass {p}: {op}": err for (p, op), err in failures.items()},
        "setup_times": setup_times, "pass_walls": walls, "op_samples": len(ok_lat),
        "latencies": ctx.latencies, "phases": phases,
    }
    if not args.trace:
        result["metrics"] = {
            "setup_s": statistics.median(setup_times),
            "wall_s": statistics.median(walls),
            "op_geomean_s": geomean(ok_lat) if ok_lat else 0.0,
            "peak_rss_mb": peak_rss,
        }
    else:
        result["metrics"] = layer_metrics(ctx, tracer, sizes)
        result["spans"] = tracer.spans
    return result


def layer_metrics(ctx, tracer, sizes) -> dict:
    out = {k: 0.0 for k in PER_LAYER}
    for span, key in _SETUP_SPANS.items():
        out[key] = statistics.median(
            tracer.total(span, {f"setup-{r}"}) for r in range(SETUP_REPS))
    out["session.cold_build_s"] = tracer.total("session.build", {"setup-0"})
    for key in {k for layer in ctx.layers for k in layer} & set(out):
        out[key] = statistics.median(layer.get(key, 0.0) for layer in ctx.layers)
    out["sources.input_rows"] = sizes["input_rows"]
    out["sources.input_bytes"] = sizes["input_bytes"]
    out["sink.bytes_per_input_byte"] = out["sink.bytes"] / sizes["input_bytes"]
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--out", help="detailed JSON record (default under .perfbench_out/)")
    p.add_argument("--fail-op", default=None,
                   help="make this operation raise (tests failure accounting)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ssis_to_dbt_spark")):
        print(f"engine package ssis_to_dbt_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    result = run(args)

    units = PER_LAYER if args.trace else END_TO_END
    out = args.out or os.path.join(
        ROOT, ".perfbench_out", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    sizes = result["sizes"]
    print(f"inputs: {sizes['input_rows']} rows, {sizes['input_bytes']} B; session "
          + ", ".join(f"{k}={v}" for k, v in result["thresholds"].items()) + "; tables: "
          + ", ".join(f"{t}={s['rows']}" for t, s in sizes["tables"].items()))
    print(f"documents near/exact dups: {sizes['documents_dups']}, "
          f"embedding near dups: {sizes['embeddings_dups']}")
    print(f"set-ups: {[round(s, 3) for s in result['setup_times']]}; "
          f"passes: {[round(w, 3) for w in result['pass_walls']]}; "
          f"operation latency samples: {result['op_samples']}")
    for name, err in result["errors"].items():
        print(f"FAILED {name}: {err}")
    error_rate = result["failed"] / max(result["attempted"], 1)
    print(f"error_rate: {error_rate:.4f} ({result['failed']}/{result['attempted']}); "
          f"detail: {out}")
    correct = result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": result["metrics"][k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
