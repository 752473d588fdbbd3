"""The benchmark workloads.

A workload's ``run_pass()`` runs its operations once, in a fixed order, and
returns ``{operation: error}`` for the operations that raised or whose output
did not match its oracle.  Each operation's latency goes to the run context.
The outputs are compared with their DuckDB oracles after the pass; that
comparison, counter reads and the release of pinned blocks after each
operation are excluded from every latency and from the pass wall time.
"""

from __future__ import annotations

import os
import time

from ssis_to_dbt_spark import catalog, dtsx, pipeline, streaming
from ssis_to_dbt_spark.sources import readers

import probes

ETL_MODELS = [
    "stg_sales_transactions", "fct_sales_star", "agg_daily_sales",
    "dim_customer_scd2", "orders_semi_join", "incremental_merge_orders",
    "merge_upsert_customers", "window_customer_orders", "cdc_apply_orders",
    "incremental_rollup_sales", "cube_orders", "bloom_orders",
    "dtsx_order_routing", "streaming_roundtrip",
]
# dbt materialization: fact, dimension, aggregate and merge models are tables
ETL_TABLES = {
    "fct_sales_star", "agg_daily_sales", "dim_customer_scd2",
    "incremental_merge_orders", "merge_upsert_customers",
    "incremental_rollup_sales", "cdc_apply_orders",
}
CURATION_QUERIES = [
    "curation_pipeline_docs", "neardup_prune_docs", "dsir_docs",
    "gopher_quality_docs", "exact_dedup_docs", "text_analysis_docs",
    "semdedup_embeddings", "embedding_neardup", "hybrid_rrf_indexed",
]


class OpError(Exception):
    pass


class Workload:
    """Helpers shared by the workloads; ``ctx`` is the run's context."""

    name = ""
    ops: list[str] = []

    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    def query(self, name):
        if name == self.ctx.fail_op:
            def failing(spark, sf_dir):
                raise OpError(f"injected failure in {name}")
            return failing
        return catalog.ALL_QUERIES[name]

    def _construct(self, name):
        """Call the catalog builder; in traced runs also plan the result."""
        ctx = self.ctx
        ctx.job_group(name, "c")
        with ctx.tracer.span("catalog.construct"):
            df = self.query(name)(self.spark, ctx.data_dir)
        if ctx.traced:
            t0 = time.perf_counter()
            ctx.layer_add(probes.plan_phases(df))
            ctx.tracer.add_span("spark.plan", t0, time.perf_counter())
        return df

    def _consume(self, name, df):
        """Run the plan to completion and bring the (small) result to the
        driver as Arrow, where the oracle check reads it."""
        self.ctx.job_group(name, "a")
        with self.ctx.tracer.span("spark.action"):
            return df.toArrow()

    def _after_op(self, name) -> None:
        """Counters, then pinned-block measurement and release; untimed."""
        ctx = self.ctx
        t0 = time.perf_counter()
        if ctx.traced:
            with ctx.tracer.span(f"{probes.UNTIMED}.after_op"):
                ctx.counters.add_construct_jobs(ctx.group(name, "c"))
                ctx.counters.add_jobs(ctx.group(name, "w"))
                ctx.counters.add_jobs(ctx.group(name, "a"))
                ctx.counters.add_executions()
                ctx.layer_add(ctx.counters.take_streams())
                n, nbytes = probes.pinned_blocks(self.spark)
                ctx.layer_add({"blocks.pinned_rdds": n, "blocks.pinned_bytes": nbytes})
                t1 = time.perf_counter()
                probes.release_blocks(self.spark)
                ctx.layer_add({"blocks.scrub_s": time.perf_counter() - t1})
        else:
            probes.release_blocks(self.spark)
        ctx.exclude(time.perf_counter() - t0)

    def _check(self, outputs: dict, failed: dict) -> dict:
        """Compare each output (a parquet path or an Arrow table) with its
        oracle; untimed."""
        t0 = time.perf_counter()
        for name, out in outputs.items():
            if name not in failed:
                problem = self.ctx.oracle_compare(name, out)
                if problem:
                    failed[name] = f"oracle mismatch: {problem}"
        self.ctx.exclude(time.perf_counter() - t0)
        return failed


class EtlWarehouse(Workload):
    """Warehouse models run model by model through the pipeline layer, as a
    scheduled dbt run does."""

    name = "etl_warehouse"
    ops = ETL_MODELS

    def run_pass(self):
        ctx = self.ctx
        table_dir = os.path.join(ctx.work, "warehouse")
        pipe = pipeline.Pipeline(self.spark)
        built: dict[str, float] = {}
        outputs: dict = {}

        def builder(name):
            def build(_frames, _vars):
                df = self._construct(name)
                ctx.job_group(name, "w")
                built[name] = time.perf_counter()
                return df
            return build

        def consume(name):
            # called by the pipeline right after the model is built (and,
            # for a table, written and re-read)
            def validate(df):
                if name in ETL_TABLES:
                    ctx.tracer.add_span("sink.write", built[name], time.perf_counter())
                    ctx.job_group(name, "a")
                    with ctx.tracer.span("spark.action"):
                        df.write.format("noop").mode("overwrite").save()
                    outputs[name] = os.path.join(table_dir, name)
                else:
                    outputs[name] = self._consume(name, df)
                ctx.op_done(name)
                self._after_op(name)
            return validate

        for name in ETL_MODELS:
            table = name in ETL_TABLES
            pipe.add(pipeline.Model(
                name, builder(name),
                materialization="table" if table else "view",
                path=os.path.join(table_dir, name) if table else None))
        ctx.op_begin()
        with ctx.tracer.span("pipeline.run"):
            _, report = pipeline.run_with_retries(
                pipe, {}, max_retries=0,
                validate={name: consume(name) for name in ETL_MODELS})
        failed = {n: "; ".join(r.errors) for n, r in report.runs.items()
                  if r.status != "success"}
        if ctx.traced:
            files, nbytes = probes.dir_files(table_dir)
            ctx.layer_add({"sink.files": files, "sink.bytes": nbytes,
                           "pipeline.tables": len(ETL_TABLES)})
        return self._check(outputs, failed)


class CurationCorpus(Workload):
    """LLM-data curation queries; nothing is written."""

    name = "curation_corpus"
    ops = CURATION_QUERIES

    def run_pass(self):
        outputs, failed = {}, {}
        for name in CURATION_QUERIES:
            self.ctx.op_begin()
            try:
                outputs[name] = self._consume(name, self._construct(name))
                self.ctx.op_done(name)
            except Exception as exc:  # one failing query must not end the run
                failed[name] = f"{type(exc).__name__}: {exc}"
            self._after_op(name)
        return self._check(outputs, failed)


WORKLOADS = {w.name: w for w in (EtlWarehouse, CurationCorpus)}


def patch_layers(tracer, counters) -> None:
    """Spans around engine entry points that the workloads reach through
    catalog builders; streaming queries started by them are handed to
    ``counters`` so their progress can be read."""
    tracer.wrap(dtsx, "parse_dtsx", "dtsx.parse")
    tracer.wrap(dtsx, "bind_package", "dtsx.bind")
    tracer.wrap(dtsx, "run_package", "dtsx.run")
    tracer.wrap(pipeline.Pipeline, "run", "pipeline.run")
    tracer.wrap(readers, "testdata", "sources.read")
    tracer.wrap(catalog, "testdata", "sources.read")
    tracer.wrap(streaming, "write_stream", "streaming.write_stream",
                on_result=counters.streams.append)
