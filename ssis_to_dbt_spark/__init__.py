"""ssis_to_dbt_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query/data-processing capabilities of the
reference migration compiler ``wiederMatan/ssis-to-dbt`` (which parses SSIS
.dtsx packages and emits dbt SQL executed by SQL Server).  Here every
transformation the reference can express — typed staging projections, derived
SSIS-expression columns, broadcast lookup joins, conditional splits,
aggregates, SCD Type-2 rebuilds, incremental/watermark loads, and the
validation checks — executes natively on Spark DataFrames, letting Catalyst /
Tungsten pick the physical strategy.

Layout (see SURVEY.md §7.1):
  session.py        SparkSession builder tuned for local + cluster
  naming.py         snake_case renaming (reference: src/parser/type_mappings.py:141-157)
  schema.py         SSIS type system -> Spark types + testdata schemas
  expressions.py    SSIS expression language -> pyspark Column compiler
  sources/          readers (parquet/csv/json/excel-shim/rest-stub) + writers
  operators/        project/lookup/joins/aggregate/split/setops/scd/incremental/
                    quality/script (pandas escape hatch)
  text/             dedup, similarity search, text analysis, multimodal plumbing
  streaming.py      tumbling/sliding/session windows, watermark incremental
  pipeline.py       model DAG, topo order, materializations, vars
  catalog.py        query registry backing __spark_entry__.py
  blocks.py         registry-owned localCheckpoint block lifecycle
  run.py            the one run path: session, warm-up, run_query records
"""

__version__ = "0.3.0"
