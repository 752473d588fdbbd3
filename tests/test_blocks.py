"""Registry-owned localCheckpoint block lifecycle and the one run path.

No harness releases blocks between queries; these tests pin the ENGINE's
own behavior on plain ``df.localCheckpoint(...)`` calls, as the catalog's
call sites make them: a registry query's checkpoint blocks are released
when the next top-level query is built, nested builders share the outer
scope, and in-builder supersession releases eagerly.  ``run.run_query``
times each query, turns a failure into a record, and keeps that lifecycle.
"""

from __future__ import annotations

import pytest

from ssis_to_dbt_spark import blocks, catalog, run
from ssis_to_dbt_spark.session import tune_for_correctness


def _persistent_ids(spark) -> set[int]:
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keys()
    }


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    # tests elsewhere may have leaked blocks into the shared session;
    # start and end each test with none pending and none persistent
    blocks.release_pending()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.rdd().unpersist(False)
    yield
    blocks.release_pending()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.rdd().unpersist(False)


class TestScopedCheckpoint:
    def test_scope_releases_previous_query_blocks(self, spark):
        df = spark.range(50).selectExpr("id", "id * 2 AS y")

        with blocks.query_scope():
            ck = df.localCheckpoint()  # eager: blocks exist now
            assert ck.count() == 50
        assert _persistent_ids(spark), "eager checkpoint should pin blocks"

        # blocks survive the scope exit (the consumer runs after the
        # builder returns) and die when the NEXT query scope begins
        with blocks.query_scope():
            assert _persistent_ids(spark) == set()

    def test_lazy_checkpoint_released_after_consumption(self, spark):
        df = spark.range(30)
        with blocks.query_scope():
            ck = df.localCheckpoint(eager=False)
        assert ck.count() == 30  # consumer materializes
        assert _persistent_ids(spark)
        with blocks.query_scope():
            assert _persistent_ids(spark) == set()

    def test_nested_scope_shares_outer(self, spark):
        df = spark.range(10)
        with blocks.query_scope():
            with blocks.query_scope():  # nested builder
                df.localCheckpoint()
            # inner exit must NOT queue a release of its own
            assert _persistent_ids(spark)
        with blocks.query_scope():
            assert _persistent_ids(spark) == set()

    def test_release_is_immediate(self, spark):
        df = spark.range(20)
        with blocks.query_scope():
            ck = df.localCheckpoint()
            assert _persistent_ids(spark)
            blocks.release(ck)
            assert _persistent_ids(spark) == set()

    def test_no_scope_degrades_to_plain_checkpoint(self, spark):
        ck = spark.range(5).localCheckpoint()
        assert ck.count() == 5
        assert _persistent_ids(spark)  # pinned: caller owns cleanup
        # and a later scope entry does NOT touch unregistered blocks
        with blocks.query_scope():
            assert _persistent_ids(spark)

    def test_concurrent_scopes_lose_no_blocks(self, spark):
        # more threads than cores, each checkpointing inside its own scope,
        # with a short switch interval: an unguarded exit can record its
        # ids after another thread's entry already counted them as
        # pre-existing, and a lost depth update leaves every later scope
        # "nested" -- either way blocks would stay pinned for good
        import sys
        import threading

        errors = []

        def worker():
            try:
                for _ in range(5):
                    with blocks.query_scope():
                        spark.range(3).localCheckpoint()
            except Exception as exc:  # surfaced by the assert below
                errors.append(exc)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=worker) for _ in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errors
        assert _persistent_ids(spark)
        with blocks.query_scope():
            assert _persistent_ids(spark) == set()

    def test_release_tolerates_non_checkpoint_frames(self, spark):
        blocks.release(None)
        blocks.release(spark.range(3))  # plain plan: no LogicalRDD


class TestCatalogScope:
    SF = "/root/testdata/sf0.001"

    def test_catalog_query_blocks_released_at_next_query(self, spark):
        from ssis_to_dbt_spark import catalog
        from ssis_to_dbt_spark.session import tune_for_correctness

        tune_for_correctness(spark)
        # winnow_docs declares a lazy checkpoint feeding both arms
        df = catalog.ALL_QUERIES["winnow_docs"](spark, self.SF)
        df.write.format("noop").mode("overwrite").save()
        leaked = _persistent_ids(spark)
        assert leaked, "winnow_docs should have checkpointed its fp pass"

        # building the NEXT catalog query releases the previous one's
        # blocks — the engine-owned lifecycle the bench scrub used to do
        df2 = catalog.ALL_QUERIES["exact_dedup_docs"](spark, self.SF)
        assert _persistent_ids(spark).isdisjoint(leaked)
        df2.write.format("noop").mode("overwrite").save()


class TestRunQuery:
    SF = TestCatalogScope.SF

    @pytest.fixture
    def failing_entry(self, monkeypatch):
        def boom(spark, sf_dir):
            raise RuntimeError("builder exploded\nsecond line")

        monkeypatch.setitem(catalog.ALL_QUERIES, "_boom", blocks.scoped(boom))
        return "_boom"

    def test_collect_record_has_split_and_rows(self, spark):
        tune_for_correctness(spark)
        rec = run.run_query(spark, "top_events", self.SF, consume="collect")
        assert rec.error is None
        assert rec.construct_s > 0 and rec.action_s > 0
        assert rec.wall_s >= rec.construct_s + rec.action_s
        assert rec.rows == len(rec.result) > 0
        assert rec.columns

    def test_noop_record_has_no_rows(self, spark):
        rec = run.run_query(spark, "top_events", self.SF)
        assert rec.error is None and rec.rows is None and rec.action_s > 0

    def test_failing_builder_is_recorded_and_next_query_runs(
        self, spark, failing_entry
    ):
        rec = run.run_query(spark, failing_entry, self.SF)
        assert rec.error == "RuntimeError: builder exploded"
        assert rec.rows is None
        nxt = run.run_query(spark, "top_events", self.SF, consume="collect")
        assert nxt.error is None and nxt.rows > 0

    def test_first_query_blocks_released_once_second_is_built(self, spark):
        # winnow_docs checkpoints its fingerprint pass lazily
        rec = run.run_query(spark, "winnow_docs", self.SF)
        assert rec.error is None
        first = _persistent_ids(spark)
        assert first, "winnow_docs should pin its checkpoint"
        df = catalog.ALL_QUERIES["exact_dedup_docs"](spark, self.SF)
        assert _persistent_ids(spark).isdisjoint(first)
        df.write.format("noop").mode("overwrite").save()

    def test_unknown_consumer_rejected(self, spark):
        with pytest.raises(ValueError):
            run.run_query(spark, "top_events", self.SF, consume="show")
