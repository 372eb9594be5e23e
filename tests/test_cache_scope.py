"""Persisted-state ownership: every registry query releases what it
persisted, and cache scopes release exactly their own registrations."""

from __future__ import annotations

import threading

import pytest
from pyspark import StorageLevel

from ralf_spark.operators.util import (
    cache_scope,
    local_checkpoint,
    persist,
    unpersist_cached,
)
from ralf_spark.queries import QUERIES

from tests.conftest import SF_DIR, persisted_rdd_ids


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_releases_everything_it_persists(spark, name):
    # an earlier query's leftover cache of a shared subplan would turn
    # this query's persist into a no-op and hide its leak
    spark.catalog.clearCache()
    before = persisted_rdd_ids(spark)
    df = QUERIES[name].fn(spark, SF_DIR)
    df.collect()
    unpersist_cached(df, blocking=True)
    assert persisted_rdd_ids(spark) - before == set(), name


def test_inner_scope_releases_only_its_own(spark):
    before = persisted_rdd_ids(spark)
    with cache_scope():
        outer = persist(spark.range(31).selectExpr("id AS outer_id"))
        outer.count()
        with cache_scope():
            inner = persist(spark.range(37).selectExpr("id AS inner_id"))
            inner.count()
            local_checkpoint(spark.range(41))
        assert inner.storageLevel == StorageLevel.NONE
        assert outer.storageLevel != StorageLevel.NONE
        assert len(persisted_rdd_ids(spark) - before) == 1
    assert outer.storageLevel == StorageLevel.NONE
    assert persisted_rdd_ids(spark) - before == set()


def test_scope_releases_on_exception(spark):
    before = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError):
        with cache_scope():
            df = persist(spark.range(43).selectExpr("id AS raised_id"))
            df.count()
            local_checkpoint(spark.range(47))
            assert len(persisted_rdd_ids(spark) - before) == 2
            raise RuntimeError("operator failed mid-build")
    assert df.storageLevel == StorageLevel.NONE
    assert persisted_rdd_ids(spark) - before == set()


def test_worker_thread_release_keeps_main_thread_frames(spark):
    before = persisted_rdd_ids(spark)
    seen: list = []
    errors: list[BaseException] = []

    def work() -> None:
        try:
            w = persist(spark.range(53).selectExpr("id AS worker_id"))
            w.count()
            seen.append(w)
            unpersist_cached(w, blocking=True)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    with cache_scope():
        main = persist(spark.range(59).selectExpr("id AS main_id"))
        main.count()
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
        assert not errors, errors
        assert seen[0].storageLevel == StorageLevel.NONE
        assert main.storageLevel != StorageLevel.NONE
        assert len(persisted_rdd_ids(spark) - before) == 1
    assert persisted_rdd_ids(spark) - before == set()
