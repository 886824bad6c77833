"""session_memo contract: one entry per (session, key), built once,
private to each ``newSession()`` sibling, and unreachable once its
session is dropped."""

import gc
import sys
import weakref
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql.session import _monkey_patch_RDD

from pyspark_unload_to_gcs_spark.session import session_memo


class _Value:
    """A memo value a weakref can watch."""


def _counting_build(calls):
    def build():
        calls.append(1)
        return _Value()

    return build


def test_same_session_builds_once(spark):
    calls = []
    build = _counting_build(calls)
    first = session_memo(spark, ("test_session", "once"), build)
    assert session_memo(spark, ("test_session", "once"), build) is first
    assert len(calls) == 1


def test_new_session_sibling_gets_own_entry(spark):
    key = ("test_session", "sibling")
    calls = []
    build = _counting_build(calls)
    mine = session_memo(spark, key, build)
    sibling = spark.newSession()
    try:
        theirs = session_memo(sibling, key, build)
        assert theirs is not mine
        assert session_memo(sibling, key, build) is theirs
        assert session_memo(spark, key, build) is mine
        assert len(calls) == 2
    finally:
        # every SparkSession constructor points pyspark's RDD.toDF at the
        # new session; point it back so the sibling can be collected
        _monkey_patch_RDD(spark)


def test_dropped_session_entries_are_unreachable(spark):
    sibling = spark.newSession()
    _monkey_patch_RDD(spark)  # see the sibling test above
    ref = weakref.ref(session_memo(sibling, ("test_session", "gc"), _Value))
    assert ref() is not None
    del sibling
    gc.collect()
    assert ref() is None


def test_none_build_drops_the_entry(spark):
    key = ("test_session", "drop")
    first = session_memo(spark, key, _Value)
    assert session_memo(spark, key, None) is first
    assert session_memo(spark, key, _Value) is not first


def test_failed_build_stores_nothing(spark):
    key = ("test_session", "fails")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        session_memo(spark, key, boom)
    assert isinstance(session_memo(spark, key, _Value), _Value)
