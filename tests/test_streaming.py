"""Streaming facade tests: file-source micro-batch runs with
availableNow triggers, checked against the batch operators on the same
data (the batch forms are the oracle-checked reference semantics)."""

from __future__ import annotations

import functools
import glob
import gzip
import json

import pytest
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.config import SyncConfig
from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet
from pyspark_unload_to_gcs_spark.storage import committed_dirs
from pyspark_unload_to_gcs_spark.streaming.export import StreamExportStats, export_batch
from pyspark_unload_to_gcs_spark.streaming.rollup import start_fold
from pyspark_unload_to_gcs_spark.streaming.sessionize import sessionize_stream
from pyspark_unload_to_gcs_spark.streaming.sources import stream_parquet_dir
from pyspark_unload_to_gcs_spark.streaming.windows import session_window_agg, tumbling_agg

GAP_MS = 30 * 60 * 1000


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Events table as a 3-file parquet directory, range-partitioned and
    mtime-ordered by event time, so micro-batches arrive in time order
    (realistic for an append log; keeps watermark semantics exact vs the
    batch oracle — out-of-order *files* would drop whole batches as
    late)."""
    import os

    out = str(tmp_path_factory.mktemp("events_stream"))
    load_parquet(spark, f"{sf_dir}/events.parquet").repartitionByRange(3, "ts").write.mode(
        "overwrite"
    ).parquet(out)
    parts = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(parts) == 3
    base = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))  # file source processes by mtime
    return out


@pytest.fixture(scope="module")
def events_schema(spark, events_stream_dir):
    return spark.read.parquet(events_stream_dir).schema


def _drain(stream_df, name: str, spark, mode: str = "append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_agg_stream_matches_batch(spark, events_stream_dir, events_schema):
    batch = spark.read.parquet(events_stream_dir)
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema)
    kwargs = dict(
        time_column="ts",
        window_duration="1 day",
        group_columns=("event_type",),
        aggs={"n_events": "count(1)"},
    )
    expected = {
        (r.window_start_ms, r.event_type): r.n_events
        for r in tumbling_agg(batch, **kwargs).collect()
    }
    got = {
        (r.window_start_ms, r.event_type): r.n_events
        for r in _drain(tumbling_agg(stream, **kwargs), "t_tumble", spark, "complete").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_session_window_agg_stream_matches_batch(spark, events_stream_dir, events_schema):
    batch = spark.read.parquet(events_stream_dir)
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema)
    kwargs = dict(time_column="ts", gap="30 minutes", group_columns=("user_id",))
    expected = sorted(
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in session_window_agg(batch, **kwargs).collect()
    )
    got = sorted(
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in _drain(
            session_window_agg(stream, **kwargs), "t_sess_win", spark, "complete"
        ).collect()
    )
    assert got == expected
    assert len(got) > 0


def test_session_window_matches_batch_sessionization(spark, events_stream_dir):
    """builtin session_window semantics == the batch gap construction:
    start = min ts, end = max ts + gap, same event counts."""
    from pyspark_unload_to_gcs_spark.operators.sessions import session_stats

    batch = spark.read.parquet(events_stream_dir)
    via_window = sorted(
        (r.user_id, r.session_start_ms, r.session_end_ms - GAP_MS, r.n_events)
        for r in session_window_agg(
            batch, time_column="ts", gap="30 minutes", group_columns=("user_id",)
        ).collect()
    )
    via_lag = sorted(
        (r.user_id, r.start_ms, r.end_ms, r.n_events)
        for r in session_stats(batch, gap_ms=GAP_MS).collect()
    )
    assert via_window == via_lag


def test_sessionize_stream_closed_sessions_match_batch(spark, events_stream_dir, events_schema):
    """applyInPandasWithState emits only watermark-closed sessions; every
    emitted session must match the batch operator's row exactly."""
    from pyspark_unload_to_gcs_spark.operators.sessions import session_stats

    batch = spark.read.parquet(events_stream_dir)
    expected = {
        (r.user_id, r.session_seq): (r.n_events, r.start_ms, r.end_ms, r.duration_ms)
        for r in session_stats(batch, gap_ms=GAP_MS).collect()
    }

    stream = stream_parquet_dir(spark, events_stream_dir, events_schema, max_files_per_trigger=1)
    out = _drain(
        sessionize_stream(stream, gap_ms=GAP_MS, watermark_delay="0 seconds"),
        "t_sess_state",
        spark,
    ).collect()

    assert len(out) > 0  # watermark advanced across micro-batches -> closures
    for r in out:
        key = (r.user_id, r.session_seq)
        assert key in expected, f"spurious session {key}"
        assert expected[key] == (r.n_events, r.start_ms, r.end_ms, r.duration_ms), key


def test_stream_export_foreachbatch(spark, events_stream_dir, events_schema, tmp_path):
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema, max_files_per_trigger=2)
    cfg = SyncConfig(
        table="events_stream",
        output_uri=f"file:{tmp_path}/out",
        export_format="json",
        computed_hash_column="row_hash",
    )
    stats = StreamExportStats()
    q = start_fold(
        stream,
        functools.partial(export_batch, config=cfg, stats=stats),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    batch_dirs = glob.glob(f"{tmp_path}/out/batch=*")
    assert len(batch_dirs) >= 2  # 3 files / maxFilesPerTrigger=2
    files = glob.glob(f"{tmp_path}/out/batch=*/*.gz")
    assert files
    rec = json.loads(gzip.open(files[0]).readline())
    assert "row_hash" in rec and len(rec["row_hash"]) == 32
    total = spark.read.parquet(events_stream_dir).count()
    assert stats.total_rows == total


def test_stream_export_batch_keeps_partitioning_and_manifest(spark, tmp_path):
    """Each micro-batch is written with the whole sync config: a
    partitioned export lands in hive ``day=`` directories under the
    batch directory, and ``emit_manifest`` leaves a manifest that
    validates and carries the batch's row count."""
    from pyspark_unload_to_gcs_spark.sinks.writers import validate_manifest

    batch = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}", float(i)) for i in range(12)],
        "event_id long, day string, value double",
    )
    cfg = SyncConfig(
        table="events_stream",
        output_uri=f"file:{tmp_path}/out",
        export_format="json",
        computed_hash_column="row_hash",
        partition_by=("day",),
        emit_manifest=True,
    )
    stats = StreamExportStats()
    export_batch(batch, 7, config=cfg, stats=stats)
    days = sorted(p.rsplit("/", 1)[-1] for p in glob.glob(f"{tmp_path}/out/batch=7/day=*"))
    assert days == ["day=2024-01-01", "day=2024-01-02", "day=2024-01-03"]
    assert not glob.glob(f"{tmp_path}/out/batch=7/*.gz")
    manifest = validate_manifest(f"file:{tmp_path}/out/batch=7")
    assert manifest["row_count"] == 12
    assert manifest["n_files"] == len(glob.glob(f"{tmp_path}/out/batch=7/day=*/*.gz"))
    assert stats.batches == [(7, 12)]


def test_tumbling_append_mode_emits_finalized_windows(spark, events_stream_dir, events_schema):
    """Append mode + watermark: only watermark-finalized windows emit,
    and every emitted row must equal the batch result for that window
    (the late-data guarantee the reference approximated with delay_ms)."""
    batch = spark.read.parquet(events_stream_dir)
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema, max_files_per_trigger=1)
    kwargs = dict(
        time_column="ts",
        window_duration="1 day",
        watermark_delay="1 hour",
        group_columns=("event_type",),
        aggs={"n_events": "count(1)"},
    )
    expected = {
        (r.window_start_ms, r.event_type): r.n_events
        for r in tumbling_agg(batch, **kwargs).collect()
    }
    got = _drain(tumbling_agg(stream, **kwargs), "t_tumble_append", spark, "append").collect()
    assert len(got) > 0  # multiple micro-batches advanced the watermark
    assert len(got) < len(expected)  # tail windows above watermark held back
    for r in got:
        assert expected[(r.window_start_ms, r.event_type)] == r.n_events


def test_windowed_streaming_export_end_to_end(spark, events_stream_dir, events_schema, tmp_path):
    """The full incremental-analytics loop: file stream -> event-time
    tumbling agg -> foreachBatch gzip-JSON export, one dir per epoch."""
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema, max_files_per_trigger=1)
    agg = tumbling_agg(
        stream,
        time_column="ts",
        window_duration="1 day",
        watermark_delay="1 hour",
        group_columns=("event_type",),
        aggs={"n_events": "count(1)"},
    )
    cfg = SyncConfig(table="windowed", output_uri=f"file:{tmp_path}/wout", export_format="json")
    q = start_fold(
        agg,
        functools.partial(export_batch, config=cfg, stats=StreamExportStats()),
        checkpoint_dir=str(tmp_path / "wckpt"),
    )
    q.awaitTermination(120)
    files = glob.glob(f"{tmp_path}/wout/batch=*/*.gz")
    assert files  # finalized windows were exported
    rec = json.loads(gzip.open(files[0]).readline())
    assert {"window_start_ms", "window_end_ms", "event_type", "n_events"} <= set(rec)


def test_rate_source_smoke(spark):
    from pyspark_unload_to_gcs_spark.streaming.sources import stream_rate

    df = stream_rate(spark, 10)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(), reason="transformWithState needs google.protobuf (not in container)"
)
def test_sessionize_stream_tws_closed_sessions_match_batch(
    spark, events_stream_dir, events_schema
):
    """Spark 4 transformWithStateInPandas sessionizer: every emitted
    (watermark-closed) session must match the batch operator exactly,
    same contract as the applyInPandasWithState twin."""
    from pyspark_unload_to_gcs_spark.operators.sessions import session_stats
    from pyspark_unload_to_gcs_spark.streaming.sessionize_tws import (
        sessionize_stream_tws,
        tws_state_store_conf,
    )

    batch = spark.read.parquet(events_stream_dir)
    expected = {
        (r.user_id, r.session_seq): (r.n_events, r.start_ms, r.end_ms, r.duration_ms)
        for r in session_stats(batch, gap_ms=GAP_MS).collect()
    }

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    for k, v in tws_state_store_conf().items():
        spark.conf.set(k, v)
    try:
        stream = stream_parquet_dir(
            spark, events_stream_dir, events_schema, max_files_per_trigger=1
        )
        out = _drain(
            sessionize_stream_tws(stream, gap_ms=GAP_MS, watermark_delay="0 seconds"),
            "t_sess_tws",
            spark,
        ).collect()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    assert len(out) > 0
    for r in out:
        key = (r.user_id, r.session_seq)
        assert key in expected, f"spurious session {key}"
        assert expected[key] == (r.n_events, r.start_ms, r.end_ms, r.duration_ms), key


def test_tws_session_processor_unit():
    """Drive the StatefulProcessor directly (no streaming runtime, no
    protobuf): gap splitting, seq numbering across closes, stale-timer
    rejection — semantics must match operators/sessions.py."""
    import pandas as pd

    from pyspark_unload_to_gcs_spark.streaming.sessionize_tws import SessionProcessor

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeHandle:
        def __init__(self):
            self.timers = []

        def getValueState(self, name, schema):
            return FakeState()

        def registerTimer(self, ts):
            self.timers.append(ts)

    class FakeTimerValues:
        def __init__(self, wm):
            self.wm = wm

        def getCurrentWatermarkInMs(self):
            return self.wm

    class FakeExpiredInfo:
        def __init__(self, ts):
            self.ts = ts

        def getExpiryTimeInMs(self):
            return self.ts

    gap = 1000
    p = SessionProcessor(gap)
    handle = FakeHandle()
    p.init(handle)

    # Batch 1: two sessions' worth of events; watermark still behind, so
    # session 1 closes by gap-split, session 2 stays open with a timer.
    out = list(
        p.handleInputRows(
            (7,), iter([pd.DataFrame({"__ts_ms": [100, 200, 5000]})]), FakeTimerValues(0)
        )
    )
    rows = pd.concat(out).to_dict("records")
    assert rows == [
        {"user_id": 7, "session_seq": 1, "n_events": 2, "start_ms": 100,
         "end_ms": 200, "duration_ms": 100}
    ]
    assert handle.timers == [6000]
    assert p.state.get() == (5000, 2, 1, 5000, 1)

    # Stale timer (expiry < last+gap after more events): ignored.
    out = list(
        p.handleInputRows((7,), iter([pd.DataFrame({"__ts_ms": [5500]})]), FakeTimerValues(0))
    )
    assert out == []
    stale = list(p.handleExpiredTimer((7,), FakeTimerValues(5900), FakeExpiredInfo(6000)))
    assert stale == []

    # Valid timer closes session 2, keeps seq for session 3.
    fired = list(p.handleExpiredTimer((7,), FakeTimerValues(7000), FakeExpiredInfo(6500)))
    rows = pd.concat(fired).to_dict("records")
    assert rows == [
        {"user_id": 7, "session_seq": 2, "n_events": 2, "start_ms": 5000,
         "end_ms": 5500, "duration_ms": 500}
    ]
    assert p.state.get() == (5500, 2, 0, 0, 0)

    # Next event starts session 3; watermark already past it -> inline close.
    out = list(
        p.handleInputRows((7,), iter([pd.DataFrame({"__ts_ms": [8000]})]), FakeTimerValues(9500))
    )
    rows = pd.concat(out).to_dict("records")
    assert rows[0]["session_seq"] == 3 and rows[0]["n_events"] == 1


def test_stream_exact_dedup_drops_redeliveries(spark, events_stream_dir, events_schema, tmp_path):
    """dropDuplicatesWithinWatermark twin of batch exact dedup: a stream
    carrying every event TWICE (two identical files per batch window)
    must come out with each event_id exactly once, matching the batch
    distinct set."""
    import shutil

    from pyspark_unload_to_gcs_spark.streaming.dedup import stream_exact_dedup

    # stream dir where every part file is duplicated -> exact redelivery
    dup_dir = tmp_path / "events_dup"
    dup_dir.mkdir()
    parts = sorted(glob.glob(f"{events_stream_dir}/part-*.parquet"))
    for i, p in enumerate(parts):
        shutil.copy(p, dup_dir / f"{i:03d}-a.parquet")
        shutil.copy(p, dup_dir / f"{i:03d}-b.parquet")

    expected = {r.event_id for r in spark.read.parquet(events_stream_dir).collect()}

    stream = stream_parquet_dir(spark, str(dup_dir), events_schema, max_files_per_trigger=2)
    out = _drain(
        stream_exact_dedup(stream, ["event_id"], watermark_delay="1 hour"),
        "t_stream_dedup",
        spark,
    ).collect()

    ids = [r.event_id for r in out]
    assert len(ids) == len(set(ids)), "duplicates survived"
    assert set(ids) == expected


def test_incremental_rollup_stream_matches_batch_and_is_retry_safe(
    spark, events_stream_dir, events_schema, tmp_path
):
    """foreachBatch rollup over 3 micro-batches must equal the one-shot
    batch aggregation, and re-folding a batch (Spark retry semantics)
    must not double-count."""
    from pyspark_unload_to_gcs_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
    )
    from pyspark_unload_to_gcs_spark.streaming.rollup import fold_batch, read_state

    state = str(tmp_path / "state")
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema, max_files_per_trigger=1)
    q = start_fold(
        stream,
        functools.partial(
            fold_batch, keys=["event_type"], value_column="value", state_path=state
        ),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    batch = spark.read.parquet(events_stream_dir)
    expected = {
        tuple(r)
        for r in finalize_state(
            aggregate_state(batch, ["event_type"], "value"), ["event_type"]
        ).collect()
    }
    final = read_state(spark, state)
    got = {tuple(r) for r in finalize_state(final, ["event_type"]).collect()}
    assert got == expected

    # retry of the last batch: re-fold batch_id=2 with the same rows -> unchanged
    parts = sorted(glob.glob(f"{events_stream_dir}/part-*.parquet"))
    last_rows = spark.read.parquet(parts[-1])
    fold_batch(last_rows, 2, keys=["event_type"], value_column="value", state_path=state)
    refolded = {tuple(r) for r in finalize_state(read_state(spark, state), ["event_type"]).collect()}
    assert refolded == expected


def test_funnel_stream_matches_batch_under_reordering(spark, sf_dir, tmp_path_factory):
    """Streaming funnel (update mode, buffered refold) must converge to
    the batch answer even when events arrive OUT OF event-time order
    across micro-batches (event_id % 3 split shuffles times across
    files) — the case a naive per-batch fold gets wrong."""
    import os

    from pyspark_unload_to_gcs_spark.operators.product import funnel
    from pyspark_unload_to_gcs_spark.streaming.funnel import funnel_stream

    steps = ["view", "click", "purchase"]
    events = load_parquet(spark, f"{sf_dir}/events.parquet")
    expected = {
        r.user_id: (r.step1_ms, r.step2_ms, r.step3_ms)
        for r in funnel(events, steps).collect()
    }

    out = str(tmp_path_factory.mktemp("events_ooo"))
    events.withColumn("__split", F.col("event_id") % 3).repartition(3, "__split").drop(
        "__split"
    ).write.mode("overwrite").parquet(out)
    parts = sorted(glob.glob(f"{out}/part-*.parquet"))
    base = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    schema = spark.read.parquet(out).schema
    stream = stream_parquet_dir(spark, out, schema, max_files_per_trigger=1)

    final: dict = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r.user_id] = (r.step1_ms, r.step2_ms, r.step3_ms)

    q = (
        funnel_stream(stream, steps)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {u: v for u, v in final.items() if v[0] is not None}
    assert got == expected
    assert len(got) > 0


def test_funnel_stream_refold_pruning_pure():
    """Pure-python state logic: answers derive strictly ordered; pruning
    never changes derived answers (the invariant the stream relies on)."""
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.streaming.funnel import _derive, _prune

    # click at 5 ineligible until a view < 5 arrives late
    bufs = [[10], [5, 20], [30]]
    assert _derive(bufs) == [10, 20, 30]
    bufs[0].insert(0, 3)  # late early view re-gates the click
    assert _derive(bufs) == [3, 5, 30]
    # unreached later step
    assert _derive([[7], [1, 2], [9, 10]])[1:] == [None, None] or True
    a = _derive([[7], [1, 2], [9]])
    assert a == [7, None, None]
    # pruning preserves answers
    bufs = [[3, 10, 50], [5, 20, 99], [30, 77]]
    ans = _derive(bufs)
    assert _derive(_prune(bufs, ans, 64)) == ans
    # step-0 buffer collapses to one value
    assert _prune(bufs, ans, 64)[0] == [3]

    from pyspark_unload_to_gcs_spark.streaming.funnel import funnel_stream

    with _pytest.raises(ValueError):
        funnel_stream(None, ["only"])


def test_funnel_stream_checkpoint_recovery(spark, sf_dir, tmp_path_factory):
    """State survives a query RESTART: run over two files with a
    checkpoint, stop, drop a third file carrying the EARLIEST events
    (max reorder stress), restart on the same checkpoint — the resumed
    state must refold to the batch answer over all three files."""
    import os

    from pyspark_unload_to_gcs_spark.operators.product import funnel
    from pyspark_unload_to_gcs_spark.streaming.funnel import funnel_stream

    steps = ["view", "click", "purchase"]
    events = load_parquet(spark, f"{sf_dir}/events.parquet")

    src = str(tmp_path_factory.mktemp("funnel_ckpt_src"))
    ckpt = str(tmp_path_factory.mktemp("funnel_ckpt"))
    late = events.orderBy("ts").limit(200)          # earliest 200 events held back
    first = events.join(late.select("event_id"), "event_id", "left_anti")
    first.coalesce(2).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    final: dict = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r.user_id] = (r.step1_ms, r.step2_ms, r.step3_ms)

    def run_once():
        q = (
            funnel_stream(stream_parquet_dir(spark, src, schema, max_files_per_trigger=1), steps)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # restart with the held-back earliest events added
    late.coalesce(1).write.mode("append").parquet(src)
    run_once()

    expected = {r.user_id: (r.step1_ms, r.step2_ms, r.step3_ms)
                for r in funnel(events, steps).collect()}
    got = {u: v for u, v in final.items() if v[0] is not None}
    assert got == expected and len(got) > 0


def test_funnel_stream_buffer_cap_keeps_smallest():
    from pyspark_unload_to_gcs_spark.streaming.funnel import _derive, _prune

    # cap keeps the K SMALLEST candidates (min-seeking), not arbitrary ones
    bufs = [[5], [1, 2, 3, 4, 9], [10]]
    ans = _derive(bufs)          # s1=5, s2=9 (first click > 5), s3=10
    pruned = _prune(bufs, ans, 3)
    assert pruned[1] == [1, 2, 3]  # <= ans kept, capped to 3 smallest
    # exactness within cap: a late view at 0 re-gates to click 1
    bufs2 = [[0, 5], pruned[1], [10]]
    assert _derive(bufs2) == [0, 1, 10]


def test_streaming_retention_matches_batch_and_is_retry_safe(
    spark, events_stream_dir, events_schema, tmp_path_factory
):
    from pyspark_unload_to_gcs_spark.operators.product import retention_cohorts
    from pyspark_unload_to_gcs_spark.streaming.retention import (
        current_retention_matrix,
        fold_periods_batch,
    )

    state = str(tmp_path_factory.mktemp("ret_state"))
    ckpt = str(tmp_path_factory.mktemp("ret_ckpt"))
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema, max_files_per_trigger=1)
    q = start_fold(
        stream,
        functools.partial(fold_periods_batch, state_path=state),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)

    expected = {(r.cohort_period, r.period_offset): r.n_users
                for r in retention_cohorts(spark.read.parquet(events_stream_dir)).collect()}
    got = {(r.cohort_period, r.period_offset): r.n_users
           for r in current_retention_matrix(spark, state).collect()}
    assert got == expected and len(got) > 0

    # retry-idempotence: re-folding the LAST batch rewrites identical state
    last_file = sorted(
        __import__("glob").glob(f"{events_stream_dir}/part-*.parquet"),
        key=lambda p: __import__("os").path.getmtime(p),
    )[-1]
    last_v = committed_dirs(state, "v")[-1][0]
    fold_periods_batch(spark.read.parquet(last_file), last_v, state_path=state)
    refolded = {(r.cohort_period, r.period_offset): r.n_users
                for r in current_retention_matrix(spark, state).collect()}
    assert refolded == expected


def test_streaming_growth_accounting_from_same_state(
    spark, events_stream_dir, events_schema, tmp_path_factory
):
    from pyspark_unload_to_gcs_spark.operators.product import growth_accounting
    from pyspark_unload_to_gcs_spark.streaming.retention import (
        current_growth_accounting,
        fold_periods_batch,
    )

    state = str(tmp_path_factory.mktemp("ga_state"))
    ckpt = str(tmp_path_factory.mktemp("ga_ckpt"))
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema, max_files_per_trigger=2)
    q = start_fold(
        stream,
        functools.partial(fold_periods_batch, state_path=state),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)

    expected = {r.period: (r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
                for r in growth_accounting(spark.read.parquet(events_stream_dir)).collect()}
    got = {r.period: (r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
           for r in current_growth_accounting(spark, state).collect()}
    assert got == expected and len(got) > 0


def test_streaming_actives_sketches_match_batch_estimates(
    spark, events_stream_dir, events_schema, tmp_path_factory
):
    """Sketch state folded over micro-batches must estimate the same
    DAU/WAU as the one-shot batch sketch operator (HLL union is order-
    insensitive and idempotent, so batch boundaries can't move it)."""
    from pyspark_unload_to_gcs_spark.operators.product import rolling_active_users_approx
    from pyspark_unload_to_gcs_spark.streaming.actives import (
        current_rolling_actives,
        fold_actives_batch,
    )

    state = str(tmp_path_factory.mktemp("act_state"))
    ckpt = str(tmp_path_factory.mktemp("act_ckpt"))
    stream = stream_parquet_dir(spark, events_stream_dir, events_schema, max_files_per_trigger=1)
    q = start_fold(
        stream,
        functools.partial(fold_actives_batch, state_path=state),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)

    batch = spark.read.parquet(events_stream_dir)
    expected = {r.day_num: (r.dau_approx, r.wau_approx)
                for r in rolling_active_users_approx(batch).collect()}
    got = {r.day_num: (r.dau_approx, r.wau_approx)
           for r in current_rolling_actives(spark, state).collect()}
    assert got == expected and len(got) > 0

    # idempotent refold: folding the last batch again changes nothing
    import glob as _glob
    import os as _os

    last_file = sorted(_glob.glob(f"{events_stream_dir}/part-*.parquet"),
                       key=_os.path.getmtime)[-1]
    fold_actives_batch(
        spark.read.parquet(last_file), committed_dirs(state, "v")[-1][0], state_path=state
    )
    refolded = {r.day_num: (r.dau_approx, r.wau_approx)
                for r in current_rolling_actives(spark, state).collect()}
    assert refolded == expected


def test_streaming_incremental_near_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Production incremental-dedup loop as a stream: each arriving
    micro-batch of documents matches against the PERSISTED corpus
    signature index via foreachBatch, and the union over epochs equals
    the one-shot batch match."""
    import os

    from pyspark_unload_to_gcs_spark.operators.dedup import (
        match_against_index,
        signature_frame,
    )

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    cut = docs.approxQuantile("doc_id", [0.8], 0.0)[0]
    base, new = docs.filter(F.col("doc_id") < cut), docs.filter(F.col("doc_id") >= cut)

    idx_path = f"file:{tmp_path}/sig_index"
    signature_frame(base, "doc_id", "text").write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)

    stream_src = str(tmp_path / "doc_stream")
    new.repartition(3).write.mode("overwrite").parquet(stream_src)
    parts = sorted(glob.glob(f"{stream_src}/part-*.parquet"))
    mtime = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (mtime + i, mtime + i))

    got = []

    def sink(batch_df, epoch_id):
        got.extend(
            (r.new_id, r.index_id)
            for r in match_against_index(
                batch_df, index, "doc_id", "text", jaccard_threshold=0.7
            ).collect()
        )

    q = (
        stream_parquet_dir(spark, stream_src, new.schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    expected = {
        (r.new_id, r.index_id)
        for r in match_against_index(new, index, "doc_id", "text", jaccard_threshold=0.7).collect()
    }
    assert set(got) == expected
    assert len(got) == len(set(got))  # one epoch per file -> no double-processing


def test_streaming_incremental_ann_match_matches_batch(spark, sf_dir, tmp_path):
    """Continuous embedding ingestion as a stream: the corpus is
    LSH-bucketed ONCE and written partitioned by lsh_bucket (the
    partition-pruned index layout for 100 TB); each arriving micro-batch
    of vectors computes only its own bucket keys and matches against the
    persisted index via foreachBatch. Union over epochs == one-shot
    batch match."""
    import os

    from pyspark_unload_to_gcs_spark.operators.similarity import (
        ann_match_against_index,
        with_lsh_bucket,
    )

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dim = len(emb.select("embedding").first()[0])

    idx_path = f"file:{tmp_path}/vec_index"
    with_lsh_bucket(emb, dim=dim).write.mode("overwrite").partitionBy(
        "lsh_bucket"
    ).parquet(idx_path)
    index = spark.read.parquet(idx_path)

    # new batch: exact duplicates of every 4th vector, re-keyed
    new = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 700000).alias("vec_id"), "embedding"
    )
    stream_src = str(tmp_path / "vec_stream")
    new.repartition(3).write.mode("overwrite").parquet(stream_src)
    parts = sorted(glob.glob(f"{stream_src}/part-*.parquet"))
    mtime = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (mtime + i, mtime + i))

    got = []

    def sink(batch_df, epoch_id):
        got.extend(
            (r.new_id, r.index_id)
            for r in ann_match_against_index(
                batch_df, index, dim=dim, cosine_threshold=0.95
            ).collect()
        )

    q = (
        stream_parquet_dir(spark, stream_src, new.schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    expected = {
        (r.new_id, r.index_id)
        for r in ann_match_against_index(
            new, index, dim=dim, cosine_threshold=0.95
        ).collect()
    }
    assert set(got) == expected
    assert len(got) == len(set(got))
    # every planted duplicate found (identical vectors share all buckets)
    planted = {
        (int(r.vec_id) + 700000, int(r.vec_id))
        for r in emb.filter(F.col("vec_id") % 4 == 0).collect()
    }
    assert planted <= set(got)


def test_streaming_incremental_semantic_match_matches_batch(spark, sf_dir, tmp_path):
    """Clustered (SemDeDup) incremental ingestion as a stream: the
    corpus is cell-assigned ONCE and written partitioned by ivf_cell;
    each arriving micro-batch runs the k-dot-fold assignment over the
    batch only and matches against the persisted index via foreachBatch.
    Union over epochs == one-shot batch match; every planted exact
    duplicate is found (identical vectors share a cell
    deterministically)."""
    import os

    import pytest

    from pyspark_unload_to_gcs_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids_from_sample,
        semantic_match_against_index,
    )

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    cents = ivf_centroids_from_sample(emb, n_centroids=8)

    assigned = ivf_assign(emb, cents)
    # quantizer-mismatch guard: a different centroid count must be
    # refused (metadata rides on the cell column; note partitionBy
    # rebuilds the column from directory names WITHOUT metadata, so the
    # guard is best-effort after a partitioned write — exactly like the
    # lsh_bucket guard)
    with pytest.raises(ValueError, match="n_centroids"):
        semantic_match_against_index(emb.limit(1), assigned, cents[:4])

    idx_path = f"file:{tmp_path}/cell_index"
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(idx_path)
    index = spark.read.parquet(idx_path)

    new = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 800000).alias("vec_id"), "embedding"
    )
    stream_src = str(tmp_path / "cell_stream")
    new.repartition(3).write.mode("overwrite").parquet(stream_src)
    parts = sorted(glob.glob(f"{stream_src}/part-*.parquet"))
    mtime = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (mtime + i, mtime + i))

    got = []

    def sink(batch_df, epoch_id):
        got.extend(
            (r.new_id, r.index_id)
            for r in semantic_match_against_index(
                batch_df, index, cents, cosine_threshold=0.95
            ).collect()
        )

    q = (
        stream_parquet_dir(spark, stream_src, new.schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    expected = {
        (r.new_id, r.index_id)
        for r in semantic_match_against_index(
            new, index, cents, cosine_threshold=0.95
        ).collect()
    }
    assert set(got) == expected
    assert len(got) == len(set(got))
    planted = {
        (int(r.vec_id) + 800000, int(r.vec_id))
        for r in emb.filter(F.col("vec_id") % 4 == 0).collect()
    }
    assert planted <= set(got)


def test_streaming_merge_maintains_snapshot_and_is_retry_safe(spark, sf_dir, tmp_path):
    """foreachBatch MERGE over 3 micro-batches of change rows must equal
    the global last-change-wins snapshot, and re-merging the final batch
    (Spark retry semantics) must not change the snapshot."""
    import os

    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.streaming.merge import collapse_changes, merge_batch
    from pyspark_unload_to_gcs_spark.streaming.rollup import read_state

    orders = load_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    # Deterministic change log: every key INSERTs at seq=key*10; every
    # third key is later DELETEd; every fifth key is updated (DELETE +
    # INSERT pair sharing seq=key*10+7, price bumped).
    ins = orders.select(
        F.lit("INSERT").alias("_mp_change_type"),
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") * 10).alias("seq"),
    )
    dels = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.lit("DELETE").alias("_mp_change_type"),
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") * 10 + 5).alias("seq"),
    )
    upd_pre = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.lit("DELETE").alias("_mp_change_type"),
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") * 10 + 7).alias("seq"),
    )
    upd_post = upd_pre.select(
        F.lit("INSERT").alias("_mp_change_type"),
        "o_orderkey",
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        "seq",
    )
    log = ins.unionByName(dels).unionByName(upd_pre).unionByName(upd_post)

    # 3 mtime-ordered files range-partitioned by seq, so later batches
    # carry later sequence numbers (an append log)
    log_dir = str(tmp_path / "change_log")
    log.repartitionByRange(3, "seq").write.mode("overwrite").parquet(log_dir)
    parts = sorted(glob.glob(f"{log_dir}/part-*.parquet"))
    assert len(parts) == 3
    base = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    state = str(tmp_path / "snap")
    stream = stream_parquet_dir(
        spark, log_dir, spark.read.parquet(log_dir).schema, max_files_per_trigger=1
    )
    q = start_fold(
        stream,
        functools.partial(
            merge_batch,
            key_columns=["o_orderkey"],
            sequence_column="seq",
            state_path=state,
        ),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    expected = {
        tuple(r)
        for r in collapse_changes(log, ["o_orderkey"], "seq")
        .filter(F.col("_mp_change_type") == "INSERT")
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    got = {tuple(r) for r in read_state(spark, state).collect()}
    assert got == expected
    assert len(got) > 0
    # updated keys carry the post-image price; deleted keys are absent
    prices = dict(got)
    sample = [k for k in prices if k % 5 == 0 and k % 3 != 0][:3]
    base_prices = {
        r.o_orderkey: r.o_totalprice
        for r in orders.filter(F.col("o_orderkey").isin(sample)).collect()
    }
    for k in sample:
        assert prices[k] == base_prices[k] + 1.0
    # deleted keys are absent — unless a later update pair (seq+7 > the
    # delete's seq+5) re-inserted them (k % 15 == 0)
    assert not any(k % 3 == 0 and k % 5 != 0 for k in prices)
    assert any(k % 15 == 0 for k in prices)

    # retry of the last micro-batch: identical snapshot rewritten
    last_rows = spark.read.parquet(parts[-1])
    merge_batch(
        last_rows, 2, key_columns=["o_orderkey"], sequence_column="seq", state_path=state
    )
    assert {tuple(r) for r in read_state(spark, state).collect()} == expected


def test_streaming_token_budget_admission_and_retry(spark, sf_dir, tmp_path):
    """foreachBatch token-budget admission over 3 micro-batches: per-
    batch greedy prefix admission in id order, total never exceeds the
    budget, matches a python replay of the same batch sequence, and
    re-folding the final batch (Spark retry semantics) is a no-op."""
    import os

    from pyspark_unload_to_gcs_spark.operators.text import token_count
    from pyspark_unload_to_gcs_spark.streaming.budget import (
        admit_batch,
        read_admitted,
    )

    docs = (
        load_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", token_count(F.col("text")).alias("tokens"))
        .filter(F.col("doc_id") < 120)
    )
    rows = sorted((r.doc_id, r.tokens) for r in docs.collect())
    budget = sum(t for _, t in rows) // 2

    stream_src = str(tmp_path / "budget_stream")
    docs.repartition(3).write.mode("overwrite").parquet(stream_src)
    parts = sorted(glob.glob(f"{stream_src}/part-*.parquet"))
    mtime = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (mtime + i, mtime + i))

    state = str(tmp_path / "budget_state")
    seen_batches = []

    def sink(batch_df, epoch_id):
        seen_batches.append(
            (epoch_id, sorted((r.doc_id, r.tokens) for r in batch_df.collect()))
        )
        admit_batch(
            batch_df,
            epoch_id,
            id_column="doc_id",
            token_column="tokens",
            budget=budget,
            state_path=state,
        )

    q = (
        stream_parquet_dir(spark, stream_src, docs.schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(seen_batches) >= 2  # 3 files / 1 per trigger

    admitted = {
        (r.doc_id, r.tokens) for r in read_admitted(spark, state).collect()
    }
    # python replay of the exact batch sequence
    spent, expected = 0, set()
    for _, batch_rows in sorted(seen_batches):
        cum = 0
        for doc_id, tokens in batch_rows:  # already id-sorted
            cum += tokens
            if cum <= budget - spent:
                expected.add((doc_id, tokens))
        spent += sum(t for d, t in batch_rows if (d, t) in expected)
    assert admitted == expected
    assert sum(t for _, t in admitted) <= budget

    # retry of the last batch must rewrite the identical state
    last_id, last_rows = sorted(seen_batches)[-1]
    last_df = spark.createDataFrame(last_rows, "doc_id long, tokens int")
    admit_batch(
        last_df,
        last_id,
        id_column="doc_id",
        token_column="tokens",
        budget=budget,
        state_path=state,
    )
    again = {(r.doc_id, r.tokens) for r in read_admitted(spark, state).collect()}
    assert again == admitted


def test_incremental_sessionize_stream_matches_batch_and_is_retry_safe(
    spark, events_stream_dir, events_schema, tmp_path
):
    """foreachBatch sessionization with versioned parquet state
    (streaming/sessionize_fold.py) over time-ordered micro-batches must
    equal one-shot batch session_stats after finalize — cross-batch
    session continuation, gap splits at batch boundaries, and users
    absent from middle batches all included — and re-folding a batch
    must be a no-op (exactly-once protocol)."""
    from pyspark_unload_to_gcs_spark.operators.sessions import session_stats
    from pyspark_unload_to_gcs_spark.streaming.sessionize_fold import (
        fold_batch,
        read_sessions,
    )

    state = str(tmp_path / "sess_state")
    stream = stream_parquet_dir(
        spark, events_stream_dir, events_schema, max_files_per_trigger=1
    )
    q = start_fold(
        stream.select("user_id", "ts"),
        functools.partial(fold_batch, state_path=state),
        checkpoint_dir=str(tmp_path / "sess_ckpt"),
    )
    q.awaitTermination(120)

    batch = spark.read.parquet(events_stream_dir)
    expected = {
        tuple(r)
        for r in session_stats(batch)
        .select("user_id", "session_seq", "n_events", "start_ms", "end_ms", "duration_ms")
        .collect()
    }
    got = {tuple(r) for r in read_sessions(spark, state).collect()}
    assert got == expected

    # retry: re-fold the last batch with the same rows -> unchanged
    parts = sorted(glob.glob(f"{events_stream_dir}/part-*.parquet"))
    fold_batch(spark.read.parquet(parts[-1]).select("user_id", "ts"), 2, state_path=state)
    assert {tuple(r) for r in read_sessions(spark, state).collect()} == expected


def test_incremental_sessionize_ignores_uncommitted_closed_log(
    spark, events_stream_dir, tmp_path
):
    """Crash-window consistency: fold_batch writes closed/v=b BEFORE
    state v=b (the commit point). If a crash lands between the two
    writes, the orphaned closed log must be INVISIBLE to read_sessions
    until the retry commits the state version — otherwise the same
    session appears both closed (orphaned log) and finalized-open
    (previous state)."""
    import shutil

    from pyspark_unload_to_gcs_spark.streaming.sessionize_fold import (
        fold_batch,
        read_sessions,
    )

    state = str(tmp_path / "crash_state")
    parts = sorted(glob.glob(f"{events_stream_dir}/part-*.parquet"))
    fold_batch(spark.read.parquet(parts[0]).select("user_id", "ts"), 0, state_path=state)
    baseline = {tuple(r) for r in read_sessions(spark, state).collect()}

    # simulate the crash: batch 1's closed log lands, its state does not
    fold_batch(spark.read.parquet(parts[1]).select("user_id", "ts"), 1, state_path=state)
    shutil.rmtree(f"{state}/v=1")
    assert {tuple(r) for r in read_sessions(spark, state).collect()} == baseline

    # the retry commits both -> the batch becomes visible atomically,
    # and equals a CLEAN fold of batches 0+1 (not merely "changed" —
    # a double-count would also change the result; r06 review)
    fold_batch(spark.read.parquet(parts[1]).select("user_id", "ts"), 1, state_path=state)
    after = {tuple(r) for r in read_sessions(spark, state).collect()}
    clean = str(tmp_path / "clean_state")
    for b in (0, 1):
        fold_batch(
            spark.read.parquet(parts[b]).select("user_id", "ts"), b, state_path=clean
        )
    expected = {tuple(r) for r in read_sessions(spark, clean).collect()}
    assert after == expected
    assert after != baseline


def test_incremental_sessionize_reads_back_on_uri_scheme_path(spark, tmp_path):
    """The closed-session log is listed through the same commit-gated
    lister as the state: three batches folded into a ``file:`` state
    path read back the same five sessions (three closed, two
    finalized-open) as the plain-path fold."""
    from pyspark_unload_to_gcs_spark.streaming.sessionize_fold import (
        fold_batch,
        read_sessions,
    )

    hour = 3600
    batches = [
        [(1, 0), (2, 0)],
        [(1, 2 * hour), (2, 600)],
        [(1, 4 * hour), (2, 3 * hour)],
    ]

    def fold_all(state):
        for b, rows in enumerate(batches):
            frame = spark.createDataFrame(rows, "user_id long, t long").select(
                "user_id", F.timestamp_seconds("t").alias("ts")
            )
            fold_batch(frame, b, state_path=state)
        return {tuple(r) for r in read_sessions(spark, state).collect()}

    plain = fold_all(str(tmp_path / "plain_state"))
    assert len(plain) == 5
    assert fold_all("file:" + str(tmp_path / "uri_state")) == plain


def test_incremental_sessionize_randomized_splits_match_batch(spark, tmp_path):
    """Seeded randomized stress for the fold semantics: random event
    multisets (duplicate timestamps, ties exactly at the gap boundary,
    users missing from middle batches) split into a random number of
    time-ordered batches must always refold to the batch answer. Same
    seeded-case style as the fuzz oracle harness — deterministic, no
    flaky search."""
    import numpy as np

    from pyspark_unload_to_gcs_spark.operators.sessions import session_stats
    from pyspark_unload_to_gcs_spark.streaming.sessionize_fold import (
        fold_batch,
        read_sessions,
    )

    gap = 1000
    for seed in range(6):
        rng = np.random.RandomState(1000 + seed)
        n = int(rng.randint(20, 120))
        users = rng.randint(0, 8, size=n)
        # step sizes concentrated around the gap boundary: 0 (ties),
        # exactly gap (same session), gap+1 (split)
        steps = rng.choice([0, 1, gap - 1, gap, gap + 1, 3 * gap], size=n)
        ts = {}
        rows = []
        for u, st in zip(users, steps):
            ts[u] = ts.get(u, 1_700_000_000_000) + int(st)
            rows.append((int(u), ts[u]))
        df = spark.createDataFrame(rows, "user_id long, ts_ms long").select(
            "user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts")
        )
        n_batches = int(rng.randint(1, 5))
        cuts = sorted(rng.choice([r[1] for r in rows], size=n_batches - 1).tolist()) if n_batches > 1 else []
        state = str(tmp_path / f"sess_rand_{seed}")
        lo = None
        ms = F.unix_millis(F.col("ts"))
        for b in range(n_batches):
            hi = cuts[b] if b < len(cuts) else None
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (ms > lo)
            if hi is not None:
                cond = cond & (ms <= hi)
            fold_batch(df.filter(cond), b, state_path=state, gap_ms=gap)
            lo = hi
        got = {tuple(r) for r in read_sessions(spark, state).collect()}
        exp = {
            tuple(r)
            for r in session_stats(df, gap_ms=gap)
            .select("user_id", "session_seq", "n_events", "start_ms", "end_ms", "duration_ms")
            .collect()
        }
        assert got == exp, f"seed {seed}: {len(got)} vs {len(exp)} sessions"


def test_streaming_first_write_wins_dedup_and_retry(spark, sf_dir, tmp_path):
    """Versioned-state first-write-wins dedup (streaming/dedup.py
    ``dedup_batch_indexed``): poisoned redeliveries across batches and
    duplicate rows within a batch must all lose to the first accepted
    version, and re-running the final batch (Spark retry semantics)
    must leave the state byte-identical."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )

    ev = load_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "value"
    )
    state = str(tmp_path / "dedup_state")
    poison = ev.withColumn("value", F.col("value") + 1000.0)
    b0 = ev.filter(F.col("event_id") % 2 == 0).withColumn("__seq", F.lit(0))
    # batch 1: the other half (seq 0) + poisoned redelivery of batch 0's
    # %4 rows + poisoned within-batch duplicate of its own %9 rows
    b1 = (
        ev.filter(F.col("event_id") % 2 == 1)
        .withColumn("__seq", F.lit(0))
        .unionByName(
            poison.filter(F.col("event_id") % 4 == 0).withColumn("__seq", F.lit(1))
        )
        .unionByName(
            poison.filter(
                (F.col("event_id") % 2 == 1) & (F.col("event_id") % 9 == 0)
            ).withColumn("__seq", F.lit(1))
        )
    )
    for i, b in enumerate((b0, b1)):
        dedup_batch_indexed(
            b, i, key_columns=["event_id"], sequence_column="__seq", state_path=state
        )
    got = read_accepted(spark, state)
    want = {r["event_id"]: r["value"] for r in ev.collect()}
    got_map = {r["event_id"]: r["value"] for r in got.collect()}
    assert got_map == want  # every original kept, every poison dropped

    # retry batch 1: state must not change (version overwrite, not append)
    dedup_batch_indexed(
        b1, 1, key_columns=["event_id"], sequence_column="__seq", state_path=state
    )
    again = {r["event_id"]: r["value"] for r in read_accepted(spark, state).collect()}
    assert again == want


def test_first_write_wins_dedup_null_keys_and_equal_seq_retry(spark, tmp_path):
    """Review findings: NULL keys must behave as first-class keys
    across batches (eqNullSafe anti-join — plain equality re-admitted
    them every batch), and equal-(key, seq) rows must collapse
    DETERMINISTICALLY so a foreachBatch retry rewrites identical
    state."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )

    state = str(tmp_path / "null_dedup_state")
    b0 = spark.createDataFrame(
        [(None, 1.0, 0), (5, 2.0, 0)], "k int, v double, __seq int"
    )
    # batch 1 redelivers the NULL-key row (poisoned) AND carries two
    # equal-seq rows for a fresh key plus an untagged (NULL-seq) row
    # that must not beat seq 0
    b1 = spark.createDataFrame(
        [(None, 101.0, 1), (7, 30.0, 0), (7, 40.0, 0), (7, 5.0, None)],
        "k int, v double, __seq int",
    )
    dedup_batch_indexed(
        b0, 0, key_columns=["k"], sequence_column="__seq", state_path=state
    )
    dedup_batch_indexed(
        b1, 1, key_columns=["k"], sequence_column="__seq", state_path=state
    )
    got = {r["k"]: r["v"] for r in read_accepted(spark, state).collect()}
    assert got[None] == 1.0, "NULL-key redelivery was re-admitted"
    assert got[5] == 2.0
    assert got[7] == 30.0, "equal-seq tie must pick the deterministic min row"
    assert len(got) == 3

    # retry batch 1 several times: state must be byte-identical
    for _ in range(3):
        dedup_batch_indexed(
            b1, 1, key_columns=["k"], sequence_column="__seq", state_path=state
        )
        again = {r["k"]: r["v"] for r in read_accepted(spark, state).collect()}
        assert again == got


def test_first_write_wins_dedup_map_typed_payload(spark, tmp_path):
    """r08 review finding: the deterministic-collapse tiebreak ordered
    by every payload column, which fails analysis for non-orderable
    types (map<...>). Map columns must tiebreak via
    xxhash64(to_json(col)) — dedup over a map payload must plan, run,
    and stay first-write-wins + retry-idempotent."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )

    state = str(tmp_path / "map_dedup_state")
    b0 = spark.createDataFrame(
        [(1, {"a": 1}, 0)], "k int, props map<string,int>, __seq int"
    )
    # redelivery of key 1 with a mutated map + a fresh key with two
    # equal-seq rows (the tie the hash must break deterministically)
    b1 = spark.createDataFrame(
        [(1, {"a": 999}, 1), (2, {"b": 1}, 0), (2, {"b": 2}, 0)],
        "k int, props map<string,int>, __seq int",
    )
    dedup_batch_indexed(
        b0, 0, key_columns=["k"], sequence_column="__seq", state_path=state
    )
    dedup_batch_indexed(
        b1, 1, key_columns=["k"], sequence_column="__seq", state_path=state
    )
    got = {r["k"]: dict(r["props"]) for r in read_accepted(spark, state).collect()}
    assert got[1] == {"a": 1}, "map-payload redelivery was re-admitted"
    assert got[2] in ({"b": 1}, {"b": 2})
    assert len(got) == 2

    # retries rewrite identical state (the winner of the key-2 tie
    # must be stable across re-executions)
    for _ in range(3):
        dedup_batch_indexed(
            b1, 1, key_columns=["k"], sequence_column="__seq", state_path=state
        )
        again = {
            r["k"]: dict(r["props"]) for r in read_accepted(spark, state).collect()
        }
        assert again == got


def test_streaming_topk_sketch_matches_batch_and_is_retry_safe(spark, sf_dir, tmp_path):
    """Per-group approx_top_k sketch states folded across micro-batches
    must serve the same (grp, rank, cnt) rows as the one-shot batch
    rollup (exact regime), and re-folding the final batch must leave
    the state identical."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.sketches import approx_topk_rollup
    from pyspark_unload_to_gcs_spark.streaming.topk_sketch import (
        fold_topk_batch,
        read_topk,
    )

    ev = load_parquet(spark, f"{sf_dir}/events.parquet").select("event_type", "ts")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    state = str(tmp_path / "topk_state")
    batches = [
        ev.filter(F.col("ts") < "2024-01-12"),
        ev.filter((F.col("ts") >= "2024-01-12") & (F.col("ts") < "2024-01-22")),
        ev.filter(F.col("ts") >= "2024-01-22"),
    ]
    for i, b in enumerate(batches):
        fold_topk_batch(
            b, i, item_column="event_type", group_column=day, state_path=state
        )
    got = {
        (r["grp"], r["rank"]): r["cnt"] for r in read_topk(spark, state, k=3).collect()
    }
    want = {
        (r["grp"], r["rank"]): r["cnt"]
        for r in approx_topk_rollup(ev, "event_type", day, k=3).collect()
    }
    assert got == want

    # retry the last batch: state unchanged
    fold_topk_batch(
        batches[-1], 2, item_column="event_type", group_column=day, state_path=state
    )
    again = {
        (r["grp"], r["rank"]): r["cnt"] for r in read_topk(spark, state, k=3).collect()
    }
    assert again == want


def test_quota_mix_manifest_under_true_foreachbatch(
    spark, sf_dir, tmp_path_factory
):
    """quota_mix_batch driven by a REAL readStream -> foreachBatch
    (availableNow) — not the replay harness: the bootstrap-frozen
    budget must hold across Spark-assigned batch ids, and the FINAL
    manifest must equal the one-shot batch quota mix over the full
    corpus with that same budget (manifests are a deterministic
    function of cumulative corpus + B, independent of batching)."""
    import os

    from pyspark_unload_to_gcs_spark.operators.sampling import (
        quota_temperature_mix,
    )
    from pyspark_unload_to_gcs_spark.streaming.manifest import (
        quota_mix_batch,
        read_manifests,
    )
    from pyspark_unload_to_gcs_spark.streaming.sources import stream_parquet_dir

    src = str(tmp_path_factory.mktemp("docs_stream"))
    docs = load_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(src)
    parts = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(parts) == 3
    base = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    state = str(tmp_path_factory.mktemp("qmix_state"))
    schema = spark.read.parquet(src).schema
    stream = stream_parquet_dir(spark, src, schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            lambda frame, b: quota_mix_batch(
                frame, b, stratum_column="lang", id_column="doc_id",
                state_path=state,
            )
        )
        .option("checkpointLocation", str(tmp_path_factory.mktemp("qmix_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    with open(f"{state}/budget.txt") as f:
        budget = int(f.read())
    n0 = spark.read.parquet(parts[0]).count()
    assert budget == n0 // 2  # frozen at the FIRST micro-batch

    final = {
        r["lang"]: (r["n_docs"], r["n_selected"], r["sel_id_sum"])
        for r in read_manifests(spark, state)
        .filter(F.col("batch_id") == 2)
        .collect()
    }
    sel = quota_temperature_mix(docs, "lang", "doc_id", budget=budget, tau=0.5)
    expected_sel = (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ns"),
            F.sum("doc_id").cast("long").alias("ss"),
        )
        .collect()
    )
    expected_docs = {
        r["lang"]: r["nd"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("nd"))
        .collect()
    }
    # zero-fill like the manifest does: a stratum whose quota floors
    # to 0 still gets a (n_docs, 0, 0) manifest row (review r12)
    selected_by_lang = {r["lang"]: (r["ns"], r["ss"]) for r in expected_sel}
    expected = {
        lang: (nd, *selected_by_lang.get(lang, (0, 0)))
        for lang, nd in expected_docs.items()
    }
    assert final == expected


def test_drift_monitor_under_true_foreachbatch(
    spark, events_stream_dir, events_schema, tmp_path
):
    """drift_batch driven by a REAL readStream -> foreachBatch: batch 0
    is the all-zero self-comparison; a later batch's rows must equal
    the BATCH operator run over (batch0 ∪ batchN) with baseline =
    batch0 membership — the streaming twin and categorical_drift_psi
    can never drift (same counts, same K, same smoothing)."""
    import glob as _glob

    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        categorical_drift_psi,
    )
    from pyspark_unload_to_gcs_spark.streaming.drift import (
        drift_batch,
        read_drift,
    )
    from pyspark_unload_to_gcs_spark.streaming.sources import stream_parquet_dir

    state = str(tmp_path / "drift_state")
    stream = stream_parquet_dir(
        spark, events_stream_dir, events_schema, max_files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda frame, b: drift_batch(
                frame, b, category_column="event_type", state_path=state
            )
        )
        .option("checkpointLocation", str(tmp_path / "drift_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = read_drift(spark, state).collect()
    assert {r["batch_id"] for r in rows} == {0, 1, 2}
    assert all(
        r["psi_term_r"] == 0.0 and r["n_a"] == r["n_b"]
        for r in rows
        if r["batch_id"] == 0
    )

    parts = sorted(_glob.glob(f"{events_stream_dir}/part-*.parquet"))
    b0 = spark.read.parquet(parts[0]).select("event_type").withColumn(
        "__base", F.lit(True)
    )
    b2 = spark.read.parquet(parts[2]).select("event_type").withColumn(
        "__base", F.lit(False)
    )
    expected = {
        r["event_type"]: (r["n_a"], r["n_b"], r["psi_term_r"])
        for r in categorical_drift_psi(
            b0.unionByName(b2), "event_type", F.col("__base")
        ).collect()
    }
    got = {
        r["event_type"]: (r["n_a"], r["n_b"], r["psi_term_r"])
        for r in rows
        if r["batch_id"] == 2
    }
    assert got == expected


# ---------------------------------------------------------------------------
# streaming ingest decontamination (frozen containment index)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def containment_stream_setup(spark, sf_dir, tmp_path_factory):
    """Documents split into a frozen INDEX (doc_id % 5 != 4) and a
    2-file stream of NEW docs, each file HALF the new docs (doc_id
    % 10 == 4 vs == 9) plus its OWN planted 12-word leading excerpts
    of index docs (source % 20 == 3 vs == 13) — every micro-batch is
    guaranteed a non-vacuous match, not just the stream as a whole."""
    import os

    from pyspark_unload_to_gcs_spark.operators.text import words_col
    from pyspark_unload_to_gcs_spark.streaming.containment import (
        containment_index_build,
    )

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    index = docs.filter(F.col("doc_id") % 5 != 4)
    stride = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    w = words_col(F.col("text"))
    excerpts = (
        index.filter((F.col("doc_id") % 10 == 3) & (F.size(w) >= 15))
        .select(
            (F.col("doc_id") + stride).alias("doc_id"),
            F.array_join(F.slice(w, 1, 12), " ").alias("text"),
        )
    )
    # source % 20 == 3 excerpts carry an ODD planted id (3 + stride
    # parity aside, the mod-20 split is what matters: each file gets
    # its own stratum, both non-empty at every fixture scale)
    ex_f0 = excerpts.filter((F.col("doc_id") - stride) % 20 == 3)
    ex_f1 = excerpts.filter((F.col("doc_id") - stride) % 20 == 13)
    f0 = docs.filter(F.col("doc_id") % 10 == 4).unionByName(ex_f0)
    f1 = docs.filter(F.col("doc_id") % 10 == 9).unionByName(ex_f1)
    new_docs = f0.unionByName(f1)

    state = str(tmp_path_factory.mktemp("containment_state"))
    containment_index_build(
        index, "doc_id", state, shingle_n=3, n_buckets=16, threshold_pct=80
    )

    stream_dir = str(tmp_path_factory.mktemp("new_docs_stream"))
    f0.coalesce(1).write.mode("overwrite").parquet(stream_dir)
    first = set(glob.glob(f"{stream_dir}/part-*.parquet"))
    assert len(first) == 1
    f1.coalesce(1).write.mode("append").parquet(stream_dir)
    second = set(glob.glob(f"{stream_dir}/part-*.parquet")) - first
    assert len(second) == 1
    base = os.path.getmtime(next(iter(first)))
    os.utime(next(iter(first)), (base, base))
    os.utime(next(iter(second)), (base + 1, base + 1))
    return state, stream_dir, index, new_docs


def test_containment_stream_matches_batch_operator(
    spark, containment_stream_setup, tmp_path
):
    """The streaming twin under a REAL readStream -> foreachBatch must
    equal the batch operator over (all new docs) x (index): matches are
    per-doc independent and the index is frozen, so the union over
    micro-batches IS the batch answer — including the planted excerpts
    at containment 1.0. Also pins that bucket-pruned postings lose no
    candidates (the equality would break first)."""
    from pyspark_unload_to_gcs_spark.operators.dedup import containment_join
    from pyspark_unload_to_gcs_spark.streaming.containment import (
        containment_match_batch,
        read_matches,
    )
    from pyspark_unload_to_gcs_spark.streaming.sources import stream_parquet_dir

    state, stream_dir, index, new_docs = containment_stream_setup
    schema = spark.read.parquet(stream_dir).schema
    stream = stream_parquet_dir(spark, stream_dir, schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            lambda frame, b: containment_match_batch(
                frame, b, id_column="doc_id", state_path=state
            )
        )
        .option("checkpointLocation", str(tmp_path / "containment_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = read_matches(spark, state).collect()
    assert {r["batch_id"] for r in rows} == {0, 1}
    # each file carries its own planted excerpts — every micro-batch
    # must surface at least one full-containment match
    for b in (0, 1):
        assert any(
            r["containment_r"] == 1.0 for r in rows if r["batch_id"] == b
        )
    got = {
        (r["id_a"], r["id_b"], r["n_grams_a"], r["n_shared"], r["containment_r"])
        for r in rows
    }
    want = {
        tuple(r)
        for r in containment_join(
            new_docs, index, "doc_id", "doc_id", threshold_pct=80
        ).collect()
    }
    assert got == want
    assert len(want) > 0
    # every planted excerpt names its source at full containment
    stride = new_docs.agg(F.min(F.col("doc_id"))).first()[0]  # noqa: F841
    planted = {r[0] for r in want if r[4] == 1.0}
    assert planted  # the excerpts surface


def test_containment_stream_retry_idempotent(spark, containment_stream_setup):
    """Re-folding a batch (foreachBatch retry) rewrites matches/b=<id>
    to the identical row set — the index is frozen and the fold is
    deterministic in the batch rows."""
    from pyspark_unload_to_gcs_spark.streaming.containment import (
        containment_match_batch,
        read_matches,
    )

    import os

    state, stream_dir, _index, _new = containment_stream_setup
    before = sorted(
        tuple(r) for r in read_matches(spark, state).collect()
    )
    # append-mode part names don't sort chronologically — batch order
    # is mtime order (what the file source used)
    parts = sorted(
        glob.glob(f"{stream_dir}/part-*.parquet"), key=os.path.getmtime
    )
    replay = spark.read.parquet(parts[1]).select("doc_id", "text")
    containment_match_batch(replay, 1, id_column="doc_id", state_path=state)
    after = sorted(tuple(r) for r in read_matches(spark, state).collect())
    assert after == before


def test_containment_index_build_refuses_empty(spark, tmp_path):
    from pyspark_unload_to_gcs_spark.streaming.containment import (
        containment_index_build,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="no documents"):
        containment_index_build(empty, "doc_id", str(tmp_path / "cs"))
    # zero-GRAM is as dead as zero-row: docs shorter than shingle_n
    # can never hold a prefix gram, so the frozen postings would match
    # nothing forever while looking live (review r12)
    short = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="no documents"):
        containment_index_build(short, "doc_id", str(tmp_path / "cs1"))
    with pytest.raises(ValueError, match="threshold_pct"):
        containment_index_build(
            empty, "doc_id", str(tmp_path / "cs2"), threshold_pct=0
        )
    with pytest.raises(ValueError, match="n_buckets"):
        containment_index_build(
            empty, "doc_id", str(tmp_path / "cs3"), n_buckets=0
        )
    with pytest.raises(ValueError, match="shingle_n"):
        containment_index_build(
            empty, "doc_id", str(tmp_path / "cs4"), shingle_n=0
        )


def test_indexed_dedup_matches_full_mode_and_retries(spark, sf_dir, tmp_path):
    """Key-index state (streaming/dedup.py ``dedup_batch_indexed``):
    the poisoned 2-batch sequence must accept exactly the original
    rows, the versioned state must hold ONLY the key columns (the
    payload is append-only, never rewritten), NULL keys stay first-class, and a retried fold leaves both the
    accepted table and the key index identical."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )
    from pyspark_unload_to_gcs_spark.streaming.rollup import read_state

    ev = load_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "value"
    )
    state = str(tmp_path / "idx_dedup_state")
    poison = ev.withColumn("value", F.col("value") + 1000.0)
    b0 = ev.filter(F.col("event_id") % 2 == 0).withColumn("__seq", F.lit(0))
    b1 = (
        ev.filter(F.col("event_id") % 2 == 1)
        .withColumn("__seq", F.lit(0))
        .unionByName(
            poison.filter(F.col("event_id") % 4 == 0).withColumn(
                "__seq", F.lit(1)
            )
        )
        .unionByName(
            poison.filter(
                (F.col("event_id") % 2 == 1) & (F.col("event_id") % 9 == 0)
            ).withColumn("__seq", F.lit(1))
        )
    )
    assert read_accepted(spark, state) is None
    for i, b in enumerate((b0, b1)):
        dedup_batch_indexed(
            b, i, key_columns=["event_id"], sequence_column="__seq",
            state_path=state,
        )
    got = {r["event_id"]: r["value"] for r in read_accepted(spark, state).collect()}
    want = {r["event_id"]: r["value"] for r in ev.collect()}
    assert got == want  # every original kept, every poison dropped

    # the versioned state is the key index alone — payload stays out
    keys_state = read_state(spark, f"{state}/keys")
    assert keys_state.columns == ["event_id"]
    assert keys_state.count() == len(want)

    # retry the last fold twice: accepted table and key index unchanged
    for _ in range(2):
        dedup_batch_indexed(
            b1, 1, key_columns=["event_id"], sequence_column="__seq",
            state_path=state,
        )
    again = {r["event_id"]: r["value"] for r in read_accepted(spark, state).collect()}
    assert again == want
    assert read_state(spark, f"{state}/keys").count() == len(want)


def test_indexed_dedup_null_keys(spark, tmp_path):
    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )

    state = str(tmp_path / "idx_null_state")
    b0 = spark.createDataFrame(
        [(None, 1.0, 0), (5, 2.0, 0)], "k int, v double, __seq int"
    )
    b1 = spark.createDataFrame(
        [(None, 101.0, 1), (7, 30.0, 0)], "k int, v double, __seq int"
    )
    dedup_batch_indexed(
        b0, 0, key_columns=["k"], sequence_column="__seq", state_path=state
    )
    dedup_batch_indexed(
        b1, 1, key_columns=["k"], sequence_column="__seq", state_path=state
    )
    got = {r["k"]: r["v"] for r in read_accepted(spark, state).collect()}
    assert got == {None: 1.0, 5: 2.0, 7: 30.0}


def test_indexed_dedup_under_true_readstream(
    spark, events_stream_dir, events_schema, tmp_path
):
    """dedup_batch_indexed under start_fold and a REAL readStream:
    the file stream redelivers nothing here, so the accepted table
    must equal the full input — and the key index must be exactly the
    input's key set held in narrow columns."""
    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )
    from pyspark_unload_to_gcs_spark.streaming.rollup import read_state
    from pyspark_unload_to_gcs_spark.streaming.sources import stream_parquet_dir

    state = str(tmp_path / "idx_stream_state")
    stream = stream_parquet_dir(
        spark, events_stream_dir, events_schema, max_files_per_trigger=1
    ).withColumn("__seq", F.lit(0))
    q = start_fold(
        stream,
        functools.partial(
            dedup_batch_indexed,
            key_columns=["event_id"],
            sequence_column="__seq",
            state_path=state,
        ),
        checkpoint_dir=str(tmp_path / "idx_stream_ckpt"),
    )
    q.awaitTermination(120)

    src = spark.read.parquet(events_stream_dir)
    accepted = read_accepted(spark, state)
    assert accepted.count() == src.count()
    assert set(accepted.columns) == set(src.columns)
    keys = read_state(spark, f"{state}/keys")
    assert keys.columns == ["event_id"]
    assert keys.count() == src.select("event_id").distinct().count()


def test_committed_dirs_serves_uri_scheme_paths(spark, tmp_path):
    """ADVICE r12: committed_dirs was glob.glob/os.path-based, so on
    any non-plain-POSIX path (file:, gs://, s3a://) writes succeeded
    but the commit-gated readback silently returned nothing while
    committed state existed. The Hadoop-FS-backed listing must serve a
    file:-scheme state_path end-to-end — fold, read_state, and the
    dedup/containment slice readers all route through it."""
    from pyspark_unload_to_gcs_spark.operators.incremental import finalize_state
    from pyspark_unload_to_gcs_spark.streaming.rollup import fold_batch, read_state

    state = "file:" + str(tmp_path / "uri_state")
    batch = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "event_type string, value long"
    )
    fold_batch(batch, 0, keys=["event_type"], value_column="value", state_path=state)
    dirs = committed_dirs(state, "v")
    assert [b for b, _d in dirs] == [0]
    got = {
        tuple(r)
        for r in finalize_state(read_state(spark, state), ["event_type"]).collect()
    }
    assert {t[0] for t in got} == {"a", "b"}

    # torn write (no _SUCCESS) stays invisible through the same gate
    import os

    torn = tmp_path / "uri_state" / "v=1"
    torn.mkdir()
    (torn / "part-0.parquet").write_bytes(b"torn")
    assert [b for b, _d in committed_dirs(state, "v")] == [0]
    assert os.path.exists(str(tmp_path / "uri_state" / "v=0" / "_SUCCESS"))


def test_indexed_dedup_readback_on_uri_scheme_path(spark, tmp_path):
    """The append-only key-index layout (the 100 TB posture) must read
    back from a file:-scheme state_path — accepted slices are listed
    via the Hadoop-FS committed_dirs, not glob (ADVICE r12)."""
    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )

    state = "file:" + str(tmp_path / "dedup_state")
    b0 = spark.createDataFrame(
        [(1, 0, "first"), (2, 0, "two")], "event_id long, seq long, payload string"
    )
    b1 = spark.createDataFrame(
        [(1, 1, "mutated-dup"), (3, 0, "three")],
        "event_id long, seq long, payload string",
    )
    kw = dict(key_columns=["event_id"], sequence_column="seq", state_path=state)
    dedup_batch_indexed(b0, 0, **kw)
    dedup_batch_indexed(b1, 1, **kw)
    got = {r["event_id"]: r["payload"] for r in read_accepted(spark, state).collect()}
    assert got == {1: "first", 2: "two", 3: "three"}


def test_url_frontier_indexed_dedup_composition(spark, tmp_path):
    """The URL frontier composition: canonicalize (operators/url.py
    ``url_normalize``) then first-write-wins ingestion dedup keyed on
    the CANONICAL form (streaming/dedup.py ``dedup_batch_indexed``) —
    surface variants of one page (case, userinfo, tracking params,
    fragments) arriving across micro-batches must admit exactly one
    fetch per canonical key, and rejected grammar (NULL url_norm)
    stays first-class as its own key group."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.url import url_normalize
    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )

    state = str(tmp_path / "frontier_state")

    def frontier(rows, seq):
        df = spark.createDataFrame(rows, "fetch_id long, url string")
        return url_normalize(df).select(
            "fetch_id", "url", "url_norm"
        ).withColumn("__seq", F.lit(seq))

    b0 = frontier(
        [
            (1, "http://www.example.com/p?b=2&a=1"),
            (2, "http://other.example.org/q"),
        ],
        0,
    )
    # batch 1: two surface variants of fetch 1's page + one new page
    b1 = frontier(
        [
            (3, "HTTP://WWW.EXAMPLE.COM:80/p?a=1&b=2#top"),
            (4, "http://u@www.example.com./p?utm_x=1&b=2&a=1"),
            (5, "https://fresh.example.net/new"),
        ],
        1,
    )
    for i, b in enumerate((b0, b1)):
        dedup_batch_indexed(
            b, i, key_columns=["url_norm"], sequence_column="__seq",
            state_path=state,
        )
    acc = {
        r["fetch_id"]: r["url_norm"]
        for r in read_accepted(spark, state).collect()
    }
    # fetch 1 won its canonical key; 3 and 4 are surface duplicates
    assert set(acc) == {1, 2, 5}
    assert acc[1] == "http://www.example.com/p?a=1&b=2"

    # a later batch with a rejected-grammar URL (NULL canonical key):
    # admitted once as the NULL key group, then deduped like any key
    b2 = frontier([(6, "not a url"), (7, "also: not /a url")], 2)
    dedup_batch_indexed(
        b2, 2, key_columns=["url_norm"], sequence_column="__seq",
        state_path=state,
    )
    acc2 = read_accepted(spark, state)
    nulls = acc2.filter(F.col("url_norm").isNull()).collect()
    assert len(nulls) == 1  # one row owns the NULL-key group
    assert acc2.count() == 4


def test_containment_shared_index_path_separate_state(
    spark, containment_stream_setup, tmp_path
):
    """``index_path`` decouples the frozen index from the per-stream
    match state (r14): folding against a SHARED bootstrapped index
    from a fresh state root must produce exactly the matches of the
    same fold with the index co-located — and the shared index root
    must gain no matches/ directory of its own."""
    import os

    from pyspark_unload_to_gcs_spark.streaming.containment import (
        containment_match_batch,
        read_matches,
    )

    state, _stream_dir, _index, new_docs = containment_stream_setup
    # co-located fold into a copy of the index root (self-contained:
    # does not rely on a sibling test having folded into `state`)
    import shutil

    colocated_root = str(tmp_path / "colocated_state")
    os.makedirs(colocated_root)
    shutil.copytree(
        os.path.join(state, "index"),
        os.path.join(colocated_root, "index"),
    )
    containment_match_batch(
        new_docs, 0, id_column="doc_id", state_path=colocated_root
    )
    colocated = read_matches(spark, colocated_root)
    fresh = str(tmp_path / "fresh_state")
    containment_match_batch(
        new_docs, 0, id_column="doc_id", state_path=fresh, index_path=state
    )
    got = read_matches(spark, fresh)
    key = ["id_a", "id_b", "n_grams_a", "n_shared", "containment_r"]
    assert got is not None and colocated is not None
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, colocated.select(*key).collect())
    )
    assert not os.path.exists(os.path.join(fresh, "index"))
