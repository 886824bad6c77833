"""Versioned-parquet time travel / change feed (sources/versioned.py)
— the runtime-proven S2-S4 semantics twin of the env-blocked Delta
readers. Pins the resolution rules the Delta probes contract:
timestamp-<= snapshot resolution, DESCRIBE-HISTORY ordering, CDF
window filtering with out-of-range-empty, commit atomicity."""

import functools
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark_unload_to_gcs_spark.sources.versioned import (
    change_feed,
    commit_version,
    latest_commit_timestamp_ms,
    snapshot_at_ms,
    table_history,
)
from pyspark_unload_to_gcs_spark.streaming.cdc_stream import cdf_merge_batch
from pyspark_unload_to_gcs_spark.streaming.rollup import read_state, start_fold


def _cdf_merge_stream(spark, table_path, *, checkpoint_dir, **fold_kwargs):
    """``cdf_merge_batch`` over the table's ``versioned_commits``
    stream, drained with ``start_fold``."""
    stream = (
        spark.readStream.format("versioned_commits")
        .option("path", table_path)
        .load()
    )
    fold = functools.partial(cdf_merge_batch, table_path=table_path, **fold_kwargs)
    return start_fold(stream, fold, checkpoint_dir=checkpoint_dir)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    rows0 = [(1, 10.0), (2, 20.0)]
    rows1 = [(1, 11.0), (2, 20.0), (3, 30.0)]  # update k=1, insert k=3
    rows2 = [(2, 20.0), (3, 30.0)]             # delete k=1
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731
    assert commit_version(mk(rows0), path, 100) == 0
    assert commit_version(mk(rows1), path, 200) == 1
    assert commit_version(mk(rows2), path, 300) == 2
    return path


def test_history_and_latest_commit(table):
    hist = table_history(table)
    assert [(e["version"], e["commit_ms"]) for e in hist] == [
        (2, 300),
        (1, 200),
        (0, 100),
    ]
    assert latest_commit_timestamp_ms(table) == 300


def test_snapshot_resolution_rule(spark, table):
    def snap(ts):
        return {
            (r["k"], r["v"]) for r in snapshot_at_ms(spark, table, ts).collect()
        }

    # exact boundary is inclusive; between commits resolves DOWN
    assert snap(100) == {(1, 10.0), (2, 20.0)}
    assert snap(199) == {(1, 10.0), (2, 20.0)}
    assert snap(200) == {(1, 11.0), (2, 20.0), (3, 30.0)}
    assert snap(10_000) == {(2, 20.0), (3, 30.0)}
    with pytest.raises(ValueError, match="precedes the first commit"):
        snapshot_at_ms(spark, table, 99)


def test_change_feed_window_and_pair_shape(spark, table):
    rows = change_feed(spark, table, 150, 300, key_columns=["k"]).collect()
    got = {
        (r["_mp_change_type"], r["k"], r["v"], r["_commit_version"], r["_commit_timestamp"])
        for r in rows
    }
    assert got == {
        # commit 1: update k=1 -> preimage DELETE + postimage INSERT,
        # insert k=3
        ("DELETE", 1, 10.0, 1, 200),
        ("INSERT", 1, 11.0, 1, 200),
        ("INSERT", 3, 30.0, 1, 200),
        # commit 2: delete k=1
        ("DELETE", 1, 11.0, 2, 300),
    }
    # first commit included -> version 0 appears as all-INSERT
    first = change_feed(spark, table, 0, 100, key_columns=["k"]).collect()
    assert {(r["_mp_change_type"], r["k"]) for r in first} == {
        ("INSERT", 1),
        ("INSERT", 2),
    }
    # window past the last commit -> EMPTY, not an error (the
    # timestampOutOfRange contract)
    assert change_feed(spark, table, 301, 999, key_columns=["k"]).count() == 0


def test_commit_timestamps_must_be_monotone(spark, table):
    df = spark.createDataFrame([(9, 9.0)], "k int, v double")
    with pytest.raises(ValueError, match="non-decreasing"):
        commit_version(df, table, 299)
    # equal timestamp is allowed (same-instant commits keep versions
    # as the tiebreak, like Delta's version-ordered history)
    assert commit_version(df, table, 300) == 3


def test_torn_commit_is_invisible(spark, table):
    """A version dir without _SUCCESS (torn write) or without a ledger
    entry (crash before the ledger replace) must not surface in
    history, snapshots, or the change feed."""
    torn = os.path.join(table, "v=9")
    os.makedirs(torn)
    with open(os.path.join(torn, "junk.parquet"), "wb") as f:
        f.write(b"\x00")
    assert [e["version"] for e in table_history(table)] == [2, 1, 0]
    # committed data dir but no ledger entry: also invisible
    import shutil

    shutil.copytree(os.path.join(table, "v=2"), os.path.join(table, "v=8"))
    assert [e["version"] for e in table_history(table)] == [2, 1, 0]
    assert latest_commit_timestamp_ms(table) == 300


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(
    # each commit: a small {key -> value} table state and a clock step
    states=st.lists(
        st.dictionaries(st.integers(1, 6), st.integers(0, 99), max_size=6),
        min_size=1,
        max_size=5,
    ),
    probe=st.integers(0, 6),
)
def test_versioned_source_matches_reference_model(spark, tmp_path_factory, states, probe):
    """Model-based fuzz: arbitrary commit sequences vs a pure-Python
    reference. Snapshot-at-any-timestamp must equal the dict state of
    the resolved commit, and the change feed over any single commit
    must equal the dict diff (insert/update-pair/delete)."""
    tmp = tmp_path_factory.mktemp("vfuzz")
    path = str(tmp / "t")
    clock = []
    for i, state in enumerate(states):
        ms = 100 * (i + 1)
        rows = [(k, float(v)) for k, v in sorted(state.items())] or [(None, None)]
        df = spark.createDataFrame(rows, "k int, v double").filter("k IS NOT NULL")
        commit_version(df, path, ms)
        clock.append((ms, dict(state)))

    # snapshot resolution at an arbitrary probe timestamp
    ts = 100 * probe + 50  # lands between commits (or before the first)
    eligible = [s for ms, s in clock if ms <= ts]
    if not eligible:
        with pytest.raises(ValueError):
            snapshot_at_ms(spark, path, ts)
    else:
        got = {r["k"]: r["v"] for r in snapshot_at_ms(spark, path, ts).collect()}
        assert got == {k: float(v) for k, v in eligible[-1].items()}

    # change feed of each single commit == dict diff
    prev: dict = {}
    for i, (ms, state) in enumerate(clock):
        rows = change_feed(spark, path, ms, ms, key_columns=["k"]).collect()
        got = {(r["_mp_change_type"], r["k"], r["v"]) for r in rows}
        want = set()
        for k in state.keys() - prev.keys():
            want.add(("INSERT", k, float(state[k])))
        for k in prev.keys() - state.keys():
            want.add(("DELETE", k, float(prev[k])))
        for k in state.keys() & prev.keys():
            if state[k] != prev[k]:
                want.add(("DELETE", k, float(prev[k])))
                want.add(("INSERT", k, float(state[k])))
        assert got == want, f"commit {i}"
        assert all(r["_commit_version"] == i and r["_commit_timestamp"] == ms for r in rows)
        prev = state


def test_versioned_commits_datasource_batch_stream_and_resume(spark, tmp_path):
    """Spark 4 Python DataSource over the versioned table
    (sources/versioned_stream.py): batch reads resolve AS-OF (with
    commit stamps), the stream emits each committed version exactly
    once, and a RESTART from the checkpoint picks up only versions
    committed since (offset = ledger version)."""
    from pyspark_unload_to_gcs_spark.sources.versioned import commit_version
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731
    commit_version(mk([(1, 10.0), (2, 20.0)]), path, 100)
    commit_version(mk([(1, 11.0), (3, 30.0)]), path, 200)

    # batch: timestamp resolution + stamps
    as_of = spark.read.format("versioned_commits").option("path", path).option(
        "as_of_ms", 150
    ).load()
    assert sorted((r["k"], r["v"], r["_commit_version"]) for r in as_of.collect()) == [
        (1, 10.0, 0),
        (2, 20.0, 0),
    ]
    latest = spark.read.format("versioned_commits").option("path", path).load()
    assert {r["_commit_version"] for r in latest.collect()} == {1}

    def drain():
        got = []
        q = (
            spark.readStream.format("versioned_commits")
            .option("path", path)
            .load()
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda b, i: got.extend(b.collect()))
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r["k"], r["v"], r["_commit_version"], r["_commit_timestamp"])
            for r in got
        )

    assert drain() == [
        (1, 10.0, 0, 100),
        (1, 11.0, 1, 200),
        (2, 20.0, 0, 100),
        (3, 30.0, 1, 200),
    ]
    # nothing new -> empty follow-up run from the same checkpoint
    assert drain() == []
    # a third commit -> ONLY its rows on the next run
    commit_version(mk([(4, 40.0)]), path, 300)
    assert drain() == [(4, 40.0, 2, 300)]


def test_versioned_commit_stream_to_export_sink(spark, tmp_path):
    """Full streaming CDC-ingest composition: versioned commits stream
    (Python DataSource) -> the export_batch fold under start_fold
    (foreachBatch + the batch gzip-JSON writer) — each drain exports
    exactly the versions committed since the checkpoint, the
    reference's orchestrated incremental loop with Spark checkpointing
    as the watermark."""
    import glob
    import gzip
    import json as _json

    from pyspark_unload_to_gcs_spark.config import SyncConfig
    from pyspark_unload_to_gcs_spark.sources.versioned import commit_version
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )
    from pyspark_unload_to_gcs_spark.streaming.export import (
        StreamExportStats,
        export_batch,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    table = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731
    commit_version(mk([(1, 10.0)]), table, 100)
    commit_version(mk([(2, 20.0)]), table, 200)

    out = f"file:{tmp_path}/exports"
    cfg = SyncConfig(table=table, output_uri=out)

    def drain():
        stream = (
            spark.readStream.format("versioned_commits")
            .option("path", table)
            .load()
        )
        q = start_fold(
            stream,
            functools.partial(export_batch, config=cfg, stats=StreamExportStats()),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        rows = []
        for f in glob.glob(f"{tmp_path}/exports/batch=*/*.json.gz"):
            rows += [_json.loads(line) for line in gzip.open(f)]
        return sorted((r["k"], r["v"], r["_commit_version"]) for r in rows)

    assert drain() == [(1, 10.0, 0), (2, 20.0, 1)]
    # nothing new: a re-drain adds no rows
    assert drain() == [(1, 10.0, 0), (2, 20.0, 1)]
    # new commit: only version 2 lands in a new batch directory
    commit_version(mk([(3, 30.0)]), table, 300)
    assert drain() == [(1, 10.0, 0), (2, 20.0, 1), (3, 30.0, 2)]


def test_versioned_schema_evolution_additive(spark, tmp_path):
    """Additive schema evolution: a commit that ADDS a column aligns
    everywhere — the change feed reports in the latest schema (typed
    NULLs for pre-evolution rows, and a row that merely gained a NULL
    column is NOT a change), the Python DataSource pads old versions,
    and column DROPS are refused with a clear error."""
    from pyspark_unload_to_gcs_spark.sources.versioned import commit_version
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    path = str(tmp_path / "t")
    commit_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double"),
        path,
        100,
    )
    # v1 adds column w; k=1 keeps v (gains only w), k=2 changes v too
    commit_version(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 21.0, "b")], "k int, v double, w string"
        ),
        path,
        200,
    )

    feed = change_feed(spark, path, 150, 250, key_columns=["k"]).collect()
    got = {(r["_mp_change_type"], r["k"], r["v"], r["w"]) for r in feed}
    # k=1: v unchanged, w NULL -> "a" IS a change (the column appeared
    # with a value); k=2: value change. No row for unchanged-everything.
    assert got == {
        ("DELETE", 1, 10.0, None),
        ("INSERT", 1, 10.0, "a"),
        ("DELETE", 2, 20.0, None),
        ("INSERT", 2, 21.0, "b"),
    }
    # the first commit alone, re-read AFTER evolution: all-INSERT in
    # the LATEST schema, w typed-NULL, and nothing spurious
    first = change_feed(spark, path, 0, 100, key_columns=["k"]).collect()
    assert {(r["_mp_change_type"], r["k"], r["w"]) for r in first} == {
        ("INSERT", 1, None),
        ("INSERT", 2, None),
    }

    # DataSource: old version padded to the evolved schema
    as_of = (
        spark.read.format("versioned_commits")
        .option("path", path)
        .option("as_of_ms", 150)
        .load()
    )
    assert sorted((r["k"], r["v"], r["w"]) for r in as_of.collect()) == [
        (1, 10.0, None),
        (2, 20.0, None),
    ]

    # column drops are a rewrite, not an evolution
    commit_version(spark.createDataFrame([(9, "x")], "k int, w string"), path, 300)
    with pytest.raises(ValueError, match="column DROPS"):
        change_feed(spark, path, 0, 300, key_columns=["k"]).collect()


def test_vacuum_retention(spark, table):
    """vacuum(keep_last=N): old versions stop resolving the moment the
    ledger shrinks (ledger-first ordering), history and time travel
    reflect retention, a change-feed window that spans vacuumed history
    RAISES instead of fabricating all-INSERT rows (Delta CDF contract),
    and the newest N keep serving."""
    import os

    from pyspark_unload_to_gcs_spark.sources.versioned import vacuum

    assert vacuum(table, keep_last=2) == [0]
    assert [e["version"] for e in table_history(table)] == [2, 1]
    assert not os.path.exists(os.path.join(table, "v=0"))
    # time travel to the vacuumed range now raises (Delta VACUUM contract)
    with pytest.raises(ValueError, match="precedes the first commit"):
        snapshot_at_ms(spark, table, 150)
    # the surviving versions read as before
    assert {r["k"] for r in snapshot_at_ms(spark, table, 250).collect()} == {1, 2, 3}
    # a window that includes the oldest survivor (version 1, whose
    # predecessor was vacuumed) must raise — diffing against empty
    # would fabricate the pre-existing snapshot as INSERTs (ADVICE r09)
    with pytest.raises(ValueError, match="vacuumed"):
        change_feed(spark, table, 0, 300, key_columns=["k"]).collect()
    # a window narrowed to commits whose predecessors survive still works
    rows = change_feed(spark, table, 201, 300, key_columns=["k"]).collect()
    assert {(r["_mp_change_type"], r["k"], r["_commit_version"]) for r in rows} == {
        ("DELETE", 1, 2),
    }
    # no-op when everything is within retention; keep_last >= 1 enforced
    assert vacuum(table, keep_last=10) == []
    with pytest.raises(ValueError, match="keep_last"):
        vacuum(table, keep_last=0)


@settings(max_examples=8, deadline=None)
@given(
    states=st.lists(
        st.dictionaries(st.integers(1, 5), st.integers(0, 50), max_size=5),
        min_size=1,
        max_size=4,
    ),
    probe=st.integers(1, 5),
)
def test_datasource_agrees_with_jvm_reader(spark, tmp_path_factory, states, probe):
    """Cross-path consistency fuzz: the Python DataSource batch read
    and the JVM parquet reader (snapshot_at_ms) are fully independent
    implementations of the same AS-OF contract — on arbitrary commit
    sequences they must return identical row sets at every probe
    timestamp (stamps dropped for the comparison)."""
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    tmp = tmp_path_factory.mktemp("xpath")
    path = str(tmp / "t")
    for i, state in enumerate(states):
        rows = [(k, float(v)) for k, v in sorted(state.items())] or [(None, None)]
        df = spark.createDataFrame(rows, "k int, v double").filter("k IS NOT NULL")
        commit_version(df, path, 100 * (i + 1))

    ts = 100 * probe + 50
    try:
        jvm = {(r["k"], r["v"]) for r in snapshot_at_ms(spark, path, ts).collect()}
    except ValueError:
        with pytest.raises(Exception):
            (
                spark.read.format("versioned_commits")
                .option("path", path)
                .option("as_of_ms", ts)
                .load()
                .collect()
            )
        return
    ds = {
        (r["k"], r["v"])
        for r in spark.read.format("versioned_commits")
        .option("path", path)
        .option("as_of_ms", ts)
        .load()
        .collect()
    }
    assert ds == jvm


def test_datasource_decimal_column_schema_inference(spark, tmp_path):
    """A versioned table with a DECIMAL column must read through the
    Python DataSource: pyarrow renders the type 'decimal128(p, s)',
    which Spark's DDL parser rejects, so _ddl_for re-spells it from
    the typed precision/scale (ADVICE r09)."""
    from decimal import Decimal

    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    path = str(tmp_path / "dec")
    df = spark.createDataFrame(
        [(1, Decimal("12.34")), (2, Decimal("56.78"))],
        "k int, price decimal(10,2)",
    )
    commit_version(df, path, 100)
    got = (
        spark.read.format("versioned_commits")
        .option("path", path)
        .option("as_of_ms", 100)
        .load()
    )
    assert dict(got.dtypes)["price"] == "decimal(10,2)"
    assert sorted((r["k"], str(r["price"])) for r in got.collect()) == [
        (1, "12.34"),
        (2, "56.78"),
    ]


def test_versioned_table_on_file_scheme_uri(spark, tmp_path):
    """The full lifecycle against an explicit ``file:`` URI — the
    ledger/layout I/O goes through the Hadoop FileSystem API (VERDICT
    r09 #2), so the one table format this repo can version is no
    longer local-FS-only: commit, history, time travel, change feed,
    and vacuum all speak URI schemes."""
    uri = "file:" + str(tmp_path / "uri_table")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731
    assert commit_version(mk([(1, 10.0), (2, 20.0)]), uri, 100) == 0
    assert commit_version(mk([(1, 11.0), (2, 20.0)]), uri, 200) == 1
    assert [e["version"] for e in table_history(uri)] == [1, 0]
    assert {(r["k"], r["v"]) for r in snapshot_at_ms(spark, uri, 150).collect()} == {
        (1, 10.0),
        (2, 20.0),
    }
    feed = change_feed(spark, uri, 150, 250, key_columns=["k"]).collect()
    assert {(r["_mp_change_type"], r["k"], r["v"]) for r in feed} == {
        ("DELETE", 1, 10.0),
        ("INSERT", 1, 11.0),
    }
    from pyspark_unload_to_gcs_spark.sources.versioned import vacuum

    assert vacuum(uri, keep_last=1) == [0]
    assert [e["version"] for e in table_history(uri)] == [1]
    # the vacuumed data dir is actually gone on disk
    assert not (tmp_path / "uri_table" / "v=0").exists()
    # no lockfile leaks after commits/vacuum
    assert not (tmp_path / "uri_table" / "_commits.lock").exists()


def test_concurrent_commit_loser_raises(spark, tmp_path):
    """CAS commit guard (VERDICT r09 #4): while one writer holds
    ``_commits.lock``, a second commit_version (and vacuum) raises
    ConcurrentCommitError instead of silently orphaning a version —
    and a failed attempt leaves the table state untouched."""
    from pyspark_unload_to_gcs_spark.sources.versioned import (
        ConcurrentCommitError,
        vacuum,
    )

    path = str(tmp_path / "race")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731
    commit_version(mk([(1, 10.0)]), path, 100)
    # simulate a concurrent writer mid-commit: its CAS lock is present
    lockfile = tmp_path / "race" / "_commits.lock"
    lockfile.write_text("writer-2")
    # the loser's error echoes the holder's lockfile metadata so a
    # crashed-writer cleanup is diagnosable (ADVICE r10)
    with pytest.raises(ConcurrentCommitError, match="writer-2"):
        commit_version(mk([(2, 20.0)]), path, 200)
    with pytest.raises(ConcurrentCommitError, match="_commits.lock"):
        vacuum(path, keep_last=1)
    # the loser did not touch the ledger or write a version dir
    assert [e["version"] for e in table_history(path)] == [0]
    assert not (tmp_path / "race" / "v=1").exists()
    # the holder's lock is untouched (the loser must not release it)
    assert lockfile.read_text() == "writer-2"
    # once the concurrent writer finishes (lock released), commits work
    lockfile.unlink()
    assert commit_version(mk([(2, 20.0)]), path, 200) == 1


def test_versioned_cdf_merge_stream_end_to_end(spark, tmp_path):
    """The reference's CDC loop as ONE streaming query
    (streaming/cdc_stream.py): the commit stream drains, per-commit
    change rows are derived (preimage-DELETE/postimage-INSERT pairs),
    exported via on_changes, and MERGEd exactly-once onto a maintained
    snapshot; a restart picks up only new commits and the snapshot
    converges to the table's latest version."""
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    table = str(tmp_path / "t")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    changes_dir = str(tmp_path / "changes")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731
    # v0: insert 1,2 | v1: update 1, insert 3 | v2: delete 2
    commit_version(mk([(1, 10.0), (2, 20.0)]), table, 100)
    commit_version(mk([(1, 11.0), (2, 20.0), (3, 30.0)]), table, 200)
    commit_version(mk([(1, 11.0), (3, 30.0)]), table, 300)

    def export(changes, _bid):
        changes.write.mode("append").parquet(changes_dir)

    def run():
        q = _cdf_merge_stream(
            spark,
            table,
            key_columns=["k"],
            state_path=state,
            checkpoint_dir=ckpt,
            on_changes=export,
        )
        assert q.awaitTermination(120)

    run()
    # the maintained snapshot equals the table's latest version
    snap = {(r["k"], r["v"]) for r in read_state(spark, state).collect()}
    assert snap == {(1, 11.0), (3, 30.0)}
    # the exported change rows are the per-commit CDF shape
    got = {
        (r["_mp_change_type"], r["k"], r["v"], r["_commit_version"], r["_commit_timestamp"])
        for r in spark.read.parquet(changes_dir).collect()
    }
    assert got == {
        ("INSERT", 1, 10.0, 0, 100),
        ("INSERT", 2, 20.0, 0, 100),
        ("DELETE", 1, 10.0, 1, 200),
        ("INSERT", 1, 11.0, 1, 200),
        ("INSERT", 3, 30.0, 1, 200),
        ("DELETE", 2, 20.0, 2, 300),
    }
    # restart with nothing new: no changes exported, snapshot stable
    run()
    assert got == {
        (r["_mp_change_type"], r["k"], r["v"], r["_commit_version"], r["_commit_timestamp"])
        for r in spark.read.parquet(changes_dir).collect()
    }
    # two more commits; the resumed stream derives ONLY their diffs
    commit_version(mk([(1, 12.0), (3, 30.0), (4, 40.0)]), table, 400)
    commit_version(mk([(3, 30.0), (4, 40.0)]), table, 500)
    run()
    snap = {(r["k"], r["v"]) for r in read_state(spark, state).collect()}
    assert snap == {(3, 30.0), (4, 40.0)}
    new_rows = {
        (r["_mp_change_type"], r["k"], r["v"], r["_commit_version"])
        for r in spark.read.parquet(changes_dir).collect()
        if r["_commit_version"] >= 3
    }
    assert new_rows == {
        ("DELETE", 1, 11.0, 3),
        ("INSERT", 1, 12.0, 3),
        ("INSERT", 4, 40.0, 3),
        ("DELETE", 1, 12.0, 4),
    }


def test_datasource_accepts_file_scheme_uri(spark, tmp_path):
    """The same file: URI the Hadoop-FS versioned writer accepts must
    also read through the Python DataSource (scheme stripped for the
    py4j-less pyarrow readers)."""
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    uri = "file:" + str(tmp_path / "dsuri")
    commit_version(
        spark.createDataFrame([(1, 10.0)], "k int, v double"), uri, 100
    )
    got = (
        spark.read.format("versioned_commits")
        .option("path", uri)
        .option("as_of_ms", 150)
        .load()
        .collect()
    )
    assert [(r["k"], r["v"], r["_commit_version"]) for r in got] == [(1, 10.0, 0)]


def test_versioned_cdf_merge_stream_empty_commit_truncation(spark, tmp_path):
    """A 0-row commit (legal truncation) contributes NO stream rows —
    the consumer must still apply it (ledger-driven enumeration + the
    applied-version watermark), emitting the truncation as DELETEs
    instead of silently losing the version while the checkpoint
    advances (review finding)."""
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    table = str(tmp_path / "t")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    changes_dir = str(tmp_path / "changes")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731

    def run():
        q = _cdf_merge_stream(
            spark,
            table,
            key_columns=["k"],
            state_path=state,
            checkpoint_dir=ckpt,
            on_changes=lambda c, _b: c.write.mode("append").parquet(changes_dir),
        )
        assert q.awaitTermination(120)

    commit_version(mk([(1, 10.0), (2, 20.0)]), table, 100)
    run()
    assert {(r["k"], r["v"]) for r in read_state(spark, state).collect()} == {
        (1, 10.0),
        (2, 20.0),
    }
    # the truncating empty commit, as the ONLY new version
    commit_version(mk([]).filter("k IS NOT NULL"), table, 200)
    run()
    snap = read_state(spark, state)
    assert snap.count() == 0
    got = {
        (r["_mp_change_type"], r["k"], r["_commit_version"])
        for r in spark.read.parquet(changes_dir).collect()
        if r["_commit_version"] == 1
    }
    assert got == {("DELETE", 1, 1), ("DELETE", 2, 1)}
    # rows after the truncation keep flowing
    commit_version(mk([(3, 30.0)]), table, 300)
    run()
    assert {(r["k"], r["v"]) for r in read_state(spark, state).collect()} == {
        (3, 30.0)
    }


def test_versioned_cdf_merge_stream_vacuum_gap_raises(spark, tmp_path):
    """A consumer that fell behind retention must RAISE (the ledger
    gap proves vacuum removed unapplied history), not silently diff
    across the gap; a FRESH consumer on a vacuumed table is the one
    allowed bootstrap (initial snapshot-as-INSERTs, Delta's CDF-stream
    start semantics)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from pyspark_unload_to_gcs_spark.sources.versioned import vacuum
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731

    # behind-retention consumer: applied v0, then v1 vacuumed away
    table = str(tmp_path / "t1")
    commit_version(mk([(1, 10.0)]), table, 100)
    q = _cdf_merge_stream(
        spark,
        table,
        key_columns=["k"],
        state_path=str(tmp_path / "s1"),
        checkpoint_dir=str(tmp_path / "c1"),
    )
    assert q.awaitTermination(120)
    commit_version(mk([(2, 20.0)]), table, 200)
    commit_version(mk([(3, 30.0)]), table, 300)
    vacuum(table, keep_last=1)  # drops v0 and the unapplied v1
    q = _cdf_merge_stream(
        spark,
        table,
        key_columns=["k"],
        state_path=str(tmp_path / "s1"),
        checkpoint_dir=str(tmp_path / "c1"),
    )
    ok = False
    try:
        ok = q.awaitTermination(120)
    except StreamingQueryException as e:
        assert "ledger gap" in str(e)
    else:
        raise AssertionError(f"expected the gap to fail the stream, got {ok}")

    # fresh consumer on the vacuumed table: initial snapshot load
    table2 = str(tmp_path / "t2")
    commit_version(mk([(1, 10.0)]), table2, 100)
    commit_version(mk([(2, 20.0)]), table2, 200)
    vacuum(table2, keep_last=1)
    q = _cdf_merge_stream(
        spark,
        table2,
        key_columns=["k"],
        state_path=str(tmp_path / "s2"),
        checkpoint_dir=str(tmp_path / "c2"),
    )
    assert q.awaitTermination(120)
    snap = read_state(spark, str(tmp_path / "s2"))
    assert {(r["k"], r["v"]) for r in snap.collect()} == {(2, 20.0)}


def test_cdf_merge_rowless_batch_defers_concurrent_data_commit(spark, tmp_path):
    """ADVICE r10 (medium): the ledger is re-read at foreachBatch time,
    so a rowless micro-batch can observe a DATA commit that landed
    AFTER the batch's offset was planned. Applying it as an 'empty
    snapshot' would fabricate truncation DELETEs and the advanced
    watermark would make the next batch skip its real rows — silent
    loss. A rowless batch must apply only versions verifiably
    zero-row on disk and DEFER the data commit to the batch that
    carries its rows."""

    table = str(tmp_path / "t")
    state = str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k int, v double, _commit_version long, _commit_timestamp long"
    )
    exported: list[set] = []

    def export(changes, _bid):
        exported.append(
            {
                (r["_mp_change_type"], r["k"], r["v"], r["_commit_version"])
                for r in changes.collect()
            }
        )

    # batch 0 delivers v0 normally
    commit_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double"),
        table,
        100,
    )
    cdf_merge_batch(
        mk([(1, 10.0, 0, 100), (2, 20.0, 0, 100)]),
        0,
        table_path=table,
        key_columns=["k"],
        state_path=state,
        on_changes=export,
    )
    assert exported[-1] == {("INSERT", 1, 10.0, 0), ("INSERT", 2, 20.0, 0)}

    # v1 (data) lands AFTER batch 1's offsets were planned; batch 1
    # arrives rowless. It must NOT apply v1 as an empty snapshot.
    commit_version(
        spark.createDataFrame([(1, 11.0), (2, 20.0)], "k int, v double"),
        table,
        200,
    )
    n_exports = len(exported)
    cdf_merge_batch(
        mk([]),
        1,
        table_path=table,
        key_columns=["k"],
        state_path=state,
        on_changes=export,
    )
    assert len(exported) == n_exports, "rowless batch fabricated changes"
    snap = read_state(spark, state)
    assert {(r["k"], r["v"]) for r in snap.collect()} == {(1, 10.0), (2, 20.0)}

    # batch 2 carries v1's real rows — the deferred commit applies now,
    # with its true diff (no truncation ever happened)
    cdf_merge_batch(
        mk([(1, 11.0, 1, 200), (2, 20.0, 1, 200)]),
        2,
        table_path=table,
        key_columns=["k"],
        state_path=state,
        on_changes=export,
    )
    assert exported[-1] == {
        ("DELETE", 1, 10.0, 1),
        ("INSERT", 1, 11.0, 1),
    }
    snap = read_state(spark, state)
    assert {(r["k"], r["v"]) for r in snap.collect()} == {(1, 11.0), (2, 20.0)}

    # control: a genuinely EMPTY commit (zero-row on disk) still
    # applies from a rowless batch as the truncation it is
    commit_version(
        spark.createDataFrame([], "k int, v double"), table, 300
    )
    cdf_merge_batch(
        mk([]),
        3,
        table_path=table,
        key_columns=["k"],
        state_path=state,
        on_changes=export,
    )
    assert exported[-1] == {
        ("DELETE", 1, 11.0, 2),
        ("DELETE", 2, 20.0, 2),
    }
    assert read_state(spark, state).count() == 0


def test_cdf_merge_batch_on_uri_scheme_state_path(spark, tmp_path):
    """The applied-version marker is read and written through the
    Hadoop FileSystem like the state it sits in, so a ``file:`` state
    path folds batch after batch (a local ``open`` of the URI failed
    on batch 0)."""
    table = str(tmp_path / "t")
    state = "file:" + str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k int, v double, _commit_version long, _commit_timestamp long"
    )
    commit_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double"),
        table,
        100,
    )
    kw = dict(table_path=table, key_columns=["k"], state_path=state)
    cdf_merge_batch(mk([(1, 10.0, 0, 100), (2, 20.0, 0, 100)]), 0, **kw)
    commit_version(
        spark.createDataFrame([(1, 11.0)], "k int, v double"), table, 200
    )
    cdf_merge_batch(mk([(1, 11.0, 1, 200)]), 1, **kw)
    snap = read_state(spark, state)
    assert {(r["k"], r["v"]) for r in snap.collect()} == {(1, 11.0)}
    marker = tmp_path / "state" / "v=1" / "_APPLIED_VERSION"
    assert marker.read_text() == "1"


def test_ledger_n_rows_stat_recorded_and_survives_vacuum(spark, tmp_path):
    """commit_version records the written snapshot's row count in the
    ledger (ADVICE r11: stream consumers classify empty commits from
    the stat instead of one isEmpty() Spark job per pending version),
    and vacuum's ledger rewrite preserves it."""
    from pyspark_unload_to_gcs_spark.sources.versioned import vacuum

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731
    commit_version(mk([(1, 1.0), (2, 2.0)]), path, 100)
    commit_version(mk([]), path, 200)
    commit_version(mk([(3, 3.0)]), path, 300)
    by_v = {e["version"]: e["n_rows"] for e in table_history(path)}
    assert by_v == {0: 2, 1: 0, 2: 1}
    vacuum(path, keep_last=2)
    by_v = {e["version"]: e["n_rows"] for e in table_history(path)}
    assert by_v == {1: 0, 2: 1}


def test_rowless_batch_uses_ledger_stat_not_per_version_jobs(
    spark, tmp_path, monkeypatch
):
    """When every pending ledger entry carries n_rows, a rowless
    micro-batch's empty-commit classification must launch ZERO
    snapshot reads (ADVICE r11: the fallback isEmpty() loop serialized
    one Spark job per pending version inside foreachBatch)."""
    from pyspark_unload_to_gcs_spark.sources import versioned as V

    table = str(tmp_path / "t")
    state = str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k int, v double, _commit_version long, _commit_timestamp long"
    )
    commit_version(
        spark.createDataFrame([(1, 10.0)], "k int, v double"), table, 100
    )
    cdf_merge_batch(
        mk([(1, 10.0, 0, 100)]),
        0,
        table_path=table,
        key_columns=["k"],
        state_path=state,
    )
    # a backlog of empty commits, then one data commit (must defer)
    commit_version(spark.createDataFrame([], "k int, v double"), table, 200)
    commit_version(spark.createDataFrame([], "k int, v double"), table, 300)
    commit_version(
        spark.createDataFrame([(1, 11.0)], "k int, v double"), table, 400
    )

    def _boom(*a, **k):
        raise AssertionError(
            "rowless batch read a snapshot despite ledger n_rows stats"
        )

    monkeypatch.setattr(V, "_read_version", _boom)
    cdf_merge_batch(
        mk([]),
        1,
        table_path=table,
        key_columns=["k"],
        state_path=state,
    )
    monkeypatch.undo()
    # the two empty commits applied (truncation), v3 deferred
    assert read_state(spark, state).count() == 0
    cdf_merge_batch(
        mk([(1, 11.0, 3, 400)]),
        2,
        table_path=table,
        key_columns=["k"],
        state_path=state,
    )
    snap = read_state(spark, state)
    assert {(r["k"], r["v"]) for r in snap.collect()} == {(1, 11.0)}


def test_cdf_merge_stream_races_concurrent_committer(spark, tmp_path):
    """VERDICT r10 #5 — the CAS commit lock composed with the streaming
    consumer. A writer that lands a commit WHILE foreachBatch is
    mid-batch must (a) succeed — the consumer holds no lock — without
    the in-flight batch applying or fabricating it, and the next drain
    must pick it up exactly once with its true diff; (b) if a second
    writer holds the lock at that moment, lose loudly with
    ConcurrentCommitError, leaving ledger and stream state untouched."""
    from pyspark_unload_to_gcs_spark.sources.versioned import (
        ConcurrentCommitError,
    )
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    spark.dataSource.register(VersionedCommitsDataSource)
    table = str(tmp_path / "t")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v double")  # noqa: E731
    commit_version(mk([(1, 10.0), (2, 20.0)]), table, 100)

    exported: list[set] = []
    lockfile = tmp_path / "t" / "_commits.lock"

    def racing_export(changes, _bid):
        exported.append(
            {
                (r["_mp_change_type"], r["k"], r["_commit_version"])
                for r in changes.collect()
            }
        )
        if len(exported) == 1:
            # mid-batch, first drain only: a free writer lands v1 ...
            commit_version(mk([(1, 11.0), (2, 20.0)]), table, 200)
            # ... and a writer racing a HELD lock loses loudly, with
            # the ledger left exactly as the winner wrote it
            lockfile.write_text("other-writer")
            with pytest.raises(ConcurrentCommitError, match="other-writer"):
                commit_version(mk([(9, 90.0)]), table, 300)
            lockfile.unlink()
            assert [e["version"] for e in table_history(table)] == [1, 0]

    def run():
        q = _cdf_merge_stream(
            spark,
            table,
            key_columns=["k"],
            state_path=state,
            checkpoint_dir=ckpt,
            on_changes=racing_export,
        )
        assert q.awaitTermination(120)

    run()
    # the in-flight batch applied ONLY v0 — the mid-batch commit was
    # neither applied early nor fabricated as a truncation
    assert exported[0] == {("INSERT", 1, 0), ("INSERT", 2, 0)}
    assert {(r["k"], r["v"]) for r in read_state(spark, state).collect()} == {
        (1, 10.0),
        (2, 20.0),
    }
    # the next drain delivers the racing commit exactly once, true diff
    run()
    assert exported[-1] == {("DELETE", 1, 1), ("INSERT", 1, 1)}
    assert {(r["k"], r["v"]) for r in read_state(spark, state).collect()} == {
        (1, 11.0),
        (2, 20.0),
    }
