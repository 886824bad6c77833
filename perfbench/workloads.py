"""The three workloads. Each drives the program only through its public
functions, times every operation from outside, and checks every
operation's output against an independent count (DuckDB over the
generated parquet, or the change set's known shape).

A ``Run`` carries the live session, the tracer, the deadline and what
the workload measured. An operation that raises or fails a check is
counted in ``failed`` and its reason kept in ``failures``; it is never
dropped silently.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import duckdb

# Timed iterations a run makes however short ``--seconds`` is. Three,
# so that the per-run median is a warm iteration: the first timed one
# still reads 10-25% slower than the next (JIT), one untimed warm-up
# notwithstanding.
MIN_ITERATIONS = 3

LEGACY_CHECKPOINT_KEYS = {
    "query",
    "change_capture_sync_last_commit_ms",
    "rows_written",
    "output_uri",
}


@dataclass
class Run:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    samples: dict = field(default_factory=lambda: defaultdict(list))
    values: dict = field(default_factory=dict)
    attempted: int = 0
    failures: list = field(default_factory=list)
    _failed_ops: set = field(default_factory=set)

    def timed(self, kind: str, fn, **attrs):
        """Run one operation; record its wall time under ``kind``.
        Returns ``(result, seconds)``, or ``(None, None)`` if it raised."""
        self.attempted += 1
        op = self.attempted
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind, **attrs) as rec:
                result = fn()
        except Exception as exc:  # noqa: BLE001 - one failed op must not end the run
            traceback.print_exc()
            self.fail(op, f"{kind}: {type(exc).__name__}: {str(exc)[:200]}")
            return None, None
        dt = time.perf_counter() - t0
        self.samples[kind].append(dt)
        if rec is not None:
            # the trace is reconciled against this independent reading
            rec["timed_s"] = dt
        return result, dt

    def check(self, ok: bool, what: str, op: int | None = None) -> bool:
        if not ok:
            self.fail(self.attempted if op is None else op, what)
        return ok

    def fail(self, op: int, what: str) -> None:
        self._failed_ops.add(op)
        self.failures.append(what)

    @property
    def failed(self) -> int:
        return len(self._failed_ops)

    def out(self, name: str) -> str:
        return f"file:{os.path.join(self.work, 'out', name)}"


def _local(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


def _read_back_rows(spark, uri: str) -> int:
    return spark.read.text(_local(uri)).count()


# --- bulk_export -------------------------------------------------------

NON_NULL = ("event_type",)


def _events_duckdb(path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW ev AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return con


def bulk_export(run: Run, inputs: dict) -> None:
    from pyspark_unload_to_gcs_spark.config import SyncConfig
    from pyspark_unload_to_gcs_spark.plans.sync import run_sync
    from pyspark_unload_to_gcs_spark.sinks.writers import validate_manifest

    table = inputs["events"]["path"]
    con = _events_duckdb(table)
    kept = "event_type IS NOT NULL AND event_type <> ''"
    want_full = con.execute(f"SELECT count(*) FROM ev WHERE {kept}").fetchone()[0]
    want_scd = con.execute(
        f"SELECT count(DISTINCT user_id) FROM ev WHERE {kept}"
    ).fetchone()[0]
    con.close()

    common = dict(
        table=table,
        non_nullable_columns=NON_NULL,
        computed_hash_column="row_hash",
        max_records_per_file=inputs["max_records_per_file"],
    )
    full = SyncConfig(sync_type="full", output_uri=run.out("full"), emit_manifest=True, **common)
    scd = SyncConfig(
        sync_type="scd-latest",
        group_id_column="user_id",
        scd_time_column="ts",
        scd_tiebreak_columns=("event_id",),
        output_uri=run.out("scd"),
        **common,
    )

    # one untimed iteration: JIT and codegen
    run_sync(run.spark, full)
    run_sync(run.spark, scd)

    rates, iters = [], []
    last_full = last_scd = None
    deadline = time.perf_counter() + run.seconds
    loops = 0
    while time.perf_counter() < deadline or loops < MIN_ITERATIONS:
        loops += 1
        r, dt_full = run.timed("full_sync", lambda: run_sync(run.spark, full))
        if r is not None and run.check(
            r.rows_written == want_full, f"full rows {r.rows_written} != {want_full}"
        ):
            op = run.attempted
            try:
                manifest = validate_manifest(full.output_uri)
            except ValueError as exc:
                run.check(False, f"manifest: {exc}")
            else:
                run.check(manifest.get("row_count") == want_full, "manifest row_count")
                run.values["export_bytes_per_row"] = manifest["total_bytes"] / want_full
            rates.append(want_full / dt_full)
            last_full = op
        r, dt_scd = run.timed("scd_sync", lambda: run_sync(run.spark, scd))
        if r is not None and run.check(
            r.rows_written == want_scd, f"scd rows {r.rows_written} != {want_scd}"
        ):
            last_scd = run.attempted
        if dt_full is not None and dt_scd is not None:
            iters.append(dt_full + dt_scd)

    # the files on disk hold what the last syncs reported
    if last_full is not None:
        got = _read_back_rows(run.spark, full.output_uri)
        run.check(got == want_full, f"full read-back {got} != {want_full}", last_full)
    if last_scd is not None:
        got = _read_back_rows(run.spark, scd.output_uri)
        run.check(got == want_scd, f"scd read-back {got} != {want_scd}", last_scd)

    run.samples["rows_per_s"] = rates
    run.samples["iteration"] = iters


# --- incremental_sync --------------------------------------------------


def incremental_sync(run: Run, inputs: dict) -> None:
    from pyspark_unload_to_gcs_spark.config import SyncConfig
    from pyspark_unload_to_gcs_spark.plans.sync import run_sync
    from pyspark_unload_to_gcs_spark.sources import versioned

    spark = run.spark
    events = inputs["events"]
    vt_in = inputs["versioned"]
    tb_per_tick = inputs["tb_per_tick"]

    con = _events_duckdb(events["path"])
    hour_rows = dict(
        con.execute(
            "SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT), count(*) "
            "FROM ev GROUP BY 1"
        ).fetchall()
    )
    con.close()
    rng = random.Random(run.seed)
    first_hour = events["epoch_us"] // 3_600_000_000
    hours = [first_hour + h for h in rng.sample(range(events["hours"]), events["hours"])]

    table = os.path.join(run.work, "versioned")
    base_ms = int(time.time() * 1000)
    versioned.commit_version(spark.read.parquet(vt_in["base"]), table, base_ms)
    run.check(
        versioned.latest_commit_timestamp_ms(table) == base_ms, "base commit watermark"
    )
    watermark = base_ms
    latest_ms = base_ms

    def commit(tick: dict) -> int:
        snap = versioned.snapshot_at_ms(spark, table, latest_ms)
        upserts = spark.read.parquet(os.path.join(tick["dir"], "upserts.parquet"))
        deletes = spark.read.parquet(os.path.join(tick["dir"], "deletes.parquet"))
        touched = upserts.select("k").unionByName(deletes)
        nxt = snap.join(touched, "k", "left_anti").unionByName(upserts)
        commit_ms = int(time.time() * 1000)
        versioned.commit_version(nxt, table, commit_ms)
        return commit_ms

    def cdc_config(cutoff: int) -> SyncConfig:
        return SyncConfig(
            table=table,
            sync_type="cdc",
            table_format="versioned",
            cdc_key_columns=("k",),
            time_cutoff_ms=cutoff,
            computed_hash_column="row_hash",
            output_uri=run.out("cdc"),
        )

    def tb_config(hour: int) -> SyncConfig:
        start_ms = hour * 3_600_000
        delay_ms = 60_000
        return SyncConfig(
            table=events["path"],
            sync_type="time-based",
            updated_time_column="ts",
            time_cutoff_ms=start_ms,
            # the window closes at the hour's last second: [start, start + 1 h)
            now_ms=start_ms + 3_600_000 - 1000 + delay_ms,
            delay_ms=delay_ms,
            validate_row_count=inputs["validate_row_count"],
            computed_hash_column="row_hash",
            output_uri=run.out("tb"),
        )

    ticks = iter(vt_in["ticks"])
    next_hour = iter(hours)

    def tick(timed: bool) -> tuple[float, int] | None:
        """One orchestrator tick; returns (seconds, rows exported), or
        None if an operation raised."""
        nonlocal watermark, latest_ms
        change = next(ticks)
        step = run.timed if timed else _untimed
        total, rows = 0.0, 0
        commit_ms, dt = step("commit", lambda: commit(change))
        if commit_ms is None:
            return None
        total += dt
        latest_ms = commit_ms
        hist = versioned.table_history(table)
        run.check(hist[0].get("n_rows") == change["live_rows"], "committed row count")

        r, dt = step("cdc_sync", lambda: run_sync(spark, cdc_config(watermark)))
        if r is None:
            return None
        total += dt
        rows += r.rows_written
        want = 2 * change["updates"] + change["inserts"] + change["deletes"]
        run.check(r.rows_written == want, f"cdc rows {r.rows_written} != {want}")
        wm = r.change_capture_sync_last_commit_ms
        run.check(wm > watermark and wm >= commit_ms, f"watermark {wm} not past {commit_ms}")
        run.check(
            LEGACY_CHECKPOINT_KEYS <= set(r.to_dict()), "checkpoint legacy keys"
        )
        watermark = wm

        for _ in range(tb_per_tick):
            hour = next(next_hour)
            r, dt = step("tb_sync", lambda: run_sync(spark, tb_config(hour)))
            if r is None:
                return None
            total += dt
            rows += r.rows_written
            want = hour_rows.get(hour, 0)
            run.check(r.rows_written == want, f"tb rows {r.rows_written} != {want}")
        return total, rows

    def _untimed(kind, fn):
        t0 = time.perf_counter()
        return fn(), time.perf_counter() - t0

    tick(timed=False)  # warm the code paths once
    iters, rates = [], []
    deadline = time.perf_counter() + run.seconds
    # each tick consumes one generated change set; one went to warm-up
    loops = 0
    while loops < len(vt_in["ticks"]) - 1 and (
        time.perf_counter() < deadline or loops < MIN_ITERATIONS
    ):
        loops += 1
        done = tick(timed=True)
        if done is not None:
            iters.append(done[0])
            rates.append(done[1] / done[0])
    run.samples["iteration"] = iters
    run.samples["rows_per_s"] = rates


# --- analytics_mix -----------------------------------------------------

# (query, family). One cold pass in this order: a fixed order keeps each
# query's share of the session's cold costs (JIT, fixtures) the same
# from run to run.
MIX = (
    ("full_sync_non_null", "sync"),
    ("time_based_window", "sync"),
    ("scd_latest_order", "sync"),
    ("content_hash_json", "sync"),
    ("q3_order_revenue", "tpch"),
    ("q6_revenue_delta", "tpch"),
    ("q12_priority_by_linestatus", "tpch"),
    ("sessionization", "events"),
    ("tumbling_daily_events", "events"),
    ("retention_cohorts", "events"),
    ("exact_dedup", "dedup"),
    ("near_dedup_simhash_recall", "dedup"),
    ("vector_topk", "vector"),
    ("text_stats", "text"),
    ("quality_score", "text"),
    ("multimodal_decode_stats", "udf"),
    ("heavy_hitters_stream_replay", "replay"),
    ("versioned_snapshot_at", "versioned"),
    ("margin_align_mining", "align"),
)
FAMILIES = tuple(dict.fromkeys(f for _, f in MIX))

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def oracle_counts(sf_dir: str, names) -> dict[str, int]:
    from pyspark_unload_to_gcs_spark import registry

    oracles = registry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    out = {}
    for name in names:
        sql = oracles.get(name)
        if sql:
            out[name] = con.execute(
                f"SELECT count(*) FROM ({sql.strip().rstrip(';')})"
            ).fetchone()[0]
    con.close()
    return out


def analytics_mix(run: Run, inputs: dict) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark import registry

    sf_dir = inputs["sf_dir"]
    queries = registry.queries()
    observed = {}
    t_pass = time.perf_counter()
    for name, family in MIX:
        obs = Observation()

        def one(name=name, obs=obs):
            with run.tracer.span("registry.build", query=name):
                df = queries[name](run.spark, sf_dir)
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            with run.tracer.span("registry.exec", query=name):
                df.write.format("noop").mode("overwrite").save()
            return obs.get["rows"]

        rows, dt = run.timed("query", one, query=name, family=family)
        if rows is not None:
            observed[name] = (rows, run.attempted)
            run.values.setdefault("query_s", {})[name] = dt
    pass_s = time.perf_counter() - t_pass
    run.samples["iteration"] = [pass_s]
    run.samples["rows_per_s"] = [sum(r for r, _ in observed.values()) / pass_s]

    t_oracle = time.perf_counter()
    want = oracle_counts(sf_dir, observed)
    run.values["oracle_check_s"] = time.perf_counter() - t_oracle
    for name, n in want.items():
        rows, op = observed[name]
        run.check(rows == n, f"{name}: rows {rows} != oracle {n}", op)
    run.values["oracle_checked"] = len(want)


WORKLOADS = {
    "bulk_export": bulk_export,
    "incremental_sync": incremental_sync,
    "analytics_mix": analytics_mix,
}
