"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
minimal JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"sf": ..., "n_queries": N, "n_errors": E}.

Each query is materialized with a noop-format write (full execution, no
driver collect overhead, no disk write skew). A tiny warmup action runs
first so JVM/codegen startup isn't billed to the first query; the
session fixtures of ``registry.fixtures()`` are also built in warmup,
each reported as its own ``warmup_<name>_sec`` line item in
BENCH_LOCAL.json.

Driver-parse contract (the round driver JSON-parses bench stdout):
- The JSON line is the LAST, LONE line on stdout; all Spark logging and
  progress output goes to stderr (console progress is disabled).
- The stdout line is MINIMAL — r01-r03 all recorded "parsed": null
  despite rc=0, and the prime suspect is the ~4 KB line carrying the
  full 100+-entry per-query map. That map (plus per-query errors and
  the warmup line item) now lives only in BENCH_LOCAL.json.
- A query that raises is recorded in BENCH_LOCAL.json "errors" and
  skipped — one bad query must not zero out the whole round's bench
  signal — and the metric NAME changes to a "_partial" variant so a
  partial total can never be compared against a complete one.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_unload_to_gcs_spark import registry  # noqa: E402
from pyspark_unload_to_gcs_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(
        app_name="pyspark-unload-to-gcs-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM, parquet reader, codegen, shuffle, broadcast and noop-
    # sink paths — so the first measured query isn't billed JIT costs
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    nation = load_parquet(spark, os.path.join(sf_dir, "nation.parquet"))
    region = load_parquet(spark, os.path.join(sf_dir, "region.parquet"))
    warm = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("n_name") != "")
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    materialize(warm)

    # Pre-warm the Python/Arrow worker pool: the first pandas-UDF query
    # otherwise pays daemon + Arrow-serializer startup (~5 s observed on
    # multimodal_decode_stats cold vs 0.6 s warm) — infra cost, not
    # query cost.
    def _noop_batches(it):
        yield from it

    # Warmups must never abort the bench: a failed warmup just means
    # the first query that needed it pays the cold cost (or records
    # its own per-query error) — the one-bad-thing-must-not-zero-the-
    # round contract applies here too.
    try:
        materialize(
            nation.select("n_nationkey").mapInPandas(_noop_batches, "n_nationkey int")
        )
    except Exception:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)

    # Pre-warm the Python DataSource machinery the same way (the Arrow
    # pre-warm's rationale): the FIRST python-datasource read of a
    # session pays ~3 s of plan/worker plumbing that is
    # class-independent infra, measured r15 on a 1-row source
    # (versioned_datasource_snapshot read 3.8 s cold vs 0.9 s with the
    # machinery warm). A trivial one-row source absorbs it here.
    try:
        from pyspark.sql.datasource import DataSource, DataSourceReader

        class _WarmupReader(DataSourceReader):
            def read(self, partition):
                yield (1,)

        class _WarmupSource(DataSource):
            @classmethod
            def name(cls):
                return "bench_warmup_source"

            def schema(self):
                return "x int"

            def reader(self, schema):
                return _WarmupReader()

        spark.dataSource.register(_WarmupSource)
        materialize(spark.read.format("bench_warmup_source").load())
    except Exception:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)

    # Named fixture warmups (registry.fixtures()): each session-shared
    # index or table build is timed on its own and reported as
    # warmup_<name>_sec, instead of being billed to whichever query
    # first reads it. In production these structures exist before the
    # queries run; the rows time the work done against them.
    warmups: dict[str, float] = {}
    for fixture, build in registry.fixtures():
        t0 = time.perf_counter()
        try:
            build(spark, sf_dir)
        except Exception:  # noqa: BLE001 — cold cost falls to the first consumer
            traceback.print_exc(file=sys.stderr)
        warmups[f"warmup_{fixture}_sec"] = round(time.perf_counter() - t0, 3)

    # Per-query noop floor (VERDICT r05 #8): every query pays a fixed
    # job-submission + noop-write cost regardless of its plan. Measured
    # here once per run (median of empty-plan writes; first reading
    # 0.02 s/query — far below the ~0.3 s the r05 analysis assumed) and
    # reported as a floor-adjusted s/query alongside the raw number, so
    # cross-round per-query comparisons aren't skewed by surface
    # growth. The RAW total remains the driver-parsed headline; the
    # floor-adjusted numbers live in BENCH_LOCAL.json and BASELINE.md
    # explains which gates.
    def _measure_floor() -> float:
        samples = []
        try:
            empty = spark.range(1).select(F.lit(1).alias("x")).filter(
                F.col("x") < 0
            )
            for _ in range(5):
                t0 = time.perf_counter()
                materialize(empty)
                samples.append(time.perf_counter() - t0)
        except Exception:  # noqa: BLE001 — floor is informational only
            traceback.print_exc(file=sys.stderr)
        return round(sorted(samples)[len(samples) // 2], 3) if samples else 0.0

    noop_floor_sec = _measure_floor()

    def _cpu_jiffies() -> tuple[int, int] | None:
        """(steal, total) jiffies from /proc/stat — the kernel's own
        host-steal counter. The noop floor samples ambient load only at
        the instants it runs; intermittent steal slips between samples
        (observed r15: quiet floors at both ends of a 294 s sitting
        whose warmups read 2x). The steal delta over the WHOLE run
        can't be dodged. None off-Linux."""
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
            vals = [int(x) for x in parts[1:]]
            return (vals[7] if len(vals) > 7 else 0, sum(vals))
        except Exception:  # noqa: BLE001 — informational only
            return None

    jiffies_start = _cpu_jiffies()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, (name, q) in enumerate(registry.queries().items()):
        # Spark's ContextCleaner frees shuffle files / broadcast blocks
        # only when JVM GC collects the dereferenced dependency objects.
        # A 100+-query loop on one local JVM accumulates all of them
        # (observed: late queries degrade 3-10x — q21 1.8 s warm vs
        # 26 s at position ~100). A periodic explicit GC keeps the
        # cleaner draining; the pause itself is untimed (between
        # queries).
        if i % 20 == 0 and i > 0:
            spark.sparkContext._jvm.System.gc()
        start = time.perf_counter()
        try:
            materialize(q(spark, sf_dir))
            timings[name] = round(time.perf_counter() - start, 3)
        except Exception as exc:  # noqa: BLE001 — record and keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)

    # second floor sample AFTER the loop: the start-of-run floor alone
    # can misclassify a sitting where host steal arrives mid-loop (r15:
    # a 354 s reading carried a quiet 0.032 start floor because the
    # steal landed after measurement). start+end together bound the
    # sitting's ambient window.
    noop_floor_end_sec = _measure_floor()
    jiffies_end = _cpu_jiffies()
    steal_pct = None
    if jiffies_start and jiffies_end:
        dsteal = jiffies_end[0] - jiffies_start[0]
        dtotal = jiffies_end[1] - jiffies_start[1]
        if dtotal > 0:
            steal_pct = round(100.0 * dsteal / dtotal, 2)

    total = round(sum(timings.values()), 3)
    # an errored (skipped) query silently shrinks the total, so a partial
    # run gets a DIFFERENT metric name — it must never be compared
    # against a complete total
    metric = (
        "total_wall_sec_all_registered_queries"
        if not errors
        else "total_wall_sec_completed_queries_partial"
    )
    result = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
    }
    # full detail (per-query timings, error strings, warmup line item)
    # goes to BENCH_LOCAL.json only — the stdout line stays minimal for
    # the driver's parser
    n_timed = max(len(timings), 1)
    # Verification pins re-run brute-force/exact arms by DESIGN (a
    # recall pin runs both the approximate and the exact pipeline and
    # compares), so they dominate the slow tail as the surface grows
    # (VERDICT r06 #6). Report their subtotal separately so a
    # production-path regression isn't masked by pin noise — the raw
    # driver-parsed headline is unchanged.
    # pins are identified by the repo's naming CONVENTION (recall pins
    # end in _recall, accuracy pins in _accuracy) rather than a frozen
    # name list, so newly promoted pins (e.g. the staged
    # theta_overlap_estimate_accuracy) classify themselves (review
    # finding: a hardcoded set silently drifts as rotations promote)
    def _is_pin(name: str) -> bool:
        return name.endswith(("_recall", "_accuracy"))

    # Stream replays fold the SAME data through several sequential
    # versioned-state micro-batches to verify the exactly-once
    # protocol — a verification artifact like the pins, 3-4x the cost
    # of the equivalent one-shot batch plan by construction (VERDICT
    # r07 #3 / r08 #4). Same naming-convention self-classification.
    def _is_replay(name: str) -> bool:
        return name.endswith("_stream_replay")

    pins_total = round(sum(t for n, t in timings.items() if _is_pin(n)), 3)
    replays_total = round(
        sum(t for n, t in timings.items() if _is_replay(n)), 3
    )
    detail = {
        **result,
        "queries": timings,
        "pins_total_sec": pins_total,
        "replays_total_sec": replays_total,
        "production_total_sec": round(total - pins_total - replays_total, 3),
        "n_pin_queries": sum(1 for n in timings if _is_pin(n)),
        "n_replay_queries": sum(1 for n in timings if _is_replay(n)),
        **warmups,
        # one line the skeptical reader can check against the budget in
        # BASELINE.md (warmup_total <= 50% of the counted total)
        "warmup_total_sec": round(sum(warmups.values()), 3),
        "noop_floor_sec_per_query": noop_floor_sec,
        "noop_floor_end_sec_per_query": noop_floor_end_sec,
        "host_steal_pct": steal_pct,
        "sec_per_query_raw": round(total / n_timed, 4),
        "floor_adjusted_total_sec": round(max(total - noop_floor_sec * len(timings), 0.0), 3),
        "floor_adjusted_sec_per_query": round(
            max(total / n_timed - noop_floor_sec, 0.0), 4
        ),
    }
    if errors:
        detail["errors"] = errors
    # the detail record is cpus-stamped and ALSO mirrored to a
    # per-core-count file (VERDICT r15 #2): the driver benches the same
    # tree at two core counts and each run used to overwrite the one
    # BENCH_LOCAL.json, so the per-query map of the main run was lost
    # and PERF's per-query/scaling blocks stayed empty every round.
    # Additions only — the stdout contract is unchanged.
    detail["cpus"] = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in ("BENCH_LOCAL.json", f"BENCH_LOCAL_c{detail['cpus']}.json"):
        try:
            with open(os.path.join(here, fname), "w") as f:
                f.write(json.dumps(detail) + "\n")
        except OSError:
            pass
    sys.stderr.flush()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
