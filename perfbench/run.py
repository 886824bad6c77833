"""Export & analytics benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bulk_export --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` (untimed), starts the program cold (``setup_s``: package
import, JVM launch, session, first job), runs the workload for
``--seconds``, checks every operation's output, and prints the
metrics. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run wraps the layer functions in spans, turns on the Spark event
log and reports the per-layer metrics instead.

Everything the run writes stays under ``.bench_work/`` in the current
directory. See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PKG = "pyspark_unload_to_gcs_spark"
# Largest miss between an operation's span self times and its wall time
# as ``Run.timed`` read it, as a share of that wall time.
RECONCILE_TOLERANCE = 0.01
# Largest share of the timed operations' wall time that no layer span
# covers (the root spans' self time).
UNATTRIBUTED_TOLERANCE = 0.10

# Input sizes per scale. "tiny" exists for the smoke test.
SIZES = {
    "full": dict(
        events_rows=750_000,
        max_records_per_file=100_000,
        versioned_rows=100_000,
        ticks=24,
        updates=500,
        inserts=300,
        deletes=200,
        tb_per_tick=3,
        validate_row_count=100_000,
        analytics_sf=0.02,
    ),
    "tiny": dict(
        events_rows=20_000,
        max_records_per_file=5_000,
        versioned_rows=2_000,
        ticks=16,
        updates=5,
        inserts=3,
        deletes=2,
        tb_per_tick=2,
        validate_row_count=10_000,
        analytics_sf=0.002,
    ),
}

# The operation each workload is named for; its median and tail are
# printed on the report lines.
HEADLINE_OP = {
    "bulk_export": "full_sync",
    "incremental_sync": "tb_sync",
    "analytics_mix": "query",
}

E2E_UNITS = {
    "setup_s": "s",
    "iteration_p50_s": "s",
    "rows_per_s": "rows/s",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of host RAM, at most 4 GiB: the package default (16g)
    exceeds small hosts, and other processes share the machine."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def pin_environment(root: str, work: str) -> dict:
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        # Python workers import the package for the UDF rows
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    }
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def finite(x: float) -> float:
    """JSON has no NaN: a metric with no samples (every operation of its
    kind failed, so the run is already incorrect) reads 0."""
    return x if math.isfinite(x) else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Under 21 samples that percentile is not above the
    median, so the maximum (p100) is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan"), 0
    if n < 21:
        return s[-1], 100.0, n
    idx = n - 11
    return s[idx], 100.0 * idx / (n - 1), n


# --- generated inputs ------------------------------------------------


def make_inputs(workload: str, seed: int, size: dict, work: str) -> dict:
    import gen

    inputs = dict(size)
    if workload in ("bulk_export", "incremental_sync"):
        inputs["events"] = gen.events_table(
            os.path.join(work, "in", "events"), seed, size["events_rows"]
        )
    if workload == "incremental_sync":
        inputs["versioned"] = gen.versioned_inputs(
            os.path.join(work, "in", "versioned"),
            seed,
            size["versioned_rows"],
            size["ticks"],
            updates=size["updates"],
            inserts=size["inserts"],
            deletes=size["deletes"],
        )
    if workload == "analytics_mix":
        inputs["sf_dir"] = os.path.join(work, "in", "sf")
        gen.analytics_tables(inputs["sf_dir"], seed, size["analytics_sf"])
    return inputs


# --- session -----------------------------------------------------------


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files in the checkout; -UsePerfData stops
        # HotSpot writing its counters to the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file:{evdir}",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def set_up(workload: str, conf: dict, tracer) -> tuple[object, float]:
    """Start the program as a user's process does: import the package,
    launch the JVM and the session, run a first one-row job and, for
    the query library, build the registry. Returns the session and the
    wall time of all of it.

    Once per run: a warm restart inside a live JVM skips the launch a
    user pays, and a second cold start costs as much as the first (about
    10 s on 4 cores), more than the run's time budget has room for."""
    t0 = time.perf_counter()
    from pyspark_unload_to_gcs_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    if workload == "analytics_mix":
        from pyspark_unload_to_gcs_spark import registry

        registry.queries()
    setup_s = time.perf_counter() - t0
    tracer.bind(spark)
    return spark, setup_s


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def shut_down(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close() if proc.stdin else None
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate, then wait for good
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- metrics -----------------------------------------------------------


def end_to_end(workload: str, run, setup_s, rss_mb) -> tuple[dict, dict]:
    """(metrics for the JSON line, named per-workload report)."""
    head = run.samples.get(HEADLINE_OP[workload], [])
    t_val, t_pct, t_n = tail(head)
    metrics = {
        "setup_s": setup_s,
        "iteration_p50_s": median(run.samples.get("iteration", [])),
        "rows_per_s": median(run.samples.get("rows_per_s", [])),
    }
    named = {
        "setup_s": (metrics["setup_s"], "s"),
        "failed_frac": (run.failed / max(run.attempted, 1), "frac"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    if workload == "bulk_export":
        named["full_export_rows_per_s"] = (metrics["rows_per_s"], "rows/s")
        named["full_sync_p50_s"] = (median(head), "s")
        named["full_sync_tail_s"] = (t_val, f"s@p{t_pct:.0f},n={t_n}")
        named["scd_export_s"] = (median(run.samples.get("scd_sync", [])), "s")
        named["export_bytes_per_row"] = (run.values.get("export_bytes_per_row"), "B/row")
    elif workload == "incremental_sync":
        named["tb_sync_p50_s"] = (median(head), "s")
        named["tb_sync_tail_s"] = (t_val, f"s@p{t_pct:.0f},n={t_n}")
        named["cdc_sync_p50_s"] = (median(run.samples.get("cdc_sync", [])), "s")
        named["commit_p50_s"] = (median(run.samples.get("commit", [])), "s")
    else:
        named["mix_wall_s"] = (metrics["iteration_p50_s"], "s")
        named["query_p50_s"] = (median(head), "s")
        named["query_tail_s"] = (t_val, f"s@p{t_pct:.0f},n={t_n}")
    return metrics, named


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(HEADLINE_OP))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SIZES), default="full")
    args = p.parse_args(argv)

    root = os.getcwd()
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(root, work)
    sys.path.insert(0, root)
    # found, not imported: the import is part of the timed set-up
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: the package {PKG} is not in {root}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import layers
    from spans import Tracer
    from workloads import WORKLOADS, Run

    trace = bool(args.trace)
    spark = None
    try:
        inputs = make_inputs(args.workload, args.seed, SIZES[args.scale], work)
        tracer = Tracer(trace)
        steal0 = cpu_jiffies()
        spark, setup_s = set_up(args.workload, session_conf(work, trace), tracer)
        tracer.install()
        run = Run(spark, tracer, work, args.seed, args.seconds)
        gc0 = jvm_gc_seconds(spark)
        t0 = time.perf_counter()
        WORKLOADS[args.workload](run, inputs)
        measured_s = time.perf_counter() - t0
        gc_s = jvm_gc_seconds(spark) - gc0
        rss_mb = jvm_peak_rss_mb(spark)
        environment = {
            **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
            "nproc": cpu_count(),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        shut_down(spark)
        spark = None
        tracer.restore()
        steal1 = cpu_jiffies()
        d_total = steal1[1] - steal0[1]
        environment["host_steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / d_total if d_total else 0.0

        metrics, named = end_to_end(args.workload, run, setup_s, rss_mb)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "environment": environment,
            "setup_s": setup_s,
            "measured_s": measured_s,
            "samples": dict(run.samples),
            "values": run.values,
            "failures": run.failures,
            "named": named,
        }
        if trace:
            layer, check = layers.per_layer(
                tracer.spans,
                os.path.join(work, "eventlog"),
                gc_s=gc_s,
                rss_mb=rss_mb,
                traced_e2e=metrics,
            )
            report["reconcile"] = check
            if check["max_err_frac"] > RECONCILE_TOLERANCE:
                run.failures.append(
                    f"span self times miss op wall by {check['max_err_frac']:.4f}"
                )
            if check["unattributed_frac"] > UNATTRIBUTED_TOLERANCE:
                run.failures.append(
                    f"{check['unattributed_frac']:.4f} of op wall is in no layer span"
                )
            out_metrics = {k: {"value": finite(v), "unit": layers.unit(k)} for k, v in layer.items()}
            spans_path = os.path.join(base, f"spans-{args.workload}-seed{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump(tracer.spans, f)
        else:
            out_metrics = {k: {"value": finite(v), "unit": E2E_UNITS[k]} for k, v in metrics.items()}

        with open(os.path.join(base, f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
    finally:
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} env={json.dumps(environment)}")
    for name, (value, unit) in named.items():
        print(f"# {name} = {value} {unit}")
    for what in run.failures:
        print(f"# FAILED: {what}")
    correct = not run.failures
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": out_metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
