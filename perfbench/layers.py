"""Per-layer metrics from the traced run's spans and event log.

Every workload reports the same metric names; a layer a workload does
not reach reads 0. Times and counters are means per call of the span
(``*_calls`` is calls per timed operation), so they do not grow with
how many operations fit in the run.
"""

from __future__ import annotations

import statistics

from eventlog import fold_dir, union_seconds
from spans import self_times
from workloads import FAMILIES

SYNC_TYPES = {"full_sync": "full", "scd_sync": "scd", "tb_sync": "tb", "cdc_sync": "cdc"}
WRITE_FIELDS = (
    "s",
    "executor_cpu_s",
    "executor_run_s",
    "output_bytes",
    "output_files",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "jobs",
    "stages",
    "tasks",
    "driver_residual_s",
)
TRACED_E2E = ("setup_s", "iteration_p50_s", "rows_per_s")


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = [
        "session.get_spark_s",
        "sources.catalog.load_table_s",
        "sources.catalog.load_table_calls",
        "plans.sync.plan_sync_self_s",
        "operators.guards.row_count_guard_s",
        "operators.guards.row_count_guard_jobs",
        "operators.hashing.content_hash_s",
        "sources.versioned.change_feed_s",
        "sources.versioned.latest_commit_timestamp_ms_s",
        "sources.versioned.snapshot_at_ms_s",
        "sources.versioned.commit_version_s",
        "sources.versioned.commit_version_jobs",
        "sources.versioned.commit_version_output_bytes",
    ]
    out += [
        f"sinks.writers.write_export.{t}.{f}"
        for t in SYNC_TYPES.values()
        for f in WRITE_FIELDS
    ]
    out += [
        "sinks.writers.write_manifest_s",
        "sinks.writers.write_manifest_bytes_hashed",
        "registry.build_s",
        "registry.build_jobs",
        "registry.exec_s",
        "registry.exec_jobs",
        "registry.exec_tasks",
        "registry.executor_run_s",
        "registry.executor_cpu_s",
        "registry.shuffle_bytes",
        "registry.spill_bytes",
        "registry.driver_residual_s",
    ]
    out += [f"registry.family.{f}.exec_s" for f in FAMILIES]
    out += [
        "jvm.gc_s",
        "jvm.peak_rss_mb",
        "trace.spans_per_op",
        "trace.reconcile_err_frac",
        "trace.unattributed_frac",
    ]
    out += [f"traced.{m}" for m in TRACED_E2E]
    return out


def unit(name: str) -> str:
    if name.endswith("_bytes") or name.endswith("bytes_hashed"):
        return "B"
    if name.endswith(("_jobs", "_calls", ".jobs", ".stages", ".tasks", "_tasks", ".output_files")):
        return "count"
    if name == "trace.spans_per_op":
        return "count"
    if name in ("trace.reconcile_err_frac", "trace.unattributed_frac"):
        return "frac"
    if name == "traced.rows_per_s":
        return "rows/s"
    if name == "jvm.peak_rss_mb":
        return "MB"
    return "s"


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(spans, eventlog_dir, *, gc_s, rss_mb, traced_e2e) -> tuple[dict, dict]:
    """(per-layer metrics, reconciliation record)."""
    groups = fold_dir(eventlog_dir)
    self_s = self_times(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    roots = {s["id"]: s for s in spans if s["name"].startswith("op.")}

    def dur(s):
        return s["end"] - s["start"]

    def ev(s, key):
        return groups.get(s["group"], {}).get(key, 0)

    def residual(s):
        windows = groups.get(s["group"], {}).get("stage_windows", ())
        return dur(s) - union_seconds(windows, s["wall_start"], s["wall_end"])

    def spans_of(name):
        """The spans of ``name`` inside timed operations (warm-up and
        set-up calls excluded)."""
        return [s for s in by_name.get(name, ()) if s["op"] in roots]

    m = {k: 0.0 for k in names()}
    setups = by_name.get("session.get_spark", [])
    m["session.get_spark_s"] = statistics.median(map(dur, setups)) if setups else 0.0
    loads = spans_of("sources.catalog.load_table")
    m["sources.catalog.load_table_s"] = _mean(map(dur, loads))
    m["sources.catalog.load_table_calls"] = len(loads) / max(len(roots), 1)
    m["plans.sync.plan_sync_self_s"] = _mean(self_s[s["id"]] for s in spans_of("plans.sync.plan_sync"))
    guards = spans_of("operators.guards.row_count_guard")
    m["operators.guards.row_count_guard_s"] = _mean(map(dur, guards))
    m["operators.guards.row_count_guard_jobs"] = _mean(ev(s, "jobs") for s in guards)
    m["operators.hashing.content_hash_s"] = _mean(map(dur, spans_of("operators.hashing.content_hash")))
    m["sources.versioned.change_feed_s"] = _mean(map(dur, spans_of("sources.versioned.change_feed")))
    m["sources.versioned.latest_commit_timestamp_ms_s"] = _mean(
        map(dur, spans_of("sources.versioned.latest_commit_timestamp_ms"))
    )
    m["sources.versioned.snapshot_at_ms_s"] = _mean(
        map(dur, spans_of("sources.versioned.snapshot_at_ms"))
    )
    commits = spans_of("sources.versioned.commit_version")
    m["sources.versioned.commit_version_s"] = _mean(map(dur, commits))
    m["sources.versioned.commit_version_jobs"] = _mean(ev(s, "jobs") for s in commits)
    m["sources.versioned.commit_version_output_bytes"] = _mean(ev(s, "output_bytes") for s in commits)

    for kind, t in SYNC_TYPES.items():
        writes = [
            s for s in spans_of("sinks.writers.write_export") if roots[s["op"]]["kind"] == kind
        ]
        pre = f"sinks.writers.write_export.{t}."
        m[pre + "s"] = _mean(map(dur, writes))
        for f in ("executor_cpu_s", "executor_run_s", "output_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "jobs", "stages", "tasks"):
            m[pre + f] = _mean(ev(s, f) for s in writes)
        m[pre + "output_files"] = _mean(s["output_files"] for s in writes)
        m[pre + "driver_residual_s"] = _mean(map(residual, writes))

    manifests = spans_of("sinks.writers.write_manifest")
    m["sinks.writers.write_manifest_s"] = _mean(map(dur, manifests))
    m["sinks.writers.write_manifest_bytes_hashed"] = _mean(s["bytes_hashed"] for s in manifests)

    builds = spans_of("registry.build")
    execs = spans_of("registry.exec")
    m["registry.build_s"] = _mean(map(dur, builds))
    m["registry.build_jobs"] = _mean(ev(s, "jobs") for s in builds)
    m["registry.exec_s"] = _mean(map(dur, execs))
    m["registry.exec_jobs"] = _mean(ev(s, "jobs") for s in execs)
    m["registry.exec_tasks"] = _mean(ev(s, "tasks") for s in execs)
    m["registry.executor_run_s"] = _mean(ev(s, "executor_run_s") for s in execs)
    m["registry.executor_cpu_s"] = _mean(ev(s, "executor_cpu_s") for s in execs)
    m["registry.shuffle_bytes"] = _mean(
        ev(s, "shuffle_read_bytes") + ev(s, "shuffle_write_bytes") for s in execs
    )
    m["registry.spill_bytes"] = _mean(ev(s, "spill_bytes") for s in execs)
    m["registry.driver_residual_s"] = _mean(map(residual, execs))
    for fam in FAMILIES:
        m[f"registry.family.{fam}.exec_s"] = _mean(
            dur(s) for s in execs if roots[s["op"]].get("family") == fam
        )

    m["jvm.gc_s"] = gc_s
    m["jvm.peak_rss_mb"] = rss_mb
    in_ops = [s for s in spans if s["op"] in roots]
    m["trace.spans_per_op"] = len(in_ops) / max(len(roots), 1)
    # Reconciliation against the operation's wall time as ``Run.timed``
    # measured it, a clock the spans do not share. The root span's self
    # time is the part of the operation no layer span covers.
    errs, root_self, wall = [], 0.0, 0.0
    for op_id, root in roots.items():
        timed_s = root.get("timed_s")
        if not timed_s:  # the operation raised; it is already failed
            continue
        total_self = sum(self_s[s["id"]] for s in in_ops if s["op"] == op_id)
        errs.append(abs(total_self - timed_s) / timed_s)
        root_self += self_s[op_id]
        wall += timed_s
    m["trace.reconcile_err_frac"] = max(errs, default=0.0)
    m["trace.unattributed_frac"] = root_self / wall if wall else 0.0
    for k in TRACED_E2E:
        m[f"traced.{k}"] = traced_e2e[k]
    check = {
        "ops": len(errs),
        "max_err_frac": m["trace.reconcile_err_frac"],
        "unattributed_frac": m["trace.unattributed_frac"],
    }
    return m, check
