"""Spans recorded from outside the program.

A ``Tracer`` records one span per call at each layer boundary: name,
start, end, parent and the operation it belongs to. It tags each span
with its own Spark job group, so the Spark work a call launches is
counted at that call's boundary: the event log, folded per job group
(``eventlog.py``), gives each span's jobs, stages, tasks, executor time
and bytes.

Layer functions are wrapped by replacing the module attribute that the
caller looks up, and only inside the benchmark process; ``restore``
puts the originals back. Spans stay in memory until the run ends.

A disabled tracer records nothing and wraps nothing, so the timed runs
measure the program as users call it.
"""

from __future__ import annotations

import functools
import importlib
import os
import time
from contextlib import contextmanager

from eventlog import union_seconds

PKG = "pyspark_unload_to_gcs_spark"

# (module the caller resolves the name in, attribute, span name). The
# span name is the layer that owns the function.
WRAPPED = (
    ("plans.sync", "plan_sync", "plans.sync.plan_sync"),
    ("plans.sync", "load_table", "sources.catalog.load_table"),
    ("plans.sync", "row_count_guard", "operators.guards.row_count_guard"),
    ("plans.sync", "content_hash", "operators.hashing.content_hash"),
    ("plans.sync", "write_export", "sinks.writers.write_export"),
    ("sinks.writers", "write_manifest", "sinks.writers.write_manifest"),
    ("sources.versioned", "change_feed", "sources.versioned.change_feed"),
    ("sources.versioned", "snapshot_at_ms", "sources.versioned.snapshot_at_ms"),
    (
        "sources.versioned",
        "latest_commit_timestamp_ms",
        "sources.versioned.latest_commit_timestamp_ms",
    ),
    ("sources.versioned", "commit_version", "sources.versioned.commit_version"),
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._op = None
        self._sc = None
        self._saved: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        """Tag spans opened from now on with Spark job groups."""
        self._sc = spark.sparkContext

    # --- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "name": name,
            "group": f"perfbench-{self._next_id}",
            **attrs,
        }
        # The span's clock covers its own job-group calls (py4j round
        # trips of 0.5-5 ms): left outside, a root span misses them and
        # reads shorter than the operation it wraps.
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        self._tag(rec["group"], name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            if parent is not None:
                self._tag(parent["group"], parent["name"])
            elif self._sc is not None:
                self._sc._jsc.clearJobGroup()
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self.spans.append(rec)

    @contextmanager
    def op(self, kind: str, **attrs):
        """Root span of one timed operation; spans opened inside it
        share its operation id."""
        if not self.enabled:
            yield None
            return
        self._op = self._next_id + 1
        try:
            with self.span(f"op.{kind}", kind=kind, **attrs) as rec:
                yield rec
        finally:
            self._op = None

    def _tag(self, group: str, name: str) -> None:
        if self._sc is not None:
            self._sc.setJobGroup(group, name)

    # --- wrapping layer functions -------------------------------------

    def install(self) -> None:
        if not self.enabled:
            return
        for mod_name, attr, span_name in WRAPPED:
            module = importlib.import_module(f"{PKG}.{mod_name}")
            original = getattr(module, attr)
            self._saved.append((module, attr, original))
            setattr(module, attr, self._wrap(original, span_name))

    def restore(self) -> None:
        while self._saved:
            module, attr, original = self._saved.pop()
            setattr(module, attr, original)

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as rec:
                result = fn(*args, **kwargs)
            if rec is not None:
                if span_name == "sinks.writers.write_export":
                    rec["output_files"] = count_data_files(result)
                elif span_name == "sinks.writers.write_manifest":
                    rec["bytes_hashed"] = result["total_bytes"]
            return result

        return wrapper


def count_data_files(uri: str) -> int:
    """Data files under a local export directory (hidden and ``_``
    marker files excluded, as the manifest excludes them)."""
    root = uri[len("file:"):] if uri.startswith("file:") else uri
    return sum(
        1
        for _dp, _dirs, files in os.walk(root)
        for f in files
        if not f.startswith(("_", "."))
    )


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_seconds(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }
