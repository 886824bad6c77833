"""Streaming export sink: a ``foreachBatch`` fold over the batch writers.

Each micro-batch is exported exactly like one orchestrated incremental
run of the reference job (gzip JSON/CSV partition under the output URI),
with Spark's checkpointing replacing the reference's
orchestrator-persisted ``time_cutoff_ms`` watermark
(export.py:131-158, 333-337): on restart the source resumes from the
checkpoint, so each row is exported once per batch epoch. Run it with
``rollup.start_fold(stream, functools.partial(export_batch, config=...,
stats=...), checkpoint_dir=...)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame

from pyspark_unload_to_gcs_spark.config import SyncConfig
from pyspark_unload_to_gcs_spark.plans.sync import export_frame


@dataclass
class StreamExportStats:
    """Driver-side per-batch log (observable progress; tiny)."""

    batches: list[tuple[int, int]] = field(default_factory=list)  # (batch_id, rows)

    @property
    def total_rows(self) -> int:
        return sum(r for _, r in self.batches)


def export_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    config: SyncConfig,
    stats: StreamExportStats,
) -> None:
    """Hash and write one micro-batch under
    ``<output_uri>/batch=<batch_id>`` with every other setting of
    ``config`` (format, compression, partitioning, file sizing), plus a
    ``_MANIFEST.json`` with the batch's row count when ``emit_manifest``
    is set, through the same export tail as ``plans.sync.run_sync``
    (``plans.sync.export_frame``), so ``stats`` gets real counts with
    no extra count job."""
    batch_config = replace(
        config, output_uri=f"{config.output_uri.rstrip('/')}/batch={batch_id}"
    )
    _uri, rows = export_frame(batch_df, batch_config)
    stats.batches.append((batch_id, rows))
