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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.config import SyncConfig
from pyspark_unload_to_gcs_spark.operators.hashing import content_hash
from pyspark_unload_to_gcs_spark.sinks.writers import write_export, write_manifest


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
    is set. The row count rides on the write as an ``Observation`` (as
    in ``plans.sync.run_sync``), so ``stats`` gets real counts with no
    extra count job."""
    obs = Observation()
    hashed = content_hash(
        batch_df, config.computed_hash_column, config.computed_hash_ignore_columns
    ).observe(obs, F.count(F.lit(1)).alias("rows"))
    batch_config = replace(
        config, output_uri=f"{config.output_uri.rstrip('/')}/batch={batch_id}"
    )
    write_export(hashed, batch_config)
    rows = obs.get["rows"]
    if batch_config.emit_manifest:
        write_manifest(batch_config.output_uri, row_count=rows)
    stats.batches.append((batch_id, rows))
