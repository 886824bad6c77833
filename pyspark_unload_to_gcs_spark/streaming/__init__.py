"""Structured Streaming facade (SURVEY.md §2j mapping).

The reference is pure batch; its "streaming" is an external orchestrator
re-running the job with advancing ``time_cutoff_ms`` watermarks
(reference export.py:131-158, 296-300, 333-337). This package is the
native-Spark replacement for that loop: ``readStream`` file sources,
event-time watermarks instead of the ``--delay_ms`` late-arrival guard,
windowed/stateful operators, and ``foreachBatch`` folds — the export
fold reuses the batch writers, so each micro-batch lands exactly like
one orchestrated incremental export.

Every fold runs through ``rollup.start_fold`` (foreachBatch,
``availableNow``), and every versioned-state fold commits
``v=<batch_id>`` through ``rollup.write_state`` and reads it back
through ``rollup.read_state``, gated on the one lister
``storage.committed_dirs``.
"""
