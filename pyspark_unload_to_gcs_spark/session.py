"""SparkSession factory tuned for this engine.

Defaults chosen for 100 TB posture (AQE on, skew-join handling,
sensible shuffle partitioning) while remaining correct on local[N]
test runs. Everything here is plain public Spark configuration.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

T = TypeVar("T")


def session_memo(
    spark: SparkSession, key: Hashable, build: Callable[[], T] | None
) -> T:
    """Return the value memoized under ``key`` for this session, calling
    ``build()`` on the first request.

    Entries live in a dict on the ``SparkSession`` Python object itself,
    so each session (``newSession()`` siblings included) has its own
    entries, a new session object never sees a dead one's, and the
    entries become unreachable with the session. ``build`` may itself
    call ``session_memo``; a ``build`` that raises stores nothing.
    ``session_memo(spark, key, None)`` drops the entry instead."""
    memo = spark.__dict__.setdefault("_pyspark_gcs_memo", {})
    if build is None:
        return memo.pop(key, None)
    if key not in memo:
        memo[key] = build()
    return memo[key]


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """Return a new, empty local directory named ``<prefix>...`` under
    this session's scratch root: the one place in the package that
    creates a temporary directory (fixture tables, replay state, stream
    checkpoints and outputs, export round-trips).

    Lifetime rule: the root is made on a session's first call (under
    ``TMPDIR``, memoized through ``session_memo``) and removed with
    everything in it when the ``SparkSession`` object is collected, or
    at interpreter exit, whichever comes first. A frame that reads a
    scratch directory holds its session, so the files outlive every
    frame that can read them; a ``newSession()`` sibling gets its own
    root, which goes away with the sibling."""

    def make_root() -> str:
        root = tempfile.mkdtemp(prefix="pyspark_gcs_scratch_")
        weakref.finalize(spark, shutil.rmtree, root, True)
        return root

    root = session_memo(spark, "scratch_root", make_root)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def barrier(df: DataFrame, *, eager: bool) -> DataFrame:
    """Materialize ``df`` once and return a frame that reads the result
    back with its lineage cut. The one place in the package that calls
    Spark's materialization API; a frame goes through it when several
    plan branches (or several actions) read it, when an iterative loop
    must stop its plan from growing, or when staged projections must
    not be refolded by the optimizer.

    Policy: ``df.localCheckpoint(eager)``. When the SparkContext has a
    checkpoint directory (``spark.checkpoint.dir``, e.g. through
    ``get_spark(extra_conf=)``), ``df.checkpoint()`` writes the blocks
    there instead. That reliable branch is always eager, whatever
    ``eager`` says: a lazy reliable checkpoint writes its files in a
    second job after the first action, which computes the frame twice.
    So with a checkpoint directory, building a frame that passes a lazy
    barrier runs one job.

    Posture: local blocks live on the executor that computed them, so
    when that executor is lost the query fails instead of recomputing
    (set a checkpoint directory where that must be survived). Blocks
    are freed when the returned frame becomes unreachable (Spark's
    ContextCleaner; reliable files too when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on), so no
    caller keeps unpersist bookkeeping. ``persist()`` is never used: a
    persisted frame stays in the session-shared CacheManager until an
    explicit ``unpersist()`` that a lazily returned frame cannot issue,
    so it outlives its SparkSession, and a cached plan keeps the static
    shuffle partition count instead of the AQE-coalesced one.

    ``eager=True`` runs the job now; ``eager=False`` defers it to the
    first action on a frame built from the result, so building a query
    (plan screens, ``--explain``) runs nothing."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def get_spark(
    app_name: str = "pyspark-unload-to-gcs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    - AQE enabled: runtime partition coalescing + skew-join splitting,
      which is the scale story for skewed group/join keys.
    - UTC session timezone: watermark arithmetic is epoch-ms based and
      must not depend on the host timezone.
    - Arrow enabled: fast pandas interchange for the Pandas-UDF
      extension operators.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local[N] runs the whole engine in the driver JVM; 16g (on a
        # 128 GiB bench box, env-overridable for small hosts) gives the
        # 200+-query loop headroom for family fixtures and broadcast
        # blocks without old-gen churn. Heap size does not explain
        # same-code bench spread (that is host CPU steal).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
