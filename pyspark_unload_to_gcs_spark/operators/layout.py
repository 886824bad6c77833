"""Multi-dimensional data-layout operators: Z-order (Morton) clustering
for min/max data skipping — SURVEY.md §7 milestone 5 (100 TB posture).

A single-column sort gives perfect file-level min/max pruning on that
column and none on any other. Interleaving the bits of two (or more)
dimension keys into one Morton key and sorting/range-partitioning by it
gives every file a small bounding BOX over all interleaved dimensions:
a predicate on ANY of them prunes most files. This is the layout trick
behind Delta/Iceberg `OPTIMIZE ZORDER BY` — implemented here as plain
column expressions (shift/mask/multiply — all inside whole-stage
codegen, no UDF), so it composes with any writer.

At 100 TB the flow is: ``zorder_key`` -> ``repartitionByRange`` on the
key -> ``sortWithinPartitions`` -> partitioned parquet write; each
output file then covers a tight rectangle of the key space and the
parquet footer min/max of the dimension columns do the pruning. The
``zorder_file_stats`` helper quantifies that tightness (per-file
bounding boxes), and the ``zorder_layout`` registry query value-checks
the whole bit arithmetic against DuckDB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.pick import content_order


def interleave_bits(columns: Sequence[Column], *, bits: int = 16) -> Column:
    """Morton/Z-order key of N non-negative integer columns: bit i of
    column j lands at position ``i*N + j`` (column 0 owns the lowest
    offset of each group). Requires ``bits * N <= 63`` so the result
    fits a BIGINT exactly.

    This is the ONE bit-interleave in the engine: the quantizing writer
    (``sinks/writers.py::zorder_key``) and the raw-integer layout ops
    here both call it, so their key spaces agree. Built as a linear sum
    of shift/mask terms — each bit contributes one
    ``((x >> i) & 1) * 2^p`` expression, all JVM-side builtins inside
    codegen. (A lookup-table / byte-LUT approach is the classic native
    speedup; at expression level Catalyst constant-folds the masks and
    the scan stays I/O-bound.)
    """
    cols = list(columns)
    n = len(cols)
    if n < 2:
        raise ValueError("interleave_bits needs at least two columns")
    if not 1 <= bits or bits * n > 63:
        raise ValueError(f"bits must satisfy 1 <= bits and bits*{n} <= 63, got {bits}")
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            terms.append(
                F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)) * F.lit(1 << (i * n + j))
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_key(df: DataFrame, columns: list[str], *, bits: int = 16) -> Column:
    """Z-order key over two integer dimension columns (the common case;
    ``interleave_bits`` takes N). Callers must pre-map dimensions to
    non-negative ints (bucketize floats, dictionary-encode strings);
    ``sinks/writers.py::zorder_key`` is the variant that quantizes
    arbitrary numeric columns first."""
    if len(columns) != 2:
        raise ValueError("zorder_key interleaves exactly two columns")
    return interleave_bits([F.col(columns[0]), F.col(columns[1])], bits=bits)


def zorder_layout(
    df: DataFrame,
    columns: list[str],
    *,
    bits: int = 16,
    key_column: str = "z_key",
    target_partitions: int | None = None,
) -> DataFrame:
    """Cluster ``df`` for multi-dimensional skipping: add the Morton key,
    range-partition by it and sort within partitions — each output
    partition (== parquet file on write) then covers a tight rectangle
    of the dimension space. This is the physical-layout op; feed its
    output straight to a writer."""
    keyed = df.withColumn(key_column, zorder_key(df, columns, bits=bits))
    n = target_partitions or keyed.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return keyed.repartitionByRange(int(n), F.col(key_column)).sortWithinPartitions(key_column)


def zorder_file_stats(
    df: DataFrame,
    columns: list[str],
    *,
    bits: int = 16,
    files: int = 16,
) -> DataFrame:
    """Deterministic model of the post-layout file population: rows are
    assigned to ``files`` equal Z-RANGE slices (file_id = z >> k, the
    arithmetic stand-in for repartitionByRange whose sampled boundaries
    are not replayable cross-engine) and each file reports its bounding
    box over both dimensions. Tight boxes == effective min/max pruning;
    compare against a naive single-column sort to see the win. Fully
    deterministic -> carries a cross-engine value oracle."""
    if files < 1 or (files & (files - 1)) != 0:
        raise ValueError("files must be a power of two (z-range slicing)")
    shift = 2 * bits - (files.bit_length() - 1)
    z = zorder_key(df, columns, bits=bits)
    a, b = columns
    return (
        df.withColumn("__z", z)
        .withColumn("file_id", F.shiftright(F.col("__z"), shift))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(a).alias(f"min_{a}"),
            F.max(a).alias(f"max_{a}"),
            F.min(b).alias(f"min_{b}"),
            F.max(b).alias(f"max_{b}"),
        )
    )


# ---------------------------------------------------------------------------
# balanced training-shard assignment (export-stage bin packing)
# ---------------------------------------------------------------------------


def balanced_shards(
    df: DataFrame,
    *,
    n_shards: int,
    weight_column: str = "n_tokens",
    id_column: str = "doc_id",
    salt_buckets: int = 64,
    salt_method: str = "xxhash64",
) -> DataFrame:
    """Assign every row a ``shard`` in [0, n_shards) so per-shard
    ``weight_column`` sums come out near-balanced — the export step
    that turns a curated corpus into fixed-count training shards whose
    sizes a data loader can prefetch uniformly.

    True LPT bin packing is inherently sequential; the scalable
    deterministic stand-in is STRIPED round-robin within weight-
    magnitude buckets:

    1. bucket ``__b = floor(log2(max(weight, 1)))`` — weights inside a
       bucket are within 2x of each other, so count-balanced implies
       sum-balanced to a 2x-per-bucket factor; ~40 buckets cover the
       BIGINT range;
    2. sub-stratify each bucket by a hash salt ``__s`` (``pmod(
       xxhash64(id), salt_buckets)``) so the windows below stay
       parallel even when one magnitude class holds most of the corpus
       (a window keyed by a low-cardinality column alone collapses
       to few partitions, as in ``token_budget_select``);
    3. ``row_number`` within (bucket, salt) ordered by id — then, so
       duplicate ids with differing payloads cannot be left to shuffle
       order, by the weight and ``pick.content_order`` over every
       remaining column (orderable columns directly, map-typed ones
       via ``xxhash64(to_json)``) — offset by the cumulative count
       of all PRECEDING (bucket, salt) groups — a tiny groups frame,
       broadcast back — and take ``% n_shards``. Striping continues
       across group boundaries instead of restarting at shard 0, so
       per-shard COUNTS differ by at most 1 per group and the whole
       assignment replays exactly in SQL when ``id_column`` is unique
       (deterministic in (id, weight); with duplicate ids it is
       deterministic in full row content, and an engine-portable
       replay additionally needs the xxhash64 tie-break only for rows
       whose (id, weight, orderable columns) fully collide).

    Weights must be non-negative (token counts); weight 0/NULL rows
    land in bucket 0 and cost nothing. Output: the input rows plus
    ``shard`` (INT). Balance quality: per-shard sums differ by at most
    one max-weight per (bucket, salt) group — measure with
    ``shard_load_stats`` and raise ``salt_buckets`` if the corpus is
    tiny relative to the group grid.

    ``salt_method``: "xxhash64" (production — fastest JVM hash) or
    "md5" (first 32 bits of md5, base-16-parsed — the classifier
    hashing-trick arithmetic, bit-replayable in DuckDB/Python, which
    is what puts the whole assignment under a cross-engine value
    oracle; same bloom_prune precedent of a production arm + an
    oracle arm over one shared plan)."""
    if not isinstance(n_shards, int) or n_shards < 1:
        raise ValueError(
            f"balanced_shards: n_shards={n_shards!r} must be an int >= 1"
        )
    if not isinstance(salt_buckets, int) or salt_buckets < 1:
        raise ValueError(
            f"balanced_shards: salt_buckets={salt_buckets!r} must be an "
            "int >= 1"
        )
    w = F.coalesce(F.col(weight_column).cast("long"), F.lit(0))
    # EXACT bucket = bit_length - 1 via the binary string: a float
    # log2 misclassifies power-of-two boundaries (floor(log2(2^48-1))
    # evaluates to 48, not 47), which would both break
    # the within-2x bucket invariant and diverge from integer-exact
    # replays
    b = (
        F.length(F.conv(F.greatest(w, F.lit(1)), 10, 2)) - F.lit(1)
    ).cast("int")
    if salt_method == "xxhash64":
        s = F.pmod(F.xxhash64(F.col(id_column)), F.lit(salt_buckets)).cast(
            "int"
        )
    elif salt_method == "md5":
        s = (
            F.conv(
                F.substring(F.md5(F.col(id_column).cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % salt_buckets
        ).cast("int")
    else:
        raise ValueError(
            f"balanced_shards: salt_method={salt_method!r} must be "
            "'xxhash64' or 'md5'"
        )
    rows = df.withColumn("__b", b).withColumn("__s", s)
    groups = (
        rows.groupBy("__b", "__s")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .withColumn(
            "__offset",
            F.sum("__n")
            .over(Window.orderBy(F.col("__b").asc(), F.col("__s").asc()))
            .cast("long")
            - F.col("__n"),
        )
        .select("__b", "__s", "__offset")
    )
    wn = Window.partitionBy("__b", "__s").orderBy(
        F.col(id_column).asc(), w.asc(), *content_order(df, [id_column])
    )
    return (
        rows.join(F.broadcast(groups), ["__b", "__s"])
        .withColumn(
            "shard",
            F.pmod(
                F.col("__offset") + F.row_number().over(wn) - 1,
                F.lit(n_shards),
            ).cast("int"),
        )
        .drop("__b", "__s", "__offset")
    )


def shard_load_stats(
    df: DataFrame,
    *,
    shard_column: str = "shard",
    weight_column: str = "n_tokens",
) -> DataFrame:
    """One row per shard: row count and weight sum, plus the global
    max/min shard-sum ratio replicated on every row (ppm, BIGINT — the
    balance figure a pipeline asserts on before shipping shards)."""
    per = df.groupBy(shard_column).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.coalesce(F.col(weight_column), F.lit(0)))
        .cast("long")
        .alias("weight_sum"),
    )
    stats = per.agg(
        F.max("weight_sum").alias("__mx"), F.min("weight_sum").alias("__mn")
    )
    return per.crossJoin(F.broadcast(stats)).select(
        shard_column,
        "n_rows",
        "weight_sum",
        # DECIMAL(38,0) before the x1e6: a BIGINT product overflows
        # once a shard holds ~9.2e12 weight — ANSI crash, or a silent
        # negative ppm that passes balance gates. DIV,
        # not /-then-cast: exact integer floor division is the one
        # quotient every engine agrees on bit-for-bit (decimal true
        # division rounds HALF_UP at an engine-chosen scale before the
        # long cast truncates — a cross-engine coin flip at .999999+
        # fractions)
        F.expr(
            "CAST((CAST(__mx AS DECIMAL(38,0)) * 1000000) "
            "DIV GREATEST(__mn, 1) AS BIGINT)"
        ).alias("imbalance_ppm"),
    )
