"""Additional Catalyst-exercising query shapes (TPC-H q12/q14/q15/q17/
q19/q22 analogues adapted to the fixture schemas, plus pivot and
lag/lead windows).

These extend the analytics surface beyond SURVEY.md §2 with the plan
shapes a 100 TB deployment leans on: decorrelated scalar subqueries
(aggregate-then-broadcast-join instead of per-row subquery execution),
disjunctive predicate factoring, single-pass conditional aggregation,
pivot (one shuffle for all output columns), and ordered per-key
lag/lead frames.

Oracle-portability: same conventions as registry.py — DECIMAL
accumulation cast to DOUBLE once, epoch-ms BIGINT timestamps,
identical aliases both sides. Threshold comparisons against averages
are cross-multiplied (``5*qty*cnt < sum``) so they stay in exact
decimal arithmetic instead of comparing against a floating-point
average.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms
from pyspark_unload_to_gcs_spark.registry import _t, register

DEC = "decimal(18,2)"


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN (
        SELECT l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
               COUNT(*) AS cnt
        FROM lineitem
        GROUP BY l_partkey
    ) a ON a.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * a.cnt < a.sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated scalar subquery, explicitly
    decorrelated: ``l_quantity < 0.2 * (SELECT avg(l_quantity) WHERE
    same part)`` becomes aggregate-per-part THEN join back — one
    aggregation + one join instead of a per-row subquery. The
    threshold is cross-multiplied (``5*qty*cnt < sum``) so the compare
    stays in exact decimal. At 100 TB the per-part aggregate is tiny
    (|parts| rows) and broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    joined = li.join(F.broadcast(per_part), li.l_partkey == per_part.pk).filter(
        F.col("l_quantity").cast(DEC) * 5 * F.col("cnt") < F.col("sum_qty")
    )
    return joined.agg(
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped OR-of-conjunctions over a join. Catalyst
    extracts the common factors each side can evaluate alone
    (p_size <= 15 / brand set on part; quantity range on lineitem) and
    pushes them below the join, so both scans shrink before the
    disjunction is applied — the part side then broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    return joined.filter(cond).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q12_priority_by_linestatus",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped conditional aggregation: both priority classes
    counted in ONE pass with sum(CASE ...) — no second scan, no union
    of two filtered aggregates. The orders side projects only
    (orderkey, priority) before the join, so the shuffle carries two
    columns, not the whole row."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_count"),
        )
    )


@register(
    "q14_promo_revenue_ratio",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share: conditional numerator and
    unconditional denominator computed in the same aggregation (one
    scan, one broadcast join). Both sums accumulate in DECIMAL; the
    ratio is left to the consumer so the checked values stay exact."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    zero = F.lit(0).cast(DEC)
    return (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        FROM lineitem
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped argmax via scalar subquery: revenue per
    supplier, keep the row(s) equal to the global max. The max is a
    1-row aggregate broadcast into the filter (no single-partition
    global window, which would serialize at scale); equality compares
    exact DECIMALs so ties are exact, not fp-fuzzy."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_rev"))
    best = per_supp.agg(F.max("total_rev").alias("best_rev"))
    return (
        per_supp.join(F.broadcast(best), per_supp.total_rev == best.best_rev)
        .join(F.broadcast(s), s.s_suppkey == per_supp.l_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
    WITH stats AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total, COUNT(*) AS cnt
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c, stats
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * stats.cnt > stats.total
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average (positive)
    balance and no orders — scalar-subquery threshold (1-row aggregate
    broadcast) + anti join. The average compare is cross-multiplied
    (``bal*cnt > sum``) to stay exact-decimal."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    stats = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("total"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        c.join(F.broadcast(stats))
        .filter(F.col("c_acctbal").cast(DEC) * F.col("cnt") > F.col("total"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_acctbal")
    )


@register(
    "pivot_returnflag_status",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS f_count,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'F'), 0) AS DOUBLE) AS f_qty,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS o_count,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'O'), 0) AS DOUBLE) AS o_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per returnflag, one output column pair per
    linestatus value. Pivot values are listed EXPLICITLY — omitting
    them makes Spark run an extra distinct job to discover them, a full
    scan you don't want at 100 TB. One shuffle produces all columns."""
    li = _t(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("qty"),
        )
    )
    return wide.select(
        "l_returnflag",
        F.col("F_count").alias("f_count"),
        F.coalesce(F.col("F_qty"), F.lit(0).cast(DEC)).cast("double").alias("f_qty"),
        F.col("O_count").alias("o_count"),
        F.coalesce(F.col("O_qty"), F.lit(0).cast(DEC)).cast("double").alias("o_qty"),
    )


@register(
    "user_event_gaps",
    oracle="""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS prev_gap_ms,
           lead(epoch_ms(ts)) OVER w - epoch_ms(ts) AS next_gap_ms,
           row_number() OVER w AS seq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
    """,
)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offset windows: per-user inter-event gaps (the feature
    primitive for retention/cadence models). All three window functions
    share ONE window spec, so Catalyst plans a single shuffle on
    user_id and a single sort — not one per function. event_id
    tie-breaks equal timestamps so lag/lead are deterministic."""
    ev = _t(spark, sf_dir, "events")
    ts_ms = epoch_ms(ev, "ts")
    w = Window.partitionBy("user_id").orderBy(ts_ms.asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        ts_ms.alias("ts_ms"),
        (ts_ms - F.lag(ts_ms).over(w)).alias("prev_gap_ms"),
        (F.lead(ts_ms).over(w) - ts_ms).alias("next_gap_ms"),
        F.row_number().over(w).alias("seq"),
    )


@register(
    "document_chunks",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\s+') END AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, greatest(len(toks) - 1, 0), 16)) AS start
        FROM t
    )
    SELECT doc_id,
           start // 16 AS chunk_idx,
           start,
           CAST(greatest(least(32, len(toks) - start), 0) AS BIGINT) AS n_tokens,
           array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
    FROM s
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, stride 16)
    — the context-window-preparation primitive for LLM training data.
    Pure builtin split/sequence/explode/slice: narrow fan-out, no
    shuffle, no Python in the row path (operators/text.py
    ``chunk_documents``)."""
    from pyspark_unload_to_gcs_spark.operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), "text", chunk_size=32, stride=16
    )


# Direct per-event_type aggregation: the oracle of every incremental
# rollup (window merge here, the streaming fold replay in registry_pipeline).
_ROLLUP_SQL = """
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events
    GROUP BY event_type
    """


@register("incremental_rollup_merge", oracle=_ROLLUP_SQL)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py):
    the stream is split into two watermark windows, each partial-
    aggregated to per-key mergeable state (count / exact-decimal sum /
    min / max), and the states are merged. The oracle is a DIRECT
    aggregation over all rows — equality proves the merge is exact and
    associative, i.e. window boundaries and retries can't change
    results. At 100 TB each sync folds one batch into |keys| state
    rows instead of rescanning history."""
    from pyspark_unload_to_gcs_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_aggregate_states,
    )

    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-06-01 00:00:00").cast("timestamp")
    old_window = ev.filter(F.col("ts") < cutoff)
    new_window = ev.filter(F.col("ts") >= cutoff)
    keys = ["event_type"]
    merged = merge_aggregate_states(
        [aggregate_state(old_window, keys, "value"), aggregate_state(new_window, keys, "value")],
        keys,
    )
    return finalize_state(merged, keys)


@register(
    "value_percentiles_approx",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5)  AS p50,
           quantile_disc(value, 0.9)  AS p90,
           quantile_disc(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
)
def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch): the 100 TB
    replacement for exact per-group percentiles — mergeable map-side
    sketches, no per-group sort. Paired with the exact
    ``value_percentiles`` so both cost profiles are on the menu.

    Emitted as three SCALAR columns (r4 verdict #1: the previous single
    array<double> column crashed the driver's pandas canonicalizer).
    With accuracy=10000 > rows-per-group at oracle scale the sketch
    never compresses, so it returns the exact discrete quantile element
    and DuckDB's ``quantile_disc`` is a true value oracle (verified
    bit-equal at sf0.01: both engines pick the same raw parquet double,
    so the hash is safe per the registry's passthrough rule). At larger
    SFs the sketch is approximate by contract; the driver only oracles
    at sf0.01."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("p50"),
            F.percentile_approx("value", 0.9, 10000).alias("p90"),
            F.percentile_approx("value", 0.99, 10000).alias("p99"),
        )
    )


@register(
    "nations_with_customers_and_suppliers",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def nations_with_customers_and_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT (completes the set-op family next to the
    EXCEPT in registry.py): nation keys present on both sides — planned
    as a left-semi over distinct keys, so only distinct keys shuffle."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "pii_redaction",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 text || ' contact user' || doc_id || '@example.com or https://ex.com/p/'
                      || doc_id || ' tel +1 (555) 010-' || doc_id,
                 'https?://\S+', '<URL>', 'g'),
               '[\w.+-]+@[\w-]+\.[\w.-]+', '<EMAIL>', 'g'),
             '\+?\d[\d()\s-]{7,}\d', '<PHONE>', 'g') AS redacted
    FROM documents
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/text.py ``redact_pii``): URL/email/phone
    patterns to typed placeholders. The fixture text carries no PII, so
    the query APPENDS synthetic contact strings first — both engines
    then redact real matches, which pins the regex dialects to each
    other (RE2-compatible subset)."""
    from pyspark_unload_to_gcs_spark.operators.text import redact_pii

    df = _t(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or https://ex.com/p/"),
        F.col("doc_id"),
        F.lit(" tel +1 (555) 010-"),
        F.col("doc_id"),
    )
    return df.select("doc_id", redact_pii(salted).alias("redacted"))


@register(
    "repetition_stats",
    oracle=r"""
    SELECT doc_id, lang,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS n_distinct_tokens
    FROM documents
    """,
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals for the quality gate
    (duplicate-token share flags boilerplate/spam)."""
    from pyspark_unload_to_gcs_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents").select("doc_id", "lang", "text")).drop(
        "text"
    )


@register(
    "benchmark_contamination",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\s+') END AS t
        FROM documents
    ), grams AS (
        SELECT doc_id,
               CASE WHEN len(t) < 5 THEN []::VARCHAR[]
                    ELSE [array_to_string(t[i + 1 : i + 5], ' ')
                          FOR i IN generate_series(0, len(t) - 5)] END AS g
        FROM toks
    ), corpus AS (
        SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 20 != 0
        UNION ALL
        SELECT doc_id, NULL AS gram FROM grams WHERE doc_id % 20 != 0 AND len(g) = 0
    ), bench AS (
        SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 20 = 0
    )
    SELECT c.doc_id,
           COUNT(c.gram) AS n_grams,
           COUNT(b.gram) AS n_contaminated
    FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination primitive: word-5-gram overlap of every corpus
    document against a benchmark set (deterministic fixture split:
    doc_id % 20 == 0 plays the benchmark). The distinct benchmark gram
    set broadcasts; the corpus explodes narrowly and never shuffles
    rows — only the tiny per-doc counts aggregate."""
    from pyspark_unload_to_gcs_spark.operators.text import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return ngram_contamination(corpus, bench, n=5)


@register(
    "q7_nation_pair_revenue",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name IN ('NATION_18', 'NATION_19')
      AND n2.n_name IN ('NATION_18', 'NATION_19')
      AND n1.n_name != n2.n_name
    GROUP BY n1.n_name, n2.n_name, ship_year
    """,
)
def q7_nation_pair_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped 6-way join: shipping revenue between two nations
    by year, both directions. The classic disjunction ``(n1=A AND n2=B)
    OR (n1=B AND n2=A)`` is rewritten as ``n1 IN (A,B) AND n2 IN (A,B)
    AND n1 != n2`` so each membership test pushes into ITS dimension
    scan independently — the fact table only meets pre-filtered dims.
    nation and supplier broadcast (tiny); customer pre-joins its nation
    so only one wide shuffle (lineitem⋈orders) remains."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    pair = ["NATION_18", "NATION_19"]
    supp_dim = (
        s.join(
            F.broadcast(n.filter(F.col("n_name").isin(pair))),
            s.s_nationkey == n.n_nationkey,
        ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_dim = (
        c.join(
            F.broadcast(n.filter(F.col("n_name").isin(pair))),
            c.c_nationkey == n.n_nationkey,
        ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_dim), o.o_custkey == cust_dim.c_custkey)
        .join(F.broadcast(supp_dim), li.l_suppkey == supp_dim.s_suppkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
    ).agg(F.sum(rev).cast("double").alias("revenue"))


@register(
    "q10_returned_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(t.revenue AS DOUBLE) AS revenue
    FROM (
        SELECT o.o_custkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS revenue
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY o.o_custkey
    ) t
    JOIN customer c ON c.c_custkey = t.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: customers who returned the most revenue.
    Aggregate-then-join — lineitem('R') ⋈ orders rolls up to |customers|
    rows BEFORE touching the customer/nation dims, so the dims join a
    tiny frame and the top-k TakeOrderedAndProject sees pre-aggregated
    input. Tie-break on c_custkey keeps the LIMIT deterministic."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("__rev"))
    )
    return (
        per_cust.join(F.broadcast(c), c.c_custkey == per_cust.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .select(
            "c_custkey", "c_name", "n_name", F.col("__rev").cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q16_part_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand != 'Brand#1'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 4 = 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct supplier count per part attribute
    group, excluding a supplier blacklist (the fixture has no complaint
    strings, so a deterministic key predicate plays the blacklist).
    NOT IN becomes a broadcast LEFT ANTI join. No pre-``distinct``:
    count-distinct already dedups inside its partial aggregation, so a
    separate distinct would just add a full extra shuffle of the pairs
    — everything before the single aggregation exchange is narrow
    (broadcast anti + broadcast join over a two-column projection)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 4 == 0)
        .select("s_suppkey")
    )
    pairs = li.select("l_partkey", "l_suppkey").join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        pairs.join(F.broadcast(p), p.p_partkey == pairs.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q21_sole_returning_supplier",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    """,
)
def q21_sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped correlated EXISTS + NOT EXISTS with a non-equi
    component: in multi-supplier 'F' orders, the supplier who alone
    returned items. Both subqueries become self-joins on l_orderkey
    (equi, hash-joinable) carrying the ``suppkey !=`` inequality as an
    extra join condition — LEFT SEMI for EXISTS, LEFT ANTI for NOT
    EXISTS; l1 rows never duplicate. Supplier names broadcast in last."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").join(
        o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi"
    )
    others = li.select(F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("__sk"))
    l1 = l1.join(
        others,
        (l1.l_orderkey == others.__ok) & (l1.l_suppkey != others.__sk),
        "left_semi",
    )
    r_others = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("__rok"), F.col("l_suppkey").alias("__rsk"))
    )
    l1 = l1.join(
        r_others,
        (l1.l_orderkey == r_others.__rok) & (l1.l_suppkey != r_others.__rsk),
        "left_anti",
    )
    return (
        l1.join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "sequence_packing",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, doc_id % 8 AS shard,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        FROM documents
    ), pre AS (
        SELECT doc_id, shard, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS p
        FROM toks
    )
    SELECT doc_id, shard, CAST(p // 512 AS BIGINT) AS bin_id, n_tokens,
           CAST(p % 512 AS BIGINT) AS bin_offset
    FROM pre
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing (operators/text.py ``pack_documents``):
    documents laid end-to-end in deterministic id order within hash
    shards, binned by 512-token budgets via a per-shard running sum —
    embarrassingly parallel (bins never cross shards), no global
    ordering bottleneck."""
    from pyspark_unload_to_gcs_spark.operators.text import pack_documents

    return pack_documents(_t(spark, sf_dir, "documents"), token_budget=512, n_shards=8)


@register(
    "q8_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(SUM(CASE WHEN ns.n_name = 'NATION_19'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_revenue,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = nc.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY order_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: within ASIA-customer orders, one
    supplier nation's revenue share per year. Numerator and denominator
    come from the SAME conditional aggregation (one pass over the
    7-table join; the ratio stays with the consumer so checked values
    remain exact decimals). Every dimension broadcasts pre-filtered:
    the region predicate collapses customer-nation to the ASIA subset
    BEFORE the fact join, so non-ASIA orders drop at the earliest
    possible join, not in a post-filter."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    asia_nations = (
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
               n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("cust_nk"))
    )
    cust_asia = c.join(
        F.broadcast(asia_nations), c.c_nationkey == F.col("cust_nk")
    ).select("c_custkey")
    supp_dim = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    zero = F.lit(0).cast(DEC)
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_asia), o.o_custkey == F.col("c_custkey"), "inner")
        .join(F.broadcast(supp_dim), li.l_suppkey == F.col("s_suppkey"))
    )
    return joined.groupBy(
        F.year("o_orderdate").cast("bigint").alias("order_year")
    ).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_19", rev).otherwise(zero))
        .cast("double")
        .alias("nation_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT ns.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS amount,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, order_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-line profit rollup by supplier nation ×
    year (fixture has no partsupp, so amount = discounted revenue).
    The part LIKE-filter prunes the fact FIRST via a broadcast semi
    join on the filtered part keys — the big lineitem⋈orders shuffle
    then only carries widget lineitems."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    supp_dim = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    joined = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(supp_dim), li.l_suppkey == F.col("s_suppkey"))
    )
    return joined.groupBy(
        "nation", F.year("o_orderdate").cast("bigint").alias("order_year")
    ).agg(
        F.sum(rev).cast("double").alias("amount"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q2_min_price_supplier",
    oracle="""
    WITH mn AS (
        SELECT l_partkey, MIN(l_extendedprice) AS min_price
        FROM lineitem GROUP BY l_partkey
    )
    SELECT DISTINCT l.l_partkey, l.l_suppkey, l.l_extendedprice AS min_price
    FROM lineitem l
    JOIN mn ON mn.l_partkey = l.l_partkey AND l.l_extendedprice = mn.min_price
    """,
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped argmin retrieval: the supplier(s) charging the
    minimum price per part. The correlated ``= (SELECT MIN ...)``
    decorrelates into aggregate-then-join-back on (key, value) equality
    — the per-part minimum frame is |parts|-sized and broadcasts; ties
    (several suppliers at the min) all survive, deduped exactly.
    Price equality compares raw parquet doubles — bit-identical on
    both sides, no arithmetic applied."""
    li = _t(spark, sf_dir, "lineitem")
    mn = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        li.join(
            F.broadcast(mn),
            (li.l_partkey == mn.pk) & (li.l_extendedprice == mn.min_price),
        )
        .select("l_partkey", "l_suppkey", F.col("l_extendedprice").alias("min_price"))
        .distinct()
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
    FROM rev
    WHERE v * 500 > (SELECT SUM(v) FROM rev)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped HAVING against a global scalar subquery: parts
    whose revenue exceeds 0.2% of total revenue. The global total is a
    one-row aggregate broadcast into the per-part frame (no driver
    collect — the scalar stays in the plan); the fraction threshold is
    cross-multiplied (v*500 > total) so the comparison stays in exact
    decimal on both engines. The per-part aggregate is computed ONCE
    and feeds both the total and the filter."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("v")
    )
    total = rev.agg(F.sum("v").alias("t"))
    return (
        rev.join(F.broadcast(total))
        .filter(F.col("v") * 500 > F.col("t"))
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


@register(
    "incremental_topk_merge",
    oracle="""
    SELECT l_returnflag, rank, id, value FROM (
        SELECT l_returnflag,
               l_orderkey * 8 + l_linenumber AS id,
               l_extendedprice AS value,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice DESC, l_orderkey * 8 + l_linenumber DESC
               ) AS rank
        FROM lineitem
    ) WHERE rank <= 5
    """,
)
def incremental_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable TOP-K maintenance (operators/incremental.py): the
    stream splits into two shipdate windows, each reduced to a per-key
    O(k) top-k state, states merged, then finalized. The oracle ranks
    ALL rows directly — equality proves the bounded state loses nothing
    and the merge is associative. At 100 TB each sync folds one batch
    against |keys|×k state rows instead of re-ranking history."""
    from pyspark_unload_to_gcs_spark.operators.incremental import (
        finalize_topk,
        merge_topk_states,
        topk_state,
    )

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "row_id", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    keys = ["l_returnflag"]
    parts = [
        topk_state(li.filter(F.col("l_shipdate") < cutoff), keys, "l_extendedprice", "row_id", 5),
        topk_state(li.filter(F.col("l_shipdate") >= cutoff), keys, "l_extendedprice", "row_id", 5),
    ]
    merged = merge_topk_states(parts, keys, 5)
    return finalize_topk(merged, keys).select("l_returnflag", "rank", "id", "value")


@register(
    "q20_heavy_widget_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '%widget%'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 300
    )
    """,
)
def q20_heavy_widget_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped aggregate-gated semi join (fixture has no
    partsupp, so the availability predicate becomes a shipped-quantity
    threshold): suppliers who moved >300 units of some widget part.
    The IN-subquery plans as part-filter -> per-(supplier, part)
    aggregate -> threshold -> LEFT SEMI into supplier — the aggregate
    gate runs FIRST so the semi join probes a tiny key set; the part
    filter reaches lineitem through a broadcast semi join before any
    aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    gated = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
    )
    return s.join(gated, s.s_suppkey == F.col("l_suppkey"), "left_semi").select(
        "s_suppkey", "s_name"
    )


@register(
    "winsorized_value_stats",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS lo,
               quantile_cont(value, 0.99) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
           MIN(greatest(least(e.value, b.hi), b.lo)) AS min_clipped,
           MAX(greatest(least(e.value, b.hi), b.lo)) AS max_clipped
    FROM events e JOIN b ON b.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping — the standard numeric-feature
    outlier treatment): per-group exact p01/p99 bounds computed once
    (|groups| rows, broadcast back), values clamped, clip counts and
    clipped extrema reported. Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the linear-interpolation definition, and
    min/max of clamped values avoid any float-accumulation ordering —
    every output is an exact pick or an integer count."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.percentile("value", 0.01).alias("lo"),
        F.percentile("value", 0.99).alias("hi"),
    )
    clipped = F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo"))
    return (
        ev.join(F.broadcast(bounds), ev.event_type == F.col("et"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias("n_clipped_low"),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias("n_clipped_high"),
            F.min(clipped).alias("min_clipped"),
            F.max(clipped).alias("max_clipped"),
        )
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped priority check (reference tables carry no
    commit/receipt dates, so the EXISTS predicate is "a line item
    shipped after the order date" — same decorrelation shape): an
    EXISTS subquery planned as a LEFT SEMI join on the order key with
    the extra non-equi predicate evaluated inside the join, then one
    hash aggregate on priority. The semi join keeps one probe hit per
    order (no fan-out, no distinct), and the date filter prunes the
    orders scan before the join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    windowed = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    matched = windowed.join(
        li,
        (li.l_orderkey == windowed.o_orderkey) & (li.l_shipdate > windowed.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: the classic 6-way join
    where the supplier must share the customer's nation (the extra
    equality rides the supplier join). Join order follows size:
    lineitem (big, probe side) against broadcast dims; region/nation/
    supplier/customer all broadcast at any realistic SF, so the only
    shuffle is the final n_name aggregate — revenue accumulates in
    exact DECIMAL then casts to DOUBLE once."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(F.sum(rev).cast("double").alias("revenue"))
