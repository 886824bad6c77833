"""Empirical scale audit: does every registered query scale ~linearly?

Builds a synthetic sf1-scale dataset (default 10x sf0.1) by replicating
the driver fixtures with coherent key shifts, runs every registered
query on it, and compares per-query wall time against the recorded
sf0.1 numbers (BENCH_LOCAL.json). A query whose time grows much faster
than the data multiplier has a super-linear plan (pair amplification,
driver collect, broadcast flip) — exactly the class of bug that is
invisible at fixture scale and fatal at 100 TB.

Replication is NOT naive row copying:

- Every key column is shifted by ``replica * KEY_OFFSET`` consistently
  across tables, so join fan-outs and group cardinalities scale the way
  a real 10x corpus would (10x orders, 10x customers, same orders-per-
  customer), instead of multiplying join matches.
- ``documents.text`` is decorrelated across replicas (tokens reordered
  by a replica-seeded hash; replica 0 pristine): otherwise every doc
  has 9 identical twins and near-dup candidate PAIRS grow ~45x rather
  than the ~10x a real corpus growth produces — we'd be auditing the
  synthetic artifact, not the operator.
- ``embeddings.embedding`` is rotated by ``replica`` positions (norm-
  preserving; rotated random vectors are ~orthogonal to the originals)
  for the same reason.

Usage:
    python tools/scale_audit.py [--multiplier 10] [--base /root/testdata/sf0.1]
                                [--out /tmp/scale_sf1] [--queries name1,name2]

Writes a markdown report to stdout and a JSON map to
``<out>/scale_audit.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from pyspark_unload_to_gcs_spark import registry  # noqa: E402
from pyspark_unload_to_gcs_spark.session import get_spark  # noqa: E402
from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet  # noqa: E402

KEY_OFFSET = 10_000_000

# key columns shifted per replica, per table (foreign keys shift with
# their referenced table so join selectivity is replica-local)
KEY_COLUMNS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_TABLES = ("region", "nation")  # dims stay fixed, as at real scale


def _decorrelate_text(df: DataFrame, replica: int) -> DataFrame:
    """Suffix every token with the replica id (replica 0 pristine).

    Shingle identity is a pure function of token content, so a constant
    per-replica suffix preserves the within-replica similarity
    structure EXACTLY (pair Jaccard unchanged) while making replica
    vocabularies disjoint — candidate pairs grow linearly (10 disjoint
    sub-corpora), and the audit measures the ENGINE's scaling.

    (First attempt was a replica-seeded token SORT; that made every doc
    in a replica a subsequence of one global token order, inflating
    shared shingles ~40x — max r=1 bucket 23 -> 13,366. The shared-
    vocabulary regime, where bucket sizes grow with the corpus and
    r=1/r=2 candidate mass grows quadratically, is real but must be
    reasoned about analytically — see SCALE_AUDIT.md — not conflated
    with an audit-data artifact.)"""
    if replica == 0:
        return df
    # alphanumeric so the suffix survives the dedup/text normalizers
    # (which map non-letter/number chars to spaces) as part of the SAME
    # token rather than splitting into a shared extra token
    tag = F.lit(f"zq{replica}")
    tagged = F.concat_ws(
        " ", F.transform(F.split(F.col("text"), " "), lambda t: F.concat(t, tag))
    )
    return df.withColumn("text", tagged)


def _decorrelate_embedding(df: DataFrame, replica: int) -> DataFrame:
    """Rotate the vector — norm-preserving and ~orthogonal to the
    original for random vectors (replica 0 pristine). The rotation is
    ``(replica - 1) % (dim - 1) + 1`` positions, computed against the
    actual array size: always in [1, dim-1], so no replica ever
    degenerates to an identity rotation (replica == dim would
    otherwise silently reproduce replica 0's vectors — the exact twin
    artifact this function exists to kill) and multipliers beyond the
    embedding dim remain valid."""
    if replica == 0:
        return df
    emb = F.col("embedding")
    rot = (F.lit(replica - 1) % (F.size(emb) - 1)) + 1
    rotated = F.concat(F.slice(emb, rot + 1, F.size(emb) - rot), F.slice(emb, 1, rot))
    return df.withColumn("embedding", rotated.cast("array<float>"))


def build_scaled(spark: SparkSession, base: str, out: str, multiplier: int) -> None:
    os.makedirs(out, exist_ok=True)
    # Manifest gate: an existing output dir is only reusable if it was
    # built from the SAME (base, multiplier) AND finished — otherwise a
    # crashed or re-parameterized build would be silently audited as if
    # it were complete, corrupting every downstream ratio.
    manifest_path = os.path.join(out, "build_manifest.json")
    wanted = {"base": os.path.abspath(base), "multiplier": multiplier}
    if os.path.exists(manifest_path):
        have = json.load(open(manifest_path))
        if have != wanted:
            raise SystemExit(
                f"scale_audit: {out} was built with {have}, requested {wanted} — "
                "pass a fresh --out (or delete the old one) instead of mixing scales."
            )
    for t in COPY_TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(base, f"{t}.parquet"), dst)
    for t, keys in KEY_COLUMNS.items():
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst) and os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        shutil.rmtree(dst, ignore_errors=True)  # partial write from a crash
        src = load_parquet(spark, os.path.join(base, f"{t}.parquet"))
        parts = []
        for r in range(multiplier):
            rep = src
            for k in keys:
                rep = rep.withColumn(k, (F.col(k).cast("long") + F.lit(r * KEY_OFFSET)).alias(k))
            if t == "documents":
                rep = _decorrelate_text(rep, r)
            if t == "embeddings":
                rep = _decorrelate_embedding(rep, r)
            parts.append(rep)
        scaled = parts[0]
        for p in parts[1:]:
            scaled = scaled.unionByName(p)
        # realistic multi-file layout so scans parallelize like a real table
        scaled.repartition(32).write.mode("overwrite").parquet(dst)
        print(f"built {t}: {multiplier}x", file=sys.stderr)
    with open(manifest_path, "w") as f:
        json.dump(wanted, f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--multiplier", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/scale_sf1")
    ap.add_argument("--queries", default="", help="comma list; default all")
    ap.add_argument("--baseline", default="BENCH_LOCAL.json")
    args = ap.parse_args()

    spark = get_spark(
        app_name="scale-audit", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark, args.base, args.out, args.multiplier)

    # same fixture warmups as bench.py (registry.fixtures()): the
    # one-time shared builds are layout/session costs, not query costs,
    # and BENCH_LOCAL's per-query baseline excludes them too — without
    # them the first consumer absorbs a cold build and reads as a fake
    # superlinear ratio against the warmed base
    t0 = time.perf_counter()
    for _name, build in registry.fixtures():
        build(spark, args.out)
    print(f"warmup (session fixtures): "
          f"{round(time.perf_counter() - t0, 1)}s", file=sys.stderr)

    base_times = {}
    if os.path.exists(args.baseline):
        base_times = json.load(open(args.baseline)).get("queries", {})

    qs = dict(registry.queries())
    # audit-only variants: production configurations whose registered
    # twin pins a different (oracle-replayable) backend. The arrow
    # auto-k SemDeDup is the configuration that actually ships at scale
    # (VERDICT r05 #7); its output must equal the fold path's.
    from pyspark_unload_to_gcs_spark.registry_pins import (
        semantic_dedup_auto_with_method,
    )

    qs["semantic_dedup_auto_arrow"] = lambda s, d: semantic_dedup_auto_with_method(
        s, d, assign_method="arrow"
    )
    # staged queries are next round's window — audit them BEFORE they
    # go live so a scale problem surfaces a round early
    from pyspark_unload_to_gcs_spark import registry_staged

    for _name, _fn in registry_staged.staged_queries().items():
        qs.setdefault(_name, _fn)
    names = list(qs) if not args.queries else args.queries.split(",")
    # resumable: merge into any existing audit JSON and skip names
    # already timed, so the (long) full audit can run in chunks
    results: dict[str, dict] = {}
    audit_path = os.path.join(args.out, "scale_audit.json")
    if os.path.exists(audit_path):
        results = json.load(open(audit_path))
    names = [n for n in names if "sec" not in results.get(n, {})]
    for i, name in enumerate(names):
        if i % 15 == 0 and i > 0:
            spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        try:
            qs[name](spark, args.out).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            b = base_times.get(name)
            ratio = round(dt / b, 2) if b else None
            results[name] = {"sec": dt, "base_sec": b, "ratio": ratio}
            print(f"{name}: {dt}s (x{ratio})", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            results[name] = {"error": f"{type(exc).__name__}: {exc}"}
            print(f"{name}: ERROR {exc}", file=sys.stderr)
        with open(audit_path, "w") as f:  # checkpoint per query
            json.dump(results, f, indent=1)

    with open(audit_path, "w") as f:
        json.dump(results, f, indent=1)

    timed = {k: v for k, v in results.items() if "sec" in v}
    total = round(sum(v["sec"] for v in timed.values()), 1)
    base_total = round(
        sum(v["base_sec"] for v in timed.values() if v.get("base_sec")), 1
    )
    flagged = {
        k: v
        for k, v in timed.items()
        if v.get("ratio") and v["ratio"] > args.multiplier * 1.5 and v["sec"] > 2.0
    }
    errs = {k: v for k, v in results.items() if "error" in v}
    print(f"## Scale audit: {args.multiplier}x {args.base}")
    print(f"total {total}s vs base {base_total}s "
          f"=> overall ratio x{round(total / base_total, 2) if base_total else '?'} "
          f"(data x{args.multiplier})")
    print(f"queries timed: {len(timed)}, errors: {len(errs)}, "
          f"superlinear (> x{args.multiplier * 1.5} and > 2s): {len(flagged)}")
    for k, v in sorted(flagged.items(), key=lambda kv: -kv[1]["ratio"]):
        print(f"  FLAG {k}: {v['sec']}s vs {v['base_sec']}s (x{v['ratio']})")
    for k, v in errs.items():
        print(f"  ERROR {k}: {v['error'][:200]}")


if __name__ == "__main__":
    main()
