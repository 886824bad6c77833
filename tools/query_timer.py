"""Per-query timing harness for optimization work: runs named queries
N times each against the noop sink (guide §1.4) and reports min/median,
plus a noop floor per rep block. Min-over-reps is robust to the host
steal bursts that make single-pass bench numbers swing 5-15x per row
(measured r15-opt: json_props_extract 0.67 vs 10.85 s same code,
same sitting class).

    python tools/query_timer.py [--reps 3] [--sf DIR] name [name ...]
    python tools/query_timer.py --top 30          # slowest from BENCH_LOCAL
    python tools/query_timer.py --all             # every registered query

Builds the same session fixtures bench.py warms (``registry.fixtures()``)
so first-execution family costs are not billed to the row under study.
Output: one JSON line per query on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_unload_to_gcs_spark import registry  # noqa: E402
from pyspark_unload_to_gcs_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    # explicit names combined with a selector flag used to be silently
    # discarded by the elif chain below (ADVICE r15) — reject instead
    if args.names and (args.top or args.all):
        ap.error("pass explicit query names OR --top/--all, not both")
    if args.top and args.all:
        ap.error("--top and --all are mutually exclusive")

    spark = get_spark(
        app_name="query-timer",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    for fixture, build in registry.fixtures():
        try:
            build(spark, args.sf)
        except Exception as exc:  # noqa: BLE001
            print(f"warmup {fixture}: {exc}", file=sys.stderr)

    qs = registry.queries()
    names = list(args.names)
    if args.all:
        names = list(qs)
    elif args.top:
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_LOCAL.json")) as f:
            bl = json.load(f)["queries"]
        names = [k for k, _ in sorted(bl.items(), key=lambda x: -x[1])[: args.top]]
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        sys.exit(2)

    for name in names:
        fn = qs[name]
        times = []
        err = None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            try:
                spark.sparkContext.setJobDescription(f"timer:{name}")
                materialize(fn(spark, args.sf))
            except Exception as exc:  # noqa: BLE001
                err = f"{type(exc).__name__}: {exc}"
                break
            finally:
                spark.sparkContext.setJobDescription(None)
            times.append(round(time.perf_counter() - t0, 3))
        rec = {"q": name, "reps": times}
        if times:
            rec["min"] = min(times)
            rec["med"] = sorted(times)[len(times) // 2]
        if err:
            rec["err"] = err
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
