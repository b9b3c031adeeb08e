"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; this file is the working instrument — guide §1).

Modes:
  --queries a,b,c     per-query timing via the noop sink (guide §1.4):
                      warm-up untimed, then best-of-N timed noop writes
  --plan name         print .explain("formatted") for a declared query
                      (after one warm-up so memoized exports exist)

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py;
--cpus defaults to the host CPU count). Per-stage numbers for the KG
pipeline come from ``perfbench/run.py --workload checkpoint --trace 1``.
"""

from __future__ import annotations

import argparse
import io
import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graphrag_spark.session import get_spark  # noqa: E402


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spark(cpus: int):
    spark = get_spark(
        app_name="graphrag-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_queries(
    sf_dir: str, cpus: int, names: list[str], timed_runs: int = 2, noop: bool = False
) -> dict:
    """Default consumption is count() — the FROZEN bench.py protocol —
    so numbers are comparable with the driver's. ``noop`` forces every
    column of every row (guide §1.4) but also executes orderBy tails
    that count() legally eliminates; use it for column-production
    isolation, not for driver-comparable numbers."""
    import __spark_entry__ as entrymod

    spark = _spark(cpus)
    sc = spark.sparkContext
    queries = entrymod.queries()
    consume = _noop if noop else (lambda df: df.count())
    out: dict[str, float] = {}
    for name in names:
        fn = queries[name] if name != "kg_hybrid_indexed" else entrymod.bench_hybrid_indexed
        sc.setJobDescription(f"warmup:{name}")
        consume(fn(spark, sf_dir))
        best = float("inf")
        for i in range(timed_runs):
            sc.setJobDescription(f"timed:{name}:{i}")
            t = time.time()
            consume(fn(spark, sf_dir))
            best = min(best, time.time() - t)
        sc.setJobDescription(None)
        out[name] = round(best, 3)
    return out


def dump_plan(sf_dir: str, cpus: int, name: str) -> str:
    import __spark_entry__ as entrymod

    spark = _spark(cpus)
    queries = entrymod.queries()
    fn = queries[name] if name != "kg_hybrid_indexed" else entrymod.bench_hybrid_indexed
    df = fn(spark, sf_dir)  # builds memoized exports on first call
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", type=str, default=None)
    ap.add_argument("--plan", type=str, default=None)
    ap.add_argument("--timed-runs", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1)))
    args = ap.parse_args()
    if args.queries:
        print(json.dumps(run_queries(args.sf_dir, args.cpus, args.queries.split(","), args.timed_runs, noop=args.noop)))
    elif args.plan:
        print(dump_plan(args.sf_dir, args.cpus, args.plan))


if __name__ == "__main__":
    main()
