"""Stage-timed scaling profile: where does the non-scaling time live?

Builds the KG stage list (``pipeline.STAGES``) the way ``run_in_memory``
does, forcing each stage in turn, at local[8] then local[2], and prints
per-stage 2-core/8-core wall ratios (ideal = 4.0). The extra forcing
actions inflate the total vs the real pipeline — the per-stage RATIO is
the signal, not the sum.

This is the instrument that found the round-5 scaling artifact bug. Its
findings, measured on a 32-core box over an earlier phase split:
the Python-worker stages (chunk, embed, extract) scaled ~linearly
(ratio 3.5-4.3), the allocation-heavy JVM join/shuffle stages did not
(1.8-2.2), because local[N] caps only the TASK SLOTS — the JVM's
GC/JIT/shuffle threads run on all physical cores, handing the 2-core
side every core's GC for free. A real 2-executor cluster gets no such
gift, which is why bench.py's --scaling mode pins each measurement's
process tree to exactly N CPUs (run this profile with PROFILE_PIN=1 to
reproduce the pinned view: the JVM stages' ratios moved to ~2.9-3.1).
The residual non-scaling time was SPREAD — ~2-4 s per stage of
stage-scheduling / broadcast-build / AQE-planning overhead — so
shaving the Amdahl constant means FEWER STAGES, not a faster stage.

Usage:
    PYTHONPATH=/root/repo [PROFILE_AMPLIFY=48] [PROFILE_PIN=1] \
        python tools/profile_scaling.py
(PYTHONPATH must reach the repo root or pyspark workers cannot import
graphrag_spark when invoked from another cwd.)

Note: with PROFILE_PIN=1 both parallelism levels run in fresh pinned
subprocesses (one JVM per level) — in-process affinity changes never
reach an already-running JVM.
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AMPLIFY = int(os.environ.get("PROFILE_AMPLIFY", "48"))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PIN = os.environ.get("PROFILE_PIN", "0") == "1"


def run(cpus: int) -> dict:
    import pyspark.sql.functions as F

    from graphrag_spark import pipeline
    from graphrag_spark.corpus import spans_from_flat
    from graphrag_spark.session import get_spark

    def calibrate(spark):
        t = time.time()
        spark.range(20_000_000).select(
            F.sum(F.xxhash64("id").bitwiseAND(F.lit(0xFFFF)))
        ).collect()
        return round(time.time() - t, 3)

    spark = get_spark(
        app_name=f"profile-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    times: dict[str, float] = {}
    times["calib_before"] = calibrate(spark)

    flat = spark.read.parquet(f"{SF}/documents.parquet")
    n = flat.count()
    if AMPLIFY > 1:
        flat = flat.crossJoin(spark.range(AMPLIFY).select(F.col("id").alias("rep"))).select(
            (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    docs = spans_from_flat(flat).persist()
    docs.count()

    # each stage of the shared stage list, built and forced in order:
    # a stage's time includes the driver-side inputs its build derives
    # (surface map collect, canonical-map count and composition)
    kg = pipeline.KGRun(spark, docs)
    for stage in pipeline.STAGES:
        t0 = time.time()
        rows = kg.build(stage).count()
        times[stage.name] = round(time.time() - t0, 2)
    times["calib_after"] = calibrate(spark)
    times["n_triples"] = rows  # triples is the last stage
    spark.stop()
    return times


def run_pinned(cpus: int) -> dict:
    """Fresh pinned subprocess per level (fresh JVM inherits the mask)."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--one", str(cpus)],
        capture_output=True, text=True, cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        preexec_fn=lambda: os.sched_setaffinity(0, set(range(cpus))),
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--one":
        print(json.dumps(run(int(sys.argv[2]))), flush=True)
        sys.exit(0)
    out = {}
    for cpus in (8, 2):
        out[cpus] = run_pinned(cpus) if PIN else run(cpus)
        print(json.dumps({cpus: out[cpus], "pinned": PIN}), flush=True)
    phases = [k for k in out[8] if not k.startswith("calib") and k != "n_triples"]
    ratio = {p: round(out[2][p] / max(out[8][p], 0.01), 2) for p in phases}
    print(json.dumps({"ratio_2v8": ratio, "pinned": PIN}))
