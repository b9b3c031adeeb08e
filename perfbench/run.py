"""Benchmark entry point.

    python3 perfbench/run.py --workload {checkpoint,serve} --seed N \
        --seconds S --trace {0,1} [--out FILE]

Run from the root of a checkout that holds ``graphrag_spark/`` (the
benchmark imports the package from there; it exits 2 without it).
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run logs
Spark events (uncompressed) and prints the per-layer ones. ``--out``
also writes the spans and per-job-group totals of the run to FILE.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout: a per-run scratch directory, removed at exit, and a cache of
seeded inputs (oracle results, the stored serve graph). Every process
the run starts, directly or not, has ended when it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("checkpoint", "serve")
MAX_HEAP_MB = 48 * 1024
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>
REAP_GRACE_S = 10.0


def adopt_descendants() -> None:
    """Make this process the reaper of every process it starts, directly
    or not. A process orphaned below it (PySpark's worker daemon once its
    JVM has gone, the JVM of a killed ``--prepare`` child) is re-parented
    here instead of to init, so ``reap_descendants`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:  # field 4, ppid
            out.append(int(entry))
    return out


def reap_descendants() -> None:
    """Wait until every process below this one has ended: REAP_GRACE_S
    for them to exit on their own, as long again after SIGTERM, then
    SIGKILL until none is left."""
    start = time.monotonic()
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        waited = time.monotonic() - start
        if waited >= REAP_GRACE_S:
            sig = signal.SIGTERM if waited < 2 * REAP_GRACE_S else signal.SIGKILL
            for child in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, sig)
        time.sleep(0.05)


def _exit_on_sigterm(signum, _frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through every cleanup below


def host_heap_mb() -> int:
    """A quarter of physical memory, capped at the session's 48g default:
    the local-mode driver JVM is also the executor, and a heap above
    physical memory gets it OOM-killed."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return min(MAX_HEAP_MB, int(line.split()[1]) // 1024 // 4)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_spark(work: Path, trace: bool):
    """A session sized to this host, writing only under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{host_heap_mb()}m",
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # no hsperfdata files under /tmp from the launcher or driver JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = str(tmp)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    from graphrag_spark.session import get_spark

    spark = get_spark(app_name="graphrag-perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, default=None)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    started = time.perf_counter()
    if not (ROOT / "graphrag_spark" / "__init__.py").is_file():
        print(f"perfbench: no graphrag_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.seed < 0:
        print("perfbench: --seed must be >= 0", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import metrics, workloads
    from perfbench.eventlog import read_groups
    from perfbench.tracing import Tracer

    base = ROOT / ".perfbench_work"
    work = base / f"run-{os.getpid()}"
    cache = base / "cache"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cache.mkdir(parents=True, exist_ok=True)
    if args.prepare:
        return _prepare(args, work, cache)
    if not workloads.serve_graph_dir(cache).exists():
        # every workload builds it if missing, so only the first run in a
        # checkout pays for it, whichever workload that run measures
        print("perfbench: building the stored serve graph (cached input, untimed)", file=sys.stderr)
        cmd = [sys.executable, str(Path(__file__).resolve()), "--prepare", "--workload", "serve"]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=600)
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark) if args.trace else None
            run = workloads.Run(spark, args.seed, args.seconds, work, cache, session_s, tracer)
            values = getattr(workloads, args.workload)(run)
            if tracer is not None:
                values["jvm.peak_rss_mb"] = workloads.peak_rss_mb(spark)
        finally:
            stop_spark(spark)
        groups = {}
        if tracer is not None:
            groups = read_groups(work / "eventlog")
            layers = workloads.checkpoint_layers if args.workload == "checkpoint" else workloads.serve_layers
            values.update(layers(run, groups))
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics.report(values, bool(args.trace)),
        }
        if args.out is not None:
            detail = {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "failed_checks": run.notes,
                "spans": tracer.dump() if tracer else [],
                "job_groups": {k: v.as_dict() for k, v in sorted(groups.items())},
                **result,
            }
            args.out.write_text(json.dumps(detail, indent=1) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run took {time.perf_counter() - started:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


def _prepare(args, work: Path, cache: Path) -> int:
    """Build the stored serve graph and exit."""
    from perfbench import workloads

    try:
        spark = start_spark(work, trace=False)
        try:
            workloads.build_serve_graph(workloads.Run(spark, args.seed, 0, work, cache))
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    adopt_descendants()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        code = main()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second one must not cut the reaping short
        reap_descendants()
    sys.exit(code)
