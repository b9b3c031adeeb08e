"""Names, units and directions of every metric the benchmark prints.

Both workloads print every metric of a kind: a layer that a workload
does not run reads 0 there (no time, no jobs, no bytes).
``BENCHMARK.json`` at the repository root repeats these lists;
``test_eventlog.py`` checks that the two agree.
"""

from __future__ import annotations

from .workloads import BATCH_NODES, CHECKPOINT_STAGES, SERVE_NODES

# (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("latency_s", "s", "lower", 0.25),
    ("stored_mb", "MB", "lower", 0.2),
    ("triple_precision", "ratio", "higher", 0.01),
    ("triple_recall", "ratio", "higher", 0.01),
)

_STAGE_FIELDS = (
    ("wall_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"), ("bytes_written", "B"), ("rows_out", "count"),
    ("jobs", "count"),
)
_PY_FIELDS = (("py_sent_bytes", "B"), ("py_returned_bytes", "B"), ("py_run_s", "s"))
_NODE_FIELDS = (("wall_s", "s"), ("jobs", "count"), ("cpu_s", "s"))


def _per_layer() -> tuple[tuple[str, str, str], ...]:
    out = []
    for stage in CHECKPOINT_STAGES:
        out += [(f"pipeline.{stage}.{f}", u, "lower") for f, u in _STAGE_FIELDS]
        if stage in ("chunks", "extracted"):
            out += [(f"pipeline.{stage}.{f}", u, "lower") for f, u in _PY_FIELDS]
    out += [
        ("pipeline.lineage_s", "s", "lower"),
        ("pipeline.lineage_jobs", "count", "lower"),
        ("pipeline.resume_s", "s", "lower"),
        ("pipeline.resume_jobs", "count", "lower"),
        ("materialize.triples.pair_yield", "ratio", "higher"),
        ("linking.link_hit_ratio", "ratio", "higher"),
    ]
    for node in SERVE_NODES + BATCH_NODES:
        out += [(f"{node}.{f}", u, "lower") for f, u in _NODE_FIELDS]
    out += [
        ("serve.jobs_per_query", "count", "lower"),
        ("serve.batch_qps", "1/s", "higher"),
        ("jvm.peak_rss_mb", "MB", "lower"),
        ("trace.latency_s", "s", "lower"),
    ]
    return tuple(out)


PER_LAYER = _per_layer()


def report(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """Every metric of the printed kind, with its unit. A layer the
    workload did not run reads 0; an end-to-end metric must be there."""
    if trace:
        return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u, _b in PER_LAYER}
    return {n: {"value": float(values[n]), "unit": u} for n, u, _b, _bound in END_TO_END}
