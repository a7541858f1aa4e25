"""Metric table, percentile rule and the result line."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> unit. End-to-end metrics come from the untraced run
# (``--trace 0``), per-layer metrics from the traced run (``--trace 1``).
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "ok_frac": "fraction",
    "cpu_s": "s",
    "output_mb": "MB",
}

PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.build_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.driver_gap_s": "s",
    "operators.task_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.busy_frac": "fraction",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.checkpoint_mb": "MB",
    "sources.scan_mb": "MB",
    "sources.write_s": "s",
    "sources.output_mb": "MB",
    "sources.files": "count",
    "pipeline.cleaning_s": "s",
    "pipeline.intermediate_s": "s",
    "pipeline.model_s": "s",
    "pipeline.csv_s": "s",
    "pipeline.curation_s": "s",
    "pipeline.tfrecord_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples, want: int = 90, beyond: int = 10):
    """The highest whole percentile ``q <= want`` (nearest rank) that has
    at least ``beyond`` samples above it, as ``(q, value)``.

    With too few samples for any tail, falls back to the median and
    reports ``q = 50``.
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    for q in range(want, 50, -1):
        rank = max(1, math.ceil(q * n / 100))
        if n - rank >= beyond:
            return q, float(s[rank - 1])
    return 50, median(s)


def result_line(metrics: dict, units: dict, attempted: int, failed: int) -> dict:
    """The benchmark's last stdout line. Every metric of ``units`` must
    be present: a metric the run could not measure is a harness bug, not
    a value to leave out."""
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    if attempted < 1:
        raise ValueError("no operation attempted")
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(metrics[name]), "unit": units[name]}
            for name in units
        },
    }
