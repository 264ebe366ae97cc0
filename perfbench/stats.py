"""Pure helpers of the harness: the end-to-end summary of a timed loop with
failure accounting, and metric-name checks."""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass

#: A metric name as the result line and BENCHMARK.json carry it.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@dataclass(frozen=True)
class Job:
    """One job of the timed loop: its kind, wall seconds, and whether it
    finished with correct output."""

    kind: str
    seconds: float
    ok: bool


def kind_medians(jobs: list[Job]) -> dict[str, float]:
    """Median wall seconds of each kind's jobs, failed ones included."""
    by_kind: dict[str, list[float]] = {}
    for j in jobs:
        by_kind.setdefault(j.kind, []).append(j.seconds)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def summarize(jobs: list[Job]) -> dict[str, float]:
    """End-to-end figures of one timed loop, at the workload's mix.

    The rotation's time is the sum of each kind's median job time: every
    kind counts once, however many jobs of it ran before the loop ended, and
    a job stalled by the host moves its kind's median less than it moves a
    sum. ``jobs_per_min`` is the rotation's job rate times the share of jobs
    that finished correctly, so a failing job keeps its time and costs
    throughput instead of vanishing from it.
    """
    if not jobs:
        raise ValueError("no jobs ran")
    med = kind_medians(jobs)
    failed = sum(1 for j in jobs if not j.ok) / len(jobs)
    return {
        "jobs_per_min": 60.0 * len(med) / sum(med.values()) * (1.0 - failed),
        "failed_frac": failed,
    }


def mix_overhead(base: list[Job], other: list[Job]) -> float:
    """``1 - rate(other) / rate(base)`` at one job mix: each side's rate is
    taken from its median time per kind, over the kinds both sides ran, so
    two loops of different length and composition compare fairly."""
    a, b = kind_medians(base), kind_medians(other)
    common = a.keys() & b.keys()
    if not common:
        raise ValueError("the two loops share no job kind")
    return 1 - sum(a[k] for k in common) / sum(b[k] for k in common)


def check_metric_names(names) -> None:
    """Reject a name the result line cannot carry, or a repeated one."""
    seen = set()
    for n in names:
        if not NAME_RE.match(n):
            raise ValueError(f"bad metric name {n!r}")
        if n in seen:
            raise ValueError(f"metric name {n!r} used twice")
        seen.add(n)


def result_line(correct: bool, jobs: list[Job], metrics: dict, units: dict) -> dict:
    """The last stdout line of a run: every metric in ``units`` by name with
    its unit. A missing metric is a harness bug and raises."""
    check_metric_names(units)
    missing = [n for n in units if n not in metrics]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": bool(correct),
        "attempted": len(jobs),
        "failed": sum(1 for j in jobs if not j.ok),
        "metrics": {
            n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()
        },
    }
