"""Operation log, end-to-end metrics and the per-layer split.

Every workload records its measured operations as :class:`Op` objects
in an :class:`OpLog`; attempted and failed counts include the one-off
checks (oracle comparisons, missing pinned queries). A traced operation
also carries its layer spans ``(layer.metric, start_ms, end_ms)`` and
counts; :func:`op_layers` joins them with the event-log jobs of the
operation's job groups.
"""

from __future__ import annotations

import itertools
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from .tracing import clip, union_ms

# Highest first: a moment of an operation belongs to the highest layer
# active then; moments no layer covers are the residual.
SELF_ORDER = ["exec", "catalyst", "catalog", "serving", "plans", "sync", "collect"]


@dataclass
class Op:
    id: str
    name: str
    traced: bool
    kind: str = "query"
    start: float = 0.0
    end: float = 0.0
    spans: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return self.end - self.start


class OpLog:
    def __init__(self, echo) -> None:
        self.ops: list[Op] = []
        self.attempted = 0
        self.failed = 0
        self.echo = echo
        self._ids = itertools.count()

    def new_id(self, prefix: str) -> str:
        """Unique op id; it prefixes the op's job groups."""
        return f"{prefix}{next(self._ids)}"

    def done(self, op: Op, ok: bool, msg: str) -> None:
        """Count a measured operation; keep it only if its answer was right."""
        self.checked(ok, msg)
        if ok:
            self.ops.append(op)

    def checked(self, ok: bool, msg: str) -> None:
        """Count an attempt: a check, or an operation that raised."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 20:
                self.echo(f"FAILED {msg}")

    def latencies(self, kind: str) -> np.ndarray:
        return np.array([o.ms for o in self.ops if o.kind == kind])


def percentile(values, q: float) -> float:
    """Harrell-Davis estimate of the ``q``-th percentile: a mean of all
    order statistics weighted by the Beta((n+1)p, (n+1)(1-p)) density,
    p = q/100. A run has a few dozen samples of a mix of operations;
    one order statistic of so few (``np.percentile``) jumps between
    the mix's operations from run to run, the weighted mean does not."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else float("nan")
    p = q / 100.0
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    # the Beta CDF at i/n by the midpoint rule on a fine grid
    t = (np.arange(_GRID) + 0.5) / _GRID
    cdf = np.concatenate([[0.0], np.cumsum(np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)))])
    cdf /= cdf[-1]
    edges = np.rint(np.arange(n + 1) * (_GRID / n)).astype(int)
    return float(np.diff(cdf[edges]) @ x)


_GRID = 100_000


def _jobs_of(op: Op, jobs_by_group) -> dict[str, list]:
    return {
        g: js for g, js in jobs_by_group.items() if g.split("/", 1)[0] == op.id
    }


def op_layers(op: Op, jobs_by_group, totals) -> dict[str, float]:
    """Per-layer numbers of one traced operation."""
    out: dict[str, float] = defaultdict(float)
    groups = _jobs_of(op, jobs_by_group)
    all_jobs = [(j.start, j.end) for js in groups.values() for j in js]
    spans = list(op.spans) + [("exec.job", s, e) for s, e in all_jobs]
    for name, s, e in op.spans:
        out[name + "_ms"] += e - s
    # named metrics beyond plain span sums
    for name, s, e in op.spans:
        # jobs run under the group "<op>/<last part of the span name>"
        part_jobs = [(j.start, j.end) for j in groups.get(f"{op.id}/{name.split('.')[-1]}", [])]
        inside = clip(part_jobs, s, e)
        if name == "plans.build":
            out["plans.build_jobs"] += len(part_jobs)
            out["plans.build_self_ms"] += (e - s) - union_ms(inside)
        if name == "collect":
            out["exec.driver_gap_ms"] += (e - s) - union_ms(inside)
            last = max((je for _, je in inside), default=s)
            out["collect.tail_ms"] += max(0.0, e - last)
    out["exec.job_wall_ms"] += sum(e - s for s, e in all_jobs)
    for g in groups:
        t = totals.get(g)
        if t is None:
            continue
        for k, v in vars(t).items():
            out[f"exec.{k}"] += v
    for k, v in op.counts.items():
        out[k] += v
    # self time: each instant of the op goes to the highest active layer
    bounds = sorted({op.start, op.end, *[x for _, s, e in spans for x in (s, e)]})
    covered = 0.0
    for a, b in zip(bounds, bounds[1:]):
        if b <= op.start or a >= op.end:
            continue
        active = {n.split(".", 1)[0] for n, s, e in spans if s <= a and e >= b}
        for layer in SELF_ORDER:
            if layer in active:
                out[f"self.{layer}_ms"] += b - a
                covered += b - a
                break
    out["trace.residual_ms"] += op.ms - covered
    return out

