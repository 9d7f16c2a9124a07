"""Closed-loop timing core: passes over a workload's ops, per-op latency
samples, failure counting and the one-line summary.

This module knows nothing about Spark, so the self-test drives it with
plain Python ops. An op is timed as two calls, ``build`` (returns the
object to materialise) and ``execute`` (materialises it); its latency is
their sum. A pass runs every op once, in an order drawn from the seeded
generator; its time is the sum of its op latencies, so clean-up between
ops and output checks never count. Outputs are checked once per run: in
the cold pass, right after each op, on the object the op built.
"""

from __future__ import annotations

import random
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Op:
    """One unit of client work. ``prepare`` stages the op's input and is
    not timed. ``check`` takes what ``build`` returned and lists the
    problems with it (empty when correct). ``None`` means the op has no
    check of its own."""

    name: str
    build: Callable[[], Any]
    execute: Callable[[Any], None]
    check: Callable[[Any], list[str]] | None = None
    prepare: Callable[[], None] | None = None


@dataclass
class Sample:
    op: str
    build_s: float
    exec_s: float
    ok: bool
    cpu_s: float = 0.0

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Pass:
    samples: list[Sample] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return sum(s.latency_s for s in self.samples)


class Hooks:
    """Callbacks around each op; the traced run overrides them."""

    def phase(self, op: Op, name: str, fn: Callable, *args) -> Any:
        """Run one phase (``build`` or ``execute``) of ``op``."""
        return fn(*args)

    def after_op(self, op: Op, sample: Sample) -> None: ...


class Loop:
    """Runs passes over ``ops`` for one client that waits for each op
    before sending the next (a closed loop)."""

    def __init__(
        self,
        ops: list[Op],
        seed: int,
        cleanup: Callable[[], None] = lambda: None,
        log: Callable[[str], None] = print,
        final_checks: list[Callable[[], list[str]]] = (),
        cpu: Callable[[], float] = lambda: 0.0,
    ):
        if not ops:
            raise ValueError("a workload needs at least one op")
        self.ops = ops
        self.final_checks = list(final_checks)
        self.cpu = cpu
        self.rng = random.Random(seed)
        self.cleanup = cleanup
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_op(self, op: Op, hooks: Hooks, check: bool) -> Sample:
        self.attempted += 1
        build_s = exec_s = 0.0
        ok = True
        try:
            if op.prepare is not None:
                op.prepare()
            cpu0 = self.cpu()
            t0 = time.perf_counter()
            out = hooks.phase(op, "build", op.build)
            t1 = time.perf_counter()
            build_s = t1 - t0
            hooks.phase(op, "execute", op.execute, out)
            exec_s = time.perf_counter() - t1
        except Exception:  # a failing op is counted, and the loop goes on
            ok = False
            self.failed += 1
            self.errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            self.log(f"op {op.name} failed:\n{traceback.format_exc()}")
        sample = Sample(op.name, build_s, exec_s, ok, self.cpu() - cpu0 if ok else 0.0)
        hooks.after_op(op, sample)
        if ok and check and op.check is not None:
            self._check(op.name, lambda: op.check(out))
        self.cleanup()
        return sample

    def _check(self, name: str, check: Callable[[], list[str]]) -> None:
        try:
            problems = check()
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.errors.append(f"{name}: check: {problems}")
            self.log(f"{name}: output check failed: {problems}")

    def run_pass(
        self, hooks: Hooks | None = None, check: bool = False, shuffle: bool = True
    ) -> Pass:
        """One pass, in a fresh seeded order unless ``shuffle`` is off;
        with ``check`` each op's output is checked after it runs
        (untimed)."""
        hooks = hooks or Hooks()
        order = list(self.ops)
        if shuffle:
            self.rng.shuffle(order)
        p = Pass()
        for op in order:
            p.samples.append(self.run_op(op, hooks, check))
        return p

    def run_final_checks(self) -> None:
        for i, check in enumerate(self.final_checks):
            self._check(f"final check {i}", check)
            self.cleanup()


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1] of ``values``."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cold_metrics(cold: Pass) -> dict[str, float]:
    """The cold pass in wall and CPU time."""
    return {
        "cold_pass_s": cold.seconds,
        "cold_pass_cpu_s": sum(s.cpu_s for s in cold.samples),
    }


def warm_metrics(warm: list[Pass]) -> dict[str, float]:
    """The pass and per-op latency metrics of the warm passes (none when
    there were none).

    An op's warm latency is its best over the warm passes (a shared host
    only ever adds time); ``pass_s`` sums those latencies, and the
    percentiles are taken across ops."""
    best: dict[str, float] = {}
    for p in warm:
        for s in p.samples:
            best[s.op] = min(best.get(s.op, s.latency_s), s.latency_s)
    if not best:
        return {}
    per_op = list(best.values())
    return {
        "pass_s": sum(per_op),
        "op_p50_s": quantile(per_op, 0.5),
        "op_p90_s": quantile(per_op, 0.9),
    }


def summary(
    metrics: dict[str, float],
    units: dict[str, str],
    attempted: int,
    failed: int,
) -> dict:
    """The result object the benchmark prints as its last line. Every
    name in ``units`` must have a value."""
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": unit}
            for name, unit in units.items()
        },
    }
