"""Spans and per-layer counters for the traced run.

The traced run wraps the public functions of the engine's layers from
outside. Query modules bind operators by value (``from
.operators.ranking import global_rank``), so a wrapper is installed at
every place the original function object is bound in the loaded package
modules, and removed again after each traced pass.

A span records its name, start, end, parent span, op id and the Spark
jobs started inside it: the ids that appear in the calling thread's job
group between the span's start and end. Spark is lazy, so a span around
an operator call holds only the work the call does eagerly (probe
collects, persists, writes); the lazy part runs in the op's execute
phase, which has its own job group.

Layer times are inclusive of child spans; a call re-entering a layer that
is already on the stack adds nothing, so recursion is not counted twice.
Spans are kept in memory and written as JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "amazon_fresh_sql_data_engineering_spark"

#: layer metric prefix -> (module below the package, functions it covers)
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "operators.ranking.global_rank": ("operators.ranking", ("global_rank",)),
    "pipelines.cleaning.clean_entity": ("pipelines.cleaning", ("clean_entity",)),
    "operators.dml": (
        "operators.dml",
        (
            "update_where", "update_from_mapping", "delete_where",
            "dedup_keep_first", "upsert_ignore", "cascade_delete",
            "set_null_on_delete", "scd2_apply",
        ),
    ),
    "operators.mv": (
        "operators.mv",
        (
            "mv_build", "mv_apply_delta", "mv_build_minmax",
            "mv_apply_delta_minmax", "mv_dim_delta",
        ),
    ),
    "sources.sinks.write": (
        "sources.sinks",
        (
            "ctas", "ctas_partitioned", "ctas_bucketed", "ctas_zordered",
            "atomic_swap_write", "compact_files", "compact_partitions",
        ),
    ),
    "pipelines.normalize.normalize_products": (
        "pipelines.normalize", ("normalize_products",),
    ),
    "operators.constraints": (
        "operators.constraints",
        (
            "check_not_null", "check_primary_key", "check_unique",
            "check_foreign_key", "check_condition", "audit_report",
            "constraint_catalog", "assert_clean",
        ),
    ),
    "sources.versioned.write_snapshot": ("sources.versioned", ("write_snapshot",)),
    **{
        f"operators.similarity.{fn}": ("operators.similarity", (fn,))
        for fn in ("cosine_topk_bruteforce", "ivf_topk")
    },
    "operators.dedup.ngram_jaccard_pairs": ("operators.dedup", ("ngram_jaccard_pairs",)),
}

#: streaming durations read from each fold's StreamingQuery.recentProgress
STREAM_DURATIONS = {
    "streaming.mv.trigger_s": "triggerExecution",
    "streaming.mv.add_batch_s": "addBatch",
    "streaming.mv.query_planning_s": "queryPlanning",
    "streaming.mv.wal_commit_s": "walCommit",
}

#: layers whose per-pass call count is reported as well as their time
COUNTED = {
    "operators.ranking.global_rank": "operators.ranking.calls",
    "sources.sinks.write": "sources.sinks.calls",
}


#: counters the traced run keeps per op, from its job groups and timings
CATALOG_COUNTERS = (
    "catalog.build_s", "catalog.exec_s", "catalog.build_jobs",
    "catalog.exec_jobs", "catalog.stages", "catalog.tasks",
    "catalog.tasks_failed",
)


def layer_metrics(
    totals: dict[str, float], passes: int, probe_hits: int, probe_misses: int
) -> dict[str, float]:
    """Per-traced-pass values of every layer counter (0 for a layer the
    workload never reached) and the ranking probe-cache hit ratio."""
    names = [
        *(f"{layer}_s" for layer in LAYERS), *COUNTED.values(),
        "sources.sinks.bytes_written", *CATALOG_COUNTERS,
        *STREAM_DURATIONS, "streaming.mv.batches",
    ]
    out = {n: totals.get(n, 0.0) / passes for n in names}
    probes = probe_hits + probe_misses
    out["operators.ranking.probe_cache_hit_ratio"] = probe_hits / probes if probes else 0.0
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass  # removed while walking
    return total


def _out_path(args, kwargs) -> str | None:
    """The output directory of a sinks call: its ``path`` or
    ``final_path`` argument, else the first existing directory among the
    positional arguments."""
    for k in ("path", "final_path"):
        if isinstance(kwargs.get(k), str):
            return kwargs[k]
    for a in args:
        if isinstance(a, str) and os.path.isdir(a):
            return a
    return None


class Tracer:
    """Installs span wrappers and accumulates per-layer totals."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self.totals: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._installed: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[tuple[int, str]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _jobs(self, group: str | None) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def span(self, name: str, layer: str | None, fn, args, kwargs):
        stack = self._stack()
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        before = self._jobs(group)
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1][0] if stack else None,
            "op": self.op_id,
            "jobs": [],
        }
        self.spans.append(rec)
        reentrant = layer is not None and any(k == layer for _, k in stack)
        stack.append((idx, layer))
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec["jobs"] = sorted(self._jobs(group) - before)
            if layer is not None and not reentrant:
                self.totals[f"{layer}_s"] += rec["end"] - rec["start"]
                if layer in COUNTED:
                    self.totals[COUNTED[layer]] += 1
                if layer == "sources.sinks.write":
                    path = _out_path(args, kwargs)
                    if path and os.path.isdir(path):
                        self.totals["sources.sinks.bytes_written"] += _dir_bytes(path)

    # -- wrappers ------------------------------------------------------
    def install(self) -> None:
        """Wrap every layer function wherever the loaded package binds it."""
        if self._installed:
            return
        pkg_mods = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(PKG + "."))
        ]
        for layer, (mod_name, fns) in LAYERS.items():
            mod = sys.modules.get(f"{PKG}.{mod_name}")
            if mod is None:
                continue
            for fn_name in fns:
                orig = getattr(mod, fn_name)
                wrapper = self._wrap(f"{mod_name}.{fn_name}", layer, orig)
                for m in pkg_mods:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapper)
                            self._installed.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._installed):
            setattr(m, attr, orig)
        self._installed.clear()

    def _wrap(self, name: str, layer: str, orig):
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.span(name, layer, orig, args, kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
