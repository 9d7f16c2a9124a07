#!/usr/bin/env python3
"""Benchmark of the grocery analytics engine: one closed-loop run of one
workload, printed as one JSON line.

Usage, from the root of the repository::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give the warm op-sample count, the wall-clock latencies and any
failures. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``, ``--trace 1`` the per-layer ones. Progress and Spark
logs go to standard error. On 4 cores a run takes about 33 s
(analytics) or 45 s (ingest), a traced run about 40 s or 80 s, and up to
1.8 times that when the host is busy.

Inputs: ``datagen.py`` writes the ten tables the catalog reads (60 000
lineitem rows, the catalog's sf0.01 shape) from ``--seed``. The seed also
sets the op order of the warm passes and the stream's deltas.

Workloads (one process, one client, ``local[4]``, closed loop):

- ``analytics``: five read-only queries from ``queries.py``, twins of
  the reference's Task 3-14 analytics: ``q_high_value``,
  ``q_top_customers_period``, ``q_product_sales_rank`` (all three rank
  through ``operators.ranking.global_rank``), ``q_top_categories`` and
  ``q_order_revenue``. Short driver-bound ops: planning, job scheduling
  and the ranking operator's boundary probes dominate; no Python UDFs,
  no writes. Chosen so that work on the planning side shows.
- ``ingest``: one op per layer ``analytics`` never runs.
  ``q_pipe_clean_products`` (``pipelines.cleaning``),
  ``q_cascade_delete`` (``operators.dml``), ``q_normalize_3nf``
  (``pipelines.normalize``), ``q_audit_report``
  (``operators.constraints``), ``q_ctas_roundtrip`` (an eager write
  through ``sources.sinks``), ``q_pointer_publish_roundtrip``
  (``sources.versioned`` snapshots), ``sim_cosine_topk`` and
  ``sim_ann_ivf`` (``operators.similarity``), ``dedup_ngram_jaccard``
  (``operators.dedup``; it and ``sim_ann_ivf`` run pandas UDFs in
  Python workers), and one micro-batch fold of
  ``streaming.mv.run_mv_maintain_stream_partitioned_mvcc`` (64 buckets,
  a view of quantity and revenue per part seeded from the lineitem rows
  of 256 parts; each fold deletes and inserts rows of two parts, and the
  first fold also builds the view from the seed). Chosen so that a
  planning-only change should move it little, and work on writes, Python
  workers and streaming shows.

Left out, to keep a run under a minute on 4 cores (cost of the cold op
plus its output check): MinHash near-dedup
with connected components (``dedup_cluster_corpus``, about 11 s), the
z-order write (``q_zorder_roundtrip``, about 5 s), the on-disk MinHash
store probe (``dedup_store_probe``, whose store takes about 10 s to
build), the LSH and PQ similarity operators (about 3 to 5 s each), and
``queries_*.prestage_fixtures``, so ops build their fixtures on first
use, in the cold pass. ``pipelines.entities.run_full_pipeline`` is not
called by any catalog query.

An op is timed as two calls: build (the catalog function,
``CATALOG[name].fn(spark, data_dir)``) and execute (a ``noop`` write of
the returned frame, which materialises every column, where ``count()``
would let Catalyst prune them). A stream fold's build is the stream
reader and its execute the drain of one micro-batch. Between ops the run
clears Spark's cache, unpersists persistent RDDs, removes the temp
directories the op left and runs a full collection of the driver heap;
none of this is timed.

End-to-end metrics (``--trace 0``, the ones ``BENCHMARK.json`` gates).
CPU time is user plus system time of the worker and every process it
started: the JVM, and the Python daemon and pandas-UDF workers, which
sit in a process group of their own. Unlike wall time it leaves out the
time the hypervisor gives other guests, which on the shared 4-core host
this was tuned on spread wall-clock figures by 0.3 to 0.5 of their
median. It still rises, by up to 0.4, while neighbours keep the host's
cores busy for minutes at a time: the same code read 41 to 45 s of
``cold_pass_cpu_s`` on ingest in three runs, and medians of 33 and 36 s
in two ten-run sets made 20 to 50 minutes later.

- ``setup_s`` (s): CPU time from process start until the workload is
  ready: Python imports, the driver JVM's launch, ``session.build_session``
  and a warm-up query (one query of each generic shape, so class loading
  and JIT of the generic operators do not land on the first op). One
  set-up a run, not the median of several: each would cost another
  JVM launch, about 7 s.
- ``cold_pass_cpu_s`` (s): CPU time of the ops (build plus execute) in
  the cold pass: the first pass over the ops, in the listed order, with
  the ranking probe cache empty, so codegen, JIT and fixture builds are
  in it.
- ``peak_rss_mb`` (MB): peak resident memory (VmHWM) of the driver JVM
  at the end of the run. The heap is fixed at 1.5 GiB with a 256 MB
  young generation, neither touched ahead of use: the young generation
  fills in the first seconds, and the old generation is touched only as
  far as the data ops keep past a young collection reaches, so the
  reading moves with the memory ops hold and with native memory
  (metaspace, code, threads, direct buffers), not with how fast they
  allocate. Left to size itself, the heap grew by amounts that spread
  this reading by 0.22 of its median over ten runs.
- ``live_heap_mb`` (MB): driver heap still in use after the full
  collection that follows each op, median over the run's readings (one
  more before the first op and after the stream check): what the engine
  keeps between queries (cached blocks and plans, listener state,
  leaks), where ``peak_rss_mb`` also holds what ops allocate on the way.
  The median, not the largest reading: what a single op leaves can vary
  from run to run (after ``dedup_ngram_jaccard``, 113 to 146 MB in ten
  runs), while most other readings repeat within 1 MB.

Printed on the line above the result, not gated (wall clock):
``cold_pass_s``, the wall time of the cold pass; and, when warm passes
ran, ``pass_s``, the sum over ops of each op's best warm latency (build
plus execute), and ``op_p50_s`` / ``op_p90_s``, the percentiles of those
per-op latencies across ops. Warm passes run, whole, while less than
``--seconds`` have gone by since the cold pass began; at the
``run_seconds`` in ``BENCHMARK.json`` the cold pass alone outlasts
that, so an untraced run does the same work on every run, and the warm
latencies come from the traced run, which always runs warm passes.

The JVM runs with C1 only (``-XX:TieredStopAtLevel=1``): in runs this
short, when the C2 compiler gets through the hot methods, and how much
CPU it takes from the ops meanwhile, varied from run to run.

Failures: ``attempted`` counts op executions and ``failed`` the ones that
raised plus the ops whose output check failed, so the failed fraction is
``failed / attempted``. In the cold pass, right after each op (untimed),
its result is compared with the op's DuckDB oracle on column names, row
count and the order-insensitive canonical rows of
``tests/oracle_compare.py``. At the end the stream's view state is
compared with a batch ``operators.mv.mv_build`` over the net rows
(inserts not later deleted) of all its source files.

Per-layer metrics (``--trace 1``) come from a separate run that, after
the cold pass, alternates untraced and traced warm passes (at least one of each); values are per traced pass, and a layer
the workload never reaches reads 0. ``spans.py`` wraps the layers'
public functions from outside, at every place the package binds them;
each span records the Spark jobs started inside it, so an operator's
eager work (probe collects, writes) can be told from the lazy plan its
caller executes later. Catalog counters come from
``SparkContext.statusTracker()`` under a job group per op phase (the
stream's batches run under the job group Spark names after the query's
run id), the streaming durations from each fold's
``StreamingQuery.recentProgress``. The spans are written to
``.perfbench_work/spans/spans-<workload>-<seed>.jsonl`` when the run
ends. Tracing overhead: ``trace.overhead_s`` is the traced pass minus
the untraced pass of the same run; ``trace.pass_s`` minus ``pass_s`` on
the line above the result reads the same.

Which end-to-end metric, on which workload, each per-layer metric should
move (``BENCHMARK.json`` holds only name, unit and direction):

- ``session.start_s`` (wall time of ``build_session``, JVM launch
  included): ``setup_s``, both workloads.
- ``catalog.build_s``, ``catalog.exec_s``: ``cold_pass_cpu_s`` and
  ``pass_s``, both workloads. ``catalog.build_jobs``,
  ``catalog.exec_jobs``, ``catalog.stages``, ``catalog.tasks``,
  ``catalog.tasks_failed``: ``cold_pass_cpu_s`` and ``op_p50_s`` on
  analytics, where each op is driver-bound.
- ``operators.ranking.global_rank_s``, ``.calls``,
  ``.probe_cache_hit_ratio``: ``op_p90_s`` and ``cold_pass_cpu_s`` on
  analytics; rank queries are its slow tail.
- ``pipelines.cleaning.clean_entity_s``,
  ``pipelines.normalize.normalize_products_s``, ``operators.dml_s``,
  ``operators.constraints_s``, ``operators.mv_s``: ``cold_pass_cpu_s``
  and ``pass_s`` on ingest.
- ``sources.sinks.write_s``, ``.calls``, ``.bytes_written`` (size of the
  output directory after each call), ``sources.versioned.write_snapshot_s``:
  ``cold_pass_cpu_s`` and ``pass_s`` on ingest; they should not move
  analytics.
- ``operators.similarity.*_s``,
  ``operators.dedup.ngram_jaccard_pairs_s``: ``cold_pass_cpu_s``,
  ``pass_s``, ``op_p90_s`` and ``peak_rss_mb`` on ingest.
- ``streaming.mv.trigger_s``, ``.add_batch_s``, ``.query_planning_s``,
  ``.wal_commit_s``, ``.batches``: ``op_p50_s`` and ``cold_pass_cpu_s``
  on ingest.

The run pins its environment: ``SPARK_GRAFT_CPUS`` (4, at most
``nproc``), ``SPARK_GRAFT_DRIVER_MEM`` (1.5 GiB, at most a quarter of
physical memory), ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` inside
``.perfbench_work/``, and ``PYTHONPATH`` at the repository root, which
the Python workers of pandas UDFs need to import the package. Everything
is written below ``.perfbench_work/`` in the repository root. The run
makes itself the reaper of the processes orphaned below it and ends only
when all of them, the JVM and its Python workers too, are stopped.

Self-test of this code (no Spark needed): ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import procs  # noqa: E402

PKG = "amazon_fresh_sql_data_engineering_spark"
DEADLINE_S = 170.0  # every run must end within 180 s
#: latency metrics printed above the result line but not in
#: BENCHMARK.json: on a shared host they spread too far between runs
WALL_CLOCK = ("pass_s", "cold_pass_s", "op_p50_s", "op_p90_s")
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)


def run_env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{min(1536, physical_mb() // 4)}m"
    env["SPARK_LOCAL_DIRS"] = f"{work}/local"
    env["TMPDIR"] = f"{work}/tmp"
    env["PYTHONPATH"] = ROOT
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("SPARK_GRAFT_TEST_SF_DIR", None)
    return env


def become_subreaper() -> None:
    """Have processes orphaned below this one re-parented here, so the
    JVM, which outlives the worker, and the Python daemon, which leaves
    the worker's process group, stay in this process's tree."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_all() -> None:
    """Kill every process this one started, directly or not, and reap
    them; return when none is left."""
    me = os.getpid()
    for _ in range(200):
        left = [p for p in procs.tree(me) if p != me]
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        if not left:
            return
        time.sleep(0.05)
    print("perfbench: processes left after the run", file=sys.stderr)


def main() -> int:
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (f"{PKG}/__init__.py", "tests/oracle_compare.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        die(f"unknown workload {args.workload!r}")
    section = bench["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in section}

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{base}/spans", exist_ok=True)
    become_subreaper()

    try:
        import datagen

        datagen.write(args.seed, f"{work}/data")
        out = f"{work}/result.json"
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", f"{work}/data", "--work", work, "--out", out,
            "--spans", f"{base}/spans",
        ]
        proc = subprocess.Popen(cmd, cwd=ROOT, env=run_env(work), stdout=sys.stderr)
        try:
            code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_all()
        print(f"perfbench: worker ended at {time.monotonic() - t0:.1f} s", file=sys.stderr)
        if code is None:
            die(f"run exceeded {DEADLINE_S:.0f} s")
        if code != 0 or not os.path.isfile(out):
            die(f"worker exited with code {code}")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for err in res["errors"]:
        print(f"failed: {err}")
    m = res["metrics"]
    print(f"warm op samples: {m['op_samples']}")
    print("wall clock (not gated): " + ", ".join(f"{k} {m[k]:.4f} s" for k in WALL_CLOCK if k in m))
    print(json.dumps(harness.summary(res["metrics"], units, res["attempted"], res["failed"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
