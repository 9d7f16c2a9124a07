"""Benchmark worker: one measured run of one workload in a fresh process.

``run.py`` starts this module with the run environment already pinned and
reads the result file it writes. The run:

1. sets up: launches the driver JVM, builds the session and runs one
   warm-up query that shares no plan with any op;
2. runs one cold pass with the ranking probe cache emptied, checking each
   op's output right after it (untimed). The cold pass keeps the
   workload's listed op order: the first op pays for JIT and class
   loading the others then share, so a seeded order would move
   ``cold_pass_s`` with the seed;
3. runs whole warm passes while less than ``--seconds`` have gone by
   since the cold pass began; the traced run alternates untraced and
   traced passes, at least one of each;
4. compares the stream's final view state with a batch rebuild;
5. reads the driver JVM's peak resident memory and writes the result;
   ``run.py`` then stops the JVM and its Python workers.

After each op (untimed) the driver heap gets a full collection; the
median of the heap in use after it is ``live_heap_mb``.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import spans  # noqa: E402
from procs import tree_cpu_s  # noqa: E402
from harness import Hooks, Loop, Op, cold_metrics, warm_metrics  # noqa: E402

STAGED_PREFIX = "sparkgraft_staged_"  # per-process fixture caches: kept
YOUNG_MB = 256  # the driver heap's young generation

#: analytics: Task 3-14 twins from queries.py; the first three rank
#: through operators.ranking.global_rank
ANALYTICS = [
    "q_high_value", "q_top_customers_period", "q_product_sales_rank",
    "q_top_categories", "q_order_revenue",
]

#: ingest: one op per layer analytics never runs: the cleaning pipeline,
#: DML, 3NF normalisation, constraint audit, a CTAS sink, a versioned
#: snapshot publish, brute-force and IVF similarity and n-gram Jaccard
#: near-dedup (the last two through pandas UDFs, so Python workers);
#: plus the stream fold, which also runs the MV operators
INGEST = [
    "q_pipe_clean_products", "q_cascade_delete", "q_normalize_3nf",
    "q_audit_report", "q_ctas_roundtrip", "q_pointer_publish_roundtrip",
    "sim_cosine_topk", "sim_ann_ivf", "dedup_ngram_jaccard",
]

WORKLOADS = {
    "analytics": {"catalog": ANALYTICS, "stream": False},
    "ingest": {"catalog": INGEST, "stream": True},
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- Spark session ------------------------------------------------------


def warm_up(spark) -> None:
    """One query of each generic shape (string filter, join, aggregate) on
    synthetic rows, so class loading and JIT of the generic operators sit
    in set-up, not in the first op."""
    from pyspark.sql import functions as F

    df = spark.range(20000).select(
        (F.col("id") % 97).alias("k"), F.concat(F.lit("w"), F.col("id").cast("string")).alias("t")
    )
    dim = spark.range(97).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    noop_write(
        df.filter(F.lower(F.col("t")).contains("7"))
        .join(dim, "k")
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def noop_write(df) -> None:
    """Materialise every column of ``df``: a ``noop`` sink runs the whole
    plan, where ``count()`` would let the optimiser drop output columns."""
    df.write.format("noop").mode("overwrite").save()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Cleanup:
    """Between ops: drop cached frames, unpersist persistent RDDs
    (``clearCache`` leaves localCheckpoint blocks to the context cleaner,
    which lags a busy loop), remove the temp directories an op left,
    keeping the per-process fixture caches, and run a full collection of
    the driver heap. After the collection every op starts from the same
    compacted heap, so how much garbage earlier ops left does not move
    its CPU time or the heap's growth, and the heap still in use then is
    what the op left behind; ``live_mb`` keeps those readings."""

    def __init__(self, spark, tmp_dir: str):
        self.spark = spark
        self.tmp_dir = tmp_dir
        self.keep = set(os.listdir(tmp_dir))
        self.memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.live_mb: list[float] = []

    def __call__(self) -> None:
        self.spark.catalog.clearCache()
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(rdds.keySet().toArray()):
            rdds.get(rid).unpersist()
        for name in os.listdir(self.tmp_dir):
            if name not in self.keep and not name.startswith(STAGED_PREFIX):
                p = os.path.join(self.tmp_dir, name)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.remove(p)
        self.memory.gc()
        self.live_mb.append(self.memory.getHeapMemoryUsage().getUsed() / 2**20)


# -- stream_ingest ------------------------------------------------------


class MvStream:
    """The partitioned MVCC view maintainer fed by seeded delta files.

    The view sums quantity and revenue (integer cents, so sums are exact)
    per part key. Its source directory starts with the lineitem rows of
    the first ``SEED_PARTS`` parts as the seed file. Each fold op stages one delta file, which deletes seed rows of
    two parts (each delete carries the row's values) and inserts as many
    new rows for the same parts, so at most two of the 64 buckets are
    touched. A fold drains everything staged as one micro-batch, so the
    first fold also builds the view from the seed."""

    KEYS = ["g"]
    SUMS = {"qty": "qty", "rev_c": "rev_c"}
    SCHEMA = "rid long, g long, qty long, rev_c long, __op int"
    BUCKETS = 64
    SEED_PARTS = 256  # the view covers lineitem rows of parts below this
    ROWS_PER_PART = 8  # deleted, and inserted, per touched part and fold

    def __init__(self, spark, data_dir: str, root: str, seed: int):
        self.spark = spark
        self.src, self.out, self.ckpt = (f"{root}/{d}" for d in ("src", "out", "ckpt"))
        os.makedirs(self.src)
        self.rng = np.random.default_rng(seed)
        li = pq.read_table(
            f"{data_dir}/lineitem.parquet",
            columns=["l_partkey", "l_quantity", "l_extendedprice"],
            filters=[("l_partkey", "<", self.SEED_PARTS)],
        )
        seed_rows = np.column_stack(
            [
                np.arange(li.num_rows),
                li["l_partkey"].to_numpy(),
                li["l_quantity"].to_numpy().astype(np.int64),
                np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64),
            ]
        )
        self.live: dict[int, list] = {}  # part -> seed rows not deleted yet
        for row in seed_rows.tolist():
            self.live.setdefault(row[1], []).append(row)
        self.next_rid = li.num_rows
        self.files = 0
        self.pending = 0
        self._write(seed_rows, np.ones(len(seed_rows)))
        self.progress: list[dict] = []
        self.run_id = ""  # of the last fold's query, which is its job group

    def _write(self, rows: np.ndarray, ops: np.ndarray) -> None:
        cols = {c: pa.array(rows[:, i], pa.int64()) for i, c in enumerate(("rid", "g", "qty", "rev_c"))}
        cols["__op"] = pa.array(ops.astype(np.int32))
        pq.write_table(pa.table(cols), f"{self.src}/part-{self.files:05d}.parquet")
        self.files += 1
        self.pending += 1

    def stage(self) -> None:
        k = self.ROWS_PER_PART
        parts = [p for p in self.live if len(self.live[p]) >= k]
        dead, new = [], []
        for p in self.rng.choice(parts, 2, replace=False).tolist():
            rows = self.live[p]
            for i in sorted(self.rng.choice(len(rows), k, replace=False).tolist(), reverse=True):
                dead.append(rows.pop(i))
            for _ in range(k):
                new.append([self.next_rid, p, int(self.rng.integers(1, 51)), int(self.rng.integers(90_000, 10_500_000))])
                self.next_rid += 1
        self._write(np.array(dead + new, dtype=np.int64), np.r_[-np.ones(len(dead)), np.ones(len(new))])

    def reader(self):
        return (
            self.spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", self.pending)
            .parquet(self.src)
        )

    def drain(self, df) -> None:
        from amazon_fresh_sql_data_engineering_spark.streaming.mv import (
            run_mv_maintain_stream_partitioned_mvcc,
        )

        self.pending = 0
        q = run_mv_maintain_stream_partitioned_mvcc(
            df, self.out, self.ckpt, self.KEYS, self.SUMS, num_buckets=self.BUCKETS
        )
        self.progress = list(q.recentProgress)
        self.run_id = str(q.runId)

    def check(self) -> list[str]:
        """The view state against a batch ``mv_build`` over the net base
        rows (every insert not later deleted) of all source files."""
        from pyspark.sql import functions as F

        from amazon_fresh_sql_data_engineering_spark.operators.mv import mv_build
        from amazon_fresh_sql_data_engineering_spark.streaming.mv import read_mv_state_mvcc

        src = self.spark.read.schema(self.SCHEMA).parquet(self.src)
        dead = src.filter(F.col("__op") == -1).select("rid")
        net = src.filter(F.col("__op") == 1).join(dead, "rid", "left_anti")
        cols = ["g", "__mv_cnt", "qty", "rev_c"]
        want = sorted(tuple(r) for r in mv_build(net, self.KEYS, self.SUMS).select(cols).collect())
        got = sorted(tuple(r) for r in read_mv_state_mvcc(self.spark, self.out).select(cols).collect())
        if want == got:
            return []
        return [f"view state differs: {len(got)} groups, batch mv_build has {len(want)}"]

    def op(self) -> Op:
        return Op("stream_fold", build=self.reader, execute=self.drain, prepare=self.stage)


# -- catalog ops --------------------------------------------------------


def catalog_ops(spark, data_dir: str, names: list[str]) -> list[Op]:
    from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG
    from tests.oracle_compare import compare, duckdb_connect

    con = duckdb_connect(data_dir)

    def op(name: str) -> Op:
        spec = CATALOG[name]
        return Op(
            name,
            build=lambda: spec.fn(spark, data_dir),
            execute=noop_write,
            check=lambda df: compare(df, con, spec.oracle),
        )

    return [op(n) for n in names]


# -- set-up -------------------------------------------------------------


def start_session(work: str):
    """Build the engine's session with ``session.build_session``, which
    launches a new driver JVM when none is running."""
    from amazon_fresh_sql_data_engineering_spark.session import build_session

    return build_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # C1 only: in a run this short, when the C2 compiler gets
            # through the hot methods, and how much CPU it takes from the
            # ops meanwhile, varies from run to run. A fixed heap and
            # young generation: how far the collector grows them hinges
            # on pause times, which spread peak RSS by 0.2 of its median
            # from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:TieredStopAtLevel=1 "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xmn{YOUNG_MB}m"
            ),
        },
    )


def set_up(work: str):
    """Launch the driver JVM, build the session and run the warm-up.
    Returns the session, the CPU seconds from process start until then
    (Python imports, JVM launch, ``build_session`` and the warm-up), and
    the wall seconds ``build_session`` took."""
    t = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t
    warm_up(spark)
    cpu_s = tree_cpu_s()
    log(f"setup: {cpu_s:.2f} CPU s, build_session {session_s:.2f} s, "
        f"ready at {time.perf_counter() - T_START:.2f} s")
    return spark, cpu_s, session_s


# -- traced passes ------------------------------------------------------


class TraceHooks(Hooks):
    """Per-op job groups and the catalog, ranking and streaming counters
    of the traced passes."""

    def __init__(self, spark, tracer, stream):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.stream = stream
        self.n = 0

    def _group(self, op, phase: str) -> str:
        return f"perfbench:{self.n}:{op.name}:{phase}"

    def phase(self, op, name: str, fn, *args):
        if name == "build":
            self.n += 1
            self.tracer.op_id = f"{self.n}:{op.name}"
        self.sc.setJobGroup(self._group(op, name), op.name)
        return self.tracer.span(f"op.{name}", None, fn, args, {})

    def after_op(self, op, sample) -> None:
        tot = self.tracer.totals
        st = self.sc.statusTracker()
        groups = [("build_jobs", self._group(op, "build")), ("exec_jobs", self._group(op, "execute"))]
        if op.name == "stream_fold":
            # the stream runs its batches under a job group of its own,
            # named after the query's run id
            groups.append(("exec_jobs", self.stream.run_id))
        for metric, group in groups:
            jobs = st.getJobIdsForGroup(group)
            tot[f"catalog.{metric}"] += len(jobs)
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    s = st.getStageInfo(sid)
                    if s is None:
                        continue
                    tot["catalog.stages"] += 1
                    tot["catalog.tasks"] += s.numTasks
                    tot["catalog.tasks_failed"] += s.numFailedTasks
        tot["catalog.build_s"] += sample.build_s
        tot["catalog.exec_s"] += sample.exec_s
        if op.name == "stream_fold":
            for p in self.stream.progress:
                dur = p.get("durationMs", {})
                for metric, key in spans.STREAM_DURATIONS.items():
                    tot[metric] += dur.get(key, 0) / 1000.0
                tot["streaming.mv.batches"] += 1
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.op_id = None



def traced_passes(spark, loop: Loop, stream, t_end: float, out_dir: str, tag: str):
    """Alternate untraced and traced warm passes until ``t_end`` (at least
    one of each). Returns the passes and the per-layer metrics per traced
    pass."""
    from amazon_fresh_sql_data_engineering_spark.operators.ranking import (
        probe_cache_stats,
    )

    tracer = spans.Tracer(spark)
    hooks = TraceHooks(spark, tracer, stream)
    plain, traced = [], []
    probe0 = probe_cache_stats()
    while not plain or not traced or time.perf_counter() < t_end:
        if len(plain) <= len(traced):
            plain.append(loop.run_pass())
            continue
        tracer.install()
        try:
            traced.append(loop.run_pass(hooks))
        finally:
            tracer.uninstall()
    probe1 = probe_cache_stats()
    tracer.write(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    metrics = spans.layer_metrics(
        tracer.totals,
        len(traced),
        probe1["hits"] - probe0["hits"],
        probe1["misses"] - probe0["misses"],
    )
    metrics["trace.pass_s"] = statistics.median(p.seconds for p in traced)
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - statistics.median(
        p.seconds for p in plain
    )
    return plain + traced, metrics


# -- main ---------------------------------------------------------------


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    spark, setup_cpu_s, session_s = set_up(args.work)

    from amazon_fresh_sql_data_engineering_spark.operators.ranking import clear_probe_cache

    ops = catalog_ops(spark, args.data, wl["catalog"])
    stream = None
    if wl["stream"]:
        stream = MvStream(spark, args.data, f"{args.work}/stream", args.seed)
        ops.append(stream.op())
    cleanup = Cleanup(spark, os.environ["TMPDIR"])
    cleanup()  # the first op starts from a compacted heap too
    loop = Loop(
        ops,
        args.seed,
        cleanup=cleanup,
        log=log,
        final_checks=[stream.check] if stream is not None else [],
        cpu=tree_cpu_s,
    )

    # the measured window starts with the cold pass; whole warm passes
    # follow while it has lasted less than --seconds
    t_end = time.perf_counter() + args.seconds
    clear_probe_cache()
    cold = loop.run_pass(check=True, shuffle=False)
    log(
        f"cold pass: {cold.seconds:.2f} s, checks done at {time.perf_counter() - T_START:.1f} s  "
        + " ".join(f"{s.op}={s.latency_s:.3f}/{s.cpu_s:.2f}cpu" for s in cold.samples)
    )
    log("live heap after each op (MB): " + " ".join(f"{mb:.1f}" for mb in cleanup.live_mb))
    layer: dict[str, float] = {}
    if args.trace:
        warm, layer = traced_passes(
            spark, loop, stream, t_end, args.spans, f"{args.workload}-{args.seed}"
        )
    else:
        warm = []
        while time.perf_counter() < t_end:
            warm.append(loop.run_pass())
    for p in warm:
        log("warm pass: %.2f s  %s" % (p.seconds, " ".join(f"{s.op}={s.latency_s:.3f}" for s in p.samples)))
    loop.run_final_checks()
    log(f"warm passes and final checks done at {time.perf_counter() - T_START:.1f} s")

    metrics = {**cold_metrics(cold), **warm_metrics(warm)}
    metrics["setup_s"] = setup_cpu_s
    metrics["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    metrics["live_heap_mb"] = statistics.median(cleanup.live_mb)
    metrics["session.start_s"] = session_s
    metrics.update(layer)
    metrics["op_samples"] = sum(len(p.samples) for p in warm)
    with open(args.out, "w") as fh:
        json.dump(
            {
                "metrics": metrics,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "errors": loop.errors,
            },
            fh,
        )
    log(f"result written at {time.perf_counter() - T_START:.1f} s")
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1:])
    sys.stderr.flush()
    # no spark.stop() or interpreter teardown: run.py kills the JVM and
    # its Python workers, which would otherwise spend seconds on an
    # orderly shutdown that nothing measures
    os._exit(code)
