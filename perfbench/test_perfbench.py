"""Self-test of the benchmark's own code; needs no Spark.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402
import procs  # noqa: E402
import spans  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _op(name: str, fail: bool = False, problems: list[str] | None = None) -> harness.Op:
    def execute(_):
        if fail:
            raise RuntimeError(f"{name} injected failure")

    return harness.Op(name, build=lambda: name, execute=execute, check=lambda _: problems or [])


def test_injected_failing_op_raises_failed_fraction():
    loop = harness.Loop([_op("a"), _op("b", fail=True), _op("c")], seed=1, log=lambda _: None)
    cold = loop.run_pass(check=True)
    warm = [loop.run_pass() for _ in range(2)]
    assert loop.attempted == 9
    assert loop.failed == 3  # once per pass
    assert [s.ok for s in cold.samples].count(False) == 1
    assert all(not s.ok for p in warm for s in p.samples if s.op == "b")
    assert loop.failed / loop.attempted > 0


def test_failed_output_check_counts_once():
    loop = harness.Loop([_op("a"), _op("b", problems=["row count differs"])], seed=1, log=lambda _: None)
    loop.run_pass(check=True)
    loop.run_pass()
    assert (loop.attempted, loop.failed) == (4, 1)
    loop.final_checks.append(lambda: ["view state differs"])
    loop.run_final_checks()
    assert loop.failed == 2


def test_seed_sets_op_order():
    names = [f"op{i}" for i in range(8)]

    def orders(seed):
        loop = harness.Loop([_op(n) for n in names], seed=seed, log=lambda _: None)
        return [[s.op for s in loop.run_pass().samples] for _ in range(3)]

    assert orders(5) == orders(5)
    assert orders(5) != orders(6)


def test_end_to_end_summary_parses_and_matches_benchmark():
    import run

    bench = _bench()
    loop = harness.Loop([_op("a"), _op("b")], seed=3, log=lambda _: None, cpu=lambda: 2.0)
    cold = loop.run_pass(check=True)
    warm = [loop.run_pass()]
    measured = {**harness.cold_metrics(cold), **harness.warm_metrics(warm)}
    measured.update(setup_s=1.5, peak_rss_mb=900.0, live_heap_mb=90.0)  # read by the worker
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert set(units) <= set(measured)
    assert set(run.WALL_CLOCK) <= set(measured) - set(units)
    line = json.dumps(harness.summary(measured, units, loop.attempted, loop.failed))
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["attempted"] == 4 and res["failed"] == 0
    assert set(res["metrics"]) == set(units)
    for name, m in res["metrics"].items():
        assert m["unit"] == units[name] and isinstance(m["value"], float)


def test_no_warm_passes_gives_no_warm_metrics():
    assert harness.warm_metrics([]) == {}


def test_tree_cpu_counts_a_child_in_its_own_process_group():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ntime.sleep(30)"
    before = procs.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", busy], start_new_session=True)
    try:
        for _ in range(100):
            if procs.tree_cpu_s() - before >= 0.5:
                break
            time.sleep(0.05)
        assert procs.tree_cpu_s() - before >= 0.5
        assert child.pid in procs.tree(os.getpid())
    finally:
        child.kill()
        child.wait()
    assert child.pid not in procs.tree(os.getpid())


def test_per_layer_names_match_benchmark():
    produced = set(spans.layer_metrics({}, 1, 0, 0))
    produced |= {"session.start_s", "trace.pass_s", "trace.overhead_s"}
    assert produced == {m["name"] for m in _bench()["per_layer"]}


def test_summary_refuses_missing_metric():
    with pytest.raises(KeyError):
        harness.summary({"pass_s": 1.0}, {"pass_s": "s", "setup_s": "s"}, 1, 0)


def test_datagen_is_seeded():
    a, b, c = datagen.tables(11), datagen.tables(11), datagen.tables(12)
    assert set(a) == set(datagen.ROWS) | {"region", "nation"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.ROWS["lineitem"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert res.returncode != 0
    assert res.stdout == ""
