"""The benchmark's own tests.

    python3 -m pytest e2ebench/test_e2ebench.py -q

The first three groups are pure Python and take seconds. The teardown
and smoke tests start the engine (a JVM each) and take a few minutes.
"""

from __future__ import annotations

import itertools
import json
import os
import signal
import subprocess
import sys
import time

import pytest

import ops
import procs
from spans import Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]

REGISTRY = [(f"nl{i:02d}", f"question {i}", f"SELECT {i}") for i in range(9)]


# ------------------------------------------------------------ operation lists
def _take(cycles, n: int) -> list:
    """The first ``n`` cycles, flattened."""
    return [op for cycle in itertools.islice(cycles, n) for op in cycle]


def _ask_serial(seed):
    return [op["key"] for op in _take(ops.ask_serial(seed, REGISTRY), 3)]


def _serve_mixed(seed):
    return [op["key"] for op in _take(ops.serve_mixed(seed, ops.hot_set(REGISTRY)), 3)]


def _operators(seed):
    _entries, cycles = ops.operators(seed)
    return _take(cycles, 3)


@pytest.mark.parametrize("make", [_ask_serial, _serve_mixed, _operators])
def test_same_seed_same_operations(make):
    assert make(7) == make(7)


@pytest.mark.parametrize("make", [_ask_serial, _serve_mixed, _operators])
def test_different_seeds_different_operations(make):
    assert make(7) != make(8)


def test_cycles_keep_their_composition():
    """A cycle's mix of work is fixed; only literals and order vary."""
    for seed in (1, 2):
        cycle = next(ops.ask_serial(seed, REGISTRY))
        assert len(cycle) == len(ops.SHAPES) + ops.REGISTRY_PER_CYCLE
        block = next(ops.serve_mixed(seed, ops.hot_set(REGISTRY)))
        verbs = sorted(op["verb"] for op in block)
        assert verbs == sorted(v for v, n in ops.BLOCK for _ in range(n))
        entries, cycles = ops.operators(seed)
        assert sorted(next(cycles)) == sorted(entries) == sorted(ops.OPERATORS.values())


def test_registry_questions_are_gold_bearing():
    reg = ops.registry_questions()
    assert len(reg) >= 20
    assert all(q and gold.strip() for _name, q, gold in reg)


# --------------------------------------------------------------- self time
class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, dt):
        self.t += dt


def test_self_time_on_a_synthetic_span_tree():
    """server(10) > service(8) > {linking(2), execute(3) > plan(1)}."""
    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.enabled = True
    server = tr.open("server", "s")
    clock.advance(1)
    service = tr.open("service", "v")
    clock.advance(1)
    linking = tr.open("linking", "l")
    clock.advance(2)
    tr.close(linking)
    execute = tr.open("execute", "e")
    clock.advance(1)
    plan = tr.open("plan", "p")
    clock.advance(1)
    tr.close(plan)
    clock.advance(1)
    tr.close(execute)
    clock.advance(2)
    tr.close(service)
    clock.advance(1)
    tr.close(server)

    self_by_layer = {k: v["self_s"] for k, v in tr.layers.items()}
    assert self_by_layer == {"server": 2, "service": 3, "linking": 2,
                             "execute": 2, "plan": 1}
    total = {k: v["total_s"] for k, v in tr.layers.items()}
    assert total["server"] == 10 and total["service"] == 8
    # the offline arithmetic over the recorded spans agrees, and self
    # times add up to the root span's duration
    offline = self_times(tr.spans)
    assert offline == [2, 3, 2, 2, 1]
    assert sum(offline) == total["server"]


def test_wrapped_function_counts_only_when_enabled():
    tr = Tracer()
    seen = []
    f = tr.wrap(lambda x: x + 1, "layer", "f", on_result=seen.append)
    assert f(1) == 2 and not tr.spans and not seen
    tr.enabled = True
    assert f(2) == 3 and len(tr.spans) == 1 and seen == [3]
    assert tr.layers["layer"]["calls"] == 1


# --------------------------------------------------------- engine processes
def _descendant_sessions(pid: int) -> set[int]:
    """Session ids of ``pid``'s live descendants."""
    children: dict[int, list[int]] = {}
    sids: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        sids[int(name)] = int(fields[3])
    out, todo = set(), list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.add(sids[p])
        todo.extend(children.get(p, []))
    return out


def _jvm_started(sids: set[int]) -> bool:
    for sid in sids:
        for pid in procs.session_members(sid):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        return True
            except OSError:
                pass
    return False


def test_interrupted_run_leaves_nothing_running():
    """SIGINT while the engine is up: the command returns within its
    bound, prints no result, and nothing it started is alive."""
    proc = subprocess.Popen(
        RUN + ["--workload", "ask_serial", "--seed", "1", "--seconds", "30",
               "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    sids: set[int] = set()
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and not _jvm_started(sids):
        sids |= _descendant_sessions(proc.pid)
        time.sleep(0.5)
    assert _jvm_started(sids), "the engine's JVM never started"
    time.sleep(5)  # somewhere inside set-up
    sids |= _descendant_sessions(proc.pid)
    proc.send_signal(signal.SIGINT)
    out, _err = proc.communicate(timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in out
    assert all(procs.session_members(sid) == [] for sid in sids)


def _run(workload: str, seed: int, seconds: int, trace: int = 0):
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    assert len(lines) >= 2, proc.stderr[-2000:]
    return proc.returncode, json.loads(lines[-1]), json.loads(lines[-2])["report"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["ask_serial", "operators"])
def test_smoke_run(workload):
    """A short run of each gated workload passes its checks, reports
    every end-to-end metric, and leaves nothing running."""
    code, res, report = _run(workload, 5, 2)
    assert code == 0, report["failures"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    for m in _spec()["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0
    assert report["left_running"] == []


def test_serve_mixed_reports_the_trained_linking_defect():
    """serve_mixed runs to the end, leaves nothing running, and its checks
    find the program defect README.md lists under "Known failures": with
    the trained model, "orders placed before 1997" is answered from
    lineitem (every run). Other failures under four concurrent clients
    come and go between runs (README.md) and are not asserted on. When the
    defect is fixed this test fails and the run should pass instead."""
    code, res, report = _run("serve_mixed", 7, 10)
    assert report["left_running"] == []
    assert res["attempted"] >= 20 and set(report["verb_n"]) == {
        "ask", "run", "nl2sql", "model_query", "overview", "probe"}
    wrong_table = ('POST /ai/ask {"question": "orders placed before 1997"}',
                   "answer F1 0.000 against the oracle")
    whys = {(f["op"], f["why"]) for f in report["failures"]}
    assert wrong_table in whys
    assert code == 1 and not res["correct"]


def test_traced_run_reports_every_layer_metric():
    code, res, report = _run("ask_serial", 5, 4, trace=1)
    assert code == 0, report["failures"]
    names = {m["name"] for m in _spec()["per_layer"]}
    assert names == set(res["metrics"])
    for layer in ("service", "linking", "candidates", "safety", "executor"):
        assert res["metrics"][f"{layer}.self_s"]["value"] > 0
    assert res["metrics"]["spark.jobs_per_op"]["value"] > 0
    assert os.path.getsize(os.path.join(ROOT, report["spans"])) > 0
