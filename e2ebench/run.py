"""One-command benchmark of the NL->SQL service and the operator registry.

    python3 e2ebench/run.py --workload ask_serial --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The command generates the input tables
(once per checkout, under ``.bench_build/e2ebench``), starts the engine in
a child process (``engine.py``), sets it up, warms it, drives the named
workload closed-loop for ``--seconds`` seconds, checks every answer,
stops everything it started, and prints, as its last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The line before
it is a report with sample counts, the per-verb split and the run's
settings. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs a traced engine and reports the per-layer metrics plus the tracing
overhead on each end-to-end metric. See README.md in this directory.

Exit status: 0 when every check passed and nothing the run started is
left alive; 1 when a check failed or a process had to be killed; 2 on a
usage or environment error (no result line then).
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "dbt_nlp_sqlizer_team04_spark")
BUILD = os.path.join(ROOT, ".bench_build", "e2ebench")

WORKLOADS = ("ask_serial", "serve_mixed", "operators")
# Set-up reps per run; the median rep goes into setup_s. A service set-up
# (views and schema crawl) takes 7-20 s, so the HTTP workloads take two
# reps to keep a run near one minute; an operators rep takes about 2 s.
SETUPS = {"ask_serial": 2, "serve_mixed": 2, "operators": 3}
READY_TIMEOUT_S = 150.0
REQUEST_TIMEOUT_S = 60.0
STOP_TIMEOUT_S = 30.0
KILL_TIMEOUT_S = 10.0
# the engine's driver memory: well below this host class's RAM (the
# engine's own default is 16g, which a 15 GB host without swap cannot back)
DRIVER_MEMORY = "2g"
# a percentile needs this many samples beyond it to be reported
TAIL_SAMPLES = 10

E2E_METRICS = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("latency_p50_s", "s", "lower"),
    ("answer_f1", "ratio", "higher"),
)


class Failure(Exception):
    """The run cannot produce a result (exit 2, no result line)."""


class Stop(Exception):
    """SIGTERM or SIGINT arrived."""


def _on_signal(signum, _frame):
    raise Stop(f"signal {signum}")


# ----------------------------------------------------------------- engine
class EngineProcess:
    """The engine child: started in its own session, read line by line,
    and always stopped, with everything in its session, by ``close``."""

    def __init__(self, args, data_dir: str):
        os.makedirs(BUILD, exist_ok=True)
        tag = f"{args.workload}-{args.seed}-t{args.trace}"
        dirs = {name: os.path.join(BUILD, name)
                for name in ("warehouse", "scratch", "local", "tmp", "logs")}
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        self.models = os.path.join(BUILD, "models", tag)
        self.spans_path = os.path.join(BUILD, "spans", f"{tag}.jsonl")
        os.makedirs(os.path.dirname(self.spans_path), exist_ok=True)
        self.log_path = os.path.join(dirs["logs"], f"engine-{tag}.log")
        cpus = str(os.cpu_count() or 1)
        env = {k: v for k, v in os.environ.items() if k != "SQLIZER_LLM_BASE_URL"}
        env.update(
            PYTHONPATH=ROOT,
            SPARK_GRAFT_CPUS=cpus,
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            SPARK_LOCAL_DIRS=dirs["local"],
            SPARK_GRAFT_SCRATCH=dirs["scratch"],
            TMPDIR=dirs["tmp"],
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        )
        self.settings = {
            "data_dir": os.path.relpath(data_dir, ROOT),
            "warehouse": os.path.relpath(dirs["warehouse"], ROOT),
            "scratch": os.path.relpath(dirs["scratch"], ROOT),
            "model_dir": os.path.relpath(self.models, ROOT),
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SQLIZER_LLM_BASE_URL": None,
            "setups": SETUPS[args.workload],
        }
        cmd = [
            sys.executable, os.path.join(HERE, "engine.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--setups", str(SETUPS[args.workload]), "--data", data_dir,
            "--warehouse", dirs["warehouse"], "--models", self.models,
            "--spans", self.spans_path,
        ]
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=self.log, text=True,
            start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()
        self.port: int | None = None

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def event(self, name: str, timeout_s: float) -> dict:
        """The next JSON event line named ``name``."""
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                line = self.lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise Failure(f"engine sent no {name!r} within {timeout_s:.0f}s") from None
            if line is None:
                raise Failure(f"engine exited before {name!r}; see {self.log_path}")
            try:
                msg = json.loads(line)
            except json.JSONDecodeError:
                continue
            if msg.get("event") == name:
                return msg

    def request(self, method: str, path: str, body: dict | None = None,
                op_id: int | None = None) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=REQUEST_TIMEOUT_S)
        try:
            headers = {"Content-Type": "application/json"}
            if op_id is not None:
                headers["X-Bench-Op"] = str(op_id)
            payload = json.dumps(body).encode() if body is not None else None
            conn.request(method, path, body=payload, headers=headers)
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def close(self) -> list[int]:
        """Stop the engine and everything in its session; returns the
        pids that were still alive and had to be killed."""
        if self.proc.poll() is None and self.port is not None:
            try:
                self.request("POST", "/_bench/shutdown", {})
            except OSError:
                pass
        if self.proc.poll() is None and self.port is None:
            self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        from procs import kill_session, session_members

        leftover = session_members(self.proc.pid)
        still = kill_session(self.proc.pid, KILL_TIMEOUT_S)
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait(timeout=KILL_TIMEOUT_S)
        self.log.close()
        if still:
            raise Failure(f"processes {still} survived SIGKILL")
        return leftover


# -------------------------------------------------------------- statistics
def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def latency_summary(latencies: list[float]) -> dict:
    out = {"n": len(latencies), "p50_s": statistics.median(latencies)}
    if len(latencies) >= 200:
        out["p95_s"] = percentile(latencies, 95)
    for q in (99, 95, 90, 80):
        if len(latencies) * (100 - q) / 100 >= TAIL_SAMPLES:
            out["tail"] = {"q": q, "s": percentile(latencies, q)}
            break
    return out


def relative_worsening(on: float, off: float, better: str) -> float:
    """How much worse the traced value is than the untraced one, as a
    share of the untraced value (negative: the traced side was better)."""
    if not off or not on:
        return 0.0
    return on / off - 1.0 if better == "lower" else off / on - 1.0


# ------------------------------------------------------------- HTTP clients
def _body(op: dict) -> dict | None:
    return None if op["method"] == "GET" else op["body"]


def drive(engine: EngineProcess, cycles, clients: int, traced_run: bool,
          seconds: float) -> tuple[list[dict], dict]:
    """Closed loop: ``clients`` threads take the next request from the
    shared sequence, send it, wait for the reply, and repeat. A block
    stops at the first cycle boundary after its time is up. An untraced
    run is one block; a traced run is an untraced block, then a traced
    one, each given half the time."""
    records: list[dict] = []
    elapsed = {"on": 0.0, "off": 0.0}
    lock = threading.Lock()
    next_id = [0]
    sides = ["off"] if not traced_run else ["off", "on"]
    block_s = seconds / len(sides)
    first_on = True
    for side in sides:
        engine.request("POST", "/_bench/window",
                       {"action": "start", "traced": side == "on",
                        "reset": side == "on" and first_on})
        first_on = first_on and side != "on"
        t0 = time.perf_counter()
        pending: list[dict] = []

        def take() -> tuple[int, dict] | None:
            with lock:
                if not pending:
                    if time.perf_counter() - t0 >= block_s:
                        return None
                    pending.extend(next(cycles))
                op = pending.pop(0)
                next_id[0] += 1
                return next_id[0], op

        def client() -> None:
            while True:
                item = take()
                if item is None:
                    return
                op_id, op = item
                s = time.perf_counter()
                try:
                    resp = engine.request(op["method"], op["path"], _body(op), op_id)
                except (OSError, ValueError) as e:
                    resp = {"ok": False, "error": f"transport: {e}"}
                e_ = time.perf_counter()
                with lock:
                    records.append({"id": op_id, "op": op, "resp": resp,
                                    "latency_s": e_ - s, "side": side})

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed[side] += time.perf_counter() - t0
        engine.request("POST", "/_bench/window", {"action": "stop"})
    return records, elapsed


def run_http(args, engine: EngineProcess) -> dict:
    import ops

    ready = engine.event("ready", READY_TIMEOUT_S)
    engine.port = ready["port"]
    registry = ops.registry_questions()
    if args.workload == "ask_serial":
        warm = ops.ask_warmup(registry)
        cycles = ops.ask_serial(args.seed, registry)
        clients = 1
    else:
        hot = ops.hot_set(registry)
        for op in hot["model_query"]:
            for field in ("path", "key"):
                op[field] = op[field].replace("{schema_id}", ready["schema_id"])
        warm = [op for verb_ops in hot.values() for op in verb_ops]
        cycles = ops.serve_mixed(args.seed, hot)
        clients = os.cpu_count() or 1
    t0 = time.perf_counter()
    for op in warm:
        engine.request(op["method"], op["path"], _body(op))
    warm_s = time.perf_counter() - t0
    from procs import cpu_ticks, steal_share

    ticks = cpu_ticks()
    records, elapsed = drive(engine, cycles, clients, bool(args.trace),
                             args.seconds)
    steal = steal_share(ticks, cpu_ticks())
    report = engine.request("POST", "/_bench/report", {})
    replay = None
    if args.workload == "serve_mixed":
        distinct = list({r["op"]["key"]: r["op"] for r in records}.values())
        answers = engine.request("POST", "/_bench/replay", {"ops": distinct})
        replay = {op["key"]: resp for op, resp in zip(distinct, answers["responses"])}
    return {"setup": {**ready["setup"], "warm_s": warm_s}, "phases": ready["phases"],
            "records": records, "cpu_steal_share": steal,
            "elapsed": elapsed, "report": report, "replay": replay,
            "clients": clients}


def check_http(args, result: dict) -> dict:
    """Every answer's check, after the timed region. Returns per-record
    failure reasons and the F1 of each gold-bearing answer."""
    import checks

    gold = checks.GoldCache(os.path.join(ROOT, result["data_dir"]))
    replay = result["replay"]
    for r in result["records"]:
        op, resp = r["op"], r["resp"]
        why = None
        if op["probe"]:
            why = checks.probe_failure(op, resp)
        elif not resp.get("ok"):
            why = f"not ok: {str(resp.get('error'))[:120]}"
        if op["gold"] is not None:
            r["f1"] = checks.answer_f1(resp, gold.rows(op["gold"]))
            if why is None and r["f1"] < 1.0:
                why = f"answer F1 {r['f1']:.3f} against the oracle"
        if why is None and replay is not None:
            why = checks.replay_mismatch(resp, replay[op["key"]])
        r["failure"] = why
    return result


# ---------------------------------------------------------------- metrics
def e2e_metrics(setup: dict, records: list[dict], elapsed: float) -> dict:
    f1s = [r["f1"] for r in records if r.get("f1") is not None]
    lat = [r["latency_s"] for r in records]
    return {
        "setup_s": setup["spark_s"] + setup["rep_s"],
        "ops_per_s": len(records) / elapsed if elapsed else 0.0,
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
        "answer_f1": statistics.fmean(f1s) if f1s else 0.0,
    }


LAYER_SELF = ("server", "service", "linking", "intent", "candidates", "safety",
              "cost_gate", "executor")
PER_LAYER_UNITS = {
    "setup.spark_s": "s", "setup.views_s": "s", "setup.crawl_s": "s",
    "setup.crawl_jobs": "count", "setup.index_s": "s", "setup.train_s": "s",
    "setup.warm_s": "s",
    **{f"{layer}.self_s": "s" for layer in LAYER_SELF},
    "server.wait_s": "s",
    "linking.calls_per_op": "count", "candidates.generated_per_op": "count",
    "candidates.tried_per_op": "count", "candidates.useful_ratio": "ratio",
    "safety.calls_per_op": "count", "safety.refused": "count",
    "plan.analyze_s": "s", "cost_gate.rejected": "count",
    "execute.collect_s": "s", "execute.timeouts": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.collect_s": "s", "stream.batches_per_op": "count",
    "py4j.calls_per_op": "count", "py4j.busy_s": "s",
    "codegen.compiles_per_op": "count",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.run_s": "s", "spark.cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.output_bytes": "bytes",
    **{f"trace_overhead.{m}": "ratio" for m, _u, _b in E2E_METRICS},
}


def layer_metrics(setup: dict, report: dict, traced: list[dict],
                  answered: int, extra: dict) -> dict:
    """Per-layer metrics over the traced operations: times and counts per
    operation, refusals and timeouts as totals."""
    n = max(len(traced), 1)
    layers = report.get("layers") or {}
    counters = report.get("counters") or {}
    spark = report.get("spark") or {}

    def layer(name: str, field: str) -> float:
        return layers.get(name, {}).get(field, 0.0)

    tried = counters.get("candidates.tried", 0.0)
    out = {
        "setup.spark_s": setup.get("spark_s", 0.0),
        "setup.views_s": setup.get("views_s", 0.0),
        "setup.crawl_s": setup.get("crawl_s", 0.0),
        "setup.crawl_jobs": setup.get("crawl_jobs", 0.0),
        "setup.index_s": setup.get("index_s", 0.0),
        "setup.train_s": setup.get("train_s", 0.0),
        "setup.warm_s": setup.get("warm_s", 0.0),
        **{f"{name}.self_s": layer(name, "self_s") / n for name in LAYER_SELF},
        "linking.calls_per_op": layer("linking", "calls") / n,
        "candidates.generated_per_op": counters.get("candidates.generated", 0.0) / n,
        "candidates.tried_per_op": tried / n,
        "candidates.useful_ratio": answered / tried if tried else 0.0,
        "safety.calls_per_op": layer("safety", "calls") / n,
        "safety.refused": counters.get("safety.refused", 0.0),
        "plan.analyze_s": layer("plan", "self_s") / n,
        "cost_gate.rejected": counters.get("cost_gate.rejected", 0.0),
        "execute.collect_s": layer("execute", "total_s") / n,
        "execute.timeouts": counters.get("execute.timeouts", 0.0),
        "py4j.calls_per_op": counters.get("py4j.calls", 0.0) / n,
        "py4j.busy_s": counters.get("py4j.busy_s", 0.0) / n,
        "codegen.compiles_per_op": report.get("codegen", 0) / n,
        "spark.jobs_per_op": spark.get("jobs", 0) / n,
        "spark.stages_per_op": spark.get("stages", 0) / n,
        "spark.tasks_per_op": spark.get("tasks", 0) / n,
        "spark.run_s": spark.get("run_s", 0.0) / n,
        "spark.cpu_s": spark.get("cpu_s", 0.0) / n,
        "spark.gc_s": spark.get("gc_s", 0.0) / n,
        "spark.shuffle_bytes": spark.get("shuffle_bytes", 0) / n,
        "spark.spill_bytes": spark.get("spill_bytes", 0) / n,
        "spark.output_bytes": spark.get("output_bytes", 0) / n,
        "server.wait_s": 0.0,
        "queries.build_s": 0.0, "queries.build_jobs": 0.0,
        "queries.collect_s": 0.0, "stream.batches_per_op": 0.0,
    }
    out.update(extra)
    return out


def overheads(setup: dict, on: dict, off: dict) -> dict:
    """Tracing overhead per end-to-end metric, traced against untraced
    blocks of the same run (set-up: traced against untraced warm reps)."""
    out = {}
    for name, _unit, better in E2E_METRICS:
        if name == "setup_s":
            a, b = setup.get("rep_on_s", 0.0), setup.get("rep_off_s", 0.0)
        else:
            a, b = on[name], off[name]
        out[f"trace_overhead.{name}"] = relative_worsening(a, b, better)
    return out


# ------------------------------------------------------------------ main
def run(args) -> tuple[dict, dict]:
    """Returns (report, result line)."""
    sys.path.insert(0, ROOT)
    import datagen

    data_dir = datagen.ensure_data(BUILD)
    engine = EngineProcess(args, data_dir)
    leftover: list[int] = []
    try:
        if args.workload == "operators":
            res = engine.event("result", READY_TIMEOUT_S + 3 * args.seconds + 120)
            engine.event("stopped", STOP_TIMEOUT_S)
        else:
            res = run_http(args, engine)
    finally:
        # a second signal must not cut the teardown short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        leftover = engine.close()
    res["data_dir"] = engine.settings["data_dir"]
    return summarize(args, engine, res, leftover)


def summarize(args, engine: EngineProcess, res: dict, leftover: list[int]):
    setup = res["setup"]
    if args.workload == "operators":
        records = []
        for r in res["records"]:
            entry = res["checks"]["entries"][r["name"]]
            records.append({**r, "side": "on" if r["traced"] else "off",
                            "f1": entry["f1"],
                            "failure": None if entry["ok"] else entry["status"]})
        report = {"peak_rss_mb": res["peak_rss_mb"],
                  **{k: res.get(k) for k in ("layers", "counters", "codegen", "spark",
                                             "block_peaks")}}
    else:
        check_http(args, res)
        records = res["records"]
        report = res["report"]
    by_side = {s: [r for r in records if r["side"] == s] for s in ("off", "on")}
    failed = [r for r in records if r.get("failure")]
    metrics_off = e2e_metrics(setup, by_side["off"], res["elapsed"]["off"])
    verbs: dict[str, list[float]] = {}
    for r in by_side["off"]:
        verb = r["op"]["verb"] if "op" in r else "entry"
        verbs.setdefault(verb, []).append(r["latency_s"])
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "clients": res.get("clients", 1),
        "cpu_steal_share": res["cpu_steal_share"],
        "settings": engine.settings, "calib_s": setup.get("calib_s"),
        "setup": setup, "phases": res.get("phases"), "left_running": leftover,
        "peak_rss_mb": report["peak_rss_mb"],
        "samples": len(by_side["off"]), "traced_samples": len(by_side["on"]),
        "latency": latency_summary([r["latency_s"] for r in by_side["off"]]
                                   or [0.0]),
        "verb_p50_s": {v: statistics.median(x) for v, x in sorted(verbs.items())},
        "verb_n": {v: len(x) for v, x in sorted(verbs.items())},
        "failures": [{"op": r.get("op", {}).get("key", r.get("name")),
                      "why": r["failure"]} for r in failed][:20],
        "metrics_untraced": metrics_off,
    }
    details["slowest"] = [
        [round(r["latency_s"], 4), r["op"]["key"] if "op" in r else r["name"]]
        for r in sorted(records, key=lambda r: -r["latency_s"])[:5]
    ]
    if args.workload == "operators":
        details["entries"] = res["checks"]["entries"]
    if args.trace:
        traced = by_side["on"]
        metrics_on = e2e_metrics(setup, traced, res["elapsed"]["on"])
        extra = {}
        if args.workload == "operators":
            n = max(len(traced), 1)
            extra = {
                "queries.build_s": statistics.fmean(r["build_s"] for r in traced),
                "queries.collect_s": statistics.fmean(r["collect_s"] for r in traced),
                "queries.build_jobs": res["build_jobs"] / n,
                "stream.batches_per_op": (report["counters"] or {}).get(
                    "stream.batches", 0) / n,
            }
        else:
            handler = report.get("handler_s") or {}
            waits = [r["latency_s"] - handler[str(r["id"])]
                     for r in traced if str(r["id"]) in handler]
            extra = {"server.wait_s": statistics.fmean(waits) if waits else 0.0}
        answered = sum(1 for r in traced if r.get("op", {}).get("verb") in
                       ("ask", "nl2sql", "model_query") and r["resp"].get("ok"))
        values = layer_metrics(setup, report, traced, answered, extra)
        values.update(overheads(setup, metrics_on, metrics_off))
        details["peak_rss_mb_by_side"] = report.get("block_peaks")
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
        details["spans"] = os.path.relpath(engine.spans_path, ROOT)
    else:
        metrics = {name: {"value": metrics_off[name], "unit": unit}
                   for name, unit, _b in E2E_METRICS}
    line = {
        "correct": not failed and not leftover,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": metrics,
    }
    return details, line


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        print(f"e2ebench: engine package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        details, line = run(args)
    except (Failure, Stop) as e:
        print(f"e2ebench: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"report": details}))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
