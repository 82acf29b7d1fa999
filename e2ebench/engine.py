"""The engine process of one benchmark run.

``run.py`` starts this file as the leader of a new process session. It
builds the SparkSession, sets the engine up ``--setups`` times, and then
either serves the engine over HTTP (``ask_serial``, ``serve_mixed``:
``server.py``'s handler, plus a few ``/_bench/`` control routes) or runs
the ``operators`` loop in-process. It talks to ``run.py`` in JSON lines
on stdout; Spark logs go to stderr.

    {"event": "ready", ...}   the server is up (HTTP workloads)
    {"event": "result", ...}  the operator loop's measurements
    {"event": "stopped"}      teardown finished

Teardown runs on success, on failure and on SIGTERM/SIGINT: stop the
HTTP server, stop the SparkSession, close the py4j gateway and the JVM's
stdin (the JVM exits on EOF there), and wait, with a bound, for the JVM
to exit, killing it if the wait runs out.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import procs  # noqa: E402
from spans import Py4JMeter, Tracer, install_layers  # noqa: E402

JVM_EXIT_WAIT_S = 15.0


def emit(event: str, **fields) -> None:
    print(json.dumps({"event": event, **fields}), flush=True)


class Interrupted(Exception):
    pass


def _on_signal(signum, _frame):
    raise Interrupted(f"signal {signum}")


class Engine:
    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.tracer = Tracer()
        self.meter = Py4JMeter(self.tracer)
        self.spark = None
        self.probe = None
        self.httpd = None
        self.stopping = threading.Event()
        self.setup: dict[str, float] = {}
        self.jvm_pid: int | None = None
        self.rep: dict[str, float] = {}
        # traced-window accumulators (HTTP workloads)
        self.window: dict = {}
        self.traced_totals: dict = {"codegen": 0, "spark": None}
        self.handler_s: dict[str, float] = {}
        self.block_peaks: dict[str, float] = {"on": 0.0, "off": 0.0}
        # seconds since process start at the end of each phase
        self.phases: dict[str, float] = {}

    def phase(self, name: str) -> None:
        self.phases[name] = time.perf_counter() - STARTED

    # ----------------------------------------------------------- session
    def start_spark(self) -> None:
        from pyspark import SparkContext

        from dbt_nlp_sqlizer_team04_spark.session import get_spark

        self.spark = get_spark(
            "e2ebench",
            extra_conf={"spark.sql.warehouse.dir": self.args.warehouse},
        )
        self.setup["spark_s"] = time.perf_counter() - STARTED
        self.phase("spark")
        self.jvm_pid = SparkContext._gateway.proc.pid
        if self.traced:
            from sparkstats import SparkProbe

            self.meter.install()
            install_layers(self.tracer)
            self.probe = SparkProbe(self.spark, self.meter)

    def pids(self) -> list[int]:
        return [os.getpid()] + ([self.jvm_pid] if self.jvm_pid else [])

    def calibrate(self) -> float:
        """bench.py's host calibration job: a CPU-bound xxhash64 sum over
        200M generated rows, no I/O. The plan is compiled on a tiny range
        first, so the timed run measures the host, not the compiler."""
        def job(n: int) -> float:
            t0 = time.perf_counter()
            self.spark.range(0, n, 1, 32).selectExpr(
                "shiftright(xxhash64(id), 32) AS h"
            ).groupBy().sum("h").collect()
            return time.perf_counter() - t0

        job(32_000)
        return job(200_000_000)

    def teardown(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        except Exception:  # noqa: BLE001 — teardown must go on
            traceback.print_exc()
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=JVM_EXIT_WAIT_S)
            except Exception:  # noqa: BLE001 — TimeoutExpired or worse
                proc.kill()
                proc.wait(timeout=JVM_EXIT_WAIT_S)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ------------------------------------------------------------ set-up
    def _timed_calls(self, module, attr: str, key: str, jobs_key: str | None = None):
        """From now on, add the time spent in ``module.attr`` (and, traced,
        the Spark jobs it started) to the current set-up rep's ``key``."""
        orig = getattr(module, attr)
        engine = self

        def timed(*a, **kw):
            j0 = engine.probe.next_job_id() if engine.probe and jobs_key else 0
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                engine.rep[key] = engine.rep.get(key, 0.0) + time.perf_counter() - t0
                if engine.probe and jobs_key:
                    engine.rep[jobs_key] = (engine.rep.get(jobs_key, 0)
                                            + engine.probe.next_job_id() - j0)

        setattr(module, attr, timed)

    def setup_reps(self, one_rep) -> object:
        """Run ``one_rep`` ``--setups`` times; record each rep's wall time
        and the per-step breakdown, and return the last rep's product.

        A traced run adds one rep and switches tracing on for every second
        rep (off, on, off, on, ...). The first rep is cold and left out of
        the comparison; a traced rep runs before the untraced rep it is
        compared with, so the set-up overhead errs high, not low."""
        n = self.args.setups + (1 if self.traced else 0)
        reps, parts, product = [], [], None
        for i in range(n):
            on = self.traced and i % 2 == 1
            self.tracer.enabled = on
            self.rep = {}
            t0 = time.perf_counter()
            product = one_rep()
            reps.append((on, time.perf_counter() - t0))
            parts.append(self.rep)
        self.tracer.enabled = False
        self.rep = {}
        self.setup["reps_s"] = [dt for _on, dt in reps]
        self.setup["rep_s"] = statistics.median(self.setup["reps_s"])
        if self.traced:
            self.setup["rep_on_s"] = statistics.median(dt for on, dt in reps if on)
            self.setup["rep_off_s"] = statistics.median(
                dt for i, (on, dt) in enumerate(reps) if i > 0 and not on
            )
        for key in sorted({k for p in parts for k in p}):
            self.setup[key] = statistics.median(p.get(key, 0.0) for p in parts)
        return product

    def service_setup(self):
        from dbt_nlp_sqlizer_team04_spark import service as service_mod
        from dbt_nlp_sqlizer_team04_spark.models import trainer

        self._timed_calls(service_mod, "register_views", "views_s")
        self._timed_calls(service_mod, "crawl_schema", "crawl_s", "crawl_jobs")
        self._timed_calls(trainer.ModelTrainer, "train", "train_s")
        trained = self.args.workload == "serve_mixed"

        def one_rep():
            svc = service_mod.SQLizerService(self.spark, self.args.data,
                                             model_dir=self.args.models)
            if trained:
                # the one-time training: semantic-first linking from here on
                svc.train(force_retrain=True, background=False)
            return svc

        return self.setup_reps(one_rep)

    # -------------------------------------------------------------- HTTP
    def serve(self) -> None:
        from dbt_nlp_sqlizer_team04_spark.server import make_server

        svc = self.service_setup()
        self.phase("setup")
        self.setup["calib_s"] = self.calibrate()
        self.phase("calib")
        self.svc = svc
        self.httpd = make_server(svc)
        self.httpd.RequestHandlerClass = bench_handler(self, self.httpd.RequestHandlerClass)
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()
        emit("ready", port=self.httpd.server_address[1], jvm_pid=self.jvm_pid,
             setup=self.setup, phases=self.phases,
             schema_id=svc.schema_id()["schema_id"])
        while not self.stopping.wait(0.2):
            pass

    def window_start(self, traced: bool, reset: bool) -> None:
        if reset:
            self.tracer.reset()
            self.handler_s.clear()
        if traced and self.probe is not None:
            procs.reset_peak_rss(self.pids())
            self.window = {"codegen": self.probe.codegen_compiles(),
                           "job": self.probe.next_job_id()}
            self.tracer.enabled = True
        elif self.traced:
            procs.reset_peak_rss(self.pids())
            self.window = {}

    def window_stop(self) -> None:
        self.tracer.enabled = False
        if not self.traced:
            return
        peak = procs.peak_rss_mb(self.pids())
        side = "on" if self.window else "off"
        self.block_peaks[side] = max(self.block_peaks[side], peak)
        if self.window:
            self.traced_totals["codegen"] += (self.probe.codegen_compiles()
                                              - self.window["codegen"])
            totals = self.probe.stage_totals(self.probe.jobs_since(self.window["job"]))
            acc = self.traced_totals["spark"]
            self.traced_totals["spark"] = totals if acc is None else {
                k: acc[k] + totals[k] for k in acc
            }

    def report(self) -> dict:
        out = {"peak_rss_mb": procs.peak_rss_mb(self.pids())}
        if self.traced:
            out.update(
                layers=dict(self.tracer.layers),
                counters=dict(self.tracer.counters),
                codegen=self.traced_totals["codegen"],
                spark=self.traced_totals["spark"],
                handler_s=self.handler_s,
                block_peaks=self.block_peaks,
            )
            self.tracer.write_spans(self.args.spans)
        return out

    def replay(self, ops: list[dict]) -> list[dict]:
        """Each operation once, serially and in-process, through the same
        route table the HTTP handler uses."""
        from dbt_nlp_sqlizer_team04_spark import server

        routes = server._routes(self.svc)  # noqa: SLF001
        out = []
        for op in ops:
            fn = routes.get((op["method"], op["path"]))
            if fn is None:
                m = server._MODEL_ROUTE.match(op["path"])  # noqa: SLF001
                sid = m.group(1)
                fn = lambda b, sid=sid: self.svc.model_query(sid, b.get("question", ""))  # noqa: E731
            try:
                out.append(json.loads(json.dumps(fn(op["body"]))))
            except Exception as e:  # noqa: BLE001 — same as the handler's 500
                out.append({"ok": False, "error": f"Internal error: {e}"})
        return out

    # --------------------------------------------------------- operators
    def run_operators(self) -> dict:
        import bench
        import ops as ops_mod
        from dbt_nlp_sqlizer_team04_spark.queries import SPARK_QUERIES
        from dbt_nlp_sqlizer_team04_spark.sources import parquet

        data = self.args.data
        self._timed_calls(parquet, "register_views", "views_s")
        self._timed_calls(bench, "ingest", "index_s")

        def one_rep():
            # A fresh session has none of the per-session view and index
            # caches, so each rep registers and loads everything again.
            # The first rep of a checkout's first run also builds the
            # persisted index tables; the median rep is a load.
            session = self.spark.newSession()
            parquet.register_views(session, data)
            bench.ingest(session, data)

        self.setup_reps(one_rep)
        self.phase("setup")
        self.setup["calib_s"] = self.calibrate()
        self.phase("calib")

        entries, cycles = ops_mod.operators(self.args.seed)
        t0 = time.perf_counter()
        for name in entries:
            SPARK_QUERIES[name](self.spark, data).collect()
        self.setup["warm_s"] = time.perf_counter() - t0
        self.phase("warm")

        batches = None
        if self.traced:
            from sparkstats import BatchCounter

            batches = BatchCounter(self.spark)
            self.tracer.reset()  # drop what the traced set-up rep recorded
        records, first_rows = [], {}
        sc = self.spark.sparkContext
        ticks = procs.cpu_ticks()
        blocks = 0
        elapsed = {"on": 0.0, "off": 0.0}
        while True:
            side = "on" if self.traced and blocks % 2 == 1 else "off"
            traced_block = side == "on"
            self.window_start(traced_block, reset=False)
            b0 = time.perf_counter()
            n_batches0 = batches.batches if batches else 0
            for name in next(cycles):
                i = len(records)
                self.tracer.set_op(i)
                if traced_block:
                    with self.meter.internal():
                        sc.setJobGroup(f"e2ebench-build-{i}", name)
                t_a = time.perf_counter()
                df = SPARK_QUERIES[name](self.spark, data)
                t_b = time.perf_counter()
                if traced_block:
                    with self.meter.internal():
                        sc.setJobGroup(f"e2ebench-collect-{i}", name)
                rows = df.collect()
                t_c = time.perf_counter()
                if traced_block:
                    with self.meter.internal():
                        sc.setJobGroup("", "")
                records.append({
                    "name": name, "traced": traced_block,
                    "latency_s": t_c - t_a, "build_s": t_b - t_a,
                    "collect_s": t_c - t_b, "digest": _digest(df.columns, rows),
                })
                if name not in first_rows:
                    first_rows[name] = (df.schema, rows)
            self.window_stop()
            elapsed[side] += time.perf_counter() - b0
            if traced_block and batches is not None:
                self.tracer.counters["stream.batches"] += batches.batches - n_batches0
            blocks += 1
            # a traced run measures at least one cycle on each side
            if (sum(elapsed.values()) >= self.args.seconds
                    and blocks >= (2 if self.traced else 1)):
                break
        build_jobs = 0
        if self.traced:
            batches.close()
            build_jobs = sum(
                1 for _ in self.probe.jobs_since(0, "e2ebench-build-")
            )
        steal = procs.steal_share(ticks, procs.cpu_ticks())
        self.phase("measure")
        checks = check_entries(self.spark, data, first_rows, records)
        self.phase("checks")
        return {
            "setup": self.setup, "entries": entries, "records": records,
            "elapsed": elapsed, "checks": checks, "build_jobs": build_jobs,
            "cpu_steal_share": steal,
            "phases": self.phases,
            **self.report(),
        }


def _digest(columns: list[str], rows: list) -> str:
    from tests.oracle_harness import normalize

    cols, norm = normalize(list(columns), [tuple(r) for r in rows])
    return hashlib.sha256(repr((cols, norm)).encode()).hexdigest()


def check_entries(spark, data: str, first_rows: dict, records: list[dict]) -> dict:
    """Each entry's first timed answer against its oracle (with
    ``tests.oracle_harness``), and every later answer against the first.
    Returns per-entry status, F1 against the oracle rows, and the number
    of failed operations."""
    from tests.oracle_harness import (
        DIFFERENTIAL, compare, compare_differential, run_oracle,
    )

    from dbt_nlp_sqlizer_team04_spark.plans.parity_eval import result_f1
    from dbt_nlp_sqlizer_team04_spark.queries import ORACLE_SQL

    out: dict[str, dict] = {}
    for name, (schema, rows) in first_rows.items():
        def answered(s, d, schema=schema, rows=rows):
            return s.createDataFrame(rows, schema)

        oracle = ORACLE_SQL.get(name)
        try:
            if oracle is None and name in DIFFERENTIAL:
                res = compare_differential(spark, data, name, answered,
                                           DIFFERENTIAL[name])
            else:
                res = compare(spark, data, name, answered, oracle)
        except Exception as e:  # noqa: BLE001 — a failed check, not a crash
            res = {"status": "ERROR", "detail": str(e)[:300]}
        f1 = None
        if res["status"] in ("OK", "OK-diff"):
            f1 = 1.0  # the compare matched every row exactly
        elif oracle is not None:
            gold = run_oracle(data, oracle)[1]
            f1 = result_f1([tuple(r) for r in rows], [tuple(r) for r in gold])
        digests = {r["digest"] for r in records if r["name"] == name}
        ok = res["status"] in ("OK", "OK-diff", "rows-only") and len(digests) == 1
        out[name] = {
            "status": res["status"], "detail": res.get("detail"),
            "stable": len(digests) == 1, "ok": ok, "f1": f1,
        }
    failed = sum(1 for r in records if not out[r["name"]]["ok"])
    return {"entries": out, "failed": failed}


def bench_handler(engine: Engine, base):
    """``server.py``'s handler with the benchmark's control routes and,
    in a traced run, the server-layer span around each request."""

    class Handler(base):
        def _dispatch(self, method: str) -> None:
            if self.path.startswith("/_bench/"):
                self._bench()
                return
            tracer = engine.tracer
            if not tracer.enabled:
                super()._dispatch(method)
                return
            op = self.headers.get("X-Bench-Op")
            tracer.set_op(op)
            frame = tracer.open("server", "Handler._dispatch")
            t0 = time.perf_counter()
            try:
                super()._dispatch(method)
            finally:
                tracer.close(frame)
                engine.handler_s[op] = time.perf_counter() - t0
                tracer.set_op(None)

        def _bench(self) -> None:
            body = self._body()
            if self.path == "/_bench/window":
                if body["action"] == "start":
                    engine.window_start(bool(body["traced"]), bool(body.get("reset")))
                else:
                    engine.window_stop()
                self._reply({"ok": True})
            elif self.path == "/_bench/report":
                self._reply({"ok": True, **engine.report()})
            elif self.path == "/_bench/replay":
                self._reply({"ok": True, "responses": engine.replay(body["ops"])})
            elif self.path == "/_bench/shutdown":
                self._reply({"ok": True})
                engine.stopping.set()
            else:
                self._reply({"ok": False, "error": "Not Found"}, 404)

    return Handler


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--setups", type=int, required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--models", required=True)
    p.add_argument("--spans", required=True)
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    engine = Engine(args)
    code = 0
    try:
        engine.start_spark()
        if args.workload == "operators":
            emit("result", **engine.run_operators())
        else:
            engine.serve()
    except Interrupted as e:
        print(f"engine interrupted: {e}", file=sys.stderr)
        code = 130
    except Exception:  # noqa: BLE001 — report, then tear down
        traceback.print_exc()
        code = 1
    finally:
        # further signals must not cut the teardown short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        engine.teardown()
        emit("stopped")
    return code


if __name__ == "__main__":
    sys.exit(main())
