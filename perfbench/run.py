"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

One process, one ``local[2]`` session, one client in a closed loop: each
op starts when the previous one has finished. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of a traced run. See README.md in this directory.
"""

from __future__ import annotations

import os
import time

_TICKS_PER_CPU = os.sysconf("SC_CLK_TCK") * (os.cpu_count() or 1)


def steal_s() -> float:
    """Seconds the hypervisor has run something else on this VM's CPUs:
    the ``steal`` column of /proc/stat, per CPU. 0 on dedicated hardware."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _TICKS_PER_CPU


def clock() -> float:
    """Seconds on a clock that stops while the hypervisor runs something
    else on this VM's CPUs: ``perf_counter`` minus ``steal_s``. On
    dedicated hardware this is the wall clock."""
    return time.perf_counter() - steal_s()


T0, WALL0 = clock(), time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import pkgutil  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from importlib import import_module  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import reddit_hn_etl_spark  # noqa: E402,F401  (fails fast outside a checkout)

from perfbench import eventlog  # noqa: E402
from perfbench.rss import PeakRss  # noqa: E402
from perfbench.trace import Tracer, public_functions, self_times, untraced_references  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS,
    OracleCache,
    check_hn_output,
    digest,
    dir_bytes,
    make_hn_batches,
    sf_dir,
)

SLOTS = 2
DRIVER_MEM = "2g"
SETUPS = 5
# A warm pass is disturbed when the hypervisor stole more than this share
# of its wall time (see README.md, Steadiness).
QUIET_STEAL = 0.02
WORK_DIR = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "peak_rss_mb": "MB",
    "op_success_rate": "ratio",
}

# Operator modules the workloads call; the tracer spans every operator
# module, these are the ones reported as metrics.
OPERATOR_MODULES = ("checks", "dedup", "er", "graph", "merge")
QUERY_NAMES = tuple(n for wl in WORKLOADS.values() for n, _ in wl.queries)

_LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.build_py4j_calls": "count",
    "plans.build_jobs": "count",
    "plans.build_task_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.idle_slot_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "functions.python_run_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "hn_pipeline.load_s": "s",
    "hn_pipeline.load_first_s": "s",
    "hn_pipeline.load_last_s": "s",
    "hn_pipeline.staging_publish_s": "s",
    "hn_pipeline.mart_s": "s",
    "sources.publish_tables_s": "s",
    "sources.write_bytes": "bytes",
    "sources.read_table_s": "s",
    "audit.appends": "count",
    "audit.append_s": "s",
    "session.start_s": "s",
    "trace.overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit."""
    units = dict(_LAYER_UNITS)
    for mod in OPERATOR_MODULES:
        units[f"operators.{mod}.self_s"] = "s"
        units[f"operators.{mod}.calls"] = "count"
    for name in QUERY_NAMES:
        units[f"q.{name}.build_s"] = "s"
        units[f"q.{name}.exec_s"] = "s"
        units[f"q.{name}.build_jobs"] = "count"
    return units


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], units: dict[str, str]) -> str:
    """The result object; raises if a metric is missing or unknown."""
    if set(values) != set(units):
        raise ValueError(
            f"metrics missing {sorted(set(units) - set(values))}, "
            f"unexpected {sorted(set(values) - set(units))}"
        )
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": units[k]} for k in units
        },
    })


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, tmp: str):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.rng = random.Random(seed)
        # Index of the first warm pass: after the cold and warm-up passes.
        self.first_warm = 1 + workload.warmup_passes
        self.tracer = Tracer(clock)
        self.spark = None
        # One record per op: pass, name, op id, ok, build_s, exec_s.
        self.ops: list[dict] = []
        # Per pass: the share of its wall time stolen by the hypervisor.
        self.steal_share: list[float] = []
        self.wrong_output: set[str] = set()
        self.last_frames: dict[str, object] = {}
        self.write_bytes: dict[int, int] = {}

    # -- session -----------------------------------------------------
    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.local.dir": os.path.join(self.tmp, "local"),
            # -Xms with spark.driver.memory's -Xmx: a fixed heap, so GC
            # sizing does not vary from run to run. The heap is touched at
            # JVM start: how much of it a run has touched would otherwise
            # depend on GC timing, and peak RSS with it. The JIT stops at
            # C1: C2 recompiles the code Spark generates for every query,
            # in background threads that used two of four CPUs through
            # every pass, so pass times followed how much CPU other
            # processes left the compiler (see README.md).
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                f"-Djava.io.tmpdir={self.tmp} "
                f"-Dderby.system.home={self.tmp} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.tmp, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def _start_session(self):
        from reddit_hn_etl_spark.session import get_session

        t = clock()
        spark = get_session(
            app_name="perfbench",
            master=f"local[{SLOTS}]",
            shuffle_partitions=SLOTS,
            extra_conf=self._conf(),
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s.append(clock() - t)
        return spark

    def _touch(self, spark) -> None:
        if self.wl.queries:
            from reddit_hn_etl_spark.sources.tables import read_table

            for table, sf in self.wl.tables:
                read_table(spark, sf_dir(sf), table).count()
        else:
            spark.read.text(self.raw_dir).count()

    def setup(self, excluded_s: float) -> list[float]:
        """Set the session up ``SETUPS`` times; the first time from
        process start (imports and JVM launch included), then by
        stopping and re-creating the session on the running JVM."""
        self.session_start_s: list[float] = []
        times = []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t = clock()
            self.spark = self._start_session()
            self._touch(self.spark)
            now = clock()
            times.append(now - T0 - excluded_s if i == 0 else now - t)
        return times

    # -- ops ---------------------------------------------------------
    def _query_op(self, p: int, name: str, sf: str) -> None:
        from reddit_hn_etl_spark.plans.queries import QUERIES

        op = f"p{p}.{name}"
        rec = {"pass": p, "name": name, "op": op, "ok": False}
        t0 = clock()
        t1 = t0
        try:
            with self.tracer.phase(self.spark, op, "build"):
                df = QUERIES[name](self.spark, sf_dir(sf))
            t1 = clock()
            with self.tracer.phase(self.spark, op, "exec"):
                df.write.format("noop").mode("overwrite").save()
            rec["ok"] = True
            self.last_frames[name] = df
        except Exception:  # noqa: BLE001 - an op failure is counted, not fatal
            traceback.print_exc(file=sys.stderr)
        rec.update(build_s=t1 - t0, exec_s=clock() - t1)
        self.ops.append(rec)

    def _pipeline_op(self, p: int) -> None:
        from reddit_hn_etl_spark.__main__ import main as cli_main

        op = f"p{p}.hn_pipeline"
        out = os.path.join(self.tmp, f"out{p}")
        rec = {"pass": p, "name": "hn_pipeline", "op": op, "build_s": 0.0}
        t0 = clock()
        errors = []
        try:
            with self.tracer.phase(self.spark, op, "exec"):
                rc = cli_main([
                    "--raw-dir", self.raw_dir, "--out", out,
                    "--all-batches", "--env-file", self.env_file,
                ])
            rec["exec_s"] = clock() - t0
            errors = check_hn_output(out, self.expected) if rc == 0 else [
                f"pipeline exit code {rc}"
            ]
        except Exception as exc:  # noqa: BLE001 - an op failure is counted
            traceback.print_exc(file=sys.stderr)
            rec.setdefault("exec_s", clock() - t0)
            errors = [repr(exc)]
        if errors:
            print(f"hn_pipeline pass {p}: {errors}", file=sys.stderr)
        rec["ok"] = not errors
        self.write_bytes[p] = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        self.ops.append(rec)

    def run_pass(self, p: int) -> float:
        """Run one pass; its time is the sum of its ops' times, so the
        output checks between ops are not part of it."""
        wall0, steal0 = time.perf_counter(), steal_s()
        self._run_ops(p)
        self.steal_share.append(
            (steal_s() - steal0) / max(time.perf_counter() - wall0, 1e-9)
        )
        return sum(o["build_s"] + o["exec_s"] for o in self.ops if o["pass"] == p)

    def _run_ops(self, p: int) -> None:
        if self.wl.queries:
            for name, sf in self.rng.sample(self.wl.queries, len(self.wl.queries)):
                self._query_op(p, name, sf)
        else:
            self._pipeline_op(p)

    def passes(self) -> tuple[list[float], list[bool]]:
        """A cold pass, the workload's warm-up passes, then warm passes
        until ``seconds`` have passed since the cold pass began, with at
        least the workload's ``warm_passes`` of them. While fewer than
        ``warm_passes`` warm passes were undisturbed by steal, up to the
        workload's ``extra_passes`` more are run. In a traced run the cold
        pass is traced, the warm-up passes are not, and warm passes
        alternate untraced and traced, starting untraced; there are at
        least two and no extra ones."""
        min_passes = self.first_warm + max(self.wl.warm_passes, 2 if self.trace else 1)
        max_passes = min_passes + (0 if self.trace else self.wl.extra_passes)
        times, traced = [], []
        start = time.perf_counter()
        p = 0
        while (p < min_passes or time.perf_counter() - start < self.seconds
               or (p < max_passes and self._quiet_warm() < self.wl.warm_passes)):
            k = p - self.first_warm
            self.tracer.enabled = self.trace and (p == 0 or (k >= 0 and k % 2 == 1))
            times.append(self.run_pass(p))
            traced.append(self.tracer.enabled)
            p += 1
        self.tracer.enabled = False
        return times, traced

    def _quiet_warm(self) -> int:
        return sum(1 for s in self.steal_share[self.first_warm:] if s <= QUIET_STEAL)

    def warm_pass_s(self, times: list[float]) -> float:
        """Median of the undisturbed warm passes, topped up to
        ``warm_passes`` with the disturbed ones the hypervisor stole the
        least from."""
        def disturbance(p: int) -> tuple[float, int]:
            share = self.steal_share[p]
            return (share if share > QUIET_STEAL else 0.0, p)

        warm = sorted(range(self.first_warm, len(times)), key=disturbance)
        n = max(self.wl.warm_passes, self._quiet_warm())
        return statistics.median(times[p] for p in warm[:n])

    def check_queries(self) -> None:
        """Each query's last frame against its DuckDB oracle."""
        from reddit_hn_etl_spark.plans.queries import ORACLES

        oracles = OracleCache(os.path.join(WORK_DIR, "oracles.json"))
        for name, sf in self.wl.queries:
            df = self.last_frames.get(name)
            if df is None:
                continue  # its ops failed and are already counted
            try:
                got = digest(list(df.columns), [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 - a failed check is counted
                traceback.print_exc(file=sys.stderr)
                got = None
            want = oracles.get(sf_dir(sf), ORACLES[name])
            if got != want or got["rows"] == 0:
                print(f"{name}: output {got} != oracle {want}", file=sys.stderr)
                self.wrong_output.add(name)

    # -- run ---------------------------------------------------------
    def run(self) -> str:
        t = clock()
        if not self.wl.queries:
            self.raw_dir = os.path.join(self.tmp, "raw")
            self.expected = make_hn_batches(
                self.raw_dir, self.seed, self.wl.batches, self.wl.items
            )
            self.env_file = os.path.join(self.tmp, "pipeline.env")
            open(self.env_file, "w").close()
        gen_s = clock() - t
        if self.trace:
            self._install_tracing()
        with PeakRss() as rss:
            setups = self.setup(gen_s)
            times, traced = self.passes()
        if self.wl.queries:
            self.check_queries()
        self.spark.stop()
        _stop_jvm()
        # A query whose output differs from its oracle fails in every op:
        # each op ran the same plan.
        failed = sum(
            1 for o in self.ops if not o["ok"] or o["name"] in self.wrong_output
        )
        attempted = len(self.ops)
        if self.trace:
            self.tracer.restore()
            values = self._layer_metrics(times, traced)
            units = per_layer_units()
        else:
            values = {
                "setup_s": statistics.median(setups),
                "cold_pass_s": times[0],
                "warm_pass_s": self.warm_pass_s(times),
                "peak_rss_mb": rss.peak / 2**20,
                "op_success_rate": 1 - failed / attempted,
            }
            units = END_TO_END
        print(
            f"{self.wl.name} seed={self.seed}: setups={_fmt(setups)} "
            f"passes={_fmt(times)} steal_share={_fmt(self.steal_share)} "
            f"ops={attempted} failed={failed} "
            f"wall={time.perf_counter() - WALL0:.1f} "
            f"steal={time.perf_counter() - WALL0 - (clock() - T0):.2f}",
            file=sys.stderr,
        )
        for o in self.ops:
            print(f"  p{o['pass']} {o['name']}: build={o['build_s']:.2f} "
                  f"exec={o['exec_s']:.2f}", file=sys.stderr)
        return result_line(failed == 0, attempted, failed, values, units)

    # -- tracing -----------------------------------------------------
    def _install_tracing(self) -> None:
        import py4j.clientserver

        # Every module that binds a traced function must be loaded before
        # the wrappers replace its names.
        from reddit_hn_etl_spark import __main__ as cli  # noqa: F401
        from reddit_hn_etl_spark import audit, operators, session
        from reddit_hn_etl_spark.plans import hn_pipeline, queries  # noqa: F401
        from reddit_hn_etl_spark.sources import batches, publish, tables

        named = {
            "session.get_session": session.get_session,
            "sources.read_table": tables.read_table,
            "sources.read_raw_batch": batches.read_raw_batch,
            "sources.publish_tables": publish.publish_tables,
        }
        for fname, fn in public_functions(hn_pipeline).items():
            named[f"plans.hn_pipeline.{fname}"] = fn
        for info in pkgutil.iter_modules(operators.__path__):
            mod = import_module(f"{operators.__name__}.{info.name}")
            for fname, fn in public_functions(mod).items():
                named[f"operators.{info.name}.{fname}"] = fn
        self._untraced = untraced_references(named)
        self.tracer.wrap_functions(named)
        self.tracer.wrap_audit(audit.AuditLog)
        self.tracer.count_py4j(py4j.clientserver.JavaClient)

    def _layer_metrics(self, times, traced) -> dict[str, float]:
        warm = [p for p in range(self.first_warm, len(times)) if traced[p]]
        plain = [p for p in range(self.first_warm, len(times)) if not traced[p]]
        n = len(warm)
        ops = [o for o in self.ops if o["pass"] in warm]
        op_ids = {o["op"] for o in ops}
        groups = eventlog.parse_event_dir(os.path.join(self.tmp, "events"))
        build = eventlog.merge_groups(groups, [f"{o['op']}:build" for o in ops])
        run = eventlog.merge_groups(groups, [f"{o['op']}:exec" for o in ops])
        spans = [s for s in self.tracer.spans if s.op in op_ids]
        selfs = self_times(self.tracer.spans)

        def span_sum(prefix: str, value=lambda s: s.end - s.start) -> float:
            return sum(value(s) for s in spans if s.name.startswith(prefix)) / n

        def span_count(prefix: str) -> float:
            return sum(1 for s in spans if s.name.startswith(prefix)) / n

        def pipeline_load(pick) -> float:
            per_pass = []
            for p in warm:
                loads = [s for s in spans if s.op == f"p{p}.hn_pipeline"
                         and s.name == "hn_pipeline.load"]
                per_pass.append(loads[pick].end - loads[pick].start if loads else 0.0)
            return sum(per_pass) / n

        exec_s = sum(o["exec_s"] for o in ops) / n
        v = {
            "plans.build_s": sum(o["build_s"] for o in ops) / n,
            "plans.build_py4j_calls": sum(
                self.tracer.py4j_calls[f"{o['op']}:build"] for o in ops) / n,
            "plans.build_jobs": build["jobs"] / n,
            "plans.build_task_s": build["task_s"] / n,
            "exec.s": exec_s,
            "exec.idle_slot_s": exec_s * SLOTS - run["task_s"] / n,
            "hn_pipeline.load_s": span_sum("hn_pipeline.load"),
            "hn_pipeline.load_first_s": pipeline_load(0),
            "hn_pipeline.load_last_s": pipeline_load(-1),
            "hn_pipeline.staging_publish_s": span_sum("hn_pipeline.staging_publish"),
            "hn_pipeline.mart_s": span_sum("hn_pipeline.mart"),
            "sources.publish_tables_s": span_sum("sources.publish_tables"),
            "sources.write_bytes": sum(self.write_bytes.get(p, 0) for p in warm) / n,
            "sources.read_table_s": span_sum("sources.read_table"),
            "audit.appends": span_count("audit."),
            "audit.append_s": span_sum("audit."),
            "session.start_s": statistics.median(self.session_start_s),
            "trace.overhead_frac": (
                statistics.median(times[p] for p in warm)
                / statistics.median(times[p] for p in plain) - 1
            ),
        }
        for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes"):
            v[f"exec.{k}"] = run[k] / n
        for k in ("python_run_s", "python_boot_s", "python_bytes_sent",
                  "python_bytes_received"):
            v[f"functions.{k}"] = (build[k] + run[k]) / n
        for mod in OPERATOR_MODULES:
            prefix = f"operators.{mod}."
            v[prefix + "self_s"] = span_sum(prefix, lambda s: selfs[s.sid])
            v[prefix + "calls"] = span_count(prefix)
        for q in QUERY_NAMES:
            mine = [o for o in ops if o["name"] == q]
            v[f"q.{q}.build_s"] = sum(o["build_s"] for o in mine) / n
            v[f"q.{q}.exec_s"] = sum(o["exec_s"] for o in mine) / n
            v[f"q.{q}.build_jobs"] = eventlog.merge_groups(
                groups, [f"{o['op']}:build" for o in mine])["jobs"] / n
        spans_dir = os.path.join(WORK_DIR, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        path = os.path.join(spans_dir, f"{self.wl.name}-seed{self.seed}.jsonl")
        self.tracer.write_spans(path)
        print(f"spans: {path}; untraced references: {len(self._untraced)}",
              file=sys.stderr)
        for ref in self._untraced:
            print(f"  untraced: {ref}", file=sys.stderr)
        return v


def _fmt(xs: list[float]) -> str:
    return "[" + ", ".join(f"{x:.2f}" for x in xs) + "]"


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def _prepare_env(tmp: str) -> None:
    """Keep every file the run writes inside ``tmp``, and let the
    Python workers import the package from this checkout."""
    for sub in ("local", "logs", "events"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_ETL_LOG_DIR": os.path.join(tmp, "logs"),
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(SLOTS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    time.tzset()
    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(os.path.join(WORK_DIR, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK_DIR, "tmp"))
    # stdout carries the result line only: until it is printed, fd 1 of
    # this process, and so of the JVM and workers it starts, is stderr.
    # On SIGTERM, exit through the finally below: the temporary directory
    # is removed and the JVM, whose stdin closes, exits with this process.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        _prepare_env(tmp)
        line = Bench(
            WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), tmp
        ).run()
    finally:
        sys.stdout.flush()
        os.dup2(stdout, 1)
        os.close(stdout)
        shutil.rmtree(tmp, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
