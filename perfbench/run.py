"""Benchmark of the Spark engine: one workload per run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run generates its input tables once per checkout (cached under
``perfbench/.work/data``) and starts a session on ``local[N]``, N the
usable cores, three times (``setup_s`` is the median).  An untimed pass
then runs every query once and compares its rows with the DuckDB oracle
twin; it also compiles every query's code paths.  The timed loop is
closed (one client, one query at a time): each query runs ``REPS`` times
back to back, timed as ``QueryDef.fn`` plus a ``noop``-sink write, with
the frame cache cleared before each rep.  Passes over the query set
repeat until ``--seconds`` have gone by; the seed sets the query order
inside each pass.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
same loop and adds one traced rep per query; it prints the per-layer
metrics of those reps and the tracing overhead (traced rep minus the
median of the untraced reps of the same query).  Catalyst phases are
read from the DataFrame's own QueryExecution after forcing its physical
plan in the traced rep.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Lines before it
start with ``#``: input generation time, phase times, each query's rep
times and the percentile that ``query_tail_s`` is.  Everything the run
writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from workloads import REPS, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: sources the benchmark runs; without them it refuses to run
ENGINE_FILES = ("flinkecuserbehavioranalysis_spark/plans/queries.py", "scripts/verify.py", "bench.py")

SETUPS = 3  # session set-ups per run; setup_s is their median
WARMUP_QUERY = "page_view_count"
REP_LIMIT_S = 60.0  # a query-rep slower than this counts as failed
RUN_DEADLINE_S = 150.0  # no query-rep starts after this (run limit is 180 s)

END_TO_END_UNITS = {
    "setup_s": "s", "total_s": "s", "cold_total_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "success_ratio": "ratio", "results_ok_ratio": "ratio",
    "rows_per_s": "rows/s",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _ensure_data(sf: float) -> tuple[str, float]:
    """Generated tables for *sf* and the seconds spent generating them
    (0 when they were already there)."""
    from datagen import write_tables

    out = os.path.join(WORK, "data", f"sf{sf:g}")
    if os.path.isdir(out):
        return out, 0.0
    t0 = time.perf_counter()
    write_tables(out, sf)
    return out, time.perf_counter() - t0


def _isolate(tmp: str, cores: int) -> None:
    """Point every scratch path of Spark, the JVM and Python at *tmp*,
    and let Python workers import the engine.  Must run before the JVM
    starts."""
    jvm = f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm}".strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.local.dir={tmp}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _noop(df) -> None:
    # every output column computed and serialized, nothing written
    df.write.format("noop").mode("overwrite").save()


def _rss_peak_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def _jvm_pids(root_pid: int) -> list[int]:
    """*root_pid* and its descendants that run java."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return out


def _steal_s() -> float:
    """CPU time the hypervisor has withheld from this machine's CPUs so
    far, summed over CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall time of an interval and the steal time inside it.

    On a shared virtual machine the hypervisor can withhold CPU from this
    machine for minutes at a time; a run then reads up to 40% slower
    although the program did the same work.  Every time the benchmark
    reports is wall time minus the steal inside it, which removes that:
    on the 4-core host of BASELINE.md it cut the 10-run spread of
    ``total_s`` from 29% to 3-7%.  Without steal the two are equal."""

    def __init__(self) -> None:
        self._wall0, self._steal0 = time.perf_counter(), _steal_s()

    def read(self) -> tuple[float, float]:
        """(wall seconds, stolen seconds) since the stopwatch started."""
        return time.perf_counter() - self._wall0, _steal_s() - self._steal0


def _net(wall: float, stolen: float) -> float:
    return max(0.0, wall - stolen)


def _hd_quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the *p* quantile: a Beta-weighted mean
    of all order statistics, steadier than one order statistic when the
    sample is small and has gaps, as a few dozen query-reps of a dozen
    different queries have."""
    import numpy as np

    x = np.sort(np.asarray(samples, dtype=float))
    n = len(x)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(weights @ x)


def _tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, its percentile and the sample count."""
    s = sorted(samples)
    n = len(s)
    k = max(0, n - 11)
    return s[k], 100.0 * k / max(1, n - 1), n


class Runner:
    def __init__(self, wl, args, data_dir: str, cores: int) -> None:
        from flinkecuserbehavioranalysis_spark import cache, session
        from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES

        from tracing import Tracer

        self.wl, self.args, self.data_dir, self.cores = wl, args, data_dir, cores
        self.cache, self.session, self.queries = cache, session, QUERIES
        self.tracer = Tracer()
        #: per query, (wall, stolen) seconds of each timed rep
        self.samples: dict[str, list[tuple[float, float]]] = {q: [] for q in wl.queries}
        self.attempted = self.failed = 0
        self.rows_in = 0.0
        self.checks: dict[str, tuple[bool, str]] = {}
        self.layer: dict[str, float] = {}
        self.traced: dict[str, tuple[float, float]] = {}

    # ---- set-up -------------------------------------------------------
    def setup(self) -> float:
        from tracing import SparkStatus

        if self.args.trace:
            from tracing import install_hooks

            install_hooks(self.tracer)
        times = []
        for i in range(SETUPS):
            self.tracer.active = bool(self.args.trace)
            sw = Stopwatch()
            spark = self.session.get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            _noop(self.queries[WARMUP_QUERY].fn(spark, self.data_dir))
            times.append(_net(*sw.read()))
            self.tracer.active = False
            if i < SETUPS - 1:
                self.cache.clear_cache()
                spark.stop()
        self.spark = spark
        self.status = SparkStatus(spark)
        if self.args.trace:
            from tracing import count_py4j

            count_py4j(self.tracer, spark)
            self.layer["session.get_spark_s"] = statistics.median(
                s.end - s.start for s in self.tracer.spans if s.name == "session.get_spark"
            )
            self.tracer.spans.clear()
        return statistics.median(times)

    # ---- timed loop ---------------------------------------------------
    def _rep(self, q: str) -> None:
        """One timed query-rep."""
        self.cache.clear_cache()
        mark = self.status.job_mark()
        self.attempted += 1
        sw = Stopwatch()
        try:
            df = self.queries[q].fn(self.spark, self.data_dir)
            _noop(df)
        except Exception:  # a failing query is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return
        wall, stolen = sw.read()
        if wall > REP_LIMIT_S:
            self.failed += 1
            return
        self.samples[q].append((wall, stolen))
        self.status.settle()
        st = self.status.stages(mark, self.status.job_mark(), {"inputRecords": "input_records"})
        self.rows_in += st["input_records"]

    def warm_and_check(self) -> None:
        """Untimed first pass: run each query once, compare its rows with
        the oracle twin, and so compile every query's code paths before
        the timed reps, whatever order the seed picks."""
        from check import OracleCheck

        checker = OracleCheck(ROOT, self.data_dir, self.queries)
        try:
            for q in self.wl.queries:
                self.cache.clear_cache()
                try:
                    self.checks[q] = checker.check(q, self.queries[q].fn(self.spark, self.data_dir))
                except Exception as exc:  # reported as a failed check
                    traceback.print_exc(file=sys.stderr)
                    self.checks[q] = (False, f"error: {exc}")
        finally:
            checker.close()

    def loop(self, t_start: float) -> None:
        listener = None
        if self.args.trace:
            from tracing import ProgressListener

            listener = ProgressListener()
            self.spark.streams.addListener(listener)
        rng = random.Random(self.args.seed)
        t_loop = time.perf_counter()
        try:
            while True:
                order = list(self.wl.queries)
                rng.shuffle(order)
                for q in order:
                    for _ in range(REPS):
                        if time.perf_counter() - t_start > RUN_DEADLINE_S:
                            self.attempted += 1
                            self.failed += 1
                            continue
                        self._rep(q)
                    if self.args.trace:
                        self._traced_rep(q, listener)
                if time.perf_counter() - t_loop >= self.args.seconds:
                    break
        finally:
            if listener is not None:
                self.spark.streams.removeListener(listener)

    # ---- traced rep ---------------------------------------------------
    def _traced_rep(self, q: str, listener) -> None:
        from tracing import catalyst_phases

        tr, status, layer = self.tracer, self.status, self.layer
        self.cache.clear_cache()
        status.settle()
        before = dict(listener.totals)
        m0 = status.job_mark()
        py0 = tr.counters["py4j_calls"]
        tr.active = True
        sw = Stopwatch()
        qs = tr.begin("query", query=q)
        b = tr.begin("plan.build")
        df = self.queries[q].fn(self.spark, self.data_dir)
        tr.end(b)
        py1 = tr.counters["py4j_calls"]
        m1 = status.job_mark()
        c = tr.begin("catalyst")
        phases = catalyst_phases(df)
        tr.end(c, **phases)
        e = tr.begin("exec")
        _noop(df)
        tr.end(e)
        m2 = status.job_mark()
        tr.end(qs)
        tr.active = False
        self.traced[q] = sw.read()
        status.settle()

        def add(key, v):
            layer[key] = layer.get(key, 0.0) + v

        add("plan.build_py4j_calls", py1 - py0)
        add("plan.build_jobs", m1 - m0)
        for name in ("analysis", "optimization", "planning"):
            add(f"catalyst.{name}_ms", phases.get(name, 0))
        st = status.stages(m1, m2)
        add("exec.jobs", st["jobs"])
        add("exec.stages", st["stages"])
        add("exec.tasks", st["tasks"])
        add("exec.failed_tasks", st["failed_tasks"])
        add("exec.executor_run_s", st["executor_run_ms"] / 1e3)
        add("exec.executor_cpu_s", st["executor_cpu_ns"] / 1e9)
        add("exec.gc_s", st["gc_ms"] / 1e3)
        add("exec.input_bytes", st["input_bytes"])
        add("exec.shuffle_read_bytes", st["shuffle_read_bytes"])
        add("exec.shuffle_write_bytes", st["shuffle_write_bytes"])
        add("exec.spill_bytes", st["spill_disk_bytes"])
        layer["cache.stored_bytes"] = max(layer.get("cache.stored_bytes", 0), status.stored_bytes())
        for k, v in listener.totals.items():
            add(f"stream.{k}", v - before.get(k, 0))

    # ---- results ------------------------------------------------------
    def net(self) -> dict[str, list[float]]:
        """Steal-corrected rep times of every query that has any."""
        return {q: [_net(*r) for r in reps] for q, reps in self.samples.items() if reps}

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        net = self.net()
        allnet = [x for s in net.values() for x in s]
        tail, pct, n = _tail(allnet)
        for q, reps in sorted(self.samples.items()):
            walls = " ".join(f"{w:.3f}/{st:.3f}" for w, st in reps)
            print(f"# {q}: reps (wall/steal s) {walls}", flush=True)
        raw = [r for reps in self.samples.values() for r in reps]
        print(f"# timed reps: wall {sum(w for w, _ in raw):.2f} s, steal "
              f"{sum(st for _, st in raw):.2f} s subtracted; query_tail_s is "
              f"p{pct:.1f} of n={n}", flush=True)
        ok = sum(1 for good, _ in self.checks.values() if good)
        busy = sum(allnet)
        return {
            "setup_s": setup_s,
            "total_s": sum(statistics.median(s) for s in net.values()),
            "cold_total_s": sum(s[0] for s in net.values()),
            "query_p50_s": _hd_quantile(allnet, 0.5),
            "query_tail_s": tail,
            "success_ratio": (self.attempted - self.failed) / self.attempted,
            "results_ok_ratio": ok / max(1, len(self.checks)),
            "rows_per_s": self.rows_in / busy if busy else 0.0,
        }

    def per_layer(self) -> dict[str, float]:
        tr, layer = self.tracer, dict(self.layer)
        spans = tr.spans
        load = [s for s in spans if s.name == "io.load_table"]
        pins = [s for s in spans if s.name == "cache.pin"]
        durs = {}
        for name in ("io.load_table", "io.read_events_stream", "plan.build", "exec",
                     "cache.build", "stream.run_bounded_df"):
            durs[name] = tr.totals(name)[1]
        layer["io.load_table.calls"] = len(load)
        layer["io.load_table.s"] = durs["io.load_table"]
        layer["io.load_table.memo_hit_ratio"] = (
            sum(1 for s in load if s.attrs.get("hit")) / len(load) if load else 0.0
        )
        layer["io.read_events_stream.s"] = durs["io.read_events_stream"]
        layer["plan.build_s"] = durs["plan.build"]
        layer["exec.s"] = durs["exec"]
        layer["exec.core_busy_ratio"] = (
            layer.get("exec.executor_run_s", 0.0) / (durs["exec"] * self.cores)
            if durs["exec"] else 0.0
        )
        layer["cache.pin.calls"] = len(pins)
        layer["cache.pin.hit_ratio"] = (
            sum(1 for s in pins if s.attrs.get("hit")) / len(pins) if pins else 0.0
        )
        layer["cache.pin.build_s"] = durs["cache.build"]
        layer["cache.evictions"] = tr.counters["cache.evictions"]
        layer["stream.run_bounded_df.s"] = durs["stream.run_bounded_df"]
        rows, run_s = layer.get("stream.input_rows", 0.0), durs["stream.run_bounded_df"]
        layer["stream.replay_rows_per_s"] = rows / run_s if run_s else 0.0
        selfs = tr.self_times()
        for name in SELF_TIME_SPANS:
            layer[f"self.{name}_s"] = selfs.get(name, 0.0)
        untraced_total = sum(statistics.median(s) for s in self.net().values())
        traced_total = sum(_net(*r) for r in self.traced.values())
        traced_wall = sum(w for w, _ in self.traced.values())
        accounted = sum(
            s.end - s.start for s in spans if s.name in ("plan.build", "catalyst", "exec")
        )
        gw = self.spark.sparkContext._gateway
        layer["mem.peak_rss_mb"] = _rss_peak_mb([os.getpid(), *_jvm_pids(gw.proc.pid)])
        layer["trace.total_s"] = traced_total
        layer["trace.overhead_s"] = traced_total - untraced_total
        layer["trace.overhead_ratio"] = (
            (traced_total - untraced_total) / untraced_total if untraced_total else 0.0
        )
        layer["trace.accounted_ratio"] = accounted / traced_wall if traced_wall else 0.0
        return {k: layer.get(k, 0.0) for k in PER_LAYER_UNITS}


SELF_TIME_SPANS = (
    "query", "plan.build", "io.load_table", "io.read_events_stream", "cache.pin",
    "cache.build", "stream.run_bounded_df", "catalyst", "exec",
)

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "io.load_table.calls": "count",
    "io.load_table.s": "s",
    "io.load_table.memo_hit_ratio": "ratio",
    "io.read_events_stream.s": "s",
    "plan.build_s": "s",
    "plan.build_py4j_calls": "count",
    "plan.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.failed_tasks": "count",
    "cache.pin.calls": "count",
    "cache.pin.hit_ratio": "ratio",
    "cache.pin.build_s": "s",
    "cache.evictions": "count",
    "cache.stored_bytes": "B",
    "stream.run_bounded_df.s": "s",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.replay_rows_per_s": "rows/s",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_rows_total": "count",
    "stream.state_memory_bytes": "B",
    "stream.state_commit_ms": "ms",
    **{f"self.{n}_s": "s" for n in SELF_TIME_SPANS},
    "mem.peak_rss_mb": "MB",
    "trace.total_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.accounted_ratio": "ratio",
}


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = _parse(argv)
    missing = [p for p in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    wls = workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(wls)})", file=sys.stderr)
        return 2
    wl = wls[args.workload]
    t_start = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    data_dir, gen_s = _ensure_data(wl.sf)
    print(f"# input_gen_s={gen_s:.3f} data={os.path.relpath(data_dir, ROOT)}", flush=True)
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    _isolate(tmp, cores)
    runner = None
    try:
        runner = Runner(wl, args, data_dir, cores)
        t_setup = time.perf_counter()
        setup_s = runner.setup()
        t_check = time.perf_counter()
        runner.warm_and_check()
        t_loop = time.perf_counter()
        runner.loop(t_start)
        print(f"# start {t_setup - t_start:.1f} s, set-ups {t_check - t_setup:.1f} s, "
              f"warm-up and check {t_loop - t_check:.1f} s, "
              f"timed loop {time.perf_counter() - t_loop:.1f} s", flush=True)
        e2e = runner.end_to_end(setup_s)
        if args.trace:
            metrics, units = runner.per_layer(), PER_LAYER_UNITS
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            runner.tracer.dump(os.path.join(
                WORK, "traces", f"{wl.name}-seed{args.seed}.jsonl"
            ))
        else:
            metrics, units = e2e, END_TO_END_UNITS
        for q, (good, why) in sorted(runner.checks.items()):
            if not good:
                print(f"# check FAILED {q}: {why}", flush=True)
    finally:
        if runner is not None and hasattr(runner, "spark"):
            _stop(runner.spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"# wall {time.perf_counter() - t_start:.1f} s", flush=True)
    correct = runner.failed == 0 and all(good for good, _ in runner.checks.values())
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
