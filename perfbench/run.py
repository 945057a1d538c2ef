"""Closed-loop benchmark of frames_spark: one client runs a workload's
operations one after another on ``local[<cores>]``.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 16 --trace 0

A run generates the inputs from ``--seed`` (cached per seed), starts
the SparkSession several times (``setup_s``), runs every operation
once to check it against the DuckDB oracle (which also warms the
JVM), then times passes over the operations: each operation from the
``fn(spark, inputs)`` call to the last row materialized (noop sink) or
written (parquet), in wall-clock seconds and in CPU seconds of the
driver JVM and this process. ``--seconds`` sets the measured work:
``round(seconds / nominal pass)`` passes, at least one, so every run of
a workload has the same sample count.

With ``--trace 1`` the run then starts a second session with an
uncompressed event log, wraps the public functions of each layer
(perfbench/spans.py), runs one more pass with its jobs tagged
``<op>:build`` / ``<op>:exec``, and reports per-layer metrics instead
of end-to-end ones. perfbench/README.md lists every metric.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
is a report with the topology, versions, confs, inputs, the figures
that are reported but not bounded (wall-clock latencies among them)
and the per-op samples.

The benchmark itself runs in a child process; this process waits until
every process the child started (the driver JVM above all) has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
SETUPS = 4
CHECK_THREADS = 3
DRIVER_MEM = "1g"
CHILD_ENV = "PERFBENCH_CHILD"  # set in the child that runs the benchmark
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 30.0
CLK_TCK = os.sysconf("SC_CLK_TCK")
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(cores: int) -> None:
    """Topology and scratch locations, set before Spark is imported."""
    for var in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_AQE",
                "SPARK_GRAFT_AQE_MIN_PARTITION"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} -XX:-UsePerfData".strip()
    for sub, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        path = os.path.join(WORK, sub)
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path


def peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of every thread of ``pid``."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def reset_peak_rss(pid: int) -> bool:
    """Restart the kernel's peak-RSS counter (clear_refs code 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


def tail(samples: list[float], op_medians: list[float]) -> tuple[float, float]:
    """(percentile, value): the sample at the highest percentile that
    leaves at least 10 samples beyond it. Below 100 samples that
    percentile would fall under p90; then the slowest operation's median
    latency (p100 over operations) stands in, as one slow pass would
    make the slowest single sample noisy."""
    s = sorted(samples)
    n = len(s)
    if n < 100:
        return 100.0, max(op_medians)
    return 100.0 * (n - 10) / n, s[n - 11]


class Bench:
    def __init__(self, workload: str) -> None:
        from perfbench.workloads import WORKLOADS

        self.wl = WORKLOADS[workload]
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(WORK, "runs", str(os.getpid()))
        self.spark = None
        self.setup_info: dict = {}
        self.failed_ops: dict[str, list[str]] = {}
        self.attempted = 0
        self.failed = 0

    # -- session -----------------------------------------------------
    def _conf(self, **extra: str) -> dict[str, str]:
        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        conf.update(extra)
        return conf

    def start(self, **extra: str) -> tuple[float, float, float]:
        """(session start s, start + warm-up s, CPU s of start + warm-up)."""
        from pyspark import SparkContext
        from pyspark.sql import functions as F

        from frames_spark.session import get_spark

        jvm_cpu0 = cpu_s(self.jvm_pid) if SparkContext._gateway else 0.0
        c0 = jvm_cpu0 + cpu_s(os.getpid())
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self._conf(**extra))
        t1 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("setup", "warm-up")
        (
            self.spark.range(0, 100_000, 1, self.cores)
            .groupBy((F.col("id") % 7).alias("k"))
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        t2 = time.perf_counter()
        return t1 - t0, t2 - t0, self.cpu() - c0

    def setup(self) -> dict:
        starts, setups, cpus = [], [], []
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            s, w, c = self.start()
            starts.append(s)
            setups.append(w)
            cpus.append(c)
        log(f"setup: starts {[round(x, 3) for x in starts]} "
            f"with warm-up {[round(x, 3) for x in setups]}, CPU {[round(x, 2) for x in cpus]}")
        return {"starts": starts, "setups": setups, "setups_cpu": cpus}

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def cpu(self) -> float:
        """CPU seconds so far of the driver JVM and this process."""
        return cpu_s(self.jvm_pid) + cpu_s(os.getpid())

    # -- operations --------------------------------------------------
    def run_op(self, op, inp, group: str | None = None) -> dict:
        """Time one operation: its sample (build, materialize and total
        seconds; CPU seconds)."""
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        if group:
            sc.setJobGroup(f"{op.name}:build", group)
        c0 = self.cpu()
        t0 = time.perf_counter()
        df = op.build(self.spark, inp)
        t1 = time.perf_counter()
        if group:
            sc.setJobGroup(f"{op.name}:exec", group)
        op.write(df, inp)
        t2 = time.perf_counter()
        cpu = self.cpu() - c0
        return {"op": op.name, "build_s": t1 - t0, "exec_s": t2 - t1, "s": t2 - t0,
                "cpu_s": cpu}

    def _checked(self, op, inp, oracle) -> list[str]:
        """Run ``op`` once and compare it with its oracle (a future, so
        Spark and DuckDB work side by side)."""
        from perfbench.workloads import compare

        t0 = time.perf_counter()
        try:
            self.spark.sparkContext.setJobGroup("check", op.name)
            df = op.build(self.spark, inp)
            if op.writes_output:
                op.write(df, inp)
            problems = compare(op.result(self.spark, df, inp), oracle.result())
        except Exception as exc:  # noqa: BLE001 -- one op fails, the run goes on
            problems = [f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"]
            traceback.print_exc(file=sys.stderr)
        status = "ok" if not problems else "FAIL " + "; ".join(problems[:3])
        log(f"check {op.name:24s} {time.perf_counter() - t0:6.2f}s {status}")
        return problems

    def check_pass(self, inp, oracles) -> None:
        """Run every operation once and compare it with its oracle.
        Nothing here is timed, so the operations run CHECK_THREADS at a
        time; the pass also warms the JVM for the timed passes."""
        with ThreadPoolExecutor(CHECK_THREADS) as ex:
            futures = {op.name: ex.submit(self._checked, op, inp, oracles[op.name])
                       for op in self.wl.ops}
        for name, fut in futures.items():
            if fut.result():
                self.failed_ops[name] = fut.result()
        self.spark.catalog.clearCache()

    def timed_passes(self, inp, oracles, passes: int = 1,
                     group: str | None = None) -> list[dict]:
        """``passes`` passes over the operations; what an ingest
        operation wrote is checked after the last one. An operation that
        raises or fails a check counts all its runs as failed and gives
        no samples."""
        from perfbench.workloads import compare

        got: dict[str, list[dict]] = {op.name: [] for op in self.wl.ops}
        for p in range(passes):
            for op in self.wl.ops:
                if op.name in self.failed_ops:
                    continue
                problems = []
                try:
                    got[op.name].append(self.run_op(op, inp, group))
                    if op.writes_output and p == passes - 1:
                        self.spark.sparkContext.setJobGroup("check", op.name)
                        problems = compare(op.result(self.spark, None, inp),
                                           oracles[op.name].result())
                except Exception as exc:  # noqa: BLE001 -- one op fails, the run goes on
                    traceback.print_exc(file=sys.stderr)
                    problems = [f"{type(exc).__name__}"]
                if problems:
                    self.failed_ops[op.name] = problems
        self.attempted += passes * len(self.wl.ops)
        self.failed += passes * sum(op.name in self.failed_ops for op in self.wl.ops)
        return [s for name, runs in got.items() if name not in self.failed_ops for s in runs]

    # -- tracing -----------------------------------------------------
    def traced_pass(self, inp, oracles) -> tuple[list[dict], dict, str]:
        """One pass in a fresh session with an event log and layer spans:
        (samples, span totals and output files, event-log directory)."""
        from frames_spark import queries as Q
        from perfbench.spans import Tracer

        log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        self.spark.stop()
        self.start(**{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        tracer = Tracer(self.spark.sparkContext)
        tracer.install(Q.QUERIES)
        try:
            samples = self.timed_passes(inp, oracles, group="traced")
        finally:
            tracer.uninstall()
        files = self.output_files(inp)
        self.spark.stop()
        self.spark = None
        return samples, {"self_s": tracer.self_s, "calls": tracer.calls,
                         "files": files}, log_dir

    def output_files(self, inp) -> dict[str, int]:
        n_files = n_bytes = 0
        for op in self.wl.ops:
            if not op.writes_output:
                continue
            for dirpath, _, names in os.walk(op.out(inp)):
                for f in names:
                    if f.endswith(".parquet"):
                        n_files += 1
                        n_bytes += os.path.getsize(os.path.join(dirpath, f))
        return {"files": n_files, "bytes": n_bytes}


def per_op_median(samples: list[dict], key: str) -> dict[str, float]:
    """Each operation's median ``key`` over its samples, in run order."""
    return {op: statistics.median(s[key] for s in samples if s["op"] == op)
            for op in dict.fromkeys(s["op"] for s in samples)}


def layer_metrics(bench: Bench, samples, spans, log_dir, wall_s, inputs_bytes) -> dict:
    from perfbench.eventlog import EventLog

    (path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    ev = EventLog.read(path)
    ops = [op.name for op in bench.wl.ops]
    build = {f"{o}:build" for o in ops}
    every = build | {f"{o}:exec" for o in ops}
    c = ev.counters(every)
    by_layer = ev.jobs_by_layer(every)
    sink_tasks = ev.counters(every, layer="sink")
    traced_wall = sum(s["s"] for s in samples)
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (statistics.median(bench.setup_info["starts"]), "s"),
        "sources.load_s": (spans["self_s"]["sources"], "s"),
        "sources.calls": (spans["calls"]["sources"], "count"),
        "sources.eager_jobs": (by_layer.get("sources", 0), "count"),
        "sources.bytes_read": (c["input_bytes"], "bytes"),
        "sources.rows_read": (c["input_rows"], "count"),
        "sink.write_s": (spans["self_s"]["sink"], "s"),
        "sink.bytes_written": (sink_tasks["output_bytes"], "bytes"),
        "sink.files_written": (spans["files"]["files"], "count"),
        "sink.rows_written": (sink_tasks["output_rows"], "count"),
        "sink.bytes_out_per_in": (spans["files"]["bytes"] / inputs_bytes, "ratio"),
        "queries.build_s": (spans["self_s"]["queries"], "s"),
        "queries.build_jobs": (ev.counters(build)["jobs"], "count"),
    }
    for layer in ("operators", "functions", "dedup", "similarity", "pipelines"):
        m[f"{layer}.build_s"] = (spans["self_s"][layer], "s")
        m[f"{layer}.calls"] = (spans["calls"][layer], "count")
        m[f"{layer}.eager_jobs"] = (by_layer.get(layer, 0), "count")
    run_s = c["run_ms"] / 1000
    m.update({
        "exec.s": (sum(s["exec_s"] for s in samples), "s"),
        "exec.jobs": (c["jobs"], "count"),
        "exec.stages": (c["stages"], "count"),
        "exec.tasks": (c["tasks"], "count"),
        "exec.executor_run_s": (run_s, "s"),
        "exec.executor_cpu_s": (c["cpu_ns"] / 1e9, "s"),
        "exec.busy_frac": (run_s / (traced_wall * bench.cores), "frac"),
        "exec.shuffle_write_bytes": (c["shuffle_write_bytes"], "bytes"),
        "exec.shuffle_read_bytes": (c["shuffle_read_bytes"], "bytes"),
        "exec.gc_s": (c["gc_ms"] / 1000, "s"),
        "exec.spill_bytes": (c["spill_bytes"], "bytes"),
        "plan.exchanges": (c["exchanges"], "count"),
        "plan.broadcast_exchanges": (c["broadcast_exchanges"], "count"),
        "plan.inmemory_scans": (c["inmemory_scans"], "count"),
        "plan.python_evals": (c["python_evals"], "count"),
        "trace.overhead_frac": (traced_wall / wall_s - 1, "frac"),
    })
    per_op = {}
    for o in ops:
        oc = ev.counters({f"{o}:build", f"{o}:exec"})
        per_op[o] = {k: oc[k] for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                                        "exchanges")}
        per_op[o]["build_jobs"] = ev.counters({f"{o}:build"})["jobs"]
    return {"metrics": m, "per_op": per_op}


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process of its own session and return
    its exit code once every process it started has ended.

    The child leaves processes behind that end on their own, shortly
    after it: the driver JVM (it exits when its stdin closes), Spark's
    Python workers and multiprocessing's resource tracker. As a child
    subreaper this process inherits each of them when its parent exits,
    and waits for all of them; what is still running after
    ``REAP_GRACE_S`` (or when this process is asked to stop) is killed.
    """
    import ctypes
    import signal
    import subprocess

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def stop(signum, frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env=dict(os.environ, **{CHILD_ENV: "1"}),
                             start_new_session=True)
    grace = REAP_GRACE_S
    try:
        code = child.wait()
        return 128 - code if code < 0 else code
    except SystemExit:
        grace = 0.0
        raise
    finally:
        reap(child.pid, grace)


def reap(pgid: int, grace: float) -> None:
    """Wait until this process has no children left: those still
    running after ``grace`` seconds get SIGTERM, and SIGKILL 5 s later."""
    import signal

    deadline = time.monotonic() + grace
    sent = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        late = time.monotonic() - deadline
        sig = signal.SIGKILL if late > 5 else signal.SIGTERM if late > 0 else None
        if sig is not None and sig != sent:
            for target in [-pgid, *_children()]:
                try:
                    os.kill(target, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _children() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                pids.append(int(entry))
    return pids


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "frames_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "gen_testdata.py"))):
        log(f"perfbench: no frames_spark checkout at {ROOT}")
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(argv)
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    pin_environment(cores)  # before frames_spark.session reads it
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    from perfbench import inputs as gen
    from perfbench.workloads import Inputs

    bench = Bench(args.workload)
    wl = bench.wl
    passes = max(1, round(args.seconds / wl.nominal_pass_s))
    os.makedirs(bench.run_dir, exist_ok=True)
    pool = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn"))
    try:
        data_dir = pool.submit(gen.prepare, WORK, wl.sf, args.seed).result()
        inp = Inputs(data_dir, os.path.join(bench.run_dir, "out"))
        with open(os.path.join(data_dir, "manifest.json")) as fh:
            manifest = json.load(fh)
        bench.setup_info = bench.setup()
        oracles = {
            op.name: pool.submit(gen.oracle_result, data_dir, op.oracle_sql(inp))
            for op in wl.ops
        }
        bench.check_pass(inp, oracles)

        py_pid, jvm_pid = os.getpid(), bench.jvm_pid
        rss_reset = reset_peak_rss(py_pid) and reset_peak_rss(jvm_pid)
        samples = bench.timed_passes(inp, oracles, passes)
        peak_mb = (peak_rss_kb(py_pid) + peak_rss_kb(jvm_pid)) / 1024
        confs = dict(bench.spark.sparkContext.getConf().getAll())
        spark_version = bench.spark.version

        lat = [s["s"] for s in samples]
        if not lat:
            log("perfbench: every operation failed")
            return 1
        op_s = per_op_median(samples, "s")
        op_cpu = per_op_median(samples, "cpu_s")
        wall_s = sum(op_s.values())
        tail_pct, tail_s = tail(lat, list(op_s.values()))
        _, tail_cpu = tail([s["cpu_s"] for s in samples], list(op_cpu.values()))
        inputs_bytes = sum(manifest[t]["bytes"] for t in wl.tables)
        reported = {  # in the report line, not bounded (README: why CPU time)
            "wall_s": (wall_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
            "op_cpu_tail_s": (tail_cpu, "s"),
            "setup_wall_s": (statistics.median(bench.setup_info["setups"]), "s"),
        }
        e2e = {
            "cpu_s": (sum(op_cpu.values()), "s"),
            "op_cpu_p50_s": (statistics.median(s["cpu_s"] for s in samples), "s"),
            "setup_s": (statistics.median(bench.setup_info["setups_cpu"]), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
        report = {
            "workload": wl.name, "seed": args.seed, "passes": passes,
            "sf": wl.sf, "cores": cores,
            "versions": {
                "spark": spark_version,
                "python": sys.version.split()[0],
                "duckdb": _dist_version("duckdb"),
            },
            "confs": {k: v for k, v in sorted(confs.items())
                      if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory",
                                       "spark.default.parallelism"))},
            "inputs": {t: manifest[t] for t in wl.tables},
            "op_tail": {"percentile": tail_pct, "samples": len(lat)},
            "failed_frac": bench.failed / bench.attempted,
            "failed_ops": bench.failed_ops,
            "peak_rss_reset": rss_reset,
            "setup": bench.setup_info,
            "op_median_s": op_s,
            "op_median_cpu_s": op_cpu,
            "samples": samples,
            "reported": {k: v[0] for k, v in reported.items()},
            "end_to_end": {k: v[0] for k, v in e2e.items()},
        }
        report["bytes_out_per_in"] = bench.output_files(inp)["bytes"] / inputs_bytes
        metrics = e2e
        if args.trace:
            t_samples, spans, log_dir = bench.traced_pass(inp, oracles)
            if len(t_samples) == len(wl.ops):
                traced = layer_metrics(bench, t_samples, spans, log_dir, wall_s,
                                       inputs_bytes)
                metrics = traced["metrics"]
                report["per_op_counters"] = traced["per_op"]
                report["per_layer"] = {k: v[0] for k, v in metrics.items()}
            else:
                metrics = None
        print(json.dumps(report, default=str))
        log_summary({**e2e, **reported}, report)
        if metrics is None:
            log("perfbench: the traced pass failed")
            return 1
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        pool.shutdown(wait=True, cancel_futures=True)
        shutil.rmtree(bench.run_dir, ignore_errors=True)


def _dist_version(name: str) -> str:
    from importlib.metadata import version

    return version(name)


def log_summary(e2e: dict, report: dict) -> None:
    log(f"{report['workload']} seed {report['seed']}: {report['passes']} pass(es), "
        f"{report['op_tail']['samples']} samples, failed_frac {report['failed_frac']:.3f}")
    for k, (v, u) in e2e.items():
        log(f"  {k:12s} {v:10.4f} {u}")
    for k, v in report.get("per_layer", {}).items():
        log(f"  {k:28s} {v:14.4f}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
