"""Benchmark of the ddataframeoperation_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one client, a closed loop: the
next job starts when the previous one has finished, on a local Spark session
with one task thread per two vCPUs. The last stdout line is the JSON
result; see perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
sys.path.insert(0, str(HERE))

import stats  # noqa: E402
import workloads  # noqa: E402

#: Set-ups per run; ``setup_s`` is their median.
N_SETUP = 3
#: Untimed rotations after set-up. The first compiles each kind's plans;
#: the JVM's JIT keeps speeding jobs up through the second.
WARMUP_ROTATIONS = 2
#: Seconds after start when the timed loops stop taking new jobs, so that a
#: run that stalls still ends well inside 180 s.
WALL_CAP_S = 130.0
#: Seconds after start when a run that is still going is stopped.
RUN_LIMIT_S = 170

END_TO_END = {
    "setup_s": "s",
    "jobs_per_min": "1/min",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def per_layer_units(query_names) -> dict[str, str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    from tracing import LAYERS

    u = {
        "peak_rss_mb": "MB",
        "session.start_s": "s",
        "session.warmup_s": "s",
        "catalog.load_s": "s",
        "catalog.input_bytes": "bytes",
        "catalog.input_rows": "count",
        "functions.schema.s": "s",
        "queries.build_s": "s",
        "queries.execute_s": "s",
    }
    u.update({f"queries.{q}.execute_s": "s" for q in query_names})
    u.update(
        {
            "queries.spark_jobs": "count",
            "queries.stages": "count",
            "queries.tasks": "count",
            "queries.shuffle_bytes": "bytes",
            "queries.spill_bytes": "bytes",
            "queries.executor_run_s": "s",
            "queries.executor_cpu_s": "s",
            "queries.gc_s": "s",
            "queries.failed_tasks": "count",
        }
    )
    for layer in LAYERS:
        if layer.startswith("operators."):
            u[f"{layer}.build_s"] = "s"
            u[f"{layer}.calls"] = "count"
    for f in ("perform_load_data", "final_output", "generate_pmml",
              "save_text_file", "update_job"):
        u[f"compat.{f}_s"] = "s"
    u.update(
        {
            "compat.output_files": "count",
            "compat.output_bytes": "bytes",
            "compat.bytes_written_per_input_byte": "ratio",
            "compat.python_wait_frac": "ratio",
            "failed_frac": "ratio",
            "trace_overhead_frac": "ratio",
            "host_steal_frac": "ratio",
        }
    )
    return u


def steal_s() -> float:
    """CPU seconds the hypervisor has given other guests instead of this
    one, summed over its vCPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM, the Python worker daemon and its forked workers), sampled
    from /proc. Each process counts its proportional set size, so pages a
    forked worker shares with its parent are counted once, not per worker."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak_kb = period, 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_pss_kb() -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process exited while being listed
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(
                        int(line.split()[1]) for line in f if line.startswith("Pss:")
                    )
            except (OSError, StopIteration, ValueError):
                pass
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb())
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


def isolate_env(cpus: int) -> None:
    """Pin parallelism and keep every file Spark, the JVM and Python write
    inside the benchmark's work directory.

    Spark runs ``cpus`` task threads and the JVM at most two parallel GC
    threads and two JIT compiler threads, so that the driver's Python
    process, the JVM's own threads and the Python workers still find a free
    vCPU while every task runs. On the small tables of these workloads two
    task threads on four vCPUs also ran faster than four."""
    tmp = WORK / "tmp"
    for d in ("tmp", "local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_WAREHOUSE": str(WORK / "warehouse"),
            "SPARK_LOCAL_DIRS": str(WORK / "local"),
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": (
                "-XX:-UsePerfData -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
                f" -XX:CICompilerCount=2 -Djava.io.tmpdir={tmp}"
            ),
            # Python workers unpickle the node scripts from this directory.
            "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        }
    )
    tempfile.tempdir = str(tmp)
    os.environ.pop("SPARK_CONF", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, str(ROOT))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()


def run_job(spark, wl, kind: str, counter: list, hooks=None) -> stats.Job:
    """One job: the output is checked after the timed window. A job that
    raises or returns wrong output is failed; its time still counts. In a
    traced run ``hooks`` (TraceHooks) wraps the timed call."""
    i = counter[0]
    counter[0] += 1
    if hooks is not None:
        hooks.before(i)
    t0 = time.perf_counter()
    try:
        out = hooks.call(kind, wl.run, spark, kind, i) if hooks else wl.run(spark, kind, i)
        raised = False
    except Exception as e:  # noqa: BLE001 - a failed job is counted, not fatal
        log(f"{kind} #{i} raised {type(e).__name__}: {e}"[:500])
        raised = True
    dt = time.perf_counter() - t0
    if hooks is not None:
        hooks.after(kind, i)
    ok = False
    if not raised:
        try:
            ok = bool(wl.check(kind, out))
        except Exception as e:  # noqa: BLE001 - a failed check fails the job
            log(f"check of {kind} #{i} raised {e!r}"[:500])
        if not ok:
            log(f"{kind} #{i} returned wrong output")
    return stats.Job(kind, dt, ok)


def timed_loop(spark, wl, budget_s: float, deadline: float, counter: list,
               hooks=None) -> list[stats.Job]:
    """Jobs in rotation over the workload's kinds, from the first kind,
    until the timed seconds reach ``budget_s``. The run ends at the first
    job boundary past the budget, so the sample count moves by single jobs
    with the machine's speed rather than by whole rotations."""
    jobs: list[stats.Job] = []
    timed = 0.0
    for kind in itertools.cycle(wl.kinds):
        if jobs and (timed >= budget_s or time.monotonic() >= deadline):
            break
        jobs.append(run_job(spark, wl, kind, counter, hooks))
        timed += jobs[-1].seconds
    return jobs


class TraceHooks:
    """Spans around each job and Spark's counters for the jobs it started."""

    def __init__(self, spark):
        from tracing import SparkCounters, Tracer

        self.tracer, self.counters = Tracer(), SparkCounters(spark)
        self.per_job: list[tuple[str, dict]] = []

    def before(self, i: int) -> None:
        self.tracer.job = i
        self.counters.take()  # drop the Spark jobs of the previous check

    def call(self, kind, fn, *args):
        return self.tracer.call(f"job:{kind}", fn, *args)

    def after(self, kind: str, i: int) -> None:
        self.per_job.append((kind, self.counters.take()))


def traced_metrics(spark, wl, budget_s, deadline, counter, query_names):
    """Run a traced loop and derive every per-layer metric from its spans
    and Spark counters, per job."""
    from ddataframeoperation_spark.queries import QUERIES
    from tracing import LAYERS

    hooks = TraceHooks(spark)
    tracer, per_job = hooks.tracer, hooks.per_job
    tracer.install(QUERIES)
    try:
        jobs = timed_loop(spark, wl, budget_s, deadline, counter, hooks)
    finally:
        tracer.uninstall()
    tracer.dump(str(WORK / "spans.jsonl"))

    n = len(jobs)
    self_s, incl_s, calls = tracer.layer_totals()
    sc = {k: sum(c[k] for _, c in per_job) / n for k in per_job[0][1]}
    m = {
        "catalog.load_s": self_s["catalog"] / n,
        "catalog.input_bytes": sc["inputBytes"],
        "catalog.input_rows": sc["inputRecords"],
        "functions.schema.s": self_s["functions.schema"] / n,
        "queries.build_s": incl_s["queries.build"] / n,
        "queries.spark_jobs": sc["jobs"],
        "queries.stages": sc["stages"],
        "queries.tasks": sc["numTasks"],
        "queries.shuffle_bytes": sc["shuffleWriteBytes"],
        "queries.spill_bytes": sc["memoryBytesSpilled"] + sc["diskBytesSpilled"],
        "queries.executor_run_s": sc["executorRunTime"],
        "queries.executor_cpu_s": sc["executorCpuTime"],
        "queries.gc_s": sc["jvmGcTime"],
        "queries.failed_tasks": sc["numFailedTasks"],
    }
    # Action time of a query job: the job span minus its plan construction.
    build = defaultdict(float)
    for sp in tracer.spans:
        if sp["name"].startswith("queries.build:"):
            build[sp["job"]] += sp["end"] - sp["start"]
    execute = defaultdict(list)
    for sp in tracer.spans:
        kind = sp["name"][len("job:"):]
        if sp["name"].startswith("job:") and kind in query_names:
            execute[kind].append(sp["end"] - sp["start"] - build[sp["job"]])
    for kind, durs in execute.items():
        m[f"queries.{kind}.execute_s"] = statistics.median(durs)
    m["queries.execute_s"] = sum(sum(d) for d in execute.values()) / n
    for layer in LAYERS:
        if layer.startswith("operators."):
            m[f"{layer}.build_s"] = self_s[layer] / n
            m[f"{layer}.calls"] = calls[layer] / n
    for f in ("perform_load_data", "final_output", "generate_pmml",
              "save_text_file", "update_job"):
        m[f"compat.{f}_s"] = self_s[f"compat:{f}"] / n
    # A node run's stages all belong to its write: loading is lazy.
    node_jobs = [c for kind, c in per_job if kind in workloads.NODE_SCRIPTS]
    run_s = sum(c["executorRunTime"] for c in node_jobs)
    m["compat.python_wait_frac"] = (
        1 - sum(c["executorCpuTime"] for c in node_jobs) / run_s if run_s else 0.0
    )
    return jobs, m


def abort(signum, frame) -> None:
    """Kill the JVM, which takes its Python workers with it, and exit without
    a result: on SIGTERM, and on SIGALRM when the run outlives RUN_LIMIT_S."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    log(f"stopped by signal {signum}")
    os._exit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ddataframeoperation_spark" / "__init__.py").is_file():
        log(f"engine package not found under {ROOT}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    deadline = time.monotonic() + WALL_CAP_S
    signal.signal(signal.SIGTERM, abort)
    signal.signal(signal.SIGALRM, abort)
    signal.alarm(RUN_LIMIT_S)
    shutil.rmtree(WORK, ignore_errors=True)
    n_cpu = len(os.sched_getaffinity(0))
    isolate_env(max(1, n_cpu // 2))
    wl = workloads.WORKLOADS[args.workload](args.seed, str(WORK), str(ROOT))
    t_gen = time.perf_counter()
    wl.generate()
    log(f"inputs generated in {time.perf_counter() - t_gen:.2f} s")

    # Peak memory is a per-layer metric; an untraced run does not sample it.
    sampler = RssSampler() if args.trace else None
    if sampler:
        sampler.start()
    spark = None
    try:
        counter = [0]
        setup_s, start_s = [], []
        for _ in range(N_SETUP):
            t0 = time.perf_counter()
            if spark is None:
                from ddataframeoperation_spark.session import get_spark
            else:
                spark.stop()
            ts = time.perf_counter()
            spark = get_spark("perfbench")
            start_s.append(time.perf_counter() - ts)
            wl.register(spark)
            registered = time.perf_counter() - t0
            job = run_job(spark, wl, wl.kinds[0], counter)
            setup_s.append(registered + job.seconds)  # the output check is not set-up
            if not job.ok:
                log(f"set-up job {wl.kinds[0]} failed")
                return 1

        warmup_s = 0.0
        for r in range(WARMUP_ROTATIONS):
            warm = [run_job(spark, wl, kind, counter) for kind in wl.kinds]
            warmup_s += sum(j.seconds for j in warm)
            log(f"warm-up rotation {r + 1}: "
                + ", ".join(f"{j.kind} {j.seconds:.2f}" for j in warm))
            if not all(j.ok for j in warm):
                log("warm-up rotation failed")
                return 1
        log(f"set-ups {[round(x, 2) for x in setup_s]} s, warm-up {warmup_s:.2f} s")

        query_names = getattr(wl, "queries", [])
        t_loop, steal0 = time.perf_counter(), steal_s()
        if args.trace:
            half = args.seconds / 2
            plain = timed_loop(spark, wl, half, deadline, counter)
            jobs, layer = traced_metrics(spark, wl, half, deadline, counter, query_names)
            layer["trace_overhead_frac"] = stats.mix_overhead(plain, jobs)
            jobs = plain + jobs
        else:
            jobs = timed_loop(spark, wl, args.seconds, deadline, counter)
        t0 = time.perf_counter()
        stolen = (steal_s() - steal0) / ((t0 - t_loop) * n_cpu)
    finally:
        if spark is not None:
            stop_spark(spark)
        wl.close()
        peak_mb = sampler.stop() if sampler else 0.0
    log(f"{len(jobs)} jobs in {sum(j.seconds for j in jobs):.2f} timed s; "
        f"shutdown {time.perf_counter() - t0:.2f} s")
    # Jobs slow down by several times the share of CPU time the host takes.
    log(f"host steal during the timed loop: {100 * stolen:.1f}% of CPU time")
    n_kinds = len(wl.kinds)
    log("rotation s: " + ", ".join(
        f"{sum(j.seconds for j in jobs[k:k + n_kinds]):.2f}"
        for k in range(0, len(jobs), n_kinds)))
    by_kind = defaultdict(list)
    for j in jobs:
        by_kind[j.kind].append(j.seconds)
    log("median s per kind: " + ", ".join(
        f"{k} {statistics.median(v):.3f}" for k, v in by_kind.items()))

    summary = stats.summarize(jobs)
    if args.trace:
        layer.update(wl.layer_metrics())
        layer["session.start_s"] = statistics.median(start_s)
        layer["session.warmup_s"] = warmup_s
        layer["failed_frac"] = summary["failed_frac"]
        layer["peak_rss_mb"] = peak_mb
        layer["host_steal_frac"] = stolen
        units = per_layer_units(workloads.AnalyticsCorpus.queries)
        metrics = {n: layer.get(n, 0.0) for n in units}
    else:
        units = END_TO_END
        metrics = dict(summary, setup_s=statistics.median(setup_s))
    correct = summary["failed_frac"] == 0
    print(json.dumps(stats.result_line(correct, jobs, metrics, units)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
