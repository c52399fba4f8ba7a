"""dask_expr_spark benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --noise 5 [--workload pipeline] [--seconds 16]

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`).  Times are scaled to a reference host speed measured
during the run (`speed.py`).  The line before it holds run details
(unscaled figures, pass times, host slowdown, sample counts, host
steal).  Everything Spark or the library prints goes to
standard error.  All state is written under `.perfbench_work/` in the
checkout and removed at exit.  `--noise N` runs every workload N times
with seeds 1..N and prints each end-to-end metric's median, quartiles
and spread against its bound.
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

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"
_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024
SETUP_SPEED_SAMPLES = 5  # reference samples taken after each set-up
OP_SPEED_SAMPLES = 2  # ... and after each op


def _spec_seconds() -> float:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return float(json.load(f)["run_seconds"])
    except OSError:
        return 16.0


def parse(argv=None):
    from perfbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=_spec_seconds())
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated tables "
                         "(default: the workload's own)")
    ap.add_argument("--noise", type=int, default=0, metavar="N",
                    help="self-check: N runs per workload, then print spreads")
    args = ap.parse_args(argv)
    if not args.noise and args.workload is None:
        ap.error("--workload is required")
    return args


# -- process and host counters ---------------------------------------------

def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _retained_jvm_mb(jvm) -> float:
    """Driver JVM memory still in use after a full collection: live heap
    (cached blocks, Spark's bookkeeping, anything a run leaks) plus
    non-heap (loaded and generated classes, compiled code)."""
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    return (mem.getHeapMemoryUsage().getUsed()
            + mem.getNonHeapMemoryUsage().getUsed()) / _MB


def _reset_hwm() -> None:
    """Restart this process's peak resident set (VmHWM) from its current size."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


# -- measurement -------------------------------------------------------------

def quantile(xs: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile of `xs`.

    A Beta-weighted mean of all order statistics.  The op mix is a few
    clusters of latencies (one per op), and the plain sample median of
    such a mix jumps between the clusters on either side of it; this
    estimate moves smoothly instead."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = np.linspace(0.0, 1.0, 8001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max())), [0.0]))
    cdf[-1] = cdf[-2]
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, 8001), cdf)
    return float(np.diff(edges) @ x)


def _tail(lat: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it: (value, pct)."""
    pct = 100.0 * max(len(lat) - 10, 1) / len(lat)
    return quantile(lat, pct / 100.0), pct


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _plain_run(op):
    t0 = time.perf_counter()
    df = op.build()
    result = op.act(df)
    return time.perf_counter() - t0, df, result, None


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def measure(spark, workload: str, seed: int, seconds: float, trace: bool,
            work_dir: str, sf: float) -> tuple[dict, dict]:
    """Set up, warm up, run whole passes for about `seconds`, check.

    The timed pass count is `seconds` over the workload's nominal pass
    time, rounded to whole groups of `pass_group` passes.  A reference
    task runs after every set-up and op; times are divided by the host
    slowdown it measured around them (`speed.py`).

    Returns (result line, details)."""
    from perfbench import workloads
    from perfbench.speed import HostSpeed, host_ticks
    from perfbench.trace import Tracer
    wl = workloads.make(spark, workload, work_dir, sf)
    speed = HostSpeed()
    wl.generate()
    setups, at_setup = [], speed.mark()
    for rep in range(wl.setup_reps):
        setups.append(wl.setup(rep))
        for _ in range(SETUP_SPEED_SAMPLES):
            speed.sample()
    setup_slow = speed.slowdown(at_setup)
    wl.prepare(seed)
    tracer = Tracer(spark) if trace else None
    run_op = tracer.run if tracer else _plain_run
    errors: list[str] = []

    def execute(op, samples):
        try:
            lat, df, result, rec = run_op(op)
        except Exception:  # a failed op is counted, the run goes on
            _log(f"{op.name} raised:\n{traceback.format_exc()}")
            samples.append((op, None, None, None, None))
            return
        finally:
            for _ in range(OP_SPEED_SAMPLES):
                speed.sample()
        samples.append((op, lat, df, result, rec))
        if trace:
            wl.observe()

    # untimed warm-up: whole passes of the workload's own ops, so the
    # JIT and Spark's code caches have seen every op before the timing
    # (perfbench/README.md has the measured convergence)
    warm: list = []
    warm_s: list[float] = []
    for p in range(wl.warm_passes):
        tp = time.perf_counter()
        for op in wl.pass_ops(p):
            execute(op, warm)
        warm_s.append(time.perf_counter() - tp)
    _log("warm-up passes " + " ".join(f"{x:.2f}s" for x in warm_s))

    jvm = spark.sparkContext._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    _reset_hwm()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    jit0 = jit.getTotalCompilationTime()
    cpu0 = _proc_cpu_s(jvm_pid) + _proc_cpu_s(os.getpid())
    host0 = host_ticks()
    samples: list = []
    pass_s: list[float] = []
    pass_slow: list[float] = []  # host slowdown during each timed pass
    slow_of: list[float] = []  # ... and so during each timed op
    at_window = speed.mark()
    # a fixed number of whole passes, not "until the clock runs out": a
    # slow run then does the same work as a fast one, in the same state
    group = wl.pass_group
    n_pass = group * max(1, round(seconds / (wl.nominal_pass_s * group)))
    t_start = time.perf_counter()
    for p in range(wl.warm_passes, wl.warm_passes + n_pass):
        tp, at, first = time.perf_counter(), speed.mark(), len(samples)
        for op in wl.pass_ops(p):
            execute(op, samples)
        pass_s.append(time.perf_counter() - tp)
        pass_slow.append(speed.slowdown(at))
        slow_of += [pass_slow[-1]] * (len(samples) - first)
    window_s = time.perf_counter() - t_start
    cpu1 = _proc_cpu_s(jvm_pid) + _proc_cpu_s(os.getpid())
    ref_cpu = speed.own_cpu_s(at_window)
    window_slow = speed.slowdown(at_window)
    window_cpu_slow = speed.cpu_slowdown(at_window)
    host1 = host_ticks()
    jit_s = (jit.getTotalCompilationTime() - jit0) / 1000.0
    py_mb = _hwm_mb(os.getpid())
    jvm_mb = _retained_jvm_mb(jvm)

    def wrong(runs) -> int:
        bad = 0
        for op, lat, df, result, _rec in runs:
            why = "raised" if lat is None else (op.check and op.check(df, result))
            if why:
                errors.append(f"{op.name}: {why}")
                bad += 1
        return bad

    wrong(warm)  # only makes the run incorrect: warm-up ops are not attempts
    failed = wrong(samples)
    raw = [s[1] for s in samples if s[1] is not None]
    # op latencies at the reference host speed (speed.py)
    lat = [s[1] / k for s, k in zip(samples, slow_of) if s[1] is not None]
    by_op: dict[str, list[float]] = {}
    for op, op_lat, *_ in samples:
        if op_lat is not None:
            by_op.setdefault(op.name, []).append(op_lat)
    n = len(samples)
    tail, tail_pct = _tail(lat) if lat else (0.0, 0.0)
    proc_cpu = cpu1 - cpu0
    own_cpu = proc_cpu - ref_cpu  # the program's, without the reference task's
    details = {
        "workload": workload, "seed": seed, "sf": wl.sf, "trace": int(trace),
        "cores": spark.sparkContext.defaultParallelism,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "setup_reps_s": setups, "setup_slowdown": setup_slow,
        "warmup_pass_s": warm_s, "pass_s": pass_s,
        "pass_slowdown": pass_slow, "window_slowdown": window_slow,
        "window_cpu_slowdown": window_cpu_slow,
        "raw": {"ops_per_min": 60.0 * len(raw) / sum(raw) if raw else 0.0,
                "latency_p50_s": quantile(raw, 0.5) if raw else 0.0,
                "latency_tail_s": _tail(raw)[0] if raw else 0.0,
                "cpu_s_per_op": own_cpu / n,
                "setup_s": statistics.median(setups)},
        "jvm_retained_mb": jvm_mb, "python_peak_mb": py_mb,
        "jit_compile_s": jit_s,
        "window_s": window_s, "samples": n,
        "latency_tail_pct": tail_pct,
        "error_rate": failed / n if n else 1.0,
        "host.steal_s": (host1[1] - host0[1]) / _TICK,
        "host.foreign_cpu_s": (host1[0] - host0[0]) / _TICK - proc_cpu,
        "errors": errors[:20],
        "latency_s": {k: v for k, v in sorted(by_op.items())},
    }
    if trace:
        scaled = [(op, None if op_lat is None else op_lat / k, df, res,
                   rec and {f: v / k if f in _TIME_FIELDS and v is not None else v
                            for f, v in rec.items()})
                  for (op, op_lat, df, res, rec), k in zip(samples, slow_of)]
        metrics = _layers(wl, scaled, tracer, n, details)
    else:
        metrics = {
            "setup_s": (statistics.median(setups) / setup_slow, "s"),
            "ops_per_min": (60.0 * len(lat) / sum(lat) if lat else 0.0, "1/min"),
            "latency_p50_s": (quantile(lat, 0.5) if lat else 0.0, "s"),
            "latency_tail_s": (tail, "s"),
            "cpu_s_per_op": (own_cpu / n / window_cpu_slow, "s"),
            "retained_mem_mb": (jvm_mb + py_mb, "MB"),
        }
    result = {
        "correct": not errors,
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, details


# fields of a trace record that are times, scaled to the reference speed
_TIME_FIELDS = {"src_s", "build_s", "gap_s", "tail_s", "jvm_gc_s", "task_s",
                "cpu_s", "gc_s", "analysis_ms", "optimization_ms", "planning_ms"}


def _layers(wl, samples, tracer, n, details) -> dict:
    """Per-layer metrics of a traced run: per-op medians unless noted.
    `samples` hold times already scaled to the reference host speed."""
    from perfbench.workloads import MaintainWorkload
    recs = [(op, lat, rec) for op, lat, _df, _r, rec in samples if rec]
    built = [r for op, _l, r in recs if "analysis_ms" in r]

    def med(key, rows=None):
        return _median([r.get(key) for r in (rows if rows is not None
                                             else [r for _o, _l, r in recs])])

    # counts that must repeat exactly for the same op in the same state
    seen: dict = {}
    for op, _l, r in recs:
        seen.setdefault(op.key, set()).add(
            (r["jobs"], r["build_calls"], r["src_calls"]))
    unsteady = sorted(k for k, v in seen.items() if len(v) > 1)
    details["unsteady_ops"] = unsteady
    first = recs[0][2] if recs else {}
    last = recs[-1][2] if recs else {}
    per100 = 100.0 / max(len(recs), 1)
    m = {
        "sources.read_parquet_s": (med("src_s"), "s"),
        "sources.py4j_calls": (med("src_calls"), "count"),
        "collection.build_s": (med("build_s", built), "s"),
        "collection.py4j_calls": (med("build_calls", built), "count"),
        "collection.eager_jobs": (med("eager_jobs", built), "count"),
        "catalyst.analysis_ms": (med("analysis_ms", built), "ms"),
        "catalyst.optimization_ms": (med("optimization_ms", built), "ms"),
        "catalyst.planning_ms": (med("planning_ms", built), "ms"),
        "exec.jobs": (med("jobs"), "count"),
        "exec.stages": (med("stages"), "count"),
        "exec.tasks": (med("tasks"), "count"),
        "exec.task_s": (med("task_s"), "s"),
        "exec.cpu_s": (med("cpu_s"), "s"),
        "exec.gc_s": (med("gc_s"), "s"),
        "exec.input_mb": (med("input_mb"), "MB"),
        "exec.shuffle_read_mb": (med("shuffle_read_mb"), "MB"),
        "exec.shuffle_write_mb": (med("shuffle_write_mb"), "MB"),
        "exec.spill_mb": (med("spill_mb"), "MB"),
        "exec.core_busy": (med("core_busy"), "ratio"),
        "driver.gap_s": (med("gap_s"), "s"),
        "driver.tail_s": (med("tail_s"), "s"),
        "driver.jvm_gc_s": (med("jvm_gc_s"), "s"),
        "state.persisted_rdds": (max((r["persisted_rdds"] for _o, _l, r in recs),
                                     default=0), "count"),
        "state.persisted_rdds_per_100_ops": (
            (last.get("persisted_rdds", 0) - first.get("persisted_rdds", 0))
            * per100, "count"),
        "state.storage_mb": (max((r["storage_mb"] for _o, _l, r in recs),
                                 default=0.0), "MB"),
        "state.storage_mb_per_100_ops": (
            (last.get("storage_mb", 0) - first.get("storage_mb", 0)) * per100,
            "MB"),
        "host.steal_s": (details["host.steal_s"], "s"),
        "host.foreign_cpu_s": (details["host.foreign_cpu_s"], "s"),
        "trace.ops_per_min": (60.0 * len(recs) / sum(lat for _o, lat, _r in recs)
                              if recs else 0.0, "1/min"),
        "trace.unsteady_ops": (len(unsteady), "count"),
        "trace.tracer_jobs": (tracer.tracer_jobs, "count"),
    }
    commit = dict.fromkeys(
        ("upsert_s", "delete_s", "reinsert_s", "read_s", "compact_s",
         "vacuum_s", "jobs_per_upsert", "jobs_per_delete",
         "bytes_written_per_row", "live_files", "bloom_versions",
         "space_amp"), 0.0)
    if isinstance(wl, MaintainWorkload):
        by = {}
        for op, lat, r in recs:
            by.setdefault(op.name, []).append((lat, r))
        for name in ("upsert", "delete", "reinsert", "read", "compact", "vacuum"):
            commit[f"{name}_s"] = _median([lat for lat, _r in by.get(name, [])])
        for name in ("upsert", "delete"):
            commit[f"jobs_per_{name}"] = _median([r["jobs"] for _l, r in by.get(name, [])])
        ups = [(op, r) for op, _l, r in recs if op.name == "upsert"]
        commit["bytes_written_per_row"] = (
            sum(r["output_mb"] for _o, r in ups) * 1024 * 1024
            / max(sum(op.rows for op, _r in ups), 1))
        commit["live_files"] = max(s["live_files"] for s in wl.states)
        commit["bloom_versions"] = max(s["bloom_versions"] for s in wl.states)
        commit["space_amp"] = wl.space_amp()
    units = {"live_files": "count", "bloom_versions": "count",
             "jobs_per_upsert": "count", "jobs_per_delete": "count",
             "bytes_written_per_row": "B", "space_amp": "ratio"}
    for k, v in commit.items():
        m[f"commit.{k}"] = (v, units.get(k, "s"))
    return m


# -- entry point -------------------------------------------------------------

def _environment(work: str) -> None:
    """Keep every file the run writes inside `work` and times in UTC."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": ('--driver-java-options "-XX:-UsePerfData '
                                f'-Djava.io.tmpdir={tmp}" pyspark-shell'),
    })
    time.tzset()


def _import_library():
    """The library under test must be the checkout's own copy."""
    sys.path.insert(0, ROOT)
    import dask_expr_spark
    where = os.path.dirname(os.path.abspath(dask_expr_spark.__file__))
    if where != os.path.join(ROOT, "dask_expr_spark"):
        raise ImportError(f"dask_expr_spark imported from {where}, not {ROOT}")


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run_once(args) -> int:
    t_process = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # the JVM and the library print to stdout; keep it clean
    sys.stdout = sys.stderr
    spark = None
    try:
        _import_library()
        from dask_expr_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        result, details = measure(spark, args.workload, args.seed, args.seconds,
                                  bool(args.trace), work, args.sf)
        details["session_s"] = session_s
        details["run_s"] = time.perf_counter() - t_process
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still has its directory there
            pass
    print(json.dumps(details), file=out)
    print(json.dumps(result), file=out)
    out.flush()
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse(argv)
    if args.noise:
        from perfbench.noise import main as noise_main
        return noise_main(args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
