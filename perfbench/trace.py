"""Per-layer tracing, done from outside the library.

A traced op records, around the calls the benchmark makes:

- py4j call commands sent while the op runs (the `c` command only: the
  same client also carries garbage-collection detach messages, whose
  number varies), split into those sent inside `sources.io.read_parquet`
  and the rest of the query build;
- wall time inside `read_parquet`, wherever the library imported it;
- the jobs the op launched, by job-id range, and each job's stages read
  from Spark's status store once the listener bus has drained;
- Catalyst's planning phases from the collected frame's QueryExecution;
- the driver JVM's garbage-collector time;
- persisted RDDs and their storage after the op.

Nothing here starts a Spark job; `tracer_jobs` counts any that appear
while the tracer reads, so a test can assert it stays 0.
"""

from __future__ import annotations

import sys
import time

_MB = 1024 * 1024


def union_s(spans, lo: float, hi: float) -> float:
    """Length of the union of (start, end) spans, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Installs the counters on `spark`'s gateway; `run(op)` traces one op."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.cores = sc.defaultParallelism
        jsc = sc._jsc.sc()
        self.dag = jsc.dagScheduler()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        jvm = sc._jvm
        self.gc_beans = list(jvm.java.lang.management.ManagementFactory
                             .getGarbageCollectorMXBeans())
        self.empty_list = jvm.java.util.ArrayList()
        self.no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.counting = False
        self.calls = 0
        self.src_calls = 0
        self.src_s = 0.0
        self.tracer_jobs = 0
        self._count_py4j(sc._gateway._gateway_client)
        self._wrap_read_parquet()

    def _count_py4j(self, client) -> None:
        send = client.send_command

        def send_command(command, *args, **kwargs):
            if self.counting and command.startswith("c\n"):
                self.calls += 1
            return send(command, *args, **kwargs)

        client.send_command = send_command

    def _wrap_read_parquet(self) -> None:
        from dask_expr_spark.sources import io
        orig = io.read_parquet

        def read_parquet(*args, **kwargs):
            c0, t0 = self.calls, time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.src_s += time.perf_counter() - t0
                self.src_calls += self.calls - c0

        # modules bind the function under their own names at import
        for name, mod in list(sys.modules.items()):
            if name.startswith("dask_expr_spark") and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, read_parquet)

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self.gc_beans)

    def run(self, op) -> tuple[float, object, object, dict]:
        """Run `op` traced; returns (latency_s, df, result, layer record)."""
        j0 = self.dag.nextJobId()
        gc0 = self._gc_ms()
        calls0, src_calls0, src_s0 = self.calls, self.src_calls, self.src_s
        w0, t0 = time.time(), time.perf_counter()
        self.counting = True
        try:
            df = op.build()
            t1 = time.perf_counter()
            self.counting = False
            j_mid = self.dag.nextJobId()
            build_calls = self.calls - calls0
            self.counting = True
            result = op.act(df)
            t2 = time.perf_counter()
        finally:
            self.counting = False
        j1 = self.dag.nextJobId()
        self.bus.waitUntilEmpty()
        rec = self._jobs(range(j0, j1), w0, t1 - t0, t2 - t0)
        src_s = self.src_s - src_s0
        src_calls = self.src_calls - src_calls0
        rec.update({
            "eager_jobs": j_mid - j0,
            "src_s": src_s,
            "src_calls": src_calls,
            "build_calls": build_calls - src_calls,
            "build_s": (t1 - t0) - rec.pop("build_job_s") - src_s,
            "jvm_gc_s": (self._gc_ms() - gc0) / 1000.0,
        })
        rec.update(self._catalyst(df))
        rdds = self.sc._jsc.getPersistentRDDs().size()
        storage = sum(i.memSize() + i.diskSize()
                      for i in self.sc._jsc.sc().getRDDStorageInfo())
        rec.update({"persisted_rdds": rdds, "storage_mb": storage / _MB})
        self.tracer_jobs += self.dag.nextJobId() - j1
        return t2 - t0, df, result, rec

    def _jobs(self, job_ids, w0: float, build_s: float, op_s: float) -> dict:
        spans, seen = [], set()
        m = dict.fromkeys(("stages", "tasks", "task_s", "cpu_s", "gc_s",
                           "input_mb", "shuffle_read_mb", "shuffle_write_mb",
                           "spill_mb", "output_mb"), 0.0)
        for j in job_ids:
            job = self.store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1000.0 - w0,
                              done.get().getTime() / 1000.0 - w0))
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(sid, False, self.empty_list,
                                                False, self.no_quantiles)
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() == "SKIPPED":
                        continue
                    m["stages"] += 1
                    m["tasks"] += s.numCompleteTasks()
                    m["task_s"] += s.executorRunTime() / 1000.0
                    m["cpu_s"] += s.executorCpuTime() / 1e9
                    m["gc_s"] += s.jvmGcTime() / 1000.0
                    m["input_mb"] += s.inputBytes() / _MB
                    m["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
                    m["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
                    m["spill_mb"] += (s.memoryBytesSpilled()
                                      + s.diskBytesSpilled()) / _MB
                    m["output_mb"] += s.outputBytes() / _MB
        busy = union_s(spans, 0.0, op_s)
        m["jobs"] = len(job_ids)
        m["build_job_s"] = union_s(spans, 0.0, build_s)
        m["gap_s"] = op_s - busy
        last = max((b for _, b in spans), default=None)
        m["tail_s"] = op_s - max(build_s, min(last, op_s)) if last is not None \
            else op_s - build_s
        m["core_busy"] = (m["task_s"] / (busy * self.cores)) if busy > 0 else None
        return m

    @staticmethod
    def _catalyst(df) -> dict:
        jdf = getattr(df, "_jdf", None)
        if jdf is None:
            return {}
        phases = jdf.queryExecution().tracker().phases()
        return {f"{p}_ms": (phases.apply(p).durationMs()
                            if phases.contains(p) else 0)
                for p in ("analysis", "optimization", "planning")}
