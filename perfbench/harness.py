"""One benchmark run: set up, a cold pass, warm passes, output checks.

Every timed call reads its inputs through a directory it alone uses
(:class:`FreshPaths`), so no call can reuse work an earlier call left in
a cache keyed by input path. The loop is closed: one driver thread, each
call waits for the previous one, on a ``local[<cores>]`` session.
"""

from __future__ import annotations

import importlib
import itertools
import os
import random
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass
from collections.abc import Callable
from pathlib import Path

from perfbench import checks, stats, tracing, wordcount, workloads

SETUP_REPEATS = 5
WARMUP_PASSES = 1
MIN_WARM_PASSES = 2
ENGINE = "p4_mapreduce_spark"


class FreshPaths:
    """Hands out a new directory of symlinks to ``files`` on every call."""

    def __init__(self, root: Path, files: list[Path]) -> None:
        self.root = root
        self.files = files
        self._n = itertools.count()
        root.mkdir(parents=True, exist_ok=True)

    def __call__(self) -> str:
        d = self.root / f"p{next(self._n):05d}"
        d.mkdir()
        for f in self.files:
            (d / f.name).symlink_to(f)
        return str(d)


@dataclass
class Call:
    name: str
    mr: bool  # a ``run_job`` word count rather than a registry query
    fn: Callable  # fn(path, phase=None, collect=False)
    paths: FreshPaths


@dataclass
class PassResult:
    wall: float
    calls: list[tuple[str, float]]  # (name, wall) in call order
    span: tracing.Span | None = None


def stop_spark(spark) -> None:
    """Stop the session, shut its JVM down and wait for it (and the
    Python workers it started) to exit; the next session launches a new
    JVM."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 data_dir: Path, work: Path, cache_dir: Path, cores: int) -> None:
        if workload not in workloads.WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; expected one of {sorted(workloads.WORKLOADS)}")
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.work = work
        self.cache_dir = cache_dir
        self.cores = cores
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.tracer = tracing.Tracer()
        self.counters = tracing.BoundaryCounters()
        self._trace_ids = itertools.count(1)
        self.spark = None
        self.registry = None

    # ------------------------------------------------------------ setup

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.trace else "false",
        }
        if self.trace:
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        return conf

    def setup(self) -> float:
        """Start the session and load the registry SETUP_REPEATS times,
        each time on a new SparkContext and a fresh import of the engine;
        returns the median. Only the first start launches the JVM (8-9 s
        on 4 cores, more than the rest of the set-up), so the median
        leaves the launch out; the first start is reported on its own as
        ``session.first_start_s``."""
        walls = []
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            for m in [m for m in sys.modules if m == ENGINE or m.startswith(ENGINE + ".")]:
                del sys.modules[m]
            t0 = time.perf_counter()
            session = importlib.import_module(ENGINE + ".session")
            self.spark = session.get_spark(app_name="perfbench", extra_conf=self._conf())
            t1 = time.perf_counter()
            self.registry = importlib.import_module(ENGINE + ".registry").load_all()
            t2 = time.perf_counter()
            walls.append((t2 - t0, t1 - t0, t2 - t1))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.first_start_s = walls[0][1]
        print("perfbench: set-up walls", " ".join(f"{w[0]:.3f}" for w in walls), file=sys.stderr)
        if self.trace:
            sc = self.spark.sparkContext
            self.rest = tracing.Rest(sc.uiWebUrl, sc.applicationId)
        # the median sample, so the two layers add up to setup_s
        walls.sort()
        _, self.session_start_s, self.registry_load_s = walls[len(walls) // 2]
        return walls[len(walls) // 2][0]

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def _passes(self, seconds: float) -> int:
        """Passes that fill about ``seconds`` at the workload's nominal
        pass time. Runs make a fixed count of passes rather than run to a
        deadline: the JVM keeps speeding up pass after pass, so with a
        deadline the host's speed would choose which passes are measured."""
        return round(seconds / workloads.NOMINAL_PASS_S[self.workload])

    # ------------------------------------------------------------ calls

    def _calls(self) -> list[Call]:
        """The calls of one pass, in workload order (passes shuffle it)."""
        names = workloads.WORKLOADS[self.workload]
        tables = FreshPaths(self.work / "inputs", sorted(self.data_dir.glob("*.parquet")))
        self.oracle = checks.OracleCache(self.cache_dir, self.data_dir)
        if any(n in workloads.MR_CALLS for n in names):
            corpus = self._mr_corpus()
        return [
            Call(n, True, self._mr_call(n), corpus) if n in workloads.MR_CALLS
            else Call(n, False, self._query_call(self.registry[n]), tables)
            for n in names
        ]

    def _query_call(self, spec):
        spark = self.spark

        def call(path, phase=None, collect=False):
            df = spec.fn(spark, path)
            if phase:
                phase("plan")
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phase("action", **_catalyst_phases(qe))
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return call

    def _mr_corpus(self) -> FreshPaths:
        """Write the seeded word-count corpus once per run."""
        texts, self.mr_counts = wordcount.make_corpus(
            self.seed, workloads.MR_FILES, workloads.MR_FILE_BYTES
        )
        corpus = self.work / "corpus"
        corpus.mkdir()
        files = []
        for i, text in enumerate(texts):
            p = corpus / f"part{i:02d}.txt"
            p.write_text(text)
            files.append(p)
        self.mr_out = itertools.count()
        return FreshPaths(self.work / "mr-inputs", files)

    def _mr_call(self, kind: str):
        """One ``run_job`` word count; the call returns its output files."""
        from p4_mapreduce_spark.plans.job import Job, run_job

        if kind == "wordcount_callables":
            mapper, reducer = wordcount.map_words, wordcount.reduce_counts
        else:
            script = Path(wordcount.__file__).resolve()
            mapper = f"{sys.executable} {script} map"
            reducer = f"{sys.executable} {script} reduce"

        def call(path, phase=None, collect=False):
            out = self.work / "mr-out" / f"o{next(self.mr_out):05d}"
            return run_job(self.spark, Job(path, str(out), mapper, reducer,
                                           workloads.MR_MAPPERS, workloads.MR_REDUCERS))
        return call

    # ------------------------------------------------------------ checks

    def _check(self, call: Call, out, cold: bool) -> bool:
        """Queries are checked on the cold pass, which collects their rows;
        every ``run_job`` call's output files are checked."""
        try:
            if call.mr:
                if wordcount.read_counts(out) == self.mr_counts:
                    return True
            elif not cold or self.oracle.matches(call.name, self.registry[call.name].oracle, out):
                return True
        except Exception:
            traceback.print_exc()
        print(f"perfbench: {call.name}: output differs from the expected result", file=sys.stderr)
        return False

    # ------------------------------------------------------------ passes

    def _pass(self, calls: list[Call], traced: bool, cold: bool = False) -> PassResult:
        """Run every call once, in an order drawn from the seed. Outputs
        are checked after each call's timer stops."""
        order = list(calls)
        self.rng.shuffle(order)
        pspan = self.tracer.open("pass", 0) if traced else None
        results = []
        if traced:
            self.counters.install()
        try:
            for call in order:
                results.append(self._checked_call(call, pspan, cold))
        finally:
            self.counters.uninstall()
        if traced:
            self.tracer.close(pspan)
        return PassResult(sum(w for _, w in results), results, pspan)

    def _checked_call(self, call: Call, pspan, cold: bool) -> tuple[str, float]:
        """Run one call on a fresh input path, then check its output;
        returns ``(name, wall)``."""
        ok, wall, out, span = self._call(call, call.paths(), pspan, collect=cold)
        ok = ok and self._check(call, out, cold)
        if span is not None:
            if call.mr and ok:
                span.attrs["job.output_bytes"] = sum(os.path.getsize(p) for p in out)
            span.attrs["stagemat.held_bytes"] = self.rest.held_bytes()
        self.attempted += 1
        self.failed += not ok
        return call.name, wall

    def _call(self, call: Call, path: str, pspan, collect=False):
        """Time one call; traced, it runs under its own job group with a
        span per phase and records the boundary counters it moved."""
        if pspan is None:
            t0 = time.perf_counter()
            try:
                out, ok = call.fn(path, collect=collect), True
            except Exception:
                traceback.print_exc()
                out, ok = None, False
            return ok, time.perf_counter() - t0, out, None

        tid = next(self._trace_ids)
        sc = self.spark.sparkContext
        span = self.tracer.open("call", tid, pspan.span_id, query=call.name,
                                group=f"perfbench-{tid}")
        before = Counter(self.counters.counts)
        sc.setJobGroup(span.attrs["group"], call.name)

        def phase(next_name, **attrs):
            cur[0].attrs.update(attrs)
            self.tracer.close(cur[0])
            cur[0] = self.tracer.open(next_name, tid, span.span_id)

        t0 = time.perf_counter()
        cur = [self.tracer.open("action" if call.mr else "construct", tid, span.span_id)]
        try:
            out, ok = call.fn(path, phase, collect), True
        except Exception:
            traceback.print_exc()
            out, ok = None, False
        self.tracer.close(cur[0])
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.close(span)
        span.attrs.update(self.counters.counts - before)
        span.attrs["mr"] = call.mr
        return ok, wall, out, span

    # ------------------------------------------------------------ run

    def execute(self) -> dict:
        cpu_before = cpu_times()
        setup_s = self.setup()
        calls = self._calls()
        cold = self._pass(calls, traced=self.trace, cold=True)
        # the passes right after the cold one are still compiling (JIT,
        # codegen) fastest; they run, are checked, and are not measured
        for _ in range(WARMUP_PASSES):
            self._pass(calls, traced=False)
        warm, untraced = [], []
        n_warm = max(self._passes(self.seconds), MIN_WARM_PASSES)
        for _ in range(n_warm):
            if not self.trace:
                warm.append(self._pass(calls, traced=False))
                continue
            # traced and untraced passes alternate, each going first in
            # every other pair; the difference of their medians is the
            # tracing overhead
            pair = [(warm, True), (untraced, False)]
            for results, traced in pair if len(warm) % 2 else pair[::-1]:
                results.append(self._pass(calls, traced=traced))

        # walls are raw; a run in a stretch of high steal is slow as a whole
        print("perfbench: cold pass", f"{cold.wall:.2f}", "warm passes",
              " ".join(f"{p.wall:.2f}" for p in warm),
              f"host steal {steal_share(cpu_before, cpu_times()):.1%}", file=sys.stderr)
        by_call: dict[str, list[float]] = {}
        for p in warm:
            for name, w in p.calls:
                by_call.setdefault(name, []).append(w)
        for name, w in by_call.items():
            print(f"perfbench: {name} warm walls", " ".join(f"{x:.2f}" for x in w), file=sys.stderr)
        walls = [w for p in warm for _, w in p.calls]
        # The median and tail of all warm call walls are printed, not
        # bounded: the calls differ by up to 3x, so the median falls in a
        # gap between calls and jumps from one to another, and a run has
        # too few warm calls for a real tail (p90 needs 100).
        tail = "too few warm calls for query_tail_s"
        if len(walls) > stats.TAIL_MIN_BEYOND:
            value, pct, n = stats.tail(walls)
            tail = f"query_tail_s {value:.4f} s (p{pct} of {n} warm calls)"
        print(f"perfbench: {self.workload} seed={self.seed}: {len(warm)} warm passes, "
              f"query_p50_s {stats.median(walls):.4f} s, {tail}, "
              f"failed_ops {self.failed}/{self.attempted}", file=sys.stderr)
        if self.trace:
            metrics = self._layer_metrics(warm, untraced)
            metrics["mem.peak_rss_mb"] = (vm_hwm_mb(self.jvm_pid()) + vm_hwm_mb(), "MB")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_pass_s": (cold.wall, "s"),
                "pass_s": (stats.median([p.wall for p in warm]), "s"),
                "query_gmean_s": (statistics.geometric_mean([stats.median(w) for w in by_call.values()]), "s"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # ------------------------------------------------------------ layers

    def _layer_metrics(self, warm: list[PassResult], untraced: list[PassResult]) -> dict:
        """Per-layer metrics: the median over traced warm passes of each
        pass's total."""
        by_group = tracing.jobs_by_group(self.rest.jobs())
        stages: dict[int, list[dict]] = {}
        for s in self.rest.stages():
            if s["status"] != "SKIPPED":
                stages.setdefault(s["stageId"], []).append(s)
        sql = self.rest.sql()
        per_pass = [self._pass_layers(p, by_group, stages, sql) for p in warm]
        out = {k: stats.median([p[k] for p in per_pass]) for k in LAYER_KEYS}
        out["session.start_s"] = self.session_start_s
        out["session.first_start_s"] = self.first_start_s
        out["registry.load_s"] = self.registry_load_s
        out["trace.untraced_pass_s"] = stats.median([p.wall for p in untraced])
        out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
        self.tracer.dump(self.work.parent / f"spans-{self.workload}-{self.seed}.jsonl")
        return {k: (v, _unit(k)) for k, v in out.items() if k in LAYER_KEYS}

    def _pass_layers(self, p: PassResult, by_group, stages, sql) -> Counter:
        t = self.tracer
        out: Counter = Counter()
        out["trace.pass_s"] = p.wall
        slowest = None
        for call in t.children(p.span):
            phases = {s.name: s for s in t.children(call)}
            jobs = by_group.get(call.attrs["group"], [])
            windows = [(n, s.start, s.end) for n, s in phases.items()]
            job_spans = []
            for j in jobs:
                start = tracing.parse_rest_time(j["submissionTime"])
                end = tracing.parse_rest_time(j.get("completionTime", j["submissionTime"]))
                ph = phases[tracing.window_of(start, windows, "action")]
                job_spans.append(t.add("spark_job", start, end, call.trace_id, ph.span_id,
                                       job_id=j["jobId"], stage_ids=j["stageIds"]))
            for name, ph in phases.items():
                kids = [s for s in job_spans if s.parent_id == ph.span_id]
                out[f"self.{name}_s"] += tracing.self_time(ph, kids)
                out.update({k: v for k, v in ph.attrs.items() if k.startswith("catalyst.")})
            out["trace.residual_s"] -= sum(ph.duration for ph in phases.values())
            out["self.job_s"] += sum(s.duration for s in job_spans)
            out.update({k: v for k, v in call.attrs.items()
                        if k.startswith(("stagemat.", "sources.", "job."))
                        and k != "stagemat.held_bytes"})
            out["stagemat.held_bytes"] = max(out["stagemat.held_bytes"],
                                             call.attrs["stagemat.held_bytes"])

            construct = phases.get("construct")
            if construct is not None:
                kids = [s for s in job_spans if s.parent_id == construct.span_id]
                out["operators.construct_s"] += construct.duration
                out["operators.driver_jobs"] += len(kids)
                out["operators.driver_py_s"] += tracing.self_time(construct, kids)
                out["operators.driver_job_s"] += construct.duration - tracing.self_time(construct, kids)
            action = phases["action"]
            out["exec.action_s"] += action.duration
            exec_jobs = [s for s in job_spans if construct is None or s.parent_id != construct.span_id]
            out["exec.jobs"] += len(exec_jobs)
            # a stage a later job reuses is listed by both jobs but ran once
            for sid in {sid for js in exec_jobs for sid in js.attrs["stage_ids"]}:
                for st in stages.get(sid, []):
                    _add_stage(out, st)
                    wall = _stage_wall(st)
                    if slowest is None or wall > slowest[0]:
                        slowest = (wall, st)
            if call.attrs["mr"]:
                _job_layer(out, action, job_spans, stages)
            out.update(tracing.python_node_metrics(
                tracing.executions_for_jobs(sql, [j["jobId"] for j in jobs])))
        out["self.harness_s"] = tracing.self_time(p.span, t.children(p.span))
        # what of the timed call walls no phase span covers
        out["trace.residual_s"] += p.wall
        if out["exec.action_s"]:
            out["exec.core_busy"] = out["exec.run_s"] / (out["exec.action_s"] * self.cores)
        if slowest is not None:
            med, mx = self.rest.task_quantiles(slowest[1]["stageId"], slowest[1]["attemptId"])
            out["exec.task_skew"] = mx / med if med else 1.0
        return out


def _job_layer(out: Counter, action, job_spans, stages) -> None:
    """Split a ``run_job`` call by stage. Each Spark job's last (result)
    stage is the reduce: shuffle read, sorted merge, reducer, part-file
    write. The stages before it are the map: text scan, the mapper-count
    repartition, the mapper. The group is the shuffle between them
    (write time plus fetch wait). These three are task time summed over
    tasks; the sink is the driver wall after the last Spark job (part
    listing and renames)."""
    out["job.run_s"] += action.duration
    last_end = max([action.start] + [js.end for js in job_spans])
    seen: set[int] = set()
    for js in job_spans:
        ids = sorted(js.attrs["stage_ids"])
        for sid in ids:
            if sid in seen:
                continue
            seen.add(sid)
            for st in stages.get(sid, []):
                run_s = st["executorRunTime"] / 1e3
                write_s = st["shuffleWriteTime"] / 1e9
                wait_s = st["shuffleFetchWaitTime"] / 1e3
                if sid == ids[-1]:
                    out["job.reduce_s"] += run_s - wait_s
                    out["job.group_s"] += wait_s
                else:
                    out["job.map_s"] += run_s - write_s
                    out["job.group_s"] += write_s
                out["job.shuffle_bytes"] += st["shuffleWriteBytes"]
    out["job.sink_s"] += max(0.0, action.end - last_end)


def _catalyst_phases(qe) -> dict[str, float]:
    """Analysis, optimization and planning time (ms) from the frame's
    ``QueryExecution`` phase tracker."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            out[f"catalyst.{phase}_ms"] = opt.get().durationMs()
    return out


def _stage_wall(st: dict) -> float:
    if "submissionTime" in st and "completionTime" in st:
        return tracing.parse_rest_time(st["completionTime"]) - tracing.parse_rest_time(st["submissionTime"])
    return 0.0


def _add_stage(out: Counter, st: dict) -> None:
    out["exec.stages"] += 1
    out["exec.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
    out["exec.failed_tasks"] += st["numFailedTasks"]
    out["exec.run_s"] += st["executorRunTime"] / 1e3
    out["exec.cpu_s"] += st["executorCpuTime"] / 1e9
    out["exec.gc_s"] += st["jvmGcTime"] / 1e3
    out["exec.input_bytes"] += st["inputBytes"]
    out["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
    out["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
    out["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]


LAYER_KEYS = (
    "session.start_s", "session.first_start_s", "registry.load_s",
    "operators.construct_s", "operators.driver_jobs", "operators.driver_job_s", "operators.driver_py_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s",
    "exec.gc_s", "exec.core_busy", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.failed_tasks", "exec.task_skew",
    "python.nodes", "python.start_s", "python.init_s", "python.run_s", "python.bytes_in",
    "python.bytes_out",
    "stagemat.checkpoints", "stagemat.persists", "stagemat.held_bytes",
    "sources.reads", "sources.repartitions",
    "job.run_s", "job.map_s", "job.group_s", "job.reduce_s", "job.sink_s", "job.shuffle_bytes",
    "job.output_bytes",
    "self.harness_s", "self.construct_s", "self.plan_s", "self.action_s", "self.job_s",
    "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s", "trace.residual_s",
    "mem.peak_rss_mb",
)


def _unit(key: str) -> str:
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_ms"):
        return "ms"
    if key.endswith("_s"):
        return "s"
    if "bytes" in key:
        return "B"
    if key.endswith(("core_busy", "task_skew")):
        return "ratio"
    return "count"
