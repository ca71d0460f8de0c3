"""Span tracer for the benchmark's traced runs.

Wraps the public functions of the engine's modules (and the contract's query
bodies) with spans, tags every Spark job with the span that issued it through
the job group, and folds Spark's own stage metrics into per-layer counters.

A span's self time is its duration minus the time its child spans cover.
Spark is lazy, so a module span measures plan construction plus the jobs the
module runs eagerly (checkpoints, collects); the final action runs in the
``exec`` span that the benchmark opens itself.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import time
from dataclasses import dataclass, field

PACKAGE = "smartpy_arc_spark"

# Every layer the per-layer metrics name.  A module whose layer is not listed
# here stays unwrapped, so its time counts in its caller's self time.
LAYERS = [
    "entry",
    "session",
    "sources",
    "functions",
    "operators.join",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
    "operators.components",
    "geometry",
    "multimodal",
    "sinks",
    "streaming",
    "exec",
]
LAYER_UNITS = {"calls": "count", "self_s": "s", "jobs": "count"}

# Spark's own stage metrics over the traced passes' jobs.
SPARK_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped_frac": "fraction",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.input_records": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_mb": "MB",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.exec_offcpu_s": "s",
    "spark.driver_gap_s": "s",
}


def layer_of(module_name: str) -> str | None:
    """``smartpy_arc_spark.operators.join`` -> ``operators.join``,
    ``smartpy_arc_spark.sources.scan`` -> ``sources``."""
    parts = module_name.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    if parts[1] == "operators":
        return "operators." + parts[2] if len(parts) > 2 else None
    return parts[1]


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: Span | None
    start: float  # time.perf_counter()
    wall_start: float  # the same instant in epoch seconds, for Spark's clock
    end: float = 0.0
    child_s: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        """The Spark job group that tags this span's jobs."""
        return f"perfbench-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s

    @property
    def wall_end(self) -> float:
        return self.wall_start + self.duration


@dataclass
class StageStats:
    status: str
    tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    input_records: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    peak_exec_mem: int
    submitted_ms: int | None
    completed_ms: int | None


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    """Spans in memory for one traced region; ``harvest`` attributes the
    Spark jobs that ran since the previous harvest."""

    def __init__(self, sc):
        self._jsc = sc._jsc
        self._store = sc._jsc.sc().statusStore()
        self._dag = sc._jsc.sc().dagScheduler()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.by_group: dict[str, Span] = {}
        self.job_span: dict[int, Span] = {}
        self.stages: dict[int, StageStats] = {}
        self.job_stages: dict[int, list[int]] = {}
        self._patched: list[tuple[object, str, object]] = []
        self.job_ids: list[int] = []
        # One anchor maps perf_counter() onto the epoch, so nested spans'
        # epoch intervals nest exactly as their perf_counter() ones do.
        self._perf0, self._epoch0 = time.perf_counter(), time.time()
        self._next_job = 0
        self._seq = 0

    # -- spans ---------------------------------------------------------
    def begin(self, layer: str, name: str) -> Span:
        self._seq += 1
        parent = self.stack[-1] if self.stack else None
        now = time.perf_counter()
        sp = Span(self._seq, layer, name, parent, now, self._epoch0 + now - self._perf0)
        self.by_group[sp.group] = sp
        self.spans.append(sp)
        self.stack.append(sp)
        self._jsc.setJobGroup(sp.group, f"{layer}:{name}", False)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        popped = self.stack.pop()
        if popped is not sp:
            raise RuntimeError(f"span {sp.name} closed out of order")
        if sp.parent is not None:
            sp.parent.child_s += sp.duration
            self._jsc.setJobGroup(
                sp.parent.group, f"{sp.parent.layer}:{sp.parent.name}", False
            )
        else:
            self._jsc.clearJobGroup()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        sp = self.begin(layer, name)
        try:
            yield sp
        finally:
            self.finish(sp)

    def wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.begin(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.finish(sp)

        return traced

    # -- installing wrappers -------------------------------------------
    def install(self, entry_module) -> None:
        """Wrap every public function of the listed layers' modules.  The
        references other modules and the contract module hold are swapped
        too, so calls between modules are traced.  Jobs that ran while the
        wrappers were out are not harvested."""
        self._next_job = self._dag.numTotalJobs()
        pkg = importlib.import_module(PACKAGE)
        modules = [pkg]
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            modules.append(importlib.import_module(info.name))
        wrappers: dict[int, object] = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            if layer not in LAYERS:
                continue
            for name, obj in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    wrappers[id(obj)] = self.wrap(obj, layer)
        namespaces = modules + [entry_module]
        for ns in namespaces:
            for name, obj in list(vars(ns).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._patched.append((ns, name, obj))
                    setattr(ns, name, w)

    def wrap_queries(self, queries: dict) -> dict:
        """The contract's query bodies, each wrapped in an ``entry`` span."""
        return {name: self.wrap(fn, "entry") for name, fn in queries.items()}

    def uninstall(self) -> None:
        for ns, name, obj in reversed(self._patched):
            setattr(ns, name, obj)
        self._patched.clear()

    # -- job attribution -----------------------------------------------
    def _span_at(self, ms: int | None) -> Span | None:
        """Innermost span whose interval holds the epoch-ms instant (for
        jobs Spark submits under a group of its own, e.g. streaming)."""
        if ms is None:
            return None
        best = None
        for sp in self.spans:
            if sp.end and sp.wall_start * 1000 - 1 <= ms <= sp.wall_end * 1000 + 1:
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    def harvest(self) -> None:
        """Attribute every job submitted since the last harvest to a span
        and record the metrics of its stages."""
        end = self._dag.numTotalJobs()
        for job_id in range(self._next_job, end):
            self.job_ids.append(job_id)
            job = self._store.job(job_id)
            grp = job.jobGroup()
            sp = self.by_group.get(grp.get()) if grp.isDefined() else None
            if sp is None:
                sp = self._span_at(_opt_ms(job.submissionTime()))
            if sp is not None:
                sp.jobs.append(job_id)
                self.job_span[job_id] = sp
            ids = job.stageIds()
            stage_ids = [ids.apply(i) for i in range(ids.size())]
            self.job_stages[job_id] = stage_ids
            for sid in stage_ids:
                if sid not in self.stages:
                    self.stages[sid] = self._stage(sid)
        self._next_job = end

    def _stage(self, stage_id: int) -> StageStats:
        from py4j.protocol import Py4JJavaError

        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError as e:
            # A job can list a shuffle-map stage an earlier job ran; once the
            # status store has evicted that stage it only reads as skipped.
            if "NoSuchElementException" not in str(e.java_exception):
                raise
            return StageStats("SKIPPED", *([0] * 11), None, None)
        return StageStats(
            status=str(st.status().toString()),
            tasks=st.numTasks(),
            failed_tasks=st.numFailedTasks(),
            run_ms=st.executorRunTime(),
            cpu_ns=st.executorCpuTime(),
            gc_ms=st.jvmGcTime(),
            input_bytes=st.inputBytes(),
            input_records=st.inputRecords(),
            shuffle_write_bytes=st.shuffleWriteBytes(),
            shuffle_read_bytes=st.shuffleReadBytes(),
            spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
            peak_exec_mem=st.peakExecutionMemory(),
            submitted_ms=_opt_ms(st.submissionTime()),
            completed_ms=_opt_ms(st.completionTime()),
        )

    # -- summaries -----------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_UNITS}
        for sp in self.spans:
            out[f"{sp.layer}.calls"] += 1
            out[f"{sp.layer}.self_s"] += sp.self_s
            out[f"{sp.layer}.jobs"] += len(sp.jobs)
        return out

    def spark_metrics(self) -> dict[str, float]:
        stages = [self.stages[s] for ids in self.job_stages.values() for s in ids]
        ran = [s for s in stages if s.status != "SKIPPED"]
        run_s = sum(s.run_ms for s in ran) / 1e3
        cpu_s = sum(s.cpu_ns for s in ran) / 1e9
        gc_s = sum(s.gc_ms for s in ran) / 1e3
        return {
            "spark.jobs": float(len(self.job_stages)),
            "spark.stages": float(len(ran)),
            "spark.stages_skipped_frac": (
                (len(stages) - len(ran)) / len(stages) if stages else 0.0
            ),
            "spark.tasks": float(sum(s.tasks for s in ran)),
            "spark.failed_tasks": float(sum(s.failed_tasks for s in ran)),
            "spark.input_bytes": float(sum(s.input_bytes for s in ran)),
            "spark.input_records": float(sum(s.input_records for s in ran)),
            "spark.shuffle_write_bytes": float(sum(s.shuffle_write_bytes for s in ran)),
            "spark.shuffle_read_bytes": float(sum(s.shuffle_read_bytes for s in ran)),
            "spark.spill_bytes": float(sum(s.spill_bytes for s in ran)),
            "spark.peak_exec_mem_mb": max((s.peak_exec_mem for s in ran), default=0) / 2**20,
            "spark.exec_run_s": run_s,
            "spark.exec_cpu_s": cpu_s,
            "spark.gc_s": gc_s,
            "spark.exec_offcpu_s": run_s - cpu_s - gc_s,
            "spark.driver_gap_s": self.driver_gap_s(),
        }

    def driver_gap_s(self) -> float:
        """Time inside ``exec`` spans during which none of the span's stages
        was running: planning, result handling and per-job dispatch."""
        gap = 0.0
        for sp in self.spans:
            if sp.layer != "exec":
                continue
            lo, hi = sp.wall_start * 1000, sp.wall_end * 1000
            ivs = sorted(
                (max(lo, st.submitted_ms), min(hi, st.completed_ms))
                for j in sp.jobs
                for st in (self.stages[s] for s in self.job_stages[j])
                if st.submitted_ms is not None and st.completed_ms is not None
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            gap += max(0.0, (hi - lo) - covered) / 1000
        return gap

    def dump(self) -> dict:
        """Spans and job attribution as plain data, for the trace file."""
        return {
            "spans": [
                {
                    "id": sp.sid,
                    "layer": sp.layer,
                    "name": sp.name,
                    "parent": sp.parent.sid if sp.parent else None,
                    "start_s": sp.wall_start,
                    "end_s": sp.wall_end,
                    "self_s": sp.self_s,
                    "jobs": sp.jobs,
                }
                for sp in self.spans
            ],
            "jobs": {str(j): self.job_stages[j] for j in self.job_ids},
        }
