"""The traced run: per-layer spans, Spark stage metrics and layer probes.

Spans are recorded from the benchmark's side, around calls into each
layer's functions (``LAYER_CALLS``), by swapping in a wrapper for the
duration of one traced iteration. A span keeps its name, layer, start,
end, parent and the range of Spark job ids submitted while it was open;
jobs are attributed by that id range, not by job group, because
``DqEngine.run`` may submit from a thread pool where job groups do not
follow. Stage metrics come from the driver's status store, which works
with ``spark.ui.enabled=false``. Self time is a span's duration minus the
time its child spans cover; a step's residual is the part of its wall time
no layer span covers.

Lazy layers (Column builders, DataFrame transforms) return before any work
runs, so their spans are short and the work shows in the span that executes
the plan. Their cost is measured by probes after the traced iteration:
the same call over the step's real input, written to Spark's ``noop`` sink,
or for the Arrow kernels, called directly on the driver (one core).
"""

from __future__ import annotations

import functools
import importlib
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

_PKG = "cloud_data_quality_spark"

#: (layer, module, attribute path) of each wrapped call
LAYER_CALLS = (
    ("sources.session", "sources.session", "get_spark"),
    ("config", "config.loader", "load_configs"),
    ("compiler", "compiler.binding", "compile_binding"),
    ("engine.runner", "engine.runner", "DqEngine.run"),
    ("engine.runner", "engine.runner", "DqEngine.run_binding"),
    ("engine.runner", "engine.runner", "DqEngine.high_watermarks"),
    ("engine.runner", "engine.runner", "DqEngine.register_entity_views"),
    ("engine.sinks", "engine.sinks", "ParquetAppendSink.write"),
    ("engine.sinks", "engine.sinks", "ParquetAppendSink.read"),
    ("engine.sinks", "engine.sinks", "ParquetAppendSink.exists"),
    ("engine.incremental", "engine.incremental", "ResumableQualityRun.run"),
    ("engine.pipeline", "engine.pipeline", "ResumableCurationPipeline.run"),
    ("engine.pipeline", "engine.pipeline",
     "ResumableCurationPipeline._run_partition_stage"),
    ("engine.pipeline", "engine.pipeline",
     "ResumableCurationPipeline._run_global_stage"),
    ("operators.quality_filter", "operators.quality_filter",
     "annotate_quality_arrow"),
    ("functions.html_extract", "functions.html_extract", "extract_text"),
    ("functions.corpus", "functions.corpus", "span_dedup"),
    ("functions.corpus", "functions.corpus", "top_fraction_by_score"),
    ("functions.dedup", "functions.dedup", "dedup_exact"),
    ("functions.dedup", "functions.dedup", "minhash_columns"),
    ("functions.dedup", "functions.dedup", "minhash_pairs_from_columns"),
    ("functions.dedup", "functions.dedup", "dedup_near_duplicates"),
    ("functions.hosts", "functions.hosts", "cap_per_host"),
    ("functions.packing", "functions.packing", "pack_documents"),
)
UNITS = ("quality", "span_dedup", "hosts", "dedup", "near_dedup",
         "select_top", "pack")
STEP_METRICS = ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    label: str = ""
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``jobs_submitted`` reads the highest Spark
    job id so far (-1 before the first job).

    A span opened on a worker thread (``DqEngine.run`` runs entity groups
    on a pool) is a child of the innermost span open on the thread that
    opened the step. Concurrent siblings overlap, so their self times can
    sum to more than the wall time they cover; on one thread, self times
    plus the step's residual add up to the step's wall time."""

    def __init__(self, jobs_submitted):
        self.spans: list[Span] = []
        self._jobs = jobs_submitted
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: list[int] | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, label: str = ""):
        stack = self._stack()
        with self._lock:
            if self._root is None:
                self._root = stack
            idx = len(self.spans)
            caller = stack or self._root
            parent = caller[-1] if caller else None
            self.spans.append(Span(name, layer, time.perf_counter(), parent,
                                   self._jobs() + 1, label=label))
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            s = self.spans[idx]
            s.job_hi = self._jobs()
            s.end = time.perf_counter()

    def step(self, name: str):
        return self.span(name, "step")

    def self_seconds(self, idx: int) -> float:
        """Duration minus the union of child intervals inside it."""
        s = self.spans[idx]
        ivs = sorted((max(self.spans[c].start, s.start),
                      min(self.spans[c].end, s.end)) for c in s.children)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return s.seconds - covered

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], list(self.spans[idx].children)
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(self.spans[c].children)
        return out

    def find(self, step: str, name: str) -> list[Span]:
        steps = [i for i, s in enumerate(self.spans)
                 if s.layer == "step" and s.name == step]
        if not steps:
            return []
        return [self.spans[i] for i in self.descendants(steps[-1])
                if self.spans[i].name == name]

    def step_span(self, step: str) -> tuple[int, Span]:
        for i, s in enumerate(self.spans):
            if s.layer == "step" and s.name == step:
                return i, s
        raise KeyError(step)


def _resolve(module: str, path: str):
    mod = importlib.import_module(f"{_PKG}.{module}")
    owner, attr = mod, path
    if "." in path:
        cls_name, attr = path.split(".")
        owner = getattr(mod, cls_name)
    return owner, attr


def _unit_label(args) -> str:
    # _run_*_stage(self, df, stage, idx, run_id, ...)
    return getattr(args[2], "name", "") if len(args) > 2 else ""


@contextmanager
def instrumented(tracer: Tracer):
    """Wrap every ``LAYER_CALLS`` entry, and every module-level alias of a
    wrapped function inside the package, until exit."""
    restore = []
    for layer, module, path in LAYER_CALLS:
        owner, attr = _resolve(module, path)
        orig = owner.__dict__[attr]
        label_fn = _unit_label if attr.startswith("_run_") else None

        def make(orig=orig, name=f"{module}.{path}", layer=layer,
                 label_fn=label_fn):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                label = label_fn(args) if label_fn else ""
                with tracer.span(name, layer, label):
                    return orig(*args, **kwargs)
            return wrapper

        wrapped = make()
        setattr(owner, attr, wrapped)
        restore.append((owner, attr, orig))
        if owner.__name__.startswith(_PKG) and not isinstance(owner, type):
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(_PKG) and \
                        m is not owner and m.__dict__.get(attr) is orig:
                    setattr(m, attr, wrapped)
                    restore.append((m, attr, orig))
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(restore):
            setattr(owner, attr, orig)


# ------------------------------------------------------ Spark status store

class StatusStore:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm

    def max_job_id(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def stage_ids(self, job_lo: int, job_hi: int) -> set[int]:
        out: set[int] = set()
        for j in range(job_lo, job_hi + 1):
            info = self.tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return out

    def stage_metrics(self, stage_ids: set[int]) -> dict[int, dict]:
        """Metrics per completed stage attempt, summed over attempts."""
        empty = self._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        out: dict[int, dict] = {}
        stages = self._store.stageList(empty, False, False, quantiles, empty)
        for st in self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                stages):
            sid = st.stageId()
            if sid not in stage_ids:
                continue
            m = out.setdefault(sid, {k: 0.0 for k in STEP_METRICS})
            m["executor_run_s"] += st.executorRunTime() / 1e3
            m["executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["jvm_gc_s"] += st.jvmGcTime() / 1e3
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += (st.memoryBytesSpilled()
                                 + st.diskBytesSpilled())
        return out

    def totals(self, job_lo: int, job_hi: int) -> dict[str, float]:
        per_stage = self.stage_metrics(self.stage_ids(job_lo, job_hi))
        return {k: sum(m[k] for m in per_stage.values())
                for k in STEP_METRICS}

    def reset_heap_peaks(self) -> None:
        for pool in self._jvm.java.lang.management.ManagementFactory \
                .getMemoryPoolMXBeans():
            pool.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum over heap pools of each pool's peak use since the reset."""
        heap = self._jvm.java.lang.management.MemoryType.HEAP
        return sum(p.getPeakUsage().getUsed() for p in
                   self._jvm.java.lang.management.ManagementFactory
                   .getMemoryPoolMXBeans() if p.getType() == heap) / 2**20


# --------------------------------------------------------------- probes

def timed_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _per_core_rate(fn, texts, batch: int = 2048) -> float:
    """Documents per second of ``fn`` on one core, over 2048-row batches
    (the session's Arrow batch size)."""
    import pandas as pd
    t0 = time.perf_counter()
    for i in range(0, len(texts), batch):
        fn(pd.Series(texts[i:i + batch], dtype=object))
    return len(texts) / (time.perf_counter() - t0)


def kernel_rates(texts: list) -> dict[str, float]:
    from cloud_data_quality_spark.functions.webtext_rules import (
        perplexity_batch, quality_annotations_batch)
    return {
        "functions.webtext_rules.quality_docs_per_s_per_core":
            _per_core_rate(quality_annotations_batch, texts),
        "functions.webtext_rules.perplexity_docs_per_s_per_core":
            _per_core_rate(perplexity_batch, texts),
    }


def dir_bytes_files(path: Path) -> tuple[int, int]:
    files = [f for f in path.rglob("*.parquet")] if path.exists() else []
    return sum(f.stat().st_size for f in files), len(files)


# ------------------------------------------------------------- metrics

def _empty_metrics() -> dict[str, tuple[float, str]]:
    m = {
        "sources.session.get_spark_s": "s",
        "config.load_s": "s", "compiler.compile_s": "s",
        "compiler.bindings": "count", "engine.runner.run_s": "s",
        "engine.runner.spark_jobs": "count",
        "engine.runner.core_busy_ratio": "ratio",
        "engine.runner.high_watermarks_s": "s",
        "engine.sinks.summary_write_s": "s",
        "engine.runner.failed_records_bytes": "bytes",
        "functions.html_extract.extract_s": "s",
        "operators.quality_filter.annotate_s": "s",
        "operators.quality_filter.keep_ratio": "ratio",
        "functions.webtext_rules.quality_docs_per_s_per_core": "1/s",
        "functions.webtext_rules.perplexity_docs_per_s_per_core": "1/s",
        "engine.incremental.run_s": "s",
        "engine.incremental.bytes_written": "bytes",
        "engine.incremental.files_written": "count",
    }
    for kind, unit in (("unit_s", "s"), ("unit_rows_out", "count"),
                       ("unit_shuffle_write_bytes", "bytes"),
                       ("unit_spill_bytes", "bytes")):
        for u in UNITS:
            m[f"engine.pipeline.{kind}.{u}"] = unit
    m.update({
        "functions.corpus.span_dedup_s": "s",
        "functions.corpus.span_dedup_shuffle_bytes": "bytes",
        "functions.dedup.near_dedup_s": "s", "functions.dedup.pairs": "count",
    })
    for step in ("job", "resume"):
        for k in STEP_METRICS:
            m[f"spark.{step}.{k}"] = "s" if k.endswith("_s") else "bytes"
    m.update({"spark.jvm_peak_heap_mb": "MB", "trace.residual_s": "s",
              "trace.overhead_s": "s", "trace.resume_residual_s": "s",
              "trace.resume_overhead_s": "s"})
    return {k: (0.0, u) for k, u in m.items()}


def sum_seconds(spans: list[Span]) -> float:
    return sum(s.seconds for s in spans)


def traced_metrics(loop, wl, spark, untraced_jobs, untraced_resumes) -> dict:
    """One traced iteration between untraced ones, then the layer probes.
    Returns {metric: (value, unit)} for every per-layer metric; layers the
    workload does not call report 0. The probes' checks count in ``ops``."""
    store = StatusStore(spark)
    tracer = Tracer(store.max_job_id)
    store.reset_heap_peaks()
    with instrumented(tracer):
        job_s, resume_s = loop.iteration(tracer)
        heap_mb = store.heap_peak_mb()
        m = _empty_metrics()

        def put(name, value):
            m[name] = (float(value), m[name][1])

        put("spark.jvm_peak_heap_mb", heap_mb)
        for step in ("job", "resume"):
            _, s = tracer.step_span(step)
            for k, v in store.totals(s.job_lo, s.job_hi).items():
                put(f"spark.{step}.{k}", v)
        put("sources.session.get_spark_s",
            sum_seconds(tracer.find("job", "sources.session.get_spark")))
        wl.layer_metrics(tracer, store, put)
        wl.layer_probes(spark, store, put, tracer, loop.ops)
    after_job, after_resume = loop.iteration()
    ref_job = statistics.median(untraced_jobs[-2:] + [after_job])
    ref_resume = statistics.median(untraced_resumes[-2:] + [after_resume])
    for step, key in (("job", "trace.residual_s"),
                      ("resume", "trace.resume_residual_s")):
        put(key, tracer.self_seconds(tracer.step_span(step)[0]))
    put("trace.overhead_s", job_s - ref_job)
    put("trace.resume_overhead_s", resume_s - ref_resume)
    return m


def runner_metrics(tracer: Tracer, store: StatusStore, put, cores: int,
                   failed_dir: Path) -> None:
    """engine.runner / engine.sinks / config metrics of a ``validate``
    job and its ``--incremental`` resume."""
    put("config.load_s", sum_seconds(tracer.find(
        "job", "config.loader.load_configs")))
    runs = tracer.find("job", "engine.runner.DqEngine.run")
    if runs:
        r = runs[0]
        put("engine.runner.run_s", r.seconds)
        put("engine.runner.spark_jobs", max(0, r.job_hi - r.job_lo + 1))
        busy = store.totals(r.job_lo, r.job_hi)["executor_run_s"]
        put("engine.runner.core_busy_ratio", busy / (cores * r.seconds))
    put("engine.runner.high_watermarks_s", sum_seconds(tracer.find(
        "resume", "engine.runner.DqEngine.high_watermarks")))
    put("engine.sinks.summary_write_s", sum_seconds(tracer.find(
        "job", "engine.sinks.ParquetAppendSink.write")))
    put("engine.runner.failed_records_bytes", dir_bytes_files(failed_dir)[0])


def pipeline_metrics(tracer: Tracer, store: StatusStore, put,
                     job_stdout: str, step: str) -> None:
    """engine.pipeline metrics of one traced ``curate`` step."""
    import json
    stages = json.loads(job_stdout.strip().splitlines()[-1])["stages"]
    for s in stages:
        if s["name"] in UNITS:
            put(f"engine.pipeline.unit_rows_out.{s['name']}", s["rows_out"])
    for name in ("engine.pipeline.ResumableCurationPipeline."
                 "_run_partition_stage",
                 "engine.pipeline.ResumableCurationPipeline."
                 "_run_global_stage"):
        for sp in tracer.find(step, name):
            if sp.label not in UNITS:
                continue
            put(f"engine.pipeline.unit_s.{sp.label}", sp.seconds)
            t = store.totals(sp.job_lo, sp.job_hi)
            put(f"engine.pipeline.unit_shuffle_write_bytes.{sp.label}",
                t["shuffle_write_bytes"])
            put(f"engine.pipeline.unit_spill_bytes.{sp.label}",
                t["spill_bytes"])


def probe_seconds(store: StatusStore, fn) -> tuple[float, dict[str, float]]:
    """Wall seconds of ``fn()`` and the Spark totals of the jobs it ran."""
    lo = store.max_job_id() + 1
    t0 = time.perf_counter()
    result = fn()
    seconds = time.perf_counter() - t0
    totals = store.totals(lo, store.max_job_id())
    totals["result"] = result
    return seconds, totals
