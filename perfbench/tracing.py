"""Traced phase: spans around calls into each engine module, Spark job
attribution from the event log, and the per-layer metrics.

Nothing in the engine changes.  For the traced phase only, the entry
points listed in ``TARGETS`` are wrapped from outside (every module
binding of the same function object is replaced, and restored after):

- each call records a span (name, module, start, end, parent, run id)
  kept in memory, and tags the Spark jobs it starts with
  ``SparkContext.setJobGroup("pb:<run>:<span>", module)``;
- ``DataFrame.collect`` counts the rows pulled to the driver per calling
  module;
- Spark's event log (enabled through ``get_spark(extra_conf=...)``) is
  parsed after the phase: every job is attributed to the engine module
  named in its PySpark call site (``collect at .../operators/indexing.py:54``)
  and otherwise to the module of the span that started it.

Per-layer metrics per module M (of the traced first call):
``M.jobs``, ``M.task_s`` (summed executor run time), ``M.driver_s`` (M's
span self time not covered by M's jobs), ``M.shuffle_mb`` and
``M.spill_mb``; plus the session and per-module counts listed in
``per_layer_metrics``.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "parquet_converters_spark"

LAYERS = [
    "sources.touch_binary", "operators.touch_transform", "sinks.parquet_sink",
    "sources.ordering", "operators.indexing", "sinks.sonata",
    "sinks.hdf5_minimal", "pipelines",
    "functions.dedup", "functions.text", "operators.graph",
]

#: wrapped entry points per layer module ("Class.method" for methods)
TARGETS = {
    "pipelines": ["touch2parquet", "parquet_to_sonata", "prepare_corpus"],
    "sources.touch_binary": ["read_touch_header", "read_touches"],
    "operators.touch_transform": ["validate_sections", "to_canonical_edges"],
    "sinks.parquet_sink": ["write_canonical_parquet", "_stamp_kv_metadata",
                           "_write_metadata_sidecar"],
    "sources.ordering": ["read_parquet_ordered"],
    "operators.indexing": ["build_sonata_indices", "infer_node_count"],
    "sinks.sonata": ["write_sonata_bundle", "collect_kv_metadata",
                     "export_hdf5_parallel"],
    "sinks.hdf5_minimal": ["MiniH5Writer.write"],
    "functions.dedup": ["near_dedup_pipeline", "near_dedup_survivors"],
    "functions.text": ["quality_score"],
    "operators.graph": ["connected_components"],
}

#: entry points whose arguments and result a traced call keeps, for the
#: counts ``Workload.trace_counts`` derives from them after the call
CAPTURE = {"near_dedup_pipeline"}

LAYER_STATS = [("jobs", "count"), ("task_s", "s"), ("driver_s", "s"),
               ("shuffle_mb", "MB"), ("spill_mb", "MB")]

#: counts and times beyond the five per-module statistics
EXTRA = {
    "session.gc_s": "s",
    "session.pinned_mb": "MB",
    "session.peak_rss_mb": "MB",
    "session.cold_start_s": "s",
    "sources.touch_binary.scan_jobs": "count",
    "sinks.parquet_sink.stamp_s": "s",
    "operators.indexing.ranges_s2t": "count",
    "operators.indexing.ranges_t2s": "count",
    "operators.indexing.collect_rows": "count",
    "operators.indexing.share_s": "s",
    "sinks.sonata.bundle_span_s": "s",
    "sinks.sonata.h5_span_s": "s",
    "sinks.hdf5_minimal.skeleton_s": "s",
    "functions.dedup.candidate_pairs": "count",
    "functions.dedup.pair_yield": "fraction",
    "tracing.overhead_s": "s",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{m}.{s}": u for m in LAYERS for s, u in LAYER_STATS}
    out.update(EXTRA)
    return out


@dataclass
class Span:
    id: int
    name: str
    module: str
    parent: int | None
    run: int
    start: float
    end: float = 0.0


@dataclass
class Recorder:
    """Spans and driver-side row counts, in memory until the phase ends."""

    sc: object
    run: int = -1
    spans: list = field(default_factory=list)
    stack: list = field(default_factory=list)
    collected: dict = field(default_factory=dict)  # (run, module) -> rows
    captured: dict = field(default_factory=dict)   # run -> [(name, arguments, result)]

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setJobGroup(f"pb:{self.run}:root", "benchmark")
        else:
            self.sc.setJobGroup(f"pb:{self.run}:{span.id}", span.module)

    @contextmanager
    def span(self, name: str, module: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, module, parent.id if parent else None,
                 self.run, time.time())
        self.spans.append(s)
        self.stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self._group(self.stack[-1] if self.stack else None)

    def next_run(self, run: int) -> None:
        """Jobs from here on belong to ``run`` until a span opens."""
        self.run = run
        self._group(None)

    def off(self) -> None:
        """Jobs from here on belong to no traced run."""
        self.sc.setJobGroup("pb:off:root", "benchmark")

    def count(self, table: dict, module: str, n: int) -> None:
        key = (self.run, module)
        table[key] = table.get(key, 0) + n


def _module_of_file(path: str) -> str | None:
    """``.../parquet_converters_spark/operators/indexing.py`` -> ``operators.indexing``."""
    marker = os.sep + PKG + os.sep
    i = path.rfind(marker)
    if i < 0 or not path.endswith(".py"):
        return None
    return path[i + len(marker):-3].replace(os.sep, ".")


def _caller(skip_files: tuple[str, ...]):
    """The innermost frame outside pyspark and this file."""
    import pyspark

    spark_dir = os.path.dirname(pyspark.__file__)
    f = sys._getframe(2)
    while f is not None and (
        f.f_code.co_filename.startswith(spark_dir) or f.f_code.co_filename in skip_files
    ):
        f = f.f_back
    return f


class Instrumentation:
    """Installs the wrappers for one traced phase and removes them after."""

    def __init__(self, rec: Recorder):
        self.rec = rec
        self.undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, new) -> None:
        self.undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, module: str, qualname: str, fn):
        rec = self.rec
        sig = inspect.signature(fn) if qualname in CAPTURE else None

        def wrapper(*args, **kwargs):
            with rec.span(qualname, module):
                result = fn(*args, **kwargs)
            if sig is not None:
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                rec.captured.setdefault(rec.run, []).append((qualname, dict(bound.arguments), result))
            return result

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", qualname)
        return wrapper

    def install(self) -> None:
        try:  # the class Spark 4 sessions actually return
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        mods = {m: importlib.import_module(f"{PKG}.{m}") for m in TARGETS}
        engine = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for module, names in TARGETS.items():
            for qualname in names:
                owner = mods[module]
                *cls, attr = qualname.split(".")
                if cls:
                    owner = getattr(owner, cls[0], None)
                fn = getattr(owner, attr, None) if owner is not None else None
                if fn is None:
                    print(f"tracing: {module}.{qualname} not found; not traced", file=sys.stderr)
                    continue
                wrapped = self._wrap(module, qualname, fn)
                if cls:
                    self._patch(owner, attr, wrapped)
                    continue
                # every binding of the same function object, so
                # `from x import f` call paths are traced too
                for m in engine:
                    for name, value in list(vars(m).items()):
                        if value is fn:
                            self._patch(m, name, wrapped)
        self._patch(DataFrame, "collect", self._counting_collect(DataFrame.collect))

    def _counting_collect(self, orig):
        """Counts collected rows per calling engine module.  Sets the
        PySpark call site itself (as pyspark would, from the frame that
        called collect) so this wrapper never shows up as the call site."""
        from pyspark.traceback_utils import SCCallSiteSync

        rec, here = self.rec, (__file__,)

        def collect(df):
            f = _caller(here)
            module = _module_of_file(f.f_code.co_filename) if f else None
            sc = df.sparkSession.sparkContext
            outer = SCCallSiteSync._spark_stack_depth == 0
            if outer and f is not None:
                sc._jsc.setCallSite(f"collect at {f.f_code.co_filename}:{f.f_lineno}")
                SCCallSiteSync._spark_stack_depth += 1
            try:
                rows = orig(df)
            finally:
                if outer and f is not None:
                    SCCallSiteSync._spark_stack_depth -= 1
                    sc._jsc.setCallSite(None)
            if module:
                rec.count(rec.collected, module, len(rows))
            return rows

        return collect

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self.undo):
            setattr(owner, attr, old)
        self.undo.clear()


def process_tree(root: int) -> set[int]:
    """``root`` and all its live descendants."""
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parents.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


class RssSampler:
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_rss() -> int:
        total = 0
        for p in process_tree(os.getpid()):
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1]) * 1024
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, self.tree_rss())

    def __enter__(self):
        self.peak = self.tree_rss()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str
    call_site: str
    execution: int | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0


def parse_event_log(path: str) -> tuple[list[Job], dict[int, str]]:
    """Jobs with their summed task metrics, and the physical plan text of
    every SQL execution."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                j = Job(e["Job ID"], props.get("spark.jobGroup.id", ""),
                        props.get("callSite.short", ""),
                        int(ex) if ex is not None else None,
                        e["Submission Time"] / 1e3, stages=list(e["Stage IDs"]))
                jobs[j.id] = j
                for s in j.stages:
                    stage_job.setdefault(s, j.id)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif ev == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"]))
                m = e.get("Task Metrics")
                if j is None or not m:
                    continue
                j.task_s += m.get("Executor Run Time", 0) / 1e3
                j.shuffle_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                j.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                plans[e["executionId"]] = e.get("physicalPlanDescription", "")
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]] = plans.get(e["executionId"], "") + e.get("physicalPlanDescription", "")
    return sorted(jobs.values(), key=lambda j: j.id), plans


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _self_time_outside(span: Span, children: list[Span], busy: list[tuple[float, float]]) -> float:
    """Part of the span covered neither by its child spans nor by ``busy``."""
    covered = _clip([(c.start, c.end) for c in children] + busy, span.start, span.end)
    return (span.end - span.start) - _union_length(covered)


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, str]:
    """Job id -> engine module: the module named in the job's call site
    when it is an engine file, else the module of the span that ran it."""
    by_id = {s.id: s for s in spans}
    out = {}
    for j in jobs:
        if not j.group.startswith("pb:"):
            continue
        _, run, sid = j.group.split(":")
        site = j.call_site.rsplit(" at ", 1)[-1].rsplit(":", 1)[0]
        module = _module_of_file(site)
        if module is None and sid != "root":
            module = by_id[int(sid)].module
        out[j.id] = module or "benchmark"
    return out


def layer_metrics(jobs, plans, spans, rec: Recorder, runs: list[int]) -> dict[str, float]:
    owner = attribute(jobs, spans)
    per_run: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_run.setdefault(name, []).append(value)

    for run in runs:
        rjobs = [j for j in jobs if j.group.startswith(f"pb:{run}:")]
        rspans = [s for s in spans if s.run == run]
        children: dict[int, list[Span]] = {}
        for s in rspans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        for m in LAYERS:
            mine = [j for j in rjobs if owner.get(j.id) == m]
            busy = [(j.start, j.end) for j in mine]
            add(f"{m}.jobs", len(mine))
            add(f"{m}.task_s", sum(j.task_s for j in mine))
            add(f"{m}.shuffle_mb", sum(j.shuffle_mb for j in mine))
            add(f"{m}.spill_mb", sum(j.spill_mb for j in mine))
            add(f"{m}.driver_s", sum(
                _self_time_outside(s, children.get(s.id, []), busy)
                for s in rspans if s.module == m
            ))
        add("sources.touch_binary.scan_jobs", sum(
            1 for j in rjobs
            if j.execution is not None and "touch_binary" in plans.get(j.execution, "")
        ))

        def span_s(name: str) -> float:
            return sum(s.end - s.start for s in rspans if s.name == name)

        add("sinks.parquet_sink.stamp_s", span_s("_stamp_kv_metadata"))
        add("sinks.hdf5_minimal.skeleton_s", span_s("MiniH5Writer.write"))
        add("sinks.sonata.bundle_span_s", span_s("write_sonata_bundle"))
        add("sinks.sonata.h5_span_s", span_s("export_hdf5_parallel"))
        add("operators.indexing.collect_rows", rec.collected.get((run, "operators.indexing"), 0))
    out = {k: statistics.median(v) for k, v in per_run.items()}
    out["operators.indexing.share_s"] = (
        out["operators.indexing.task_s"] + out["operators.indexing.driver_s"]
    )
    return out


def _event_log(spark) -> str:
    sc = spark.sparkContext
    path = os.path.join(sc.getConf().get("spark.eventLog.dir"), sc.applicationId)
    return path[len("file:"):] if path.startswith("file:") else path


def traced_phase(wl, cold_start_s, measure):
    """Three calls in one session whose event log is on.  Call 0 is traced
    and gives the per-layer metrics: it is the same kind of call an
    untraced run times (the session's first, for a workload without
    warm-up).  Calls 1 (untraced) and 2 (traced) give
    ``tracing.overhead_s``, their difference.  Stops the session and
    returns (per-layer metrics, attempted, failed)."""
    spark = wl.spark
    rec = Recorder(spark.sparkContext)
    inst = Instrumentation(rec)

    @contextmanager
    def around(i: int):
        if i == 1:
            yield
            return
        rec.next_run(i)
        inst.install()
        try:
            yield
        finally:
            inst.uninstall()
            rec.off()

    rec.off()
    with RssSampler() as rss:
        m = measure(spark, wl, 0, min_runs=3, around=around)
    runs = [0]
    counts = wl.trace_counts(rec.captured.get(0, []))
    log = _event_log(spark)
    spark.stop()  # flushes and closes the event log

    jobs, plans = parse_event_log(log)
    metrics = layer_metrics(jobs, plans, rec.spans, rec, runs)
    metrics.update(
        {
            "session.gc_s": m["gcs"][0],
            "session.pinned_mb": m["pins"][0],
            "session.peak_rss_mb": rss.peak / 1e6,
            "session.cold_start_s": cold_start_s,
            "operators.indexing.ranges_s2t": 0,
            "operators.indexing.ranges_t2s": 0,
            "functions.dedup.candidate_pairs": 0,
            "functions.dedup.pair_yield": 0.0,
            "tracing.overhead_s": m["walls"][2] - m["walls"][1],
        }
    )
    metrics.update(counts)
    units = per_layer_metrics()
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    print(
        f"[{wl.name}] walls={[round(w, 3) for w in m['walls']]} (calls 0 and 2 traced) "
        f"jobs={len(jobs)} spans={len(rec.spans)}",
        file=sys.stderr,
    )
    result = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    return result, m["attempted"], m["failed"]
