"""Tracing for the benchmark: spans, call wrappers and a status-store reader.

Nothing here changes the package. Wrappers are installed on module
attributes before ``plans`` is imported (so ``from x import f`` binds the
wrapper) and only record while a :class:`Tracer` is enabled. The status
reader looks at Spark's in-process status stores after each operation
has finished; it launches no Spark job of its own.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Operator modules whose public functions get a span each. These are the
#: modules the graph and ETL workloads reach, plus the shared helpers the
#: short specs lean on.
OPERATOR_MODULES = (
    "clustering", "graph_metrics", "pagerank", "community", "recommend",
    "fanout", "dedup", "similarity", "nbayes", "multimodal", "reshape",
    "aggregates",
)

#: Source and sink functions timed as the ``sources`` layer.
SOURCE_READS = (("sources.io", "read_csv"), ("sources.shapefile", "read_shapefile"))
SOURCE_WRITES = (
    ("sources.io", "write_parquet_overwrite"),
    ("sources.io", "write_partition_overwrite"),
)

#: Calls that force Spark to run a job before the plan is returned
#: (``localCheckpoint``/``checkpoint`` only when eager). The classic
#: DataFrame class overrides every method of the base class.
EAGER_ACTIONS = (
    ("pyspark.sql.classic.dataframe", "DataFrame", "count"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "isEmpty"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "checkpoint"),
    ("pyspark.rdd", "RDD", "getNumPartitions"),
)

PACKAGE = "mcas_question2_etl_spark"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    child_s: float = 0.0
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled`` gates every wrapper."""

    run_id: str
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    eager_actions: int = 0
    _stack: list[int] = field(default_factory=list)
    _eager_depth: int = 0

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block while enabled; else do nothing."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent, self.run_id))
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            span = self.spans[self._stack.pop()]
            span.end = time.time()
            if parent is not None:
                self.spans[parent].child_s += span.dur

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def count_eager(self, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            # count only the outermost call (first() -> take() -> collect())
            # and only calls the package makes, not the benchmark's own
            eager = kwargs.get("eager", args[1] if len(args) > 1 else True)
            if (self.enabled and self._eager_depth == 0 and eager is True
                    and _called_from_package(sys._getframe(1))):
                self.eager_actions += 1
            self._eager_depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                self._eager_depth -= 1

        return counted

    def attribute_jobs(self, job_times: list[float]) -> None:
        """Give each job (by submission time) to the innermost span open then."""
        for t in job_times:
            best = None
            for i, s in enumerate(self.spans):
                if s.start <= t <= s.end and (best is None or s.start >= self.spans[best].start):
                    best = i
            if best is not None:
                self.spans[best].jobs += 1

    def by_prefix(self, prefix: str) -> dict[str, dict[str, float]]:
        """calls / self_s / jobs summed per span name under ``prefix``."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "jobs": 0})
        for s in self.spans:
            if s.name.startswith(prefix):
                key = s.name[len(prefix):].split(".")[0]
                out[key]["calls"] += 1
                out[key]["self_s"] += s.self_s
                out[key]["jobs"] += s.jobs
        return out

    def total(self, prefix: str) -> float:
        """Wall time of the outermost spans whose name starts with ``prefix``."""
        total = 0.0
        for s in self.spans:
            parent = self.spans[s.parent] if s.parent is not None else None
            if s.name.startswith(prefix) and not (parent and parent.name.startswith(prefix)):
                total += s.dur
        return total


def _called_from_package(frame) -> bool:
    """True when the nearest caller outside pyspark is package code."""
    while frame is not None:
        mod = frame.f_globals.get("__name__", "")
        if mod.startswith(PACKAGE):
            return True
        if not mod.startswith("pyspark"):
            return False
        frame = frame.f_back
    return False


def install(tracer: Tracer) -> None:
    """Wrap operator, source and eager-action entry points; call once.

    Every package module already imported that bound one of the wrapped
    functions by name (``from .fanout import fan_out``) gets the wrapper
    too; modules imported later bind it themselves.
    """
    wrapped = {}
    for mod_name in OPERATOR_MODULES:
        mod = importlib.import_module(f"{PACKAGE}.operators.{mod_name}")
        for attr, fn in vars(mod).items():
            if not attr.startswith("_") and inspect.isfunction(fn) and fn.__module__ == mod.__name__:
                wrapped[fn] = tracer.wrap(f"operators.{mod_name}.{attr}", fn)
    for layer, pairs in (("read", SOURCE_READS), ("write", SOURCE_WRITES)):
        for mod_name, attr in pairs:
            fn = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
            wrapped[fn] = tracer.wrap(f"sources.{layer}.{attr}", fn)
    for name, mod in list(sys.modules.items()):
        if name.startswith(PACKAGE) and mod is not None:
            for attr, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in wrapped:
                    setattr(mod, attr, wrapped[value])
    for mod_name, cls_name, attr in EAGER_ACTIONS:
        cls = getattr(importlib.import_module(mod_name), cls_name)
        setattr(cls, attr, tracer.count_eager(getattr(cls, attr)))


# ---------------------------------------------------------------------------
# status-store reader
# ---------------------------------------------------------------------------

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_SENT = "data sent to Python workers"


def _total_line(text: str) -> str:
    # multi-task metrics read "total (min, med, max ...)\n<sum> (<min>, ...)"
    return text.split("\n", 1)[1] if "\n" in text else text


def _parse_size(text: str) -> float:
    m = _SIZE.search(_total_line(text))
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _parse_count(text: str) -> int:
    m = re.search(r"[\d,]+", _total_line(text))
    return int(m.group(0).replace(",", "")) if m else 0


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusReader:
    """Reads jobs, stages, executor and Python-node metrics of one operation.

    ``begin``/``end`` bracket an operation; ``end`` returns a dict of the
    operation's figures. With ``detail=False`` only the job and stage
    counts are read (via the job group), which is what the untraced
    passes use; a traced run reports how far its counts are from them.
    """

    def __init__(self, spark, detail: bool):
        self.sc = spark.sparkContext
        self.detail = detail
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self.sc._jvm
        self._group = None
        self._last_exec = -1

    def begin(self, group: str) -> None:
        self._group = group
        self.sc.setJobGroup(group, group)
        if self.detail:
            self._last_exec = self._latest_execution()

    def end(self) -> dict:
        self._bus.waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(self._group))
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": len(stages)}
        if self.detail:
            out.update(self._detail(jobs, stages))
        return out

    def _latest_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        last = self._sql.executionsList(int(n) - 1, 1)
        return last.apply(0).executionId() if last.size() else -1

    def _detail(self, jobs: list[int], stages: set[int]) -> dict:
        spans = []
        for j in jobs:
            jd = self._store.job(j)
            sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
            if sub is not None and done is not None:
                spans.append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
        empty_status = self._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        run_ms = cpu_ns = gc_ms = tasks = 0
        sh_read = sh_write = spill = 0
        for sid in stages:
            try:
                attempts = self._store.stageData(sid, False, empty_status, False, quantiles)
            except Exception:  # evicted or never submitted (skipped stage)
                continue
            for k in range(attempts.size()):
                st = attempts.apply(k)
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                gc_ms += st.jvmGcTime()
                tasks += st.numCompleteTasks()
                sh_read += st.shuffleReadBytes()
                sh_write += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        sql = self._sql_metrics()
        return {
            "tasks": tasks,
            "job_spans": spans,
            "run_s": run_ms / 1e3,
            "cpu_s": cpu_ns / 1e9,
            "gc_s": gc_ms / 1e3,
            "shuffle_read": sh_read,
            "shuffle_write": sh_write,
            "spill": spill,
            **sql,
        }

    def _sql_metrics(self) -> dict:
        """Python-node and file-write figures from the SQL plan graphs of
        the executions this operation started."""
        out = {"py_nodes": 0, "py_bytes_sent": 0.0, "py_rows_returned": 0,
               "files_written": 0, "bytes_written": 0.0}
        for eid in range(self._last_exec + 1, self._latest_execution() + 1):
            if not self._sql.execution(eid).isDefined():
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                ms = nodes.apply(i).metrics()
                ids = {ms.apply(k).name(): ms.apply(k).accumulatorId() for k in range(ms.size())}

                def read(name, parse):
                    text = _opt(values.get(ids[name])) if name in ids else None
                    return parse(text) if text else 0

                if _PY_SENT in ids:
                    out["py_nodes"] += 1
                    out["py_bytes_sent"] += read(_PY_SENT, _parse_size)
                    out["py_rows_returned"] += read("number of output rows", _parse_count)
                if "number of written files" in ids:
                    out["files_written"] += read("number of written files", _parse_count)
                    out["bytes_written"] += read("written output", _parse_size)
        return out


def union_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
