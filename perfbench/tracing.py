"""Spans around the calls into each layer, and Spark counters per
operation from the status store.

The benchmark wraps the library's public functions from its own code
(no span lives inside the library). Every call records a span: name,
start, end, parent span and operation id. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """A span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def outer(self, name: str, since: int = 0) -> list[Span]:
        """Spans called ``name`` with no ancestor of the same name."""
        out = []
        for s in self.spans[since:]:
            if s.name != name:
                continue
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].name == name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out.append(s)
        return out

    def total(self, name: str, since: int = 0) -> float:
        return sum(s.end - s.start for s in self.outer(name, since))

    def count(self, name: str, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:] if s.name == name)

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "op": s.op, "self_s": st, **s.attrs,
            }
            for s, st in zip(self.spans, selfs)
        ]


# (module, attribute, span name). ``Class.method`` patches the class.
TARGETS = [
    ("clickhouse_etl_spark.catalog", "load_table", "catalog.load_table"),
    ("clickhouse_etl_spark.queries", "memo_chain", "queries.memo_chain"),
    ("clickhouse_etl_spark.pipelines.reference_etl", "copy_entity",
     "pipelines.reference_etl.build"),
    ("clickhouse_etl_spark.pipelines.reference_etl", "monthly_subject_fact",
     "pipelines.reference_etl.build"),
    ("clickhouse_etl_spark.pipelines.reference_etl", "student_transcript",
     "pipelines.reference_etl.build"),
    ("clickhouse_etl_spark.pipelines.reference_etl",
     "monthly_subject_fact_incremental", "pipelines.reference_etl.build"),
    ("clickhouse_etl_spark.pipelines.reference_etl",
     "student_transcript_incremental", "pipelines.reference_etl.build"),
    ("clickhouse_etl_spark.pipelines.matview", "MaterializedView.refresh_full",
     "pipelines.matview.refresh"),
    ("clickhouse_etl_spark.pipelines.matview",
     "MaterializedView.refresh_incremental", "pipelines.matview.refresh"),
    ("clickhouse_etl_spark.pipelines.matview", "MaterializedView.repair_check",
     "pipelines.matview.repair_probe"),
    ("clickhouse_etl_spark.sources.watermark", "WatermarkLedger.commit",
     "sources.watermark.commit"),
    ("clickhouse_etl_spark.sinks.writers", "write_mergetree_mapped", "sinks.publish"),
    ("clickhouse_etl_spark.sinks.staging", "publish_snapshot", "sinks.publish"),
    ("clickhouse_etl_spark.operators.quality", "check_expectations",
     "operators.quality.check"),
    ("clickhouse_etl_spark.text.curation", "curate_corpus", "text.call"),
    ("clickhouse_etl_spark.text.index", "bm25_topk", "text.call"),
    ("clickhouse_etl_spark.util", "materialize", "util.materialize"),
]


def _memo_attrs(args, kwargs) -> dict:
    from clickhouse_etl_spark import queries

    spark, sf_dir, kind = (list(args) + [None] * 3)[:3]
    spark = kwargs.get("spark", spark)
    sf_dir = kwargs.get("sf_dir", sf_dir)
    kind = kwargs.get("kind", kind)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), kind)
    return {"hit": key in queries._CHAIN_CACHE}


def _materialize_attrs(args, kwargs) -> dict:
    from clickhouse_etl_spark.util import resolved_materialize_mode

    mode = resolved_materialize_mode(kwargs.get("mode", args[1] if len(args) > 1 else None))
    cut = kwargs.get("cut_lineage", args[2] if len(args) > 2 else False)
    return {"eager": bool(cut) or mode in ("localCheckpoint", "checkpoint")}


def _written_attrs(args, kwargs, result) -> dict:
    """Bytes and files now under the path a sink call wrote."""
    from measure import tree_bytes

    path = result if isinstance(result, str) else kwargs.get("path", args[1])
    size, files = tree_bytes(path)
    return {"bytes": size, "files": files}


# Attributes taken before a call (args) and after it (args, result).
_BEFORE = {"queries.memo_chain": _memo_attrs, "util.materialize": _materialize_attrs}
_AFTER = {"sinks.publish": _written_attrs}


def _wrap(tracer: Tracer, name: str, fn):
    before, after = _BEFORE.get(name), _AFTER.get(name)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        attrs = before(args, kwargs) if before else {}
        idx = tracer.begin(name)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.end(idx)
            tracer.spans[idx].attrs.update(attrs)
        if after:
            tracer.spans[idx].attrs.update(after(args, kwargs, result))
        return result

    return traced


def install(tracer: Tracer) -> None:
    """Wrap every target and rebind each module attribute that still
    names an original, so functions imported by name elsewhere in the
    library (``from ... import memo_chain``) are traced too."""
    import importlib

    import clickhouse_etl_spark.queries  # noqa: F401  (loads every layer)

    originals = {}
    for mod_name, attr, span in TARGETS:
        mod = importlib.import_module(mod_name)
        owner, _, meth = attr.rpartition(".")
        holder = getattr(mod, owner) if owner else mod
        fn = getattr(holder, meth)
        wrapped = _wrap(tracer, span, fn)
        setattr(holder, meth, wrapped)
        if not owner:
            originals[id(fn)] = wrapped
    for name, mod in list(sys.modules.items()):
        if not name.startswith("clickhouse_etl_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in originals and callable(val):
                setattr(mod, attr, originals[id(val)])


# -- Spark status store ------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "tasks", "executor_cpu_ms", "executor_run_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "input_rows",
    "spill_bytes",
)


class SparkCounters:
    """Counters of the jobs one operation ran, read from the status store.

    Operations run one at a time from one thread, so an operation's jobs
    are the job ids submitted between its start and end. They carry the
    operation's job group, except jobs Spark runs under a group of its
    own (broadcast exchanges), which the id range still catches.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.next_job = self._scan_jobs(0)[1]

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _scan_jobs(self, first: int) -> tuple[list, int]:
        jobs, jid = [], first
        while True:
            try:
                jobs.append(self.store.job(jid))
            except Exception:  # noqa: BLE001  (py4j NoSuchElementException)
                return jobs, jid
            jid += 1

    def collect(self, now_ms: float) -> tuple[dict, list[tuple[float, float]]]:
        """Counters and job intervals (epoch seconds) of the jobs
        submitted since the last call; a job still running ends at
        ``now_ms``."""
        self._drain()
        jobs, self.next_job = self._scan_jobs(self.next_job)
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(jobs)
        intervals, stage_ids = [], set()
        for jd in jobs:
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else now_ms
                intervals.append((sub.get().getTime() / 1e3, end / 1e3))
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001  (stage never submitted)
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["executor_run_ms"] += sd.executorRunTime()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["input_bytes"] += sd.inputBytes()
            out["input_rows"] += sd.inputRecords()
            out["spill_bytes"] += sd.diskBytesSpilled()
        return out, intervals

    def cached_bytes(self) -> int:
        """Bytes of persisted blocks still registered."""
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)
