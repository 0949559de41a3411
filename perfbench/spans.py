"""Layer spans for the traced benchmark run.

A span is recorded at each layer boundary: the benchmark's own calls into
the program (``ntriples.parse``, ``statements.write``, the document
operators) and, through :func:`patched`, the pipeline functions that
``run_pipeline`` calls internally. Every span runs under its own Spark job
group, so once the run is over Spark's status store attributes each job,
and through the job's stages its executor run time, GC time, shuffle
write and spill, to the innermost span that was open when it ran.

The status store is read after the run, never inside it: the traced
session raises ``spark.ui.retainedJobs`` / ``retainedStages`` so no job of
the run has been evicted by then (the default of 1000 is below one
``kg_build`` run).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

# Layers in the order BENCHMARK.json lists them. Module names of the
# program: plans/* (uri_mapping, taxonomy, shape_instances, facts,
# outputs), operators/closure, catalog, sources/ntriples,
# sources/statements, operators/{dedup,similarity,linking}, session.
LAYERS = (
    "uri_mapping", "taxonomy", "closure", "shape_instances", "facts",
    "outputs", "catalog.commit", "ntriples.export",
    "ntriples.parse", "statements.write",
    "dedup.exact", "dedup.minhash", "dedup.clusters",
    "similarity.near_dup", "linking",
    "session",
)
COUNTERS = (
    ("self_s", "s"), ("jobs", "count"), ("busy_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("idle_share", "ratio"),
)
# get_spark runs no job, so the session layer reports its time alone
SELF_ONLY = ("session",)
NAMED = (
    ("closure.calls", "count"),
    ("catalog.jobs_per_commit", "jobs/commit"),
    ("dedup.minhash.pairs", "count"),
    ("similarity.near_dup.useful_ratio", "ratio"),
    ("linking.link_ratio", "ratio"),
    ("statements.write.output_mb", "MB"),
    ("ntriples.export.output_mb", "MB"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.span_coverage", "ratio"),
)


def layer_counters(layer: str):
    return COUNTERS[:1] if layer in SELF_ONLY else COUNTERS


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name the traced run reports, with its unit."""
    out = {f"{layer}.{c}": unit
           for layer in LAYERS for c, unit in layer_counters(layer)}
    out.update(NAMED)
    return out


@dataclass
class Span:
    sid: int
    layer: str
    parent: int | None
    start: float
    end: float | None = None
    children: list[int] = field(default_factory=list)
    # set on the span of a StageCatalog.write call: the catalog.commit
    # child opened once the stage's data write has returned
    commit: "Span | None" = None
    stage_write: bool = False


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """Collects spans in memory; :meth:`layer_metrics` turns them into the
    per-layer counters once the run is over."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0

    def group_id(self, span: Span) -> str:
        return f"perfbench-{span.sid}"

    def _set_group(self, span: Span | None) -> None:
        sc = _active_context()
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group_id(span), span.layer)

    def open(self, layer: str) -> Span:
        t0 = self.clock()
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), layer,
                    parent.sid if parent else None, t0)
        if parent is not None:
            parent.children.append(span.sid)
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        span.start = self.clock()
        self.overhead_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        if span.commit is not None and span.commit.end is None:
            self.close(span.commit)
        t0 = self.clock()
        span.end = t0
        popped = self.stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.layer} closed out of order")
        self._set_group(self.stack[-1] if self.stack else None)
        self.overhead_s += self.clock() - t0

    @contextlib.contextmanager
    def span(self, layer: str):
        s = self.open(layer)
        try:
            yield s
        finally:
            self.close(s)

    # ---- analysis -------------------------------------------------------

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part of it its children cover."""
        covered = _union_length(
            [(self.spans[c].start, self.spans[c].end) for c in span.children],
            span.start, span.end)
        return (span.end - span.start) - covered

    def coverage(self, start: float, end: float) -> float:
        """Share of [start, end] covered by top-level spans."""
        tops = [(s.start, s.end) for s in self.spans
                if s.parent is None and s.end is not None]
        return _union_length(tops, start, end) / (end - start)

    def layer_metrics(self, job_stats: dict[str, dict], cores: int
                      ) -> dict[str, float]:
        """The counters of every layer; ``job_stats`` maps a job group
        to its summed status-store counters (see :func:`job_group_stats`).
        Layers that did not run read 0."""
        acc = {layer: dict.fromkeys(("self_s", "jobs", "busy_s", "gc_s",
                                     "shuffle_write_mb", "spill_mb"), 0.0)
               for layer in LAYERS}
        for s in self.spans:
            a = acc[s.layer]
            a["self_s"] += self.self_time(s)
            for k, v in job_stats.get(self.group_id(s), {}).items():
                a[k] += v
        out: dict[str, float] = {}
        for layer, a in acc.items():
            idle = 0.0
            if a["self_s"] > 0:
                idle = min(1.0, max(0.0, 1.0 - a["busy_s"] / (a["self_s"] * cores)))
            a["idle_share"] = idle
            for c, _ in layer_counters(layer):
                out[f"{layer}.{c}"] = a[c]
        return out

    def count(self, layer: str) -> int:
        return sum(1 for s in self.spans if s.layer == layer)

    def commit_spans(self) -> int:
        return sum(1 for s in self.spans if s.stage_write)


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_group_stats(sc) -> dict[str, dict]:
    """Per job group: jobs, and the executor run time, GC time, shuffle
    write and disk spill of the jobs' stages, from the status store
    (``jobsList`` → ``stageIds`` → ``lastStageAttempt``). A stage that
    several jobs share counts once, for the first job that lists it;
    stages a job skipped read 0 there."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        group = j.jobGroup()
        jobs.append((j.jobId(), group.get() if group.isDefined() else None,
                     j.stageIds()))
    seen: set[int] = set()
    out: dict[str, dict] = {}
    for _, group, stage_ids in sorted(jobs, key=lambda x: x[0]):
        if group is None:
            continue
        g = out.setdefault(group, {"jobs": 0, "busy_s": 0.0, "gc_s": 0.0,
                                   "shuffle_write_mb": 0.0, "spill_mb": 0.0})
        g["jobs"] += 1
        sit = stage_ids.iterator()
        while sit.hasNext():
            sid = sit.next()
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never submitted
                continue
            g["busy_s"] += st.executorRunTime() / 1000.0
            g["gc_s"] += st.jvmGcTime() / 1000.0
            g["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            g["spill_mb"] += st.diskBytesSpilled() / 1e6
    return out


# ---- wrappers around the pipeline's internal calls ------------------------

_STAGE_LAYER = {
    "uri_mapping": "uri_mapping",
    "yago_classes": "taxonomy", "class_mapping": "taxonomy",
    "sub_class_of": "taxonomy",
    "shape_instances": "shape_instances",
    "facts": "facts", "annotated_facts": "facts",
}


def stage_layer(name: str) -> str:
    """The layer a StageCatalog stage belongs to; the remaining stages
    are the output families of plans/outputs.py."""
    return _STAGE_LAYER.get(name, "outputs")


def _spanned(tracer: Tracer, layer: str, fn):
    def wrapper(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)
    wrapper.__wrapped__ = fn
    return wrapper


def _stage_get_or_create(tracer: Tracer, fn):
    def get_or_create(self, name, *args, **kwargs):
        with tracer.span(stage_layer(name)):
            return fn(self, name, *args, **kwargs)
    get_or_create.__wrapped__ = fn
    return get_or_create


def _stage_write(tracer: Tracer, fn):
    def write(self, name, *args, **kwargs):
        with tracer.span(stage_layer(name)) as s:
            s.stage_write = True
            return fn(self, name, *args, **kwargs)
    write.__wrapped__ = fn
    return write


def _parquet_write(tracer: Tracer, fn):
    # Inside StageCatalog.write the one DataFrameWriter.parquet call runs
    # the stage's plan; what follows it (re-read, row count, per-partition
    # counts, manifest) is the commit, timed as a catalog.commit child.
    def parquet(self, *args, **kwargs):
        out = fn(self, *args, **kwargs)
        top = tracer.stack[-1] if tracer.stack else None
        if top is not None and top.stage_write and top.commit is None:
            top.commit = tracer.open("catalog.commit")
        return out
    parquet.__wrapped__ = fn
    return parquet


def pipeline_targets(tracer: Tracer) -> list[tuple[object, str, object]]:
    """(owner, attribute, wrapper factory) for every program function the
    traced ``kg_build`` run wraps."""
    from pyspark.sql.readwriter import DataFrameWriter

    import yago4_spark.operators.closure as closure
    import yago4_spark.pipeline as pipeline
    import yago4_spark.plans.instances as instances
    import yago4_spark.plans.taxonomy as taxonomy
    from yago4_spark.catalog import StageCatalog

    def span_as(layer):
        return lambda fn: _spanned(tracer, layer, fn)

    return [
        (StageCatalog, "get_or_create", lambda fn: _stage_get_or_create(tracer, fn)),
        (StageCatalog, "write", lambda fn: _stage_write(tracer, fn)),
        (DataFrameWriter, "parquet", lambda fn: _parquet_write(tracer, fn)),
        (pipeline, "build_taxonomy", span_as("taxonomy")),
        (pipeline, "build_facts", span_as("facts")),
        (pipeline, "write_ntriples", span_as("ntriples.export")),
        (taxonomy, "transitive_closure", span_as("closure")),
        (taxonomy, "transitive_closure_pair", span_as("closure")),
        (instances, "transitive_closure_pair", span_as("closure")),
        (closure, "transitive_closure_resumable", span_as("closure")),
    ]


@contextlib.contextmanager
def patched(targets):
    """Install the wrappers; on exit put every original attribute back,
    so later untraced runs measure the unpatched program."""
    saved = []
    try:
        for owner, attr, factory in targets:
            orig = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, factory(orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
