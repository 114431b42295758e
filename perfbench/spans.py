"""Span recorder, layer wrappers and Spark event-log parser for the
traced run.

Spans are kept in memory: name, start, end and parent.  While a span is
open its id is set as the Spark local property ``bench.span``, so every
job Spark launches from inside it carries the id into the event log's
``SparkListenerJobStart`` properties.  After the session stops, the
event log is parsed and each job's executor counters are charged to its
span and, through the parent chain, to every enclosing span.

All timestamps are epoch seconds (``time.time()``), the clock Spark's
event log uses, so span and job intervals can be intersected.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass

SPAN_PROPERTY = "bench.span"

# The layers the traced run reports, in report order.  Each maps to the
# places its callers resolve it: (module, attribute[, class]).  An empty
# tuple means the benchmark opens the span itself around the call and
# the action that forces it (see ``workloads.py``).
LAYERS: dict[str, tuple[tuple[str, ...], ...]] = {
    "porter.export_collection": (
        ("mongo2mysql_spark.porter", "export_collection", "SparkPorter"),
    ),
    "plans.infer": (
        ("mongo2mysql_spark.porter", "infer_table_schema"),
        ("mongo2mysql_spark.porter", "infer_table_schemas_grouped"),
    ),
    "sources.jdbc.write_upsert": (("mongo2mysql_spark.sync", "write_upsert"),),
    "sources.jdbc.execute_ddl": (),
    "sync.sink_high_water": (("mongo2mysql_spark.sync", "sink_high_water"),),
    "sync.incremental_export": (),
    "pipelines.build_training_corpus": (),
    "operators.dedup": (
        ("mongo2mysql_spark.pipelines", "dedup_exact"),
        ("mongo2mysql_spark.operators.dedup", "minhash_signature"),
        ("mongo2mysql_spark.operators.dedup", "lsh_candidate_pairs"),
    ),
    "operators.components.connected_components": (
        ("mongo2mysql_spark.operators.components", "connected_components"),
    ),
    "operators.passages.passage_dup_pairs": (
        ("mongo2mysql_spark.operators.passages", "passage_dup_pairs"),
    ),
    "operators.bpe.learn_merges": (("mongo2mysql_spark.pipelines", "learn_merges"),),
    "sources.lake.write_training_shards": (
        ("mongo2mysql_spark.pipelines", "write_training_shards"),
    ),
    "operators.pq.build_pq_residual_index": (),
    "operators.pq.train_codebook_distributed": (
        ("mongo2mysql_spark.operators.pq", "train_codebook_distributed"),
    ),
    "operators.pq.pq_ivfadc_topk": (),
}
LAYER_METRICS = (
    ("calls", "count"),
    ("wall_s", "s"),
    ("self_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("exec_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
)
SESSION_METRICS = (
    ("sources.jdbc.write_upsert.rows", "count"),
    ("session.jobs", "count"),
    ("session.driver_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
    ("trace.coverage", "ratio"),
    ("ann.recall_at_10", "ratio"),
)


def per_layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    names = [(f"{layer}.{m}", unit) for layer in LAYERS for m, unit in LAYER_METRICS]
    return names + list(SESSION_METRICS)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    def __init__(self):
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # driver time spent opening and closing spans
        self._stack: list[Span] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, sc) -> None:
        """Tag jobs of ``sc`` with the open span from now on."""
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(str(s.id))
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            self._tag(str(self._stack[-1].id) if self._stack else None)
            self.overhead_s += time.perf_counter() - t1

    def _tag(self, value: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, value)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, layers: dict[str, tuple[tuple[str, ...], ...]] = LAYERS) -> None:
        """Replace each layer function by a span-opening wrapper at every
        name its callers resolve."""
        import importlib

        for layer, sites in layers.items():
            for site in sites:
                owner = importlib.import_module(site[0])
                if len(site) == 3:
                    owner = getattr(owner, site[2])
                original = owner.__dict__[site[1]]
                setattr(owner, site[1], self.wrap(layer, original))
                self._patched.append((owner, site[1], original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


# ------------------------------------------------------------- event log


@dataclass
class Job:
    span: int | None
    start: float
    end: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0


@dataclass
class _StageTotals:
    exec_cpu_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0


def parse_event_log(lines) -> dict[int, Job]:
    """Jobs of one uncompressed Spark event log, keyed by job id, with
    the ``bench.span`` property each was launched under and the summed
    task metrics of the stages it ran."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, _StageTotals] = defaultdict(_StageTotals)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            job = Job(int(span) if span else None, ev["Submission Time"] / 1000.0)
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", ()):
                # a stage listed by a later job was skipped there: its
                # tasks ran for the first job that listed it
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = stages[ev["Stage ID"]]
            t.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, t in stages.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None:
            job.exec_cpu_s += t.exec_cpu_s
            job.shuffle_write_b += t.shuffle_write_b
            job.spill_b += t.spill_b
    for job in jobs.values():
        job.end = job.end or job.start
    return jobs


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to
    ``[lo, hi]``."""
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


@dataclass
class LayerTotals:
    calls: int = 0
    wall_s: float = 0.0
    self_s: float = 0.0
    driver_s: float = 0.0
    jobs: int = 0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def rollup(spans: list[Span], jobs: dict[int, Job], windows: list[tuple[float, float]]) -> dict:
    """Per-layer and session counters over the timed ``windows``.

    A layer's wall, jobs and executor counters include its child spans;
    a span nested inside another span of the same layer is not counted
    again.  ``self_s`` is span time minus the time child spans cover;
    ``driver_s`` is span time minus the time the span's own and
    descendants' jobs cover."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def ancestors(sid: int | None):
        while sid is not None:
            yield sid
            sid = by_id[sid].parent

    jobs_under: dict[int, list[Job]] = defaultdict(list)
    for job in jobs.values():
        if job.span in by_id:
            for sid in ancestors(job.span):
                jobs_under[sid].append(job)

    layers: dict[str, LayerTotals] = {name: LayerTotals() for name in LAYERS}
    for s in spans:
        if s.name not in layers:
            continue
        if any(by_id[a].name == s.name for a in ancestors(s.parent)):
            continue
        t = layers[s.name]
        dur = s.end - s.start
        own = jobs_under[s.id]
        t.calls += 1
        t.wall_s += dur
        t.self_s += dur - union_length([(c.start, c.end) for c in children[s.id]], s.start, s.end)
        t.driver_s += dur - union_length([(j.start, j.end) for j in own], s.start, s.end)
        t.jobs += len(own)
        t.exec_cpu_s += sum(j.exec_cpu_s for j in own)
        t.shuffle_write_mb += sum(j.shuffle_write_b for j in own) / 2**20
        t.spill_mb += sum(j.spill_b for j in own) / 2**20

    timed = sum(e - s for s, e in windows)
    in_window = [j for j in jobs.values() if any(s <= j.start < e for s, e in windows)]
    job_time = sum(union_length([(j.start, j.end) for j in in_window], s, e) for s, e in windows)
    span_time = sum(union_length([(x.start, x.end) for x in spans], s, e) for s, e in windows)
    return {
        "layers": layers,
        "session.jobs": len(in_window),
        "session.driver_s": timed - job_time,
        "trace.coverage": span_time / timed if timed > 0 else 0.0,
        "timed_s": timed,
    }
