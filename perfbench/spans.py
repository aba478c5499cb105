"""Spans around the program's public calls, and Spark event-log aggregation.

The benchmark never edits the program. ``Tracer.install`` swaps each public
layer function listed in ``LAYER_CALLS`` (and ``SnapshotTable``'s commit and
maintenance methods) for a wrapper that

- records a span: name, start, end and parent span;
- labels every Spark job the call submits with
  ``setJobDescription(<span name>)``, restoring the caller's label on exit.

``uninstall`` puts the original functions back. Lazy calls only build
plans, so their spans are short; execution lands in the eager calls that
run inside them (``localCheckpoint``, table commits, ``collect``).

``aggregate_event_log`` reads Spark's uncompressed JSON event log and sums
task counters per job label. ``Executor CPU Time`` counts JVM threads only:
Python-UDF stages (fetch validation, bloom probe, SERP parsing) spend their
time in Python workers, so their cost shows in task run time, not CPU time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from pathlib import Path

from archive_query_log_spark.crawler import fetch, pipeline
from archive_query_log_spark.operators import politeness, seen_set
from archive_query_log_spark.tables import SnapshotTable

# (module, attribute, span name). pipeline imports fetch_and_validate by
# name, so that binding is wrapped beside the fetch module's own.
LAYER_CALLS = [
    (pipeline, "run_round", "pipeline.run_round"),
    (pipeline, "maintain", "pipeline.maintain"),
    (seen_set, "first_seen_in_batch", "seen_set.first_seen_in_batch"),
    (seen_set, "filtered_new", "seen_set.filtered_new"),
    (seen_set, "build_bloom_shards", "seen_set.build_bloom_shards"),
    (seen_set, "update_bloom_shards", "seen_set.update_bloom_shards"),
    (politeness, "apply_robots", "politeness.apply_robots"),
    (politeness, "schedule", "politeness.schedule"),
    (fetch, "fetch_and_validate", "fetch.fetch_and_validate"),
    (pipeline, "fetch_and_validate", "fetch.fetch_and_validate"),
]
# Calls whose arguments the counting pass reads after a round.
CAPTURE_ARGS = ("seen_set.filtered_new", "politeness.apply_robots")
TABLE_METHODS = ["commit", "compact", "expire_snapshots", "remove_orphans"]
# Spans whose table commits get labels of their own: a compaction's rewrites
# and the benchmark's frontier append are not round commits.
OWN_COMMIT_PREFIX = ("tables.compact", "tables.append_frontier")


class Span:
    __slots__ = ("name", "start", "end", "parent", "children_s")

    def __init__(self, name: str, start: float, parent: "Span | None"):
        self.name, self.start, self.parent = name, start, parent
        self.end = start
        self.children_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    """Keeps spans in memory; ``captured`` holds frames the counting pass
    reads after a round (the probed batch, the politeness input)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.captured: dict[str, object] = {}
        self._saved: list[tuple[object, str, object]] = []
        # time spent in the wrappers' own bookkeeping (clock reads, span
        # records, setJobDescription calls), not in the wrapped calls
        self.wrapper_s = 0.0

    # -- spans -------------------------------------------------------------

    def _enter(self, name: str) -> Span:
        t = time.perf_counter()
        self.sc.setJobDescription(name)
        span = Span(name, time.perf_counter(), self.stack[-1] if self.stack else None)
        self.stack.append(span)
        self.wrapper_s += span.start - t
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        if span.parent is not None:
            span.parent.children_s += span.duration
        self.sc.setJobDescription(self.stack[-1].name if self.stack else None)
        self.spans.append(span)
        self.wrapper_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str):
        """A span opened by the benchmark itself, around an eager step."""
        span = self._enter(name)
        try:
            yield span
        finally:
            self._exit(span)

    def wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span_name = name(args) if callable(name) else name
            if span_name in CAPTURE_ARGS:
                self.captured[span_name] = (args, kwargs)
            with self.span(span_name):
                return fn(*args, **kwargs)

        return traced

    def _current(self) -> str | None:
        return self.stack[-1].name if self.stack else None

    def _commit_label(self, args) -> str:
        cur = self._current()
        prefix = cur if cur in OWN_COMMIT_PREFIX else "tables"
        return f"{prefix}.commit.{args[0].path.name}"

    # -- install / uninstall -------------------------------------------------

    def _patch(self, owner, attr, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        for mod, attr, name in LAYER_CALLS:
            self._patch(mod, attr, self.wrap(getattr(mod, attr), name))
        for meth in TABLE_METHODS:
            # commits are labelled per table, and apart from the round's own
            # when a compaction or the frontier append makes them
            label = self._commit_label if meth == "commit" else f"tables.{meth}"
            self._patch(SnapshotTable, meth, self.wrap(getattr(SnapshotTable, meth), label))

        # the session's concrete DataFrame class overrides the base class's
        # methods, so that is the class to patch
        df_cls = type(self.spark.range(0))
        collect = df_cls.collect
        checkpoint = df_cls.localCheckpoint
        tracer = self

        def traced_collect(df, *a, **kw):
            # the round's closing totals pass is a collect made by
            # run_round itself; give it its own span and label
            if tracer._current() != "pipeline.run_round":
                return collect(df, *a, **kw)
            with tracer.span("pipeline.run_round.collect"):
                return collect(df, *a, **kw)

        def traced_checkpoint(df, *a, **kw):
            out = checkpoint(df, *a, **kw)
            cur = tracer._current()
            if cur == "seen_set.filtered_new":
                tracer.captured["probed"] = out
            elif cur == "politeness.schedule":
                tracer.captured["allowed"] = out
            return out

        self._patch(df_cls, "collect", functools.wraps(collect)(traced_collect))
        self._patch(
            df_cls, "localCheckpoint", functools.wraps(checkpoint)(traced_checkpoint)
        )

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- summaries -------------------------------------------------------------

    def by_name(self) -> dict[str, dict[str, float]]:
        """Per span name: total seconds and call count."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"s": 0.0, "calls": 0})
        for s in self.spans:
            out[s.name]["s"] += s.duration
            out[s.name]["calls"] += 1
        return dict(out)


# -- event log -----------------------------------------------------------------

COUNTERS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes",
)
# Plan node whose output rows are counted per label (``rows.MapInArrow``):
# the fetch commit's payload decode.
ROW_NODE = "MapInArrow"


def _event_lines(log_dir: Path):
    files = sorted(
        (p for p in Path(log_dir).rglob("events_*") if p.is_file()),
        key=lambda p: (p.parent.name, int(p.name.split("_")[1])),
    )
    for p in files:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_row_metrics(plan: dict, acc: set[int]) -> None:
    """Accumulator ids of ``number of output rows`` on every ``ROW_NODE``
    plan node."""
    if ROW_NODE in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                acc.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _plan_row_metrics(child, acc)


def aggregate_event_log(log_dir: Path):
    """Per job label: summed task counters (``COUNTERS``) plus the rows
    ``ROW_NODE`` nodes output (``rows.<ROW_NODE>``)."""
    stage_label: dict[int, str] = {}
    per_label: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    row_accs: set[int] = set()
    tasks = []
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get("spark.job.description") or "(unlabelled)"
            for sid in ev.get("Stage IDs", []):
                stage_label.setdefault(int(sid), label)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            _plan_row_metrics(ev.get("sparkPlanInfo") or {}, row_accs)
    for ev in tasks:
        label = stage_label.get(int(ev["Stage ID"]), "(unlabelled)")
        agg = per_label[label]
        m = ev.get("Task Metrics") or {}
        agg["tasks"] += 1
        agg["run_ms"] += m.get("Executor Run Time", 0)
        agg["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        agg["gc_ms"] += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        agg["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        agg["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if int(acc.get("ID", -1)) in row_accs:
                key = f"rows.{ROW_NODE}"
                agg[key] = agg.get(key, 0) + int(acc.get("Update", 0))
    return dict(per_label)
