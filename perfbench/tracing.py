"""Spans around the calls into each layer's public functions, recorded
from the benchmark's side, and Spark task metrics attributed to layers
through one job group per span and the Spark event log.

The program has no tracing of its own yet, so install_kg_spans() wraps the
names the pipeline calls (in the pipeline module's namespace, so calls
made elsewhere stay untraced) and Patches.undo() restores them. A span is
(name, start, end, parent, run id); spans stay in memory until the run
writes them once at the end.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PROPERTY = "spark.jobGroup.id"

# committed stage (query-key suffix stripped) -> layer its commit executes
STAGE_LAYERS = {
    "mentions": "extract.run",
    "rep_map": "canonicalize.cc",
    "doc_entities": "canonicalize.resolve",
    "triples_base": "expand.run",
    "triples": "materialize.triples",
    "nodes": "materialize.nodes",
    "metrics": "materialize.metrics",
}


def stage_layer(stage: str) -> str:
    base = stage.split("@")[0]
    if base.startswith("rep_map"):  # the CC loop's round commits too
        base = "rep_map"
    return STAGE_LAYERS.get(base, "checkpoint.commit")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run: int | None = None  # spans are recorded only inside an op
        # layer the next pipeline-level localCheckpoint executes
        self.pending: str | None = None

    def top(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def _group(self, name: str | None) -> None:
        self.sc.setLocalProperty(
            GROUP_PROPERTY, None if name is None else f"{name}#{self.run}"
        )

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        if self.run is None:
            yield {}
            return
        rec = {
            "name": name,
            "kind": kind,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self._group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self.top())

    @contextmanager
    def op(self, run: int, name: str):
        """Root span of one traced operation."""
        self.run = run
        try:
            with self.span(name, "op") as rec:
                yield rec
        finally:
            self.pending = None
            self.run = None

    def wrap(self, fn, name: str, then_pending: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            at_pipeline = self.top() == "pipeline"
            with self.span(name):
                out = fn(*args, **kwargs)
            if then_pending and at_pipeline:
                self.pending = then_pending
            return out

        return traced

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Patches:
    """Attribute replacements, undone in reverse order."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def set(self, obj, attr: str, wrap) -> None:
        """Replaces obj.attr with wrap(obj.attr). A name the program no
        longer has is reported and left untraced, so a renamed function
        costs a span, not the run."""
        if not hasattr(obj, attr):
            print(f"[perfbench] not traced: {getattr(obj, '__name__', obj)}.{attr}", file=sys.stderr)
            return
        orig = getattr(obj, attr)
        self._undo.append((obj, attr, orig))
        setattr(obj, attr, wrap(orig))

    def undo(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)


def install_kg_spans(tracer: Tracer) -> Patches:
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from robokop_build_spark.operators import supporters
    from robokop_build_spark.plans import pipeline
    from robokop_build_spark.sources.checkpoint import CheckpointManager

    p = Patches()
    for attr, name, pending in (
        ("detect_mentions", "extract.plan", None),
        ("canonical_map", "canonicalize.cc", None),
        ("resolve_aliases", "canonicalize.resolve", "canonicalize.resolve"),
        ("aggregate_program_triples", "expand.plan", "expand.run"),
        ("validate_triples", "materialize.triples", None),
        ("build_nodes", "materialize.nodes", None),
        ("enhance_nodes", "materialize.nodes", None),
    ):
        p.set(pipeline, attr, lambda fn, n=name, pend=pending: tracer.wrap(fn, n, pend))
    p.set(pipeline.KGPipeline, "run", lambda fn: tracer.wrap(fn, "pipeline"))
    for cls in {type(s) for s in supporters.SUPPORTERS.values()}:
        p.set(cls, "support", lambda fn: tracer.wrap(fn, "support.plan"))
    p.set(CheckpointManager, "read", lambda fn: tracer.wrap(fn, "checkpoint.read"))

    def traced_commit(commit):
        @functools.wraps(commit)
        def traced(self, stage, df, *args, **kwargs):
            tracer.pending = None
            with tracer.span(stage_layer(stage), "commit") as rec:
                out = commit(self, stage, df, *args, **kwargs)
                meta = self.current_meta(stage) or {}
                rec.update(
                    stage=stage,
                    rows=meta.get("n_rows", 0),
                    bytes=meta.get("total_bytes", 0),
                    files=meta.get("n_files", 0),
                )
            return out

        return traced

    def traced_local_checkpoint(local_checkpoint):
        @functools.wraps(local_checkpoint)
        def traced(self, *args, **kwargs):
            name = tracer.pending if tracer.top() == "pipeline" else None
            if name is None:
                return local_checkpoint(self, *args, **kwargs)
            tracer.pending = None
            with tracer.span(name, "local_checkpoint"):
                return local_checkpoint(self, *args, **kwargs)

        return traced

    p.set(CheckpointManager, "commit", traced_commit)
    p.set(ClassicDataFrame, "localCheckpoint", traced_local_checkpoint)
    return p


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(i, ())):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out.append(s["end"] - s["start"] - covered)
    return out


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group, from the (uncompressed) event log
    of a stopped session. A stage belongs to the first job that lists it,
    which is the job its tasks ran in."""
    files = []
    for d, _, names in os.walk(log_dir):
        # rolling logs (eventlog_v2_<app>/events_<n>_<app>) are read in order
        for n in names:
            if n.startswith("events_") or d == log_dir:
                idx = int(n.split("_")[1]) if n.startswith("events_") else 0
                files.append((d, idx, os.path.join(d, n)))
    files = [f for *_, f in sorted(files)]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_PROPERTY)
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    g = out[group]
                    g["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    g["failed_tasks"] += reason != "Success"
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    read = m.get("Shuffle Read Metrics") or {}
                    g["fetch_wait_s"] += read.get("Fetch Wait Time", 0) / 1e3
                    write = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += write.get("Shuffle Bytes Written", 0) / 2**20
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return out
