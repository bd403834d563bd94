"""Metric definitions and their computation from one run's operations,
spans and event-log task metrics."""

from __future__ import annotations

from collections import defaultdict

from . import measure
from .tracing import self_times
from .workloads import CURATION_QUERIES

# (name, unit) — printed with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("op_wall_s", "s"),
    ("op_wall_s_tail", "s"),
    ("verified_rows_per_s", "1/s"),
    ("ok_frac", "1"),
]

# span name -> per-layer self-time metric
SPAN_METRICS = {
    "extract.plan": "extract.plan_s",
    "extract.run": "extract.run_s",
    "canonicalize.cc": "canonicalize.cc_s",
    "canonicalize.resolve": "canonicalize.resolve_s",
    "expand.plan": "expand.plan_s",
    "expand.run": "expand.run_s",
    "support.plan": "support.plan_s",
    "materialize.triples": "materialize.triples_s",
    "materialize.nodes": "materialize.nodes_s",
    "checkpoint.read": "checkpoint.read_s",
    "pipeline": "pipeline.self_s",
}
# job-group layers whose Spark task metrics are reported
EVENT_LAYERS = [
    "extract",
    "canonicalize",
    "expand",
    "support",
    "materialize",
    "pipeline",
    "dedup",
    "similarity",
    "text",
]
EVENT_METRICS = [
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("fetch_wait_s", "s"),
    ("spill_mb", "MB"),
    ("failed_tasks", "count"),
]

# (name, unit) — printed with --trace 1
PER_LAYER = (
    [("session.start_s", "s"), ("warmup_s", "s"), ("datagen.gen_s", "s")]
    + [(m, "s") for m in SPAN_METRICS.values()]
    + [
        ("extract.rows_out", "count"),
        ("canonicalize.shuffle_write_mb", "MB"),
        ("expand.shuffle_write_mb", "MB"),
        ("materialize.triples_rows", "count"),
        ("materialize.nodes_rows", "count"),
        ("checkpoint.commit_s", "s"),
        ("checkpoint.bytes_written", "B"),
        ("checkpoint.files_written", "count"),
    ]
    + [(f"{fam}.{q}_s", "s") for q, fam in CURATION_QUERIES.items()]
    + [(f"{layer}.{m}", u) for layer in EVENT_LAYERS for m, u in EVENT_METRICS]
    + [
        ("trace.op_wall_s", "s"),
        ("trace.untraced_op_wall_s", "s"),
        ("trace.overhead_s", "s"),
        ("trace.self_sum_s", "s"),
        ("failed_frac", "1"),
        ("peak_rss_mb", "MB"),
        ("calibration.pre_miter_s", "Miter/s"),
        ("calibration.post_miter_s", "Miter/s"),
    ]
)


def end_to_end(run: dict) -> dict[str, tuple[float, str]]:
    """run: ops [(traced, OpResult)] and setup_s. Values with a one-line
    note on the samples behind them."""
    ops = [r for traced, r in run["ops"] if not traced]
    walls = [r.wall_s for r in ops]
    n = len(ops)
    failed = sum(not r.ok for r in ops)
    tail, level, beyond = measure.tail(walls)
    rows = sum(r.rows for r in ops)
    return {
        "setup_s": (run["setup_s"], "n=1 (once per process)"),
        "op_wall_s": (measure.median(walls), f"median of n={n}"),
        "op_wall_s_tail": (tail, f"p{level:.0f} of n={n}, {beyond} beyond"),
        "verified_rows_per_s": (
            rows / sum(walls) if walls and sum(walls) > 0 else 0.0,
            f"{rows} verified rows over n={n}",
        ),
        "ok_frac": (1.0 - failed / n if n else 0.0, f"{n - failed} of n={n} ok"),
    }


def per_layer(run: dict, spans: list[dict], groups: dict) -> dict[str, float]:
    """Medians over the traced operations of each per-operation value."""
    traced = [(i, r) for i, (t, r) in enumerate(run["ops"]) if t]
    selfs = self_times(spans)
    per_op: dict[str, list[float]] = defaultdict(list)
    for op_id, res in traced:
        vals: dict[str, float] = defaultdict(float)
        for s, own in zip(spans, selfs):
            if s["run"] != op_id:
                continue
            vals["trace.self_sum_s"] += own
            if s["name"] in SPAN_METRICS:
                vals[SPAN_METRICS[s["name"]]] += own
            if s["kind"] == "commit":
                vals["checkpoint.commit_s"] += s["end"] - s["start"]
                vals["checkpoint.bytes_written"] += s.get("bytes", 0)
                vals["checkpoint.files_written"] += s.get("files", 0)
                stage = s.get("stage", "").split("@")[0]
                if stage == "mentions":
                    vals["extract.rows_out"] += s.get("rows", 0)
                elif stage in ("triples", "nodes"):
                    vals[f"materialize.{stage}_rows"] += s.get("rows", 0)
            family, _, query = s["name"].partition(".")
            if query in CURATION_QUERIES:
                vals[f"{family}.{query}_s"] += s["end"] - s["start"]
        for group, m in groups.items():
            name, _, gid = group.rpartition("#")
            if gid != str(op_id):
                continue
            layer = name.split(".")[0]
            for metric, _ in EVENT_METRICS:
                vals[f"{layer}.{metric}"] += m.get(metric, 0.0)
            if name == "canonicalize.resolve":
                vals["canonicalize.shuffle_write_mb"] += m.get("shuffle_write_mb", 0.0)
            elif name == "expand.run":
                vals["expand.shuffle_write_mb"] += m.get("shuffle_write_mb", 0.0)
        vals["trace.op_wall_s"] = res.wall_s
        for k, v in vals.items():
            per_op[k].append(v)
    out = {name: measure.median(per_op.get(name, [])) for name, _ in PER_LAYER}
    untraced = [r.wall_s for t, r in run["ops"] if not t]
    out["trace.untraced_op_wall_s"] = measure.median(untraced)
    out["trace.overhead_s"] = out["trace.op_wall_s"] - out["trace.untraced_op_wall_s"]
    n = len(run["ops"])
    out["failed_frac"] = sum(not r.ok for _, r in run["ops"]) / n if n else 0.0
    out["peak_rss_mb"] = run["peak_rss_mb"]
    out.update(run["phases"])
    return out
