"""Per-layer metrics from the traced run's spans.

Every workload reports the same names. A time (unit ``s``) is only
reported where every workload measures it; a layer's share of the traced
time is a percentage of the summed duration of the top-level spans (the
traced units), so a layer a workload never calls reads 0 %.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import asdict

from spans import Span, self_times

LAYERS = ("queries", "llmdata", "sources", "plans", "streaming")

#: inclusive span groups: metric stem → predicate on the span name
STAGES = {
    "plans.clean": lambda n: n.startswith("plans.pipelines.clean_")
    or n in ("plans.pipelines.gaming_market_filter", "plans.pipelines.enrich_gaming_markets"),
    "plans.gold_build": lambda n: n == "plans.star_schema.build_gold",
    "plans.gold_write": lambda n: n == "plans.star_schema.write_gold",
    "plans.validate": lambda n: n == "plans.validator.validate_gold",
    "plans.volumetry": lambda n: n == "plans.volumetry.volumetry_report",
    "sources.read": lambda n: n.startswith("sources.readers."),
    "sources.upsert": lambda n: n == "sources.upsert.merge_upsert",
}

#: numbers a workload measures itself; 0 where it has none
EXTRAS = {
    "storage.stored_bytes_per_input_byte": "ratio",
    "storage.bytes_written_per_pass": "B",
    "storage.files_written_per_pass": "count",
    "sources.upsert_rewrite_ratio": "ratio",
    "streaming.add_batch_pct": "%",
    "streaming.query_planning_pct": "%",
    "streaming.wal_commit_pct": "%",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
}


def _subtree(spans: list[Span], pred) -> list[Span]:
    """Spans matching ``pred`` plus all their descendants."""
    by_parent: dict[int | None, list[Span]] = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [s for s in spans if pred(s.name)]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s.id, ()))
    return out


def _sum(spans: list[Span], key: str) -> float:
    return sum(s.counters.get(key, 0.0) for s in spans)


def per_layer(spans, t_ops, base_ops, start_s, warmup_s, extras) -> dict[str, tuple[float, str]]:
    """Name → (value, unit) for every per-layer metric. ``t_ops`` are the
    traced loop's ops, ``base_ops`` the untraced baseline loop's."""
    roots = [s for s in spans if s.parent is None]
    base = sum(s.dur for s in roots) or 1.0
    n = len(t_ops) or 1
    self_t = self_times(spans)
    pct = lambda x: 100.0 * x / base  # noqa: E731
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "trace.op_p50_s": (statistics.median(o.seconds for o in t_ops), "s"),
        "trace.overhead_pct": (
            100.0 * (
                statistics.median(o.seconds for o in t_ops)
                / statistics.median(o.seconds for o in base_ops) - 1
            ),
            "%",
        ),
        "trace.unattributed_pct": (
            pct(sum(self_t[s.id] for s in spans if s.layer == "bench")), "%"
        ),
    }
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        m[f"{layer}.self_pct"] = (pct(sum(self_t[s.id] for s in mine)), "%")
        m[f"{layer}.jobs_per_op"] = (_sum(mine, "jobs") / n, "count")
        m[f"{layer}.shuffle_bytes_per_op"] = (_sum(mine, "shuffle_write_bytes") / n, "B")
    m["queries.build_pct"] = (pct(sum(s.build_s for s in spans)), "%")
    m["llmdata.forced_exec_pct"] = (
        pct(sum(s.force_s for s in spans if s.layer == "llmdata")), "%"
    )
    for stem, pred in STAGES.items():
        top = [s for s in spans if pred(s.name)]
        m[f"{stem}_pct"] = (pct(sum(s.dur for s in top)), "%")
    for stem in ("plans.validate", "plans.volumetry"):
        m[f"{stem}_jobs"] = (_sum(_subtree(spans, STAGES[stem]), "jobs") / n, "count")
    run_s = _sum(spans, "executor_run_s")
    m.update(
        {
            "spark.jobs_per_op": (_sum(spans, "jobs") / n, "count"),
            "spark.stages_per_op": (_sum(spans, "stages") / n, "count"),
            "spark.tasks_per_op": (_sum(spans, "tasks") / n, "count"),
            "spark.executor_run_s_per_op": (run_s / n, "s"),
            "spark.gc_pct": (100.0 * _sum(spans, "gc_s") / (run_s or 1.0), "%"),
            "spark.input_bytes_per_op": (_sum(spans, "input_bytes") / n, "B"),
            "spark.shuffle_bytes_per_op": (_sum(spans, "shuffle_write_bytes") / n, "B"),
            "spark.spill_bytes": (_sum(spans, "spill_bytes"), "B"),
            "spark.tasks_failed": (_sum(spans, "tasks_failed"), "count"),
            "spark.stage_retries": (_sum(spans, "stage_retries"), "count"),
        }
    )
    for name, unit in EXTRAS.items():
        m[name] = (float(extras.get(name, 0.0)), unit)
    return m


def describe(spans, t_ops, t_busy) -> list[str]:
    """Human-readable self time per layer, each share with its base."""
    roots = [s for s in spans if s.parent is None]
    base = sum(s.dur for s in roots) or 1.0
    self_t = self_times(spans)
    lines = [
        f"traced: {len(t_ops)} ops, {len(roots)} top-level spans covering {base:.3f} s, "
        f"{t_busy:.3f} s unit wall time"
    ]
    for layer in ("bench", *LAYERS):
        t = sum(self_t[s.id] for s in spans if s.layer == layer)
        k = sum(1 for s in spans if s.layer == layer)
        lines.append(
            f"layer {layer:<9} self {t:8.3f} s = {100 * t / base:5.1f}% of {base:.3f} s "
            f"({k} spans)"
        )
    return lines


def write_trace(path, spans, per_layer_m, e2e) -> None:
    doc = {
        "spans": [asdict(s) | {"dur": s.dur} for s in spans],
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer_m.items()},
        "untraced_end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
