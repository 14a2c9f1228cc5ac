"""The benchmark's metrics: names, units, and how each is computed.

End-to-end metrics come from untraced ops; per-layer metrics from a traced op
(see perfbench/trace.py). Every workload reports every metric of its kind. A
per-layer metric of a layer the workload does not run reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Span, self_cpu, self_times

END_TO_END = {
    # name: (unit, better). Work is counted per CPU-second, not per second
    # of wall: on a shared host the wall time of identical ops swings by 2x
    # between runs, while their CPU time moves far less (op walls and wall
    # throughput stay in the results record).
    "setup_s": ("s", "lower"),
    "items_per_cpu_s": ("1/cpu-s", "higher"),
    "cpu_s": ("s", "lower"),
    "rss_mb": ("MiB", "lower"),
}

# Layer metrics: self_s is the layer's span time minus its children's, cpu_s
# the process-tree CPU (JVM and Python workers) over the same intervals;
# shuffle_write_mb and spill_mb sum its Spark stages; task_skew is max ÷
# median task time of its busiest stage; idle_core_frac is 1 − executor run
# time ÷ (self time × cores); jobs counts its Spark jobs.
LAYERS = {
    "frontier.canonicalize": ["self_s", "cpu_s"],
    "frontier.membership": ["self_s", "shuffle_write_mb", "spill_mb", "unseen_frac"],
    "frontier.host": ["self_s"],
    "frontier.robots": ["self_s", "allowed_frac"],
    "frontier.politeness": ["self_s", "shuffle_write_mb", "task_skew", "idle_core_frac", "kept_frac"],
    "frontier.rank": ["self_s", "jobs"],
    "frontier.round": ["self_s", "shuffle_write_mb"],
    "warcio.scan_text": ["self_s", "cpu_s", "cpu_us_per_record"],
    "warcio.scan_records": ["self_s", "cpu_s", "cpu_us_per_record"],
    "analytics.summarize": ["self_s", "shuffle_write_mb"],
    "analytics.match_pairs": ["self_s", "shuffle_write_mb"],
    "analytics.compare_headers": ["self_s", "shuffle_write_mb"],
    "analytics.cdx": ["self_s", "shuffle_write_mb"],
    "op": ["wall_s", "coverage", "wall_ratio", "gc_frac", "failed_tasks", "idle_core_frac"],
}

UNITS = {
    "self_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "cpu_us_per_record": ("us/record", "lower"),
    "shuffle_write_mb": ("MiB", "lower"),
    "spill_mb": ("MiB", "lower"),
    "task_skew": ("ratio", "lower"),
    "idle_core_frac": ("frac", "lower"),
    "jobs": ("count", "lower"),
    # funnel ratios are properties of the inputs: a change that moves one
    # changed the output, not the speed
    "unseen_frac": ("frac", "higher"),
    "allowed_frac": ("frac", "higher"),
    "kept_frac": ("frac", "higher"),
    "wall_s": ("s", "lower"),
    "coverage": ("frac", "higher"),
    "wall_ratio": ("ratio", "lower"),
    "gc_frac": ("frac", "lower"),
    "failed_tasks": ("count", "lower"),
}

# the wrapped function whose output rows a layer's per-record cost divides by
RECORDS_FROM = {
    "warcio.scan_text": "scan_files_to_text",
    "warcio.scan_records": "scan_files_to_records",
}

# funnel ratios: (numerator, denominator), each (wrapped function, "rows_in" | "rows_out")
RATIOS = {
    "unseen_frac": (("with_url_host", "rows_in"), ("with_canon_url", "rows_out")),
    "allowed_frac": (("apply_robots", "rows_out"), ("apply_robots", "rows_in")),
    "kept_frac": (("apply_politeness", "rows_out"), ("apply_politeness", "rows_in")),
}


def per_layer_names() -> list[str]:
    return [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def op_layers(spans: list[Span], op: int, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced op. ``spans`` is the tracer's whole
    list (parents are indices into it); the op's root span is named "op"."""
    st, sc = self_times(spans), self_cpu(spans)
    idx = [i for i, s in enumerate(spans) if s.op == op]
    root = next(i for i in idx if spans[i].name == "op")
    wall = spans[root].end - spans[root].start
    by: dict[str, list[int]] = {}
    for i in idx:
        by.setdefault(spans[i].name, []).append(i)

    def total(fn: str, attr: str) -> int:
        """``attr`` summed over the op's spans of wrapped function ``fn``."""
        return sum(getattr(spans[i], attr) or 0 for i in idx if spans[i].fn == fn)

    out: dict[str, float] = {}
    for layer, metrics in LAYERS.items():
        if layer == "op":
            continue
        mine = by.get(layer, [])
        stages = [g for i in mine for g in spans[i].stages]
        self_s = sum(st[i] for i in mine)
        cpu_s = sum(sc[i] for i in mine)
        for m in metrics:
            if m == "self_s":
                v = self_s
            elif m == "cpu_s":
                v = cpu_s
            elif m in ("shuffle_write_mb", "spill_mb"):
                v = sum(g[m] for g in stages)
            elif m == "cpu_us_per_record":
                v = 1e6 * _ratio(cpu_s, total(RECORDS_FROM[layer], "rows_out"))
            elif m == "task_skew":
                busiest = max(stages, key=lambda g: g["run_s"], default=None)
                tasks = busiest["task_s"] if busiest else []
                v = _ratio(max(tasks, default=0.0), statistics.median(tasks) if tasks else 0.0)
            elif m == "idle_core_frac":
                v = max(0.0, 1 - _ratio(sum(g["run_s"] for g in stages), self_s * cores)) if mine else 0.0
            elif m == "jobs":
                v = sum(spans[i].jobs for i in mine)
            elif m in RATIOS:
                (fa, aa), (fb, ab) = RATIOS[m]
                v = _ratio(total(fa, aa), total(fb, ab))
            out[f"{layer}.{m}"] = float(v)
    all_stages = [g for i in idx for g in spans[i].stages]
    run_s = sum(g["run_s"] for g in all_stages)
    out["op.wall_s"] = wall
    out["op.coverage"] = 1 - st[root] / wall
    out["op.gc_frac"] = _ratio(sum(g["gc_s"] for g in all_stages), run_s)
    out["op.failed_tasks"] = float(sum(g["failed_tasks"] for g in all_stages))
    out["op.idle_core_frac"] = max(0.0, 1 - run_s / (wall * cores))
    return out


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
