"""The metrics' values. ``BENCHMARK.json`` is the one list of their names,
units and directions: end-to-end metrics are printed by untraced runs
(``--trace 0``), per-layer metrics by traced runs (``--trace 1``).

A per-layer name is ``<layer>.<figure>``. Span counters (``calls``,
``busy_s``, ``jobs``…) and the ratios below come from the layer's span
totals; every other figure is one the workload computed itself. Every
run prints every metric of its kind: a layer or figure its workload
never produces reads 0.
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# summed over a layer's spans and the Spark jobs tagged with them
SPAN_COUNTERS = ("calls", "busy_s", "jobs", "tasks", "shuffle_write_bytes", "driver_s")
# summed over every span of the run, reported as workload.<name>
RUN_COUNTERS = ("stages", "spill_bytes", "gc_s")


def spec() -> tuple[dict[str, dict], dict[str, dict]]:
    """(end-to-end, per-layer) metric specs by name, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m for m in bench["end_to_end"]},
            {m["name"]: m for m in bench["per_layer"]})


def per_layer_value(name: str, totals: dict[str, dict], figures: dict[str, float]) -> float:
    layer, _, fig = name.rpartition(".")
    t = totals.get(layer, {})
    if name in figures:
        return figures[name]
    if fig in SPAN_COUNTERS:
        return t.get(fig, 0)
    if fig == "tasks_per_job":
        return t.get("tasks", 0) / max(1, t.get("jobs", 0))
    if fig == "jobs_per_call":
        return t.get("jobs", 0) / max(1, t.get("calls", 0))
    if fig == "input_rows_per_row_returned":
        return t.get("input_rows", 0) / max(1, figures.get(f"{layer}.rows_returned", 0))
    if layer == "workload" and fig in RUN_COUNTERS:
        return sum(v.get(fig, 0) for v in totals.values())
    return 0.0


def per_layer_values(names, totals: dict[str, dict], figures: dict[str, float]) -> dict:
    """Every per-layer metric in ``names`` from span totals
    (``spans.layer_totals``) and the workload's own ``figures``."""
    return {name: float(per_layer_value(name, totals, figures)) for name in names}
