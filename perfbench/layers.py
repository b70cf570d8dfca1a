"""Per-layer metrics from a traced segment's spans.

Every workload reports the same per-layer names (run.py fills in 0 for
a layer the workload does not exercise: the ``batch.*`` metrics on
``api_interactive``, the ``api.*`` ones on ``analytics_batch``).
"""

from __future__ import annotations

from spans import Tracer
from util import median

OPERATOR_ROOTS = ("execute_search", "aggregate_search")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _dur(rec) -> float:
    return rec[3] - rec[2] if rec[3] is not None else 0.0


def _under(spans: list, i: int, names: tuple[str, ...]) -> int:
    """Index of the nearest enclosing span named in ``names``, or -1."""
    p = spans[i][4]
    while p >= 0:
        if spans[p][1] in names:
            return p
        p = spans[p][4]
    return -1


def common_layers(tracer: Tracer, n_ops: int) -> dict[str, float]:
    """Spark-action and self-time metrics, per operation."""
    spans = tracer.spans
    spark_s = sum(_dur(r) for r in spans if r[0] == "spark")
    groups = list(tracer.groups.values())
    out = {
        "spark.action_ms": _ratio(spark_s * 1000.0, n_ops),
        "spark.jobs_per_op": _ratio(sum(g["jobs"] for g in groups), len(groups)),
        "spark.tasks_per_op": _ratio(sum(g["tasks"] for g in groups), len(groups)),
        "spark.failed_tasks": float(sum(g["failed"] for g in groups)),
    }
    for layer, secs in tracer.self_times().items():
        out[f"self.{layer}_ms"] = _ratio(secs * 1000.0, n_ops)
    return out


def api_layers(tracer: Tracer, result: dict, traced: dict, base: dict) -> dict[str, float]:
    spans = tracer.spans
    handler = {r[5]: r for r in spans if r[0] == "api" and r[1] == "handler"}
    ops = [op for op in result["ops"] if op[6] in handler]
    n = len(ops)
    waits = [(op[2] - op[1]) - _dur(handler[op[6]]) for op in ops]

    def named(name):
        return [r for r in spans if r[1] == name]

    searches = named("execute_search")
    aggs = named("aggregate_search")
    roots = {i for i, r in enumerate(spans) if r[1] in OPERATOR_ROOTS}
    spark_in_root = 0.0
    rows_collected = 0
    for i, r in enumerate(spans):
        if r[0] != "spark":
            continue
        root = _under(spans, i, OPERATOR_ROOTS)
        if root in roots:
            spark_in_root += _dur(r)
            if r[1] == "collect" and spans[root][1] == "execute_search" and r[6]:
                rows_collected += r[6].get("rows", 0)
    items = sum((r[6] or {}).get("items", 0) for r in searches)
    matched = sum((r[6] or {}).get("matched", 0) for r in searches)
    point = named("point_read")
    stac = named("create_stac_item")
    compile_s = sum(_dur(r) for r in spans if r[1].startswith("compile."))
    out = {
        "api.handler_ms": _ratio(sum(_dur(r) for r in handler.values()) * 1000.0, len(handler)),
        "api.wait_ms": _ratio(sum(waits) * 1000.0, n),
        "api.encode_ms": _ratio(sum(_dur(r) for r in named("jsonify")) * 1000.0, n),
        "api.response_kb": _ratio(sum(op[5] for op in ops) / 1024.0, n),
        "operators.search_ms": _ratio(sum(map(_dur, searches)) * 1000.0, len(searches)),
        "operators.plan_ms": _ratio(
            (sum(map(_dur, searches)) + sum(map(_dur, aggs)) - spark_in_root) * 1000.0,
            len(searches) + len(aggs)),
        "operators.filter_compile_ms": _ratio(compile_s * 1000.0, n),
        "operators.aggregate_ms": _ratio(sum(map(_dur, aggs)) * 1000.0, len(aggs)),
        "operators.rows_per_item": _ratio(rows_collected, items),
        "operators.matched_per_item": _ratio(matched, items),
        "sources.point_read_ms": _ratio(sum(map(_dur, point)) * 1000.0, len(point)),
        "sources.point_read_fallback_ratio": _ratio(
            sum(bool((r[6] or {}).get("fallback")) for r in point), len(point)),
        "stac.serialize_us_per_item": _ratio(sum(map(_dur, stac)) * 1e6, len(stac)),
        "stac.items_serialized": _ratio(len(stac), n),
    }
    out.update(common_layers(tracer, n))
    out.update(overhead(base, traced))
    return out


def batch_layers(tracer: Tracer, base_ops: list, names: list[str], traced: dict,
                 base: dict) -> dict[str, float]:
    """Plan and execution seconds per query come from the untraced
    passes (builder call vs noop-sink action), the rest from the traced
    pass."""
    out: dict[str, float] = {}
    plan = {q: median([op[1] for op in base_ops if op[0] == q]) for q in names}
    execute = {q: median([op[2] for op in base_ops if op[0] == q]) for q in names}
    for q in names:
        out[f"batch.{q}.plan_s"] = plan[q]
        out[f"batch.{q}.exec_s"] = execute[q]
    out["batch.plan_s"] = sum(plan.values())
    out["batch.exec_s"] = sum(execute.values())
    n_ops = len({r[5] for r in tracer.spans if r[5] is not None}) or len(names)
    out.update(common_layers(tracer, n_ops))
    out.update(overhead(base, traced))
    return out


def overhead(base: dict, traced: dict) -> dict[str, float]:
    """Tracing overhead: the traced segment against the untraced
    segment(s) of the same run."""
    return {
        "trace.overhead_latency_pct": 100.0 * _ratio(
            traced["mix_latency_ms"] - base["mix_latency_ms"], base["mix_latency_ms"]),
        "trace.overhead_throughput_pct": 100.0 * _ratio(
            base["throughput_ops_s"] - traced["throughput_ops_s"], base["throughput_ops_s"]),
    }
