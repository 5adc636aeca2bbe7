"""Turn a finished run into the result line and its detail record.

The metric names and units here are the ones ``BENCHMARK.json`` lists;
``tests/test_report.py`` holds the two to each other.
"""

from __future__ import annotations

import os
import statistics

from workloads import STAR_TABLES

#: End-to-end metrics (untraced passes), with units.
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MiB",
}

#: Per-layer metrics (traced passes, median over them), with units.
PER_LAYER = {
    "session.start_s": "s",
    "session.load_table.calls": "count",
    "session.load_table.s": "s",
    "session.shared_cache.calls": "count",
    "session.shared_cache.builds": "count",
    "session.shared_cache.hits": "count",
    "session.shared_cache.hit_ratio": "ratio",
    "session.shared_cache.build_s": "s",
    "queries.plan_s": "s",
    "queries.plan_jobs": "count",
    "queries.action_s": "s",
    "operators.calls": "count",
    "operators.s": "s",
    "operators.jobs": "count",
    **{f"sources.sinks.write_s.{t}": "s" for t in STAR_TABLES},
    "sources.sinks.files_written": "count",
    "sources.sinks.bytes_per_input_byte": "ratio",
    "sources.input_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.rows_per_batch": "rows",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.task_s": "s",
    "engine.slot_busy_frac": "ratio",
    "engine.gc_s": "s",
    "engine.shuffle_write_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "box.steal_s": "s",
    "box.cpu_s": "s",
    "trace.overhead_s": "s",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _metric(value: float, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def end_to_end(setup: dict, cold: dict, warm: list[dict], rss: float) -> dict:
    queries = [o["s"] for p in warm for o in p["ops"] if o["query"] and o["s"] is not None]
    return {
        "setup_s": _metric(_median(setup["setup_s"]), "s", len(setup["setup_s"])),
        "cold_s": _metric(cold["op_s"], "s", 1),
        "pass_s": _metric(_median(p["op_s"] for p in warm), "s", len(warm)),
        "query_p50_s": _metric(_median(queries), "s", len(queries)),
        "peak_rss_mb": _metric(rss["jvm"] + rss["python_workers"], "MiB", 1),
    }


def _pass_layers(p: dict, input_bytes: int) -> dict[str, float]:
    """Per-layer values of one traced pass."""
    c = p["trace"]["counts"]
    eng = p["engine"]
    calls = c.get("session.shared_cache.calls", 0.0)
    builds = c.get("session.shared_cache.builds", 0.0)
    batches = p["trace"]["stream_progress"]
    out = {
        "session.load_table.calls": c.get("session.load_table.calls", 0.0),
        "session.load_table.s": c.get("session.load_table.s", 0.0),
        "session.shared_cache.calls": calls,
        "session.shared_cache.builds": builds,
        "session.shared_cache.hits": calls - builds,
        "session.shared_cache.hit_ratio": (calls - builds) / calls if calls else 0.0,
        "session.shared_cache.build_s": c.get("session.shared_cache.build_s", 0.0),
        "queries.plan_s": sum(o["plan_s"] or 0.0 for o in p["ops"]),
        "queries.plan_jobs": eng["plan_jobs"],
        "queries.action_s": sum(o["action_s"] or 0.0 for o in p["ops"]),
        "operators.calls": c.get("operators.calls", 0.0),
        "operators.s": c.get("operators.s", 0.0),
        "operators.jobs": eng["operator_jobs"],
        **{f"sources.sinks.write_s.{t}": p["trace"]["sink_writes"].get(t, 0.0)
           for t in STAR_TABLES},
        "sources.sinks.files_written": p["output"]["files"],
        "sources.sinks.bytes_per_input_byte": p["output"]["bytes"] / input_bytes,
        "streaming.batches": len(batches),
        "streaming.batch_p50_s": _median(b["batch_s"] for b in batches),
        "streaming.rows_per_batch": _median(b["rows"] for b in batches),
    }
    for k in ("jobs", "stages", "tasks", "task_s", "slot_busy_frac", "gc_s",
              "shuffle_write_bytes", "spill_bytes"):
        out[f"engine.{k}"] = eng[k]
    return out


def per_layer(run, setup: dict, warm: list[dict], traced: list[dict]) -> dict:
    input_bytes = run.inputs.manifest["input_bytes"]
    rows = [_pass_layers(p, input_bytes) for p in traced]
    box = run.procfs.cpu_delta(run.box0, run.procfs.cpu_times())
    values = {k: _median(r[k] for r in rows) for k in rows[0]}
    values.update({
        "session.start_s": _median(setup["start_s"]),
        "sources.input_bytes": input_bytes,
        "box.steal_s": box["steal_s"],
        "box.cpu_s": box["cpu_s"],
        "trace.overhead_s": _median(p["op_s"] for p in traced)
        - _median(p["op_s"] for p in warm),
    })
    n = {k: len(traced) for k in values}
    n.update({"session.start_s": len(setup["start_s"]), "sources.input_bytes": 1,
              "box.steal_s": 1, "box.cpu_s": 1})
    return {k: _metric(values[k], PER_LAYER[k], n[k]) for k in PER_LAYER}


def build(run, setup, cold, warm, traced, tracer, rss) -> dict:
    """The result line (last line of stdout) and the detail record."""
    e2e = end_to_end(setup, cold, warm, rss)
    detail = {
        "workload": run.wl.name, "seed": run.seed,
        "inputs": {k: run.inputs.manifest[k] for k in ("size", "input_bytes")},
        "passes": {"warm": len(warm), "traced": len(traced)},
        "end_to_end": e2e,
        "peak_rss": rss,
        "setup": setup,
        "box_per_pass": [p["box"] for p in run.passes],
        "op_seconds": {p["index"]: [o["s"] for o in p["ops"]] for p in run.passes},
        "errors": run.errors,
    }
    shown = e2e
    if traced:
        layers = per_layer(run, setup, warm, traced)
        spans = os.path.join(run.cache, "spans", f"{run.wl.name}-seed{run.seed}.jsonl")
        tracer.write_spans(spans)
        detail.update(
            per_layer=layers,
            shared_cache_builds_per_pass=[
                p["trace"]["counts"].get("session.shared_cache.builds", 0.0)
                for p in traced],
            shared_cache_keys=[p["trace"]["cache_keys"] for p in traced],
            spans=os.path.relpath(spans),
        )
        shown = layers
    line = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in shown.items()},
    }
    return {"line": line, "detail": detail}
