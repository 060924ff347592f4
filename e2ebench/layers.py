"""Per-layer metrics of a traced run.

Every workload prints every name in ``PER_LAYER``; a layer the workload
does not reach reads 0. README.md maps each metric to the end-to-end
metric it should move.
"""

from __future__ import annotations

import statistics

import numpy as np

from tracing import assign_jobs
from workloads import ANALYTIC_OPS, SLOTS

PER_LAYER: dict[str, str] = {
    "session.spark_start_s": "s",
    "engine.open_s": "s",
    "engine.cache_s": "s",
    "service.warmup_s": "s",
    "build.inversion_s": "s",
    "build.dictionary_s": "s",
    "build.docs_s": "s",
    "build.segments_s": "s",
    "build.spark_jobs": "count",
    "build.spark_tasks": "count",
    "build.task_cpu_s": "s",
    "build.shuffle_write_bytes": "bytes",
    "build.slot_busy_ratio": "ratio",
    "build.bytes_written_per_text_byte": "ratio",
    "service.handler_p50_ms": "ms",
    "service.handler_p95_ms": "ms",
    "service.wait_p50_ms": "ms",
    "service.wait_p95_ms": "ms",
    "service.result_cache_hit_ratio": "ratio",
    "engine.serve_p50_ms": "ms",
    "engine.serve_p95_ms": "ms",
    "engine.posting_fetch_ratio": "ratio",
    "engine.fallback_ratio": "ratio",
    "engine.search_p50_ms": "ms",
    "spark.jobs_per_search": "count",
    "codecs.decode_ms": "ms",
    "codecs.postings_decoded": "count",
    "textnorm.tokenize_us": "us",
    **{
        name: unit
        for x in ANALYTIC_OPS
        for name, unit in (
            (f"engine.{x}.plan_ms", "ms"),
            (f"engine.{x}.action_ms", "ms"),
            (f"spark.{x}.jobs", "count"),
            (f"spark.{x}.tasks", "count"),
            (f"spark.{x}.task_ms", "ms"),
            (f"spark.{x}.shuffle_bytes", "bytes"),
            (f"spark.{x}.slot_busy_ratio", "ratio"),
        )
    },
    "loadgen.lag_p95_ms": "ms",
    "loadgen.lag_max_ms": "ms",
    "trace.overhead_ratio": "ratio",
}


def _med(v) -> float:
    return float(statistics.median(v)) if len(v) else 0.0


def _pct(v, q: float) -> float:
    return float(np.percentile(v, q)) if len(v) else 0.0


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def per_layer(workload: str, res, tracer, jobs, spark_start_s: float,
              text_bytes: int) -> dict:
    m = {name: 0.0 for name in PER_LAYER}
    s = res.samples
    m["session.spark_start_s"] = spark_start_s
    for k in ("engine.open_s", "engine.cache_s", "service.warmup_s"):
        m[k] = float(res.extra.get(k, 0.0))
    by_op = assign_jobs(jobs, res.windows)

    if s.get("build.wall_s"):
        for k in ("inversion", "dictionary", "docs", "segments"):
            m[f"build.{k}_s"] = _med(s[f"build.{k}_s"])
        builds = [op for op, _lo, _hi in res.windows if op.startswith("build-")]
        per_build = [by_op.get(op, []) for op in builds]
        m["build.spark_jobs"] = _med([len(js) for js in per_build])
        m["build.spark_tasks"] = _med([sum(j.tasks for j in js) for js in per_build])
        m["build.task_cpu_s"] = _med([sum(j.cpu_ms for j in js) / 1000 for js in per_build])
        m["build.shuffle_write_bytes"] = _med(
            [sum(j.shuffle_write_bytes for j in js) for js in per_build])
        m["build.slot_busy_ratio"] = _med([
            sum(j.task_ms for j in js) / (wall * 1000.0 * SLOTS)
            for js, wall in zip(per_build, s["build.wall_s"])
        ])
        m["build.bytes_written_per_text_byte"] = _med(s["build.bytes_written"]) / text_bytes

    if workload == "interactive":
        handler = tracer.by_name("service.bm25") + tracer.by_name("service.search")
        m["service.handler_p50_ms"] = _med([_ms(h) for h in handler])
        m["service.handler_p95_ms"] = _pct([_ms(h) for h in handler], 95)
        h_by_req = {h["req"]: _ms(h) for h in handler}
        wait = [c - h_by_req[r] for r, c in res.client_ms.items() if r in h_by_req]
        m["service.wait_p50_ms"] = _med(wait)
        m["service.wait_p95_ms"] = _pct(wait, 95)
        m["service.result_cache_hit_ratio"] = float(np.mean(s["cached"])) if s.get("cached") else 0.0
        serve = tracer.by_name("engine.serve")
        m["engine.serve_p50_ms"] = _med([_ms(x) for x in serve])
        m["engine.serve_p95_ms"] = _pct([_ms(x) for x in serve], 95)
        if serve:
            serve_ids = {x["id"] for x in serve}
            decode = tracer.by_name("codecs.decode")
            fetched = len({x["parent"] for x in decode} & serve_ids)
            fallback = sum(1 for x in tracer.by_name("engine.topk") if x["parent"] in serve_ids)
            m["engine.posting_fetch_ratio"] = fetched / len(serve)
            m["engine.fallback_ratio"] = fallback / len(serve)
            m["codecs.decode_ms"] = sum(_ms(x) for x in decode) / len(serve)
            m["codecs.postings_decoded"] = sum(x.get("n", 0) for x in decode) / len(serve)
        tok = tracer.by_name("textnorm.tokenize")
        m["textnorm.tokenize_us"] = _med([_ms(x) * 1000.0 for x in tok])
        searches = [x for x in tracer.by_name("service.search") if not x.get("cached")]
        if searches:
            sjobs = [by_op.get(f"req-{x['req']}", []) for x in searches]
            m["engine.search_p50_ms"] = _med(
                [sum((j.completed - j.submitted) * 1000.0 for j in js) for js in sjobs])
            m["spark.jobs_per_search"] = sum(len(js) for js in sjobs) / len(searches)
        lag = s.get("loadgen.lag_ms", [])
        m["loadgen.lag_p95_ms"] = _pct(lag, 95)
        m["loadgen.lag_max_ms"] = float(max(lag)) if lag else 0.0

    if workload == "analytic":
        for x in ANALYTIC_OPS:
            groups = [op for op, _lo, _hi in res.windows if op.startswith(f"{x}-")]
            n = len(groups)
            js = [j for op in groups for j in by_op.get(op, [])]
            m[f"engine.{x}.plan_ms"] = _med(s[f"engine.{x}.plan_ms"])
            m[f"engine.{x}.action_ms"] = _med(s[f"engine.{x}.action_ms"])
            if n:
                m[f"spark.{x}.jobs"] = len(js) / n
                m[f"spark.{x}.tasks"] = sum(j.tasks for j in js) / n
                m[f"spark.{x}.task_ms"] = sum(j.task_ms for j in js) / n
                m[f"spark.{x}.shuffle_bytes"] = sum(j.shuffle_write_bytes for j in js) / n
                action_ms = sum(s[f"engine.{x}.action_ms"])
                m[f"spark.{x}.slot_busy_ratio"] = (
                    sum(j.task_ms for j in js) / (action_ms * SLOTS) if action_ms else 0.0
                )

    if res.overhead and res.overhead[0]:
        m["trace.overhead_ratio"] = res.overhead[1] / res.overhead[0]
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}
