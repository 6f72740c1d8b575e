"""Per-layer metrics of a traced run, read off its spans.

Values come from the timed phase where the layer runs there, otherwise
from the calls set-up and the gate make; a layer a workload never calls
reads 0. Each name's unit is in BENCHMARK.json; the end-to-end metric
it should move is in perfbench/README.md.
"""

from __future__ import annotations

import statistics
import time

from corpus import SHAPES

HOT_SHAPES = [f"{s}{m}" for s in SHAPES for m in ("", ".wand")]

# name -> unit; the order BENCHMARK.json lists them in
PER_LAYER = {
    "analysis.tokens": "count",
    "analysis.tokens_per_s": "1/s",
    "index.builder.build_s": "s",
    "index.builder.spark_jobs": "count",
    "index.builder.tasks": "count",
    "index.builder.cpu_s": "s",
    "index.builder.posting_blocks": "count",
    "index.model.save_s": "s",
    "index.model.bytes_written": "bytes",
    "index.model.files_written": "count",
    "index.model.load_s": "s",
    "search.querystring.parse_us_p50": "us",
    "search.embedded.pin_s": "s",
    **{f"search.hot.search_ms_p50.{s}": "ms" for s in HOT_SHAPES},
    "search.hot.decoded_mb": "MB",
    "search.hot.terms_decoded": "count",
    "search.hot.cache_reuse": "share",
    "search.hot.resident_mb": "MB",
    "search.hot.refresh_s": "s",
    **{f"search.executor.query_s_p50.{s}": "s" for s in SHAPES},
    "search.executor.query_s_p50.or.wand": "s",
    "search.executor.spark_jobs_per_query": "count",
    "search.executor.tasks_per_query": "count",
    "search.executor.cpu_s_per_query": "s",
    "search.executor.search_many_s": "s",
    "search.executor.search_many_jobs": "count",
    "search.executor.wand_blocks_kept": "count",
    "search.executor.wand_blocks_total": "count",
    "streaming.incremental.append_s": "s",
    "streaming.incremental.spark_jobs": "count",
    "streaming.incremental.segments": "count",
    "streaming.incremental.visible_lag_s": "s",
    "index.merge.consolidate_s": "s",
    "index.merge.bytes_rewritten_per_live_byte": "ratio",
    "spark.session_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.spans": "count",
    "trace.span_cost_us": "us",
}


def _spans(tr, name: str, **match) -> list[dict]:
    timed = tr.of(name, phase="timed", **match)
    return timed or tr.of(name, **match)


def _med(values, scale: float = 1.0) -> float:
    return statistics.median(values) * scale if values else 0.0


def _sum(spans, key: str) -> float:
    return float(sum(s.get(key, 0) for s in spans))


def layer_metrics(tr, run) -> dict[str, float]:
    spans = tr.finish()
    out: dict[str, float] = {}

    an = tr.of("analysis.analyze_flat")
    out["analysis.tokens"] = float(an[0]["tokens"]) if an else 0.0
    out["analysis.tokens_per_s"] = (
        statistics.median(s["tokens"] / s["dur_s"] for s in an) if an else 0.0
    )

    b = tr.of("index.builder.build_index")
    out["index.builder.build_s"] = _sum(b, "dur_s")
    out["index.builder.spark_jobs"] = _sum(b, "jobs")
    out["index.builder.tasks"] = _sum(b, "tasks")
    out["index.builder.cpu_s"] = _sum(b, "cpu_s")
    out["index.builder.posting_blocks"] = _sum(b, "posting_blocks")
    sv = tr.of("index.model.save")
    out["index.model.save_s"] = _sum(sv, "dur_s")
    out["index.model.bytes_written"] = _sum(sv, "bytes_written")
    out["index.model.files_written"] = _sum(sv, "files_written")
    out["index.model.load_s"] = _med([s["dur_s"] for s in tr.of("index.model.load", phase="setup")])

    out["search.querystring.parse_us_p50"] = _med(
        [s["dur_s"] for s in _spans(tr, "search.querystring.parse_query")], 1e6
    )
    out["search.embedded.pin_s"] = _med([s["dur_s"] for s in tr.of("search.embedded.from_dir")])

    for shape in HOT_SHAPES:
        base, _, wand = shape.partition(".")
        mode = "wand" if wand else "exhaustive"
        out[f"search.hot.search_ms_p50.{shape}"] = _med(
            [s["dur_s"] for s in _spans(tr, "search.hot.search", shape=base, mode=mode)], 1e3
        )
    out["search.hot.decoded_mb"] = run.facts.get("decoded_bytes", 0) / 2**20
    out["search.hot.terms_decoded"] = float(run.facts.get("terms_decoded", 0))
    out["search.hot.cache_reuse"] = run.facts.get("cache_reuse", 0.0)
    out["search.hot.resident_mb"] = run.facts.get("resident_bytes", 0) / 2**20
    out["search.hot.refresh_s"] = _med([s["dur_s"] for s in tr.of("search.hot.refresh")])

    ex = _spans(tr, "search.executor.search")
    for shape in SHAPES:
        out[f"search.executor.query_s_p50.{shape}"] = _med(
            [s["dur_s"] for s in ex if s["shape"] == shape and s["mode"] == "exhaustive"]
        )
    out["search.executor.query_s_p50.or.wand"] = _med(
        [s["dur_s"] for s in tr.of("search.executor.search", phase="timed", mode="wand")]
    )
    out["search.executor.spark_jobs_per_query"] = _sum(ex, "jobs") / len(ex) if ex else 0.0
    out["search.executor.tasks_per_query"] = _sum(ex, "tasks") / len(ex) if ex else 0.0
    out["search.executor.cpu_s_per_query"] = _sum(ex, "cpu_s") / len(ex) if ex else 0.0
    sm = tr.of("search.executor.search_many")
    out["search.executor.search_many_s"] = _sum(sm, "dur_s")
    out["search.executor.search_many_jobs"] = _sum(sm, "jobs")
    wand = run.facts.get("wand", {})
    out["search.executor.wand_blocks_kept"] = float(wand.get("blocks_kept", 0))
    out["search.executor.wand_blocks_total"] = float(wand.get("blocks_total", 0))

    ap = tr.of("streaming.incremental.process_batch", phase="timed")
    out["streaming.incremental.append_s"] = _med([s["dur_s"] for s in ap])
    out["streaming.incremental.spark_jobs"] = _sum(ap, "jobs")
    out["streaming.incremental.segments"] = float(run.facts.get("segments", 0)) if ap else 0.0
    out["streaming.incremental.visible_lag_s"] = run.facts.get("visible_lag_s", 0.0)
    cs = tr.of("streaming.incremental.consolidate_segments")
    out["index.merge.consolidate_s"] = _sum(cs, "dur_s")
    out["index.merge.bytes_rewritten_per_live_byte"] = run.facts.get("rewritten_per_live", 0.0)

    out["spark.session_s"] = _sum(tr.of("spark.session"), "dur_s")
    roots = [s for s in spans if s["parent"] is None]
    out["spark.jobs"] = _sum(roots, "jobs")
    out["spark.tasks"] = _sum(roots, "tasks")
    out["spark.failed_tasks"] = _sum(roots, "failed_tasks")
    out["trace.spans"] = float(len(spans))
    out["trace.span_cost_us"] = span_cost_us(type(tr))
    if set(out) != set(PER_LAYER):
        raise RuntimeError(f"per-layer names drifted: {set(out) ^ set(PER_LAYER)}")
    return out


def span_cost_us(tracer_cls, n: int = 2000) -> float:
    """Cost of one empty Spark-free span on a fresh tracer."""
    t = tracer_cls()
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n * 1e6
