"""Per-layer metrics of a traced run, read from its spans, the Spark jobs
attributed to them, and the index's own manifests.

Call latencies are medians over calls; per-query figures are means over
the run's queries. A layer a workload never calls reports 0.
"""

from __future__ import annotations

import statistics

from tracing import median, ms

# (name, unit) of every per-layer metric, in report order.
METRICS = [
    ("engine.search_ms", "ms"),
    ("engine.result_collect_ms", "ms"),
    ("engine.spark_jobs_per_query", "count"),
    ("engine.spark_stages_per_query", "count"),
    ("engine.spark_tasks_per_query", "count"),
    ("engine.open_ms", "ms"),
    ("plans.parser.parse_ms", "ms"),
    ("index.reader.term_stats_ms", "ms"),
    ("index.reader.term_stats_jobs", "count"),
    ("index.reader.table_open_ms", "ms"),
    ("index.reader.listing_jobs_per_query", "count"),
    ("index.reader.blocks_decoded", "count"),
    ("index.reader.blocks_skipped", "count"),
    ("index.reader.generations", "count"),
    ("fastpath.topk_ms", "ms"),
    ("fastpath.postings_per_query", "count"),
    ("fastpath.accept_ratio", "ratio"),
    ("plans.compiler.prepare_ms", "ms"),
    ("plans.compiler.compile_ms", "ms"),
    ("plans.compiler.executor_run_ms", "ms"),
    ("index.build.tokenize_s", "s"),
    ("index.build.docmap_s", "s"),
    ("index.build.doclen_stats_s", "s"),
    ("index.build.segments_s", "s"),
    ("index.build.shuffle_bytes", "bytes"),
    ("index.build.bytes_written", "bytes"),
    ("index.build.executor_run_s", "s"),
    ("index.build.max_task_s", "s"),
    ("index.build.median_task_s", "s"),
    ("index.build.bucket_skew", "ratio"),
    ("functions.codec.bytes_per_posting", "bytes"),
    ("streaming.incremental.append_s", "s"),
    ("streaming.incremental.append_max_task_s", "s"),
    ("streaming.incremental.append_jobs", "count"),
    ("streaming.incremental.compact_s", "s"),
    ("streaming.incremental.compact_bytes_rewritten", "bytes"),
    ("index.deletes.delete_ms", "ms"),
    ("index.deletes.purge_s", "s"),
    ("session.start_s", "s"),
    ("trace.query_overhead_ms", "ms"),
]


class Spans:
    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.kids: dict[int, list[dict]] = {}
        for sp in spans:
            if sp["parent"] is not None:
                self.kids.setdefault(sp["parent"], []).append(sp)

    def named(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]

    def subtree(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.kids.get(s["id"], [])
        return out

    def within(self, sp: dict, name: str) -> list[dict]:
        return [s for s in self.subtree(sp) if s["name"] == name]

    def jobs(self, sp: dict) -> int:
        return sum(len(s["jobs"]) for s in self.subtree(sp))

    def stages(self, sp: dict) -> list[dict]:
        return [st for s in self.subtree(sp) for st in s["stages"]]


def _sum(stages: list[dict], key: str) -> float:
    return float(sum(st[key] or 0 for st in stages))


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _median_ms(spans: list[dict]) -> float:
    return median([ms(s) for s in spans])


def compute(spans: list[dict], run) -> dict[str, float]:
    """Every metric of ``METRICS`` for one traced run."""
    t = Spans(spans)
    v: dict[str, float] = {}
    queries = t.named("op.query")
    searches = t.named("engine.search")

    v["engine.search_ms"] = _median_ms(searches)
    v["engine.result_collect_ms"] = _median_ms(t.named("engine.result_collect"))
    v["engine.spark_jobs_per_query"] = _mean(t.jobs(q) for q in queries)
    v["engine.spark_stages_per_query"] = _mean(len(t.stages(q)) for q in queries)
    v["engine.spark_tasks_per_query"] = _mean(
        sum(st["num_tasks"] for st in t.stages(q)) for q in queries)
    v["engine.open_ms"] = _median_ms(t.named("engine.open"))
    v["plans.parser.parse_ms"] = _median_ms(t.named("plans.parser.parse"))

    stats_calls = t.named("index.reader.term_stats")
    v["index.reader.term_stats_ms"] = _median_ms(stats_calls)
    v["index.reader.term_stats_jobs"] = _mean(t.jobs(s) for s in stats_calls)
    v["index.reader.table_open_ms"] = _mean(
        sum(ms(s) for s in t.within(q, "index.reader.table_open")) for q in queries)
    v["index.reader.listing_jobs_per_query"] = _mean(
        sum(t.jobs(s) for s in t.within(q, "index.reader.table_open")) for q in queries)
    decoded = sum(e.decode_metrics()["blocks_decoded"] for e in run.engines)
    skipped = sum(e.decode_metrics()["blocks_skipped"] for e in run.engines)
    v["index.reader.blocks_decoded"] = decoded / max(1, run.n_queries)
    v["index.reader.blocks_skipped"] = skipped / max(1, run.n_queries)
    v["index.reader.generations"] = run.values.get("index.reader.generations", 1)

    topk = t.named("fastpath.topk")
    v["fastpath.topk_ms"] = _median_ms(topk)
    v["fastpath.postings_per_query"] = _mean(
        sum(s["attrs"].get("sum_df", 0) for s in t.within(f, "index.reader.term_stats"))
        for f in topk)
    # answers ÷ calls, where every search call is a chance for the fast path
    v["fastpath.accept_ratio"] = (
        sum(bool(f["attrs"].get("accepted")) for f in topk) / len(searches)
        if searches else 0.0)

    v["plans.compiler.prepare_ms"] = _median_ms(t.named("plans.compiler.prepare"))
    v["plans.compiler.compile_ms"] = _median_ms(t.named("plans.compiler.compile"))
    v["plans.compiler.executor_run_ms"] = _mean(
        _sum(t.stages(q), "executor_run_ms") for q in queries)

    v.update(_build(t, run))

    appends = t.named("streaming.incremental.append_index")
    v["streaming.incremental.append_s"] = _median_ms(appends) / 1000.0
    v["streaming.incremental.append_max_task_s"] = max(
        (max(st["task_ms"], default=0) for a in appends for st in t.stages(a)),
        default=0) / 1000.0
    v["streaming.incremental.append_jobs"] = _mean(t.jobs(a) for a in appends)
    compacts = t.named("streaming.incremental.compact_index")
    v["streaming.incremental.compact_s"] = _median_ms(compacts) / 1000.0
    v["streaming.incremental.compact_bytes_rewritten"] = sum(
        _sum(t.stages(c), "output_bytes") for c in compacts)
    v["index.deletes.delete_ms"] = _median_ms(t.named("index.deletes.delete_docs"))
    v["index.deletes.purge_s"] = _median_ms(t.named("index.deletes.purge_deletes")) / 1000.0
    v["session.start_s"] = run.values["session.start_s"]
    # the collector's own time per traced query (run.py also reports the
    # traced-minus-untraced difference where the run alternates them)
    v["trace.query_overhead_ms"] = median(
        [sum(s["attrs"]["trace_ms"] for s in t.subtree(q)) for q in queries])
    return v


def _build(t: Spans, run) -> dict[str, float]:
    """The set-up build: phases from the index's base manifest, Spark work
    from the build's jobs, skew and codec density from bucket manifests
    (both as the build left them, before any append or purge)."""
    build = next(
        s for s in t.named("index.build.build_index")
        if s["parent"] is not None and t.spans[s["parent"]]["name"] == "op.build")
    base, buckets = run.build_manifests
    sizes = [b["bytes_compressed"] for b in buckets]
    stages = t.stages(build)
    tasks = [d for st in stages for d in st["task_ms"]]
    phases = base.get("phases", {})
    return {
        "index.build.tokenize_s": phases.get("tokenize", 0.0),
        "index.build.docmap_s": phases.get("docmap", 0.0),
        "index.build.doclen_stats_s": phases.get("doclen_stats", 0.0),
        "index.build.segments_s": ms(build) / 1000.0 - base["seconds"],
        "index.build.shuffle_bytes": _sum(stages, "shuffle_write_bytes"),
        "index.build.bytes_written": _sum(stages, "output_bytes"),
        "index.build.executor_run_s": _sum(stages, "executor_run_ms") / 1000.0,
        "index.build.max_task_s": max(tasks, default=0) / 1000.0,
        "index.build.median_task_s": median(tasks) / 1000.0,
        "index.build.bucket_skew": (
            max(sizes) / statistics.median(sizes) if sizes else 0.0),
        "functions.codec.bytes_per_posting": (
            sum(sizes) / max(1, sum(b["n_postings"] for b in buckets))),
    }
