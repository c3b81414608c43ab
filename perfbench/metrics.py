"""End-to-end and per-layer metrics of one repetition, from its spans.

Each function returns {name: (value, unit)}. README.md says which
end-to-end metric each per-layer metric should move, on which workload.
"""

from __future__ import annotations

import os
import statistics
from typing import Any

from spans import MB, Tracer
from workloads import STEPS, JobResult

Metrics = dict[str, tuple[float, str]]


def _sum(tracer: Tracer, spans: list[dict], name: str) -> float:
    return sum(tracer.duration(s) for s in spans if s["name"] == name)


def _supersteps(res: JobResult) -> int:
    return len(res.first.history) + len(res.resumed.history)


def end_to_end(
    tracer: Tracer, spans: list[dict], res: JobResult, setup_s: float
) -> Metrics:
    def t(name: str) -> float:
        return _sum(tracer, spans, name)

    pagerank_s = t("pagerank") + t("resume")
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (t("job"), "s"),
        "load_s": (t("load"), "s"),
        "store_s": (t("store"), "s"),
        "pagerank_s": (pagerank_s, "s"),
        "pagerank_edges_per_s": (
            res.graph.num_edges * _supersteps(res) / pagerank_s, "edges/s"
        ),
        "resume_s": (t("resume"), "s"),
        "wcc_s": (t("wcc"), "s"),
        "lpa_s": (t("lpa"), "s"),
        "triangles_s": (t("triangles"), "s"),
    }


def per_layer(
    tracer: Tracer,
    spans: list[dict],
    res: JobResult,
    facts: dict[str, Any],
    datagen_s: float,
    rss_mb: float,
) -> Metrics:
    def t(name: str) -> float:
        return _sum(tracer, spans, name)

    def steps(*names: str) -> list[dict]:
        return [s for s in spans if s["name"] in names and "jobs" in s]

    def count(key: str, *names: str) -> float:
        return sum(s[key] for s in steps(*names))

    def children(name: str) -> list[float]:
        return [tracer.duration(s) for s in spans if s["name"] == name] or [0.0]

    m = res.graph.num_edges
    ss = _supersteps(res)
    pr_steps = ("pagerank", "resume")
    build = [s for s in spans if s["name"] == "graph.edges_from_corpus"]
    # extraction is lazy: it runs inside the graph assembly's joins, so the
    # assembly's self time is the time extraction had
    extract_s = sum(tracer.self_time(s) for s in build)
    sites = facts["sites"]
    saves = [s for s in spans if s["name"] == "checkpoint.save"]
    reads = [s for s in spans if s["name"] == "checkpoint.resume_read"]
    skews = [r["skew_factor"] for r in res.checkpoint.records() if "skew_factor" in r]
    bv_bytes = sum(os.path.getsize(res.basename + ext) for ext in (".graph", ".offsets"))
    return {
        "session.start_s": (tracer.total("session.start"), "s"),
        "session.warmup_s": (tracer.total("session.warmup"), "s"),
        "sources.datagen_s": (datagen_s, "s"),
        "sources.parquet_read_s": (t("sources.parquet_read"), "s"),
        "extract.sites": (sites, "count"),
        "extract.sites_per_s": (sites / extract_s if extract_s else 0.0, "sites/s"),
        "indexing.dense_ids_s": (t("indexing.dense_ids"), "s"),
        "graph.vertices": (res.graph.num_vertices, "count"),
        "graph.edges": (m, "count"),
        "webgraph.read_s": (t("webgraph.read"), "s"),
        "webgraph.decode_edges_per_s": (m / t("webgraph.read"), "edges/s"),
        "webgraph.write_s": (t("webgraph.write"), "s"),
        "webgraph.bits_per_edge": (8 * bv_bytes / m, "bits"),
        "pagerank.prep_s": (
            t("pagerank") + t("resume") - sum(children("pagerank.superstep")), "s"
        ),
        "pagerank.supersteps": (ss, "count"),
        "pagerank.superstep_s_median": (
            statistics.median(children("pagerank.superstep")), "s"
        ),
        "pagerank.superstep_s_max": (max(children("pagerank.superstep")), "s"),
        "pagerank.jobs_per_superstep": (count("jobs", *pr_steps) / ss, "count"),
        "pagerank.stages_per_superstep": (count("stages", *pr_steps) / ss, "count"),
        "pagerank.tasks_per_superstep": (count("tasks", *pr_steps) / ss, "count"),
        "pagerank.shuffle_write_mb": (count("shuffle_write_mb", *pr_steps), "MB"),
        "pagerank.shuffle_read_mb": (count("shuffle_read_mb", *pr_steps), "MB"),
        "wcc.rounds": (res.wcc.rounds, "count"),
        "wcc.round_s_median": (statistics.median(children("wcc.round")), "s"),
        "wcc.jobs": (count("jobs", "wcc"), "count"),
        "wcc.shuffle_write_mb": (count("shuffle_write_mb", "wcc"), "MB"),
        "lpa.iterations": (res.lpa.iterations, "count"),
        "lpa.iter_s_median": (statistics.median(children("lpa.round")), "s"),
        "lpa.jobs": (count("jobs", "lpa"), "count"),
        "lpa.shuffle_write_mb": (count("shuffle_write_mb", "lpa"), "MB"),
        "triangles.wedges": (facts["wedges"], "count"),
        "triangles.close_ratio": (
            res.triangles / facts["wedges"] if facts["wedges"] else 0.0, "ratio"
        ),
        "triangles.jobs": (count("jobs", "triangles"), "count"),
        "triangles.shuffle_write_mb": (count("shuffle_write_mb", "triangles"), "MB"),
        "checkpoint.saves": (len(saves), "count"),
        "checkpoint.bytes_written_mb": (sum(s["bytes"] for s in saves) / MB, "MB"),
        "checkpoint.resume_read_s": (
            tracer.duration(reads[-1]) if reads else 0.0, "s"
        ),
        "checkpoint.skew_factor_max": (max(skews, default=1.0), "ratio"),
        "spark.jobs": (count("jobs", *STEPS), "count"),
        "spark.stages": (count("stages", *STEPS), "count"),
        "spark.tasks": (count("tasks", *STEPS), "count"),
        "spark.shuffle_write_mb": (count("shuffle_write_mb", *STEPS), "MB"),
        # VmHWM of the driver JVM plus this process; with the engine's
        # default heap it follows when G1 grows the heap (2.2 to 3.3 GB
        # over ten rmat-skew seeds), so it has no regression bound
        "memory.peak_rss_mb": (rss_mb, "MB"),
    }
