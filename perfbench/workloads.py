"""Workload inputs and the timed step chain.

Both workloads run the same seven steps, so every end-to-end metric is
measured on each of them; they differ in the input, which decides where
the time goes:

- ``corpus-pipeline``: a seeded source-code corpus (``synth_corpus``,
  hub-skewed imports). Load runs extraction and dense-id minting over the
  corpus text.
- ``rmat-skew``: a seeded R-MAT edge table (``rmat_edges``), about 7x
  the corpus graph's edges with power-law hubs, so the triangle wedge
  join and the BVGraph writer take a larger share. Load reads an edge
  table and only relabels ids densely; there is no text to extract.

On both, the iterative kernels are bound by fixed per-job cost at these
sizes; README.md gives the measured shares.

PageRank and LPA run a fixed number of supersteps and rounds (LPA stops
before it converges), so every seed does the same amount of work and the
spread between runs of different seeds measures noise, not workload.

Steps (each forces its result to exist before its timer stops):

1. load: source parquet -> persisted, counted edge table with dense ids
2. store: BVGraph round trip, ``write_webgraph`` to a file set, then
   ``read_webgraph`` of it to a persisted, counted edge table
3. pagerank: PageRank with a ``CheckpointManager`` saving every
   superstep, stopped at ``stop_at`` supersteps
4. resume: a new ``pagerank`` call that resumes from the checkpoint
5. wcc: ``connected_components``
6. lpa: ``label_propagation``
7. triangles: ``triangle_count``

Steps 3-7 run on the decoded table, so the kernels consume what the codec
produced.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import paragrapher_spark.graph as graph_mod
from paragrapher_spark.graph import Graph, edges_from_corpus, graph_from_edges
from paragrapher_spark.kernels.components import connected_components
from paragrapher_spark.kernels.labelprop import label_propagation
from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.kernels.triangles import triangle_count
from paragrapher_spark.operators.indexing import dense_ids
from paragrapher_spark.plans.checkpoint import CheckpointManager
from paragrapher_spark.sources.corpus import synth_corpus
from paragrapher_spark.sources.edges import rmat_edges
from paragrapher_spark.sources.webgraph import read_webgraph, write_webgraph

from spans import TracedCheckpointManager, Tracer

STEPS = ("load", "store", "pagerank", "resume", "wcc", "lpa", "triangles")


@dataclass(frozen=True)
class Workload:
    name: str
    source: str  # "corpus" or "rmat"
    gen: dict[str, Any]  # generator parameters, besides the seed
    stop_at: int  # supersteps of the first, checkpointed call
    max_iter: int  # supersteps after the resumed call
    lpa_max_iter: int
    # large-star/small-star rounds the generator's graphs need on each of
    # seeds 1-60 (oracles.star_rounds); WCC runs to convergence, so wcc_s
    # compares seeds only while their inputs need the same rounds
    wcc_rounds: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="corpus-pipeline",
            source="corpus",
            gen={"n_files": 6000, "n_repos": 64, "max_out": 12, "hub_count": 128},
            stop_at=2,
            max_iter=10,
            lpa_max_iter=4,
            wcc_rounds=4,
        ),
        Workload(
            name="rmat-skew",
            source="rmat",
            gen={"scale": 14, "edge_factor": 16},
            stop_at=2,
            max_iter=4,
            lpa_max_iter=3,
            wcc_rounds=3,
        ),
    )
}


def generate(spark: SparkSession, wl: Workload, seed: int, out: str) -> None:
    """Write the workload's seeded input table as parquet at ``out``."""
    if wl.source == "corpus":
        df = synth_corpus(spark, seed=seed, **wl.gen)
    else:
        df = rmat_edges(spark, seed=seed, **wl.gen)
    df.write.mode("overwrite").parquet(out)


def _load_corpus(spark: SparkSession, path: str, tracer: Tracer) -> Graph:
    with tracer.span("sources.parquet_read"):
        corpus = spark.read.parquet(path).persist()
        corpus.count()
    with tracer.span("graph.edges_from_corpus"):
        # edges_from_corpus mints ids through its module's name for
        # dense_ids; traced runs swap in a wrapper so that call gets a span
        if tracer.enabled:
            graph_mod.dense_ids = tracer.wrap("indexing.dense_ids", dense_ids)
        try:
            g = edges_from_corpus(corpus)
        finally:
            graph_mod.dense_ids = dense_ids
    corpus.unpersist()
    return g


def _load_rmat(spark: SparkSession, path: str, tracer: Tracer) -> Graph:
    """R-MAT draws leave gaps in the id space; BVGraph needs ids 0..n-1, so
    the endpoints are relabelled by rank first."""
    with tracer.span("sources.parquet_read"):
        raw = spark.read.parquet(path).persist()
        raw.count()
    ends = raw.select(F.col("src").alias("v")).unionByName(
        raw.select(F.col("dst").alias("v"))
    )
    with tracer.span("indexing.dense_ids"):
        ids = dense_ids(ends, ["v"])
    with tracer.span("graph.graph_from_edges"):
        edges = (
            raw.join(ids.select(F.col("v").alias("src"), F.col("id").alias("s")), "src")
            .join(ids.select(F.col("v").alias("dst"), F.col("id").alias("d")), "dst")
            .select(F.col("s").alias("src"), F.col("d").alias("dst"))
        )
        g = graph_from_edges(edges)
    raw.unpersist()
    return g


@dataclass
class JobResult:
    graph: Graph  # loaded from the source
    decoded: DataFrame  # edge table decoded from the BVGraph files
    basename: str
    first: Any  # PageRankResult of the checkpointed call
    resumed: Any  # PageRankResult of the resumed call
    checkpoint: CheckpointManager
    wcc: Any
    lpa: Any
    triangles: int


def run_job(
    spark: SparkSession, wl: Workload, source: str, work: str, tracer: Tracer
) -> JobResult:
    """Run the seven timed steps once. ``work`` is an empty directory for
    this repetition's BVGraph files and checkpoints."""
    with tracer.span("load", step=True):
        load = _load_corpus if wl.source == "corpus" else _load_rmat
        g = load(spark, source, tracer)

    basename = os.path.join(work, "bvgraph", "graph")
    os.makedirs(os.path.dirname(basename), exist_ok=True)
    with tracer.span("store", step=True):
        with tracer.span("webgraph.write"):
            write_webgraph(g, basename)
        with tracer.span("webgraph.read"):
            wg = read_webgraph(spark, basename)
            edges = wg.edges.persist()
            edges.count()
    vertices = wg.vertices

    ck_root = os.path.join(work, "checkpoints")

    def manager() -> CheckpointManager:
        if tracer.enabled:
            return TracedCheckpointManager(ck_root, "pagerank", tracer)
        return CheckpointManager(ck_root, "pagerank")

    with tracer.span("pagerank", step=True):
        # tol=0: a fixed number of supersteps, the same work for every seed
        first = pagerank(
            edges, vertices, checkpoint=manager(), checkpoint_every=1,
            max_iter=wl.stop_at, tol=0.0,
        )
        for h in first.history:
            tracer.child("pagerank.superstep", h["duration_s"])
    with tracer.span("resume", step=True):
        # checkpoint_every above max_iter: the resumed call writes no
        # snapshot, so its time is the resume plus its own supersteps
        cm = manager()
        resumed = pagerank(
            edges, vertices, checkpoint=cm, checkpoint_every=wl.max_iter + 1,
            max_iter=wl.max_iter, tol=0.0,
        )
        for h in resumed.history:
            tracer.child("pagerank.superstep", h["duration_s"])

    with tracer.span("wcc", step=True):
        wcc = connected_components(edges, vertices)
        for h in wcc.history:
            tracer.child("wcc.round", h["duration_s"])

    with tracer.span("lpa", step=True):
        lpa = label_propagation(edges, vertices, max_iter=wl.lpa_max_iter)
        for h in lpa.history:
            tracer.child("lpa.round", h["duration_s"])

    with tracer.span("triangles", step=True):
        tri = int(triangle_count(edges).collect()[0]["triangles"])

    return JobResult(
        graph=g, decoded=edges, basename=basename, first=first, resumed=resumed,
        checkpoint=cm, wcc=wcc, lpa=lpa, triangles=tri,
    )


def release(spark: SparkSession, work: str) -> None:
    """Drop a repetition's cached tables and files."""
    spark.catalog.clearCache()
    shutil.rmtree(work, ignore_errors=True)
