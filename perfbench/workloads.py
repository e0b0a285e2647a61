"""The two workloads: their inputs, set-up and operations.

Every operation goes through the program's public functions. Each is run
as ``build`` (the public call, which runs any eager jobs) and then
consumed in full with a ``noop`` write, so Catalyst cannot prune output
columns. Each carries a check against an independent computation
(checks.py), run on the first pass only.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import checks

# Parameters shared by the operations and their checks.
PAGERANK = {"damping": 0.85, "max_iterations": 3, "tol": 1e-6}
ANN_K = 10
# The query sample is vec_id % 10 == 0 (50 queries) rather than the
# operator's default of % 50: over 10 queries the mean recall@10 ranged
# 0.28-0.42 across seeds, over 50 it ranged 0.33-0.37.
IVFPQ_QUERY_MOD = 10
IVFPQ_RECALL_FLOOR = 0.3  # tests/test_ivf.py pins ADC mean recall@10 >= 0.3
LOF_TABLES = 16  # lof_scores' default
CURATE_CAP = 4  # binds on about half of the 100 (lang, source) strata


@dataclass
class Op:
    metric: str  # "<module>.<call>", the prefix of its per-layer metrics
    build: Callable[[], object]  # the public call; returns a DataFrame
    check: Callable[[list], str | None]  # collected rows -> None or a reason


@dataclass
class Workload:
    name: str
    tables: tuple[str, ...]
    setup: Callable[["Context"], dict]  # loads inputs; returns per-layer set-up times
    ops: Callable[["Context"], list[Op]]


@dataclass
class Context:
    spark: object
    in_dir: str
    work_dir: str
    inputs: dict = field(default_factory=dict)


def _timed(fn):
    import time

    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _load(ctx: Context, table: str):
    from graph_database_spark.sources.parquet import load_table

    df = load_table(ctx.spark, ctx.in_dir, table).localCheckpoint()
    df.count()
    return df


# ------------------------------------------------------------- graph


def _graph_setup(ctx: Context) -> dict:
    from graph_database_spark.plans.copurchase import copurchase_edges

    def derive():
        e = copurchase_edges(ctx.spark, ctx.in_dir).localCheckpoint()
        e.count()
        return e

    ctx.inputs["embeddings"], t_load = _timed(lambda: _load(ctx, "embeddings"))
    ctx.inputs["edges"], t = _timed(derive)
    return {"sources.load_s": t_load, "plans.copurchase_edges_s": t}


def _graph_ops(ctx: Context) -> list[Op]:
    from graph_database_spark.graph_api import SparkGraph
    from graph_database_spark.operators import lof, similarity

    g = checks.graph_of(ctx.inputs["edges"].collect())
    sg = SparkGraph(ctx.inputs["edges"])
    emb = ctx.inputs["embeddings"]
    cos = checks.cosine_matrix(_embedding_matrix(emb))

    def check_lof(rows):
        # The neighbor lists LOF is built on, fetched apart from the timed call.
        neighbors = similarity.lsh_topk_md5(emb, emb, k=ANN_K, n_tables=LOF_TABLES).collect()
        return checks.check_lof(rows, neighbors, cos)

    return [
        Op("graph_api.connected_components", sg.connected_components,
           lambda rows: checks.check_components(rows, g)),
        Op("graph_api.pagerank", lambda: sg.pagerank(
            damping=PAGERANK["damping"], max_iterations=PAGERANK["max_iterations"]),
           lambda rows: checks.check_pagerank(rows, g, **PAGERANK)),
        Op("graph_api.clustering_coefficient", sg.clustering_coefficient,
           lambda rows: checks.check_clustering(rows, g)),
        Op("lof.lof_scores", lambda: lof.lof_scores(emb, k=ANN_K, n_tables=LOF_TABLES), check_lof),
    ]


# ------------------------------------------------------------ corpus


def _corpus_vector_setup(ctx: Context) -> dict:
    def load():
        ctx.inputs["documents"] = _load(ctx, "documents")
        ctx.inputs["embeddings"] = _load(ctx, "embeddings")

    _, t = _timed(load)
    return {"sources.load_s": t}


def _corpus_ops(ctx: Context) -> list[Op]:
    from graph_database_spark.corpus_api import Corpus
    from graph_database_spark.curate import curate

    docs = ctx.inputs["documents"]
    text = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    n_docs = len(text)
    corpus = Corpus(docs)
    state: dict = {}

    def run_curate():
        # A fresh output directory per call; the previous call's is removed.
        if "out" in state:
            shutil.rmtree(state["out"], ignore_errors=True)
        state["n"] = state.get("n", 0) + 1
        state["out"] = os.path.join(ctx.work_dir, "curated", str(state["n"]))
        state["summary"] = curate(ctx.spark, ctx.in_dir, state["out"], cap=CURATE_CAP)
        return ctx.spark.read.parquet(f"{state['out']}/corpus")

    langs = {"en", "fr", "de", "es", "zh"}
    return [
        Op("curate.curate", run_curate,
           lambda rows: checks.check_curated(rows, state["summary"], text, CURATE_CAP)),
        Op("corpus_api.quality", corpus.quality,
           lambda rows: checks.check_per_doc(rows, n_docs, "quality", lambda q: 0.0 <= q <= 1.0)),
        Op("corpus_api.lang_id", corpus.lang_id,
           lambda rows: checks.check_per_doc(rows, n_docs, "pred_lang", langs.__contains__)),
    ]


# ------------------------------------------------------------ vectors


def _embedding_matrix(emb) -> np.ndarray:
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    if [r["vec_id"] for r in rows] != list(range(len(rows))):
        raise RuntimeError("embeddings must be numbered 0..n-1")
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def _vector_ops(ctx: Context) -> list[Op]:
    from graph_database_spark.operators import pq

    emb = ctx.inputs["embeddings"]
    vectors = _embedding_matrix(emb)
    ivfpq_ids = list(range(0, vectors.shape[0], IVFPQ_QUERY_MOD))
    return [
        Op("pq.ivfpq_topk_md5",
           lambda: pq.ivfpq_topk_md5(emb, k=ANN_K, query_mod=IVFPQ_QUERY_MOD),
           lambda rows: checks.check_ivfpq(rows, vectors, ivfpq_ids, ANN_K, IVFPQ_RECALL_FLOOR)),
    ]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("graph_analytics", ("orders", "lineitem", "embeddings"), _graph_setup,
                 _graph_ops),
        Workload("corpus_vector", ("documents", "embeddings"), _corpus_vector_setup,
                 lambda ctx: _corpus_ops(ctx) + _vector_ops(ctx)),
    )
}

# Every operation of every workload, for the per-layer metric names.
OP_METRICS = (
    "graph_api.connected_components", "graph_api.pagerank",
    "graph_api.clustering_coefficient", "lof.lof_scores",
    "curate.curate", "corpus_api.quality", "corpus_api.lang_id",
    "pq.ivfpq_topk_md5",
)
