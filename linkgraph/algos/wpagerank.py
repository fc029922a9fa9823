"""Weighted PageRank over (src, dst, weight) edges — the host-graph
companion of algos/pagerank.py, run by the same rank kernel.

Transitions are weight-proportional: a walker at u moves to v with
probability w(u,v)/W(u), W(u) = Σ w(u,·); dangling (W=0 or no
out-edges) mass redistributes uniformly, damping as usual. The natural
input is ``normalize.host_graph`` output (weight = page-level link
count), where uniform transitions would badly misrank mega-sites.

The transition fraction is folded into the edge frame the kernel caches
(src, dst, frac), and the state's ``out_degree`` is the 1.0/0.0
has-out-weight indicator, so the kernel's message ``score / out_degree *
frac`` is exactly ``score * frac``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel
from linkgraph.algos.pagerank import _rank


def weighted_pagerank(
    edges: DataFrame,
    *,
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    num_partitions: int | None = None,
    broadcast_state: bool | None = None,
    init_scores: DataFrame | None = None,
) -> pregel.PregelResult:
    """Returns state (vid, score), scores summing to 1.

    ``init_scores`` (vid, score) warm-starts from a previous converged
    state (incremental host-graph re-ranking, as in pagerank.py); new
    vertices get the uniform prior and the seed renormalizes to sum 1.

    ``normalize.host_graph`` output plugs in directly:
    ``weighted_pagerank(hg, src_col="src_host", dst_col="dst_host")``.
    Vertices whose total out-weight is <= 0 (or null) are treated as
    dangling — their edges carry no mass and never divide by zero.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    # one-pass setup (r6, as in pagerank.py): per-vid total out-weight
    # in a single aggregation over the unioned endpoints — src rows
    # carry their weight, dst rows a NULL (contributes nothing to the
    # sum). No union+distinct pass, no join. CRITICAL: the dangling
    # indicator and the normalization total `tot` both derive from THIS
    # one cached aggregate — computing them as two independent float
    # sums could disagree at the `> 0` boundary on mixed-sign weights
    # (different summation orders), classifying a vertex active while
    # giving it no frac rows, silently losing rank mass.
    endpoints = e.select(F.col("src").alias("vid"), F.col("w")).unionAll(
        e.select(F.col("dst").alias("vid"), F.lit(None).cast("double").alias("w"))
    )
    wsum = endpoints.groupBy("vid").agg(F.sum("w").alias("__W__")).persist()
    tot = wsum.where(F.col("__W__") > 0).select(
        F.col("vid").alias("src"), "__W__"
    )  # zero/null out-weight == dangling
    base_state = wsum.select(
        "vid", F.when(F.col("__W__") > 0, 1.0).otherwise(0.0).alias("out_degree")
    ).persist()
    # frac(u, v) = w(u,v) / W(u): per-superstep work is then a plain
    # multiply, no per-iteration weight normalization join
    frac = e.join(tot, "src").select(
        "src", "dst", (F.col("w") / F.col("__W__")).alias("frac")
    )
    try:
        return _rank(
            frac,
            base_state,
            base_state.count(),
            seeds=None,
            damping=damping,
            tol=tol,
            max_iter=max_iter,
            broadcast_state=broadcast_state,
            num_partitions=num_partitions,
            job_id="wpagerank",
            init_scores=init_scores,
        )
    finally:
        wsum.unpersist()
