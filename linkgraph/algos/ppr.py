"""Personalized PageRank: teleport mass returns to a seed set instead of
uniformly — the shared rank kernel of pagerank.py with a seed-set
teleport vector (the reference's seeded Start/IdEqualPushDown idea
applied to the iterative loop:
/root/reference/reasoner/lube-logical/.../optimizer/rules/IdEqualPushDown.scala).

Semantics: init = 1/|S| on seeds, 0 elsewhere;
  score'(v) = d * (Σ_{u→v} score(u)/outdeg(u)) + (1-d+d*dangling) * 1[v∈S]/|S|
(dangling mass teleports back to the seeds)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel
from linkgraph.algos.pagerank import _out_degrees, _rank


def personalized_pagerank(
    edges: DataFrame,
    seeds: Sequence[int],
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
    broadcast_state: bool | None = None,
    init_scores: DataFrame | None = None,
) -> pregel.PregelResult:
    """Returns state (vid, score); scores sum to 1 over the graph.

    ``init_scores`` (vid, score) warm-starts the power iteration from a
    previous converged state (the incremental-crawl path, as in
    pagerank.py) — the damped fixed point (I - dA^T)x = (1-d)s is
    unique, so the result is unchanged; the seed vector renormalizes to
    sum 1 and unknown vertices start at 0 (the PPR prior).

    Raises ``ValueError`` when a seed is not a vertex of a non-empty
    graph (its teleport mass would silently vanish); an empty edge frame
    gives an empty result."""
    seed_list = sorted(set(int(s) for s in seeds))
    if not seed_list:
        raise ValueError("personalized_pagerank needs at least one seed vertex")
    # the seed-presence check and the vertex count collapse into ONE
    # aggregate over the cached degree state
    base_state = _out_degrees(edges).persist()
    counts = base_state.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("vid").isin(seed_list), 1).otherwise(0)).alias("p"),
    ).collect()[0]
    missing = len(seed_list) - int(counts["p"] or 0)
    if counts["n"] and missing:
        base_state.unpersist()
        raise ValueError(
            f"{missing} seed vertex/vertices not present in the edge table "
            f"(teleport mass would silently vanish)"
        )
    return _rank(
        edges.select("src", "dst"),
        base_state,
        counts["n"],
        seeds=seed_list,
        damping=damping,
        tol=tol,
        max_iter=max_iter,
        broadcast_state=broadcast_state,
        num_partitions=num_partitions,
        job_id="ppr",
        init_scores=init_scores,
    )
