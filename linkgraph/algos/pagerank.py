"""PageRank as Pregel-style DataFrame supersteps — and the one rank kernel
that personalized (ppr.py) and weighted (wpagerank.py) PageRank share.

Semantics (frozen — golden fixtures + the DuckDB oracle in
__spark_entry__.py reproduce exactly this):
  * synchronous power iteration, damping d (default 0.85)
  * init score = 1/N for the N vertices of the graph
  * dangling (out-degree 0) mass redistributed uniformly each step:
      score'(v) = (1-d)/N + d * (Σ_{u→v} score(u)/outdeg(u) + dangling/N)
  * stop when L∞(score' - score) <= tol (or after max_iter fixed steps)

The reference has no PageRank (SURVEY.md key negative finding) — this is
built on its iterative expand/aggregate machinery re-expressed in Spark:
message pass = edges⋈state join + groupBy(dst) (LocalRDG.expandInto +
groupBy, /root/reference/reasoner/runner/local-runner/.../rdg/LocalRDG.java:499-610,771-860).

Physical plan (tuned via .explain — see docs/PLANS.md):
  * edges are cached hash-partitioned by ``dst``. When the rank state is
    broadcastable, each superstep is then a single shuffle-free stage:
    BroadcastHashJoin (probe the V-row state) feeding partial+final
    HashAggregate on dst — ZERO exchange of the E-row side, per
    iteration, ever.
  * when V is too large to broadcast (the 10^12-doc regime),
    ``broadcast_state=False`` switches to the exchange plan: edges stay
    cached partitioned on ``src`` (join key), only the V-row state and
    the partially-aggregated messages shuffle. Map-side combine + AQE
    skew-join handle power-law in-degree; ``skew_salt > 1`` additionally
    two-phase-aggregates the hot destinations explicitly.
  * out-degree is folded INTO the state frame (vid, score, out_degree) —
    no per-iteration join against a separate degree table, and the
    vertex/url table is never touched inside the loop (the reference's
    NodeIdToEdgeProperty rewrite, optimizer/rules/NodeIdToEdgeProperty.scala:34).
  * 1 action per superstep in fixed-iteration mode (the localCheckpoint;
    the dangling-mass aggregate rides the same plan as a broadcast 1-row
    frame); +1 (convergence delta) in tol mode.

The three public rank functions differ only in their base state (how
``out_degree`` is derived), their edge frame (weighted PageRank adds a
per-edge transition ``frac``) and their teleport vector (uniform or a
seed set); ``_rank`` owns everything else.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linkgraph import pregel
from linkgraph.ops import two_phase_agg


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    vertices: DataFrame | None = None,
    skew_salt: int = 1,
    broadcast_state: bool | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    job_id: str = "pagerank",
    checkpoint_every: int = 5,
    resume: bool = True,
    init_scores: DataFrame | None = None,
) -> pregel.PregelResult:
    """Run PageRank over edges(src, dst). Returns state (vid, score).

    ``tol=0`` + ``max_iter=k`` gives exactly-k synchronous iterations
    (what the fixed-iteration oracle checks); ``tol=1e-6`` is the
    convergence mode of BASELINE.md; ``tol=None`` skips the convergence
    action (fixed-iteration benchmark mode).

    ``init_scores`` (vid, score) warm-starts the iteration — the
    incremental-crawl path: after appending a day's extracted edges,
    seed with yesterday's converged scores and convergence takes a
    handful of supersteps instead of tens. Damping < 1 makes the fixed
    point unique, so the result is the same as a cold start (tested
    allclose); unknown new vertices get the uniform prior and the
    seeded vector is renormalized to sum 1 (one O(1) driver scalar).
    """
    if vertices is None:
        base_state = _out_degrees(edges)
    else:
        deg = edges.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).cast("double").alias("out_degree")
        )
        base_state = vertices.select("vid").join(deg, "vid", "left").select(
            "vid", F.coalesce("out_degree", F.lit(0.0)).alias("out_degree")
        )
    base_state = base_state.persist()
    return _rank(
        edges.select("src", "dst"),
        base_state,
        base_state.count(),
        seeds=None,
        damping=damping,
        tol=tol,
        max_iter=max_iter,
        skew_salt=skew_salt,
        broadcast_state=broadcast_state,
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
        job_id=job_id,
        checkpoint_every=checkpoint_every,
        resume=resume,
        init_scores=init_scores,
    )


def _out_degrees(edges: DataFrame) -> DataFrame:
    """(vid, out_degree) over every endpoint, in ONE aggregation: union
    the endpoints as (src, 1) and (dst, 0) and sum the ones. Exact
    integer arithmetic (sum of 1s == count over src occurrences, then
    one cast to double), map-side combined to ~|V| rows before the only
    exchange, no join, no distinct."""
    endpoints = edges.select(
        F.col("src").alias("vid"), F.lit(1).alias("__c__")
    ).unionAll(edges.select(F.col("dst").alias("vid"), F.lit(0).alias("__c__")))
    return endpoints.groupBy("vid").agg(
        F.sum("__c__").cast("double").alias("out_degree")
    )


def _rank(
    edges: DataFrame,
    base_state: DataFrame,
    n: int,
    *,
    seeds: Sequence[int] | None,
    damping: float,
    tol: float | None,
    max_iter: int,
    broadcast_state: bool | None,
    num_partitions: int | None,
    job_id: str,
    init_scores: DataFrame | None,
    skew_salt: int = 1,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
) -> pregel.PregelResult:
    """The rank superstep on ``pregel.run_pregel``.

    ``edges`` is (src, dst) or, for weighted PageRank, (src, dst, frac):
    a vertex's message along an edge is ``score / out_degree``, times
    ``frac`` when the column is present. ``base_state`` is the persisted
    (vid, out_degree) frame of the ``n`` vertices; ``out_degree == 0``
    marks a dangling vertex, whose mass teleports. This function releases
    ``base_state`` and its own edge cache before returning.

    ``seeds=None`` teleports uniformly (init and unknown warm-start
    vertices at 1/n); a seed list teleports to the seeds only (init
    1/|S| on the seeds, unknown warm-start vertices at 0).
    """
    spark = edges.sparkSession
    if n == 0:
        base_state.unpersist()
        empty = T.StructType(
            [
                T.StructField("vid", edges.schema["src"].dataType),
                T.StructField("score", T.DoubleType()),
            ]
        )
        return pregel.PregelResult(
            state=spark.createDataFrame([], empty), iterations=0, converged=True
        )
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    if broadcast_state is None:
        broadcast_state = n <= pregel.BROADCAST_STATE_MAX_VERTICES

    if seeds is None:
        start = unknown = F.lit(1.0 / n)
    else:
        is_seed = F.col("vid").isin(list(seeds))
        start = F.when(is_seed, 1.0 / len(seeds)).otherwise(0.0)
        unknown = F.lit(0.0)

    def superstep(edges_df: DataFrame, state: DataFrame, i: int) -> DataFrame:
        # dangling mass rides the plan as a broadcast 1-row frame instead
        # of a per-superstep driver collect (r6): same aggregate, but the
        # scalar joins back in via a BroadcastNestedLoopJoin of one row,
        # so a superstep is ONE action (the localCheckpoint) — the
        # round-trip was a measured 0.14 s of the 0.43 s sf0.1 superstep.
        dangling = F.broadcast(
            state.where(F.col("out_degree") == 0.0).agg(
                F.coalesce(F.sum("score"), F.lit(0.0)).alias("_dangling")
            )
        )
        active = state.where(F.col("out_degree") > 0.0).select(
            "vid", (F.col("score") / F.col("out_degree")).alias("contrib")
        )
        if broadcast_state:
            active = F.broadcast(active)
        joined = edges_df.join(active, edges_df["src"] == active["vid"])
        if "frac" in edges_df.columns:
            joined = joined.select(
                "dst", (F.col("contrib") * F.col("frac")).alias("contrib")
            )
        else:
            joined = joined.select("dst", "contrib")
        if skew_salt > 1:
            sums = two_phase_agg(
                joined, "dst", {"msum": (F.sum, F.sum, "contrib")}, salt_buckets=skew_salt
            )
        else:
            sums = joined.groupBy("dst").agg(F.sum("contrib").alias("msum"))
        if seeds is None:
            teleport = (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.col("_dangling") / F.lit(float(n))
            )
        else:  # teleport and dangling mass both return to the seeds
            teleport = F.when(
                is_seed,
                (F.lit(1.0 - damping) + F.lit(damping) * F.col("_dangling"))
                / F.lit(float(len(seeds))),
            ).otherwise(0.0)
        newscore = (
            teleport + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
        ).alias("score")
        # state update: merge-join state (hash(vid, P)) with sums — in the
        # broadcast plan sums inherit the edge cache's hash(dst, P)
        # partitioning from the exchange-free aggregate, so this join
        # needs no exchange either; the merge hint stops AQE from
        # building another serial driver-side broadcast per superstep.
        return state.hint("merge").join(
            sums, state["vid"] == sums["dst"], "left"
        ).crossJoin(dangling).select("vid", newscore, "out_degree")

    def delta(old: DataFrame, new: DataFrame) -> float:
        return pregel.linf_delta(old, new, "vid", "score")

    # cache the E-row side partitioned for its hot path:
    #   broadcast plan  -> partition by dst: message agg needs no exchange
    #   exchange plan   -> partition by src: the state join reuses it
    part_key = "dst" if broadcast_state else "src"
    e = edges.repartition(num_partitions, part_key).persist()
    try:
        init = base_state.select("vid", start.alias("score"), "out_degree")
        if init_scores is not None:
            prior = init_scores.select("vid", F.col("score").alias("_prior"))
            seeded = base_state.join(prior, "vid", "left").select(
                "vid",
                F.coalesce("_prior", unknown).alias("score"),
                "out_degree",
            )
            total = seeded.agg(F.sum("score")).collect()[0][0]
            # an empty/zero prior keeps the cold init
            if total and total > 0:
                init = seeded.select(
                    "vid",
                    (F.col("score") / F.lit(float(total))).alias("score"),
                    "out_degree",
                )
        # pin hash(vid, P) so every superstep's state-update merge join is
        # co-partitioned with the hash(dst, P) message sums — no exchange
        init = init.repartition(num_partitions, "vid")
        res = pregel.run_pregel(
            e,
            init,
            superstep,
            delta if tol is not None else None,
            max_iter=max_iter,
            tol=tol if tol is not None else 0.0,
            checkpoint_dir=checkpoint_dir,
            job_id=job_id,
            checkpoint_every=checkpoint_every,
            resume=resume,
        )
    finally:
        # the returned state is localCheckpoint-materialized; internal
        # caches can go (long sessions run many algorithms back to back)
        base_state.unpersist()
        e.unpersist()
    res.state = res.state.select("vid", "score")
    return res
