"""HITS (hubs & authorities) as Pregel-style DataFrame supersteps.

Classic Kleinberg link analysis — the natural companion of PageRank on a
web link graph (the reference ships neither; both ride its iterative
expand/aggregate machinery, SURVEY.md key negative finding).

Semantics (frozen; the DuckDB oracle in __spark_entry__.py unrolls
exactly this):
  * init: hub = auth = 1.0 for every vertex
  * per iteration:
      auth'(v) = Σ_{u→v} hub(u)        then L2-normalize auths
      hub'(u)  = Σ_{u→v} auth'(v)      then L2-normalize hubs
  * fixed iterations (oracle form) or stop on L∞ delta <= tol

Physical shape mirrors pagerank's broadcast plan: edges cached once,
each half-step is a broadcast-probe of the V-row state into a
partial+final HashAggregate — no E-row exchange per iteration. The L2
norms are two scalar aggregates per iteration (the same driver-action
budget as pagerank's dangling-mass sum), each over an
already-checkpointed frame so nothing expensive executes twice.

Above ``BROADCAST_STATE_MAX_VERTICES`` (or with ``broadcast_state=
False``) the kernel switches to the exchange plan: because the two
half-steps join the E rows on DIFFERENT keys (src for the auth sums,
dst for the hub sums), the edge set is cached in BOTH orientations —
hash(src, P) and hash(dst, P) — so each half-step's state join is
co-partitioned and only the V-row state plus the partially-aggregated
sums ever shuffle. 2x edge cache is the price of never exchanging the
E rows inside the loop; at 10^12-doc scale that trade is strictly
right (E-row exchange per iteration dwarfs one extra cached copy that
can spill to disk).

The loop is hand-rolled rather than pregel.run_pregel because one HITS
superstep is TWO half-steps, each materialized before its norm
aggregate — run_pregel's own per-superstep localCheckpoint would be a
third materialization. Durable checkpoint/resume comes from reusing
pregel.CheckpointStore directly (commit-markered state + metrics rows,
final state always saved), with run_pregel's input-fingerprint check:
checkpoints written for a different edge set are cleared, not resumed.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel


def hits(
    edges: DataFrame,
    *,
    max_iter: int = 20,
    tol: float | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    job_id: str = "hits",
    checkpoint_every: int = 5,
    resume: bool = True,
    broadcast_state: bool | None = None,
    init_state: DataFrame | None = None,
) -> pregel.PregelResult:
    """Returns state (vid, hub, auth), L2-normalized per iteration.
    ``checkpoint_dir`` enables commit-markered durable checkpoints of
    the (vid, hub, auth) state with cross-run resume.

    ``init_state`` (vid, hub, auth) warm-starts the power iteration from
    a previous converged state (incremental-crawl path, as in
    pagerank.py); new vertices get the uniform 1.0/1.0 prior. Each
    iteration L2-normalizes, so no renormalization is needed and the
    dominant-eigenvector fixed point is unchanged. Ignored when a
    checkpoint resume for this job_id exists (resume wins — it is the
    same run continuing)."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    store = (
        pregel.CheckpointStore(checkpoint_dir, job_id) if checkpoint_dir else None
    )
    e0 = edges.select("src", "dst").distinct()
    # broadcast plan: one dst-partitioned cache serves both half-steps
    # (the state side is broadcast, the auth groupBy(dst) is exchange-
    # free). Exchange plan: one cache per join orientation so neither
    # half-step ever exchanges E rows (see module docstring).
    e_dst = e0.repartition(num_partitions, "dst").persist()
    metrics: list[dict] = []
    it = 0
    state = None
    if store is not None:
        store.check_input(e_dst, resume=resume)
    if store is not None and resume:
        last = store.latest()
        if last is not None:
            loaded, metrics = store.load(spark, last)
            state = loaded.repartition(num_partitions, "vid").localCheckpoint(
                eager=True
            )
            it = last
    if state is None:
        verts = (
            e0.select(F.col("src").alias("vid"))
            .unionAll(e0.select("dst"))
            .distinct()
            .repartition(num_partitions, "vid")
        )
        if init_state is not None:
            prior = init_state.select(
                "vid", F.col("hub").alias("_h"), F.col("auth").alias("_a")
            )
            state = verts.join(prior, "vid", "left").select(
                "vid",
                F.coalesce("_h", F.lit(1.0)).alias("hub"),
                F.coalesce("_a", F.lit(1.0)).alias("auth"),
            ).localCheckpoint(eager=True)
        else:
            state = verts.select(
                "vid", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
            ).localCheckpoint(eager=True)
    if broadcast_state is None:
        # state is localCheckpoint-materialized: this count is a cheap scan
        broadcast_state = state.count() <= pregel.BROADCAST_STATE_MAX_VERTICES
    e_src = e_dst if broadcast_state else e0.repartition(
        num_partitions, "src"
    ).persist()

    converged = False
    saved = False  # final-state durability check after the loop
    while it < max_iter:
        t0 = time.monotonic()
        hubs = state.select("vid", "hub")
        if broadcast_state:
            hubs = F.broadcast(hubs)
        asum = (
            e_src.join(hubs, e_src["src"] == hubs["vid"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("araw"))
        )
        # checkpoint the raw sums BEFORE the norm aggregate: otherwise
        # the norm aggregate and the downstream plan would each execute
        # the expensive join+aggregate once (2x per half-step). The norm
        # itself rides the next half-step's plan as a broadcast 1-row
        # frame over the checkpointed sums (r6) — no driver collect per
        # half-step; `sqrt(sum x²) or 1.0` becomes
        # coalesce(nullif(sqrt(...), 0.0), 1.0), bit-identical (IEEE
        # sqrt is correctly rounded in both engines).
        a_unnorm = (
            state.hint("merge")
            .join(asum, state["vid"] == asum["dst"], "left")
            .select("vid", "hub", F.coalesce("araw", F.lit(0.0)).alias("araw"))
            .localCheckpoint(eager=True)
        )
        a_norm = F.broadcast(
            a_unnorm.agg(
                F.coalesce(
                    F.nullif(
                        F.sqrt(F.sum(F.col("araw") * F.col("araw"))), F.lit(0.0)
                    ),
                    F.lit(1.0),
                ).alias("_anorm")
            )
        )
        mid = a_unnorm.crossJoin(a_norm).select(
            "vid", "hub", (F.col("araw") / F.col("_anorm")).alias("auth")
        )

        auths = mid.select("vid", "auth")
        if broadcast_state:
            auths = F.broadcast(auths)
        hsum = (
            e_dst.join(auths, e_dst["dst"] == auths["vid"])
            .groupBy("src")
            .agg(F.sum("auth").alias("hraw"))
        )
        h_unnorm = (
            mid.hint("merge")
            .join(hsum, mid["vid"] == hsum["src"], "left")
            .select("vid", F.coalesce("hraw", F.lit(0.0)).alias("hraw"), "auth")
            .localCheckpoint(eager=True)
        )
        h_norm = F.broadcast(
            h_unnorm.agg(
                F.coalesce(
                    F.nullif(
                        F.sqrt(F.sum(F.col("hraw") * F.col("hraw"))), F.lit(0.0)
                    ),
                    F.lit(1.0),
                ).alias("_hnorm")
            )
        )
        new_state = h_unnorm.crossJoin(h_norm).select(
            "vid", (F.col("hraw") / F.col("_hnorm")).alias("hub"), "auth"
        )

        it += 1
        delta = None
        if tol is not None:
            delta = max(
                pregel.linf_delta(state, new_state, "vid", "hub"),
                pregel.linf_delta(state, new_state, "vid", "auth"),
            )
        metrics.append(
            {
                "job_id": job_id,
                "superstep": it,
                "wall_s": round(time.monotonic() - t0, 4),
                "delta": delta,
            }
        )
        state = new_state
        saved = False
        if store is not None and it % checkpoint_every == 0:
            store.save(it, state, metrics)
            saved = True
        if tol is not None and delta is not None and delta <= tol:
            converged = True
            break
    if store is not None and it > 0 and not saved:
        store.save(it, state, metrics)  # final state always durable
    e_dst.unpersist()
    if e_src is not e_dst:
        e_src.unpersist()
    # fixed-iteration mode reports converged=False (run_pregel semantics)
    return pregel.PregelResult(
        state=state, iterations=it, converged=converged, metrics=metrics
    )
