"""k-core decomposition by iterative peeling.

The k-core is the maximal subgraph where every vertex has (undirected)
degree >= k — the standard web-graph densification/filtering primitive.
Each round drops vertices below k and the edges touching them; rounds
are idempotent once stable, so a FIXED round count is exact whenever it
exceeds the peel depth (the same determinism trick the CC oracle uses).

Each round = one degree aggregation + two semi-joins, all on (src, dst)
pairs; nothing wider ever shuffles, and the edge set only shrinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel


def k_core(
    edges: DataFrame,
    k: int,
    *,
    max_iter: int = 30,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    job_id: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
) -> pregel.PregelResult:
    """Returns state = (vid) rows of the k-core's surviving vertices.

    A peel round is one ``pregel.run_pregel`` superstep whose state is
    the shrinking undirected edge set; its delta is the number of edges
    the round removed, so the run converges on the first round that
    removes none. ``checkpoint_dir`` enables run_pregel's durable
    checkpoints of that edge set (commit-markered, input-fingerprint
    checked); a killed run resumes from the last committed round —
    peeling is idempotent, so a resumed run is bit-identical to an
    uninterrupted one."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst")
    und = (
        e.where(F.col("src") != F.col("dst"))
        .unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(num_partitions, "src")
    )

    def peel(_edges: DataFrame, und: DataFrame, i: int) -> DataFrame:
        alive = (
            und.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("vid"))
        )
        return und.join(alive, und["src"] == alive["vid"], "left_semi").join(
            alive.select(F.col("vid").alias("__d__")),
            und["dst"] == F.col("__d__"),
            "left_semi",
        )

    sizes: list[int] = []  # edge count after each round, carried forward

    def removed(old: DataFrame, new: DataFrame) -> float:
        if not sizes:
            sizes.append(old.count())
        sizes.append(new.count())
        return float(sizes[-2] - sizes[-1])

    res = pregel.run_pregel(
        e,
        und,
        peel,
        removed,
        max_iter=max_iter,
        tol=0.0,
        checkpoint_dir=checkpoint_dir,
        job_id=job_id or f"kcore{k}",
        checkpoint_every=checkpoint_every,
        resume=resume,
    )
    core = res.state.select(F.col("src").alias("vid")).distinct()
    res.state = core.localCheckpoint(eager=True)
    return res
