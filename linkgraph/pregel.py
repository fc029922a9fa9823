"""The Pregel-as-DataFrame superstep kernel every iterative algorithm shares.

One superstep =
    messages = f(edges ⋈ state)  →  groupBy(dst).agg(merge)  →  state'
expressed purely as DataFrame joins/aggregations (SURVEY.md §7.4). This is
the Spark-first re-expression of the reference's iterative machinery:
  * frontier re-keying / same-root batching  → the shuffle of the
    message aggregation (LocalRDG.shuffleAndGroup,
    /root/reference/reasoner/runner/local-runner/.../rdg/LocalRDG.java:900-921)
  * expand-and-join supersteps → the edges⋈state join
    (LocalRDG.expandInto, LocalRDG.java:499-610)
  * checkpointable graph state → CheckpointStore
    (GraphState.checkPoint, /root/reference/reasoner/runner/runner-common/.../graphstate/GraphState.java:213)
  * per-stage metrics → SuperstepMetrics rows
    (IExecutionRecorder.stageResult, .../recorder/IExecutionRecorder.java:22-53)

Scale design:
  * ``localCheckpoint(eager=True)`` per superstep truncates lineage —
    without it the plan grows linearly with iterations and the driver
    OOMs long before 100 TB.
  * durable checkpoints (parquet delta frames + metrics rows + a COMMIT
    marker) every ``checkpoint_every`` supersteps make a killed job
    resumable mid-iteration; the store is an interface so an Iceberg
    snapshot-append backend can be dropped in when the runtime jars are
    on the classpath.
  * the edge table is partitioned by the join key once (normalize.py);
    only messages shuffle each superstep.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SuperstepFn = Callable[[DataFrame, DataFrame, int], DataFrame]
DeltaFn = Callable[[DataFrame, DataFrame], float]

# Above this vertex count a kernel's state is no longer broadcast
# (driver/executor memory bound) and the kernel uses the exchange plan.
BROADCAST_STATE_MAX_VERTICES = 20_000_000


@dataclass
class PregelResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


class CheckpointStore:
    """Parquet-directory checkpoint store with commit markers.

    Layout: ``<root>/<job_id>/superstep=<k>/{state/, metrics.json, _COMMITTED}``.
    A checkpoint is visible only once ``_COMMITTED`` exists, so a job
    killed mid-write never poisons resume. Metrics include per-partition
    row counts (the lineage/metrics rows the north rule requires).
    """

    def __init__(self, root: str, job_id: str):
        self.job_id = job_id
        self.dir = os.path.join(root, job_id)
        os.makedirs(self.dir, exist_ok=True)

    def _step_dir(self, superstep: int) -> str:
        return os.path.join(self.dir, f"superstep={superstep}")

    _FP_FILE = "input_fingerprint.json"

    def read_fingerprint(self) -> str | None:
        try:
            with open(os.path.join(self.dir, self._FP_FILE)) as f:
                return json.load(f)["fingerprint"]
        except (OSError, ValueError, KeyError):
            return None

    def write_fingerprint(self, fp: str) -> None:
        with open(os.path.join(self.dir, self._FP_FILE), "w") as f:
            json.dump({"fingerprint": fp}, f)

    def check_input(self, edges: DataFrame, *, resume: bool) -> None:
        """Bind this job_id to the input ``edges``; clear checkpoints made
        from any other input (warning if a resume would have used them).

        Input fingerprint: order-insensitive (count, bit_xor of row
        hashes, sum of row hashes) over the edge frame — one cheap
        columnar agg per RUN (callers pass a cached frame where they have
        one). A checkpoint under this job_id that was produced from a
        DIFFERENT edge set must not be resumed: its state is for another
        graph, and `latest()` could even out-step the fresh run and
        shadow it on a later resume — so a mismatch clears the stale
        checkpoints before starting. The decimal SUM keeps the
        fingerprint multiplicity-aware (bit_xor alone cancels duplicated
        rows: multisets {a,a,b} and {c,c,b} share count and xor), and a
        checkpoint directory with NO stored fingerprint but existing
        checkpoints (written pre-fingerprinting, or a crash between
        clear() and write_fingerprint) is treated as a mismatch too — it
        cannot be validated after the fact. A format upgrade (e.g. the r6
        two-field -> three-field change) also mismatches and clears:
        deliberately safe-by-default — old checkpoints would only be
        resumable under the weaker validation the upgrade exists to
        replace.
        """
        fp_row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*edges.columns)).alias("x"),
            F.sum(F.xxhash64(*edges.columns).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        fingerprint = f"{fp_row['n']}:{fp_row['x']}:{fp_row['s']}"
        stored = self.read_fingerprint()
        if stored != fingerprint and (
            stored is not None or self.latest() is not None
        ):
            if resume and self.latest() is not None:
                warnings.warn(
                    f"checkpoints under job_id={self.job_id!r} were produced "
                    "from a different edge set (or one whose fingerprint "
                    "is missing); ignoring and clearing them"
                )
            self.clear()
        self.write_fingerprint(fingerprint)

    def clear(self) -> None:
        """Drop every checkpoint under this job_id (stale-input reset)."""
        for name in os.listdir(self.dir):
            p = os.path.join(self.dir, name)
            if name.startswith("superstep=") and os.path.isdir(p):
                shutil.rmtree(p)
            elif name == self._FP_FILE:
                os.remove(p)

    def save(self, superstep: int, state: DataFrame, metrics: list[dict]) -> None:
        d = self._step_dir(superstep)
        if os.path.exists(d):
            shutil.rmtree(d)
        state.write.mode("overwrite").parquet(os.path.join(d, "state"))
        per_part = [
            {"partition": r["pid"], "rows": r["count"]}
            for r in state.select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
            .collect()
        ]
        with open(os.path.join(d, "metrics.json"), "w") as f:
            json.dump(
                {"superstep": superstep, "history": metrics, "partitions": per_part},
                f,
            )
        # queryable metrics/lineage rows (IExecutionRecorder analog):
        # one row per completed superstep + one per state partition
        spark = state.sparkSession
        if metrics:
            spark.createDataFrame(
                [
                    (
                        m.get("job_id", ""),
                        int(m["superstep"]),
                        int(m.get("parent_superstep", m["superstep"] - 1)),
                        float(m["wall_s"]),
                        float(m["delta"]) if m.get("delta") is not None else None,
                    )
                    for m in metrics
                ],
                "job_id string, superstep int, parent_superstep int, "
                "wall_s double, delta double",
            ).write.mode("overwrite").parquet(os.path.join(d, "metrics_rows"))
        spark.createDataFrame(
            [(superstep, p["partition"], p["rows"]) for p in per_part],
            "superstep int, partition int, rows long",
        ).write.mode("overwrite").parquet(os.path.join(d, "partition_rows"))
        with open(os.path.join(d, "_COMMITTED"), "w") as f:
            f.write("ok")

    def latest(self) -> int | None:
        best = None
        if not os.path.isdir(self.dir):
            return None
        for name in os.listdir(self.dir):
            if not name.startswith("superstep="):
                continue
            k = int(name.split("=", 1)[1])
            if os.path.exists(os.path.join(self._step_dir(k), "_COMMITTED")):
                best = k if best is None else max(best, k)
        return best

    def load(self, spark: SparkSession, superstep: int) -> tuple[DataFrame, list[dict]]:
        d = self._step_dir(superstep)
        state = spark.read.parquet(os.path.join(d, "state"))
        with open(os.path.join(d, "metrics.json")) as f:
            meta = json.load(f)
        return state, meta.get("history", [])


def linf_delta(old: DataFrame, new: DataFrame, key: str, value: str) -> float:
    """max |new.value - old.value| over the key join — PageRank convergence."""
    j = new.alias("n").join(old.alias("o"), key)
    row = j.select(
        F.max(F.abs(F.col(f"n.{value}") - F.col(f"o.{value}"))).alias("d")
    ).collect()[0]
    return float(row["d"]) if row["d"] is not None else 0.0


def run_pregel(
    edges: DataFrame,
    init_state: DataFrame,
    superstep_fn: SuperstepFn,
    delta_fn: DeltaFn | None,
    *,
    max_iter: int = 100,
    tol: float = 0.0,
    checkpoint_dir: str | None = None,
    job_id: str = "pregel",
    checkpoint_every: int = 5,
    resume: bool = True,
) -> PregelResult:
    """Run supersteps until ``delta <= tol`` or ``max_iter``.

    ``superstep_fn(edges, state, i) -> new_state`` must be a pure
    DataFrame transform (join + agg + update). ``delta_fn(old, new)``
    decides convergence; pass ``None`` for fixed-iteration runs to skip
    it entirely (the benchmark mode).

    CALL PROTOCOL (load-bearing for observed-metric deltas — cc.py and
    lpa.py attach a pyspark ``Observation`` to each superstep's frame
    and pop it in their delta_fn): per iteration this loop calls
    ``superstep_fn`` exactly once, eagerly materializes its result via
    ``localCheckpoint(eager=True)`` (which fires CollectMetrics), and
    THEN calls ``delta_fn`` exactly once. Superstep results are never
    discarded, retried, or evaluated lazily; any change to that
    one-superstep/one-materialization/one-delta alternation must audit
    the Observation-based delta implementations.
    """
    spark = edges.sparkSession
    store = CheckpointStore(checkpoint_dir, job_id) if checkpoint_dir else None
    metrics: list[dict] = []
    start_step = 0

    state = init_state
    if store:
        store.check_input(edges, resume=resume)
    if store and resume:
        last = store.latest()
        if last is not None:
            state, metrics = store.load(spark, last)
            start_step = last

    state = state.localCheckpoint(eager=True)
    converged = False
    i = start_step
    while i < max_iter:
        t0 = time.monotonic()
        new_state = superstep_fn(edges, state, i)
        new_state = new_state.localCheckpoint(eager=True)
        delta = delta_fn(state, new_state) if delta_fn is not None else None
        wall = time.monotonic() - t0
        i += 1
        metrics.append(
            {
                "job_id": job_id,
                "superstep": i,
                "wall_s": round(wall, 4),
                "delta": delta,
                "parent_superstep": i - 1,
            }
        )
        state = new_state
        if store and (i % checkpoint_every == 0):
            store.save(i, state, metrics)
        if delta is not None and delta <= tol:
            converged = True
            break

    if store and metrics and (i % checkpoint_every != 0 or not os.path.isdir(store._step_dir(i))):
        store.save(i, state, metrics)
    return PregelResult(state=state, iterations=i, converged=converged, metrics=metrics)
