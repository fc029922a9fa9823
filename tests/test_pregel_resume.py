"""Checkpoint/resume: kill after superstep k, resume from the committed
checkpoint, converge to the identical result (FIXTURES.md §4)."""

import math
import os

from linkgraph.algos import pagerank
from linkgraph.pregel import CheckpointStore


def test_pagerank_resume_identical(tiny_edges, tmp_path):
    ckpt = str(tmp_path / "checkpoints")

    full = pagerank(tiny_edges, tol=1e-6, max_iter=100)
    expected = {r["vid"]: r["score"] for r in full.state.collect()}

    # "killed" run: stop after 3 supersteps, checkpoint every 1
    partial = pagerank(
        tiny_edges, tol=1e-6, max_iter=3, checkpoint_dir=ckpt,
        job_id="pr", checkpoint_every=1,
    )
    assert not partial.converged
    store = CheckpointStore(ckpt, "pr")
    assert store.latest() == 3
    step_dir = os.path.join(ckpt, "pr", "superstep=3")
    assert os.path.exists(os.path.join(step_dir, "_COMMITTED"))
    assert os.path.exists(os.path.join(step_dir, "metrics.json"))

    # fresh invocation resumes from superstep 3 and converges
    resumed = pagerank(
        tiny_edges, tol=1e-6, max_iter=100, checkpoint_dir=ckpt,
        job_id="pr", checkpoint_every=1,
    )
    assert resumed.converged
    assert resumed.iterations == full.iterations
    # resumed metrics history covers supersteps 1..n continuously
    steps = [m["superstep"] for m in resumed.metrics]
    assert steps == list(range(1, resumed.iterations + 1))
    got = {r["vid"]: r["score"] for r in resumed.state.collect()}
    for v in expected:
        assert math.isclose(got[v], expected[v], rel_tol=0, abs_tol=1e-12)


def test_checkpoint_metrics_have_partition_rows(tiny_edges, tmp_path):
    import json

    ckpt = str(tmp_path / "ck2")
    pagerank(
        tiny_edges, tol=0.0, max_iter=2, checkpoint_dir=ckpt,
        job_id="m", checkpoint_every=2,
    )
    with open(os.path.join(ckpt, "m", "superstep=2", "metrics.json")) as f:
        meta = json.load(f)
    assert meta["superstep"] == 2
    assert len(meta["history"]) == 2
    assert all({"wall_s", "delta", "superstep"} <= set(m) for m in meta["history"])
    assert sum(p["rows"] for p in meta["partitions"]) > 0
    # queryable metrics/lineage parquet rows exist alongside the state
    spark = tiny_edges.sparkSession
    mrows = spark.read.parquet(os.path.join(ckpt, "m", "superstep=2", "metrics_rows"))
    assert [r["superstep"] for r in mrows.orderBy("superstep").collect()] == [1, 2]
    prows = spark.read.parquet(os.path.join(ckpt, "m", "superstep=2", "partition_rows"))
    assert sum(r["rows"] for r in prows.collect()) > 0


def test_resume_rejects_checkpoints_from_different_input(spark, tiny_edges, tmp_path):
    """A checkpoint under a job_id is only resumable for the SAME edge
    set (order-insensitive input fingerprint): re-running with different
    edges warns, clears the stale checkpoints, and produces the same
    result as a fresh run — never a silent resume of another graph's
    state (which could even out-step and shadow the new run)."""
    import warnings

    from pyspark.sql import functions as F

    from linkgraph.algos import connected_components

    ckpt = str(tmp_path / "ck")
    a = connected_components(tiny_edges, max_iter=50, checkpoint_dir=ckpt,
                             job_id="cc", checkpoint_every=1)
    assert CheckpointStore(ckpt, "cc").latest() is not None

    other = tiny_edges.select(
        (F.col("src") + 100).alias("src"), (F.col("dst") + 100).alias("dst")
    )
    fresh = connected_components(other, max_iter=50)
    expected = {r["vid"]: r["component"] for r in fresh.state.collect()}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        b = connected_components(other, max_iter=50, checkpoint_dir=ckpt,
                                 job_id="cc", checkpoint_every=1)
    assert any("different edge set" in str(x.message) for x in w)
    assert {r["vid"]: r["component"] for r in b.state.collect()} == expected
    # same-input resume still works (fingerprint matches, no warning)
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        c = connected_components(other, max_iter=50, checkpoint_dir=ckpt,
                                 job_id="cc", checkpoint_every=1)
    assert not any("different edge set" in str(x.message) for x in w2)
    assert {r["vid"]: r["component"] for r in c.state.collect()} == expected


def test_hits_resume_rejects_checkpoints_from_different_input(spark, tmp_path):
    """hits resumes through CheckpointStore directly, so it needs the same
    input-fingerprint check as run_pregel: a checkpoint of graph a must
    not be resumed as the result for a disjoint graph b."""
    import warnings

    from linkgraph.algos.hits import hits

    a = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src bigint, dst bigint")
    b = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 10), (10, 12)], "src bigint, dst bigint"
    )
    ckpt = str(tmp_path / "ck")
    hits(a, max_iter=3, checkpoint_dir=ckpt, job_id="h")
    assert CheckpointStore(ckpt, "h").latest() == 3

    expected = {
        r["vid"]: (r["hub"], r["auth"]) for r in hits(b, max_iter=3).state.collect()
    }
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = hits(b, max_iter=3, checkpoint_dir=ckpt, job_id="h")
    assert any("different edge set" in str(x.message) for x in w)
    assert {r["vid"]: (r["hub"], r["auth"]) for r in got.state.collect()} == expected
    # same-input resume still works (fingerprint matches, no warning)
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        again = hits(b, max_iter=3, checkpoint_dir=ckpt, job_id="h")
    assert not any("different edge set" in str(x.message) for x in w2)
    assert {r["vid"]: (r["hub"], r["auth"]) for r in again.state.collect()} == expected


def test_kcore_resume_rejects_checkpoints_from_different_input(spark, tmp_path):
    """k_core resumes its shrinking edge set through CheckpointStore
    directly; a checkpoint of graph a must not be resumed for graph b."""
    import warnings

    from linkgraph.algos.kcore import k_core

    a = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src bigint, dst bigint")
    b = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 10), (10, 12)], "src bigint, dst bigint"
    )
    ckpt = str(tmp_path / "ck")
    k_core(a, k=2, checkpoint_dir=ckpt, job_id="k")
    assert CheckpointStore(ckpt, "k").latest() is not None

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = k_core(b, k=2, checkpoint_dir=ckpt, job_id="k")
    assert any("different edge set" in str(x.message) for x in w)
    assert {r["vid"] for r in got.state.collect()} == {10, 11, 12, 13}
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        again = k_core(b, k=2, checkpoint_dir=ckpt, job_id="k")
    assert not any("different edge set" in str(x.message) for x in w2)
    assert {r["vid"] for r in again.state.collect()} == {10, 11, 12, 13}


def test_resume_rejects_unfingerprinted_checkpoints(spark, tiny_edges, tmp_path):
    """Checkpoints with NO stored fingerprint (written before
    fingerprinting existed, or left by a crash between clear() and
    write_fingerprint) cannot be validated after the fact — they must be
    cleared and the run must start cold, not silently adopted and
    stamped with the new edge set's fingerprint."""
    import warnings

    from pyspark.sql import functions as F

    from linkgraph.algos import connected_components

    ckpt = str(tmp_path / "ck")
    connected_components(tiny_edges, max_iter=50, checkpoint_dir=ckpt,
                         job_id="cc", checkpoint_every=1)
    store = CheckpointStore(ckpt, "cc")
    assert store.latest() is not None
    # simulate the pre-fingerprint / crashed state: checkpoints exist,
    # fingerprint file does not
    os.remove(os.path.join(ckpt, "cc", CheckpointStore._FP_FILE))
    other = tiny_edges.select(
        (F.col("src") + 100).alias("src"), (F.col("dst") + 100).alias("dst")
    )
    expected = {
        r["vid"]: r["component"]
        for r in connected_components(other, max_iter=50).state.collect()
    }
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        b = connected_components(other, max_iter=50, checkpoint_dir=ckpt,
                                 job_id="cc", checkpoint_every=1)
    assert any("different edge set" in str(x.message) for x in w)
    assert {r["vid"]: r["component"] for r in b.state.collect()} == expected


def test_fingerprint_is_multiplicity_aware(spark):
    """bit_xor alone cancels duplicated rows (multisets {a,a,b} and
    {c,c,b} share count and xor); the decimal row-hash SUM in the
    fingerprint must split such collisions."""
    from pyspark.sql import functions as F

    def fp(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*df.columns)).alias("x"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return f"{row['n']}:{row['x']}:{row['s']}"

    a = spark.createDataFrame([(1, 2), (1, 2), (3, 4)], "src long, dst long")
    b = spark.createDataFrame([(5, 6), (5, 6), (3, 4)], "src long, dst long")
    # same count; xor of the duplicated pair cancels in both
    assert fp(a) != fp(b)
    # order-insensitive: a permutation fingerprints identically
    a_perm = spark.createDataFrame([(3, 4), (1, 2), (1, 2)], "src long, dst long")
    assert fp(a) == fp(a_perm)
