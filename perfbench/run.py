"""linkgraph benchmark: one workload per process, seeded, outputs checked.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 16 --trace 0

Each run starts its own local Spark session on all but one core of the host,
generates its inputs from ``--seed`` (set-up, timed), computes the
oracles (untimed), runs one cold pass, then starts warm passes until
``--seconds`` have passed (at least one). Input generation, oracles
and reading outputs back run in a helper process, outside the sampled
memory. It prints a readable report and, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the run also writes Spark's event log, samples the memory
of the process tree, attributes every job to the call that started it
and reports the per-layer metrics instead. Scratch files live under
``.perfbench/`` at the repository root and are removed at exit, except
one small result file per workload, seed and trace mode.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
REQUIRED = ("BENCHMARK.json", "linkgraph/__init__.py", "jobs/pipeline_job.py", "tests/oracles.py")
# set-up is repeated and its median reported: one JVM start, several
# input generations, loads and caches
SETUP_REPEATS = 3


def _workload_module(name: str):
    from perfbench import crawl, lookup

    return {"crawl": crawl, "lookup": lookup}[name]


def run(name: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    from perfbench import eventlog, harness

    mod = _workload_module(name)
    cores = harness.spark_cores()
    # the sampler reads /proc several times a second, so only traced
    # runs, which report per-layer metrics, pay for it
    sampler = harness.RssSampler() if trace else contextlib.nullcontext()
    with harness.Helper() as helper, sampler:
        t0 = time.perf_counter()
        spark = harness.start_spark(work, work / "eventlog" if trace else None)
        session_s = time.perf_counter() - t0
        try:
            spans = harness.Spans(spark.sparkContext)
            rec = harness.Recorder()
            wl = mod.Workload(spark, seed, work, rec, spans, helper)
            loads, sizes = [], {}
            for i in range(SETUP_REPEATS):
                t = time.perf_counter()
                sizes = spans.run("bench.setup", lambda i=i: wl.setup(work / f"input{i}"))
                loads.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.prepare_oracle()
            oracle_s = time.perf_counter() - t
            cold, cold_lat, cold_s = wl.run_pass(0)
            warm, lat, walls = [], [], []
            t_measure = time.perf_counter()
            # a new pass starts while time is left, so a short pass gets
            # several samples and the slower first warm pass is not the
            # whole median
            while not warm or time.perf_counter() - t_measure < seconds:
                p, l, w = wl.run_pass(len(warm) + 1)
                warm.append(p)
                lat += l
                walls.append(w)
            prov = harness.provenance(seed, name, spark.version)
        finally:
            harness.stop_spark(spark)

    tail, tail_pct, n = harness.tail(lat) if lat else (0.0, 0.0, 0)
    result = {
        "provenance": prov,
        "sizes": {**mod.SIZES, **sizes},
        "attempted": rec.attempted,
        "failed": rec.failed,
        "errors": rec.errors[:20],
        "e2e": {
            "setup_s": session_s + harness.median(loads),
            "cold_run_s": cold_s,
            "run_s": harness.median(walls),
            "query_s_p50": harness.median(lat),
        },
        "extra": {
            "query_s_tail": tail,
            "failed_frac": rec.failed / rec.attempted,
            "query_tail_percentile": tail_pct,
            "query_samples": n,
            "warm_pass_s": walls,
            "oracle_s": oracle_s,
            "inputs_load_s": loads,
            "cold_queries_ok": len(cold_lat),
        },
        "layers": {
            "session.start_s": session_s,
            "inputs.load_s": harness.median(loads),
        },
    }
    result["extra"].update(wl.extra(cold, warm))
    if trace:
        result["layers"]["peak_rss_mb"] = sampler.peak_mb
        jobs, tasks = eventlog.parse(eventlog.read_events(eventlog.event_files(work / "eventlog")))
        by_group = {s.group: s for s in spans.spans}

        def assign(job):
            span = by_group.get(job.group)
            return None if span is None else wl.bucket(job, span)

        counters = eventlog.attribute(jobs, tasks, assign)
        per_pass = wl.layers(warm, counters, cores)
        for key in per_pass[0]:
            result["layers"][key] = harness.median([d[key] for d in per_pass])
        result["layers"].update(
            {
                "trace.run_s": result["e2e"]["run_s"],
                "trace.jobs": len(jobs),
                "trace.unattributed_jobs": counters[None].jobs if None in counters else 0,
                "trace.failed_tasks": sum(c.failed_tasks for c in counters.values()),
            }
        )
    return result


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def report(name: str, result: dict, spec: dict, trace: bool, results_dir: Path) -> dict:
    """Print the readable report; return the metrics for the JSON line."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    prov = result["provenance"]
    print(f"# perfbench {name} " + " ".join(f"{k}={v}" for k, v in prov.items()))
    print(f"# sizes {json.dumps(result['sizes'])}")
    for err in result["errors"]:
        print(f"# FAILED {err.strip().splitlines()[-1]}")
    print("## end-to-end" + (" (traced run: not the reported numbers)" if trace else ""))
    for k, v in result["e2e"].items():
        print(f"{k:28s} {_fmt(v):>14s} {units[k]}")
    x = result["extra"]
    print(f"{'failed_frac':28s} {_fmt(x['failed_frac']):>14s} ratio "
          f"({result['failed']}/{result['attempted']})")
    print(f"{'query_s_tail':28s} {_fmt(x['query_s_tail']):>14s} s "
          f"(p{_fmt(x['query_tail_percentile'])} of {x['query_samples']} samples)")
    if "pagerank_edges_per_s_iter" in x:
        print(f"{'pagerank_edges_per_s_iter':28s} {_fmt(x['pagerank_edges_per_s_iter']):>14s} 1/s")
    if not trace:
        return {k: {"value": v, "unit": units[k]} for k, v in result["e2e"].items()}

    moves = json.loads((ROOT / "perfbench" / "layer_map.json").read_text())
    moved_by = {m: row["moves"] for row in moves for m in row["metrics"]}
    print("## per-layer (median per call over warm passes)")
    layers = {m["name"]: result["layers"].get(m["name"], 0) for m in spec["per_layer"]}
    for k, v in layers.items():
        print(f"{k:34s} {_fmt(v):>14s} {units[k]:6s} -> {', '.join(moved_by.get(k, []))}")
    print(f"unattributed jobs: {layers['trace.unattributed_jobs']} of {layers['trace.jobs']}")
    # prefer the untraced run of the same seed, else the latest one
    same = results_dir / f"{name}-seed{result['provenance']['seed']}-trace0.json"
    untraced = [same] if same.exists() else sorted(
        results_dir.glob(f"{name}-seed*-trace0.json"), key=lambda p: p.stat().st_mtime
    )
    if untraced:
        base = json.loads(untraced[-1].read_text())["e2e"]["run_s"]
        print(f"tracing overhead: {_fmt(layers['trace.run_s'] - base)} s "
              f"(traced run_s {_fmt(layers['trace.run_s'])} - untraced run_s {_fmt(base)} "
              f"from {untraced[-1].name})")
    else:
        print("tracing overhead: no untraced run of this workload recorded yet")
    return {k: {"value": v, "unit": units[k]} for k, v in layers.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and the helper (the cleanup is
    # in finally blocks, which SIGTERM would otherwise skip)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program files missing: {', '.join(missing)}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    base = ROOT / ".perfbench"
    work = base / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results_dir = base / "results"
    metrics = report(args.workload, result, spec, bool(args.trace), results_dir)
    results_dir.mkdir(parents=True, exist_ok=True)
    out = results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(result, indent=1, default=str))
    sys.stdout.flush()
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
