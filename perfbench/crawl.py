"""``crawl`` workload: ``jobs.pipeline_job.run_pipeline`` over synthetic
pages (extract → normalize → host_graph → pagerank → dedup → resolve).

This is the write-heavy Python-UDF path. Its pregel layer runs in the
fixed-cost regime: a superstep over a 15k-edge graph is almost all
per-job latency, plus durable checkpoint writes every two supersteps.
The benchmark cannot set job groups inside ``run_pipeline``; it
attributes the event log's jobs to stages through the
``[finished_at - wall_s, finished_at]`` intervals in the manifest.

A client asks the link graph a few GQL questions (the out- and in-links
of a page) before and after each warm refresh, so the samples of this
workload's ``query_s_p50`` span the run; they are kept apart from the
pipeline's ``run_s``.
"""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

import numpy as np

N_PAGES = 500
PAGERANK_ITERS = 2
PAGERANK_TOL = 1e-6
QUERY_PAGES = 4

SIZES = {"pages": N_PAGES, "pagerank_iters": PAGERANK_ITERS, "query_pages": QUERY_PAGES}

QUERIES = {
    "out_links": "MATCH (a:V)-[e:E]->(b:V) WHERE a.url = $u RETURN b.url AS u",
    "in_links": "MATCH (a:V)-[e:E]->(b:V) WHERE b.url = $u RETURN a.url AS u",
}

# pipeline stage -> the linkgraph layer (module) that does its work
STAGE_LAYER = {
    "extract": "extract",
    "normalize": "normalize",
    "host_graph": "normalize",
    "pagerank": "algos.pagerank",
    "dedup": "pipeline.dedup",
    "resolve": "pipeline.dedup",
}


def generate(seed: int, out: Path):
    from linkgraph.datagen import write_pages_parquet

    plan = write_pages_parquet(str(out / "pages"), n=N_PAGES, seed=seed)
    return plan, {"edges": len(plan.edge_vids())}


def oracle(plan, seed: int) -> dict:
    """Expected outputs: the planned edge set, PageRank from
    ``tests/oracles.py`` and the answer to every query."""
    from tests.oracles import pagerank_oracle

    edges = plan.edge_urls()
    score, _ = pagerank_oracle(
        edges, {u for e in edges for u in e}, tol=PAGERANK_TOL, max_iter=PAGERANK_ITERS
    )

    def answer(cls: str, page: str) -> Counter:
        if cls == "out_links":
            return Counter((d,) for s, d in edges if s == page)
        return Counter((s,) for s, d in edges if d == page)

    # the hot page and seeded pages with out-links
    sources = sorted({s for s, _ in edges} - {plan.url(plan.hot)})
    rng = np.random.default_rng(seed)
    picked = rng.choice(len(sources), QUERY_PAGES - 1, replace=False)
    pages = [plan.url(plan.hot), *(sources[i] for i in picked)]
    queries = [(cls, page, answer(cls, page)) for page in pages for cls in QUERIES]
    return {"edges": edges, "pagerank": score, "hot": plan.url(plan.hot), "queries": queries}


def check(out: Path, manifest: dict, want: dict) -> str | None:
    """Compare the pipeline's parquet outputs with the oracle, read
    without Spark so the check adds no jobs to the event log."""
    import pyarrow.parquet as pq

    def read(name):
        return pq.read_table(str(out / name)).to_pandas()

    if manifest["completed"]["extract"]["rows"] != N_PAGES:
        return f"extracted {manifest['completed']['extract']['rows']} of {N_PAGES} pages"
    url = read("vertices").set_index("vid")["url"]
    e = read("edges")
    got = set(zip(url.loc[e.src].to_numpy(), url.loc[e.dst].to_numpy()))
    if got != want["edges"]:
        return f"edge set differs: {len(got ^ want['edges'])} edges in one side only"
    pr = read("pagerank")
    scores = dict(zip(url.loc[pr.vid].to_numpy(), pr.score.to_numpy()))
    if abs(sum(scores.values()) - 1.0) > 1e-9:
        return f"pagerank sums to {sum(scores.values())!r}"
    if max(scores, key=scores.get) != want["hot"]:
        return f"top vertex {max(scores, key=scores.get)} is not the planned hot page"
    ref = want["pagerank"]
    if scores.keys() != ref.keys():
        return "pagerank vertex set differs"
    a = np.array([scores[k] for k in ref])
    b = np.array(list(ref.values()))
    if not np.allclose(a, b, rtol=1e-9, atol=1e-12):
        return f"pagerank max abs error {np.abs(a - b).max():.3g}"
    return None


def run_pass(spark, pages: Path, out: Path, want: dict, rec, spans, helper) -> dict:
    """One pipeline run into a fresh ``out`` (a reused directory would
    silently skip committed stages)."""
    from jobs.pipeline_job import run_pipeline

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    n0 = len(spans.spans)
    res = rec.op(
        "run_pipeline",
        lambda: spans.run(
            "pipeline_job.run",
            lambda: run_pipeline(
                spark, str(pages), str(out),
                pagerank_iters=PAGERANK_ITERS, pagerank_tol=PAGERANK_TOL,
            ),
        ),
        lambda manifest: helper(check, out, manifest, want),
    )
    leaked = spark.sparkContext._jsc.getPersistentRDDs().size() - before
    ckpt = out / "_checkpoints" / "pipeline_pr"
    steps = sorted(ckpt.glob("superstep=*/metrics.json"), key=lambda p: int(p.parent.name.split("=")[1]))
    history = json.loads(steps[-1].read_text())["history"] if steps else []
    return {
        "wall_s": res.wall_s,
        "ok": res.ok,
        "stages": res.value["completed"] if res.value else {},
        "span": spans.spans[n0] if len(spans.spans) > n0 else None,
        "history": history,
        "leaked_rdds": leaked,
        "edges": len(want["edges"]),
    }


def ask_all(spark, rec, spans, out: Path, queries: list) -> list[dict]:
    """Ask ``queries`` of the link graph the pipeline wrote to ``out``."""
    from linkgraph.gql import PropertyGraph

    graph = PropertyGraph(
        {"V": spark.read.parquet(str(out / "vertices"))},
        {"E": spark.read.parquet(str(out / "edges"))},
    )
    return [ask(spark, rec, spans, graph, cls, page, expected) for cls, page, expected in queries]


def ask(spark, rec, spans, graph, cls: str, page: str, expected: Counter) -> dict:
    from perfbench.lookup import gql, request

    def check_rows(got) -> str | None:
        if Counter(map(tuple, got)) != expected:
            return f"{cls}({page}): {len(got)} rows, expected {sum(expected.values())}"
        return None

    return request(
        spark, rec, spans, cls, page,
        lambda: gql(spans, QUERIES[cls], graph, {"u": page}), check_rows,
    )


def stage_intervals(stages: dict) -> dict[str, list[tuple[float, float]]]:
    """Layer -> [start, end] of its stages; 2 ms slack for the rounding
    of the manifest's ``wall_s``."""
    iv: dict[str, list[tuple[float, float]]] = {}
    for name, m in stages.items():
        iv.setdefault(STAGE_LAYER[name], []).append(
            (m["finished_at"] - m["wall_s"] - 0.002, m["finished_at"])
        )
    return iv


def pregel_metrics(history: list[dict], edges: int) -> dict:
    from perfbench.harness import median

    walls = [h["wall_s"] for h in history]
    steady = median(walls[1:]) if len(walls) > 1 else 0.0
    return {
        "pregel.pagerank.first_superstep_s": walls[0] if walls else 0.0,
        "pregel.pagerank.superstep_s": steady,
        "pregel.pagerank.supersteps": len(walls),
        "pregel.pagerank.edges_per_s_iter": edges / steady if steady else 0.0,
    }


def layer_metrics(p: dict, counters: dict, cores: int) -> dict:
    """Per-layer numbers of one pipeline run. ``counters`` maps layer
    names (and ``pipeline_job`` for jobs between stages) to Counters;
    the queries after the run are reported on their own."""
    from perfbench.eventlog import Counters

    iv = stage_intervals(p["stages"])
    wall: dict[str, float] = {}
    for name, st in p["stages"].items():
        wall[STAGE_LAYER[name]] = wall.get(STAGE_LAYER[name], 0.0) + st["wall_s"]
    m = {}
    for layer, fields in (
        ("extract", ("wall_s", "jobs", "cpu_s", "shuffle_mb", "driver_s")),
        ("normalize", ("wall_s", "jobs", "cpu_s", "shuffle_mb", "driver_s")),
        ("pipeline.dedup", ("wall_s", "jobs", "cpu_s", "shuffle_mb")),
        ("algos.pagerank", ("wall_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb", "driver_s", "core_use")),
    ):
        c = counters.get(layer, Counters())
        busy = sum(c.busy_s(a, b) for a, b in iv.get(layer, ()))
        w = wall.get(layer, 0.0)
        vals = {
            "wall_s": w, "jobs": c.jobs, "tasks": c.tasks, "cpu_s": c.cpu_s,
            "shuffle_mb": c.shuffle_mb, "spill_mb": c.spill_mb, "driver_s": w - busy,
            "core_use": c.run_s / (w * cores) if w else 0.0,
        }
        m.update({f"{layer}.{f}": vals[f] for f in fields})
    m["pipeline_job.commit_s"] = p["wall_s"] - sum(wall.values())
    m["pipeline_job.jobs"] = counters.get("pipeline_job", Counters()).jobs
    m["pipeline_job.leaked_rdds"] = p["leaked_rdds"]
    m.update(pregel_metrics(p["history"], p["edges"]))
    return m


class Workload:
    """Adapter the runner drives: set up, oracle, passes, layers."""

    def __init__(self, spark, seed: int, work: Path, rec, spans, helper):
        self.spark, self.seed, self.work, self.rec, self.spans = spark, seed, work, rec, spans
        self.helper = helper
        self.intervals: dict[str, dict] = {}  # pipeline job group -> stage intervals
        self.current: Path | None = None  # the last output that passed its check

    def setup(self, d: Path) -> dict:
        self.pages = d / "pages"
        self.plan, extra = self.helper(generate, self.seed, d)
        return extra

    def prepare_oracle(self) -> None:
        self.want = self.helper(oracle, self.plan, self.seed)

    def run_pass(self, k: int) -> tuple[dict, list[float], float]:
        """Returns (record, query latencies, pipeline wall). A warm pass
        queries the current graph, refreshes it and queries the new one;
        the cold pass (``k == 0``) refreshes it and then asks one query
        per class to warm up, whose latency is not reported."""
        want = self.want["queries"]
        asked = []
        if k > 0 and self.current is not None:
            asked += ask_all(self.spark, self.rec, self.spans, self.current, want)
        out = self.work / f"out{k}"
        p = run_pass(self.spark, self.pages, out, self.want, self.rec, self.spans, self.helper)
        if p["span"] is not None:
            self.intervals[p["span"].group] = stage_intervals(p["stages"])
        if p["ok"]:
            self.current = out
            warm_up = [q for q in want if q[1] == want[0][1]]  # first page, every class
            asked += ask_all(self.spark, self.rec, self.spans, out, want if k > 0 else warm_up)
        p["queries"] = asked if k > 0 else []
        return p, [q["wall_s"] for q in p["queries"] if q["ok"]], p["wall_s"]

    def extra(self, cold: dict, warm: list[dict]) -> dict:
        """North-star superstep rate and stage walls for the report."""
        pr = pregel_metrics(warm[len(warm) // 2]["history"], warm[0]["edges"])
        return {
            "pagerank_edges_per_s_iter": pr["pregel.pagerank.edges_per_s_iter"],
            "stage_wall_s": {
                "cold": {k: v["wall_s"] for k, v in cold["stages"].items()},
                "warm": {k: v["wall_s"] for k, v in warm[0]["stages"].items()},
            },
        }

    def bucket(self, job, span) -> str:
        """A pipeline job goes to its stage's layer by interval, or to
        ``pipeline_job`` between stages; other jobs to their span."""
        from perfbench.eventlog import by_interval

        if span.group not in self.intervals:
            return span.group
        return span.group + "|" + (by_interval(self.intervals[span.group])(job) or "pipeline_job")

    def layers(self, warm: list[dict], counters: dict, cores: int) -> list[dict]:
        from perfbench import lookup

        by_group = {s.group: s for s in self.spans.spans}
        out = []
        for p in warm:
            prefix = p["span"].group + "|"
            mine = {k[len(prefix):]: c for k, c in counters.items() if k and k.startswith(prefix)}
            m = layer_metrics(p, mine, cores)
            q = lookup.layer_metrics(p["queries"], counters, by_group)
            m.update({k: v for k, v in q.items() if k.startswith("gql.")})
            out.append(m)
        return out
