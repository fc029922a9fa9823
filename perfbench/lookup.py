"""``lookup`` workload: a closed loop with one client sending a fixed,
seeded request sequence to a parquet-backed property graph.

Every request is a few small Spark jobs, so driver-side planning and
per-job latency dominate. The workload never reaches the pregel layer:
a superstep change must leave it unchanged.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

N_VERTICES = 50_000
MIN_OUT_DEGREE = 5
MAX_OUT_DEGREE = 100
N_VECTORS = 2_000
DIM = 64
HEAVY_WEIGHT = 0.9

SIZES = {
    "vertices": N_VERTICES, "out_degree": [MIN_OUT_DEGREE, MAX_OUT_DEGREE],
    "vectors": N_VECTORS, "dim": DIM,
}

GQL = {
    "one_hop": "MATCH (a:V)-[e:E]->(b:V) WHERE a.vid = $r "
    "RETURN b.vid AS b, e.weight AS w",
    "two_hop": "MATCH (a:V)-[e1:E]->(b:V)-[e2:E]->(c:V) "
    "WHERE a.vid = $r AND e2.weight > 0.5 RETURN c.vid AS c, c.kind AS k",
    "var_len": "MATCH (a:V)-[e:E*1..3]->(b:V) WHERE a.vid = $r "
    "RETURN DISTINCT b.vid AS b",
}

KGDSL = f"""
Define (s:V)-[p:heavy]->(o:Int) {{
    GraphStructure {{ (s)-[t:E]->(u:V) }}
    Rule {{
        R1: t.weight > {HEAVY_WEIGHT}
        o = group(s).count(t.weight)
    }}
}}
GraphStructure {{ (s:V) }}
Rule {{ R0: s.kind == $kind && s.heavy >= 2 }}
Action {{ get(s.vid, s.heavy) }}
"""

DUCK = {
    "one_hop": "SELECT dst, weight FROM e WHERE src = $r",
    "two_hop": "SELECT e2.dst, v.kind FROM e e1 JOIN e e2 ON e1.dst = e2.src "
    "JOIN v ON v.vid = e2.dst WHERE e1.src = $r AND e2.weight > 0.5",
    "var_len": "WITH h1 AS (SELECT dst FROM e WHERE src = $r), "
    "h2 AS (SELECT e.dst FROM h1 JOIN e ON e.src = h1.dst), "
    "h3 AS (SELECT e.dst FROM h2 JOIN e ON e.src = h2.dst) "
    "SELECT DISTINCT dst FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2 "
    "UNION ALL SELECT * FROM h3)",
    "kgdsl": f"SELECT v.vid, count(*) FROM v JOIN e ON e.src = v.vid "
    f"WHERE e.weight > {HEAVY_WEIGHT} AND v.kind = $r GROUP BY v.vid "
    "HAVING count(*) >= 2",
}


@dataclass
class Request:
    cls: str  # one_hop | two_hop | var_len | kgdsl | ann
    arg: int  # root vid, vertex kind, or query id


def generate(seed: int, out: Path) -> tuple[list[Request], dict]:
    """Write v/e/emb/queries parquet for ``seed``; return the request
    sequence: per graph class one tail root (the least out-degree) and
    one hub root (the capped out-degree, within the top decile).

    The out-degree multiset is the same for every seed and the seed
    permutes it, so graph size and root degrees, and with them the cost
    of each request, do not depend on the seed; the edges do."""
    rng = np.random.default_rng(seed)
    degrees = np.random.default_rng(0).zipf(1.7, N_VERTICES) + MIN_OUT_DEGREE - 1
    deg = rng.permutation(np.minimum(degrees, MAX_OUT_DEGREE))
    src = np.repeat(np.arange(N_VERTICES), deg)
    # in-degree skew: target density ~ 1/sqrt(rank) over a shuffled order
    order = rng.permutation(N_VERTICES)
    dst = order[(N_VERTICES * rng.random(src.size) ** 2).astype(np.int64)]
    e = pd.DataFrame({"src": src, "dst": dst})
    e = e[e.src != e.dst].drop_duplicates(ignore_index=True)
    e["weight"] = rng.random(len(e))
    e["ts"] = rng.integers(0, 10_000, len(e))
    v = pd.DataFrame(
        {
            "vid": np.arange(N_VERTICES),
            "kind": rng.integers(0, 10, N_VERTICES),
            "score": rng.random(N_VERTICES),
        }
    )
    emb = rng.standard_normal((N_VECTORS, DIM)).astype(np.float32)
    qv = rng.standard_normal((2, DIM)).astype(np.float32)
    out.mkdir(parents=True, exist_ok=True)
    e.to_parquet(out / "e.parquet", index=False)
    v.to_parquet(out / "v.parquet", index=False)
    pd.DataFrame({"vec_id": np.arange(N_VECTORS), "embedding": list(emb)}).to_parquet(
        out / "emb.parquet", index=False
    )
    pd.DataFrame({"query_id": np.arange(len(qv)), "embedding": list(qv)}).to_parquet(
        out / "queries.parquet", index=False
    )

    tails = np.flatnonzero(deg == MIN_OUT_DEGREE)
    hubs = np.flatnonzero(deg == MAX_OUT_DEGREE)
    reqs = []
    for cls in GQL:
        reqs.append(Request(cls, int(rng.choice(tails))))
        reqs.append(Request(cls, int(rng.choice(hubs))))
    reqs.append(Request("kgdsl", int(rng.integers(0, 10))))
    reqs.append(Request("ann", int(rng.integers(0, len(qv)))))
    sizes = {"edges": int(len(e)), "requests_per_pass": len(reqs)}
    return reqs, sizes


def load(spark, d: Path) -> dict:
    """Open the inputs as parquet-backed frames (never a local relation:
    a large one makes planning slow). They are not cached: each request
    reads the parquet it needs."""
    return {
        name: spark.read.parquet(str(d / f"{name}.parquet"))
        for name in ("v", "e", "emb", "queries")
    }


def _rows(rows) -> Counter:
    return Counter(tuple(r) for r in rows)


def oracle(d: Path, reqs: list[Request]) -> list[object]:
    """Expected result per request: DuckDB over the same parquet for the
    graph classes, numpy brute force for ANN."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{d / 'e.parquet'}')")
        con.execute(f"CREATE VIEW v AS SELECT * FROM read_parquet('{d / 'v.parquet'}')")
        emb = pd.read_parquet(d / "emb.parquet")
        corpus = np.stack(emb.embedding.to_numpy()).astype(np.float64)
        queries = pd.read_parquet(d / "queries.parquet")
        expected = []
        for r in reqs:
            if r.cls == "ann":
                q = np.asarray(queries.embedding[r.arg], dtype=np.float64)
                score = corpus @ q / (np.linalg.norm(corpus, axis=1) * np.linalg.norm(q))
                top = np.lexsort((emb.vec_id.to_numpy(), -score))[:10]
                expected.append((emb.vec_id.to_numpy()[top].tolist(), score[top]))
            else:
                expected.append(_rows(con.execute(DUCK[r.cls], {"r": r.arg}).fetchall()))
        return expected
    finally:
        con.close()


def check(req: Request, got, want) -> str | None:
    if req.cls == "ann":
        ids = [r["vec_id"] for r in sorted(got, key=lambda r: (-r["score"], r["vec_id"]))]
        scores = np.array(sorted((r["score"] for r in got), reverse=True))
        if ids != want[0] or not np.allclose(scores, want[1], rtol=1e-5, atol=1e-6):
            return f"ann top-10 differs: {ids} vs {want[0]}"
        return None
    rows = _rows(got)
    if rows != want:
        return f"{req.cls}({req.arg}): {sum(rows.values())} rows, expected {sum(want.values())}"
    return None


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def gql(spans, query: str, graph, params: dict) -> list:
    from linkgraph.gql import compile_query

    df = spans.run("gql.compile", lambda: compile_query(query, graph, params=params))
    return spans.run("gql.exec", df.collect)


def request(spark, rec, spans, cls: str, arg, call, check) -> dict:
    """One checked request; one row of the per-request record."""
    before = _persistent(spark)
    n0 = len(spans.spans)
    res = rec.op(f"{cls}({arg})", call, check)
    return {
        "cls": cls, "wall_s": res.wall_s, "ok": res.ok,
        "groups": [s.group for s in spans.spans[n0:]],
        "leaked_rdds": _persistent(spark) - before,
    }


def run_pass(spark, frames: dict, reqs: list[Request], expected: list, rec, spans) -> list[dict]:
    """Send the request sequence once; one row per request."""
    from pyspark.sql import functions as F

    from linkgraph import kgdsl
    from linkgraph.gql import PropertyGraph
    from linkgraph.pipeline.simsearch import brute_force_topk

    graph = PropertyGraph({"V": frames["v"]}, {"E": frames["e"]})
    out = []
    for req, want in zip(reqs, expected):

        def call(req=req):
            if req.cls in GQL:
                return gql(spans, GQL[req.cls], graph, {"r": req.arg})
            if req.cls == "kgdsl":
                return spans.run(
                    "kgdsl.run",
                    lambda: kgdsl.run_script(KGDSL, graph, params={"kind": req.arg}).table.collect(),
                )
            q = frames["queries"].where(F.col("query_id") == req.arg)
            return spans.run(
                "simsearch.topk", lambda: brute_force_topk(frames["emb"], q, k=10).collect()
            )

        out.append(request(
            spark, rec, spans, req.cls, req.arg, call,
            lambda got, req=req, want=want: check(req, got, want),
        ))
    return out


def layer_metrics(rows: list[dict], counters: dict, spans_by_group: dict) -> dict:
    """Per-call medians over the warm passes' requests (``leaked_rdds``:
    the largest count any call left behind)."""
    from perfbench.harness import median

    def per_call(name: str, field: str) -> list[float]:
        vals = []
        for r in rows:
            for g in r["groups"]:
                if spans_by_group[g].name == name:
                    c = counters.get(g)
                    if field == "wall":
                        s = spans_by_group[g]
                        vals.append(s.end - s.start)
                    elif field == "driver_s":
                        s = spans_by_group[g]
                        busy = c.busy_s(s.start, s.end) if c else 0.0
                        vals.append(s.end - s.start - busy)
                    else:
                        vals.append(getattr(c, field) if c else 0)
        return vals

    m = {
        "gql.compile_s": median(per_call("gql.compile", "wall")),
        "gql.compile_jobs": median(per_call("gql.compile", "jobs")),
        "gql.exec_s": median(per_call("gql.exec", "wall")),
        "gql.jobs": median(per_call("gql.exec", "jobs")),
        "gql.tasks": median(per_call("gql.exec", "tasks")),
        "gql.cpu_s": median(per_call("gql.exec", "cpu_s")),
        "gql.driver_s": median(per_call("gql.exec", "driver_s")),
        "gql.leaked_rdds": max(
            (r["leaked_rdds"] for r in rows
             if any(spans_by_group[g].name == "gql.exec" for g in r["groups"])),
            default=0,
        ),
        "kgdsl.run_s": median(per_call("kgdsl.run", "wall")),
        "kgdsl.jobs": median(per_call("kgdsl.run", "jobs")),
        "kgdsl.cpu_s": median(per_call("kgdsl.run", "cpu_s")),
        "simsearch.topk_s": median(per_call("simsearch.topk", "wall")),
        "simsearch.jobs": median(per_call("simsearch.topk", "jobs")),
        "simsearch.cpu_s": median(per_call("simsearch.topk", "cpu_s")),
    }
    for cls in (*GQL, "kgdsl", "ann"):
        m[f"lookup.{cls}.p50_s"] = median([r["wall_s"] for r in rows if r["cls"] == cls and r["ok"]])
    return m


class Workload:
    """Adapter the runner drives: set up, oracle, passes, layers."""

    def __init__(self, spark, seed: int, work: Path, rec, spans, helper):
        self.spark, self.seed, self.work, self.rec, self.spans = spark, seed, work, rec, spans
        self.helper = helper

    def setup(self, d: Path) -> dict:
        self.d = d
        self.reqs, extra = self.helper(generate, self.seed, d)
        self.frames = load(self.spark, d)
        return extra

    def prepare_oracle(self) -> None:
        self.want = self.helper(oracle, self.d, self.reqs)

    def run_pass(self, k: int) -> tuple[list[dict], list[float], float]:
        rows = run_pass(self.spark, self.frames, self.reqs, self.want, self.rec, self.spans)
        return rows, [r["wall_s"] for r in rows if r["ok"]], sum(r["wall_s"] for r in rows)

    def extra(self, cold, warm) -> dict:
        """Each request's latency, pass by pass, for the result file."""
        return {
            "requests": [f"{r.cls}({r.arg})" for r in self.reqs],
            "request_wall_s": [[r["wall_s"] for r in p] for p in warm],
        }

    def bucket(self, job, span) -> str:
        return span.group

    def layers(self, warm: list[list[dict]], counters: dict, cores: int) -> list[dict]:
        by_group = {s.group: s for s in self.spans.spans}
        rows = [r for p in warm for r in p]
        return [layer_metrics(rows, counters, by_group)]
