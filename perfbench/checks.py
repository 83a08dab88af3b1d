"""Output checks. Each check returns a list of problems; an empty list
is a pass. References are computed here, in one process, from the
program's per-document kernel and independent replays of the graph
operators' documented semantics."""

from __future__ import annotations

import os
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from propertygraph_spark.kernel.extract import extract_document_columns
from propertygraph_spark.pipeline.fixtures import assemble_source
from propertygraph_spark.pipeline.materialize import (audit_bucket_stage,
                                                      audit_stage)

BUCKET_STAGES = ("extracted", "linked", "nodes", "edges")
MANIFEST_STAGES = ("canonical",)


def source_of(spans) -> str:
    return assemble_source([{"kind": k, "text": t, "offset": o}
                            for k, t, _m, o in spans])


class DocRef:
    """Single-process kernel output of one doc, reduced to what the
    checks compare: distinct triples and node ids per (method, graph)."""

    __slots__ = ("triples", "nodes", "error")

    def __init__(self, doc_id: str, spans) -> None:
        nc, tc, _mc, self.error = extract_document_columns(
            doc_id, source_of(spans))
        self.triples = set(zip(tc["method_id"], tc["subj"], tc["pred"],
                               tc["obj"], tc["label"]))
        self.nodes: dict = defaultdict(set)
        for mid, nid, graph in zip(nc["method_id"], nc["node_id"],
                                   nc["graph"]):
            self.nodes[(mid, graph)].add(nid)

    def pred_counts(self) -> Counter:
        return Counter(t[2] for t in self.triples)

    def dot_counts(self, graph: str) -> tuple:
        """(node lines, edge lines) the DOT formatter must print."""
        n_nodes = sum(len(ids) for (_m, g), ids in self.nodes.items()
                      if g == graph)
        n_edges = sum(1 for mid, s, p, o, _l in self.triples
                      if p.startswith(graph)
                      and s in self.nodes.get((mid, graph), ())
                      and o in self.nodes.get((mid, graph), ()))
        return n_nodes, n_edges


def audit_kg(kg: str) -> list:
    problems = []
    for stage in BUCKET_STAGES:
        res = audit_bucket_stage(os.path.join(kg, stage))
        problems += [f"{stage}: {p}" for p in res["problems"]]
    for stage in MANIFEST_STAGES:
        res = audit_stage(os.path.join(kg, stage))
        problems += [f"{stage}: {p}" for p in res["problems"]]
    return problems


def check_edges(spark, kg: str, refs: dict) -> list:
    """Per-doc edge counts by pred, and the error docs, against the
    kernel reference."""
    got: dict = defaultdict(Counter)
    for r in (spark.read.parquet(os.path.join(kg, "edges"))
              .groupBy("doc_id", "pred").count().collect()):
        got[r["doc_id"]][r["pred"]] = r["count"]
    problems = [f"edge counts differ for {d}"
                for d in sorted(set(got) | set(refs))
                if got.get(d, Counter()) != (refs[d].pred_counts()
                                             if d in refs else Counter())]
    err_dir = os.path.join(kg, "extracted", "row_kind=error")
    got_err = set()
    if os.path.isdir(err_dir):
        got_err = {r["doc_id"] for r in
                   spark.read.parquet(err_dir).select("doc_id").collect()}
    want_err = {d for d, ref in refs.items() if ref.error is not None}
    if got_err != want_err:
        problems.append(f"error docs {sorted(got_err)} != {sorted(want_err)}")
    return problems


def check_dot(text: str, graph: str, ref: DocRef) -> list:
    lines = text.splitlines()
    edges = sum(1 for ln in lines if " -> " in ln)
    marker = "[ label = " if graph == "ast" else "[style = filled"
    nodes = sum(1 for ln in lines if marker in ln)
    want = ref.dot_counts(graph)
    if (nodes, edges) != want:
        return [f"{graph} dot has {nodes} nodes/{edges} edges, "
                f"want {want[0]}/{want[1]}"]
    return []


def check_same_kg(spark, kg: str, reference_kg: str) -> list:
    """The KG equals the reference by an order-insensitive digest: per
    table and doc, the row count and the xor of row hashes; the
    canonical table as a whole."""
    problems = []
    for table in ("nodes", "edges", "linked", "canonical"):
        both = None
        for side, path in (("got", kg), ("want", reference_kg)):
            df = spark.read.parquet(os.path.join(path, table))
            df = df.withColumn("side", F.lit(side))
            both = df if both is None else both.unionByName(df)
        cols = sorted(c for c in both.columns if c not in ("bucket", "side"))
        key = ["doc_id"] if "doc_id" in cols else []
        rows = (both.groupBy("side", *key)
                .agg(F.count("*").alias("n"),
                     F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")
                     .alias("h"))
                .collect())
        digest = {"got": set(), "want": set()}
        for r in rows:
            digest[r["side"]].add((r["doc_id"] if key else "", r["n"], r["h"]))
        if digest["got"] != digest["want"]:
            problems.append(f"refreshed {table} differs from a from-scratch "
                            f"build")
    return problems


# ------------------------------------------------- graph-op references

def _method_edges(refs: dict) -> dict:
    out: dict = defaultdict(set)
    for ref in refs.values():
        for mid, s, _p, o, _l in ref.triples:
            out[mid].add((s, o))
    return out


def _cc(edges) -> dict:
    adj: dict = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    label: dict = {}
    for start in sorted(adj):
        if start in label:
            continue
        label[start] = start
        stack = [start]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in label:
                    label[y] = start
                    stack.append(y)
    return label


def _bfs(edges) -> dict:
    adj: dict = defaultdict(list)
    for a, b in sorted(edges):
        adj[a].append(b)
    root = min(x for e in edges for x in e)
    level, frontier = {root: 0}, [root]
    while frontier:
        nxt = []
        for x in frontier:
            for y in adj[x]:
                if y not in level:
                    level[y] = level[x] + 1
                    nxt.append(y)
        frontier = nxt
    return level


def _pagerank(edges, iters=3, unit=1_000_000, damp_pm=850) -> dict:
    nodes = {x for e in edges for x in e}
    outdeg = Counter(a for a, _b in edges)
    rank = dict.fromkeys(nodes, unit)
    for _ in range(iters):
        inflow: Counter = Counter()
        for a, b in edges:
            inflow[b] += rank[a] // outdeg[a]
        rank = {n: unit * (1000 - damp_pm) // 1000
                + damp_pm * inflow[n] // 1000 for n in nodes}
    return rank


GRAPH_OPS = {"connected_components": ("component", _cc),
             "bfs_levels": ("level", _bfs),
             "pagerank_int": ("rank_mu", _pagerank)}


def check_graph_output(spark, path: str, op: str, refs: dict) -> list:
    """Per method: row count, sum of node ids, sum of values and sum of
    node*value, against the replay."""
    col, replay = GRAPH_OPS[op]
    got = {r["method_id"]: (r["n"], r["sn"], r["sv"], r["snv"]) for r in
           spark.read.parquet(path).groupBy("method_id").agg(
               F.count("*").alias("n"), F.sum("node").alias("sn"),
               F.sum(col).alias("sv"),
               F.sum(F.col("node") * F.col(col)).alias("snv")).collect()}
    want = {}
    for mid, edges in _method_edges(refs).items():
        vals = replay(edges)
        want[mid] = (len(vals), sum(vals), sum(vals.values()),
                     sum(n * v for n, v in vals.items()))
    bad = sorted(m for m in set(got) | set(want) if got.get(m) != want.get(m))
    return [f"{op} differs for {len(bad)} methods, e.g. {bad[0]}"] if bad \
        else []


def ntriples_lines_expected(refs: dict) -> int:
    return sum(len(ref.triples) for ref in refs.values())
