"""Benchmark of the KG pipeline through its public API.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json):

- ``bulk_build``: full ``run_pipeline`` builds of a seeded uniform corpus
  into empty dirs, then scans of the last one (N-Triples export and
  method-scoped CC / BFS / PageRank over the edge table).
- ``edit_stream``: passes of seeded rounds over a committed KG; each
  round changes one doc (a body-only edit, or an added file declaring a
  new class), refreshes the KG with ``run_pipeline`` and renders DOT
  lookups. Every pass starts from a copy of the same committed base and
  does the same rounds, so the on-disk state each round sees does not
  depend on host speed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` re-runs the
workload with spans, the Spark event log and a single-process kernel
pass, and prints the per-layer metrics. The last stdout line is one
JSON object. All scratch output lives in ``perfbench/_work_<pid>/`` and
is removed on exit; every JVM and Python worker is stopped first.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = min(3, os.cpu_count() or 1)  # local[CORES], fixed per host
N_DOCS = 64                          # corpus size of both workloads
MIN_OPS = 1                          # timed write ops per run, at least
SCANS = 2                            # scans per bulk_build run
ROUND_KINDS = ("edit", "add")         # one edit_stream pass, shuffled
GRAPHS = ("cfg", "pdg", "ast")
KERNEL_SAMPLE = 40                   # docs in the traced kernel pass
WORKLOADS = ("bulk_build", "edit_stream")


def log(*parts) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s]", *parts,
          file=sys.stderr, flush=True)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _d, names in os.walk(path) for n in names)


def listing(path: str) -> dict:
    out = {}
    for r, _d, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(r, n))
            out[os.path.relpath(os.path.join(r, n), path)] = (
                st.st_size, st.st_mtime_ns)
    return out


# --------------------------------------------------------------- corpora

def body_edit(spans, k: int):
    """Same declarations, one more statement in the first method body."""
    out = []
    for kind, text, media, offset in spans:
        if kind == "code":
            text = text.replace(
                "        return total;",
                f"        total = total + {k};\n        return total;", 1)
        out.append((kind, text, media, offset))
    return out


def added_file(seed: int, r: int):
    """A new class, with a method name the base corpus does not use."""
    from propertygraph_spark.pipeline.fixtures import synth_java_class
    code = synth_java_class(random.Random(seed * 7919 + r), 10**6 + r, 2)
    code = code.replace("public int m0(", f"public int m{10 + r}(", 1)
    return [("text", f"added file {r}", "", 0), ("code", code, "", 1)]


def plan_rounds(seed: int, base: dict) -> list:
    """[(kind, doc_id, spans, lookup_doc)] for one edit_stream pass."""
    rng = random.Random(seed)
    kinds = list(ROUND_KINDS)
    rng.shuffle(kinds)
    current = dict(base)
    rounds = []
    for r, kind in enumerate(kinds):
        if kind == "edit":
            doc_id = rng.choice(sorted(base))
            spans = body_edit(current[doc_id], r + 1)
        else:
            doc_id = f"doc-add-{r:02d}"
            spans = added_file(seed, r)
        current[doc_id] = spans
        rounds.append((kind, doc_id, spans, rng.choice(sorted(base))))
    return rounds


def lookup_batch(r: int, changed: str, other: str) -> list:
    """Round r's DOT lookups: the changed doc in two graphs and a seeded
    other doc in the third, rotating so a pass covers every graph."""
    g = GRAPHS[r % 3:] + GRAPHS[:r % 3]
    return [(changed, g[0]), (changed, g[1]), (other, g[2])]


# ----------------------------------------------------------------- bench

class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.ops: list = []
        self.kind_count: dict = {}
        self.refs: dict = {}
        self.spark = None
        self.proc = None
        self.cores = CORES
        self.kernel_sample = KERNEL_SAMPLE

    # ---- session

    def start(self) -> None:
        from tracing import ProcessTree, Tracer
        self.proc = ProcessTree()
        self.proc.start()
        self.tracer = Tracer()
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false"})
            self._install_spans()
        from propertygraph_spark.pipeline.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=CORES, extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        log(f"session local[{CORES}] in {self.session_start_s:.2f}s")

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext
            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None and getattr(gateway, "proc", None):
                gateway.proc.stdin.close()   # the JVM exits on stdin EOF
                try:
                    gateway.proc.wait(timeout=60)
                except Exception:
                    gateway.proc.kill()
                    gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        if self.proc is None:
            return
        self.proc.stop()
        killed = self.proc.wait_gone()
        if killed:
            log(f"killed leftover processes {killed}")
        log("all processes stopped")

    # ---- spans around the program's public functions

    def _install_spans(self) -> None:
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame
        from propertygraph_spark.pipeline import (canonicalize, dot, linking,
                                                  materialize)

        def stage_attrs(args, kwargs):
            path = args[1]
            fps = args[2] if len(args) > 2 else kwargs.get("bucket_fps", {})
            try:
                with open(os.path.join(path, "_buckets.json")) as f:
                    prev = json.load(f)
            except (OSError, ValueError):
                prev = {}
            dirty = sum(1 for b, fp in fps.items() if prev.get(str(b)) != fp)
            return {"stage": os.path.basename(path), "dirty": dirty}

        def cc_stats():
            st = canonicalize.CC_LAST_STATS
            return {"edges": st.get("n_edges", 0), "rounds": st.get("rounds", 0)}

        t = self.tracer
        for fn in ("extract_incremental", "bucket_fingerprints",
                   "write_metrics", "stage_rows"):
            t.wrap(materialize, fn, f"materialize.{fn}")
        t.wrap(materialize, "write_stage_buckets",
               "materialize.write_stage_buckets", attrs_fn=stage_attrs)
        t.wrap(materialize, "write_stage", "materialize.write_stage")
        for fn in ("symbol_dictionary", "corpus_symbol_table"):
            t.wrap(linking, fn, f"linking.{fn}")
        t.wrap(canonicalize, "canonicalize_entities",
               "canonicalize.canonicalize_entities")
        t.wrap(canonicalize, "connected_components",
               "canonicalize.connected_components", after_fn=cc_stats)
        for g in GRAPHS:
            t.wrap(dot, f"{g}_dot", "dot.render")
        t.wrap_method(DataFrame, "collect", "propertygraph_spark")
        t.wrap_method(SparkSession, "createDataFrame", "propertygraph_spark")

    # ---- timed ops

    def op(self, kind: str, fn, *args, kg: str | None = None, **info):
        """Run one timed op. In a traced run half the ops of a kind are
        traced, in the order T U U T (so drift within the run cancels
        over whole quads), and the run also measures tracing overhead."""
        n = self.kind_count.get(kind, 0)
        self.kind_count[kind] = n + 1
        tag = f"{kind}-{len(self.ops)}"
        traced = self.trace and n % 4 in (0, 3)
        before = listing(kg) if self.trace and kg else None
        cpu0 = self.proc.cpu() if self.trace else None
        self.proc.start_op()
        self.sc.setLocalProperty("perfbench.op", tag)
        self.tracer.enabled = traced
        span = self.tracer.begin(kind) if traced else None
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        finally:
            wall = time.perf_counter() - t0
            if span is not None:
                self.tracer.end(span)
            self.tracer.enabled = False
            self.sc.setLocalProperty("perfbench.op", None)
        self.proc.sample()
        rec = {"kind": kind, "tag": tag, "wall": wall, "traced": traced,
               "span": span, "out": out, "problems": [],
               "peak_pss_mb": self.proc.op_peak, **info}
        if self.trace:
            cpu1 = self.proc.cpu()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
            if kg:
                from layers import after_write
                after_write(rec, before, listing(kg))
        self.ops.append(rec)
        log(f"{tag} {wall:.3f}s" + (" (traced)" if traced else ""))
        return rec

    def build(self, df, out: str):
        from propertygraph_spark.pipeline.materialize import run_pipeline
        return run_pipeline(self.spark, df, out)

    def lookup(self, kg: str, doc_id: str, graph: str) -> str:
        from propertygraph_spark.pipeline import dot
        read = self.spark.read.parquet
        nodes = self.tracer.call("dot.open", read, os.path.join(kg, "nodes"))
        edges = self.tracer.call("dot.open", read, os.path.join(kg, "edges"))
        return getattr(dot, f"{graph}_dot")(nodes, edges, doc_id)

    def scan(self, kg: str, out: str) -> int:
        from checks import GRAPH_OPS
        from propertygraph_spark.pipeline.ntriples import write_ntriples
        edges = self.tracer.call("scan.open", self.spark.read.parquet,
                                 os.path.join(kg, "edges"))
        n = self.tracer.call("ntriples.export", write_ntriples, edges,
                             os.path.join(out, "ntriples"))
        for name in GRAPH_OPS:
            self.tracer.call(f"graph.{name}", self._graph_op, name, edges,
                             os.path.join(out, name))
        return n

    @staticmethod
    def _graph_op(name: str, edges, path: str) -> None:
        from propertygraph_spark.ops import graph
        result = getattr(graph, name)(edges, "subj", "obj", scope="method_id")
        result.write.mode("overwrite").parquet(path)

    def frame(self, corpus: dict):
        from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
        return self.spark.createDataFrame(sorted(corpus.items()), DOCS_SCHEMA)

    def ref(self, doc_id: str, spans):
        from checks import DocRef, source_of
        key = (doc_id, source_of(spans))
        if key not in self.refs:
            self.refs[key] = DocRef(doc_id, spans)
        return self.refs[key]

    def refs_of(self, corpus: dict) -> dict:
        return {d: self.ref(d, s) for d, s in corpus.items()}

    def window_open(self, t0: float, n: int) -> bool:
        return n < MIN_OPS or time.perf_counter() - t0 < self.seconds

    # ---- workloads

    def run_bulk_build(self) -> None:
        import checks
        from propertygraph_spark.pipeline.fixtures import synthetic_rows
        corpus = dict(synthetic_rows(N_DOCS, seed=self.seed))
        df = self.frame(corpus)
        warm = os.path.join(self.work, "warmup")
        self.build(df, warm)
        self.scan(warm, os.path.join(self.work, "scan"))
        shutil.rmtree(warm)
        self.setup_s = time.perf_counter() - T_START
        log(f"setup done in {self.setup_s:.2f}s")
        self.source_bytes = sum(len(checks.source_of(s).encode())
                                for s in corpus.values())

        t0 = time.perf_counter()
        builds = []
        while self.window_open(t0, len(builds)):
            kg = os.path.join(self.work, f"build-{len(builds)}")
            builds.append(self.op("build", self.build, df, kg, kg=kg,
                                  out_dir=kg))
        kg = builds[-1]["out_dir"]
        scan_dir = os.path.join(self.work, "scan")
        scans = [self.op("scan", self.scan, kg, scan_dir)
                 for _ in range(SCANS)]
        self.stored_bytes = tree_bytes(kg)

        refs = self.refs_of(corpus)
        for rec in builds:
            rec["problems"] += checks.audit_kg(rec["out_dir"])
            rec["problems"] += checks.check_edges(self.spark, rec["out_dir"],
                                                  refs)
        want_lines = checks.ntriples_lines_expected(refs)
        for rec in scans:
            if rec["out"] != want_lines:
                rec["problems"].append(
                    f"ntriples wrote {rec['out']} lines, want {want_lines}")
        for name in checks.GRAPH_OPS:  # the outputs the last scan left
            scans[-1]["problems"] += checks.check_graph_output(
                self.spark, os.path.join(scan_dir, name), name, refs)
        self.write_kind, self.read_kind = ("build",), "scan"
        self.corpus = corpus

    def run_edit_stream(self) -> None:
        import checks
        from propertygraph_spark.pipeline.fixtures import synthetic_rows
        base = dict(synthetic_rows(N_DOCS, seed=self.seed))
        rounds = plan_rounds(self.seed, base)
        final = dict(base)
        for _kind, doc_id, spans, _look in rounds:
            final[doc_id] = spans
        # The from-scratch build of the final corpus doubles as warm-up;
        # the committed base is that KG refreshed back to the base corpus.
        final_kg = os.path.join(self.work, "final")
        base_kg = os.path.join(self.work, "base")
        self.build(self.frame(final), final_kg)
        shutil.copytree(final_kg, base_kg)
        self.build(self.frame(base), base_kg)
        for d, g in lookup_batch(0, *sorted(base)[:2]):
            self.lookup(base_kg, d, g)
        self.setup_s = time.perf_counter() - T_START
        log(f"setup done in {self.setup_s:.2f}s")

        t0 = time.perf_counter()
        passes = 0
        lookups = []
        while self.window_open(t0, passes * len(rounds)):
            kg = os.path.join(self.work, f"pass-{passes}")
            shutil.copytree(base_kg, kg)
            corpus = dict(base)
            for r, (kind, doc_id, spans, look_doc) in enumerate(rounds):
                corpus[doc_id] = spans
                df = self.frame(corpus)
                rec = self.op("refresh" if kind == "edit" else "add_refresh",
                              self.build, df, kg, kg=kg, out_dir=kg)
                rec["problems"] += checks.audit_kg(kg)
                for d, g in lookup_batch(r, doc_id, look_doc):
                    lookups.append(self.op("lookup", self.lookup, kg, d, g,
                                           doc=(d, corpus[d]), graph=g))
            rec["problems"] += checks.check_same_kg(self.spark, kg, final_kg)
            rec["problems"] += checks.check_edges(self.spark, kg,
                                                  self.refs_of(corpus))
            self.stored_bytes = tree_bytes(kg)
            shutil.rmtree(kg)
            passes += 1
        for rec in lookups:
            rec["problems"] += checks.check_dot(
                rec["out"], rec["graph"], self.ref(*rec["doc"]))
        self.source_bytes = sum(len(checks.source_of(s).encode())
                                for s in final.values())
        self.write_kind, self.read_kind = ("refresh", "add_refresh"), "lookup"
        self.corpus = final

    # ---- results

    def walls(self, *kinds: str) -> list:
        return [r["wall"] for r in self.ops if r["kind"] in kinds]

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "write_p50_s": (statistics.median(
                self.walls(*self.write_kind)), "s"),
            "read_p50_ms": (1e3 * statistics.median(
                self.walls(self.read_kind)), "ms"),
            "stored_bytes_per_source_byte": (
                self.stored_bytes / self.source_bytes, "ratio"),
        }

    def run(self) -> dict:
        self.start()
        getattr(self, f"run_{self.workload}")()
        log("ops and checks done")
        if self.trace:
            from layers import per_layer
            metrics = per_layer(self)
        else:
            metrics = self.end_to_end()
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if self.trace else "end_to_end"]
        want = {m["name"]: m["unit"] for m in spec}
        got = {name: unit for name, (_v, unit) in metrics.items()}
        if got != want:
            raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                               f"{sorted(set(got.items()) ^ set(want.items()))}")
        failed = [r for r in self.ops if r["problems"]]
        for r in failed:
            log(f"FAILED {r['tag']}: {r['problems'][:3]}")
        return {"correct": not failed, "attempted": len(self.ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "propertygraph_spark",
                                       "__init__.py")):
        print(f"perfbench: no propertygraph_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the finally below still stops
    # the JVM and removes the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, f"_work_{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers inherit these through the JVM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  work)
    try:
        result = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
