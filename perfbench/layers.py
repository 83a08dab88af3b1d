"""Per-layer metrics of a traced run: spans, the Spark event log, the
process tree and a single-process kernel pass over a seeded sample of
the workload's own docs. Layer names follow the program's modules."""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time

from tracing import dur, parse_event_log, skew_ratio, sql_sum

WRITE_KINDS = ("build", "refresh", "add_refresh")


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def host_probe_s() -> float:
    """A fixed loop that uses none of the program's code: a diagnostic
    for host drift, never a normalizer."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x = (x * 31 + i) % 1_000_003
        h = hashlib.sha256()
        for _ in range(2000):
            h.update(b"x" * 1024)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _self_time(tracer, idx: int) -> float:
    return dur(tracer.spans[idx]) - sum(dur(c) for c in tracer.children(idx))


def kernel_pass(docs: list) -> dict:
    """Untraced passes give docs/s; one traced pass splits the time by
    kernel layer (self time: a span minus its child spans)."""
    from checks import source_of
    from propertygraph_spark.kernel import (cfg, extract, javaparser, pdg,
                                            pebuilder)
    from tracing import Tracer

    sources = [(d, source_of(s)) for d, s in docs]

    def one_pass():
        rows = 0
        for doc_id, src in sources:
            nc, tc, mc, _err = extract.extract_document_columns(doc_id, src)
            rows += len(nc["node_id"]) + len(tc["subj"]) + len(mc["node_id"])
        return rows

    one_pass()  # warm
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        rows = one_pass()
        walls.append(time.perf_counter() - t0)
    t = Tracer()
    t.wrap(javaparser, "tokenize", "lex")
    t.wrap(pebuilder, "parse_java", "parse")
    t.wrap(pebuilder.PEBuilder, "build", "pe")
    t.wrap(cfg.CFG, "build", "cfg")
    t.wrap(pdg.PDG, "build", "pdg")
    t.wrap(extract, "extract_document_columns", "emit")
    t.enabled = True
    try:
        one_pass()
    finally:
        t.enabled = False
        t.restore()
    self_ms = dict.fromkeys(("lex", "parse", "pe", "cfg", "pdg", "emit"), 0.0)
    for i, span in enumerate(t.spans):
        self_ms[span["name"]] += 1e3 * _self_time(t, i)
    n = len(sources)
    out = {"kernel.docs_per_s": (n / statistics.median(walls), "1/s")}
    for name, ms in self_ms.items():
        out[f"kernel.{name}_ms_per_doc"] = (ms / n, "ms")
    out["kernel.rows_per_doc"] = (rows / n, "count")
    return out


def after_write(rec: dict, before: dict, after: dict) -> None:
    """Facts of a write op read from its KG dir right after it ran:
    files it wrote, the docs and kernel seconds its kernel tasks
    reported in the ``extracted/_runmetrics`` rows they appended, and
    parquet files per bucket dir of the node and edge tables (what a
    lookup's scan lists and opens)."""
    import pyarrow.parquet as pq
    kg = rec["out_dir"]
    written = [f for f, st in after.items() if before.get(f) != st]
    rec["files_written"] = len(written)
    rec["bytes_written"] = sum(after[f][0] for f in written)
    docs = secs = 0.0
    for rel in written:
        if "_runmetrics" in rel and rel.endswith(".parquet"):
            for text in pq.read_table(os.path.join(kg, rel),
                                      columns=["text"]).column(
                    "text").to_pylist():
                kv = dict(p.split("=") for p in text.split())
                docs += float(kv["docs"])
                secs += float(kv["sec"])
    rec["docs_extracted"], rec["kernel_s"] = docs, secs
    files = buckets = 0
    for table in ("nodes", "edges"):
        root = os.path.join(kg, table)
        for name in os.listdir(root):
            if name.startswith("bucket="):
                buckets += 1
                files += sum(1 for f in os.listdir(os.path.join(root, name))
                             if f.endswith(".parquet"))
    rec["files_per_bucket"] = files / buckets if buckets else 0.0


def _build_layers(tracer, rec) -> dict:
    """Layer times inside one traced run_pipeline call."""
    out = dict.fromkeys(("extract", "fingerprint", "symtab", "link",
                         "canonicalize", "materialize", "cc"), 0.0)
    out.update(relinked=0, cc_edges=0, cc_rounds=0)
    linked_done = False
    for child in tracer.children(rec["span"]):
        name, d = child["name"], dur(child)
        stage = child["attrs"].get("stage")
        if name == "materialize.extract_incremental":
            out["extract"] += d
        elif name in ("linking.symbol_dictionary",
                      "linking.corpus_symbol_table"):
            out["symtab"] += d
        elif name in ("collect", "createDataFrame"):
            # run_pipeline's own Spark calls: the symbol table before
            # the linking stage, the alias-set digest after it
            out["canonicalize" if linked_done else "symtab"] += d
        elif name == "materialize.write_stage_buckets" and stage == "linked":
            out["link"] += d
            out["relinked"] = child["attrs"]["dirty"]
            linked_done = True
        elif name in ("canonicalize.canonicalize_entities",
                      "materialize.write_stage"):
            out["canonicalize"] += d
        else:  # nodes/edges tables, write_metrics, stage_rows
            out["materialize"] += d
    idx = rec["span"]
    for span in tracer.descendants(idx):
        if span["name"] == "materialize.bucket_fingerprints":
            out["fingerprint"] += dur(span)
        elif span["name"] == "canonicalize.connected_components":
            out["cc"] += dur(span)
            out["cc_edges"] += span["attrs"].get("edges", 0)
            out["cc_rounds"] += span["attrs"].get("rounds", 0)
    return out


def _coverage(tracer, rec) -> float:
    span = tracer.spans[rec["span"]]
    return sum(dur(c) for c in tracer.children(rec["span"])) / dur(span)


def per_layer(bench) -> dict:
    tracer = bench.tracer
    ops = bench.ops
    events = parse_event_log(bench.event_dir)
    m: dict = {}
    writes = [r for r in ops if r["kind"] in WRITE_KINDS]
    traced_writes = [r for r in writes if r["traced"]]
    lookups = [r for r in ops if r["kind"] == "lookup"]
    scans = [r for r in ops if r["kind"] == "scan"]

    rng = random.Random(bench.seed)
    sample = rng.sample(sorted(bench.corpus.items()),
                        min(len(bench.corpus), bench.kernel_sample))
    m.update(kernel_pass(sample))

    # pipeline.extract: the mapInArrow boundary, per write op
    docs_ext = []
    for rec in writes:
        ev = events[rec["tag"]]
        rec["arrow"] = {
            "sent": sql_sum(ev, "MapInArrow", "data sent to Python workers"),
            "ret": sql_sum(ev, "MapInArrow",
                           "data returned from Python workers"),
            "boot": sql_sum(ev, "MapInArrow", "time to start Python workers")
            + sql_sum(ev, "MapInArrow", "time to initialize Python workers"),
            "run": sql_sum(ev, "MapInArrow", "time to run Python workers"),
            "rows": sql_sum(ev, "MapInArrow", "number of output rows")}
        docs_ext.append(rec["docs_extracted"])
    total_docs = sum(docs_ext) or 1.0
    m["extract.python_sent_mb"] = (
        _mean(r["arrow"]["sent"] for r in writes) / 2**20, "MB")
    m["extract.python_returned_mb"] = (
        _mean(r["arrow"]["ret"] for r in writes) / 2**20, "MB")
    m["extract.python_boot_s"] = (_mean(r["arrow"]["boot"] for r in writes),
                                  "s")
    m["extract.python_run_s"] = (_mean(r["arrow"]["run"] for r in writes), "s")
    m["extract.kernel_s"] = (_mean(r["kernel_s"] for r in writes), "s")
    m["extract.docs_per_op"] = (_mean(docs_ext), "count")
    m["extract.rows_out_per_doc"] = (
        sum(r["arrow"]["rows"] for r in writes) / total_docs, "count")

    # pipeline.materialize / linking / canonicalize: spans per write op
    lay = [_build_layers(tracer, r) for r in traced_writes]
    for key, name in (("extract", "extract_s"), ("link", "link_s"),
                      ("canonicalize", "canonicalize_s"),
                      ("materialize", "materialize_s"),
                      ("fingerprint", "fingerprint_s")):
        m[f"materialize.{name}"] = (_mean(x[key] for x in lay), "s")
    m["materialize.dirty_buckets"] = (_mean(
        r["out"]["stage_times"]["extract_dirty_buckets"] for r in writes),
        "count")
    for key in ("files_written", "files_per_bucket"):
        m[f"materialize.{key}"] = (_mean(r[key] for r in writes), "count")
    m["materialize.mb_written"] = (_mean(r["bytes_written"]
                                         for r in writes) / 2**20, "MB")
    m["linking.symtab_s"] = (_mean(x["symtab"] for x in lay), "s")
    m["linking.relinked_buckets"] = (_mean(x["relinked"] for x in lay),
                                     "count")
    m["canonicalize.cc_s"] = (_mean(x["cc"] for x in lay), "s")
    m["canonicalize.cc_edges"] = (_mean(x["cc_edges"] for x in lay), "count")
    m["canonicalize.cc_rounds"] = (_mean(x["cc_rounds"] for x in lay),
                                   "count")

    # pipeline.dot: per lookup
    lev = [events[r["tag"]] for r in lookups]
    m["dot.jobs_per_lookup"] = (_mean(e["jobs"] for e in lev), "count")
    m["dot.files_read_per_lookup"] = (_mean(
        _scan_sum(e, "number of files read") for e in lev), "count")
    m["dot.rows_read_per_lookup"] = (_mean(
        _scan_sum(e, "number of output rows") for e in lev), "count")
    m["dot.format_ms"] = (1e3 * _mean(
        dur(tracer.spans[r["span"]]) - sum(
            dur(s) for s in tracer.descendants(r["span"])
            if s["name"] in ("collect", "dot.open"))
        for r in lookups if r["traced"]), "ms")

    # pipeline.ntriples, ops.graph: per traced scan
    for name, key in (("ntriples.export_s", "ntriples.export"),
                      ("graph.connected_components_s",
                       "graph.connected_components"),
                      ("graph.bfs_levels_s", "graph.bfs_levels"),
                      ("graph.pagerank_int_s", "graph.pagerank_int")):
        m[name] = (_median(dur(c) for r in scans if r["traced"]
                           for c in tracer.children(r["span"])
                           if c["name"] == key), "s")

    m["session.start_s"] = (bench.session_start_s, "s")

    # Spark engine, per write op
    wev = [events[r["tag"]] for r in writes]
    m["spark.cores"] = (bench.cores, "count")
    m["spark.jobs_per_op"] = (_mean(e["jobs"] for e in wev), "count")
    m["spark.tasks_per_op"] = (_mean(e["tasks"] for e in wev), "count")
    m["spark.task_max_over_median"] = (_median(skew_ratio(e) for e in wev),
                                       "ratio")
    for key, unit in (("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
        m[f"spark.{key}"] = (_mean(e[key] for e in wev), unit)
    m["spark.jvm_gc_s"] = (_mean(e["gc_s"] for e in wev), "s")
    m["spark.executor_cpu_s"] = (_mean(e["cpu_s"] for e in wev), "s")

    # process tree
    m["proc.peak_pss_mb.total"] = (_median(r["peak_pss_mb"] for r in ops),
                                   "MB")
    for role in ("jvm", "python"):
        m[f"proc.cpu_ms_per_doc.{role}"] = (
            1e3 * sum(r["cpu"][role] for r in writes) / total_docs, "ms")
        m[f"proc.peak_pss_mb.{role}"] = (bench.proc.peak[role], "MB")

    # whole-step figures of each workload (0 where the step does not run)
    def walls(kind):
        return [r["wall"] for r in ops if r["kind"] == kind]

    builds = walls("build")
    m["workload.build_docs_per_s"] = (
        len(bench.corpus) / _median(builds) if builds else 0.0, "1/s")
    m["workload.scan_s"] = (_median(walls("scan")), "s")
    m["workload.refresh_p50_s"] = (_median(walls("refresh")), "s")
    m["workload.add_refresh_p50_s"] = (_median(walls("add_refresh")), "s")
    lw = walls("lookup")
    m["workload.lookup_p50_ms"] = (1e3 * _median(lw), "ms")
    m["workload.lookup_p90_ms"] = (
        1e3 * statistics.quantiles(lw, n=10)[-1] if len(lw) > 1 else 0.0,
        "ms")

    # the benchmark itself
    m["host.probe_s"] = (host_probe_s(), "s")
    traced = [r for r in ops if r["traced"]]
    m["trace.span_coverage"] = (min(_coverage(tracer, r) for r in traced),
                                "ratio")
    ratios = []
    for kind in {r["kind"] for r in ops}:
        on = [r["wall"] for r in ops if r["kind"] == kind and r["traced"]]
        off = [r["wall"] for r in ops if r["kind"] == kind
               and not r["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    m["trace.overhead_ratio"] = (_median(ratios) if ratios else 1.0, "ratio")
    return m


def _scan_sum(ev: dict, name: str) -> float:
    return sum(v for (node, metric), v in ev["sql"].items()
               if node.startswith("Scan") and metric == name)
