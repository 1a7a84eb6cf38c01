"""Traced run: spans around calls into each layer's public functions, Spark
job groups, and the Spark event log, reduced to per-layer metrics.

Spans are kept in memory and written once, when the run ends. Each layer's
Spark jobs are attributed by the job group set on the calling thread or,
for jobs the runner submits from its own worker threads, by the layer span
whose interval contains the job's submission time (the traced run drives
one layer at a time).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# Layers of the sequential drive whose walls sum into pipeline.overlap.
BUILD_LAYERS = ("parse", "genes", "ner", "gene_table", "linking", "triples",
                "pipeline.dedup", "labels")
# Span -> metric name of its self time.
SELF_METRICS = {"parse": "parse.self_s", "genes": "genes.self_s",
                "ner": "ner.self_s", "linking": "linking.self_s",
                "triples": "triples.self_s",
                "pipeline.dedup": "pipeline.dedup_self_s",
                "labels": "labels.self_s",
                "sparqlcorpus": "sparqlcorpus.self_s",
                "federated": "federated.self_s"}


class Tracer:
    """In-memory spans (name, start, end, parent) on the wall clock, which
    is also the clock of the event log's timestamps."""

    def __init__(self, sc):
        self.sc = sc
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1]["name"] if self._stack else None,
               "group": group}
        self.spans.append(rec)
        self._stack.append(rec)
        if group:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def children(self, parent: str) -> list[str]:
        return [s["name"] for s in self.spans if s["parent"] == parent]

    def self_time(self, name: str) -> float:
        """Span duration minus the part of it covered by child spans of
        other layers (a layer's own call spans are named ``<layer>...``)."""
        total = 0.0
        for s in (s for s in self.spans if s["name"] == name):
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == name
                          and not c["name"].startswith(name)
                          and s["start"] <= c["start"] <= s["end"])
            covered, edge = 0.0, s["start"]
            for a, b in kids:
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            total += (s["end"] - s["start"]) - covered
        return total

    def group_of(self, submitted: float) -> str | None:
        """Innermost grouped span open at ``submitted``."""
        best = None
        for s in self.spans:
            if s["group"] and s["start"] <= submitted <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["name"] if best else None

    def write(self, path: str):
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def read_event_log(log_dir: str, tracer: Tracer) -> dict:
    """Per job group: jobs, stages, tasks and summed task metrics."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    job_group, stage_job, done_stages = {}, {}, set()
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_b": 0, "spill_b": 0, "rows_out": 0,
            "bytes_out": 0})

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                name = (props.get("spark.jobGroup.id")
                        or tracer.group_of(ev["Submission Time"] / 1000.0))
                job_group[ev["Job ID"]] = name
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
                if name:
                    g(name)["jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                name = job_group.get(stage_job.get(sid))
                if name and sid not in done_stages:
                    done_stages.add(sid)
                    g(name)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                name = job_group.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if not name or not m:
                    continue
                r = g(name)
                r["tasks"] += 1
                r["task_s"] += m["Executor Run Time"] / 1e3
                r["cpu_s"] += m["Executor CPU Time"] / 1e9
                r["gc_s"] += m["JVM GC Time"] / 1e3
                r["shuffle_b"] += m["Shuffle Write Metrics"][
                    "Shuffle Bytes Written"]
                r["spill_b"] += m["Disk Bytes Spilled"]
                out = m.get("Output Metrics") or {}
                r["rows_out"] += out.get("Records Written", 0)
                r["bytes_out"] += out.get("Bytes Written", 0)
    return groups


def drive_layers(spark, corpus_dir: str, work: str, cfg, tr: Tracer) -> dict:
    """Drive every layer once, in dependency order, through its public
    functions; returns the counts measured at the layer boundaries."""
    from pyspark.sql import functions as F

    from aopwiki_spark import federated as FED
    from aopwiki_spark import genes as G
    from aopwiki_spark import ner as N
    from aopwiki_spark import pipeline as P
    from aopwiki_spark import sparqlcorpus as SC
    from aopwiki_spark.parse import parse_entities
    from aopwiki_spark.session import read_dim, read_docs

    counts = {}
    pdir = os.path.join(work, "parse")
    with tr.span("parse", group=True):
        with tr.span("parse.input_cache"):
            docs = read_docs(spark, corpus_dir).persist()
            docs.count()
        with tr.span("parse.parse_entities"):
            ents = parse_entities(docs)
        with tr.span("parse.write"):
            for name, df in ents.items():
                df.write.mode("overwrite").parquet(os.path.join(pdir, name))
        docs.unpersist()

    inp = P.Inputs(spark, corpus_dir, config=cfg, ents={
        n: spark.read.parquet(os.path.join(pdir, n)) for n in ents})
    texts = (inp.ents["kes"].select(G.longlit(F.col("description")).alias("t"))
             .where(F.col("t").isNotNull()))
    for c in ("description", "bio_plausibility", "empirical_support"):
        texts = texts.unionByName(
            inp.ents["kers"].select(G.longlit(F.col(c)).alias("t"))
            .where(F.col("t").isNotNull()))

    with tr.span("genes", group=True):
        with tr.span("genes.dict_build"):
            inp._detect = G.make_detector_udf(
                spark, read_dim(spark, corpus_dir, "hgnc_dim"))
        with tr.span("genes.detect"):
            r = (texts.select(F.size(inp.detect(F.col("t"))).alias("n"),
                              F.octet_length("t").alias("b"))
                 .agg(F.count("*"), F.count_if(F.col("n") > 0), F.sum("b"))
                 .first())
    counts["genes.texts_in"], counts["genes.texts_hit"] = r[0], r[1]
    counts["genes.udf_mb_in"] = (r[2] or 0) / 1e6

    ner_texts = texts.select(N.ner_input(F.col("t")).alias("t"))
    with tr.span("ner", group=True):
        with tr.span("ner.model_build"):
            inp._ner_udf = N.make_ner_udf(
                spark, read_dim(spark, corpus_dir, "ner_dim"),
                min_prob=cfg.ner_min_prob, chunk_chars=cfg.ner_chunk_chars)
        with tr.span("ner.detect"):
            ner_texts.select(F.size(inp.ner_udf(F.col("t"))).alias("n")) \
                     .agg(F.sum("n")).first()
    counts["ner.chunks"] = sum(
        len(N.chunk_sentences(row.t, cfg.ner_chunk_chars))
        for row in ner_texts.collect() if row.t)

    gdir = os.path.join(work, "gene_table")
    with tr.span("gene_table", group=True):
        P.gene_table(inp).write.mode("overwrite").parquet(gdir)
    inp._assoc = spark.read.parquet(gdir)

    with tr.span("linking", group=True):
        with tr.span("linking.chem"):
            inp.chem_linked.count()
        with tr.span("linking.pro"):
            inp.pro_links.count()
        with tr.span("linking.gene_xref"):
            inp.found_x().count()

    staging = os.path.join(work, "parts")
    by_graph: dict[str, list[str]] = {}
    with tr.span("triples", group=True):
        for name, (graph, thunk) in P.part_builders(inp).items():
            by_graph.setdefault(graph, []).append(name)
            with tr.span(f"triples.{name}"):
                thunk().select(F.lit(graph).alias("graph"), "subj", "pred",
                               "obj") \
                    .write.mode("overwrite") \
                    .parquet(os.path.join(staging, f"part={name}"))

    final = os.path.join(work, "triples")
    with tr.span("pipeline.dedup", group=True):
        for graph, names in by_graph.items():
            with tr.span(f"pipeline.dedup_{graph}"):
                staged = spark.read.option("basePath", staging).parquet(
                    *[os.path.join(staging, f"part={n}") for n in names])
                P.dedup_triples(staged).select("subj", "pred", "obj") \
                    .write.mode("overwrite") \
                    .parquet(os.path.join(final, f"graph={graph}"))

    with tr.span("labels", group=True):
        with tr.span("labels.coverage"):
            P.label_coverage_report(inp)
    inp.cleanup()

    triples = spark.read.parquet(final)
    with tr.span("sparqlcorpus", group=True):
        with tr.span("sparqlcorpus.load"):
            SC.endpoint_view(triples).count()
        for q, fn in SC.CORPUS.items():
            with tr.span(f"sparqlcorpus.{q.removeprefix('kg_sparql_')}"):
                fn(spark, triples).collect()
    with tr.span("federated", group=True):
        for q, fn in FED.FED_CORPUS.items():
            with tr.span(f"federated.{q.removeprefix('kg_fed_')}"):
                fn(spark, triples).collect()
    SC.evict_view(triples)
    return counts


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_mb_in", "MB"),
                         ("bytes_out", "B"), ("_ratio", "ratio"),
                         ("_util", "ratio"), ("overlap", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def layer_metrics(tr: Tracer, groups: dict, counts: dict, builds: dict,
                  cpus: int) -> dict:
    """The per-layer metrics of BENCHMARK.json, as {name: value}."""
    def task_s(name):
        return groups.get(name, {}).get("task_s", 0.0)

    m = {"session.start_s": tr.wall("session")}
    m["parse.input_cache_s"] = tr.wall("parse.input_cache")
    m["parse.write_s"] = tr.wall("parse.write")
    m["parse.task_s"] = task_s("parse")
    m["parse.rows_out"] = groups["parse"]["rows_out"]
    m["parse.bytes_out"] = groups["parse"]["bytes_out"]
    m["genes.dict_build_s"] = tr.wall("genes.dict_build")
    m["genes.detect_s"] = tr.wall("genes.detect")
    m["genes.task_s"] = task_s("genes")
    m["genes.texts_in"] = counts["genes.texts_in"]
    m["genes.texts_hit"] = counts["genes.texts_hit"]
    m["genes.hit_ratio"] = (counts["genes.texts_hit"]
                            / max(counts["genes.texts_in"], 1))
    m["genes.udf_mb_in"] = counts["genes.udf_mb_in"]
    m["genes.table_s"] = tr.wall("gene_table")
    m["ner.model_build_s"] = tr.wall("ner.model_build")
    m["ner.detect_s"] = tr.wall("ner.detect")
    m["ner.task_s"] = task_s("ner")
    m["ner.chunks"] = counts["ner.chunks"]
    for k in ("chem", "pro", "gene_xref"):
        m[f"linking.{k}_s"] = tr.wall(f"linking.{k}")
    m["linking.task_s"] = task_s("linking")
    for name in tr.children("triples"):  # one per pipeline.part_builders part
        m[f"{name}_s"] = tr.wall(name)
    m["triples.rows_out"] = groups["triples"]["rows_out"]
    m["triples.jobs"] = groups["triples"]["jobs"]
    m["triples.task_s"] = task_s("triples")
    m["labels.coverage_s"] = tr.wall("labels.coverage")
    m["labels.task_s"] = task_s("labels")
    for name in tr.children("pipeline.dedup"):  # one per graph
        m[f"{name}_s"] = tr.wall(name)
    m["pipeline.dedup_keep_ratio"] = (groups["pipeline.dedup"]["rows_out"]
                                      / max(groups["triples"]["rows_out"], 1))
    b = groups["pipeline.build"]
    build_s = builds["traced_s"]
    m["pipeline.build_s"] = build_s
    m["pipeline.shuffle_mb"] = b["shuffle_b"] / 1e6
    m["pipeline.spill_mb"] = b["spill_b"] / 1e6
    m["pipeline.gc_s"] = b["gc_s"]
    for k in ("jobs", "stages", "tasks", "task_s", "cpu_s"):
        m[f"pipeline.{k}"] = b[k]
    m["pipeline.core_util"] = b["task_s"] / (build_s * cpus)
    m["pipeline.overlap"] = sum(tr.wall(x) for x in BUILD_LAYERS) / build_s
    m["pipeline.persist_leaked"] = builds["persist_leaked"]
    m["sparqlcorpus.load_s"] = tr.wall("sparqlcorpus.load")
    for layer in ("sparqlcorpus", "federated"):  # one span per query
        for name in tr.children(layer):
            if name != "sparqlcorpus.load":
                m[f"{name}_ms"] = tr.wall(name) * 1e3
        m[f"{layer}.task_s"] = task_s(layer)
    for span, name in SELF_METRICS.items():
        m[name] = tr.self_time(span)
    m["trace.overhead_s"] = build_s - builds["untraced_s"]
    return m
