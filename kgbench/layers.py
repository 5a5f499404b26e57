"""Layer spans for the traced run.

``Layers`` wraps the layer functions the pipeline looks up at call time
(``pipeline.extract_triples``, ``pipeline.canonical_entities``, ...) so that
``run_pipeline`` itself runs traced.  Each wrapper opens a span, forces its
layer's output with an eager ``localCheckpoint`` (Spark is lazy: without it
the work would land in whichever layer first runs an action) and records
its counters in child spans of kind 'bench', whose time is the benchmark's
own overhead.  ``TracedCatalog`` adds a span per catalog stage.
"""
from __future__ import annotations

import functools
import os
import sys
from typing import Dict, List

from pyspark.sql import functions as F

from information_extraction_t5_spark import pipeline
from information_extraction_t5_spark.catalog import Catalog
from information_extraction_t5_spark.operators import canonicalize, linking

from kgbench import tracing

# span names of each layer; a layer's self time is the sum over its spans
LAYER_SPANS: Dict[str, List[str]] = {
    "extraction": ["extraction"],
    "windows": ["windows"],
    "postprocess": ["postprocess"],
    "linking": ["linking.alias", "linking.fuzzy"],
    "canonicalize": ["canonicalize", "canonicalize.entities"],
    "catalog": ["catalog.stage_extract", "catalog.stage_triples",
                "catalog.stage_canonical", "catalog.materialize",
                "catalog.resume_read"],
}


def _materialize(df):
    return df.localCheckpoint(eager=True)


class Layers:
    """Context manager that traces the pipeline's layer calls."""

    def __init__(self, tracer: tracing.Tracer):
        self.tr = tracer
        self._saved = []

    def count_rows(self, counter: str, df) -> int:
        with self.tr.span("bench.count", kind="bench"):
            n = df.count()
        self.tr.count(counter, n)
        return n

    def _layer(self, name, rows_in=None, rows_out=None):
        def make(orig):
            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                with self.tr.span(name):
                    if rows_in:
                        self.count_rows(rows_in, args[0])
                    out = _materialize(orig(*args, **kwargs))
                    if rows_out:
                        self.count_rows(rows_out, out)
                return out
            return wrapped
        return make

    def _lsh_names(self, orig):
        @functools.wraps(orig)
        def wrapped(df, *args, **kwargs):
            self.count_rows("linking.lsh_names", df)
            return orig(df, *args, **kwargs)
        return wrapped

    def _entities(self, orig):
        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.tr.span("canonicalize.entities"):
                # not checkpointed: that would drop the broadcast hint the
                # driver union-find path puts on its output, and that path
                # has already run its jobs inside the call
                out = orig(*args, **kwargs)
                with self.tr.span("bench.components", kind="bench"):
                    row = (
                        out.filter(F.col("mention") != F.col("canonical_id"))
                        .groupBy("canonical_id").count()
                        .agg(F.count(F.lit(1)).alias("c"),
                             F.max("count").alias("m"))
                        .head()
                    )
                self.tr.count("canonicalize.components", row["c"])
                self.tr.count("canonicalize.max_component",
                              (row["m"] or 0) + 1)
            return out
        return wrapped

    def _components(self, orig):
        @functools.wraps(orig)
        def wrapped(edges, *args, **kwargs):
            edges = _materialize(edges)
            self.count_rows("canonicalize.edges", edges)
            return orig(edges, *args, **kwargs)
        return wrapped

    def _graph(self, orig):
        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.tr.span("catalog.materialize"):
                return orig(*args, **kwargs)
        return wrapped

    def _wrap(self, module, attr, make) -> None:
        orig = getattr(module, attr, None)
        if orig is None:
            print(f"kgbench: {module.__name__}.{attr} not found, its layer "
                  f"is not traced", file=sys.stderr)
            return
        self._saved.append((module, attr, orig))
        setattr(module, attr, make(orig))

    def __enter__(self) -> "Layers":
        for attr in ("extract_triples", "extract_candidates"):
            self._wrap(pipeline, attr, self._layer(
                "extraction", rows_out="extraction.rows_out"))
        self._wrap(pipeline, "top1_window", self._layer(
            "postprocess", rows_in="postprocess.rows_in"))
        self._wrap(pipeline, "best_to_triples", self._layer(
            "postprocess", rows_out="postprocess.rows_out"))
        self._wrap(pipeline, "link_aliases", self._layer("linking.alias"))
        self._wrap(pipeline, "fuzzy_name_edges", self._layer(
            "linking.fuzzy", rows_out="linking.fuzzy_edges"))
        self._wrap(linking, "lsh_candidate_pairs", self._lsh_names)
        self._wrap(pipeline, "canonicalize_subjects",
                   self._layer("canonicalize"))
        self._wrap(pipeline, "canonical_entities", self._entities)
        self._wrap(canonicalize, "connected_components_star",
                   self._components)
        self._wrap(pipeline, "materialize_graph", self._graph)
        return self

    def __exit__(self, *exc) -> None:
        for module, attr, orig in reversed(self._saved):
            setattr(module, attr, orig)
        self._saved.clear()


class TracedCatalog(Catalog):
    """Catalog whose stages run in spans: 'catalog.<stage>' when the stage
    computes and commits, 'catalog.resume_read' when it reads a committed
    snapshot back."""

    def __init__(self, tracer: tracing.Tracer, *args, **kwargs):
        self.tracer = tracer
        super().__init__(*args, **kwargs)

    def stage(self, name, build, partition_by=None, force=False,
              extra_lineage=None):
        resumed = not force and self.exists(name)
        label = "catalog.resume_read" if resumed else f"catalog.{name}"
        with self.tracer.span(label):
            return super().stage(name, build, partition_by=partition_by,
                                 force=force, extra_lineage=extra_lineage)


def tree_size(path: str):
    """(files, bytes) under a directory."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _subtree(spans: List[tracing.Span], root: tracing.Span):
    ids = {root.span_id}
    for s in spans:  # spans are recorded parent-first
        if s.parent in ids:
            ids.add(s.span_id)
    return [s for s in spans if s.span_id in ids]


def run_metrics(spans: List[tracing.Span], log: tracing.EventLog,
                cores: int) -> Dict[str, float]:
    """Per-layer metrics of one traced run.

    Layer and engine metrics describe the first call (the 'job' root, whose
    time is ``job_s``) and the windows probe; ``catalog.resume_read_s`` is
    the mean over the resumed calls ('resume' roots)."""
    st = tracing.self_times(spans)
    job_root = next(s for s in spans if s.name == "job")
    job = _subtree(spans, job_root)
    probes = [s for s in spans if s.kind == "probe"]
    probe_tree = [t for p in probes for t in _subtree(spans, p)]
    named: Dict[str, List[tracing.Span]] = {}
    for s in job + probe_tree:
        named.setdefault(s.name, []).append(s)

    def ids(*names):
        return [s.span_id for n in names for s in named.get(n, ())]

    def self_s(*names):
        return sum(st[s.span_id] for n in names for s in named.get(n, ()))

    def counter(key):
        return sum(s.counters.get(key, 0) for s in job + probe_tree)

    m: Dict[str, float] = {}
    ext = tracing.engine_totals(log, ids("extraction"))
    m["extraction.self_s"] = self_s("extraction")
    m["extraction.tasks"] = ext["tasks"]
    busy_den = m["extraction.self_s"] * cores
    m["extraction.busy_frac"] = ext["run_s"] / busy_den if busy_den else 0.0
    m["extraction.task_skew"] = tracing.heaviest_stage_skew(
        log, ids("extraction"))
    m["extraction.shuffle_write_bytes"] = ext["shuffle_write_bytes"]
    m["extraction.rows_out"] = counter("extraction.rows_out")

    m["windows.self_s"] = self_s("windows")
    m["windows.count"] = counter("windows.count")

    post = tracing.engine_totals(log, ids("postprocess"))
    m["postprocess.self_s"] = self_s("postprocess")
    m["postprocess.shuffle_write_bytes"] = post["shuffle_write_bytes"]
    m["postprocess.rows_in"] = counter("postprocess.rows_in")
    m["postprocess.rows_out"] = counter("postprocess.rows_out")

    link = tracing.engine_totals(log, ids(*LAYER_SPANS["linking"]))
    m["linking.alias_s"] = self_s("linking.alias")
    m["linking.fuzzy_s"] = self_s("linking.fuzzy")
    m["linking.lsh_names"] = counter("linking.lsh_names")
    m["linking.fuzzy_edges"] = counter("linking.fuzzy_edges")
    m["linking.shuffle_write_bytes"] = link["shuffle_write_bytes"]

    canon = tracing.engine_totals(log, ids(*LAYER_SPANS["canonicalize"]))
    m["canonicalize.self_s"] = self_s(*LAYER_SPANS["canonicalize"])
    m["canonicalize.join_s"] = self_s("canonicalize")
    m["canonicalize.edges"] = counter("canonicalize.edges")
    m["canonicalize.components"] = counter("canonicalize.components")
    m["canonicalize.max_component"] = counter("canonicalize.max_component")
    m["canonicalize.jobs"] = canon["jobs"]
    m["canonicalize.shuffle_write_bytes"] = canon["shuffle_write_bytes"]

    for stage in ("stage_extract", "stage_triples", "stage_canonical"):
        m[f"catalog.{stage}_s"] = self_s(f"catalog.{stage}")
    m["catalog.materialize_s"] = self_s("catalog.materialize")
    m["catalog.files_written"] = counter("catalog.files_written")
    m["catalog.bytes_written"] = counter("catalog.bytes_written")
    resumes = [s for s in spans if s.name == "resume"]
    reads = [st[t.span_id] for r in resumes for t in _subtree(spans, r)
             if t.name == "catalog.resume_read"]
    m["catalog.resume_read_s"] = sum(reads) / len(resumes) if resumes else 0.0

    engine = tracing.engine_totals(
        log, [s.span_id for s in job if s.kind != "bench"])
    m["spark.jobs"] = engine["jobs"]
    m["spark.tasks"] = engine["tasks"]
    m["spark.task_failures"] = engine["task_failures"]
    m["spark.spill_bytes"] = engine["spill_bytes"]
    m["spark.gc_s"] = engine["gc_s"]
    m["spark.scheduler_delay_s"] = engine["scheduler_delay_s"]

    layer_names = {n for names in LAYER_SPANS.values() for n in names}
    m["trace.wall_s"] = job_root.duration
    m["trace.layers_s"] = sum(st[s.span_id] for s in job
                              if s.name in layer_names)
    m["trace.bench_s"] = sum(st[s.span_id] for s in job if s.kind == "bench")
    m["trace.other_s"] = st[job_root.span_id]
    return m
