#!/usr/bin/env python
"""Round-7 optimization-side benchmarks (bench.py is FROZEN for measurement).

Modes:
  --kg-stages   per-stage wall breakdown of the kg pipeline (extract/
                checkpoint, fuzzy LSH chain, connected components, final
                join) at an arbitrary conversation count.
  --queries     noop-sink isolation (guide §1.4) of the headline queries:
                each query's DataFrame is written to format("noop") so the
                computation is timed without sink or driver-collect effects;
                best of N with steal recorded.
  --explain     dump .explain("formatted") for the headline queries to
                plans/r07/<query>_<tag>.txt.

Usage examples:
  python bench_extra.py --kg-stages --convs 12000
  python bench_extra.py --queries --sf-dir /root/testdata/sf0.1 --repeats 3
  python bench_extra.py --explain --tag before
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import (  # noqa: E402
    DEFAULT_CPUS,
    DEFAULT_SF_DIR,
    build_spark,
    headline_queries,
    read_steal_seconds,
    sf_of,
)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def kg_stages(spark, n_convs: int, cpus: int, model_cost_ms: float = 0.0):
    from information_extraction_t5_spark.data import synth
    from information_extraction_t5_spark.pipeline import (
        PipelineConfig,
        canonicalize_subjects,
        fuzzy_name_edges,
    )
    from information_extraction_t5_spark.operators.canonicalize import (
        canonical_entities,
    )
    from information_extraction_t5_spark.functions.text import normalize_answer
    from pyspark.sql import functions as F

    cfg = PipelineConfig(model_cost_ms=model_cost_ms, fuzzy_hash="xxhash64",
                         model_tasks_per_core=2 if model_cost_ms == 0 else 4)
    sc = spark.sparkContext
    out = {}

    # warmup identical to bench.run_kg_pipeline
    warm = synth.transcripts_df(spark, 100, partitions=2 * cpus)
    from information_extraction_t5_spark.pipeline import run_pipeline
    run_pipeline(spark, warm, PipelineConfig(
        fuzzy_hash="xxhash64",
        model_tasks_per_core=cfg.model_tasks_per_core)).count()

    transcripts = synth.transcripts_df(
        spark, n_convs, partitions=max(4 * cpus, 16)
    ).localCheckpoint(eager=True)

    t_all0 = time.time()

    sc.setJobDescription("kg: fused extract->triples checkpoint")
    t0 = time.time()
    from information_extraction_t5_spark.operators.linking import (
        alias_df,
        link_aliases,
    )
    from information_extraction_t5_spark.pipeline import extract_triples
    triples = link_aliases(
        extract_triples(spark, transcripts, cfg), alias_df(spark),
        value_col="obj", out_col="obj",
        predicates=cfg.link_predicates, pred_col="pred",
    ).localCheckpoint()
    out["extract_triples_ckpt"] = round(time.time() - t0, 3)
    out["n_triples_ckpt"] = triples.count()

    sc.setJobDescription("kg: fuzzy name edges (LSH chain)")
    t0 = time.time()
    extra = fuzzy_name_edges(triples, cfg.fuzzy_link_max_dist, cfg.fuzzy_hash)
    extra = extra.localCheckpoint(eager=True)
    out["fuzzy_edges"] = round(time.time() - t0, 3)
    out["n_fuzzy_edges"] = extra.count()

    sc.setJobDescription("kg: canonical entities (CC)")
    t0 = time.time()
    keys = (
        triples.filter(F.col("pred").isin("form.cpf", "form.nome_completo"))
        .select(
            "conv_id",
            F.concat(F.col("pred"), F.lit("="),
                     normalize_answer(F.col("obj"))).alias("mention_key"),
        )
    )
    mapping = canonical_entities(keys, "conv_id", "mention_key",
                                 extra_edges=extra,
                                 driver_threshold=cfg.cc_driver_threshold)
    mapping = mapping.localCheckpoint(eager=True)
    out["canonical_cc"] = round(time.time() - t0, 3)
    out["n_mapping"] = mapping.count()

    sc.setJobDescription("kg: final join + count")
    t0 = time.time()
    final = (
        triples.join(mapping.withColumnRenamed("mention", "conv_id"),
                     "conv_id", "left")
        .withColumn("subj", F.concat(
            F.lit("ent:"),
            F.coalesce(F.col("canonical_id"), F.col("conv_id"))))
        .drop("canonical_id")
    )
    out["n_final"] = final.count()
    out["final_join_count"] = round(time.time() - t0, 3)
    out["total_stages"] = round(time.time() - t_all0, 3)
    sc.setJobDescription(None)
    return out


def run_queries(spark, sf_dir: str, repeats: int):
    sc = spark.sparkContext
    out = {}
    for name, fn in headline_queries().items():
        per = []
        for i in range(repeats):
            sc.setJobDescription(f"q:{name} [{i}]")
            s0 = read_steal_seconds()
            t0 = time.time()
            noop(fn(spark, sf_dir))
            per.append((round(time.time() - t0, 3),
                        round(max(read_steal_seconds() - s0, 0.0), 1)))
        sc.setJobDescription(None)
        out[name] = {"best": min(w for w, _ in per), "samples": per}
    return out


def dump_explains(spark, sf_dir: str, tag: str, names=None):
    os.makedirs("plans/r07", exist_ok=True)
    qs = headline_queries()
    for name, fn in qs.items():
        if names and name not in names:
            continue
        df = fn(spark, sf_dir)
        path = f"plans/r07/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print("wrote", path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--kg-stages", action="store_true")
    ap.add_argument("--queries", action="store_true")
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--convs", type=int, default=12000)
    ap.add_argument("--model-cost-ms", type=float, default=0.0)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    spark = build_spark(args.cpus)
    res = {"sf": sf_of(args.sf_dir), "cpus": args.cpus}
    if args.kg_stages:
        res["kg_stages"] = kg_stages(spark, args.convs, args.cpus,
                                     args.model_cost_ms)
    if args.queries:
        res["queries"] = run_queries(spark, args.sf_dir, args.repeats)
    if args.explain:
        dump_explains(spark, args.sf_dir, args.tag, args.only)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
