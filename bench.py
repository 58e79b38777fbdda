"""Benchmark harness — prints ONE JSON line.

Headline metric (BASELINE.json): extracted turns/sec for the full pipeline
(corpus read → sniff → tokenize → score → order → assemble → noop sink).
Corpus generation is a one-time untimed setup step (written to a temp parquet)
so the timed number is extraction, not synthesis.

Env:
  SPARK_GRAFT_SF_DIR  input scale dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default 32)
  BENCH_CORPUS_DIR    where the synthesized corpus parquet is cached
  BENCH_REPS          corpus multiplier for the extract headline (default
                      10 → ~406k turns at sf0.1): at 1× the 40k-turn input
                      is fixed-cost dominated (scheduling + warmup residue
                      ~60% of wall) and the number measures the harness,
                      not the pipeline
  BENCH_SAMPLES       timed samples per query (default 5). The host's
                      lazily-restored memory makes single-shot walls swing
                      2x on identical code (round-2 text_stats 0.80->1.72 s,
                      ann_topk 0.97->2.38 s, byte-identical operators), so
                      each query reports its MEDIAN wall with min/max
                      alongside — dispersion is part of the contract, not a
                      side channel.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from paddleocr_spark.corpus import (
    BASE_TURNS,
    SKEW_FACTOR,
    SKEW_MOD,
    transcripts_df,
)
from paddleocr_spark.operators.extract import extract
from paddleocr_spark.plans.flagship import _tag
from paddleocr_spark.session import get_spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("BENCH_REPS", "10"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    corpus_root = os.environ.get("BENCH_CORPUS_DIR", "/tmp/paddleocr_spark_bench")
    # keyed like flagship's cache (corpus version, sf dir, reps and the
    # size/mtime of documents.parquet): a corpus-generation change or a
    # replaced source file must regenerate, never silently reuse an old mix
    corpus_path = os.path.join(corpus_root, f"corpus_{_tag(sf_dir, reps)}.parquet")

    spark = get_spark("bench", cores=cpus)

    # -- setup (untimed): synthesize + cache the transcript corpus ----------
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        transcripts_df(spark, sf_dir, reps=reps).write.mode("overwrite").parquet(
            corpus_path
        )

    samples = max(1, int(os.environ.get("BENCH_SAMPLES", "5")))
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}

    def timed(name, fn):
        walls = []
        for _ in range(samples):
            t0 = time.time()
            fn()
            walls.append(time.time() - t0)
        walls.sort()
        timings[name] = round(walls[len(walls) // 2], 3)  # median
        spread[name] = {
            "min": round(walls[0], 3),
            "max": round(walls[-1], 3),
            "n": len(walls),
        }

    transcripts = spark.read.parquet(corpus_path)
    n_turns = transcripts.count()

    # untimed warmup (the reference benchmarks after a warmup pass too —
    # /root/reference/tools/infer/predict_system.py:201-205): spins up the
    # Python UDF workers and JIT so the timed region is steady-state
    _noop(extract(transcripts.limit(2048)))

    # headline: full extraction pipeline
    timed("extract", lambda: _noop(extract(transcripts)))

    # per-kind attribution keys (round-5, VERDICT item 1): the corpus
    # evolves most in the real-PDF waves, so the headline extract wall
    # moves for reasons a single number can't attribute. These keys time
    # the SAME pipeline over the single-kind slice (SQL sniff filter —
    # pushes to the scan, no Python before the kernel) so a future wave's
    # cost lands on its payload kind. NEW keys — the longitudinal
    # contract on `extract` is untouched.
    from paddleocr_spark.operators.extract import with_payload_kind

    kinds = with_payload_kind(transcripts)
    for kname, kval in (("extract_pdf_real", "pdf_real"), ("extract_html", "html")):
        sub = kinds.filter(F.col("payload_kind") == kval).drop("payload_kind")
        _noop(extract(sub.limit(512)))
        timed(kname, lambda s=sub: _noop(extract(s)))

    # secondary operator benchmarks (training-data pipeline layer); each gets
    # the same untimed warmup pass as extract so codegen/JIT compilation is
    # not billed to the steady-state number.
    #
    # LONGITUDINAL CONTRACT: the legacy keys (text_stats, dedup_minhash,
    # ann_topk) are PINNED to the exact computations benched in rounds 1–3
    # so per-key walls stay comparable across rounds. Capability folded into
    # the driver registry later (dsir/bm25 scoring joins on text_stats,
    # connected components on dedup_minhash, semdedup/sketch columns) is
    # benched under its own NEW key below — a key never changes meaning.
    import __spark_entry__ as E
    from paddleocr_spark.operators import ann as ANN
    from paddleocr_spark.operators import dedup as DD
    from paddleocr_spark.operators import select as SEL
    from paddleocr_spark.operators import sketch as SK
    from paddleocr_spark.functions import textstats as TS

    # Route through the entry-module readers (which apply _par's repartition)
    # so a single-row-group parquet doesn't serialize the whole key on one
    # core — keeps per-key walls comparable to the rounds-1–3 numbers, which
    # were timed via q_* wrappers that read through the same helpers.
    def _docs():
        return E._docs(spark, sf_dir)

    def _emb():
        return E._emb(spark, sf_dir)

    legacy = {
        "text_stats": lambda: E._text_stats_base(_docs()),
        "dedup_minhash": lambda: DD.minhash_lsh_pairs(
            DD.with_near_dups(_docs())
        ),
        "ann_topk": lambda: E.q_ann_topk(spark, sf_dir),
    }
    new_ops = {
        "dedup_cc": lambda: DD.connected_components(
            DD.minhash_lsh_pairs(DD.with_near_dups(_docs()))
        ),
        "text_select": lambda: SEL.importance_scores(
            _docs().withColumn("is_target", F.col("lang") == "en")
        ).join(SEL.bm25_scores(_docs(), E._BM25_TERMS), "doc_id"),
        "semdedup": lambda: ANN.semdedup_verdicts(_emb()),
        "sketch": lambda: SK.hll_summary(
            _docs(), TS.norm_text(F.col("text"))
        ).join(
            SK.cm_sketch(
                _docs().select(
                    F.explode(TS.tokens(F.col("text"))).alias("tok")
                ),
                F.col("tok"),
            ).agg(F.sum("c").alias("cm_mass"))
        ),
    }
    for name, build in {**legacy, **new_ops}.items():
        _noop(build().limit(512))
        timed(name, lambda b=build: _noop(b()))

    # headline total stays the sum of the four round-1 keys (comparable
    # across BENCH_r*.json); value_all adds the new-operator keys
    legacy_keys = ("extract", "text_stats", "dedup_minhash", "ann_topk")
    total = round(sum(timings[k] for k in legacy_keys), 3)
    # the per-kind attribution keys re-time SLICES of the extract corpus,
    # so they are excluded from both totals (double counting would break
    # the longitudinal value_all contract)
    attribution_keys = ("extract_pdf_real", "extract_html")
    total_all = round(
        sum(v for k, v in timings.items() if k not in attribution_keys), 3
    )
    tps = round(n_turns / timings["extract"], 1) if timings["extract"] else 0.0
    print(
        json.dumps(
            {
                "metric": "extracted turns/sec (full pipeline, noop sink)",
                "value": total,
                "value_all": total_all,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "reps": reps,
                "turns": n_turns,
                "turns_per_sec": tps,
                "cpus": cpus,
                "samples_per_query": samples,
                "spread": spread,
            }
        )
    )


if __name__ == "__main__":
    main()
