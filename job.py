"""spark-submit entry point for the extraction pipeline.

Usage (the north-rule deployment unit)::

    python scripts/package.py                 # builds dist/engine.zip
    spark-submit --master local[32] --py-files dist/engine.zip job.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/extract_out

Reads/synthesizes the transcript corpus, runs the checkpointed extraction job
(resumable: rerun with the same --out skips committed buckets), prints a JSON
summary with lineage metrics.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from paddleocr_spark.corpus import transcripts_df
from paddleocr_spark.sinks.checkpoint import run_extract_job


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1",
                   help="testdata scale dir (documents.parquet feeds the corpus)")
    p.add_argument("--corpus", default=None,
                   help="pre-built transcripts source (parquet path or "
                   "catalog.db.table Iceberg name); overrides --sf-dir synthesis")
    p.add_argument("--out", required=True, help="checkpointed output dir")
    p.add_argument("--reps", type=int, default=1)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--group-size", type=int, default=None,
                   help="buckets per committed group; the default puts all "
                   "uncommitted buckets in one group. Smaller groups give "
                   "finer resume granularity but re-scan the input per group")
    p.add_argument(
        "--no-salt", action="store_true",
        help="skip the pre-UDF salted repartition (the 100 TB default: scan "
        "splits are already byte-uniform — docs/SCALE_100TB.md §2)",
    )
    # pipeline-mode flags (the reference's --recovery / --formula analogs)
    p.add_argument("--merge-paragraphs", action="store_true",
                   help="paragraph recovery on the pdf-like path "
                   "(check_merge_method analog; reference --recovery)")
    p.add_argument("--formula", action="store_true",
                   help="route $$...$$ display-math blocks to kind=formula "
                   "spans (reference formula branch)")
    p.add_argument("--layout-mode", choices=("xycut", "walk"), default="xycut",
                   help="pdf-like reading order: XY-cut (default) or the full "
                   "sorted_layout_boxes stateful walk")
    p.add_argument("--curate", default=None, metavar="DIR",
                   help="after extraction, run the curation chain over the "
                   "committed output (quality tier → exact dedup → curriculum "
                   "mix → sequence packing → deterministic shuffled shards) "
                   "and write training shards to DIR (plans/curate.py)")
    p.add_argument("--curate-max-tokens", type=int, default=2048)
    p.add_argument("--curate-shards", type=int, default=16)
    p.add_argument("--pack-mode", choices=("split", "greedy"), default="split",
                   help="split = GPT-style concat-and-split (zero-Python "
                   "window); greedy = no-split FirstFit per hash group")
    p.add_argument("--mix-rates", default="0.0,0.5,1.0",
                   help="per-tier keep fractions for the curriculum sample")
    p.add_argument("--dedup-against", default=None, metavar="RUN_DIR",
                   help="skip turns already ingested by the prior run whose "
                   "--out was RUN_DIR (loads its 8 KiB bloom state; "
                   "membership is codegen'd bit lookups in the scan "
                   "projection — never a join against the prior corpus; "
                   "plans/crossrun.py). Implies --bloom-state.")
    p.add_argument("--dedup-key", choices=("turn", "content"), default="turn",
                   help="cross-run identity: 'turn' = (conv_id, turn_idx, "
                   "text) — idempotent re-ingestion; 'content' = text alone "
                   "— cross-conversation content dedup")
    p.add_argument("--bloom-state", action="store_true",
                   help="after the job, record this run's turn-fingerprint "
                   "bloom state under --out so a later run can "
                   "--dedup-against it (one extra narrow pass)")
    p.add_argument("--publish", default=None, metavar="TABLE",
                   help="after the job completes, publish the committed "
                   "checkpoint data as a bucketed catalog table "
                   "(bucketBy(--n-buckets, conv_id)) — downstream equi-joins "
                   "and groupBys on conv_id then plan with no Exchange "
                   "(sinks/bucketed.py, docs/SCALE_100TB.md)")
    args = p.parse_args()

    spark = (
        SparkSession.builder.appName("paddleocr-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.corpus:
        from paddleocr_spark.sources import read_transcripts

        transcripts = read_transcripts(spark, args.corpus)
    else:
        transcripts = transcripts_df(spark, args.sf_dir, reps=args.reps)

    xrun_obs = None
    if args.dedup_against:
        from paddleocr_spark.plans.crossrun import filter_novel

        transcripts, xrun_obs = filter_novel(
            transcripts, args.dedup_against, key=args.dedup_key
        )

    from paddleocr_spark.config import ExtractConfig

    cfg = ExtractConfig(
        merge_paragraphs=args.merge_paragraphs,
        detect_formula=args.formula,
        layout_mode=args.layout_mode,
    )
    summary = run_extract_job(
        spark,
        transcripts,
        args.out,
        cfg=cfg,
        n_buckets=args.n_buckets,
        group_size=args.group_size,
        salt=not args.no_salt,
    )
    if args.bloom_state or args.dedup_against:
        from paddleocr_spark.plans.crossrun import record_run_bloom

        record_run_bloom(
            spark,
            transcripts,
            args.out,
            key=args.dedup_key,
            include_prior=args.dedup_against,
        )
        summary["bloom_state"] = f"{args.out}/bloom_state"
    if xrun_obs is not None:
        # read AFTER record_run_bloom: on a fully-resumed (no-op) extraction
        # the bloom pass is the action that populates the observation
        summary["cross_run_dedup"] = dict(xrun_obs.get)
    if args.curate:
        from paddleocr_spark.plans.curate import run_curate
        from paddleocr_spark.sinks.checkpoint import read_committed

        summary["curate"] = run_curate(
            read_committed(spark, args.out),
            args.curate,
            rates=tuple(float(r) for r in args.mix_rates.split(",")),
            max_tokens=args.curate_max_tokens,
            n_shards=args.curate_shards,
            pack_mode=args.pack_mode,
        )
    if args.publish:
        from paddleocr_spark.sinks.checkpoint import publish_bucketed

        summary["published_rows"] = publish_bucketed(
            spark, args.out, args.publish, n_buckets=args.n_buckets
        )
        summary["published_table"] = args.publish
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
