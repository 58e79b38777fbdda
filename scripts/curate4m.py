"""Round-4 evidence run: the full curation chain (near_dedup=True) at 4.06M
turns (sf0.1 corpus x 100 reps) — the r03 verdict's item #3. Records wall,
per-stage Observation counts and the CC round count; results go to BENCH.md.

Usage: python scripts/curate4m.py [reps] [out_root]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from paddleocr_spark.corpus import transcripts_df
from paddleocr_spark.operators.extract import extract
from paddleocr_spark.plans.curate import run_curate
from paddleocr_spark.session import get_spark


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    root = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/curate4m"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 256 shuffle partitions (not the local-test default max(cores,8)=32):
    # the exact-dedup window and LSH stages shuffle ~6 GB of text rows at 4M
    # turns, and 32 concurrent text-sort tasks at 1/32nd each overflow the
    # 8g sandbox heap. More, smaller partitions is the 100 TB answer (size
    # partitions to fit executor memory); AQE coalesces them back when small.
    # Memory shape at 4M turns on one 32-thread JVM: the LSH/dedup stages
    # explode text into shingle rows map-side, so BOTH knobs matter —
    # smaller input splits (32m → each concurrent task holds 1/4 the text)
    # and more shuffle partitions (256 → reduce-side sorts fit). 16g heap
    # (AlwaysPreTouch in session.py prefaults it, so the sandbox's lazy-
    # restore fault path is paid once at startup, not per GC region). On a
    # real cluster this is just executor sizing; local[32] shares one heap.
    os.environ.setdefault("SPARK_DRIVER_MEM", "28g")
    spark = get_spark(
        "curate4m",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=256,
        extra_conf={"spark.sql.files.maxPartitionBytes": "32m"},
    )

    corpus_path = f"{root}/corpus.parquet"
    extracted_path = f"{root}/extracted.parquet"
    out_dir = f"{root}/shards"
    shutil.rmtree(out_dir, ignore_errors=True)

    t0 = time.time()
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        transcripts_df(spark, sf_dir, reps=reps).write.mode("overwrite").parquet(
            corpus_path
        )
    t_corpus = time.time() - t0

    t0 = time.time()
    if not os.path.exists(os.path.join(extracted_path, "_SUCCESS")):
        extract(spark.read.parquet(corpus_path)).select(
            "conv_id", "turn_idx", "extracted_text"
        ).write.mode("overwrite").parquet(extracted_path)
    t_extract = time.time() - t0

    extracted = spark.read.parquet(extracted_path)
    n = extracted.count()

    t0 = time.time()
    metrics = run_curate(extracted, out_dir, near_dedup=True)
    wall = time.time() - t0

    print(
        json.dumps(
            {
                "turns": n,
                "reps": reps,
                "corpus_setup_s": round(t_corpus, 1),
                "extract_setup_s": round(t_extract, 1),
                "curate_wall_s": round(wall, 1),
                **metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
