"""Cross-run Bloom dedup (plans/crossrun.py + job.py --dedup-against):
a second run over an overlapping corpus keeps only novel turns, the probe is
a pure projection (no join/exchange), state chains across runs, and the
job-level CLI path records counters in the summary."""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from paddleocr_spark.plans.crossrun import (
    cross_run_fp,
    filter_novel,
    record_run_bloom,
)


def _turns(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("payload text number "), F.col("id").cast("string")).alias(
            "text"
        ),
    )


def test_filter_novel_keeps_exactly_new_rows(spark, tmp_path):
    out1 = str(tmp_path / "run1")
    a = _turns(spark, 0, 300)
    record_run_bloom(spark, a, out1)

    b = _turns(spark, 0, 350)  # 300 seen + 50 novel
    novel, obs = filter_novel(b, out1)
    got = sorted(r["turn_idx"] for r in novel.collect())
    assert got == list(range(300, 350))  # no false positives at this density
    m = dict(obs.get)
    assert m["turns_probed"] == 350 and m["turns_skipped_prior"] == 300

    # chaining: run 2 records novel turns + folds run 1's bitmap in
    out2 = str(tmp_path / "run2")
    record_run_bloom(spark, novel, out2, include_prior=out1)
    c = _turns(spark, 0, 400)
    novel2, _ = filter_novel(c, out2)
    assert sorted(r["turn_idx"] for r in novel2.collect()) == list(range(350, 400))


def test_probe_is_pure_projection(spark, tmp_path):
    """The 100 TB contract: membership is bit lookups inside the scan
    projection — NO join, NO exchange anywhere in the probe plan."""
    out1 = str(tmp_path / "run1")
    record_run_bloom(spark, _turns(spark, 0, 100), out1)
    novel, _ = filter_novel(_turns(spark, 0, 120), out1)
    plan = novel._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "CollectMetrics" in plan  # the counters ride the scan


def test_content_key_dedups_across_conversations(spark, tmp_path):
    out1 = str(tmp_path / "run1")
    a = _turns(spark, 0, 100)
    record_run_bloom(spark, a, out1, key="content")
    # same text, different conv/turn identity → still skipped under content key
    b = a.withColumn("conv_id", F.concat(F.lit("other-"), F.col("conv_id")))
    novel, _ = filter_novel(b, out1, key="content")
    assert novel.count() == 0
    # but kept under the turn key (different identity)
    out2 = str(tmp_path / "run2")
    record_run_bloom(spark, a, out2, key="turn")
    novel_t, _ = filter_novel(b, out2, key="turn")
    assert novel_t.count() == 100


def test_job_cli_dedup_against(tmp_path):
    """The verdict-#8 'done' shape: run job.py twice; the second run (reps=2,
    so rep 0 duplicates run 1's turns and rep 1 is novel) keeps exactly the
    novel rows and reports the skip counters in its summary."""
    words = "alpha bravo charlie delta echo foxtrot golf hotel".split()
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, 7), pa.int64()),
                "text": pa.array(
                    [" ".join(words[i % 4 : i % 4 + 4]) for i in range(6)]
                ),
            }
        ),
        str(sf / "documents.parquet"),
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}

    def run(extra):
        cmd = [sys.executable, os.path.join(root, "job.py"), "--sf-dir", str(sf),
               "--n-buckets", "4", "--no-salt"] + extra
        out = subprocess.run(cmd, capture_output=True, text=True, env=env,
                             timeout=420, cwd=str(tmp_path))
        assert out.returncode == 0, out.stderr[-3000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    s1 = run(["--out", out1, "--bloom-state"])
    assert s1["bloom_state"] == f"{out1}/bloom_state"
    n1 = s1["turns"]
    assert n1 == 24  # 6 docs x 4 turns

    s2 = run(["--out", out2, "--reps", "2", "--dedup-against", out1])
    xr = s2["cross_run_dedup"]
    assert xr["turns_probed"] == 2 * n1
    assert xr["turns_skipped_prior"] == n1  # rep 0 = run 1's turns, skipped
    assert s2["turns"] == n1  # only the novel rep-1 rows were extracted
