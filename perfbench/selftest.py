"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. Runs every workload of BENCHMARK.json at a tiny size, untraced and
   traced, and checks that each declared metric is printed with its unit.
2. Runs one checkpointed job, corrupts one output row on disk in three ways
   (wrong text, dropped, duplicated) and checks that each corruption counts
   exactly one failed turn, and that an off-by-one observed count does too.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import check, run, workloads  # noqa: E402

TINY = 400


def check_printed_metrics(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, "perfbench/run.py", "--workload", w["name"], "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--turns", str(TINY)]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-4000:])
                raise AssertionError(f"{' '.join(cmd)} exited {r.returncode}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= TINY, res
            assert sorted(res["metrics"]) == sorted(m["name"] for m in declared)
            for m in declared:
                got = res["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (m, got)
                assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), (m, got)
            print(f"ok: {w['name']} --trace {trace}: {len(declared)} metrics", flush=True)


def _rewrite(path: str, fn) -> None:
    pq.write_table(fn(pq.read_table(path)), path)


def check_corruption() -> None:
    from paddleocr_spark.session import get_spark
    from paddleocr_spark.sinks.checkpoint import run_extract_job
    from paddleocr_spark.sources import read_transcripts

    work = run.make_work_dir("selftest")
    spark = None
    try:
        w = workloads.Workload("tiny", workloads.KINDS, TINY)
        inputs = workloads.build(w, 7, os.path.join(work, "input"))
        expected = set(inputs.keys())
        spark = get_spark("perfbench-selftest", cores=2, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        out = os.path.join(work, "ckpt")
        run_extract_job(spark, read_transcripts(spark, inputs.path), out)
        assert check.failed_turns(check.read_job_output(out), expected, inputs.oracle) == 0

        # the parquet file that holds one oracle-sampled turn
        conv, turn = next(iter(inputs.oracle))
        files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out, "data"))
                 for f in fs if f.endswith(".parquet")]
        path = next(p for p in files
                    if (conv, turn) in set(zip(pq.read_table(p).column("conv_id").to_pylist(),
                                               pq.read_table(p).column("turn_idx").to_pylist())))
        original = pq.read_table(path)
        hit = pc.and_(pc.equal(original["conv_id"], conv), pc.equal(original["turn_idx"], turn))
        corruptions = {
            "wrong text": lambda t: t.set_column(
                t.schema.get_field_index("extracted_text"), "extracted_text",
                pc.if_else(hit, pa.scalar("corrupted"), t["extracted_text"])),
            "dropped": lambda t: t.filter(pc.invert(hit)),
            "duplicated": lambda t: pa.concat_tables([t, t.filter(hit)]),
        }
        for name, fn in corruptions.items():
            _rewrite(path, fn)
            n = check.failed_turns(check.read_job_output(out), expected, inputs.oracle)
            assert n == 1, f"{name}: failed_turns {n}, want 1"
            pq.write_table(original, path)
            print(f"ok: {name} row counts 1 failed turn", flush=True)
        obs = {"turns": inputs.n_turns - 1, "key_xor": 0, "text_chars": 0}
        assert check.failed_observed(obs, inputs.n_turns, 0, 0) == 1
        print("ok: a missing row in the noop sink counts 1 failed turn", flush=True)
    finally:
        if spark is not None:
            spark.stop()
        run.shutdown_jvm()
        run.remove_work_dir(work)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_corruption()
    check_printed_metrics(spec)
    print("selftest passed")


if __name__ == "__main__":
    main()
