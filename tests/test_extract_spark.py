"""End-to-end Spark pipeline vs golden oracle (the north-rule invariant:
per-turn text equality under stable turn ordering), plus determinism across
partition layouts (SURVEY.md §5 new-engine test plan)."""

import pytest

from paddleocr_spark import corpus
from paddleocr_spark.oracle import oracle_extract
from paddleocr_spark.operators import extract, ordered_output
from paddleocr_spark.config import ExtractConfig


@pytest.fixture(scope="module")
def small_docs(doc_items):
    # 60 docs incl. doc_id 0 (skewed conv, 400 turns) → ~636 turns
    return doc_items[:60]


@pytest.fixture(scope="module")
def golden(small_docs):
    out = {}
    for row in corpus.generate_rows(small_docs):
        o = oracle_extract(row["text"])
        out[(row["conv_id"], row["turn_idx"])] = o
    return out


@pytest.fixture(scope="module")
def transcripts(spark, small_docs, sf_dir, tmp_path_factory):
    # build the same corpus through Spark from the documents scan
    ids = [d for d, _ in small_docs]
    df = corpus.transcripts_df(spark, sf_dir)
    return df.filter(df.conv_id.isin([corpus.conv_id_for(d, 0) for d in ids])).cache()


def test_spark_matches_golden(spark, transcripts, golden):
    res = extract(transcripts).collect()
    assert len(res) == len(golden)
    for r in res:
        o = golden[(r["conv_id"], r["turn_idx"])]
        assert r["payload_kind"] == o["kind"]
        assert r["extracted_text"] == o["extracted_text"], (r["conv_id"], r["turn_idx"])
        assert r["n_spans"] == o["n_spans"]
        assert r["n_dropped"] == o["n_dropped"]
        got = [(s["span_idx"], s["kind"], s["text"], s["score"],
                list(s["bbox"]) if s["bbox"] is not None else None) for s in r["spans"]]
        assert got == o["spans"], (r["conv_id"], r["turn_idx"])


def test_determinism_across_parallelism(spark, transcripts):
    """Same input at different partition counts ⇒ identical per-turn output."""
    def run(**kw):
        rows = extract(transcripts, **kw).select(
            "conv_id", "turn_idx", "extracted_text", "n_spans", "n_dropped"
        ).collect()
        return sorted((r["conv_id"], r["turn_idx"], r["extracted_text"],
                       r["n_spans"], r["n_dropped"]) for r in rows)

    a = run(num_partitions=2, salt=False)
    b = run(num_partitions=16, salt=True)
    c = run(num_partitions=7, salt=True)
    assert a == b == c


def test_ordered_output_is_sorted(spark, transcripts):
    df = ordered_output(extract(transcripts), num_partitions=4)
    rows = df.select("conv_id", "turn_idx").collect()
    # within each partition rows are sorted; ranges are disjoint and ascending
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    # global collect() preserves partition order → fully sorted sequence
    assert keys == sorted(keys)


def test_extract_ordered_single_pass_matches(spark, transcripts):
    """extract_ordered (range-partition raw input → one UDF pass → in-
    partition sort) must produce exactly the rows of the two-pass
    ordered_output(extract(...)) path, fully sorted."""
    from paddleocr_spark.operators import extract_ordered

    df = extract_ordered(transcripts, num_partitions=4)
    rows = df.select("conv_id", "turn_idx", "extracted_text").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert keys == sorted(keys)
    ref = ordered_output(extract(transcripts), num_partitions=4).select(
        "conv_id", "turn_idx", "extracted_text"
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in ref]


def test_payload_kind_filter_prunes(spark, transcripts):
    """payload_kind exists as a pure-SQL column so kind-filters stay JVM-side."""
    from paddleocr_spark.operators import with_payload_kind

    kinds = with_payload_kind(transcripts)
    only_html = kinds.filter("payload_kind = 'html'")
    ext = extract(only_html)
    assert ext.filter("payload_kind != 'html'").count() == 0
    plan = only_html._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # sniff is not a Python UDF


def test_salt_defuses_skew(spark, transcripts):
    """The 400-turn conversation must not land in a single partition."""
    from pyspark.sql import functions as F

    df = extract(transcripts, num_partitions=16).withColumn(
        "pid", F.spark_partition_id()
    )
    skewed = df.filter(F.col("conv_id") == corpus.conv_id_for(0, 0))
    n_parts = skewed.select("pid").distinct().count()
    assert n_parts >= 4


def test_config_thresholds_respected(spark, transcripts):
    """drop everything: min_chars huge ⇒ zero spans, all counted dropped."""
    cfg = ExtractConfig(min_chars=10_000)
    res = extract(transcripts.limit(20), cfg=cfg, salt=False).collect()
    for r in res:
        assert r["n_spans"] == 0 and r["extracted_text"] == ""


def test_conversation_document_chunked_reconcatenates(spark):
    """Chunked reassembly (bounded row size) must re-concatenate to exactly
    the unchunked conversation documents, at a segment size that actually
    splits every conversation."""
    from pyspark.sql import functions as F

    from paddleocr_spark.corpus import generate_rows
    from paddleocr_spark.operators.extract import (
        conversation_document,
        conversation_document_chunked,
        extract,
    )

    rows = list(generate_rows([(i, "alpha beta gamma delta") for i in range(5)]))
    ex = extract(spark.createDataFrame(rows))
    whole = {
        r.conv_id: r.document for r in conversation_document(ex).collect()
    }
    chunked = conversation_document_chunked(ex, turns_per_segment=2)
    assert chunked.agg(F.max("n_turns")).collect()[0][0] <= 2  # bounded rows
    joined = {}
    for r in sorted(
        chunked.collect(), key=lambda r: (r.conv_id, r.segment_idx)
    ):
        joined[r.conv_id] = (
            joined.get(r.conv_id, "") + ("\n\n" if r.conv_id in joined else "")
            + r.document
        )
    assert joined == whole
