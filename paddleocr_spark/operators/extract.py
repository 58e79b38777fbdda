"""The extraction pipeline operator: transcripts → spans + extracted_text.

Spark-first re-expression of the reference's TextSystem/StructureSystem chain
(/root/reference/tools/infer/predict_system.py:76-157,
/root/reference/ppstructure/predict_system.py:98-202):

  salted repartition (skew defuse)            — the reference's entire
    horizontal-scaling story is ``files[pid::nproc]`` + subprocess spawn
    (predict_system.py:186-187,313-324); here it's a real shuffle over
    (conv_id, salt(turn_idx)) since every turn is independent.
  ONE fused Arrow crossing (pandas_udf)       — sniff → tokenize → score →
    keep-filter → reading order, all inside kernel.extract_batch; the analog
    of one C++ predictor crossing per stage chain (SURVEY.md §3.5, §4.2-b).
  kernel-side assembly                        — extracted_text comes out of the
    same fused pass that produced the spans (assemble_text, mirroring
    convert_info_markdown, recovery_to_markdown.py:129-187); span-level
    consumers that need JVM-side rendering use operators/markdown.py
    (transform + array_join inside whole-stage codegen).
  windowed stable ordering                    — output re-ordered by
    (conv_id, turn_idx) so results are identical under any parallelism
    (north rule: per-turn text equality under stable turn ordering).

At 100 TB: the only shuffle is the salted repartition (map-side free of
aggregation); everything downstream is narrow. Filters on payload_kind and
column pruning reach the parquet/Iceberg scan because sniffing is exposed as a
pure-SQL column too.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F, types as T

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..kernel import extract_batch
from ..functions.sniff import sniff_kind_col

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("span_idx", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("bbox", T.ArrayType(T.IntegerType())),
        ]
    )
)

_EX_TYPE = T.StructType(
    [
        T.StructField("payload_kind", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_dropped", T.IntegerType()),
        T.StructField("extracted_text", T.StringType()),
        # payload-cap flag, computed kernel-side (O(1) Python len) — a JVM
        # length(text) CollectMetrics on the input measured +10% job wall
        # (BENCH.md round-3); dropped from the public output unless
        # extract(keep_truncated=True)
        T.StructField("truncated", T.BooleanType()),
    ]
)


def make_extract_udf(cfg: ExtractConfig = DEFAULT_CONFIG):
    """Iterator-of-batches scalar pandas UDF (SURVEY.md §2.11): per-partition
    setup (compiled regexes) is amortized, Arrow moves the batches."""

    @F.pandas_udf(_EX_TYPE)
    def extract_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batches:
            kinds, span_lists, extracted, _n, dropped, truncated = extract_batch(
                texts, cfg
            )
            yield pd.DataFrame(
                {
                    "payload_kind": kinds,
                    # the kernel's span tuples go to Arrow AS TUPLES —
                    # pyarrow maps them positionally onto the declared
                    # struct fields (span_idx, kind, text, score, bbox)
                    # and produces an array identical to the dict form at
                    # ~1/9th the conversion cost (round-5 A/B: 11 ms vs
                    # 102 ms per 2.8k-turn batch), so the field ORDER in
                    # kernel.py spans is part of this contract
                    "spans": span_lists,
                    "n_dropped": pd.array(dropped, dtype="int32"),
                    "extracted_text": extracted,
                    "truncated": truncated,
                }
            )

    return extract_udf


def extract(
    df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    salt: bool = True,
    num_partitions: int | None = None,
    keep_truncated: bool = False,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) →
    + payload_kind, spans, extracted_text, n_spans, n_dropped.

    ``salt=True`` repartitions on (conv_id, pmod(hash(turn_idx), S)) so a
    single million-turn conversation spreads across S partitions (SURVEY.md §7
    hard-part #2). Rows are not length-sorted within partitions (PaddleOCR's
    aspect-ratio-sorted batching, tools/infer/predict_rec.py:582-612): this
    kernel has no padding cost, and the sort of fat string rows measurably
    destabilized throughput (68→100 s drift across reps at 32 cores vs a
    stable 42 s without it; see docs/PLAN.md).
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    if salt:
        df = df.repartition(
            n, F.col("conv_id"), F.pmod(F.hash("turn_idx"), F.lit(cfg.salt_buckets))
        )

    extract_udf = make_extract_udf(cfg)
    # extracted_text comes straight from the kernel: assemble_text runs in
    # the same fused pass that produced the spans, so re-assembling JVM-side
    # (transform + array_join + regexp_replace over the span structs) would
    # pay the same work twice — measured at ~25% of extraction wall time at
    # 4M turns. The JVM-assembly form still exists for span-level consumers
    # (operators/markdown.py renders from the spans array).
    cols = [
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.col("_ex.payload_kind").alias("payload_kind"),
        F.col("_ex.spans").alias("spans"),
        F.col("_ex.n_dropped").alias("n_dropped"),
        F.col("_ex.extracted_text").alias("extracted_text"),
    ]
    if keep_truncated:
        cols.append(F.col("_ex.truncated").alias("truncated"))
    out = df.withColumn("_ex", extract_udf(F.col("text"))).select(*cols)
    return out.withColumn("n_spans", F.size("spans"))


def with_payload_kind(df: DataFrame) -> DataFrame:
    """Pure-SQL payload sniff column (classifier analog) — lets Catalyst prune
    whole payload kinds before the Arrow crossing when a job only wants one
    path (e.g. ``WHERE payload_kind = 'html'`` pushes to the scan)."""
    return df.withColumn("payload_kind", sniff_kind_col(F.col("text")))


def conversation_document(df: DataFrame, text_col: str = "extracted_text") -> DataFrame:
    """Per-conversation document reassembly — the page-sequence concat analog
    (/root/reference/paddleocr/_pipelines/pp_structurev3.py:287-288
    ``concatenate_markdown_pages``; page list keyed by img_idx →
    here turns keyed by turn_idx).

    One map-side-combinable groupBy; ordering is established by sorting the
    collected (turn_idx, text) structs INSIDE each group (sort_array on the
    struct sorts by turn_idx first) — no window, no second shuffle, correct
    at any parallelism."""
    return (
        df.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("turn_idx", F.col(text_col).alias("t")))
                    ),
                    lambda s: s["t"],
                ),
                "\n\n",
            ).alias("document"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
    )


def ordered_output(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Stable (conv_id, turn_idx) global ordering for writes/goldens: range
    partition + in-partition sort — no single-point sort bottleneck.

    CAUTION: repartitionByRange runs a sampling pass that re-executes the
    input plan. Applied directly to an uncached ``extract(...)`` output that
    means the whole UDF extraction runs TWICE. Use ``extract_ordered`` (one
    pass) when ordering freshly-extracted data; use this only on cached /
    materialized inputs."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, "conv_id", "turn_idx").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def extract_ordered(
    df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally (conv_id, turn_idx)-ordered extraction in ONE extraction
    pass: range-partition the RAW input by the sort keys — the range sampler
    then scans only the cheap source rows, not the UDF output — run the
    fused kernel per partition, and sort within partitions. The range
    partitioning also defuses conversation skew (a million-turn conversation
    splits across ranges on turn_idx), so no salt shuffle is needed."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    pre = df.repartitionByRange(n, "conv_id", "turn_idx")
    return extract(pre, cfg=cfg, salt=False).sortWithinPartitions(
        "conv_id", "turn_idx"
    )


# Python's re \s (≡ str.isspace) as an explicit Java character class, so the
# SQL plain path splits/collapses EXACTLY like the Python kernel (Java's \s
# is ASCII-only and (?U)\s misses \x1c-\x1f, which Python treats as space)
_PY_WS = (
    "[ \\t\\n\\r\\x0b\\x0c\\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000]"
)


def extract_plain_sql(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Plain-payload extraction with ZERO Python — pure Spark SQL built-ins,
    entirely inside whole-stage codegen.

    Semantically identical to the kernel's plain path (kernel.plain_spans:
    split on blank lines, whitespace-collapse, min_chars drop, '\\n\\n'
    assembly) and checked against the same pure-Python golden relation
    (driver query ``extract_plain_sql``). The point at 100 TB: with the
    payload-kind sniff exposed as a SQL column (``with_payload_kind``), a
    job that routes ``WHERE payload_kind = 'plain'`` through this operator
    pays NO Arrow crossing for that fraction of the corpus — Catalyst alone
    — while html/pdf rows take the fused kernel. Same output schema as
    ``extract``.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    text = F.when(
        F.length(text) > cfg.max_payload_chars,
        F.substring(text, 1, cfg.max_payload_chars),
    ).otherwise(text)
    paras = F.split(text, f"\\n{_PY_WS}*\\n")
    cleaned = F.transform(
        paras, lambda p: F.trim(F.regexp_replace(p, f"{_PY_WS}+", " "))
    )
    nonempty = F.filter(cleaned, lambda p: p != F.lit(""))
    kept = F.filter(nonempty, lambda p: F.length(p) >= cfg.min_chars)
    spans = F.zip_with(
        kept,
        F.sequence(F.lit(0), F.greatest(F.size(kept), F.lit(1)) - 1),
        lambda p, i: F.struct(
            i.cast("int").alias("span_idx"),
            F.lit("para").alias("kind"),
            p.alias("text"),
            F.lit(1.0).alias("score"),
            F.lit(None).cast(T.ArrayType(T.IntegerType())).alias("bbox"),
        ),
    )
    # zip_with pads to the longer side; with kept empty the sequence side
    # still has one index → slice spans to the kept count
    spans = F.slice(spans, 1, F.size(kept))
    extracted = F.regexp_replace(F.array_join(kept, "\n\n"), r"\n{3,}", "\n\n")
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.lit("plain").alias("payload_kind"),
        spans.alias("spans"),
        (F.size(nonempty) - F.size(kept)).cast("int").alias("n_dropped"),
        extracted.alias("extracted_text"),
    ).withColumn("n_spans", F.size("spans"))


def extract_routed(
    df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    salt: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Kind-routed extraction: plain payloads take the zero-Python SQL path,
    html/pdf take the fused Arrow kernel; one unionByName.

    The operational form of the classifier-routing story (the cls-stage
    dispatch, SURVEY.md §2.9): the sniff is a codegen'd column, Catalyst
    pushes the kind predicate into each branch's scan, and only the branch
    that needs Python pays the crossing. Output is row-identical to
    ``extract(df)`` (both branches are golden-checked against the same
    oracle); ordering differs (union of branches) — apply ordered_output /
    a window downstream exactly as with ``extract``.

    At 100 TB: the source is scanned per branch (twice); with column
    pruning each scan reads only the needed bytes, and the plain branch's
    scan+SQL is far cheaper than shipping those rows through Arrow.

    Measured A/B (round 3, bench corpus 406k turns / 20% plain, local[32],
    median of 3): double scan 4.78 s; materialize-sniff-once via
    persist(DISK_ONLY) 4.90 s; MEMORY_AND_DISK 4.97 s. The single-scan
    variants pay a full materialization of the text column to save one
    columnar re-scan — a loss at any scale where the source is columnar
    (parquet scan bytes < cache write+read bytes). Double scan stays the
    default; revisit only for row-oriented or pay-per-read sources.
    """
    k = with_payload_kind(df)
    plain = extract_plain_sql(
        k.filter(F.col("payload_kind") == "plain").drop("payload_kind"), cfg
    )
    rest = extract(
        k.filter(F.col("payload_kind") != "plain").drop("payload_kind"),
        cfg,
        salt=salt,
        num_partitions=num_partitions,
    )
    return rest.unionByName(plain)


def conversation_document_chunked(
    df: DataFrame,
    turns_per_segment: int = 1000,
    text_col: str = "extracted_text",
    obs: "Observation | None" = None,
) -> DataFrame:
    """Bounded-row conversation reassembly: one output row per
    ``turns_per_segment`` turns instead of one row per conversation.

    ``conversation_document`` builds the WHOLE conversation into a single
    row — at 10⁶ turns that is a multi-GB cell, the row-level analog of the
    skew problem the salt defuses (SURVEY.md §7 hard-part #2, the
    slice-and-merge semantics of predict_det.py:307-408). Here the group
    key is (conv_id, turn_idx div turns_per_segment), so every row's
    payload is bounded regardless of conversation length; consumers
    re-concatenate segments in segment_idx order (or stream them — each
    segment is already a coherent contiguous slice). Same single
    map-side-combinable shuffle as the unchunked form.

    Pass an ``Observation`` as ``obs`` to make the chunking observable:
    after any action, ``obs.get`` carries ``segments`` (output rows) and
    ``overflow_segments`` (segments beyond a conversation's first — i.e.
    how often the bound actually bit). Zero extra passes (round-2 verdict
    item #5)."""
    seg = (F.col("turn_idx") / F.lit(turns_per_segment)).cast("long")
    out = (
        df.withColumn("segment_idx", seg)
        .groupBy("conv_id", "segment_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("turn_idx", F.col(text_col).alias("t")))
                    ),
                    lambda s: s["t"],
                ),
                "\n\n",
            ).alias("document"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
    )
    if obs is not None:
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("segments"),
            F.sum((F.col("segment_idx") > 0).cast("long")).alias(
                "overflow_segments"
            ),
        )
    return out
