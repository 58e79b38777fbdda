"""Correctness checks on the outputs of the timed calls.

A turn fails when its ``(conv_id, turn_idx)`` is missing from the output,
appears more than once, or is not an input key at all, or when it is in the
oracle sample and its ``payload_kind``, ``n_spans`` or ``extracted_text``
differs from ``oracle.oracle_extract``.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from paddleocr_spark.sinks.checkpoint import CheckpointWriter

OUT_COLUMNS = ["conv_id", "turn_idx", "payload_kind", "n_spans", "extracted_text"]


def read_job_output(out_dir: str) -> pa.Table:
    """The manifest-committed rows of a checkpoint dir, read without Spark."""
    w = CheckpointWriter(out_dir)
    parts = [
        pq.read_table(os.path.join(w.data_dir, e["dir"]), columns=OUT_COLUMNS)
        for e in w.metrics()
    ]
    return pa.concat_tables(parts) if parts else pa.table({c: [] for c in OUT_COLUMNS})


def failed_turns(out: pa.Table, expected_keys: set, oracle: dict) -> int:
    """Number of turns of ``out`` (or missing from it) that fail the check."""
    keys = list(zip(out.column("conv_id").to_pylist(), out.column("turn_idx").to_pylist()))
    seen = Counter(keys)
    bad = {k for k in expected_keys if seen.get(k) != 1}
    bad.update(k for k in seen if k not in expected_keys)
    row_of = {k: i for i, k in enumerate(keys)}
    kinds = out.column("payload_kind")
    n_spans = out.column("n_spans")
    texts = out.column("extracted_text")
    for k, want in oracle.items():
        if k in bad or k not in row_of:
            continue
        i = row_of[k]
        got = (kinds[i].as_py(), n_spans[i].as_py(), texts[i].as_py())
        if got != tuple(want):
            bad.add(k)
    return len(bad)


def failed_observed(obs: dict, n_turns: int, key_xor: int, text_chars: int | None) -> int:
    """Check a noop-sink extract through its observed aggregates: row count,
    xor of the key hashes and total extracted characters. The sink keeps no
    rows, so a mismatch counts the count difference, or 1 if only the
    digests differ."""
    diff = abs(int(obs["turns"]) - n_turns)
    if diff:
        return diff
    if int(obs["key_xor"]) != key_xor:
        return 1
    if text_chars is not None and int(obs["text_chars"] or 0) != text_chars:
        return 1
    return 0
