"""Seeded benchmark inputs built with the corpus's own payload generator.

A workload is a set of transcript turns, i.e. ``(doc_id, rep, turn_idx)``
keys that ``corpus.turn_row`` turns into rows. The seed picks a disjoint
``rep`` range and seeds each document's word pool, so two seeds never share
a conversation and one seed always gives the same rows. Conversations keep the
corpus's natural length skew (every 97th document is 100x long).

Payload kinds are drawn by the corpus from the md5 of the turn key (50% html,
20% pdf-like, 15% real PDF, 15% plain). The kind-restricted workloads keep
only the keys whose draw falls in their kinds, so they pay no generation cost
for turns they drop; every generated payload is sniffed again to check that
the draw rule still holds.

AES-256 (V5/R6) encrypted PDFs are left out of every workload: the corpus
draws their key from a fixed pool of four, and the pure-Python key
derivation costs about 2 s per salt on first use in each process. A cold
Python worker would pay ~15 s once, which would make warm-up dominate the
run and job walls bimodal. They are about 1% of real-PDF turns.

Generation runs in plain subprocesses (``python3 -m perfbench.workloads``)
that write parquet parts and oracle answers into the run's work directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# the corpus's kind draw: bucket = md5(key) % 100 → kind (corpus.payload_for)
_KIND_BUCKETS = (("html", 50), ("pdf", 70), ("pdf_real", 85), ("plain", 100))
KINDS = tuple(k for k, _ in _KIND_BUCKETS)
_R6_MARK = "/Filter /Standard /V 5 "
_REPS_PER_SEED = 1000
_DOCS_PER_REP = 10_000

# The word pools stand in for ``documents.parquet``, whose ``text`` the corpus
# splits into a document's words. In the sf0.01 and sf0.1 test data every
# document is 10 to 100 words drawn uniformly from these 31 (mean ~54 words,
# ~298 characters), so a pool is drawn the same way.
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_WORDS = (10, 100)

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    kinds: tuple  # payload kinds kept
    turns: int  # input size (whole conversations are added until reached)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mixed", KINDS, 12_000),
        Workload("light", ("pdf", "plain"), 60_000),
    )
}

# Spark-free kernel sample: the first keys of each kind in the seed's draw
KERNEL_SAMPLE = {"plain": 2000, "pdf": 1000, "html": 500, "pdf_real": 300}


def kind_of_key(doc_id: int, rep: int, turn_idx: int) -> str:
    from paddleocr_spark import corpus

    b = corpus._h(f"{corpus.conv_id_for(doc_id, rep)}:{turn_idx}") % 100
    return next(k for k, hi in _KIND_BUCKETS if b < hi)


def _draw(seed: int):
    """All keys of the seed's rep range in canonical order, with their kind."""
    from paddleocr_spark import corpus

    for rep in range(seed * _REPS_PER_SEED, (seed + 1) * _REPS_PER_SEED):
        for doc_id in range(_DOCS_PER_REP):
            for t in range(corpus.n_turns_for(doc_id)):
                yield (doc_id, rep, t), kind_of_key(doc_id, rep, t)


def select_keys(workload: Workload, seed: int) -> list:
    """The workload's keys: whole conversations until ``turns`` are kept."""
    keys = []
    conv = None
    for key, kind in _draw(seed):
        if len(keys) >= workload.turns and key[:2] != conv:
            break
        conv = key[:2]
        if kind in workload.kinds:
            keys.append(key)
    return keys


def kernel_keys(seed: int, per_kind: dict = KERNEL_SAMPLE) -> dict:
    out = {k: [] for k in per_kind}
    for key, kind in _draw(seed):
        if kind in out and len(out[kind]) < per_kind[kind]:
            out[kind].append(key)
        if all(len(v) >= per_kind[k] for k, v in out.items()):
            return out
    return out


def _words(seed: int, doc_id: int) -> list:
    """A document's word pool, drawn like a ``documents.parquet`` text."""
    rng = random.Random(f"doc:{seed}:{doc_id}")
    return [rng.choice(DOC_VOCAB) for _ in range(rng.randint(*DOC_WORDS))]


def generate(keys: list, seed: int) -> list:
    """Rows for ``keys`` (R6 documents dropped, see the module doc)."""
    from paddleocr_spark import corpus
    from paddleocr_spark.functions.sniff import sniff_kind

    # placeholder R6 key pool: drawing an R6 document then costs nothing,
    # and every document drawn with it is dropped below
    if not corpus._R6_POOL:
        corpus._R6_POOL.extend([(bytes(32), bytes(8), bytes(8), bytes(48), bytes(32))] * 4)
    words: dict = {}
    rows = []
    for doc_id, rep, t in keys:
        if doc_id not in words:
            words[doc_id] = _words(seed, doc_id)
        r = corpus.turn_row(doc_id, rep, t, words[doc_id])
        if _R6_MARK in r["text"]:
            continue
        want = kind_of_key(doc_id, rep, t)
        if sniff_kind(r["text"]) != want:
            raise RuntimeError(
                f"turn {r['conv_id']}:{t} was drawn as {want!r} but sniffs as "
                f"{sniff_kind(r['text'])!r}: the corpus kind-draw rule changed"
            )
        rows.append(r)
    return rows


def _sample_idx(n: int, seed: int, n_sample: int) -> set:
    return set(random.Random(f"sample:{seed}").sample(range(n), min(n, n_sample)))


def _build_parts(workload: Workload, seed: int, proc: int, procs: int, parts: int,
                 n_sample: int, out_dir: str) -> None:
    """One generation subprocess: parquet parts ``proc, proc + procs, ...``
    (part ``p`` holds keys ``p::parts``) and the oracle answers for the
    sampled keys among them."""
    from paddleocr_spark.corpus import conv_id_for
    from paddleocr_spark.oracle import oracle_extract

    keys = select_keys(workload, seed)
    sampled = _sample_idx(len(keys), seed, n_sample)
    for part in range(proc, parts, procs):
        mine = range(part, len(keys), parts)
        rows = generate([keys[i] for i in mine], seed)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=SCHEMA),
            os.path.join(out_dir, f"part-{part:05d}.parquet"),
        )
        texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows}
        answers = []
        for i in mine:
            d, rep, t = keys[i]
            k = (conv_id_for(d, rep), t)
            if i in sampled and k in texts:  # R6 documents are not in texts
                o = oracle_extract(texts[k])
                answers.append([*k, o["kind"], o["n_spans"], o["extracted_text"]])
        with open(os.path.join(out_dir, f"oracle-{part:05d}.json"), "w") as f:
            json.dump(answers, f)


@dataclass
class Inputs:
    path: str  # parquet directory
    table: pa.Table  # the same rows, in memory
    oracle: dict  # (conv_id, turn_idx) → (payload_kind, n_spans, extracted_text)

    @property
    def n_turns(self) -> int:
        return self.table.num_rows

    def keys(self) -> list:
        return list(zip(self.table.column("conv_id").to_pylist(),
                        self.table.column("turn_idx").to_pylist()))


def build(workload: Workload, seed: int, out_dir: str, parts: int = 8,
          procs: int = 4, n_sample: int = 200) -> Inputs:
    """Generate the workload for ``seed`` into ``out_dir`` as ``parts``
    parquet files, with ``procs`` subprocesses, plus the oracle answers for
    a seeded sample of ``n_sample`` turns."""
    os.makedirs(out_dir, exist_ok=True)
    running = [
        subprocess.Popen(
            [sys.executable, "-m", "perfbench.workloads", ",".join(workload.kinds),
             str(workload.turns), str(seed), str(j), str(procs), str(parts),
             str(n_sample), out_dir]
        )
        for j in range(procs)
    ]
    codes = [p.wait() for p in running]
    if any(codes):
        raise RuntimeError(f"input generation failed: exit codes {codes}")
    table = pa.concat_tables(
        pq.read_table(os.path.join(out_dir, f"part-{p:05d}.parquet")) for p in range(parts)
    )
    oracle = {}
    for p in range(parts):
        with open(os.path.join(out_dir, f"oracle-{p:05d}.json")) as f:
            for c, t, kind, n_spans, text in json.load(f):
                oracle[(c, t)] = (kind, n_spans, text)
        os.remove(os.path.join(out_dir, f"oracle-{p:05d}.json"))
    return Inputs(out_dir, table, oracle)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description="generate some parts of a workload")
    p.add_argument("kinds", help="comma-separated payload kinds")
    p.add_argument("turns", type=int)
    p.add_argument("seed", type=int)
    p.add_argument("proc", type=int)
    p.add_argument("procs", type=int)
    p.add_argument("parts", type=int)
    p.add_argument("n_sample", type=int)
    p.add_argument("out_dir")
    a = p.parse_args(argv)
    workload = Workload("part", tuple(a.kinds.split(",")), a.turns)
    _build_parts(workload, a.seed, a.proc, a.procs, a.parts, a.n_sample, a.out_dir)


if __name__ == "__main__":
    main()
