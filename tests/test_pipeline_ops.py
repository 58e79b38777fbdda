"""Unit tests for the training-data-pipeline operators (dedup / ANN / text
stats) with hand-computable expected outputs — mirroring the reference's
exact-expected-output unit style (/root/reference/tests/test_french_accents.py).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.functions import textstats as TS
from paddleocr_spark.operators import ann as ANN
from paddleocr_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "THE   cat  sat on the mat"),      # same after normalization
        (2, "der hund und die katze und der"),  # de markers dominate
        (3, "completely different words here entirely"),
        (4, ""),                                # empty
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_norm_and_fingerprint(docs):
    out = {
        r.doc_id: (r.n, r.fp)
        for r in docs.select(
            "doc_id",
            TS.norm_text(F.col("text")).alias("n"),
            TS.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert out[0][0] == "the cat sat on the mat"
    assert out[1][0] == "the cat sat on the mat"
    assert out[0][1] == out[1][1] == hashlib.md5(b"the cat sat on the mat").hexdigest()
    assert out[4][0] == ""


def test_token_count_and_stops(docs):
    r = {
        x.doc_id: (x.n_tokens, x.stop_micro, x.lang_id)
        for x in docs.select(
            "doc_id",
            TS.token_count(F.col("text")).alias("n_tokens"),
            TS.stop_ratio_micro(F.col("text")).alias("stop_micro"),
            TS.lang_guess(F.col("text")).alias("lang_id"),
        ).collect()
    }
    assert r[0][0] == 6
    # stopword hits in doc 0: 'the' x2 → floor(1e6*2/6) = 333333
    assert r[0][1] == 333333
    assert r[0][2] == "en"
    assert r[2][2] == "de"
    assert r[3][2] == "unknown"
    # empty text → tokens == [''] → count 1, zero hits
    assert r[4][0] == 1 and r[4][1] == 0


def test_exact_dedup(docs):
    out = DD.exact_dedup(docs).collect()
    assert len(out) == 1
    assert out[0].canonical_id == 0 and out[0].n_dups == 2


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(0, "one two")], ["doc_id", "text"])
    sh = df.select(DD.shingles(F.col("text")).alias("s")).collect()[0].s
    assert sh == ["one two"]  # whole text fallback below 3 tokens


def test_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (0, "a b c d e f g"),
            (1, "a b c d e f g"),   # identical → jaccard 1.0
            (2, "p q r s t u v"),   # disjoint
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.doc_a, r.doc_b): r.jac_micro for r in DD.ngram_jaccard_pairs(df).collect()}
    assert pairs == {(0, 1): 1000000}


def test_minhash_lsh_finds_identical(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "a b c d e f g h i j"), (2, "z y x w v u t")],
        ["doc_id", "text"],
    )
    pairs = {(r.doc_a, r.doc_b) for r in DD.minhash_lsh_pairs(df).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_identical_texts_equal(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha  beta   gamma"), (2, "delta epsilon zeta")],
        ["doc_id", "text"],
    )
    s = {r.doc_id: r.simhash for r in DD.simhash16(df).collect()}
    assert s[0] == s[1]
    assert 0 <= s[0] < (1 << 16)
    assert s[0] != s[2]


def _mk_emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id: long, embedding: array<float>",
    )


def test_cosine_topk_exact(spark):
    # query 0 = e0; candidates: 5 (=e0 scaled → cos 1), 6 (orthogonal), 7 (opposite)
    dim = 64
    e0 = [1.0] + [0.0] * (dim - 1)
    e1 = [0.0, 1.0] + [0.0] * (dim - 2)
    vecs = [e0, e1, e1, e1, e1, [2.0] + [0.0] * (dim - 1), e1, [-1.0] + [0.0] * (dim - 1)]
    out = ANN.cosine_topk(_mk_emb(spark, vecs), n_queries=1, k=7).collect()
    got = [(r.cand_id, r.rank_k, r.cos_scaled) for r in sorted(out, key=lambda r: r.rank_k)]
    assert got[0] == (5, 1, 1000000000)
    assert got[1] == (1, 2, 0)  # orthogonal ties broken by cand_id
    assert got[-1] == (7, 7, -1000000000)


def test_lsh_topk_subset_of_exact(spark):
    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    approx = ANN.lsh_cosine_topk(_mk_emb(spark, vecs), n_queries=2, k=5, n_planes=2).collect()
    # every approx pair's score must equal the exact cosine for that pair
    base = {
        (r.q_id, r.cand_id): r.cos_scaled
        for r in ANN.cosine_topk(_mk_emb(spark, vecs), n_queries=2, k=1000).collect()
    }
    for r in approx:
        assert base[(r.q_id, r.cand_id)] == r.cos_scaled
    assert len(approx) > 0


def test_ivf_topk_scores_are_exact_cosines(spark):
    import random

    rng = random.Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(60)]
    emb = _mk_emb(spark, vecs)
    base = {
        (r.q_id, r.cand_id): r.cos_scaled
        for r in ANN.cosine_topk(emb, n_queries=2, k=1000).collect()
    }
    ivf = ANN.ivf_cosine_topk(emb, n_queries=2, k=5, n_centroids=8, n_probe=3).collect()
    assert len(ivf) > 0
    for r in ivf:
        assert base[(r.q_id, r.cand_id)] == r.cos_scaled
    # probing ALL cells ≡ exact brute force top-k
    full = ANN.ivf_cosine_topk(emb, n_queries=2, k=5, n_centroids=8, n_probe=8).collect()
    exact5 = ANN.cosine_topk(emb, n_queries=2, k=5).collect()
    assert {(r.q_id, r.cand_id, r.rank_k) for r in full} == {
        (r.q_id, r.cand_id, r.rank_k) for r in exact5
    }


def test_transcript_extractor_api(spark, sf_dir):
    """PaddleOCR-wheel-class analog: kwargs -> config replace -> predict."""
    import pytest

    from paddleocr_spark.api import TranscriptExtractor
    from paddleocr_spark.plans.flagship import corpus_df

    for name in ("bogus_param", "merge_fragments", "drop_invisible_text",
                 "keep_artifact_text"):
        with pytest.raises(TypeError):
            TranscriptExtractor(**{name: True})

    ex = TranscriptExtractor(min_chars=5)
    assert ex.cfg.min_chars == 5
    tr = corpus_df(spark, sf_dir).limit(50)
    out = ex.predict(tr)
    assert {"payload_kind", "spans", "extracted_text", "n_spans"} <= set(out.columns)
    assert out.count() == 50
    rows = ex.predict(tr, ordered=True).select("conv_id", "turn_idx").collect()
    keys = [(r[0], r[1]) for r in rows]
    assert keys == sorted(keys)


def test_register_sql_functions(spark, sf_dir):
    """SQL surface: the kernel callable from spark.sql, equal to the oracle."""
    from paddleocr_spark.api import register_sql_functions
    from paddleocr_spark.oracle import oracle_extract
    from paddleocr_spark.plans.flagship import corpus_df

    names = register_sql_functions(spark)
    assert names == ["ps_extract_text", "ps_payload_kind", "ps_n_spans"]
    corpus_df(spark, sf_dir).limit(30).createOrReplaceTempView("t_sql_api")
    got = spark.sql(
        "SELECT text, ps_extract_text(text) AS et, ps_payload_kind(text) AS k, "
        "ps_n_spans(text) AS n FROM t_sql_api"
    ).collect()
    assert len(got) == 30
    for r in got:
        o = oracle_extract(r["text"])
        assert r["et"] == o["extracted_text"]
        assert r["k"] == o["kind"]
        assert r["n"] == o["n_spans"]


def test_substring_dup_spans_hand_case(spark):
    """Exact-substring span dedup (Lee et al. 2022 analog) on a corpus small
    enough to hand-compute at window=3: docs 1/2 share the 5-token run
    'a b c d e' (3 duplicated windows -> one merged span of 5 tokens), doc 4
    is fully self-duplicated, doc 3 is clean."""
    rows = [
        (1, "a b c d e f g h"),
        (2, "x a b c d e y z"),
        (3, "p q r s t u v w"),
        (4, "m m m m m m m m"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r.asDict()
        for r in DD.substring_dup_spans(df, window=3).collect()
    }
    assert out[1]["ss_windows"] == 6 and out[1]["ss_dup_windows"] == 3
    assert out[1]["ss_spans"] == 1 and out[1]["ss_dup_tokens"] == 5
    assert out[1]["ss_kept_text"] == "f g h"
    assert out[2]["ss_kept_text"] == "x y z"
    assert out[3]["ss_dup_windows"] == 0 and out[3]["ss_kept_text"] == "p q r s t u v w"
    # fully covered: spans merge into [0, 8), kept text empty
    assert out[4]["ss_spans"] == 1 and out[4]["ss_dup_tokens"] == 8
    assert out[4]["ss_dup_micro"] == 1000000 and out[4]["ss_kept_text"] == ""
    # short doc (< window): no windows, text untouched
    short = spark.createDataFrame([(9, "a b")], ["doc_id", "text"])
    o = DD.substring_dup_spans(short, window=3).collect()[0]
    assert o.ss_windows == 0 and o.ss_kept_text == "a b"


def test_substring_dup_spans_plan(spark):
    """Scale gate: the whole operator is JVM built-ins — no Python eval node,
    no cartesian product; shuffles only on whash / doc_id."""
    rows = [(i, f"tok{i} a b c") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plan = DD.substring_dup_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_substring_dup_spans_long_doc(spark):
    """Long-doc scale case (r03 verdict #5): 50k tokens, 500 duplicated
    spans. The complement-slice reconstruction is O(tokens + spans); the old
    per-token sequence+exists scan paid O(tokens × spans). Structure: 1000
    alternating 50-token blocks — even blocks globally-unique tokens, odd
    blocks the same repeated 50-token phrase, so every window fully inside an
    odd block is duplicated (26 per block, merging to exactly one span per
    block) and every window touching a unique token is not. Kept text is
    therefore exactly the unique blocks, in order — asserted byte-exact."""
    import time

    blocks = []
    for b in range(1000):
        if b % 2 == 0:
            blocks.append([f"a{b * 50 + j}" for j in range(50)])
        else:
            blocks.append([f"dup{j}" for j in range(50)])
    toks = [t for blk in blocks for t in blk]
    df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
    t0 = time.time()
    o = DD.substring_dup_spans(df, window=25).collect()[0]
    wall = time.time() - t0
    assert o.ss_total_tokens == 50000
    assert o.ss_windows == 50000 - 25 + 1
    assert o.ss_spans == 500 and o.ss_dup_tokens == 25000
    assert o.ss_dup_windows == 500 * 26
    want_kept = " ".join(
        t for blk in blocks for t in blk if blk[0].startswith("a")
    )
    assert o.ss_kept_text == want_kept
    assert wall < 120, f"long-doc reconstruction too slow: {wall:.1f}s"


def test_importance_scores_dsir(spark):
    """DSIR-style hashed importance scoring: docs made of target-slice
    vocabulary must outscore docs made of non-target vocabulary, every doc
    gets a score, and the weight table is bounded by the bucket count."""
    from paddleocr_spark.operators import select as SEL

    rows = [
        (1, "alpha beta gamma alpha beta", True),
        (2, "alpha beta gamma delta", True),
        (3, "zork quux blarg frotz", False),
        (4, "alpha beta gamma alpha", False),   # raw doc, target-like text
        (5, "zork quux blarg zork", False),     # raw doc, non-target text
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_target"])
    wt = SEL.importance_weights(df)
    assert wt.count() <= SEL.DSIR_BUCKETS
    out = {r.doc_id: r.dsir_micro for r in SEL.importance_scores(df).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # target-vocabulary doc scores strictly higher than non-target one
    assert out[4] > out[5]
    # plan: no Python eval, no cartesian (the 1-row totals join is a
    # broadcast nested loop over a literal single row — allowed)
    plan = (
        SEL.importance_scores(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
