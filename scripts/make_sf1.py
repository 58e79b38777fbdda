"""Synthesize an sf1-scale documents table (10x sf0.1) for the golden check.

Deterministic derivation from the driver's sf0.1 documents — each source doc
spawns 10 variants with distinct doc_ids and a doc_id-seeded word shuffle
(same vocabulary/length distribution, different payload bytes, so golden
coverage at sf1 is not ten literal copies of sf0.1). Writes ONLY the tables
the extraction golden path reads (documents.parquet).

Usage: python scripts/make_sf1.py [dest_dir]
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1/documents.parquet"
COPIES = 10
STRIDE = 10_000  # > max sf0.1 doc_id (4999); keeps ids disjoint per copy


def main() -> None:
    dest = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sf1"
    os.makedirs(dest, exist_ok=True)
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM read_parquet('{SRC}') ORDER BY doc_id"
    ).fetchall()
    ids, texts, langs, sources, chars = [], [], [], [], []
    for k in range(COPIES):
        for doc_id, text, lang, source in rows:
            nid = k * STRIDE + doc_id
            if k == 0:
                t = text
            else:
                words = (text or "").split()
                random.Random(nid).shuffle(words)
                t = " ".join(words)
            ids.append(nid)
            texts.append(t)
            langs.append(lang)
            sources.append(source)
            chars.append(len(t))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array(chars, pa.int64()),
            }
        ),
        os.path.join(dest, "documents.parquet"),
    )
    print(f"sf1 documents: {len(ids)} docs -> {dest}/documents.parquet")
    # check_oracle.py registers every driver table as a view up front, so
    # symlink the non-documents tables from sf0.1 (the extract family only
    # reads documents — the links exist to satisfy view creation)
    src_dir = os.path.dirname(SRC)
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        link = os.path.join(dest, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(src_dir, f"{t}.parquet"), link)


if __name__ == "__main__":
    main()
