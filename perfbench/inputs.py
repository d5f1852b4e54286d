"""Seeded benchmark inputs, generated in the benchmark's own process and
written to parquet before any timing starts.

Pages come from the engine's own synthesizer (``kiwi_spark.sources.pages``:
every page is a pure function of ``(world seed, page index)``); documents
for corpus curation come from a generator modelled on
``tools/make_bench_sf.gen_documents`` (a small technical vocabulary with
planted exact and near duplicates) plus language-marker words, so that
``dedup`` finds real pairs and ``textstats.lang_id`` sees several languages.
The KG page text is deliberately not used for curation: its filler
vocabulary makes MinHash slow and pair-free.

Writing the inputs as parquet keeps generation out of the timed plans —
``pages_df`` is a lazy ``mapInPandas`` that would otherwise fuse into the
``text`` stage of the pipeline.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from kiwi_spark.operators.textstats import LANG_MARKERS
from kiwi_spark.sources.pages import build_world, generate_page

_PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "shuffle", "cache", "plan", "stage",
]


def page_rows(world_seed: int, start: int, n: int) -> list[dict]:
    """Pages ``start .. start+n-1`` of one synthetic world (ground-truth
    fields stripped)."""
    world = build_world(world_seed)
    rows = []
    for index in range(start, start + n):
        page = generate_page(world, index)
        rows.append({k: page[k] for k in ("url", "warc_ts", "html", "text", "lang")})
    return rows


def write_pages(rows: list[dict], out_dir: str, n_files: int = 8) -> int:
    """Write pages as ``n_files`` parquet files; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    utc = dt.timezone.utc
    per_file = max(1, -(-len(rows) // n_files))
    for i in range(0, len(rows), per_file):
        chunk = rows[i : i + per_file]
        table = pa.table(
            {
                "url": [r["url"] for r in chunk],
                "warc_ts": [r["warc_ts"].replace(tzinfo=utc) for r in chunk],
                "html": [r["html"] for r in chunk],
                "text": [r["text"] for r in chunk],
                "lang": [r["lang"] for r in chunk],
            },
            schema=_PAGE_SCHEMA,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i // per_file:03d}.parquet"))
    return dir_bytes(out_dir)


def document_rows(seed: int, n: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows: 8-60 words, ~2% exact copies and ~5% one-word
    mutations of an earlier document (the near-duplicates MinHash and
    SimHash must find), ~30% mixed with one language's marker words."""
    rng = random.Random(seed * 1_000_033 + 17)
    langs = sorted(LANG_MARKERS)
    docs: list[tuple[int, str]] = []
    for doc_id in range(n):
        roll = rng.random()
        if doc_id > 10 and roll < 0.02:
            text = docs[rng.randrange(doc_id)][1]
        elif doc_id > 10 and roll < 0.07:
            words = docs[rng.randrange(doc_id)][1].split()
            words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            text = " ".join(words)
        else:
            pool = list(_VOCAB)
            if rng.random() < 0.3:
                pool += LANG_MARKERS[rng.choice(langs)] * 2
            text = " ".join(rng.choice(pool) for _ in range(rng.randrange(8, 61)))
        docs.append((doc_id, text))
    return docs


def write_documents(docs: list[tuple[int, str]], out_dir: str, n_files: int = 4) -> int:
    os.makedirs(out_dir, exist_ok=True)
    per_file = max(1, -(-len(docs) // n_files))
    for i in range(0, len(docs), per_file):
        chunk = docs[i : i + per_file]
        table = pa.table(
            {
                "doc_id": pa.array([d[0] for d in chunk], pa.int64()),
                "text": [d[1] for d in chunk],
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i // per_file:03d}.parquet"))
    return dir_bytes(out_dir)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
