"""Correctness gates. Every gate compares the engine's output with an
answer computed independently of the code under test:

* KG builds: triple-set precision/recall against the naive single-process
  reference simulator (``tests/reference_sim.py``).
* graph tool calls: pure-Python answers over the collected graph tables
  (the full-scan scoring rules of ``plans.queries`` for entity search).
* corpus curation: row-hash equality with the DuckDB twins in
  ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

from kiwi_spark.functions.linking import compact_name_key
from kiwi_spark.plans.queries import (
    EXACT_BOOST,
    KEYWORD_WEIGHT,
    MIN_KEYWORD_BOOST,
    MIN_SEMANTIC_SCORE,
    PREFIX_BOOST,
    _trigrams,
    embed_query,
    unique_terms,
)

MIN_TRIPLE_PR = 0.95

# curation calls and the oracle_sql() twin each is checked against
CURATE_TWINS = {
    "minhash": "dedup_minhash_docs",
    "simhash": "dedup_simhash_docs",
    "lang_id": "lang_id_docs",
    "text_quality": "text_quality_docs",
}


def load_reference_sim(root: str):
    path = os.path.join(root, "tests", "reference_sim.py")
    spec = importlib.util.spec_from_file_location("reference_sim", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def graph_triples(nodes: list, edges: list) -> set:
    """(src name, pred, dst name, strength) per canonical edge — the shape
    ``reference_sim.simulate_corpus`` emits."""
    names = {n["entity_id"]: n["name"] for n in nodes}
    return {
        (names.get(e["src_id"]), e["pred"], names.get(e["dst_id"]), e["strength"])
        for e in edges
    }


def triple_pr(got: set, expected: set) -> tuple[float, float]:
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    return precision, recall


def triples_ok(got: set, expected: set) -> bool:
    precision, recall = triple_pr(got, expected)
    return precision >= MIN_TRIPLE_PR and recall >= MIN_TRIPLE_PR


# -- graph tool answers over the collected graph ------------------------------


def expected_lookup(nodes: list, name: str) -> set:
    key = compact_name_key(name)
    return {n["entity_id"] for n in nodes if compact_name_key(n["name"]) == key}


def expected_neighbours(nodes: list, edges: list, entity_id: str, limit: int = 50) -> list:
    known = {n["entity_id"] for n in nodes}
    out = []
    for e in edges:
        if e["src_id"] == entity_id or e["dst_id"] == entity_id:
            other = e["dst_id"] if e["src_id"] == entity_id else e["src_id"]
            if other in known:
                out.append((other, e["edge_id"]))
    return sorted(out)[:limit]


def expected_sources(mentions: list, entity_id: str, limit: int = 20) -> list:
    return sorted(m["mention_id"] for m in mentions if m["entity_id"] == entity_id)[:limit]


def expected_entity_search(nodes: list, query: str, limit: int = 10) -> list:
    """``queries.search_entities`` (the full-scan scorer) in plain Python:
    semantic cosine + weighted trigram keyword boost + exact/prefix boost,
    recall filter, top-k by (score desc, id asc)."""
    terms = unique_terms([query])
    qvec = embed_query(query)
    term_grams = [g for g in (_trigrams(t) for t in terms) if g]
    scored = []
    for n in nodes:
        dot = 0.0
        for a, b in zip(n["embedding"], qvec):
            dot += float(a) * b
        sem = max(0.0, dot)
        grams = _trigrams(n["name"] or "")
        kw = 0.0
        for tg in term_grams:
            union = len(grams | tg)
            if grams and union:
                kw = max(kw, len(grams & tg) / union)
        name = (n["name"] or "").lower()
        exact = max(
            EXACT_BOOST if name == t.lower()
            else PREFIX_BOOST if name.startswith(t.lower()) else 0.0
            for t in terms
        )
        if sem >= MIN_SEMANTIC_SCORE or kw >= MIN_KEYWORD_BOOST or exact > 0:
            scored.append((-(sem + KEYWORD_WEIGHT * kw + exact), n["entity_id"]))
    scored.sort()
    return [(round(-s, 9), eid) for s, eid in scored[:limit]]


# -- curation twins ------------------------------------------------------------


def rows_digest(rows, columns) -> str:
    """Order- and column-order-insensitive digest of a result set (floats
    rounded to 6 digits), as ``tools/check_oracles.py`` compares them."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(repr(v))
        lines.append("|".join(vals))
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def minhash_candidates_sql(minhash_sql: str) -> str:
    """The twin's MinHash query cut after its ``cand`` CTE: the number of
    distinct pairs that share at least one LSH band bucket."""
    anchor = "), j AS ("
    cut = minhash_sql.find(anchor)
    if cut < 0:
        raise ValueError("dedup_minhash_docs twin has no cand CTE")
    return minhash_sql[:cut] + ") SELECT count(*) FROM cand"


def curate_oracles(docs: list[tuple[int, str]], threads: int = 2,
                   candidates: bool = False) -> dict:
    """Digest of every twin answer over ``docs`` and the verified MinHash
    pair count, computed in DuckDB; with ``candidates``, also the number of
    LSH band-collision pairs (a second pass over the signatures)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        con.execute("SET enable_progress_bar=false")
        con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
        out = {}
        for call, twin in CURATE_TWINS.items():
            rel = con.sql(sqls[twin])
            rows = rel.fetchall()
            out[call] = rows_digest(rows, [d[0] for d in rel.description])
            if call == "minhash":
                out["pairs"] = len(rows)
        if candidates:
            out["candidates"] = con.sql(
                minhash_candidates_sql(sqls["dedup_minhash_docs"])
            ).fetchone()[0]
    finally:
        con.close()
    return out
