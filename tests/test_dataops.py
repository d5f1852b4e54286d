"""Training-data operators over the driver testdata tables: dedup variants,
similarity search, text stats, multimodal plumbing, streaming parity."""

import os

import pytest
from pyspark.sql import functions as F

from kiwi_spark.operators import dedup, similarity, textstats
from kiwi_spark.operators.multimodal import (
    ASSET_SCHEMA,
    decode_image_features,
    sample_video_frames,
)
from kiwi_spark.streaming.events import (
    run_stream_to_memory,
    sessionize,
    windowed_counts_batch,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_duplicates(spark, docs):
    # the stock corpus has no exact dups — inject some (incl. a
    # whitespace-only variant that must normalize equal)
    base = docs.select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (100001, base.first()["text"]),
            (100002, "  " + base.first()["text"].replace(" ", "   ") + " \n"),
            (100003, "a unique singleton"),
        ],
        ["doc_id", "text"],
    )
    docs = base.unionByName(extra)
    dup = dedup.exact_duplicates(docs).collect()
    assert dup, "injected duplicates not found"
    # verify against a driver-side recomputation
    rows = docs.select("doc_id", "text").collect()
    by_norm = {}
    for r in rows:
        by_norm.setdefault(" ".join(r["text"].split()), []).append(r["doc_id"])
    expected = {
        (d, min(g), len(g)) for g in by_norm.values() if len(g) >= 2 for d in g
    }
    assert {(r["doc_id"], r["canonical_id"], r["group_size"]) for r in dup} == expected


def _py_shingles(text, n=3):
    import re

    tokens = re.sub(r"[^a-z0-9]+", " ", text.lower()).split()
    if len(tokens) < n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def test_ngram_jaccard_matches_python(spark, docs):
    sample = docs.limit(80)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(sample, n=3, threshold=0.5).collect()
    }
    rows = sample.select("doc_id", "text").collect()
    sh = {r["doc_id"]: _py_shingles(r["text"]) for r in rows}
    ids = sorted(sh)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            j = inter / len(sh[a] | sh[b])
            if j >= 0.5:
                expected[(a, b)] = j
    assert set(got) == set(expected)
    for key, j in expected.items():
        assert abs(got[key] - j) < 1e-6


def test_minhash_lsh_finds_high_jaccard_pairs(spark, docs):
    sample = docs.limit(120)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(sample, n=3, threshold=0.7).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(sample, n=3, threshold=0.7).collect()
    }
    # verification step makes LSH ⊆ exact; banding (16 bands × 4 rows) makes
    # recall at j≥0.7 ≈ 1-(1-0.7^4)^16 ≈ 0.99
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.9


def _py_band_keys(shingles, num_hashes=dedup.DEFAULT_NUM_HASHES,
                  bands=dedup.DEFAULT_BANDS):
    """Pure-Python band keys: per band, the band's min-hashes packed as
    big-endian 8-byte ints."""
    import hashlib

    a, b = dedup.minhash_params(num_hashes)
    base = [int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
            for s in shingles]
    sig = [min((ai * x + bi) % dedup.MINHASH_PRIME for x in base)
           for ai, bi in zip(a, b)]
    r = num_hashes // bands
    return [
        b"".join(v.to_bytes(8, "big") for v in sig[k * r:(k + 1) * r])
        for k in range(bands)
    ]


def test_minhash_shingle_count_equals_shingle_array_size(spark):
    # the size-ratio filter inside minhash_lsh_pairs' band join is lossless
    # only while the count carried on the banded rows is the number of
    # DISTINCT shingles; the repeated-token rows repeat shingles (doc 1 has
    # 7 trigram positions but 3 distinct trigrams)
    rows = [
        (1, "the cat the cat the cat the cat sat"),
        (2, "a a a a a a a a"),
        (3, "go go go stop go go go stop"),
        (4, "two words"),
        (5, "one"),
        (6, ""),
        (7, "  \n\t "),
        (8, "Mixed CASE mixed case, MIXED case!"),
    ]
    sh = dedup._shingle_df(spark.createDataFrame(rows, ["doc_id", "text"]), 3)
    banded = dedup._band_rows(
        sh, dedup.DEFAULT_NUM_HASHES, dedup.DEFAULT_BANDS
    ).collect()
    assert {r["doc_id"]: r["n"] for r in banded} == {
        d: len(_py_shingles(t)) for d, t in rows
    }
    # one row per band, its bucket the band's packed min-hashes
    got = {}
    for r in banded:
        got.setdefault(r["doc_id"], {})[r["band"]] = bytes(r["bucket"])
    assert got == {
        d: dict(enumerate(_py_band_keys(sorted(_py_shingles(t)))))
        for d, t in rows
    }


def test_minhash_params_keep_int64_kernel_exact():
    # the kernel computes a·base + b in int64: a < 2^30 and b < 2^32 with a
    # 32-bit base stay below 2^63
    a, b = dedup.minhash_params(dedup.DEFAULT_NUM_HASHES)
    assert all(0 < x < 1 << 30 and x % 2 == 1 for x in a)
    assert all(0 <= x < 1 << 32 for x in b)
    assert max(a) * ((1 << 32) - 1) + max(b) < 1 << 63


def test_minhash_kernel_matches_spark_sql_per_shingle(spark):
    """The kernel's signature equals the Spark SQL formulation (md5 base,
    multiply-shift mod 2^61-1, per-document min) shingle by shingle."""
    import numpy as np

    texts = spark.createDataFrame(
        [(1, ""), (2, None), (3, "one"), (4, "two words"),
         (5, "the quick brown fox jumps " * 400)],
        "doc_id long, text string",
    )
    docs = {r["doc_id"]: list(r["shingles"])
            for r in dedup._shingle_df(texts, 3).collect()}
    # empty and null text both shingle to the empty string
    assert docs[1] == docs[2] == [""]
    docs[6] = ["héllo wörld ça", "日本語 テキスト", "emoji 🙂 x"]
    docs[7] = ["x" * 5000 + " y"]
    a, b = dedup.minhash_params(dedup.DEFAULT_NUM_HASHES)
    shingles = sorted({s for v in docs.values() for s in v})
    base = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    sql = {
        r["s"]: list(r["h"])
        for r in spark.createDataFrame([(s,) for s in shingles], "s string")
        .select("s", F.array(*[
            (F.lit(ai) * base + F.lit(bi)) % F.lit(dedup.MINHASH_PRIME)
            for ai, bi in zip(a, b)
        ]).alias("h"))
        .collect()
    }

    def signatures(shingle_lists):
        # the signature is the band keys' longs, concatenated
        return [
            np.frombuffer(b"".join(keys), dtype=">i8").tolist()
            for keys in dedup.minhash_band_keys(shingle_lists, a, b, 16)
        ]

    assert dict(zip(shingles, signatures([[s] for s in shingles]))) == sql
    ids = sorted(docs)
    for d, sig in zip(ids, signatures([docs[d] for d in ids])):
        assert sig == [min(sql[s][i] for s in docs[d])
                       for i in range(len(a))], d
    # a null or empty array has no signature, hence no band keys
    keys = dedup.minhash_band_keys([None, [], docs[3]], a, b, 16)
    assert keys[:2] == [None, None]
    assert keys[2] == _py_band_keys(docs[3])
    # 10 hashes in 4 bands: 4 keys of 2 hashes each, the last 2 hashes
    # unused (as num_hashes // bands rows per band always did)
    keys = dedup.minhash_band_keys([docs[3]], a[:10], b[:10], 4)[0]
    assert keys == _py_band_keys(docs[3], 8, 4)


def test_simhash_pairs_hamming(spark, docs):
    pairs = dedup.simhash_pairs(docs.limit(120), max_hamming=3).collect()
    for r in pairs:
        assert r["hamming"] <= 3
    # exact duplicates must be found (hamming 0)
    exact = dedup.exact_duplicates(docs.limit(120)).collect()
    if exact:
        groups = {}
        for r in exact:
            groups.setdefault(r["canonical_id"], set()).add(r["doc_id"])
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        for members in groups.values():
            ms = sorted(members)
            for i, a in enumerate(ms):
                for b in ms[i + 1 :]:
                    assert (a, b) in found


def test_embedding_dup_pairs(spark, embeddings):
    # stock vectors are near-orthogonal (max pairwise cos ~0.51) — inject
    # genuine near-duplicates and verify sign-LSH blocking recovers them
    import numpy as np

    rows = embeddings.limit(100).collect()
    base = [list(map(float, r["embedding"])) for r in rows[:5]]
    rng = np.random.RandomState(3)
    injected = []
    for i, vec in enumerate(base):
        v = np.array(vec)
        dup = v + rng.randn(len(v)) * 0.01 * np.linalg.norm(v)
        injected.append((10_000 + i, [float(x) for x in dup]))
    df = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows] + injected,
        "vec_id long, embedding array<float>",
    )
    got = dedup.embedding_dup_pairs(df, threshold=0.95).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in got}
    expected = {(r["vec_id"], 10_000 + i) for i, r in enumerate(rows[:5])}
    recall = len(found & expected) / len(expected)
    # sign-LSH is probabilistic: per-pair all-sketch miss ≈1-2% at cos≈0.996
    assert recall >= 0.8, (recall, found)
    for r in got:
        assert r["cosine"] >= 0.95  # verification: no false positives


def test_cosine_topk_vs_numpy(spark, embeddings):
    import numpy as np

    rows = embeddings.select("vec_id", "embedding").collect()
    target = rows[0]
    q = [float(x) for x in target["embedding"]]
    got = similarity.cosine_topk(embeddings, q, k=10).collect()
    qv = np.array(q)
    sims = []
    for r in rows:
        v = np.array([float(x) for x in r["embedding"]])
        denom = np.linalg.norm(v) * (np.linalg.norm(qv) or 1.0)
        sims.append((round(float(np.dot(v, qv) / denom), 6), r["vec_id"]))
    expected = sorted(sims, key=lambda t: (-t[0], t[1]))[:10]
    assert [(r["cosine"], r["vec_id"]) for r in got] == expected
    assert got[0]["vec_id"] == target["vec_id"]  # self is nearest


def test_ivf_topk_recall(spark, embeddings):
    q_row = embeddings.first()
    q = [float(x) for x in q_row["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(embeddings, q, k=10).collect()]
    assigned, centroids = similarity.ivf_build(embeddings, n_cells=8)
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(assigned, centroids, q, k=10, nprobe=4).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.6, (recall, exact, approx)


def test_lang_id_and_quality_and_tokens(spark, docs):
    lang = textstats.lang_id(docs).collect()
    assert {r["lang_pred"] for r in lang} <= {"en", "de", "fr", "es", "zh", "und"}
    quality = textstats.text_quality(docs)
    row = quality.first()
    assert 0.0 <= row["quality_score"] <= 1.0
    assert quality.where(F.col("n_words") <= 0).count() == 0
    tok = textstats.token_counts(docs).collect()
    for r in tok[:20]:
        assert r["bpe_tokens_est"] >= r["ws_tokens"] >= 1

    fp = textstats.doc_fingerprints(docs)
    assert fp.where(F.length("md5_fingerprint") != 32).count() == 0


def test_multimodal_plumbing(spark):
    assets = spark.createDataFrame(
        [
            ("a1", "u1", "image", b"\x89PNGfake1", ("image/png", None, None, None)),
            ("a2", "u2", "image", b"\x89PNGfake2", ("image/png", None, None, None)),
            ("a3", "u3", "video", b"\x00\x00mp4fake", ("video/mp4", None, None, 5000)),
        ],
        schema=ASSET_SCHEMA,
    )
    feats = decode_image_features(assets, fake=True).collect()
    assert len(feats) == 2
    assert all(64 <= r["width"] <= 256 for r in feats)
    again = decode_image_features(assets, fake=True).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))  # deterministic

    frames = sample_video_frames(assets, every_ms=1000, fake=True).collect()
    assert {r["asset_id"] for r in frames} == {"a3"}
    assert len(frames) == 5

    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        decode_image_features(assets, fake=False).collect()


def test_streaming_batch_parity(spark, tmp_path):
    import shutil

    # FileStreamSource requires a directory of files
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-0.parquet")
    batch = windowed_counts_batch(spark.read.parquet(str(stream_dir)))
    stream = run_stream_to_memory(spark, str(stream_dir), table_name="t_wc")
    b = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    s = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in stream.collect()
    }
    assert b == s and b


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions emitted by the
    stream must match the batch sessionizer's closed sessions."""
    import shutil

    from pyspark.sql import functions as F

    from kiwi_spark.streaming.events import (
        EVENTS_SCHEMA,
        sessionize_stream,
    )

    stream_dir = tmp_path / "ev"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-0.parquet")

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1000)  # one micro-batch
        .parquet(str(stream_dir))
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, timeout="none")
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["sum_value"])
        for r in spark.table("t_sessions").collect()
    }

    batch = sessionize(spark.read.parquet(str(stream_dir)), gap_minutes=30)
    # the stream holds each user's LAST (still-open) session in state —
    # compare the closed ones (batch session_seq starts at 1 via sum-over-flag)
    last_seq = {
        r["user_id"]: r["m"]
        for r in batch.groupBy("user_id").agg(F.max("session_seq").alias("m")).collect()
    }
    expected = {
        (r["user_id"], r["session_seq"] - 1): (r["n_events"], round(r["sum_value"], 4))
        for r in batch.collect()
        if r["session_seq"] != last_seq[r["user_id"]]
    }
    got_rounded = {k: (n, round(sv, 4)) for k, (n, sv) in got.items()}
    assert got_rounded == expected
    assert got, "no closed sessions emitted"


def test_sessionize(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sessions = sessionize(events, gap_minutes=30)
    agg = sessions.groupBy("user_id").agg(F.sum("n_events").alias("n")).collect()
    per_user = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    for r in agg:
        assert r["n"] == per_user[r["user_id"]]
    # session bounds ordered
    row = sessions.first()
    assert row["session_start"] <= row["session_end"]


def test_spread_fans_out_small_scans(spark, tmp_path):
    """dedup._spread: a single-split scan repartitions to cluster
    parallelism; a scan whose file stats already imply ≥ target splits
    passes through unchanged (no RDD conversion — the estimate comes from
    file metadata, the Iceberg-manifest analog)."""
    from kiwi_spark.operators.dedup import _spread

    df = spark.createDataFrame([(i, f"t{i}") for i in range(100)], "doc_id int, text string")
    path = str(tmp_path / "docs_pq")
    df.coalesce(1).write.parquet(path)
    narrow = spark.read.parquet(path)
    assert narrow.rdd.getNumPartitions() <= 2
    spread = _spread(narrow)
    assert spread.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    # a many-file scan estimates ≥ target splits (openCost per file alone
    # crosses maxPartitionBytes × parallelism) → returned untouched
    wide_path = str(tmp_path / "docs_wide_pq")
    target = spark.sparkContext.defaultParallelism
    df.repartition(target * 8).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    assert _spread(wide) is wide  # no added shuffle at scale


def test_ivf_assignment_plan_independent_of_n_cells(spark, embeddings):
    """VERDICT r2 #3: assignment must be ONE Arrow-batched Python stage with
    a broadcast centroid matrix — no chained CASE WHEN growing with
    n_cells."""
    plans = {}
    for n_cells in (8, 64):
        assigned, _ = similarity.ivf_build(embeddings, n_cells=n_cells)
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "CASE WHEN" not in plan
        assert plan.count("ArrowEvalPython") == 1
        plans[n_cells] = len(plan)
    # plan text does not grow with the number of cells
    assert abs(plans[64] - plans[8]) < 200, plans


def test_ivf_recall_n_cells_256(spark, embeddings):
    """Exhaustive probe equals exact top-k even at 256 cells; a partial
    probe keeps useful recall."""
    q_row = embeddings.first()
    q = [float(x) for x in q_row["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(embeddings, q, k=10).collect()]
    assigned, centroids = similarity.ivf_build(embeddings, n_cells=256)
    assigned = assigned.cache()
    exhaustive = [
        r["vec_id"]
        for r in similarity.ivf_topk(assigned, centroids, q, k=10, nprobe=256).collect()
    ]
    assert exhaustive == exact
    partial = [
        r["vec_id"]
        for r in similarity.ivf_topk(assigned, centroids, q, k=10, nprobe=64).collect()
    ]
    recall = len(set(exact) & set(partial)) / 10
    assert recall >= 0.5, recall
    assigned.unpersist()


def test_ivf_build_clamps_cells_to_row_count(spark):
    """Fewer vectors than n_cells: the centroid sample's limit clamps the
    cell count, so callers need not count their rows first."""
    rows = [(i, [float(i == j) + 0.1 for j in range(4)]) for i in range(5)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, centroids = similarity.ivf_build(vecs, n_cells=16)
    assert len(centroids) == 5
    cells = [r["cell"] for r in assigned.collect()]
    assert len(cells) == 5 and set(cells) <= set(range(5))


def test_ngram_jaccard_hot_shingle_pruning(spark):
    """VERDICT r2 #4: a corpus-wide boilerplate shingle must not produce a
    quadratic self-join. With the df cap, docs whose only shared content is
    the hot shingle never become candidate pairs; max_shingle_df=None keeps
    the fully exact behavior."""
    from kiwi_spark.operators.dedup import ngram_jaccard_pairs, DEFAULT_MAX_SHINGLE_DF

    assert DEFAULT_MAX_SHINGLE_DF is not None  # safe default, not opt-in
    boiler = "subscribe to our newsletter today"
    rows = [(i, f"{boiler} unique{i} filler{i} extra{i} words{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the hot shingle's df → no candidate pairs at all
    pruned = ngram_jaccard_pairs(docs, n=3, threshold=0.05, max_shingle_df=10)
    assert pruned.count() == 0
    # unpruned exact run still pairs them (they do share shingles)
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.05, max_shingle_df=None)
    assert exact.count() > 0
