"""Extension operators: dedup / similarity / text / multimodal."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from exporter_spark.operators import dedup, multimodal, similarity, text
from exporter_spark.sources.files import load_table


# ---------------------------------------------------------------- text


def test_token_count(spark):
    df = spark.createDataFrame(
        [("one two  three",), ("",), ("   ",), ("single",)], "t string"
    )
    got = [r[0] for r in df.select(text.token_count(F.col("t"))).collect()]
    assert got == [3, 0, 0, 1]


def test_word_marker_hits_adjacent(spark):
    df = spark.createDataFrame([("the the the",), ("a the b",), ("nothe",)], "t string")
    got = [r[0] for r in df.select(text.word_marker_hits(F.col("t"), "the")).collect()]
    assert got == [3, 1, 0]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is here",),
            ("der hund und die katze ist da",),
            ("xyz qqq zzz",),
        ],
        "t string",
    )
    got = [r[0] for r in df.select(text.lang_id(F.col("t"))).collect()]
    assert got == ["en", "de", "und"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], "t string")
    fps = [r[0] for r in df.select(text.fingerprint(F.col("t"))).collect()]
    assert fps[0] == fps[1]
    assert len(fps[0]) == 32


def test_text_profile_on_documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    prof = text.text_profile(docs)
    row = prof.orderBy("doc_id").first()
    assert row["n_tokens"] > 0
    assert 0.0 <= row["quality"] <= 1.0
    assert row["lang_guess"] is not None


# ---------------------------------------------------------------- dedup


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near dup
        (4, "completely different content about spark query engines"),
        (5, "another unrelated document mentioning parquet files only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(dup_docs):
    out = dedup.exact_dedup(dup_docs, ["text"], "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5]  # doc 2 removed, first (min doc_id) kept


def test_hash_dedup(dup_docs):
    out = dedup.hash_dedup(dup_docs, ["text"], "doc_id")
    assert out.count() == 4
    assert out.columns == ["doc_id", "text"]  # helper columns dropped


def test_hash_dedup_digest_is_unambiguous(spark):
    """Column boundaries and NULL position must be collision-free:
    ("ab","c") vs ("a","bc"), ("a",NULL) vs (NULL,"a") vs ("a","")
    are all distinct rows and must all survive."""
    df = spark.createDataFrame(
        [
            (1, "ab", "c"),
            (2, "a", "bc"),
            (3, "a", None),
            (4, None, "a"),
            (5, "a", ""),
            (6, "a\x01b", "c"),  # value containing a would-be separator
            (7, "a", "b\x01c"),
            (8, "ab", "c"),  # true duplicate of row 1 — must collapse
        ],
        "id long, x string, y string",
    )
    out = dedup.hash_dedup(df, ["x", "y"], "id")
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3, 4, 5, 6, 7]


def test_minhash_family_is_pinned(spark):
    """The universal-hash family is derived from a fixed seed; a
    silent seed/formula change would still pass the oracle tests
    (both engines re-derive the same SQL) while changing every
    signature vs earlier rounds. Pin the constants and one base-hash
    value so that drift is loud."""
    assert dedup._MERSENNE == 2147483647
    assert dedup._minhash_coeffs(3) == [
        (304421255, 1836435294),
        (1317016046, 875424808),
        (421060966, 1255111736),
    ]
    frag = dedup.hashed_shingles_sql("array('abcdefgh')")
    got = spark.sql(f"SELECT {frag} AS h").collect()[0]["h"]
    assert got == [942590811]  # cross-checked against the DuckDB twin


def test_minhash_pipeline(dup_docs):
    pairs = dedup.minhash_dedup_pairs(
        dup_docs, "doc_id", "text", num_hashes=16, bands=8, shingle_n=4, threshold=0.5
    )
    got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0  # exact dup always collides
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0  # near dup found
    assert all(a != 4 and b != 4 for a, b in got)  # unrelated not paired


def test_scopeless_caller_can_release_collapsed_pair_caches(dup_docs):
    """ADVICE r17 low #2: outside a cache_scope the tracker holds weak
    entries, and the collapse path's pinned frames (tagged + rep sigs)
    are not themselves part of the returned plan's Python object graph
    — they must ride the result (``_es_cache_pins``) so a scope-less
    caller's release_caches() can still unpersist them instead of
    logging a leak."""
    import gc

    from exporter_spark.operators.partitioning import release_caches

    # drain anything earlier scope-less tests may have left behind so
    # the count below is this call's own
    release_caches()
    pairs = dedup.minhash_dedup_pairs(
        dup_docs, "doc_id", "text", num_hashes=16, bands=8, shingle_n=4,
        threshold=0.5,
    )
    assert len(pairs._es_cache_pins) == 2  # noqa: SLF001
    pairs.count()  # consume the caches
    gc.collect()  # the locals inside _collapsed_pairs are long gone...
    assert release_caches() == 2  # ...yet both pins release, not warn


def test_connected_components_long_chain(spark):
    """A 30-link drift chain (diameter 29) must fully converge inside
    the default max_iter=20 — pointer jumping makes rounds O(log d);
    plain min-label propagation would silently truncate here.
    small_edge_limit=None forces the DISTRIBUTED loop (this test pins
    the pointer-jumping convergence, not the driver fast path)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "a_id long, b_id long"
    )
    stats: dict = {}
    comp = dedup.connected_components(pairs, stats=stats, small_edge_limit=None)
    rows = comp.collect()
    assert len(rows) == 30
    assert all(r["component"] == 1 for r in rows)
    # rounds-to-converge observable (scale-sweep hook): log2(29) ≈ 5
    # jumped rounds, nowhere near max_iter, and definitely not the
    # plain-propagation 29
    assert 3 <= stats["rounds"] <= 10, stats
    assert stats["mode"] == "distributed"


def test_connected_components_driver_path_matches_distributed(spark):
    """The runtime-size-gated driver union-find (round 10) must be
    label-identical to the distributed loop on the same graph —
    chains, a clique, a singleton pair, and out-of-order ids."""
    raw = (
        [(i, i + 1) for i in range(1, 30)]
        + [(100, 101), (101, 102), (102, 100)]
        + [(7, 3)]
        + [(500, 400)]
    )
    pairs = spark.createDataFrame(raw, "a_id long, b_id long")
    stats_d: dict = {}
    fast = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs, stats=stats_d).collect()
    }
    slow = {
        (r["id"], r["component"])
        for r in dedup.connected_components(
            pairs, small_edge_limit=None
        ).collect()
    }
    assert fast == slow
    assert stats_d["mode"] == "driver" and stats_d["rounds"] == 0
    assert stats_d["n_edges"] == 2 * len(set(raw))


@pytest.mark.slow
def test_connected_components_modes_agree_on_random_graphs(spark):
    """Randomized mode-equivalence: seeded Erdős–Rényi-ish edge lists
    (mixed components, self-loops, duplicate edges, reversed pairs)
    must label identically through the driver union-find and the
    distributed loop. Fixed seeds keep the suite deterministic."""
    import random

    for seed in (7, 42, 1337):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(80)
        ]
        pairs = spark.createDataFrame(edges, "a_id long, b_id long")
        fast = {
            (r["id"], r["component"])
            for r in dedup.connected_components(pairs).collect()
        }
        slow = {
            (r["id"], r["component"])
            for r in dedup.connected_components(
                pairs, small_edge_limit=None
            ).collect()
        }
        assert fast == slow, f"seed {seed}: driver/distributed disagree"


def test_connected_components_null_ids_fall_back(spark):
    """A NULL id must not crash the driver path — it falls back to
    the distributed loop, where null never joins (matching the
    long-standing semantics)."""
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3)], "a_id long, b_id long"
    )
    stats: dict = {}
    rows = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs, stats=stats).collect()
    }
    assert stats["mode"] == "distributed"
    assert (1, 1) in rows and (2, 1) in rows


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage truncation from localCheckpoint
    (executor-local blocks — dies with any executor on a cluster) to
    reliable checkpoint() on fault-tolerant storage; the labeling must
    be identical, and checkpoint files must actually land in the dir."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)] + [(100, 101), (101, 102)],
        "a_id long, b_id long",
    )
    ckpt = str(tmp_path / "cc_ckpt")
    default = {
        (r["id"], r["component"])
        for r in dedup.connected_components(
            pairs, small_edge_limit=None
        ).collect()
    }
    reliable = {
        (r["id"], r["component"])
        for r in dedup.connected_components(
            pairs, checkpoint_dir=ckpt, small_edge_limit=None
        ).collect()
    }
    assert reliable == default
    import pathlib

    assert any(pathlib.Path(ckpt).rglob("*")), "no checkpoint files written"


def test_connected_components_raises_on_truncation(spark):
    """Exhausting max_iter without a fixed point must be loud — a
    truncated labeling is a wrong dedup, not an approximation."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        # small_edge_limit=None: the truncation contract belongs to
        # the distributed loop (driver union-find cannot truncate)
        dedup.connected_components(pairs, max_iter=2, small_edge_limit=None)


def test_ngram_jaccard_pairs(dup_docs, spark):
    blocked = dup_docs.withColumn("blk", F.lit(1))
    pairs = dedup.ngram_jaccard_pairs(
        blocked, "doc_id", "text", "blk", shingle_n=4, threshold=0.5
    )
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert not any(4 in p or 5 in p for p in got)


def test_ngram_jaccard_hot_block_guard(dup_docs, spark):
    """The quadratic-per-block contract is enforced in-plan: a block
    over max_block fails loudly at execution (distributed assert, no
    driver pre-pass); under the limit, results are unchanged."""
    import pytest

    blocked = dup_docs.withColumn("blk", F.lit(1))
    hot = dedup.ngram_jaccard_pairs(
        blocked, "doc_id", "text", "blk", threshold=0.5, max_block=3
    )
    with pytest.raises(Exception, match="max_block=3"):
        hot.collect()
    ok = dedup.ngram_jaccard_pairs(
        blocked, "doc_id", "text", "blk", threshold=0.5, max_block=5
    )
    got = {(r["a_id"], r["b_id"]) for r in ok.collect()}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got


def test_simhash_near_dup(dup_docs):
    pairs = dedup.simhash_near_dup_pairs(dup_docs, "doc_id", "text", max_hamming=3)
    got = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0  # identical text ⇒ identical fingerprint
    assert (1, 3) in got  # one-word change ⇒ few bits


def test_band_self_joins_reuse_one_shuffle(dup_docs, spark):
    """The reuse contract of ``dedup.band_join``: above the broadcast
    threshold both join sides read ONE shuffle of the band triples —
    the final adaptive plan holds one (band, key) repartition
    exchange and one ``ReusedExchange`` of it — for the MinHash, the
    SimHash and the pHash self-joins."""
    from exporter_spark.operators import phash

    y, x, ch = np.indices((16, 16, 3))
    imgs = [((i * 37 + 29 * y + 5 * x + 11 * ch) % 256).astype(np.uint8) for i in range(4)]
    media = spark.createDataFrame(
        [(i, bytearray(multimodal.encode_png(px)), None) for i, px in enumerate(imgs * 2)],
        multimodal.media_schema(),
    )
    thresholds = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {key: spark.conf.get(key, None) for key in thresholds}
    try:
        for key in thresholds:
            spark.conf.set(key, "-1")
        frames = {
            "minhash": dedup.minhash_candidate_pairs(dup_docs, "doc_id", "text"),
            "simhash": dedup.simhash_near_dup_pairs(
                dup_docs, "doc_id", "text", kernel="sql"
            ),
            "phash": phash.phash_near_dup_pairs(media),
        }
        for name, df in frames.items():
            assert df.collect(), name
            final = df._jdf.queryExecution().executedPlan().executedPlan()
            bands = [
                ln for ln in final.toString().splitlines()
                if "REPARTITION_BY_COL" in ln
            ]
            assert len(bands) == 2, (name, bands)
            assert sum("ReusedExchange" in ln for ln in bands) == 1, (name, bands)
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


# ---------------------------------------------------------------- similarity


def test_embedding_bucket_guards(spark):
    """The within-bucket quadratic contract is enforced loudly (round
    8, same idiom as ngram_jaccard's max_block): identical vectors all
    land in one LSH bucket, so a small max_bucket must fail the job
    with the sizing rule in the message, and the default must leave
    results unchanged."""
    import pytest

    emb = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(10)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="max_bucket=3"):
        similarity.embedding_near_dup_pairs(
            emb, dims=8, planes=4, max_bucket=3
        ).count()
    assert (
        similarity.embedding_near_dup_pairs(emb, dims=8, planes=4).count() == 45
    )
    with pytest.raises(Exception, match="max_bucket=3"):
        similarity.semdedup(emb, dims=8, planes=4, max_bucket=3).count()
    assert similarity.semdedup(emb, dims=8, planes=4).count() == 1
    with pytest.raises(Exception, match="max_bucket=3"):
        similarity.embedding_near_dup_banded(
            emb, dims=8, planes_per_table=2, num_tables=2, max_bucket=3
        ).count()
    assert (
        similarity.embedding_near_dup_banded(
            emb, dims=8, planes_per_table=2, num_tables=2
        ).count()
        == 45
    )


def test_cosine_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(20).cache()
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    out = emb.alias("a").crossJoin(emb.alias("b")).filter(
        (F.expr("a.vec_id") == 0) & (F.expr("b.vec_id") == 1)
    ).select(similarity.cosine("a.embedding", "b.embedding").alias("c")).first()
    a, b = rows[0], rows[1]
    expected = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(out["c"] - expected) < 1e-9


def test_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        sims = [r["sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_lsh_topk_is_subset_quality(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2)
    exact = similarity.cosine_topk(emb, queries, k=3).collect()
    approx = similarity.lsh_topk(emb, queries, k=3, dims=64, planes=4).collect()
    # LSH with few planes should return results for both queries and
    # sims can't exceed the exact best
    best = {r["query_id"]: r["sim"] for r in exact if r["rank"] == 1}
    for r in approx:
        assert r["sim"] <= best[r["query_id"]] + 1e-9


def test_numpy_kernel_bit_exact_vs_sql(spark, sf_dir):
    """The Arrow numpy kernels must reproduce the interpreted HOF
    path bit-for-bit (cumsum = left-assoc fold), or oracle hashes
    drift. Compare raw doubles with zero tolerance."""
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    pairs = (
        emb.alias("a")
        .crossJoin(emb.alias("b"))
        .filter(F.expr("a.vec_id < b.vec_id"))
        .select(
            F.col("a.embedding").alias("va"), F.col("b.embedding").alias("vb")
        )
    )
    got = pairs.select(
        similarity.dot("va", "vb").alias("d_sql"),
        similarity.dot_fast("va", "vb").alias("d_np"),
        similarity.norm("va").alias("n_sql"),
        similarity.norm_fast("va").alias("n_np"),
    ).collect()
    assert got and all(r["d_sql"] == r["d_np"] for r in got)
    assert all(r["n_sql"] == r["n_np"] for r in got)


def test_lsh_signature_kernels_agree(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    sql_sig = similarity.with_lsh_signature(
        emb, "embedding", dims=64, planes=8, kernel="sql"
    ).select("vec_id", F.col("__sig__").alias("s"))
    np_sig = similarity.with_lsh_signature(
        emb, "embedding", dims=64, planes=8, kernel="numpy"
    ).select("vec_id", F.col("__sig__").alias("s"))
    a = {r["vec_id"]: r["s"] for r in sql_sig.collect()}
    b = {r["vec_id"]: r["s"] for r in np_sig.collect()}
    assert a == b


def test_topk_kernels_agree(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    key = lambda r: (r["query_id"], r["rank"])
    exact_sql = sorted(
        similarity.cosine_topk(emb, queries, k=5, kernel="sql").collect(), key=key
    )
    exact_np = sorted(
        similarity.cosine_topk(emb, queries, k=5, kernel="numpy").collect(), key=key
    )
    assert [tuple(r) for r in exact_sql] == [tuple(r) for r in exact_np]
    scan = sorted(
        similarity.cosine_topk_scan(emb, queries, k=5).collect(), key=key
    )
    assert [tuple(r) for r in scan] == [tuple(r) for r in exact_sql]
    nd_join = similarity.embedding_near_dup_pairs(
        emb, threshold=0.3, planes=4, mode="join", sig_kernel="sql"
    ).collect()
    nd_grouped = similarity.embedding_near_dup_pairs(
        emb, threshold=0.3, planes=4, mode="grouped"
    ).collect()
    assert sorted(map(tuple, nd_join)) == sorted(map(tuple, nd_grouped))
    assert nd_grouped  # non-degenerate: buckets actually produced pairs


def test_banded_near_dup_recall_and_plan(spark, sf_dir):
    """Banded LSH must (a) recover ≥0.9 of the true pairs that a
    single-table signature would miss, (b) never fabricate a pair
    (verification is exact), and (c) contain no O(n²) stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.collect()
    V = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    iu, ju = np.triu_indices(len(ids), k=1)
    th = 0.3
    truth = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(iu[S[iu, ju] >= th], ju[S[iu, ju] >= th])
    }
    assert truth, "test needs a non-empty ground truth"
    df = similarity.embedding_near_dup_banded(
        emb, threshold=th, planes_per_table=3, num_tables=12
    )
    got = {(r["a_id"], r["b_id"]) for r in df.collect()}
    assert got <= truth  # no false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f} over {len(truth)} true pairs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# ---------------------------------------------------------------- multimodal


def test_extract_features_deterministic(spark):
    # explicit stub opt-in: the fake decoder is for plumbing tests
    # over non-media payloads (round-15 behavior change)
    rows = [(1, bytearray(b"payload-one"), ("image", "png", 8, 8, None))]
    df = spark.createDataFrame(rows * 2, multimodal.media_schema())
    out = multimodal.extract_features(
        df, decoder=multimodal.stub_decoder(4)
    ).collect()
    assert len(out) == 2
    assert out[0]["features"] == out[1]["features"]
    assert len(out[0]["features"]) == 4
    assert all(0.0 <= v < 1.0 for v in out[0]["features"])


def test_extract_features_default_is_real_auto_decoder(spark):
    """Round-15 behavior: no decoder= -> the REAL auto_decoder. Valid
    media decodes to its true lanes; garbage payloads FAIL the row
    loudly instead of yielding fabricated features; the legacy
    n_features knob is refused with the default decoder."""
    import numpy as np

    px = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    rows = [(1, bytearray(multimodal.encode_png(px)), None)]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = multimodal.extract_features(df).collect()
    assert len(out) == 1
    feats = out[0]["features"]
    assert len(feats) == 8
    assert feats[:4] == [5.0, 4.0, 3.0, 8.0]  # w, h, channels, depth

    bad = spark.createDataFrame(
        [(2, bytearray(b"TIFF-not-decodable"), None)],
        multimodal.media_schema(),
    )
    with pytest.raises(Exception, match="no decoder for payload magic"):
        multimodal.extract_features(bad).collect()

    with pytest.raises(ValueError, match="n_features"):
        multimodal.extract_features(df, n_features=4)


def test_wav_decoder_golden():
    """VERDICT r12 missing #1: a REAL media decode with zero external
    deps. Golden: an alternating ±1000 square wave at 8 kHz, 16-bit
    mono — every feature is hand-computable."""
    payload = multimodal.encode_wav(
        [1000, -1000] * 50, framerate=8000, sampwidth=2, nchannels=1
    )
    feats = multimodal.wav_decoder()(payload)
    got = dict(zip(multimodal.WAV_FEATURE_NAMES, (float(v) for v in feats)))
    assert got["nchannels"] == 1.0
    assert got["framerate"] == 8000.0
    assert got["n_frames"] == 100.0
    assert abs(got["duration_ms"] - 12.5) < 1e-6
    assert abs(got["rms"] - 1000 / 2**15) < 1e-6
    assert abs(got["peak"] - 1000 / 2**15) < 1e-6
    assert abs(got["zero_crossing_rate"] - 1.0) < 1e-6  # alternates every frame
    assert abs(got["dc_mean"]) < 1e-6
    assert feats.dtype.name == "float32" and len(feats) == 8


def test_wav_decoder_widths_channels_and_refusals():
    import numpy as np
    import pytest

    dec = multimodal.wav_decoder()
    # stereo mixdown: L=+2000, R=-2000 averages to silence
    stereo = multimodal.encode_wav(
        [2000, -2000] * 20, framerate=16000, sampwidth=2, nchannels=2
    )
    f = dict(zip(multimodal.WAV_FEATURE_NAMES, dec(stereo).tolist()))
    assert f["nchannels"] == 2.0 and f["n_frames"] == 20.0
    assert f["rms"] == 0.0 and f["peak"] == 0.0
    # 8-bit unsigned: constant 128 is digital silence
    u8 = multimodal.encode_wav([128] * 64, sampwidth=1)
    f8 = dict(zip(multimodal.WAV_FEATURE_NAMES, dec(u8).tolist()))
    assert f8["rms"] == 0.0 and f8["dc_mean"] == 0.0 and f8["n_frames"] == 64.0
    # 32-bit full-scale
    i32 = multimodal.encode_wav([2**30, -(2**30)] * 8, sampwidth=4)
    f32 = dict(zip(multimodal.WAV_FEATURE_NAMES, dec(i32).tolist()))
    assert abs(f32["peak"] - 0.5) < 1e-6
    # refusals: garbage bytes, truncated header, unsupported width
    with pytest.raises(ValueError, match="undecodable WAV"):
        dec(b"not a wav at all")
    with pytest.raises(ValueError, match="undecodable WAV"):
        dec(multimodal.encode_wav([1, 2, 3])[:10])
    with pytest.raises(ValueError, match="sampwidth 3"):
        multimodal.encode_wav([0], sampwidth=3)
    # round-trip determinism
    assert np.array_equal(dec(stereo), dec(stereo))


def test_wav_decoder_ragged_byte_tail():
    """r17 fuzz-campaign find: a data chunk whose byte count is not a
    multiple of the sample width (odd-length tail after truncation/
    mutation) leaked numpy's raw 'buffer size must be a multiple of
    element size' ValueError. Policy is the same as the ragged FRAME
    tail: trim and decode what's whole."""
    import numpy as np

    dec = multimodal.wav_decoder()
    base = multimodal.encode_wav([1000, -1000] * 10, sampwidth=2)
    # chop one byte off the end: data chunk now reports odd length
    ragged = bytearray(base[:-1])
    # wave reads up to the promised frame count; patch the data size
    # field down so stdlib wave accepts the shorter chunk but leaves
    # an odd byte count (39 bytes = 19.5 samples)
    import struct
    data_pos = bytes(base).rindex(b"data")
    n = struct.unpack("<I", base[data_pos + 4 : data_pos + 8])[0]
    struct.pack_into("<I", ragged, data_pos + 4, n - 1)
    feats = dec(bytes(ragged))  # must not raise
    f = dict(zip(multimodal.WAV_FEATURE_NAMES, feats.tolist()))
    assert f["n_frames"] == 19.0  # 39 bytes -> 19 whole samples


def test_wav_decoder_corruption_contract_mini_fuzz():
    """r17 fuzz-campaign find #2: stdlib wave/chunk raise a BARE
    RuntimeError from Chunk.seek on inconsistent chunk sizes, which
    escaped the (wave.Error, EOFError) guard. Seeded mini-fuzz: 3000
    mutations must produce only clean decodes or named ValueError
    refusals, and the seed is chosen so the RuntimeError cause path
    is actually exercised (asserted via __cause__)."""
    import random

    import numpy as np

    base = multimodal.encode_wav(np.arange(512, dtype=np.int16).reshape(-1, 2))
    dec = multimodal.wav_decoder()
    rng = random.Random(99)
    runtime_caused = 0
    for _ in range(3000):
        b = bytearray(base)
        op = rng.randrange(5)
        if op == 0 and b:
            b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1 and b:
            j = rng.randrange(len(b))
            for k in range(j, min(len(b), j + rng.randrange(1, 17))):
                b[k] = rng.randrange(256)
        elif op == 2:
            b = b[: rng.randrange(len(b) + 1)]
        elif op == 3:
            b = bytes(b) + bytes(
                rng.randrange(256) for _ in range(rng.randrange(1, 64))
            )
        elif b:
            j = rng.randrange(len(b))
            b[j] ^= 1 << rng.randrange(8)
        try:
            out = dec(bytes(b))
            assert out.shape == (8,)
        except ValueError as ex:
            assert "undecodable WAV" in str(ex) or "not supported" in str(ex)
            if isinstance(ex.__cause__, RuntimeError):
                runtime_caused += 1
    assert runtime_caused >= 1  # the found leak path stays exercised


def test_wav_decoder_through_extract_features(spark):
    """The real decoder rides the same Arrow-batched mapInPandas seam
    as the stub — end-to-end over a Spark frame, one modality real."""
    tone = multimodal.encode_wav(
        [1000, -1000] * 50, framerate=8000, sampwidth=2
    )
    silence = multimodal.encode_wav([0] * 200, framerate=8000, sampwidth=2)
    rows = [
        (1, bytearray(tone), ("audio", "wav", None, None, 13)),
        (2, bytearray(silence), ("audio", "wav", None, None, 25)),
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(
            df, decoder=multimodal.wav_decoder()
        ).collect()
    }
    tone_f = dict(zip(multimodal.WAV_FEATURE_NAMES, out[1]))
    sil_f = dict(zip(multimodal.WAV_FEATURE_NAMES, out[2]))
    assert abs(tone_f["rms"] - 1000 / 2**15) < 1e-6
    assert sil_f["rms"] == 0.0
    assert tone_f["duration_ms"] < sil_f["duration_ms"]


def test_png_decoder_golden():
    """Round 13: the second REAL media decode (stdlib zlib/struct).
    Golden: a 2x2 RGB image of pure R, G, B and white — BT.601 luma
    of every pixel is hand-computable."""
    import numpy as np

    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]],
        dtype=np.uint8,
    )
    feats = multimodal.png_decoder()(multimodal.encode_png(px))
    got = dict(zip(multimodal.PNG_FEATURE_NAMES, (float(v) for v in feats)))
    lumas = [0.299, 0.587, 0.114, 1.0]
    mean = sum(lumas) / 4
    std = (sum((v - mean) ** 2 for v in lumas) / 4) ** 0.5
    assert got["width"] == 2.0 and got["height"] == 2.0
    assert got["n_channels"] == 3.0 and got["bit_depth"] == 8.0
    assert abs(got["mean_luma"] - mean) < 1e-6
    assert abs(got["std_luma"] - std) < 1e-6
    assert abs(got["min_luma"] - 0.114) < 1e-6
    assert abs(got["max_luma"] - 1.0) < 1e-6
    assert feats.dtype.name == "float32" and len(feats) == 8


def test_png_roundtrip_every_filter_and_color_type():
    """encode_png can pin any one scanline filter on every line, so
    each of the decoder's five unfilter paths gets a pixel-exact
    round trip, for gray / gray+alpha / RGB / RGBA."""
    import numpy as np

    dec = multimodal.png_decoder()
    rng = np.random.RandomState(13)
    for ch in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(7, 5, ch), dtype=np.uint8)
        for ft in range(5):
            payload = multimodal.encode_png(px, filter_type=ft)
            back = dec.pixels(payload)
            assert back.shape == (7, 5, ch), (ch, ft)
            assert np.array_equal(back, px), f"ch={ch} filter={ft}"
    # gradient images exercise Average/Paeth predictions that differ
    # from zero; 1-pixel-wide and 1-pixel-tall edges hit the left/up
    # boundary conditions
    grad = np.outer(np.arange(16), np.arange(1, 9))[..., None] % 256
    for ft in range(5):
        p = multimodal.encode_png(grad.astype(np.uint8), filter_type=ft)
        assert np.array_equal(
            dec.pixels(p), grad.astype(np.uint8)
        ), f"grad filter={ft}"
    skinny = np.arange(11, dtype=np.uint8).reshape(11, 1, 1)
    flat = np.arange(9, dtype=np.uint8).reshape(1, 9, 1)
    for img in (skinny, flat):
        for ft in range(5):
            assert np.array_equal(
                dec.pixels(multimodal.encode_png(img, filter_type=ft)), img
            )


def test_png_decoder_palette():
    """Color type 3: indices expand through PLTE to RGB. Fixture is
    hand-built (encode_png has no palette mode by design)."""
    import struct
    import zlib

    import numpy as np

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    scan = bytes([0, 0, 1]) + bytes([0, 2, 2])  # filter 0 per line
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    dec = multimodal.png_decoder()
    px = dec.pixels(payload)
    assert np.array_equal(
        px,
        np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [0, 0, 255]]],
            dtype=np.uint8,
        ),
    )
    got = dict(
        zip(multimodal.PNG_FEATURE_NAMES, dec(payload).tolist())
    )
    assert got["n_channels"] == 3.0  # expanded
    # same image minus its PLTE chunk must refuse, not guess
    no_plte = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="without PLTE"):
        dec.pixels(no_plte)


def test_png_decoder_refusals():
    """Malformed payloads fail the row loudly with the reason named —
    never fake features."""
    import struct
    import zlib

    import numpy as np

    dec = multimodal.png_decoder()
    good = multimodal.encode_png(
        np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    )
    with pytest.raises(ValueError, match="bad signature"):
        dec(b"GIF89a not a png")
    with pytest.raises(ValueError, match="bad signature"):
        dec(b"")
    with pytest.raises(ValueError, match="truncated|missing IEND"):
        dec(good[:-8])
    # flip one IDAT byte: CRC must catch it
    idat_at = good.index(b"IDAT") + 4
    corrupt = bytearray(good)
    corrupt[idat_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        dec(bytes(corrupt))

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    scan = zlib.compress(bytes([0, 7]))
    # sub-byte depth and 16-bit palette: declared unsupported, loud
    subbyte = struct.pack(">IIBBBBB", 1, 1, 4, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="bit depth 4"):
        dec(sig + chunk(b"IHDR", subbyte) + chunk(b"IDAT", scan)
            + chunk(b"IEND", b""))
    pal16 = struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0)
    with pytest.raises(ValueError, match="palette at bit depth 16"):
        dec(sig + chunk(b"IHDR", pal16) + chunk(b"IDAT", scan)
            + chunk(b"IEND", b""))
    # garbage where the deflate stream should be
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="inflate failed"):
        dec(sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"\x00garbage")
            + chunk(b"IEND", b""))
    # header promises more scanline bytes than IDAT carries
    short = zlib.compress(bytes([0]))
    with pytest.raises(ValueError, match="decompressed size"):
        dec(sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", short)
            + chunk(b"IEND", b""))
    # round-trip determinism on the good payload
    assert np.array_equal(dec(good), dec(good))


def test_png_16bit_and_adam7_roundtrip():
    """Bit depth 16 (big-endian samples, byte-level filters with a
    2-byte-per-sample left distance) and Adam7 interlace (seven
    passes, filters resetting per pass) round-trip pixel-exact —
    including combined, and at sizes where several passes are empty."""
    import numpy as np

    dec = multimodal.png_decoder()
    rng = np.random.RandomState(7)
    # 16-bit: extremes force byte-lane carries the 8-bit tests never see
    for ch in (1, 3, 4):
        px = rng.randint(0, 65536, size=(6, 4, ch)).astype(np.uint16)
        px[0, 0] = 65535
        px[-1, -1] = 0
        for ft in range(5):
            back = dec.pixels(
                multimodal.encode_png(px, filter_type=ft, bit_depth=16)
            )
            assert back.dtype == np.uint16
            assert np.array_equal(back, px), f"16-bit ch={ch} ft={ft}"
    feats = dict(
        zip(
            multimodal.PNG_FEATURE_NAMES,
            dec(
                multimodal.encode_png(
                    np.full((2, 2), 65535, dtype=np.uint16), bit_depth=16
                )
            ).tolist(),
        )
    )
    assert feats["bit_depth"] == 16.0 and feats["mean_luma"] == 1.0
    # Adam7: exercise sizes >8 (every pass non-empty), tiny sizes
    # (most passes empty), and every filter inside the passes
    for shape in ((13, 11, 3), (9, 9, 1), (1, 1, 1), (3, 2, 4), (8, 8, 2)):
        px = rng.randint(0, 256, size=shape, dtype=np.uint8)
        for ft in range(5):
            p = multimodal.encode_png(px, filter_type=ft, interlace=True)
            assert np.array_equal(dec.pixels(p), px), f"{shape} ft={ft}"
    # interlace changes the stream layout but not the decoded image
    px = rng.randint(0, 256, size=(10, 10, 3), dtype=np.uint8)
    plain = multimodal.encode_png(px)
    woven = multimodal.encode_png(px, interlace=True)
    assert plain != woven
    assert np.array_equal(dec.pixels(plain), dec.pixels(woven))
    # 16-bit + Adam7 combined
    px16 = rng.randint(0, 65536, size=(11, 7, 2)).astype(np.uint16)
    for ft in range(5):
        p = multimodal.encode_png(
            px16, filter_type=ft, bit_depth=16, interlace=True
        )
        assert np.array_equal(dec.pixels(p), px16), f"16+adam7 ft={ft}"


def test_ppm_decoder_roundtrip_and_maxval():
    """Netpbm: binary and plain variants round-trip pixel-exact;
    luma normalizes by the DECLARED maxval, not the sample width."""
    import numpy as np

    dec = multimodal.ppm_decoder()
    rng = np.random.RandomState(5)
    for ch in (1, 3):
        px8 = rng.randint(0, 256, size=(6, 4, ch), dtype=np.uint8)
        px16 = rng.randint(0, 65536, size=(3, 5, ch)).astype(np.uint16)
        for px in (px8, px16):
            for ascii_format in (False, True):
                back = dec.pixels(
                    multimodal.encode_ppm(px, ascii_format=ascii_format)
                )
                assert np.array_equal(back, px), (ch, px.dtype, ascii_format)
    # declared maxval 100: a 100-valued gray pixel is full luma
    payload = b"P5\n# a comment\n2 1\n100\n" + bytes([100, 50])
    got = dict(zip(multimodal.PNG_FEATURE_NAMES, dec(payload).tolist()))
    assert got["max_luma"] == 1.0 and got["min_luma"] == 0.5
    assert got["width"] == 2.0 and got["bit_depth"] == 8.0
    # refusals: bad magic, truncated binary, plain value over maxval
    with pytest.raises(ValueError, match="bad magic"):
        dec(b"P7\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="sample bytes"):
        dec(b"P6\n2 2\n255\n" + bytes(5))
    with pytest.raises(ValueError, match="outside"):
        dec(b"P2\n2 1\n10\n5 11\n")
    with pytest.raises(ValueError, match="truncated header"):
        dec(b"P5\n4 4")
    # spec-legal trailing content after the first raster is accepted:
    # a trailing newline (common writer habit) and a concatenated
    # second image (multi-image P5/P6 streams) both decode to the
    # FIRST raster only (ADVICE r13)
    first = np.array([[1, 2], [3, 4]], dtype=np.uint8)
    base = b"P5\n2 2\n255\n" + first.tobytes()
    assert np.array_equal(dec.pixels(base + b"\n"), first[:, :, None])
    assert np.array_equal(
        dec.pixels(base + b"P5\n2 2\n255\n" + bytes(4)), first[:, :, None]
    )
    # 16-bit path: same tolerance, count capped at the first raster
    wide = np.array([[256, 512]], dtype=np.uint16)
    payload16 = b"P5\n2 1\n65535\n" + wide.astype(">u2").tobytes() + b"\n"
    assert np.array_equal(dec.pixels(payload16), wide[:, :, None])


def test_bmp_decoder_roundtrip_variants_and_refusals():
    """Windows BMP: 8-bit grayscale palette / 24-bit / 32-bit
    round-trip pixel-exact through the padded bottom-up layout;
    top-down and truncated/compressed payloads behave per contract."""
    import struct

    import numpy as np

    dec = multimodal.bmp_decoder()
    rng = np.random.RandomState(17)
    # 24-bit and 32-bit: odd widths exercise the 4-byte row padding
    for ch in (3, 4):
        for w in (1, 2, 3, 5):
            px = rng.randint(0, 256, size=(4, w, ch), dtype=np.uint8)
            back = dec.pixels(multimodal.encode_bmp(px))
            assert np.array_equal(back, px), (ch, w)
    # 8-bit grayscale palette expands to RGB
    gray = rng.randint(0, 256, size=(3, 7), dtype=np.uint8)
    back = dec.pixels(multimodal.encode_bmp(gray))
    assert np.array_equal(back, np.repeat(gray[:, :, None], 3, axis=2))
    # top-down (negative height): flip the encoder's bottom-up body
    px = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    payload = bytearray(multimodal.encode_bmp(px))
    struct.pack_into("<i", payload, 22, -2)  # height -> -2 (top-down)
    (offset,) = struct.unpack_from("<I", payload, 10)
    stride = (4 * 3 + 3) // 4 * 4
    body = bytes(payload[offset:])
    payload[offset:] = body[stride:] + body[:stride]  # swap the 2 rows
    assert np.array_equal(dec.pixels(bytes(payload)), px)
    # features ride the shared lane layout
    f = dict(
        zip(
            multimodal.PNG_FEATURE_NAMES,
            dec(multimodal.encode_bmp(np.full((2, 2, 3), 255, np.uint8))),
        )
    )
    assert f["mean_luma"] == 1.0 and f["n_channels"] == 3.0
    # refusals
    with pytest.raises(ValueError, match="bad magic"):
        dec(b"not a bitmap at all........................................")
    with pytest.raises(ValueError, match="truncated"):
        dec(multimodal.encode_bmp(px)[:-5])
    rle = bytearray(multimodal.encode_bmp(gray))
    struct.pack_into("<I", rle, 30, 1)  # compression = BI_RLE8
    with pytest.raises(ValueError, match="compression 1"):
        dec(bytes(rle))
    # forged clr_used (ADVICE r13): a huge value must raise the NAMED
    # refusal, never numpy's raw buffer error; a value in (256, huge)
    # must not silently read header/pixel bytes as palette
    forged = bytearray(multimodal.encode_bmp(gray))
    struct.pack_into("<I", forged, 46, 2**31)
    with pytest.raises(ValueError, match="clr_used"):
        dec(bytes(forged))
    struct.pack_into("<I", forged, 46, 300)
    with pytest.raises(ValueError, match="clr_used"):
        dec(bytes(forged))
    # clr_used <= 256 but table overruns the pixel offset: the
    # encoder writes exactly 256 entries, so claiming 256 with a
    # shrunk pixel offset must hit the overrun refusal
    overrun = bytearray(multimodal.encode_bmp(gray))
    (true_off,) = struct.unpack_from("<I", overrun, 10)
    struct.pack_into("<I", overrun, 46, 256)
    struct.pack_into("<I", overrun, 10, 54 + 255 * 4)  # offset inside table
    with pytest.raises(ValueError, match="overruns|truncated"):
        dec(bytes(overrun))
    # resizer + probe route BMP
    rz = multimodal.image_resizer()
    small = dec.pixels(rz(multimodal.encode_bmp(px), 2, 1))
    assert small.shape == (1, 2, 3)


def test_auto_decoder_dispatch(spark):
    """One mixed-format frame through the seam: WAV, PNG and PPM
    rows each route to their real decoder; unknown magic fails the
    row loudly."""
    import numpy as np

    wav = multimodal.encode_wav([1000, -1000] * 50, framerate=8000)
    png = multimodal.encode_png(np.full((2, 2), 255, dtype=np.uint8))
    ppm = multimodal.encode_ppm(np.zeros((2, 2), dtype=np.uint8))
    bmp = multimodal.encode_bmp(np.full((2, 2, 3), 255, dtype=np.uint8))
    rows = [
        (1, bytearray(wav), ("audio", "wav", None, None, 13)),
        (2, bytearray(png), ("image", "png", 2, 2, None)),
        (3, bytearray(ppm), ("image", "ppm", 2, 2, None)),
        (4, bytearray(bmp), ("image", "bmp", 2, 2, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(
            df, decoder=multimodal.auto_decoder()
        ).collect()
    }
    assert dict(zip(multimodal.WAV_FEATURE_NAMES, out[1]))["framerate"] == 8000.0
    assert dict(zip(multimodal.PNG_FEATURE_NAMES, out[2]))["mean_luma"] == 1.0
    assert dict(zip(multimodal.PNG_FEATURE_NAMES, out[3]))["mean_luma"] == 0.0
    assert dict(zip(multimodal.PNG_FEATURE_NAMES, out[4]))["mean_luma"] == 1.0
    with pytest.raises(ValueError, match="no decoder for payload magic"):
        multimodal.auto_decoder()(b"II*\x00 tiff...")
    # GIF is ROUTED as of r15: a truncated GIF gets the GIF codec's
    # named refusal, not the unknown-magic error
    with pytest.raises(ValueError, match="undecodable GIF"):
        multimodal.auto_decoder()(b"GIF89a...")


def test_png_decoder_through_extract_features(spark):
    """The real PNG decoder rides the same Arrow-batched mapInPandas
    seam as the stub — end-to-end over a Spark frame."""
    import numpy as np

    black = multimodal.encode_png(np.zeros((4, 6, 3), dtype=np.uint8))
    white = multimodal.encode_png(
        np.full((2, 3), 255, dtype=np.uint8), filter_type=2
    )
    rows = [
        (1, bytearray(black), ("image", "png", 6, 4, None)),
        (2, bytearray(white), ("image", "png", 3, 2, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = {
        r["media_id"]: dict(zip(multimodal.PNG_FEATURE_NAMES, r["features"]))
        for r in multimodal.extract_features(
            df, decoder=multimodal.png_decoder()
        ).collect()
    }
    assert out[1]["mean_luma"] == 0.0 and out[1]["width"] == 6.0
    assert out[2]["mean_luma"] == 1.0 and out[2]["n_channels"] == 1.0


def test_image_resizer_real():
    """Real nearest-neighbor resample over the stdlib codecs:
    identity resize is pixel-exact, downscale picks the expected
    source pixels, format/depth survive, odd-maxval Netpbm rescales
    to keep luma identical."""
    import numpy as np

    rz = multimodal.image_resizer()
    dec = multimodal.png_decoder()
    pdec = multimodal.ppm_decoder()
    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(4, 4, 3), dtype=np.uint8)
    # identity: same pixels back (PNG and PPM)
    assert np.array_equal(
        dec.pixels(rz(multimodal.encode_png(px), 4, 4)), px
    )
    assert np.array_equal(
        pdec.pixels(rz(multimodal.encode_ppm(px), 4, 4)), px
    )
    # 4x4 -> 2x2 nearest with pixel-center mapping picks rows/cols 0,2
    small = dec.pixels(rz(multimodal.encode_png(px), 2, 2))
    assert np.array_equal(small, px[[0, 2]][:, [0, 2]])
    # 1x1 -> 3x3 replicates; 16-bit depth survives
    one = np.full((1, 1), 60000, dtype=np.uint16)
    up = dec.pixels(rz(multimodal.encode_png(one, bit_depth=16), 3, 3))
    assert up.shape == (3, 3, 1) and int(up.max()) == int(up.min()) == 60000
    # odd-maxval PPM: 100-of-100 is full luma before AND after
    payload = b"P5\n1 1\n100\n" + bytes([100])
    before = dict(zip(multimodal.PNG_FEATURE_NAMES, pdec(payload).tolist()))
    resized = rz(payload, 2, 2)
    after = dict(zip(multimodal.PNG_FEATURE_NAMES, pdec(resized).tolist()))
    assert before["max_luma"] == after["max_luma"] == 1.0
    # Adam7 input comes back decodable (non-interlaced re-encode)
    woven = multimodal.encode_png(px, interlace=True)
    assert np.array_equal(dec.pixels(rz(woven, 4, 4)), px)
    # unroutable magic refuses
    with pytest.raises(ValueError, match="no resizer"):
        rz(multimodal.encode_wav([0] * 8), 2, 2)


def test_image_resizer_through_resize_media(spark):
    import numpy as np

    px = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    rows = [
        (1, bytearray(multimodal.encode_png(px)), ("image", "png", 3, 3, None)),
        (2, bytearray(multimodal.encode_ppm(px)), ("image", "ppm", 3, 3, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = multimodal.resize_media(
        df, 2, 2, resizer=multimodal.image_resizer()
    ).collect()
    dec = multimodal.auto_decoder()
    for r in out:
        f = dict(zip(multimodal.PNG_FEATURE_NAMES, dec(bytes(r["payload"]))))
        assert f["width"] == 2.0 and f["height"] == 2.0
        assert r["meta"]["width"] == 2 and r["meta"]["height"] == 2


def _mp4_fixture(version: int = 0) -> bytes:
    """Minimal-but-spec-shaped MP4: ftyp + moov(mvhd + audio trak +
    video trak). mvhd declares timescale 1000 / duration 3500 (=
    3500 ms); the audio tkhd is 0x0 (skipped), the video tkhd
    carries 640x360 in 16.16 fixed point."""
    import struct

    def box(tag, body):
        return struct.pack(">I", 8 + len(body)) + tag + body

    if version:
        mvhd = box(
            b"mvhd",
            bytes([1, 0, 0, 0]) + struct.pack(">QQIQ", 0, 0, 1000, 3500)
            + bytes(80),
        )
        tk_head = bytes([1, 0, 0, 0]) + struct.pack(
            ">QQII Q", 0, 0, 2, 0, 3500
        )
    else:
        mvhd = box(
            b"mvhd",
            bytes([0, 0, 0, 0]) + struct.pack(">IIII", 0, 0, 1000, 3500)
            + bytes(80),
        )
        tk_head = bytes([0, 0, 0, 0]) + struct.pack(
            ">IIII I", 0, 0, 2, 0, 3500
        )
    tail = bytes(8 + 8 + 36)  # reserved + layer/alt/vol/res + matrix
    video_tkhd = box(
        b"tkhd", tk_head + tail + struct.pack(">II", 640 << 16, 360 << 16)
    )
    audio_tkhd = box(b"tkhd", tk_head + tail + struct.pack(">II", 0, 0))
    moov = box(
        b"moov",
        mvhd + box(b"trak", audio_tkhd) + box(b"trak", video_tkhd),
    )
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def test_probe_media(spark):
    """Meta derived from payload bytes, not trusted: WAV duration,
    PNG/Netpbm dimensions, MP4 box-walk duration+dimensions (both
    mvhd/tkhd versions); unknown magic and corrupt bodies probe to a
    NULL meta row."""
    import numpy as np

    wav = multimodal.encode_wav([0] * 800, framerate=8000)  # 100 ms
    png = multimodal.encode_png(np.zeros((3, 5, 3), dtype=np.uint8))
    ppm = multimodal.encode_ppm(np.zeros((2, 7), dtype=np.uint8))
    rows = [
        # deliberately WRONG input meta everywhere: the probe must
        # overwrite from bytes
        (1, bytearray(wav), ("image", "xxx", 9, 9, 9)),
        (2, bytearray(png), (None, None, None, None, None)),
        (3, bytearray(ppm), ("video", "mp4", 1, 1, 1)),
        (4, bytearray(_mp4_fixture(0)), (None, None, None, None, None)),
        (5, bytearray(_mp4_fixture(1)), (None, None, None, None, None)),
        (6, bytearray(b"GIF89a not probeable"), ("image", "gif", 2, 2, 2)),
        (7, bytearray(png[:20]), (None, None, None, None, None)),  # corrupt
        (8, bytearray(multimodal.encode_bmp(
            np.zeros((4, 6, 3), dtype=np.uint8))),
         (None, None, None, None, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = {r["media_id"]: r["meta"] for r in multimodal.probe_media(df).collect()}
    assert out[1]["media_type"] == "audio" and out[1]["duration_ms"] == 100
    assert out[2]["format"] == "png" and (out[2]["width"], out[2]["height"]) == (5, 3)
    assert out[3]["format"] == "pgm" and (out[3]["width"], out[3]["height"]) == (7, 2)
    for mid in (4, 5):
        m = out[mid]
        assert m["media_type"] == "video" and m["format"] == "mp4"
        assert (m["width"], m["height"]) == (640, 360)
        assert m["duration_ms"] == 3500
    for mid in (6, 7):
        assert all(v is None for v in out[mid].asDict().values()), out[mid]
    assert out[8]["format"] == "bmp" and (out[8]["width"], out[8]["height"]) == (6, 4)
    # probed MP4 meta feeds sample_frames' real fan-out
    probed = multimodal.probe_media(df).filter("media_id = 4")
    ts = [r["ts_ms"] for r in multimodal.sample_frames(probed, every_ms=1000).collect()]
    assert ts == [0, 1000, 2000, 3000]


def test_probe_media_degenerate_mp4_boxes(spark):
    """ADVICE r13: an mvhd/tkhd box with an EMPTY body (size-8 box at
    the very end of the payload) made the box walk read the version
    byte one past the buffer — an IndexError escaping the probe's
    except tuple and crashing the job. The contract is a NULL meta
    row for any recognized-magic-corrupt-body payload."""
    import struct

    def box(tag, body):
        return struct.pack(">I", 8 + len(body)) + tag + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00")
    empty_mvhd = ftyp + box(b"moov", box(b"mvhd", b""))
    empty_tkhd = ftyp + box(b"moov", box(b"trak", box(b"tkhd", b"")))
    # short-but-nonempty bodies exercise struct.error on the same path
    short_mvhd = ftyp + box(b"moov", box(b"mvhd", bytes(3)))
    rows = [
        (i, bytearray(p), (None, None, None, None, None))
        for i, p in enumerate([empty_mvhd, empty_tkhd, short_mvhd])
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = {r["media_id"]: r["meta"] for r in multimodal.probe_media(df).collect()}
    for mid, meta in out.items():
        assert all(v is None for v in meta.asDict().values()), (mid, meta)


def test_sample_frames(spark):
    rows = [(1, bytearray(b"vid"), ("video", "mp4", None, None, 3500))]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = multimodal.sample_frames(df, every_ms=1000).collect()
    assert [r["ts_ms"] for r in out] == [0, 1000, 2000, 3000]
    assert all(r["frame_ref"] for r in out)


def test_resize_media_plumbing(spark):
    # explicit stub opt-in (round-15): fake payloads need stub_resizer
    rows = [
        (1, bytearray(b"img-one-bytes"), ("image", "png", 640, 480, None)),
        (2, bytearray(b"img-two-bytes"), ("image", "png", 1024, 768, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    stub = multimodal.stub_resizer()
    out = multimodal.resize_media(df, 64, 64, resizer=stub).collect()
    assert len(out) == 2
    for r in out:
        assert r["meta"]["width"] == 64 and r["meta"]["height"] == 64
        assert r["meta"]["media_type"] == "image"  # rest of meta preserved
        assert len(r["payload"]) == 64 * 64 // 64
    # deterministic: same payload + target dims -> same bytes
    again = multimodal.resize_media(df, 64, 64, resizer=stub).collect()
    assert sorted(bytes(r["payload"]) for r in out) == sorted(
        bytes(r["payload"]) for r in again
    )
    # different target dims -> different bytes (the stub varies by size)
    other = multimodal.resize_media(df, 32, 32, resizer=stub).collect()
    assert sorted(bytes(r["payload"]) for r in out) != sorted(
        bytes(r["payload"]) for r in other
    )


def test_resize_media_default_is_real_image_resizer(spark):
    """Round-15 behavior: no resizer= -> the REAL image_resizer; the
    output payload is a decodable same-family image at the target
    grid, and non-media payloads fail the row loudly."""
    import numpy as np

    px = np.arange(6 * 8 * 3, dtype=np.uint8).reshape(6, 8, 3)
    rows = [(1, bytearray(multimodal.encode_png(px)), ("image", "png", 8, 6, None))]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    out = multimodal.resize_media(df, 4, 3).collect()
    assert len(out) == 1
    resized = bytes(out[0]["payload"])
    assert resized[:8] == b"\x89PNG\r\n\x1a\n"  # same family out
    dec = multimodal.auto_decoder()
    lanes = dec(resized)
    assert (lanes[0], lanes[1], lanes[2]) == (4.0, 3.0, 3.0)
    assert out[0]["meta"]["width"] == 4 and out[0]["meta"]["height"] == 3

    bad = spark.createDataFrame(
        [(2, bytearray(b"not-an-image"), ("image", "gif", 8, 6, None))],
        multimodal.media_schema(),
    )
    with pytest.raises(Exception, match="no resizer for payload magic"):
        multimodal.resize_media(bad, 4, 3).collect()


def test_resize_media_custom_resizer(spark):
    rows = [(7, bytearray(b"abc"), ("image", "png", 10, 10, None))]
    df = spark.createDataFrame(rows, multimodal.media_schema())

    def thumb(payload: bytes, w: int, h: int) -> bytes:
        return payload[: w * h]

    out = multimodal.resize_media(df, 1, 2, resizer=thumb).collect()
    assert bytes(out[0]["payload"]) == b"ab"
    assert out[0]["meta"]["width"] == 1 and out[0]["meta"]["height"] == 2


def test_minhash_collapse_exact_equivalence(spark, sf_dir):
    """collapse_exact must be value-invisible: on a corpus with heavy
    exact duplication, the collapsed pipeline returns exactly the
    pairs of the direct pipeline (identical text ⇒ identical shingle
    set ⇒ identical Jaccard, so expansion is lossless)."""
    d = load_table(spark, sf_dir, "documents").limit(120).select("doc_id", "text")
    # duplicated texts SHORTER than shingle_n: empty shingle set, so
    # neither path may emit their pairs
    shorts = spark.createDataFrame(
        [(900001, "hi"), (900002, "hi"), (900003, "abc"), (900004, "abc")],
        "doc_id long, text string",
    )
    d = d.unionByName(shorts)
    copies = None
    for i in range(3):
        c = d.selectExpr(f"doc_id + {i * 1000000} AS doc_id", "text")
        copies = c if copies is None else copies.unionByName(c)
    kw = dict(num_hashes=16, bands=8, shingle_n=8, threshold=0.6)
    direct = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup.minhash_dedup_pairs(
            copies, "doc_id", "text", collapse_exact=False, **kw
        ).collect()
    }
    collapsed = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup.minhash_dedup_pairs(
            copies, "doc_id", "text", collapse_exact=True, **kw
        ).collect()
    }
    assert collapsed == direct
    assert collapsed  # non-trivial: the copies guarantee 1.0 pairs


def test_gopher_signals_values(spark):
    df = spark.createDataFrame(
        [(1, "hello world. hello world.\nP1\nP1\n- b\n- c\nend...")],
        "doc_id long, text string",
    )
    row = text.gopher_signals(df).collect()[0]
    assert row["word_cnt"] == 11
    assert row["mean_word_len"] == round(36 / 11, 6)
    assert row["alpha_word_frac"] == round(9 / 11, 6)  # '-' tokens have no letter
    assert row["symbol_word_ratio"] == round(1 / 11, 6)  # one '...' run
    assert row["dup_word_frac"] == round(1 - 7 / 11, 6)
    assert row["dup_line_frac"] == round(1 - 5 / 6, 6)  # P1 repeats
    assert row["bullet_line_frac"] == round(2 / 6, 6)
    assert row["ellipsis_line_frac"] == round(1 / 6, 6)
    assert row["top_2gram_frac"] == 0.2  # 'hello world.' twice / 10 bigrams


def test_gopher_dup_ngram_frac(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.gopher_signals(df).collect()}
    # doc 1: 6 5-grams, 'a b c d e' twice => 1 - 5/6
    assert rows[1]["dup_5gram_frac"] == round(1 - 5 / 6, 6)
    assert rows[2]["dup_5gram_frac"] == 0.0
    assert rows[2]["dup_10gram_frac"] is None  # only 6 tokens


def test_gopher_filter_thresholds(spark):
    good = " ".join(f"word{i}" for i in range(60))
    short = "too few words"
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, "")], "doc_id long, text string"
    )
    kept = [r["doc_id"] for r in text.gopher_filter(df).collect()]
    assert kept == [1]  # short doc fails min_words; empty text rejects via NULLs
    # a 3-word doc has only 2 bigrams, so the modal bigram fraction is
    # 0.5 — relax the repetition caps along with the length floor
    relaxed = text.gopher_filter(
        df,
        thresholds={
            "min_words": 3,
            "max_top_2gram_frac": 1.0,
            "max_top_3gram_frac": 1.0,
        },
    )
    assert sorted(r["doc_id"] for r in relaxed.collect()) == [1, 2]


def test_paragraph_dedup_semantics(spark):
    df = spark.createDataFrame(
        [(1, "A|B|C"), (2, "B|D"), (3, "A|B")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["dedup_text"], r["n_paras_kept"])
        for r in dedup.paragraph_dedup(df, "doc_id", "text", sep="\\|", join_sep="|").collect()
    }
    # doc 1 owns A,B,C (first occurrence); doc 2 keeps only D; doc 3
    # loses everything and vanishes
    assert out == {1: ("A|B|C", 3), 2: ("D", 1)}


def test_paragraph_dedup_preserves_order(spark):
    df = spark.createDataFrame(
        [(1, "X|Y"), (2, "Z|Y|W|Q")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["dedup_text"]
        for r in dedup.paragraph_dedup(df, "doc_id", "text", sep="\\|", join_sep="|").collect()
    }
    assert out[2] == "Z|W|Q"  # Y dropped, original order kept


def test_gopher_kernels_bit_identical(spark, sf_dir):
    """The Arrow counting kernel must reproduce the expr path exactly —
    including Java-vs-Python whitespace-class edges (NBSP is NOT
    whitespace to Java \\s; trim strips only spaces)."""
    d = load_table(spark, sf_dir, "documents").limit(150).select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (900001, "nb sp stays one token and\ttab splits"),
            (900002, " \t leading mix\x0b\fweird\r\nlines\n- bullet\n* b2\nend…"),
            (900003, ""),
            (900004, "x"),
            (900005, "## ## ... .... # words here"),
            (900006, None),
        ],
        "doc_id long, text string",
    )
    d = d.unionByName(edges)
    sig = text.gopher_signals(d, kernel="expr")
    cols = [c for c in sig.columns if c != "text"]  # every signal column
    assert len(cols) >= 17
    expr = {r["doc_id"]: r for r in sig.select(cols).collect()}
    fast = {r["doc_id"]: r for r in text.gopher_signals(d, kernel="pandas").select(cols).collect()}
    assert expr.keys() == fast.keys()
    for k in expr:
        assert expr[k] == fast[k], k


def test_ngram_contamination(spark):
    probe = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words the secret benchmark answer is hidden here"),
            (2, "completely unrelated text with no overlap whatsoever"),
            (3, "the secret benchmark answer is forty two exactly verbatim copy"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in dedup.ngram_contamination(corpus, probe, n=4).collect()
    }
    # doc 1 shares 'the secret benchmark answer' + 'secret benchmark
    # answer is' (2 distinct 4-grams); doc 2 clean (absent); doc 3
    # contains the full probe text => all 5 probe 4-grams
    assert out == {1: 2, 3: 5}


def test_paragraph_dedup_within(spark):
    df = spark.createDataFrame(
        [(1, "a b a c b a"), (2, "x|y|x|z"), (3, "")],
        "doc_id long, text string",
    )
    toks = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id", dedup.paragraph_dedup_within(F.col("text"), " ").alias("t")
        ).collect()
    }
    assert toks[1] == "a b c"
    assert toks[3] == ""  # empty text survives as-is
    spans = df.select(
        "doc_id", dedup.paragraph_dedup_within(F.col("text"), "\\|", join_sep="|").alias("t")
    ).collect()
    assert {r["doc_id"]: r["t"] for r in spans}[2] == "x|y|z"


def test_gopher_kernels_fuzz(spark):
    """Randomized dual-path check: 200 seeded strings over an
    alphabet rich in whitespace flavors, bullets, symbols and
    repeats must produce identical signals from both kernels."""
    import random

    rng = random.Random(1337)
    alphabet = [
        "word", "the", "a", "##", "...", "…", "-", "*", "x1",
        " ", "  ", "\t", "\n", "\x0b", "\f", "\r", " ", "",
    ]
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = text.gopher_signals(df, kernel="expr")
    cols = [c for c in sig.columns if c != "text"]
    expr = {r["doc_id"]: r for r in sig.select(cols).collect()}
    fast = {
        r["doc_id"]: r
        for r in text.gopher_signals(df, kernel="pandas").select(cols).collect()
    }
    for k in expr:
        assert expr[k] == fast[k], (k, dict(rows)[k])


def test_semdedup_policies(spark, sf_dir):
    """Greedy SemDeDup must match a pure-python reference scan of the
    same LSH buckets; dominated survivors are a subset of greedy
    survivors; neither plan contains an O(n^2) global stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    th, planes = 0.3, 4
    sigs = similarity.with_lsh_signature(
        emb.select(F.col("vec_id").alias("__id__"), F.col("embedding").alias("__v__")),
        "__v__", 64, planes,
    ).collect()
    buckets = {}
    for r in sigs:
        buckets.setdefault(r["__sig__"], []).append(
            (r["__id__"], np.array(r["__v__"], dtype=np.float64))
        )
    expect_kept = set()
    for rows in buckets.values():
        rows.sort(key=lambda t: t[0])
        kept = []
        for vid, v in rows:
            vn = v / np.linalg.norm(v)
            if not any(np.round(float(kn @ vn), 6) >= th for _, kn in kept):
                kept.append((vid, vn))
        expect_kept.update(vid for vid, _ in kept)

    greedy = similarity.semdedup(
        emb, threshold=th, planes=planes, policy="greedy"
    )
    got = {r["vec_id"] for r in greedy.collect()}
    assert got == expect_kept
    dominated = similarity.semdedup(
        emb, threshold=th, planes=planes, policy="dominated"
    )
    dom = {r["vec_id"] for r in dominated.collect()}
    assert dom <= got
    assert len(dom) < emb.count()  # the threshold actually bites
    for df in (greedy, dominated):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


def test_pack_chunks_invariants(spark, sf_dir):
    """Packing must cover every token of every doc exactly once, fill
    every non-final chunk of each lane to the exact budget, and be a
    pure function of content (invariant to input partitioning)."""
    from exporter_spark.operators import sampling, text

    d = load_table(spark, sf_dir, "documents")
    budget, streams = 256, 4
    packed = sampling.pack_chunks(
        d, "doc_id", text.token_count(F.col("text")), budget=budget, streams=streams
    )
    rows = packed.collect()
    toks = {
        r["doc_id"]: r["t"]
        for r in d.select(
            "doc_id", text.token_count(F.col("text")).alias("t")
        ).collect()
    }
    # per-doc slices partition [0, token_count)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {i for i, t in toks.items() if t > 0}
    for did, rs in by_doc.items():
        rs.sort(key=lambda r: r["off_in_doc"])
        assert rs[0]["off_in_doc"] == 0
        for a, b in zip(rs, rs[1:]):
            assert a["off_in_doc"] + a["n_toks"] == b["off_in_doc"]
        assert rs[-1]["off_in_doc"] + rs[-1]["n_toks"] == toks[did]
    # every non-final chunk of each lane is exactly full
    fill = {}
    for r in rows:
        fill[(r["stream"], r["chunk"])] = fill.get((r["stream"], r["chunk"]), 0) + r["n_toks"]
    last = {}
    for s, c in fill:
        last[s] = max(last.get(s, -1), c)
    for (s, c), n in fill.items():
        if c < last[s]:
            assert n == budget, f"lane {s} chunk {c} holds {n} != {budget}"
        else:
            assert 0 < n <= budget
    # chunk ordinals are dense per lane
    for s in last:
        assert {c for t, c in fill if t == s} == set(range(last[s] + 1))
    # partitioning-invariant
    re = sampling.pack_chunks(
        d.repartition(13), "doc_id", text.token_count(F.col("text")),
        budget=budget, streams=streams,
    )
    assert sorted(map(tuple, re.collect())) == sorted(map(tuple, rows))


def test_quantize_int8_bounds(spark):
    from exporter_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in similarity.quantize_int8(df, keep_vec=True).collect()}
    assert all(abs(x) <= 127 for r in rows.values() for x in r["q"])
    assert rows[2]["q"] == [0, 0, 0, 0] and rows[2]["scale"] == 1.0
    r = rows[1]
    assert r["q"][1] in (-127,) and r["scale"] == 1.0 / 127.0
    for x, qi in zip(r["vec64"], r["q"]):
        assert abs(x - qi * r["scale"]) <= r["scale"] / 2 + 1e-12


def test_unigram_lm_orders_common_above_rare(spark):
    from exporter_spark.operators import text

    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "zyzzyva qwertyuiop"), (3, "the the zyzzyva the")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.unigram_lm_scores(df).collect()}
    assert got[1]["n_tokens"] == 4 and got[2]["n_tokens"] == 2
    assert got[1]["lm_score"] > got[3]["lm_score"] > got[2]["lm_score"]
    # broadcast-vocab variant is value-identical
    b = {r["doc_id"]: r for r in text.unigram_lm_scores(df, broadcast_vocab=True).collect()}
    assert {k: (v["n_tokens"], v["lm_score"]) for k, v in got.items()} == {
        k: (v["n_tokens"], v["lm_score"]) for k, v in b.items()
    }


def test_int8_topk_recall_vs_exact(spark, sf_dir):
    """The quantized tier must agree with the exact tier almost
    everywhere (int8 error ~1/127 per component): recall@5 >= 0.9
    over the sampled query set, and sims within 0.02."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=5).collect()
    quant = similarity.int8_topk(emb, q, k=5).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    qu = {}
    sims = {}
    for r in quant:
        qu.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        sims[(r["query_id"], r["neighbor_id"])] = r["sim"]
    hits = sum(len(ex[k] & qu[k]) for k in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.9, f"recall {hits}/{total}"
    exact_sims = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in exact}
    for key, s in sims.items():
        if key in exact_sims:
            assert abs(s - exact_sims[key]) <= 0.02, (key, s, exact_sims[key])


def test_minhash_xxhash64_family_same_verified_output(spark, sf_dir):
    """The production xxhash64 family (native codegen, no hex-string
    md5 per shingle — 1.47x the pair pipeline at sf0.1, SCALE.md) must
    produce the SAME verified pairs as the oracle md5 family: banding
    proposes, exact Jaccard disposes, so the family only moves the
    candidate set margin. Registry queries stay on md5 (DuckDB can't
    replay XXH64); this pin keeps the fast path honest."""
    d = load_table(spark, sf_dir, "documents")
    md5_pairs = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in dedup.minhash_dedup_pairs(d, "doc_id", "text").collect()
    }
    xxh_pairs = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in dedup.minhash_dedup_pairs(
            d, "doc_id", "text", family="xxhash64"
        ).collect()
    }
    assert md5_pairs == xxh_pairs and md5_pairs


def test_exact_substring_xxhash64_family_same_spans(spark, sf_dir):
    """The xxhash64 family keys the duplication count on a 128-bit
    pair of independently-seeded bigints instead of 32-hex md5
    strings — half the key bytes on the corpus-wide triple shuffle
    that IS this operator's cost at 100 TB, with collision odds
    ~1.5e-19 at 1e10 grams (a single 64-bit key would expect real
    collisions there; round-6 ADVICE). Spans must be identical (a
    difference needs a 128-bit collision)."""
    d = load_table(spark, sf_dir, "documents")
    md5_spans = {
        tuple(r) for r in dedup.exact_substring_spans(d, k=10, min_count=2).collect()
    }
    xxh_spans = {
        tuple(r)
        for r in dedup.exact_substring_spans(
            d, k=10, min_count=2, family="xxhash64"
        ).collect()
    }
    assert md5_spans == xxh_spans and md5_spans


def test_bmp_clr_used_zero_short_palette():
    """clr_used == 0 means 'full palette', but writers may store
    fewer entries with the pixel offset right after them — the r14
    overrun guard must clamp to what physically fits, not refuse
    (round-14 review)."""
    import struct

    import numpy as np

    dec = multimodal.bmp_decoder()
    # build an 8-bit BMP with only 16 stored palette entries and
    # clr_used = 0; all pixel indexes < 16
    gray = (np.arange(12, dtype=np.uint8) % 16).reshape(3, 4)
    full = bytearray(multimodal.encode_bmp(gray))
    (old_off,) = struct.unpack_from("<I", full, 10)
    pal_off = 14 + 40
    pixels = bytes(full[old_off:])
    short = bytearray(full[:pal_off])              # headers
    short += bytes(full[pal_off : pal_off + 16 * 4])  # 16 entries only
    short += pixels
    struct.pack_into("<I", short, 10, pal_off + 16 * 4)  # new offset
    struct.pack_into("<I", short, 2, len(short))
    struct.pack_into("<I", short, 46, 0)  # clr_used = 0
    back = dec.pixels(bytes(short))
    assert np.array_equal(back, np.repeat(gray[:, :, None], 3, axis=2))
    # an index beyond the stored entries still refuses by name
    bad = bytearray(short)
    bad[-1] = 200  # pixel index 200 >= 16 stored entries
    with pytest.raises(ValueError, match="palette index out of range"):
        dec.pixels(bytes(bad))
