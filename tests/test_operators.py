"""Unit tests for composite operators that the SQL oracle can't fully
pin down: as-of join edge modes, ANN recall, SimHash properties,
multimodal decode plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from target_iceberg_spark.operators.asof import asof_join
from target_iceberg_spark.operators.dedup import simhash_fingerprints, simhash_pairs
from target_iceberg_spark.operators.multimodal import (
    HAVE_IMAGE_DECODER,
    attach_payload,
    decode_image_meta,
    decode_pipeline,
    fake_decode_meta,
)


# -- as-of join ----------------------------------------------------------


def _asof_frames(spark):
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 15, "p3"), (3, 5, "p4")],
        "k int, t int, probe string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, 10, "r@10"), (1, 18, "r@18"), (2, 1, "r@1")],
        "k int, t int, val string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    return left, right


def test_asof_inclusive_and_unmatched(spark):
    left, right = _asof_frames(spark)
    out = asof_join(left, right, on="k", left_ts="t", right_ts="t", value_cols=("val",))
    got = {r["probe"]: r["val"] for r in out.collect()}
    # p1 at t=10 matches r@10 exactly (inclusive); p2 takes latest r@18;
    # p3 reaches back to r@1; p4's key has no reference rows -> NULL.
    assert got == {"p1": "r@10", "p2": "r@18", "p3": "r@1", "p4": None}


def test_asof_exclusive(spark):
    left, right = _asof_frames(spark)
    out = asof_join(
        left,
        right,
        on="k",
        left_ts="t",
        right_ts="t",
        value_cols=("val",),
        allow_exact_matches=False,
    )
    got = {r["probe"]: r["val"] for r in out.collect()}
    assert got["p1"] is None  # strict < excludes the t=10 tie
    assert got["p2"] == "r@18"


def test_asof_rejects_column_collision(spark):
    left, right = _asof_frames(spark)
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left.withColumn("val", F.lit("x")),
            right,
            on="k",
            left_ts="t",
            right_ts="t",
            value_cols=("val",),
        )


# -- ANN recall ----------------------------------------------------------


def test_ann_lsh_recall_vs_brute_force(spark, sf_oracle):
    """Recall@10 pinned at the driver's scale (sf0.01, seed 42): the
    BRP-LSH query's candidate set measured 0.9 there; 0.8 is the CI
    floor so a silent bucketing/join regression fails loudly while
    honest data-regeneration jitter passes."""
    from target_iceberg_spark.functions.vectors import l2_dist
    from target_iceberg_spark.plans.registry import all_specs

    ann = all_specs()["sim_ann_lsh"].builder(spark, sf_oracle).toPandas()
    from target_iceberg_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    probe = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    dist = l2_dist("embedding", "p")
    truth = (
        emb.crossJoin(F.broadcast(probe))
        .where(F.col("vec_id") != 0)
        .select("vec_id", dist.alias("d"))
        .orderBy("d")
        .limit(10)
        .toPandas()
    )
    got = set(ann[ann.probe_id == 0].neighbor_id)
    recall = len(set(truth.vec_id) & got) / 10
    assert recall >= 0.8, f"LSH recall collapsed: {recall}"


# -- SimHash -------------------------------------------------------------


def test_simhash_identical_and_near_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(df, "doc_id", "text").collect()}
    assert all(0 <= v < 2**16 for v in fps.values())
    assert fps[1] == fps[2]  # identical text, identical fingerprint
    ham_13 = bin(fps[1] ^ fps[3]).count("1")
    ham_14 = bin(fps[1] ^ fps[4]).count("1")
    assert ham_13 < ham_14  # one-word edit closer than unrelated text
    pairs = simhash_pairs(
        simhash_fingerprints(df, "doc_id", "text"), "doc_id", max_hamming=2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(1, 2)}
    assert all(r["hamming"] <= 2 for r in pairs)


# -- multimodal ----------------------------------------------------------


def test_multimodal_decode_plumbing(spark, sf_smoke):
    from target_iceberg_spark.sources.tables import load_table

    # orderBy before limit: a bare limit is not deterministic across
    # the two separate actions (pipeline collect vs reference collect)
    docs = load_table(spark, sf_smoke, "documents").orderBy("doc_id").limit(20)
    out = decode_pipeline(attach_payload(docs))
    pdf = out.toPandas()
    assert list(pdf.columns) == ["doc_id", "n_bytes", "kind", "width", "height", "checksum"]
    assert len(pdf) == 20
    assert (pdf.kind == "image/fake").all()
    # deterministic fake decode: recompute one row driver-side
    row = docs.select("doc_id", "text").limit(1).collect()[0]
    w, h, c = fake_decode_meta(row["text"].encode("utf-8"))
    got = pdf[pdf.doc_id == row["doc_id"]].iloc[0]
    assert (got.width, got.height, got.checksum) == (w, h, c)


def test_real_decoder_is_stubbed():
    if HAVE_IMAGE_DECODER:
        pytest.skip("image decoder present; stub path not applicable")
    with pytest.raises(NotImplementedError, match="not available"):
        decode_image_meta(b"\x89PNG")


def test_asof_forward_direction(spark):
    left, right = _asof_frames(spark)
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", value_cols=("val",),
        direction="forward",
    )
    got = {r["probe"]: r["val"] for r in out.collect()}
    # p1 at t=10: r@10 matches inclusively; p2 at t=20 has no future ref;
    # p3 at t=15 has none on key 2 after t=1; p4 none at all.
    assert got == {"p1": "r@10", "p2": None, "p3": None, "p4": None}


def test_asof_nearest_direction(spark):
    left, right = _asof_frames(spark)
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", value_cols=("val",),
        direction="nearest",
    )
    got = {r["probe"]: r["val"] for r in out.collect()}
    # p2 at t=20: backward r@18 (d=2) is the only candidate; p1 exact tie
    # resolves backward to r@10; p3 nearest is r@1.
    assert got == {"p1": "r@10", "p2": "r@18", "p3": "r@1", "p4": None}


def test_asof_nearest_prefers_closer_future(spark):
    import pyspark.sql.functions as _F

    left = spark.createDataFrame([(1, 10, "p")], "k int, t int, probe string").withColumn(
        "t", _F.col("t").cast("timestamp")
    )
    right = spark.createDataFrame(
        [(1, 2, "past"), (1, 11, "future")], "k int, t int, val string"
    ).withColumn("t", _F.col("t").cast("timestamp"))
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", value_cols=("val",),
        direction="nearest",
    )
    assert out.collect()[0]["val"] == "future"  # d=1 beats d=8


def test_asof_null_in_matched_reference_row_stays_null(spark):
    """last(ignorenulls) must carry WHOLE reference rows: a NULL column
    in the matched row stays NULL instead of leaking an older value."""
    left = spark.createDataFrame([(1, 3, "p")], "k int, t int, probe string").withColumn(
        "t", F.col("t").cast("timestamp")
    )
    right = spark.createDataFrame(
        [(1, 1, "a1", "b1"), (1, 2, None, "b2")], "k int, t int, a string, b string"
    ).withColumn("t", F.col("t").cast("timestamp"))
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", value_cols=("a", "b")
    ).collect()[0]
    assert out["b"] == "b2"
    assert out["a"] is None  # from the ts=2 row, NOT back-filled with a1


def test_asof_nearest_keeps_null_payload_probes(spark):
    left = spark.createDataFrame(
        [(1, 10, None), (1, 20, "x")], "k int, t int, note string"
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame([(1, 9, "r")], "k int, t int, val string").withColumn(
        "t", F.col("t").cast("timestamp")
    )
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", value_cols=("val",),
        direction="nearest",
    )
    assert out.count() == 2  # the NULL-note probe row must not vanish


def test_ann_ivf_recall_vs_brute_force(spark, sf_oracle):
    """Recall@10 pinned at the driver's scale (sf0.01, seed 42): the
    IVF query's nprobe=8 of k=16 measured 1.0 there; 0.8 is the CI
    floor so a silent recall collapse (quantizer/posting/pruning bug)
    fails loudly while honest data-regeneration jitter passes."""
    from target_iceberg_spark.functions.vectors import cosine
    from target_iceberg_spark.plans.registry import all_specs
    from target_iceberg_spark.sources.tables import load_table

    ivf = all_specs()["sim_ann_ivf"].builder(spark, sf_oracle).toPandas()
    emb = load_table(spark, sf_oracle, "embeddings")
    probe = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    truth = (
        emb.crossJoin(F.broadcast(probe))
        .where(F.col("vec_id") != 0)
        .select("vec_id", cosine("embedding", "p").alias("c"))
        .orderBy(F.desc("c"))
        .limit(10)
        .toPandas()
    )
    recall = len(set(truth.vec_id) & set(ivf.vec_id)) / len(ivf)
    assert recall >= 0.8, f"IVF recall collapsed: {recall}"


def test_connected_components_chain_and_triangle(spark):
    from target_iceberg_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {
        r["vertex"]: r["component"]
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_band_join_exact_boundary_pairs_survive(spark):
    """Bucket ids are computed in integer microseconds: a right row at
    exactly l.ts + upper_s (or l.ts + lower_s + epsilon) must land in a
    bucket inside the left row's explored range — double-precision
    epoch-second arithmetic can round it out at bucket boundaries
    (ADVICE r1)."""
    from datetime import datetime, timedelta

    from target_iceberg_spark.operators.bandjoin import band_join

    base = datetime(2024, 3, 1, 0, 0, 0)
    upper = 3600
    # right rows at EXACTLY base+upper (inclusive edge) and base+1 (just
    # above the exclusive lower edge), plus out-of-band sentinels
    left = spark.createDataFrame([("k", base)], "k string, lt timestamp")
    right = spark.createDataFrame(
        [
            ("k", base + timedelta(seconds=upper), "edge_hi"),
            ("k", base + timedelta(seconds=1), "edge_lo"),
            ("k", base, "at_lower_excluded"),
            ("k", base + timedelta(seconds=upper + 1), "past_upper"),
        ],
        "k string, rt timestamp, tag string",
    )
    out = band_join(left, right, keys=["k"], left_ts="lt", right_ts="rt",
                    lower_s=0, upper_s=upper)
    tags = {r["tag"] for r in out.select("r.tag").collect()}
    assert tags == {"edge_hi", "edge_lo"}


def test_band_join_boundary_sweep_matches_naive(spark):
    """Property-style sweep: bucketed band join == naive range join for
    timestamps sitting on every alignment relative to the bucket grid."""
    from datetime import datetime, timedelta

    import pyspark.sql.functions as F

    from target_iceberg_spark.operators.bandjoin import band_join

    base = datetime(2024, 3, 1)
    lefts = [("k", base + timedelta(seconds=900 * i)) for i in range(8)]
    rights = [
        ("k", base + timedelta(seconds=450 * j), f"r{j}") for j in range(40)
    ]
    left = spark.createDataFrame(lefts, "k string, lt timestamp")
    right = spark.createDataFrame(rights, "k string, rt timestamp, tag string")
    lower_s, upper_s = 600, 1800
    out = band_join(left, right, keys=["k"], left_ts="lt", right_ts="rt",
                    lower_s=lower_s, upper_s=upper_s)
    got = {(r["lt"], r["tag"]) for r in out.select("l.lt", "r.tag").collect()}
    naive = left.alias("l").join(
        right.alias("r"),
        (F.col("l.k") == F.col("r.k"))
        & (F.col("r.rt") > F.col("l.lt") + F.expr(f"INTERVAL {lower_s} SECOND"))
        & (F.col("r.rt") <= F.col("l.lt") + F.expr(f"INTERVAL {upper_s} SECOND")),
    )
    expect = {(r["lt"], r["tag"]) for r in naive.select("l.lt", "r.tag").collect()}
    assert got == expect and got


def test_ivf_persisted_index_roundtrip(spark, sf_smoke, tmp_path):
    """build_or_load_ivf: first call fits + persists (posting lists
    partitioned by cluster), second call loads without refitting and
    returns identical search results."""
    import os

    import pyspark.sql.functions as F

    from target_iceberg_spark.operators.ivf import build_or_load_ivf, ivf_search
    from target_iceberg_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    path = str(tmp_path / "ivf_index")
    idx1 = build_or_load_ivf(spark, emb, path, k=8, seed=7)
    assert os.path.exists(os.path.join(path, "_BUILT"))
    # cluster-partitioned layout on disk => searches partition-prune
    assert any(d.startswith("cluster=") for d in os.listdir(os.path.join(path, "postings")))
    probe = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    r1 = ivf_search(idx1.postings.where(F.col("vec_id") != 0), idx1.centroids, probe,
                    nprobe=3, top_k=5).collect()
    # second call must load, not refit: poison KMeans to prove no fit happens
    import pyspark.ml.clustering as mlc

    class _Boom:
        def __init__(self, *a, **k):
            raise AssertionError("KMeans refit on cached index")

    orig = mlc.KMeans
    mlc.KMeans = _Boom
    try:
        idx2 = build_or_load_ivf(spark, emb, path, k=8, seed=7)
    finally:
        mlc.KMeans = orig
    r2 = ivf_search(idx2.postings.where(F.col("vec_id") != 0), idx2.centroids, probe,
                    nprobe=3, top_k=5).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in r1] == [
        (r["vec_id"], r["cos_sim"]) for r in r2
    ]


def test_ivf_index_path_lives_under_private_cache_root(monkeypatch, tmp_path):
    """Persisted IVF indexes go under the cache root's `ivf` directory,
    created owner-only (0700)."""
    import os
    import stat

    from target_iceberg_spark.operators.ivf import index_cache_path

    monkeypatch.setenv("SPARK_GRAFT_CACHE_ROOT", str(tmp_path))
    path = index_cache_path("unused.parquet", "embedding", k=8, seed=7, corpus_key="k")
    assert os.path.dirname(path) == str(tmp_path / "ivf")
    assert stat.S_IMODE(os.stat(tmp_path / "ivf").st_mode) == 0o700


def test_embedding_band_bits_shrink_candidates_superlinearly(spark, sf_smoke):
    """THE scale property of banded sign-LSH: adding 2 bits per band
    (4x more buckets) must shrink per-band candidate pairs by well more
    than the 2x a linear knob would give (VERDICT r1 item 5)."""
    import pyspark.sql.functions as F

    from target_iceberg_spark.functions.vectors import sign_bucket
    from target_iceberg_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    def band_candidates(bits):
        e = emb.withColumn("bkt", sign_bucket("embedding", bits))
        a, b = e.alias("a"), e.alias("b")
        return a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).count()

    c2, c4 = band_candidates(2), band_candidates(4)
    assert c4 * 3 < c2  # > 3x shrink for 4x buckets: superlinear in bits


def test_recommended_band_bits_grows_with_corpus():
    from target_iceberg_spark.operators.dedup import recommended_band_bits

    small = recommended_band_bits(50_000, n_blocks=10)
    big = recommended_band_bits(5_000_000, n_blocks=10)
    huge = recommended_band_bits(5_000_000_000, n_blocks=10)
    assert small < big < huge
    # 100x data => ~log2(100) ≈ 6-7 more bits: occupancy stays ~constant
    assert 6 <= big - small <= 7
    assert recommended_band_bits(10, n_blocks=10) == 2  # clamp floor
    assert recommended_band_bits(2**40, n_blocks=1) <= 24  # clamp ceiling


def test_embedding_band_pairs_catches_parallel_vectors(spark):
    """Recall sanity: a truly near-parallel pair must surface regardless
    of which band catches it."""
    import random

    from target_iceberg_spark.operators.dedup import embedding_band_pairs

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    near = [x + rng.uniform(-0.01, 0.01) for x in base]
    noise = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(20)]
    rows = [(0, "a", base), (1, "a", near)] + [
        (i + 2, "a", v) for i, v in enumerate(noise)
    ]
    e = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    got = embedding_band_pairs(e, bands=4, bits=4, threshold=0.9).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in got} == {(0, 1)}


def test_salted_join_spreads_key_and_preserves_result(spark):
    """salted_join == plain join, and the physical plan actually joins
    on (key, _salt) with the dim exploded buckets-x (guards against the
    salt being optimized into a no-op)."""
    import pyspark.sql.functions as F

    from target_iceberg_spark.operators.skew import salted_join

    fact = spark.range(1000).select(
        F.col("id").alias("event_id"), (F.col("id") % 3).alias("k")
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k LONG, v STRING")
    out = salted_join(fact, dim, "k", "event_id", buckets=8)
    plain = fact.join(dim, "k")
    assert out.count() == 1000
    assert (
        out.select("event_id", "k", "v").exceptAll(plain.select("event_id", "k", "v")).isEmpty()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan  # the salt survives into the physical join


def test_candidate_pairs_bucket_cap_skips_degenerate_buckets(spark):
    """A degenerate band bucket (here 100 members => 4950 pairs) is
    skipped under max_bucket_size while normal buckets still pair."""
    import pyspark.sql.functions as F

    from target_iceberg_spark.operators.dedup import candidate_pairs

    hot = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_idx"),
        F.lit("HOT").alias("band_key"),
    )
    ok = spark.createDataFrame(
        [(200, 0, "ok"), (201, 0, "ok")], "doc_id LONG, band_idx INT, band_key STRING"
    )
    keys = hot.unionByName(ok)
    uncapped = candidate_pairs(keys, "doc_id")
    capped = candidate_pairs(keys, "doc_id", max_bucket_size=10)
    assert uncapped.count() == 100 * 99 // 2 + 1
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(200, 201)}  # hot bucket skipped, normal bucket kept


def test_sim_ann_rp_recall_vs_bruteforce(spark, sf_oracle):
    """The deterministic sign-LSH ANN recovers a reasonable share of the
    exact top-10 (random test embeddings are a worst case for LSH — real
    corpora cluster; the oracle-checked result is the hard guarantee,
    recall here guards against a broken candidate filter)."""
    from target_iceberg_spark.plans import all_specs

    specs = all_specs()
    exact = {r["vec_id"] for r in specs["sim_cosine_topk"].builder(spark, sf_oracle).collect()}
    ann = {r["vec_id"] for r in specs["sim_ann_rp"].builder(spark, sf_oracle).collect()}
    assert len(ann & exact) >= 3  # >=30% recall on random vectors


def test_ann_pq_recall_vs_brute_force(spark, sf_oracle):
    """Recall@10 pinned at the driver's scale (sf0.01, seed 42): the
    PQ query's ADC shortlist C=100 + exact re-rank measured 0.9 there;
    0.8 is the CI floor so a codebook/encode/ADC regression fails
    loudly while honest data-regeneration jitter passes."""
    from target_iceberg_spark.functions.vectors import l2_dist
    from target_iceberg_spark.plans.registry import all_specs
    from target_iceberg_spark.sources.tables import load_table

    pq = all_specs()["sim_ann_pq"].builder(spark, sf_oracle).toPandas()
    emb = load_table(spark, sf_oracle, "embeddings")
    probe = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    dist = l2_dist("embedding", "p")
    truth = (
        emb.crossJoin(F.broadcast(probe))
        .where(F.col("vec_id") != 0)
        .select("vec_id", dist.alias("d"))
        .orderBy("d")
        .limit(10)
        .toPandas()
    )
    recall = len(set(truth.vec_id) & set(pq.vec_id)) / 10
    assert recall >= 0.8, f"PQ recall collapsed: {recall}"


def test_pq_encode_shape_and_determinism(spark, sf_smoke):
    """Codes are M ints in [0, K); same seed => identical codebooks and
    codes across invocations."""
    import numpy as np

    from target_iceberg_spark.operators.pq import encode_pq, fit_pq_codebooks
    from target_iceberg_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    b1 = fit_pq_codebooks(emb, m=8, k=16, seed=42)
    b2 = fit_pq_codebooks(emb, m=8, k=16, seed=42)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)
    codes = (
        encode_pq(emb, b1).select("vec_id", "pq_codes").orderBy("vec_id").toPandas()
    )
    arr = np.asarray(list(codes.pq_codes))
    assert arr.shape[1] == 8
    assert arr.min() >= 0 and arr.max() < 16
    codes2 = (
        encode_pq(emb, b2).select("vec_id", "pq_codes").orderBy("vec_id").toPandas()
    )
    assert np.array_equal(arr, np.asarray(list(codes2.pq_codes)))


def test_multimodal_resize_plumbing(spark, sf_smoke):
    """Arrow-batched fake resize: stride decimation + digests match a
    driver-side recompute; real codec path stays a loud stub."""
    import hashlib

    from target_iceberg_spark.operators.multimodal import (
        fake_resize,
        resize_pipeline,
    )
    from target_iceberg_spark.sources.tables import load_table

    # orderBy before limit: a bare limit is not deterministic across
    # the two separate actions (pipeline collect vs reference collect)
    docs = load_table(spark, sf_smoke, "documents").orderBy("doc_id").limit(20)
    out = resize_pipeline(attach_payload(docs)).collect()
    assert len(out) == 20
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for row in out:
        resized = fake_resize(src[row["doc_id"]].encode("utf-8"))
        assert row["resized_bytes"] == len(resized)
        assert row["resized_md5"] == hashlib.md5(resized).hexdigest()
        assert row["pix_sum"] == sum(resized)
        assert row["orig_bytes"] == len(src[row["doc_id"]].encode("utf-8"))


# -- heavy hitters -------------------------------------------------------


def test_heavy_hitters_matches_plain_groupby_at_full_capacity(spark, sf_smoke):
    """With capacity >= vocabulary (the registered query's regime on
    this corpus) no eviction happens, candidates = full vocab, and the
    two-phase result equals the plain groupBy top-k exactly."""
    import pyspark.sql.functions as F

    from target_iceberg_spark.operators.heavy_hitters import heavy_hitters_exact
    from target_iceberg_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    exact = (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(5)
        .collect()
    )
    got = heavy_hitters_exact(tokens, k=5, capacity=256).collect()
    assert [(r["token"], r["n"]) for r in got] == [
        (r["token"], r["n"]) for r in exact
    ]


def test_heavy_hitters_mg_guarantee_on_skewed_data(spark):
    """The MG survival guarantee (any key with partition frequency
    > n_p/(capacity+1) is in that partition's sketch) under a capacity
    that forces the decrement/evict path: a 40%-mass key must be a
    candidate even with capacity 4 against 50 tail keys, and its
    recount is exact."""
    import pyspark.sql.functions as F

    from target_iceberg_spark.operators.heavy_hitters import (
        _mg_batches,
        heavy_hitters_exact,
    )

    # 400 of 'hot' + 10 each of 50 tail keys = 900 rows, 2 partitions
    rows = [("hot",)] * 400 + [(f"tail{i}",) for i in range(50) for _ in range(10)]
    tokens = spark.createDataFrame(rows, "token string").repartition(2)
    candidates = {
        r["token"]
        for r in tokens.mapInPandas(_mg_batches(4), schema="token string")
        .distinct()
        .collect()
    }
    assert "hot" in candidates
    assert len(candidates) <= 2 * 4  # per-partition sketches are bounded
    got = heavy_hitters_exact(tokens, k=1, capacity=4).collect()
    assert got[0]["token"] == "hot" and got[0]["n"] == 400


def test_snapshot_diff_classifies_nulls_correctly(spark):
    """IS DISTINCT FROM semantics: null -> value is an update,
    null -> null is unchanged; missing/new keys classify as
    deleted/inserted."""
    from target_iceberg_spark.plans.cdc import snapshot_diff

    v1 = spark.createDataFrame(
        [(1, "a", None), (2, None, None), (3, "c", 30), (4, "d", 40)],
        "k int, s string, v int",
    )
    v2 = spark.createDataFrame(
        [(1, "a", 10), (2, None, None), (3, "c2", 30), (5, "e", 50)],
        "k int, s string, v int",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(v1, v2, "k", ["s", "v"]).collect()
    }
    assert got == {
        1: "updated",      # v: null -> 10
        2: "unchanged",    # null == null under eqNullSafe
        3: "updated",      # s changed
        4: "deleted",
        5: "inserted",
    }


def test_asof_duplicate_ts_references_resolve_to_min_payload(spark):
    """Two reference rows with IDENTICAL (key, ts): the winner must be
    the minimum payload tuple — a documented deterministic rule, not
    shuffle order (a hash-checked oracle cannot reproduce the latter)."""
    left = spark.createDataFrame([(1, 10, "p")], "k int, t int, probe string")
    right = spark.createDataFrame(
        [(1, 5, 200), (1, 5, 100), (1, 5, 150)], "k int, t int, rid int"
    ).repartition(3)  # spread the ties across partitions on purpose
    for direction in ("backward", "nearest"):
        out = asof_join(
            left, right, on="k", left_ts="t", right_ts="t",
            value_cols=("rid",), direction=direction,
        )
        assert out.collect()[0]["rid"] == 100, direction
    # forward: equal-ts ties ahead of the probe
    right_f = spark.createDataFrame(
        [(1, 15, 300), (1, 15, 250)], "k int, t int, rid int"
    ).repartition(2)
    out = asof_join(
        left, right_f, on="k", left_ts="t", right_ts="t",
        value_cols=("rid",), direction="forward",
    )
    assert out.collect()[0]["rid"] == 250


def test_asof_nearest_mixed_date_and_timestamp_axes(spark):
    """left_ts date, right_ts timestamp: each side converts on ITS OWN
    dtype (a shared conversion keyed on the left type would crash or
    mis-scale the right side)."""
    import datetime as dt

    left = spark.createDataFrame(
        [(1, dt.date(2024, 1, 10), "p")], "k int, d date, probe string"
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 8, 12, 0), "early"),
            (1, dt.datetime(2024, 1, 10, 6, 0), "close"),
            (1, dt.datetime(2024, 1, 20, 0, 0), "far"),
        ],
        "k int, ts timestamp, val string",
    )
    out = asof_join(
        left, right, on="k", left_ts="d", right_ts="ts",
        value_cols=("val",), direction="nearest",
    )
    # probe axis = 2024-01-10 00:00; nearest is 'close' (6h) vs
    # 'early' (36h) and 'far' (10d)
    assert out.collect()[0]["val"] == "close"


def test_minhash_candidate_pairs_checkpoint_preserves_pairs(spark):
    """The round-13 band-key localCheckpoint inside
    minhash_candidate_pairs is a pure execution-shape change: the pair
    set must equal the un-checkpointed chain's, and the executed plan
    must read the band keys from materialized blocks (no parquet/text
    re-derivation below the self-join)."""
    import pyspark.sql.functions as F

    from target_iceberg_spark.operators.dedup import (
        candidate_pairs,
        lsh_band_keys,
        minhash_candidate_pairs,
        minhash_signatures,
        shingle_table,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox jumps over the lazy cat today"),
            (4, "completely different text with no shared shingles at all"),
        ],
        "doc_id LONG, text STRING",
    )
    got = minhash_candidate_pairs(docs, "doc_id", "text", n=3)
    # reference: the same chain with NO checkpoint anywhere
    sh = shingle_table(docs, "doc_id", "text", n=3)
    keys = lsh_band_keys(minhash_signatures(sh, "doc_id", 16), "doc_id", 16, 4)
    want = candidate_pairs(keys, "doc_id")
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }
    # structural proof: the checkpointed chain's plan contains no file
    # scan — both self-join sides read the materialized band-key RDD
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan and "FileScan" not in plan
