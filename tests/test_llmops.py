"""Tier-C operator tests: planted near-dups for MinHash/SimHash, LSH
recall vs brute force, multimodal decode plumbing (SURVEY.md §2.C)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def planted_docs(spark):
    """10 base docs + near-dups of doc 0/1 (1-word edits) + an exact dup."""
    import random

    rng = random.Random(13)
    vocab = "spark table row scan join filter agg window sort hash batch value".split()
    base = [" ".join(rng.choice(vocab) for _ in range(80)) for _ in range(10)]
    texts = list(base)
    near0 = base[0].split()
    near0[5] = "CHANGED"
    texts.append(" ".join(near0))  # doc 10 ≈ doc 0
    near1 = base[1].split()
    near1[10] = "EDITED"
    near1[40] = "ALSO"
    texts.append(" ".join(near1))  # doc 11 ≈ doc 1
    texts.append(base[2])  # doc 12 == doc 2 exactly
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_minhash_finds_planted_near_dups(planted_docs):
    from iceberg_metadata_pipeline_spark.llmops.dedup import minhash_near_dup_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            planted_docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert (0, 10) in pairs and pairs[(0, 10)] > 0.8
    assert (1, 11) in pairs and pairs[(1, 11)] > 0.7
    assert (2, 12) in pairs and pairs[(2, 12)] == 1.0  # exact dup: J = 1
    # unrelated docs don't pair
    assert (3, 4) not in pairs


def test_minhash_signature_shape(planted_docs):
    from iceberg_metadata_pipeline_spark.llmops.dedup import (
        minhash_signatures,
        shingles,
    )

    sigs = minhash_signatures(shingles(planted_docs, "doc_id", "text"), "doc_id")
    rows = sigs.collect()
    assert len(rows) == 13
    assert all(len(r["sig"]) == 64 for r in rows)
    by_id = {r["doc_id"]: r["sig"] for r in rows}
    assert by_id[2] == by_id[12]  # identical text → identical signature
    agree = sum(a == b for a, b in zip(by_id[0], by_id[10]))
    assert agree > 40  # J≈0.9 → ~90% of minhashes agree


def test_simhash_hamming_neighbors(planted_docs):
    from iceberg_metadata_pipeline_spark.llmops.dedup import simhash64

    fp = {r["doc_id"]: r["simhash"] for r in simhash64(planted_docs, "doc_id", "text").collect()}
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")  # noqa: E731
    assert ham(fp[2], fp[12]) == 0  # exact dup
    assert ham(fp[0], fp[10]) <= 12  # near dup: small distance
    # near-dup is strictly closer than any unrelated doc (docs share one
    # small vocabulary, so absolute distances between "unrelated" docs are
    # legitimately moderate — the ordering is the contract)
    unrelated = [ham(fp[0], fp[j]) for j in (3, 4, 5, 6, 7)]
    assert ham(fp[0], fp[10]) < min(unrelated)


def test_lsh_recall_vs_bruteforce_clustered(spark):
    # hyperplane LSH exploits locality; uniform random vectors have none
    # (every point is near-equidistant in 64-d, recall ≈ candidate fraction)
    # so recall is asserted on a clustered corpus — the case ANN exists for
    import random

    from iceberg_metadata_pipeline_spark.llmops.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    rng = random.Random(5)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(12)]
    rows = []
    for i in range(600):
        c = centers[i % 12]
        rows.append(Row(vec_id=i, embedding=[x + rng.gauss(0, 0.25) for x in c], label=i % 12))
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = cosine_topk_lsh(emb, queries, k=5).collect()
    exact_set = {(r["query_id"], r["cand_id"]) for r in exact}
    approx_set = {(r["query_id"], r["cand_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.7, f"LSH recall {recall} too low on clustered data"


def test_lsh_finds_planted_identical_vector(spark, tables):
    from iceberg_metadata_pipeline_spark.llmops.similarity import cosine_topk_lsh

    emb = tables["embeddings"]
    clone = emb.filter(F.col("vec_id") == 3).select(
        F.lit(999_999).cast("long").alias("vec_id"), "embedding", "label"
    )
    emb2 = emb.unionByName(clone)
    res = cosine_topk_lsh(emb2, emb2.filter(F.col("vec_id") == 999_999), k=1).collect()
    assert res and res[0]["cand_id"] == 3 and res[0]["cosine"] > 0.999999


def test_pandas_topk_ids_match_sql_topk(spark, sf_dir):
    from iceberg_metadata_pipeline_spark.queries import REGISTRY, _load_all

    _load_all()
    sql_rows = REGISTRY["sim_cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
    pd_rows = REGISTRY["sim_cosine_topk_pandas"].fn(spark, sf_dir).collect()
    ids = lambda rows: [(r["query_id"], r["rn"], r["cand_id"]) for r in rows]  # noqa: E731
    assert ids(sql_rows) == ids(pd_rows)  # BLAS vs fold: scores differ in
    # ulps, ranking must not


def test_multimodal_decode_deterministic_and_stub_boundary(spark, tables):
    from iceberg_metadata_pipeline_spark.llmops.multimodal import (
        decode_image_stub,
        decode_media,
        sample_frames,
        to_multimodal,
    )

    mm = to_multimodal(tables["documents"].limit(50))
    d1 = decode_media(mm).orderBy("doc_id").collect()
    d2 = decode_media(mm.repartition(7)).orderBy("doc_id").collect()
    assert [r["sha"] for r in d1] == [r["sha"] for r in d2]  # partition-invariant
    assert all(16 <= r["width"] <= 255 and 1 <= r["n_channels"] <= 4 for r in d1)

    frames = sample_frames(mm).groupBy("doc_id").count().collect()
    assert all(r["count"] >= 1 for r in frames)

    with pytest.raises(NotImplementedError):
        decode_image_stub(b"bytes", real=True)  # the explicit codec seam


def test_codec_wav_roundtrip_real_bytes():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs

    samples = (np.arange(1000, dtype=np.int64) * 13 % 901 - 450).astype("<i2")
    payload = codecs.encode_wav_pcm16(samples, rate=16000, n_channels=1)
    assert codecs.sniff_media(payload) == "audio/wav"
    m = codecs.decode_wav(payload)
    assert (m["n_samples"], m["sample_rate"], m["n_channels"]) == (1000, 16000, 1)
    assert m["duration_ms"] == 62  # round(1000*1000/16000) = round(62.5), banker's
    f = samples.astype(np.float64)
    assert m["peak"] == float(np.max(np.abs(f)))
    assert abs(m["rms"] - float(np.sqrt(np.mean(f * f)))) < 1e-9


def test_codec_bmp_roundtrip_with_row_padding():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs

    # width 7 → 21-byte rows pad to 24: exercises the 4-byte stride rule
    px = ((np.arange(5 * 7 * 3, dtype=np.int64) * 37) % 256).reshape(5, 7, 3).astype(np.uint8)
    payload = codecs.encode_bmp(px)
    assert codecs.sniff_media(payload) == "image/bmp"
    m = codecs.decode_bmp(payload, with_pixels=True)
    assert (m["width"], m["height"], m["n_channels"]) == (7, 5, 3)
    assert np.array_equal(m["pixels"], px)


def test_codec_ppm_roundtrip_and_comment_header():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs

    px = ((np.arange(4 * 6 * 3, dtype=np.int64) * 11) % 256).reshape(4, 6, 3).astype(np.uint8)
    payload = codecs.encode_ppm(px)
    m = codecs.decode_ppm(payload, with_pixels=True)
    assert np.array_equal(m["pixels"], px)
    # P6 headers may carry # comments — real netpbm tools emit them
    commented = b"P6\n# made by a real tool\n6 4\n255\n" + payload.split(b"255\n", 1)[1]
    m2 = codecs.decode_ppm(commented, with_pixels=True)
    assert np.array_equal(m2["pixels"], px)


def test_codec_y4m_roundtrip_frames():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs

    frames = [
        ((np.arange(8, dtype=np.int64)[:, None] * 3 + np.arange(6)[None, :] + k) % 256).astype(np.uint8)
        for k in range(4)
    ]
    payload = codecs.encode_y4m(frames, fps=25)
    assert codecs.sniff_media(payload) == "video/x-yuv4mpeg"
    m = codecs.decode_y4m(payload, with_frames=True)
    assert (m["width"], m["height"], m["n_frames"]) == (6, 8, 4)
    assert m["duration_ms"] == 160  # 4 frames / 25 fps
    for got, want in zip(m["frames"], frames):
        assert np.array_equal(got, want)


def test_codec_resize_nearest_kernel():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs

    px = np.arange(100, dtype=np.uint8).reshape(10, 10)
    assert np.array_equal(codecs.resize_nearest(px, 10, 10), px)  # identity
    half = codecs.resize_nearest(px, 5, 5)
    assert np.array_equal(half, px[::2, ::2])  # exact 2× decimation


def test_codec_seam_still_raises_for_external_formats():
    from iceberg_metadata_pipeline_spark.llmops import codecs

    mp4 = b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16
    assert codecs.sniff_media(mp4) == "video/mp4"
    with pytest.raises(NotImplementedError):
        codecs.decode_any(mp4)
    # PNG/GIF/JPEG are no longer behind the seam — a corrupt payload is a
    # ValueError (bad bytes), never NotImplementedError (unsupported)
    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16
    with pytest.raises(ValueError):
        codecs.decode_any(png)
    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 16
    with pytest.raises(ValueError):
        codecs.decode_any(jpeg)


def test_multimodal_decode_real_end_to_end(spark, tables):
    from iceberg_metadata_pipeline_spark.llmops.multimodal import (
        decode_media_real,
        sample_frames_real,
        synthesize_media,
    )

    docs = tables["documents"].limit(30)
    media = synthesize_media(docs)
    decoded = decode_media_real(media).orderBy("doc_id").collect()
    by_id = {r["doc_id"]: r for r in decoded}
    for d, r in by_id.items():
        if d % 3 == 1:  # audio: n derived from the synthesis formula
            assert r["media_kind"] == "audio"
            assert r["n_samples"] == 800 + (d * 37) % 1600
            assert r["sample_rate"] == 8000
        elif d % 3 == 0:  # image geometry from the formula
            assert r["media_kind"] == "image"
            assert (r["width"], r["height"]) == (8 + d % 25, 8 + (d // 3) % 17)
            # the doc id rotates the image codec family: GIF / JPEG / BMP
            want = (
                "image/gif" if d % 6 == 0
                else "image/jpeg" if d % 12 == 3
                else "image/bmp"
            )
            assert r["media_type"] == want
        else:  # video frame count from the formula
            assert r["media_kind"] == "video"
            assert r["n_frames"] == 2 + d % 4
            assert (r["width"], r["height"]) == (16, 8)

    # partition-invariant (kernel is per-row, deterministic)
    re_decoded = decode_media_real(media.repartition(7)).orderBy("doc_id").collect()
    assert [(r["doc_id"], r["rms"], r["width"]) for r in decoded] == [
        (r["doc_id"], r["rms"], r["width"]) for r in re_decoded
    ]

    # real frame sampling: every 2nd frame of each video row
    frames = sample_frames_real(media).groupBy("doc_id").count().collect()
    for r in frames:
        d = r["doc_id"]
        assert r["count"] == (2 + d % 4 + 1) // 2


def test_multimodal_resize_real_fits_box(spark, tables):
    from iceberg_metadata_pipeline_spark.llmops.multimodal import (
        resize_media_real,
        synthesize_media,
    )

    media = synthesize_media(tables["documents"].limit(30))
    rows = resize_media_real(media, max_w=12, max_h=12).collect()
    resized = [r for r in rows if r["resized"]]
    assert resized, "expected image rows"
    assert all(r["out_w"] <= 12 and r["out_h"] <= 12 for r in resized)
    # deterministic pixel checksums across physical layouts
    again = {r["doc_id"]: r["pixel_sum"] for r in resize_media_real(media.repartition(5), 12, 12).collect() if r["resized"]}
    for r in resized:
        assert again[r["doc_id"]] == r["pixel_sum"]


def test_exact_dedup_keeps_lowest_id(spark, planted_docs):
    from pyspark.sql.window import Window as W

    keyed = planted_docs.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("k")
    )
    keeper = keyed.withColumn("keep", F.min("doc_id").over(W.partitionBy("k")))
    survivors = keeper.filter(F.col("doc_id") == F.col("keep"))
    assert survivors.count() == 12  # 13 docs, one exact dup removed
    assert survivors.filter(F.col("doc_id") == 12).count() == 0  # 2 kept, 12 dropped


def test_ivf_recall_vs_bruteforce_clustered(spark):
    # IVF probes the nprobe nearest inverted lists; on a clustered corpus
    # the true neighbors share the query's cluster, so recall should be
    # near-perfect with nprobe covering adjacent lists
    import random

    from iceberg_metadata_pipeline_spark.llmops.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rng = random.Random(11)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(12)]
    rows = []
    for i in range(600):
        c = centers[i % 12]
        rows.append(Row(vec_id=i, embedding=[x + rng.gauss(0, 0.25) for x in c], label=i % 12))
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = cosine_topk_ivf(emb, queries, k=5, nlist=12, nprobe=3).collect()
    exact_set = {(r["query_id"], r["cand_id"]) for r in exact}
    approx_set = {(r["query_id"], r["cand_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"IVF recall {recall} too low on clustered data"


def test_pq_recall_vs_bruteforce_clustered(spark):
    # PQ + ADC with exact rerank: on a clustered corpus the quantization
    # error is small relative to cluster separation, so reranked recall
    # should be near-exact
    import random

    from iceberg_metadata_pipeline_spark.llmops.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
    )

    rng = random.Random(23)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(12)]
    rows = []
    for i in range(600):
        c = centers[i % 12]
        rows.append(Row(vec_id=i, embedding=[x + rng.gauss(0, 0.25) for x in c], label=i % 12))
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = cosine_topk_pq(emb, queries, k=5, m=8, ksub=16, rerank=50).collect()
    exact_set = {(r["query_id"], r["cand_id"]) for r in exact}
    approx_set = {(r["query_id"], r["cand_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"PQ recall {recall} too low on clustered data"


def test_pq_encode_shape_and_determinism(spark, tables):
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = tables["embeddings"].limit(200)
    books = train_pq_codebooks(emb, m=8, k=16, sample=200)
    assert books.shape[0] == 8 and books.shape[1] == 16
    codes = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes.values())
    # deterministic across physical layouts
    again = {r["vec_id"]: r["codes"] for r in pq_encode(emb.repartition(7), books).collect()}
    assert codes == again
    # dim not divisible by m is a loud error, not silent truncation
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, m=7, k=16, sample=50)


def test_trend_fit_matches_duckdb_regression(spark, sf_dir):
    # the applyInPandas closed-form fit must agree with an exact
    # least-squares fit of the same hourly series to 1e-9: DuckDB sums
    # n, Σx, Σx², Σy_micro and Σx·y_micro in HUGEINT (x = bucket_idx) and
    # the slope and intercept are formed from them as Fractions. DuckDB's
    # regr_intercept is not the reference: it is a double-precision
    # streaming fit, off by up to 1.67e-9 at x ≈ 2.5e5 hours since 1995.
    # Its regr_slope stays within 1e-14 of exact and is still compared.
    from fractions import Fraction

    import duckdb

    from iceberg_metadata_pipeline_spark.llmops.forecast import (
        fit_linear_trend_per_group,
        hourly_event_values,
    )
    from iceberg_metadata_pipeline_spark.session import load_tables

    events = load_tables(spark, sf_dir)["events"]
    hourly = hourly_event_values(events).cache()
    got = {
        r["event_type"]: (r["slope"], r["intercept"])
        for r in fit_linear_trend_per_group(hourly).collect()
    }
    pdf = hourly.toPandas()
    con = duckdb.connect()
    con.register("hourly", pdf)
    want = con.execute(
        "SELECT event_type, COUNT(*)::HUGEINT, SUM(bucket_idx::HUGEINT), "
        "SUM(bucket_idx::HUGEINT * bucket_idx), SUM(y_micro::HUGEINT), "
        "SUM(bucket_idx::HUGEINT * y_micro), regr_slope(y, bucket_idx) "
        "FROM hourly GROUP BY event_type"
    ).fetchall()
    assert {r[0] for r in want} == set(got)
    for et, n, sx, sxx, sy, sxy, duck_slope in want:
        slope = Fraction(n * sxy - sx * sy, (n * sxx - sx * sx) * 10**6)
        intercept = (Fraction(sy, 10**6) - slope * sx) / n
        gs, gi = got[et]
        assert abs(Fraction(gs) - slope) < 1e-9, et
        assert abs(Fraction(gi) - intercept) < 1e-9, et
        assert abs(gs - duck_slope) < 1e-9, et


def test_connected_components_transitive_closure(spark):
    from iceberg_metadata_pipeline_spark.llmops.dedup import connected_components

    # chain 1-2-3-4 plus disjoint pair 10-11; transitivity must merge the
    # chain into one component even though 1 and 4 never paired directly
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comps = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_empty_pairs(spark):
    from iceberg_metadata_pipeline_spark.llmops.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_assign_chunks_packing_invariants(spark):
    from iceberg_metadata_pipeline_spark.llmops.packing import assign_chunks

    docs = spark.createDataFrame(
        [(i, 100 + (i * 37) % 400) for i in range(50)], "doc_id long, n_tokens long"
    )
    out = assign_chunks(docs, seq_len=512, n_shards=4).collect()
    assert len(out) == 50  # every doc placed exactly once
    by_shard: dict = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        # offsets are the exclusive prefix sum of token counts in id order
        run = 0
        for r in rows:
            assert r["offset"] == run, (shard, r)
            assert r["chunk_id"] == run // 512
            run += r["n_tokens"]
        # chunk ids are non-decreasing and start at 0
        assert rows[0]["chunk_id"] == 0


def test_assign_chunks_deterministic_across_partitioning(spark):
    from iceberg_metadata_pipeline_spark.llmops.packing import assign_chunks

    docs = spark.createDataFrame(
        [(i, 64 + i % 200) for i in range(200)], "doc_id long, n_tokens long"
    )
    a = assign_chunks(docs, seq_len=1024).orderBy("doc_id").collect()
    b = assign_chunks(docs.repartition(13), seq_len=1024).orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_chunking_matches_python_reference(spark, sf_dir):
    """text_document_chunking's slicing algebra vs a straightforward
    python implementation on adversarial lengths (empty-ish, exactly K,
    K±1, stride boundaries). The shared `documents` temp view is swapped
    for the adversarial table and restored afterwards."""
    import hashlib

    K, S = 64, 48
    docs = [
        (i, " ".join(f"w{j}" for j in range(n)))
        for i, n in enumerate([1, 2, 63, 64, 65, 111, 112, 113, 160, 200, 5])
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from iceberg_metadata_pipeline_spark import session as sess
    from iceberg_metadata_pipeline_spark.queries import REGISTRY, _load_all

    _load_all()
    sql = REGISTRY["text_document_chunking"].fn.__doc__  # sql_query stores SQL
    try:
        df.createOrReplaceTempView("documents")
        got = {
            (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_digest"])
            for r in spark.sql(sql).collect()
        }
    finally:
        sess._TABLE_CACHE.pop((id(spark), sf_dir), None)
        sess.load_tables(spark, sf_dir)  # restore the fixture view

    want = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        n = len(toks)
        extra = (max(n - K, 0) + S - 1) // S
        for c in range(extra + 1):
            chunk = toks[c * S : c * S + K]
            want[(doc_id, c)] = (
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    assert got == want


def test_incremental_dedup_index(spark, sf_dir, tmp_path, tables):
    """Index maintenance: batch-2 signatures are computed from the
    increment only, yet equal a full recompute bit-for-bit; candidates
    for new docs are found against the historical index (a planted
    near-dup of an OLD doc must pair across batches)."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
    from iceberg_metadata_pipeline_spark.llmops.incremental import (
        incremental_candidates,
        signatures_for,
        update_dedup_index,
    )

    docs = tables["documents"].select("doc_id", "text")
    catalog = Catalog(spark, str(tmp_path / "wh"))
    dt = catalog.create_table("nyc", "docs_inc", docs.schema)
    it = catalog.create_table(
        "nyc", "sig_index", signatures_for(docs.limit(1)).schema
    )

    # batch 1: half the corpus; bootstrap the index
    b1 = docs.filter("doc_id % 2 = 0")
    snap1 = dt.append_dataframe(b1)
    update_dedup_index(dt, it, None)
    n1 = it.scan().count()
    assert n1 == b1.count()

    # batch 2: the other half PLUS a planted near-dup of an old doc
    base = docs.filter("doc_id = 0").first()["text"]
    planted = spark.createDataFrame([(999001, base + " extra tail")], docs.schema)
    b2 = docs.filter("doc_id % 2 = 1").unionByName(planted)
    dt.refresh()
    dt.append_dataframe(b2)
    update_dedup_index(dt, it, snap1)
    it2 = catalog.load_table("nyc", "sig_index")
    assert it2.scan().count() == n1 + b2.count()

    # incremental signatures == full recompute (shared hash family)
    full = {
        r["doc_id"]: tuple(r["sig"])
        for r in signatures_for(dt.scan()).collect()
    }
    indexed = {r["doc_id"]: tuple(r["sig"]) for r in it2.scan().collect()}
    assert indexed == full

    # the planted near-dup pairs with its historical original
    cands = incremental_candidates(
        it2, spark.createDataFrame([(999001,)], "doc_id long")
    ).collect()
    assert any({r["id_a"], r["id_b"]} == {0, 999001} for r in cands)


def test_lsh_bucket_null_and_ragged_embeddings(spark):
    """NULL / wrong-length vectors bucket as NULL (falling out of the
    equi-join) instead of failing the task."""
    from iceberg_metadata_pipeline_spark.llmops.similarity import lsh_bucket_ids

    df = spark.createDataFrame(
        [
            (1, [float(i) for i in range(8)]),
            (2, None),
            (3, [1.0, 2.0]),  # ragged
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r["bucket"] for r in lsh_bucket_ids(df, dim=8).collect()}
    assert rows[1] is not None
    assert rows[2] is None and rows[3] is None


def test_duplicated_spans_planted(spark):
    """Two docs sharing an exact 10-token span are both flagged with the
    right span counts; a doc repeating its own 8-gram internally is
    flagged too; unique docs report zero duplicated spans."""
    from iceberg_metadata_pipeline_spark.llmops.dedup import duplicated_span_stats

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma delta epsilon"),
            (2, "prefix words here " + shared),
            (3, "totally unique text with no repeated content at all ever"),
            # 8-token phrase repeated twice within one doc
            (4, "a b c d e f g h xx a b c d e f g h"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicated_span_stats(docs, "doc_id", "text", n=8).collect()
    }
    # shared 10-token run => 3 duplicated 8-grams inside it
    assert out[1]["n_dup_spans"] == 3 and out[2]["n_dup_spans"] == 3
    assert out[1]["n_spans"] == 15 - 7  # 15 tokens
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_ratio"] == 0.0
    # doc 4: 17 tokens -> 10 spans; the two copies of "a b c d e f g h"
    # (positions 1 and 10) are the duplicated gram occurrences
    assert out[4]["n_spans"] == 10 and out[4]["n_dup_spans"] == 2


def test_bpe_train_apply_planted(spark):
    """BPE training learns the expected merges on a planted corpus, the
    encoder matches train-time segmentation, unseen words fall back to
    characters, and retraining is byte-identical (the determinism an
    incremental pipeline needs)."""
    from iceberg_metadata_pipeline_spark.llmops.bpe import (
        _encode_word,
        bpe_token_counts,
        train_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new"), (3, "low new")],
        "doc_id long, text string",
    )
    merges = train_bpe_merges(docs, "doc_id", "text", num_merges=10, sample_docs=10)
    assert merges == train_bpe_merges(
        docs, "doc_id", "text", num_merges=10, sample_docs=10
    )
    ranks = {p: i for i, p in enumerate(merges)}
    # the dominant word collapses to a single token
    assert _encode_word("low", ranks) == ["low</w>"]
    # morphology shares learned subwords
    assert _encode_word("lowest", ranks)[0].startswith("lo")
    # unseen alphabet falls back toward characters, never crashes
    assert len(_encode_word("zzzq", ranks)) >= 4
    out = {r["doc_id"]: r for r in
           bpe_token_counts(docs, "doc_id", "text", merges).collect()}
    assert out[1]["n_words"] == 5 and out[1]["n_bpe_tokens"] < 5 * 4
    assert out[3]["n_bpe_tokens"] == 2  # both words are single tokens


def test_probe_dimensions_headers_only(spark, tables):
    """probe_dimensions reads ONLY headers: PNG IHDR, JPEG SOF walk, GIF
    screen descriptor (handcrafted minimal bytes), and agrees with the
    full decoders on synthesized WAV/BMP/Y4M; truncated headers probe as
    unknown instead of raising."""
    import struct

    from iceberg_metadata_pipeline_spark.llmops.codecs import probe_dimensions
    from iceberg_metadata_pipeline_spark.llmops.multimodal import (
        decode_media_real,
        probe_media_headers,
        synthesize_media,
    )

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0) + b"\x00" * 4)
    assert probe_dimensions(png) == {
        "media_type": "image/png", "width": 640, "height": 480, "n_units": None}
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = b"\xff\xc2" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x01\x11\x00"
    jp = probe_dimensions(b"\xff\xd8" + app0 + sof + b"\xff\xd9")
    assert (jp["width"], jp["height"]) == (1920, 1080)  # progressive SOF2 too
    gif = probe_dimensions(b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 5)
    assert (gif["media_type"], gif["width"], gif["height"]) == ("image/gif", 320, 200)
    bad = probe_dimensions(b"\xff\xd8\x00")
    assert bad["width"] is None  # truncated → unknown, never an exception
    # truncated PNG/GIF headers must probe unknown, not garbage dims
    short_png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + b"\x02"
    assert probe_dimensions(short_png)["width"] is None
    assert probe_dimensions(b"GIF89a\x40")["width"] is None

    # header probe agrees with the full decode on real payloads
    media = synthesize_media(tables["documents"].limit(60))
    probed = {r["doc_id"]: r for r in probe_media_headers(media).collect()}
    decoded = {r["doc_id"]: r for r in decode_media_real(media).collect()}
    assert set(probed) == set(decoded)
    for d, pr in probed.items():
        assert pr["media_type"] == decoded[d]["media_type"]
        assert pr["width"] == decoded[d]["width"]
        assert pr["height"] == decoded[d]["height"]


def test_expectations_or_drop_quarantine(spark):
    """expect_or_drop semantics: clean rows pass through unchanged,
    violating rows land in quarantine with every failed rule named
    (NULL predicate results count as violations)."""
    from iceberg_metadata_pipeline_spark.llmops.curation import (
        apply_expectations_or_drop,
    )

    df = spark.createDataFrame(
        [(1, 10, "ok"), (2, -5, "ok"), (3, 7, None), (4, -1, None)],
        "id long, amount long, status string",
    )
    kept, quar = apply_expectations_or_drop(
        df,
        {"amount_positive": "amount > 0", "status_present": "status IS NOT NULL"},
    )
    assert {r["id"] for r in kept.collect()} == {1}
    got = {r["id"]: sorted(r["failed_rules"]) for r in quar.collect()}
    assert got == {
        2: ["amount_positive"],
        3: ["status_present"],
        4: ["amount_positive", "status_present"],
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        apply_expectations_or_drop(df, {})


def test_codec_png_roundtrip_all_filters():
    """encode_png→decode_png is identity for gray/GA/RGB/RGBA, and the
    unfilter kernel handles every PNG filter type (hand-filtered IDAT)."""
    import struct
    import zlib

    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs

    rng = np.random.default_rng(7)
    for shape in [(5, 4), (5, 4, 2), (7, 3, 3), (2, 2, 4)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        b = codecs.encode_png(px)
        assert codecs.sniff_media(b) == "image/png"
        m = codecs.decode_png(b, with_pixels=True)
        assert m["pixels"].shape == px.shape and np.array_equal(m["pixels"], px)

    # one row per filter type (None/Sub/Up/Average/Paeth), filtered by hand
    w, h, c = 6, 5, 3
    img = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    rows, prev = [], np.zeros(w * c, dtype=np.uint8)
    for y, f in zip(range(h), [0, 1, 2, 3, 4]):
        cur = img[y].reshape(-1)
        filt = []
        for x in range(w * c):
            left = int(cur[x - c]) if x >= c else 0
            ul = int(prev[x - c]) if x >= c else 0
            if f == 0:
                v = int(cur[x])
            elif f == 1:
                v = (int(cur[x]) - left) & 0xFF
            elif f == 2:
                v = (int(cur[x]) - int(prev[x])) & 0xFF
            elif f == 3:
                v = (int(cur[x]) - ((left + int(prev[x])) >> 1)) & 0xFF
            else:
                v = (int(cur[x]) - codecs._png_paeth(left, int(prev[x]), ul)) & 0xFF
            filt.append(v)
        rows.append(bytes([f]) + bytes(filt))
        prev = cur

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    payload = (
        codecs._PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    m = codecs.decode_png(payload, with_pixels=True)
    assert np.array_equal(m["pixels"], img)
    # probe parity: header-only path reads IHDR without inflating
    p = codecs.probe_dimensions(payload)
    assert (p["media_type"], p["width"], p["height"]) == ("image/png", w, h)


def test_codec_png_unsupported_variants_raise():
    import struct
    import zlib

    import pytest as _pytest

    from iceberg_metadata_pipeline_spark.llmops import codecs

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    # palette (color type 3) decodes header-only, raises on pixels
    pal = (
        codecs._PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    meta = codecs.decode_png(pal)
    assert (meta["width"], meta["height"]) == (2, 2)
    with _pytest.raises(NotImplementedError):
        codecs.decode_png(pal, with_pixels=True)


def test_multimodal_png_decode_resize_pinned(spark, tables):
    """Planted-PNG pipeline: exact per-doc geometry and checksums, and the
    Spark path agrees with a direct local decode of the same synthesis."""
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs
    from iceberg_metadata_pipeline_spark.llmops.multimodal import (
        resize_png_real,
        synthesize_png_media,
    )

    media = synthesize_png_media(tables["documents"].limit(40))
    rows = {r["doc_id"]: r for r in resize_png_real(media).collect()}
    assert rows and all(r["resized"] for r in rows.values())
    assert all(r["out_w"] <= 12 and r["out_h"] <= 12 for r in rows.values())

    # local reference for every doc the Spark path produced
    for d, r in rows.items():
        w, h = 6 + d % 21, 6 + (d // 2) % 15
        rr = np.arange(h, dtype=np.int64)[:, None]
        cc = np.arange(w, dtype=np.int64)[None, :]
        if d % 2 == 0:
            ch = np.arange(3, dtype=np.int64)[None, None, :]
            px = ((rr[:, :, None] * 17 + cc[:, :, None] * 5 + ch * 43 + d) % 256).astype(np.uint8)
            n_ch = 3
        else:
            px = ((rr * 17 + cc * 5 + d) % 256).astype(np.uint8)
            n_ch = 1
        scale = min(12 / w, 12 / h, 1.0)
        ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
        small = codecs.resize_nearest(px, ow, oh)
        assert (r["out_w"], r["out_h"], r["n_channels"]) == (ow, oh, n_ch)
        assert r["pixel_sum"] == int(np.sum(small, dtype=np.int64))
        assert r["out_bytes"] == len(codecs.encode_png(small))


# --- GIF codec (round 4): from-scratch LZW ---------------------------------


def _rand_rgb(h, w, n_colors, seed):
    import numpy as np

    rng = np.random.RandomState(seed)
    palette = rng.randint(0, 256, size=(n_colors, 3), dtype=np.uint8)
    idx = rng.randint(0, n_colors, size=(h, w))
    return palette[idx]


def test_gif_roundtrip_exact():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops.codecs import decode_gif, encode_gif

    px = _rand_rgb(23, 17, 13, seed=7)
    blob = encode_gif(px)
    meta = decode_gif(blob, with_pixels=True)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (17, 23, 1)
    assert np.array_equal(meta["pixels"], px)


def test_gif_interlaced_roundtrip():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops.codecs import decode_gif, encode_gif

    px = _rand_rgb(31, 9, 7, seed=11)
    blob = encode_gif(px, interlaced=True)
    meta = decode_gif(blob, with_pixels=True)
    assert meta["interlaced"] is True
    assert np.array_equal(meta["pixels"], px)


def test_gif_large_body_subblock_framing():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops.codecs import decode_gif, encode_gif

    # > 255-byte LZW body forces multi-sub-block framing
    px = _rand_rgb(64, 64, 256, seed=3)
    blob = encode_gif(px)
    meta = decode_gif(blob, with_pixels=True)
    assert np.array_equal(meta["pixels"], px)


def test_gif_two_color_minimum_code_size():
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops.codecs import decode_gif, encode_gif

    px = np.zeros((5, 5, 3), dtype=np.uint8)
    px[::2, ::2] = 255
    meta = decode_gif(encode_gif(px), with_pixels=True)
    assert np.array_equal(meta["pixels"], px)


def test_gif_decode_any_dispatch_and_probe_parity():
    from iceberg_metadata_pipeline_spark.llmops.codecs import (
        decode_any,
        encode_gif,
        probe_dimensions,
    )

    px = _rand_rgb(12, 34, 5, seed=5)
    blob = encode_gif(px)
    meta = decode_any(blob, with_pixels=False)
    assert meta["media_type"] == "image/gif"
    probe = probe_dimensions(blob)
    assert (probe["width"], probe["height"]) == (meta["width"], meta["height"]) == (34, 12)


def test_gif_truncated_raises():
    import pytest as _pytest

    from iceberg_metadata_pipeline_spark.llmops.codecs import decode_gif, encode_gif

    blob = encode_gif(_rand_rgb(8, 8, 4, seed=1))
    with _pytest.raises(ValueError):
        decode_gif(blob[:20], with_pixels=True)


def test_gif_too_many_colors_refused():
    import numpy as np
    import pytest as _pytest

    from iceberg_metadata_pipeline_spark.llmops.codecs import encode_gif

    rng = np.random.RandomState(0)
    px = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)  # ~1000 colors
    with _pytest.raises(ValueError, match="palette"):
        encode_gif(px)


def test_codec_jpeg_roundtrip_baseline():
    """encode_jpeg→decode_jpeg reproduces smooth images within quantization
    tolerance (lossy format — exact identity is impossible by design), for
    RGB and grayscale, including non-multiple-of-8 dimensions. The decoder
    reads quant/huffman tables from the STREAM's DQT/DHT segments, as the
    format requires."""
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs

    x = np.linspace(0, 255, 48)
    g = np.add.outer(x, x) / 2
    img = np.stack([g, g[::-1], np.full_like(g, 128)], axis=-1).astype(np.uint8)
    b = codecs.encode_jpeg(img, quality=95)
    assert codecs.sniff_media(b) == "image/jpeg"
    m = codecs.decode_jpeg(b, with_pixels=True)
    assert m["mode"] == "RGB" and m["pixels"].shape == img.shape
    assert np.abs(m["pixels"].astype(int) - img.astype(int)).max() <= 4

    gray = g.astype(np.uint8)
    mg = codecs.decode_jpeg(codecs.encode_jpeg(gray, quality=95), with_pixels=True)
    assert mg["mode"] == "L"
    assert np.abs(mg["pixels"].astype(int) - gray.astype(int)).max() <= 3

    crop = img[:37, :43]
    m2 = codecs.decode_jpeg(codecs.encode_jpeg(crop, quality=85), with_pixels=True)
    assert m2["pixels"].shape == crop.shape
    assert np.abs(m2["pixels"].astype(int) - crop.astype(int)).max() <= 8

    # lower quality → smaller file, still structurally decodable
    lo = codecs.encode_jpeg(img, quality=20)
    assert len(lo) < len(b)
    assert codecs.decode_jpeg(lo, with_pixels=True)["pixels"].shape == img.shape

    # header-only decode + probe parity with the pixel path
    meta = codecs.decode_jpeg(b)
    assert (meta["width"], meta["height"]) == (48, 48) and "pixels" not in meta
    p = codecs.probe_dimensions(b)
    assert (p["media_type"], p["width"], p["height"]) == ("image/jpeg", 48, 48)
    # decode_any dispatch is now total over baseline JPEG
    any_m = codecs.decode_any(b, with_pixels=True)
    assert any_m["media_type"] == "image/jpeg"
    assert np.array_equal(any_m["pixels"], m["pixels"])


def test_codec_jpeg_flat_color_is_near_exact():
    """A flat color block survives quantization almost exactly (only DC
    terms, rounding error ≤1) — pins DC prediction and EOB handling."""
    import numpy as np

    from iceberg_metadata_pipeline_spark.llmops import codecs

    img = np.full((16, 24, 3), [200, 40, 90], dtype=np.uint8)
    m = codecs.decode_jpeg(codecs.encode_jpeg(img, quality=90), with_pixels=True)
    assert np.abs(m["pixels"].astype(int) - img.astype(int)).max() <= 1


def test_codec_jpeg_unsupported_variants_raise():
    """Progressive scans raise loudly (documented scope bound), and the
    entropy decoder rejects truncated data instead of looping."""
    import numpy as np
    import pytest as _pytest

    from iceberg_metadata_pipeline_spark.llmops import codecs

    img = np.full((8, 8), 128, dtype=np.uint8)
    b = bytearray(codecs.encode_jpeg(img, quality=90))
    sof = b.find(b"\xff\xc0")
    assert sof > 0
    b[sof + 1] = 0xC2  # rewrite SOF0 → SOF2 (progressive)
    with _pytest.raises(NotImplementedError, match="progressive"):
        codecs.decode_jpeg(bytes(b), with_pixels=True)

    good = codecs.encode_jpeg(img, quality=90)
    with _pytest.raises(ValueError):
        codecs.decode_jpeg(good[:-20] , with_pixels=True)


def test_semdedup_invariants(spark, sf_dir, tables):
    """SemDeDup property check against Spark's own cluster assignments:
    a vector is dropped IFF a lower-id vector in its cluster has cosine
    above tau."""
    import math

    from iceberg_metadata_pipeline_spark.llmops.dedup import semdedup

    emb = tables["embeddings"]
    res = {r.vec_id: r for r in semdedup(emb, nlist=8, tau=0.3).collect()}
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    assert set(res) == set(vecs)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    by_cluster: dict[int, list[int]] = {}
    for vid, r in res.items():
        by_cluster.setdefault(r.list_id, []).append(vid)
    n_dropped = 0
    for _cid, members in by_cluster.items():
        for vid in members:
            has_lower_dup = any(
                o < vid and cos(vecs[o], vecs[vid]) > 0.3 for o in members
            )
            assert res[vid].kept == (not has_lower_dup), vid
            n_dropped += 0 if res[vid].kept else 1
    # tau is set under the fixture's max pairwise cosine so drops occur
    assert n_dropped > 0
