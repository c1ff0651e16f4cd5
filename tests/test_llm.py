"""Behavioral checks for the LLM extensions beyond the value-hash gate:
LSH bucket quality (recall proxy), dedup idempotence, codec stubs."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


def test_ann_lsh_buckets_concentrate_similar_pairs(spark):
    """Random-hyperplane LSH property: same-bucket pairs must be far more
    similar on average than cross-bucket pairs."""
    from flume_hive_batch_sink_spark.io import load
    from flume_hive_batch_sink_spark.llm.similarity import (
        blocked_threshold_pairs,
        llm_ann_lsh,
    )

    emb = load(spark, SF_DIR, "embeddings")
    buckets = llm_ann_lsh(spark, SF_DIR)
    # every cosine is ≥ -1, so a lower threshold keeps all vec_a < vec_b pairs
    pairs = blocked_threshold_pairs(emb, -2.0)
    ba = buckets.select(F.col("vec_id").alias("vec_a"), F.col("bucket").alias("bk_a"))
    bb = buckets.select(F.col("vec_id").alias("vec_b"), F.col("bucket").alias("bk_b"))
    joined = pairs.join(ba, "vec_a").join(bb, "vec_b")
    stats = joined.select(
        F.avg(F.when(F.col("bk_a") == F.col("bk_b"), F.col("cos_raw"))).alias("same"),
        F.avg(F.when(F.col("bk_a") != F.col("bk_b"), F.col("cos_raw"))).alias("diff"),
        F.count(F.when(F.col("bk_a") == F.col("bk_b"), 1)).alias("n_same"),
    ).collect()[0]
    assert stats["n_same"] > 0
    assert stats["same"] > stats["diff"] + 0.05, (
        f"LSH buckets not discriminative: same={stats['same']}, diff={stats['diff']}"
    )


def test_exact_dedup_idempotent(spark):
    """f(f(x)) == f(x): deduping an already-deduped corpus is a no-op."""
    from flume_hive_batch_sink_spark.llm.dedup import llm_exact_dedup

    once = llm_exact_dedup(spark, SF_DIR)
    n_once = once.count()
    # every content key maps to exactly one keeper
    assert once.select("content_key").distinct().count() == n_once


def test_multimodal_codec_stubs_raise(spark):
    from flume_hive_batch_sink_spark.llm import multimodal

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"GIF87a\x00\x00")  # GIF needs a native codec
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")  # truncated signature
    with pytest.raises(NotImplementedError):
        multimodal.resample_audio(b"RIFF")
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(b"\x00\x00")


def test_jpeg_gray_blocks_exact(spark):
    """The lossless JPEG configuration the SQL oracle relies on:
    constant-gray 8x8 blocks under all-ones quantization must decode to
    EXACTLY the analytic pattern — any Huffman/dequant/IDCT/layout bug
    shifts a pixel."""
    from flume_hive_batch_sink_spark.llm import jpeg

    for vid in (0, 1, 5, 17, 123, 499):
        w, h, rgb = jpeg.decode_jpeg(jpeg.encode_jpeg_gray_blocks(vid))
        assert (w, h) == jpeg.jpeg_dims(vid)
        for by in range(h // 8):
            for bx in range(w // 8):
                v = jpeg.gray_block_value(vid, bx, by)
                assert (rgb[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all()


def test_jpeg_lossy_roundtrip_bounded(spark):
    """Full-color round trip through the complete baseline path (DC+AC
    Huffman, zigzag, FDCT/IDCT, YCbCr) stays within the analytic error
    bound for all-ones quantization (coefficient rounding ±0.5 + chroma
    rounding): max abs pixel error ≤ 3 on seeded random RGB, including
    non-multiple-of-8 dims (edge padding) and restart intervals."""
    import numpy as np

    from flume_hive_batch_sink_spark.llm import jpeg

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    w, h, out = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
    assert (w, h) == (32, 24)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3

    odd = rng.integers(0, 256, (13, 21, 3), dtype=np.uint8)
    w, h, out_odd = jpeg.decode_jpeg(jpeg.encode_jpeg(odd))
    assert (w, h) == (21, 13)
    assert np.abs(out_odd.astype(int) - odd.astype(int)).max() <= 3

    # DRI/RSTn path must be byte-for-byte identical to the plain scan
    rst = jpeg.decode_jpeg(jpeg.encode_jpeg(img, restart_interval=2))[2]
    assert (rst == out).all()


def test_jpeg_420_subsampling_roundtrip(spark):
    """The decoder's interleaved-MCU + chroma-upsampling branch (2x2
    luma, subsampled chroma) must not be dead code: a 4:2:0 encode of a
    constant-chroma image decodes EXACTLY (gray pattern) or within
    color-convert rounding (constant color), and the DRI/RSTn path
    under 4:2:0 matches the plain scan bit-for-bit."""
    import numpy as np

    from flume_hive_batch_sink_spark.llm import jpeg

    w0, h0 = jpeg.jpeg_dims(17)
    img = np.zeros((h0, w0, 3), dtype=np.uint8)
    for by in range(h0 // 8):
        for bx in range(w0 // 8):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                jpeg.gray_block_value(17, bx, by)
            )
    w, h, out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, subsampling="420"))
    assert (w, h) == (w0, h0) and (out == img).all()

    const = np.full((16, 32, 3), (37, 180, 99), dtype=np.uint8)
    _, _, c = jpeg.decode_jpeg(jpeg.encode_jpeg(const, subsampling="420"))
    assert np.abs(c.astype(int) - const.astype(int)).max() <= 1

    rng = np.random.default_rng(7)
    noisy = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(noisy, subsampling="420"))[2]
    rst = jpeg.decode_jpeg(
        jpeg.encode_jpeg(noisy, restart_interval=1, subsampling="420")
    )[2]
    assert (rst == plain).all()


def test_jpeg_rejects_progressive(spark):
    """SOF2 (progressive) is out of scope and must fail loudly, not
    misparse."""
    import pytest as _pytest

    import numpy as np

    from flume_hive_batch_sink_spark.llm import jpeg

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    payload = bytearray(jpeg.encode_jpeg(img))
    payload[payload.find(b"\xff\xc0") + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        jpeg.decode_jpeg(bytes(payload))


def test_png_bmp_roundtrip_all_filters(spark):
    """encode→decode must reproduce the exact test pattern for both real
    codecs; heights ≥ 5 exercise every PNG scanline filter (the encoder
    cycles them per row), and the BMP path crosses 4-byte row padding
    boundaries (widths not ≡ 0 mod 4). Tampering a byte must trip the
    PNG chunk CRC."""
    from flume_hive_batch_sink_spark.llm import multimodal as mm

    for w, h in [(7, 11), (4, 3), (16, 13), (1, 6), (5, 1)]:
        pw, ph, prows = mm.decode_png(mm.encode_png(w, h))
        bw, bh, brows = mm.decode_image(mm.encode_bmp(w, h))
        assert (pw, ph) == (bw, bh) == (w, h)
        assert prows == brows
        for y in range(h):
            for x in range(w):
                assert prows[y][x] == ((x + y) % 256, x % 256, y % 256)

    tampered = bytearray(mm.encode_png(7, 11))
    tampered[40] ^= 0xFF
    with pytest.raises(ValueError):
        mm.decode_png(bytes(tampered))


def test_vectorized_multimodal_kernels_match_reference(spark):
    """Round-16: the VAD/patchify/phash kernels were numpy-vectorized
    (guide §4.2). They must stay BIT-IDENTICAL to the scalar per-pixel/
    per-sample reference logic they replaced — reproduced here verbatim
    — across payload shapes covering the edge cases (smallest image
    3px tall → zero full patches; all-active and mixed audio runs)."""
    import pandas as pd

    from flume_hive_batch_sink_spark.llm import multimodal as mm

    vids = list(range(0, 40))  # spans every (w, h) and n_samples residue
    img_vids = [v for v in vids if v % 3 < 2]
    wav_vids = [v for v in vids if v % 3 == 2]

    def img_payload(v):
        w, h = mm.media_dims(v)
        return mm.encode_bmp(w, h) if v % 3 == 0 else mm.encode_png(w, h)

    img_pdf = pd.DataFrame(
        {"vec_id": img_vids, "payload": [img_payload(v) for v in img_vids]}
    )
    wav_pdf = pd.DataFrame(
        {
            "vec_id": wav_vids,
            "payload": [mm.encode_wav(v, 64 + v % 64) for v in wav_vids],
        }
    )

    # --- scalar references (the pre-vectorization implementations) ---
    def ref_vad(pdf):
        recs = []
        for vid, payload in zip(pdf["vec_id"], pdf["payload"]):
            _, n, samples = mm.decode_wav(bytes(payload))
            n_frames = n // mm._VAD_FRAME
            active = [
                sum(abs(s) for s in samples[f * mm._VAD_FRAME:(f + 1) * mm._VAD_FRAME])
                >= mm._VAD_THRESHOLD
                for f in range(n_frames)
            ]
            n_active = sum(active)
            n_segments = longest = run = 0
            for a in active:
                if a:
                    run += 1
                    if run == 1:
                        n_segments += 1
                    longest = max(longest, run)
                else:
                    run = 0
            recs.append((int(vid), n_frames, n_active, n_segments, longest))
        return recs

    def ref_patchify(pdf):
        recs = []
        for vid, payload in zip(pdf["vec_id"], pdf["payload"]):
            w, h, rows = mm.decode_image(bytes(payload))
            for pr in range(h // mm._PATCH):
                for pc in range(w // mm._PATCH):
                    lumas = [
                        (77 * r + 150 * g + 29 * b) // 256
                        for y in range(pr * mm._PATCH, (pr + 1) * mm._PATCH)
                        for (r, g, b) in rows[y][pc * mm._PATCH:(pc + 1) * mm._PATCH]
                    ]
                    recs.append(
                        (int(vid), pr, pc, sum(lumas), min(lumas), max(lumas))
                    )
        return recs

    def ref_phash(pdf):
        recs = []
        for vid, payload in zip(pdf["vec_id"], pdf["payload"]):
            w, h, rows = mm.decode_image(bytes(payload))
            samples = []
            for j in range(8):
                sy = (j * h) // 8
                for i in range(8):
                    sx = (i * w) // 8
                    r, g, b = rows[sy][sx]
                    samples.append((77 * r + 150 * g + 29 * b) // 256)
            total = sum(samples)
            hi = lo = 0
            for idx, lum in enumerate(samples):
                if 64 * lum >= total:
                    if idx < 32:
                        lo |= 1 << idx
                    else:
                        hi |= 1 << (idx - 32)
            recs.append((int(vid), hi, lo))
        return recs

    # the numpy sample view is byte-identical to the scalar unpack
    for v in wav_vids:
        payload = mm.encode_wav(v, 64 + v % 64)
        r1, n1, s1 = mm.decode_wav(payload)
        r2, n2, s2 = mm.decode_wav_np(payload)
        assert (r1, n1) == (r2, n2) and s1 == list(s2)

    got_vad = [
        tuple(int(x) for x in row)
        for out in mm._vad_kernel(iter([wav_pdf]))
        for row in out.itertuples(index=False)
    ]
    assert got_vad == ref_vad(wav_pdf)

    got_patch = [
        tuple(int(x) for x in row)
        for out in mm._patchify_kernel(iter([img_pdf]))
        for row in out.itertuples(index=False)
    ]
    assert got_patch == ref_patchify(img_pdf)

    got_phash = [
        tuple(int(x) for x in row)
        for out in mm._phash_kernel(iter([img_pdf]))
        for row in out.itertuples(index=False)
    ]
    assert got_phash == ref_phash(img_pdf)


def test_multimodal_fake_features_deterministic(spark):
    from flume_hive_batch_sink_spark.llm.multimodal import fake_feature_extract

    a = fake_feature_extract(b"abcdef12", 128, 64)
    b = fake_feature_extract(b"abcdef12", 128, 64)
    assert a == b and a[2] == 2.0


def test_pii_redact_rewrites_crafted_text(spark):
    """The fixture corpus has no PII (all-letters word soup), so exercise
    the redaction patterns on crafted rows: emails, phones, and digit
    runs must be replaced and counted; clean text must pass untouched."""
    from flume_hive_batch_sink_spark.llm.curation import _DIGITS, _EMAIL, _PHONE

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk for details"),
            (2, "call +1 (555) 123-4567 now"),
            # 5 digits: long enough for the digit-run pattern, short of
            # the phone pattern's 8-char minimum (which wins on longer runs)
            (3, "order id 12345 shipped"),
            (4, "perfectly clean text"),
        ],
        "doc_id long, text string",
    )
    red = df.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE)).alias("n_phones"),
        F.regexp_count("text", F.lit(_DIGITS)).alias("n_digits"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL, "<EMAIL>"), _PHONE, "<PHONE>"
            ),
            _DIGITS,
            "<NUM>",
        ).alias("redacted"),
    ).collect()
    by_id = {r["doc_id"]: r for r in red}
    assert by_id[1]["n_emails"] == 1 and "<EMAIL>" in by_id[1]["redacted"]
    assert "bob.smith" not in by_id[1]["redacted"]
    assert by_id[2]["n_phones"] == 1 and "<PHONE>" in by_id[2]["redacted"]
    assert by_id[3]["n_digits"] == 1 and "<NUM>" in by_id[3]["redacted"]
    assert by_id[4]["redacted"] == "perfectly clean text"


def test_doc_chunk_boundaries(spark):
    """Chunking invariants on the real corpus: stride-40 starts, chunks
    capped at 50 tokens, every token covered, overlap only between
    consecutive chunks of the same doc."""
    from flume_hive_batch_sink_spark.io import load
    from flume_hive_batch_sink_spark.llm.curation import llm_doc_chunk

    chunks = llm_doc_chunk(spark, SF_DIR)
    bad = chunks.filter((F.col("n_tokens") < 1) | (F.col("n_tokens") > 50))
    assert bad.count() == 0
    # sum of non-overlapped token counts = doc token count
    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"), F.max("chunk_idx").alias("max_idx")
    )
    j = per_doc.join(docs, "doc_id")
    # chunk count == number of stride starts == ceil(n / 40)
    mismatch = j.filter(
        F.col("n_chunks") != F.ceil(F.col("n") / F.lit(40.0)).cast("long")
    )
    assert mismatch.count() == 0


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc that copies 5 consecutive tokens from an eval doc
    (doc_id % 97 == 0) must be flagged; disjoint docs must not. The
    curation pipeline's decontamination stage drops the same doc (and
    the eval doc), matching its oracle."""
    import tempfile

    from flume_hive_batch_sink_spark.llm import curation
    from oracle import TABLES, compare

    rows = [
        (0, "srcA", "en", 100, "alpha beta gamma delta epsilon zeta"),  # eval
        (1, "srcB", "de", 100, "xx alpha beta gamma delta epsilon yy"),  # overlaps
        (2, "srcC", "fr", 100, "one two three four five six seven"),  # clean
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long, text string"
    )
    with tempfile.TemporaryDirectory() as td:
        # one parquet file, not a Spark output directory: DuckDB's
        # read_parquet does not open a directory path
        df.toPandas().to_parquet(f"{td}/documents.parquet")
        for t in TABLES:  # the oracle connection opens every table
            if t != "documents":
                os.symlink(f"{SF_DIR}/{t}.parquet", f"{td}/{t}.parquet")
        flagged = curation.llm_decontaminate(spark, td).collect()
        kept = curation.llm_curation_pipeline(spark, td)
        compare(kept, curation._PIPELINE_ORACLE, td)
        kept = kept.collect()
    ids = {r["doc_id"] for r in flagged}
    assert ids == {1}
    assert [tuple(r) for r in kept] == [("fr", 1, 7)]


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
def test_word_ngrams_matches_python(spark, n):
    """word_ngrams equals the plain-Python n-grams of the split text for
    docs of 0-7 words: a doc with fewer than n words gives [], never
    phantom grams."""
    from flume_hive_batch_sink_spark.llm.ngrams import word_ngrams

    texts = ["", "one"] + [" ".join(f"w{i}" for i in range(k)) for k in range(2, 8)]
    texts.append("a b a b a")  # repeated grams are kept
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select("text", word_ngrams(F.split("text", " "), n).alias("g")).collect()
    for r in got:
        t = r["text"].split(" ")
        assert r["g"] == [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


def test_block_index_cache_bounded_and_unpersists(spark):
    """The block-structure LRU must hold executor storage flat: entries
    beyond CAP are evicted with unpersist(), stale-path keys rebuild, and
    repeated hits return the same cached plan."""
    from flume_hive_batch_sink_spark.io import load
    from flume_hive_batch_sink_spark.llm import similarity as sim

    emb = load(spark, SF_DIR, "embeddings").limit(64)
    cache = sim._BLOCK_INDEX
    cache.clear()
    assert len(cache) == 0

    # A hit returns the identical cached object (no rebuild).
    first = sim.block_index(emb, cache_key=SF_DIR)
    again = sim.block_index(emb, cache_key=SF_DIR)
    assert again is first

    # Many distinct dataset keys: cache stays ≤ CAP and evicted entries
    # are no longer persisted (storage flat).
    for i in range(cache.CAP + 4):
        sim.block_index(emb, cache_key=f"/nonexistent/ds_{i}")
    assert len(cache) <= cache.CAP
    assert not first.is_cached, "evicted entry should be unpersisted"

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    # only bounded leftovers may remain persistent (cache entries + any
    # session-level input caches) — the eviction keeps this O(CAP).
    assert jmap.size() <= cache.CAP + 16

    cache.clear()
    assert len(cache) == 0


def test_band_candidates_hot_bucket_guard(spark):
    """Synthetic hot band: 200 copies of one template put all 200 docs
    in the same (band_idx, band_key) bucket for EVERY band — the
    degenerate corpus where an unsalted band self-join concentrates
    200² products per band on one reducer. Proves the guard (a) emits
    the bit-identical candidate set (exactness), (b) bounds a-side
    rows per (band, bucket, salt) reducer key to ~m/salts, and (c)
    leaves the realistic corpus on the cheap narrow tier."""
    from flume_hive_batch_sink_spark.llm import dedup as D

    m, extra = 200, 8
    rows = [(i, "the same template text repeated verbatim") for i in range(m)]
    rows += [(m + i, f"unique document number {i} with its own words") for i in range(extra)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    bands = D.minhash_bands(D.token_arrays(docs))

    cap, salts = 16, 4
    guarded = D.band_candidates(bands, width_cap=cap, salts=salts)

    # (a) exactness: identical candidate set to the unguarded self-join
    a, b = bands.alias("a"), bands.alias("b")
    plain = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    got = set(map(tuple, guarded.collect()))
    want = set(map(tuple, plain.collect()))
    assert got == want
    assert len(want) >= m * (m - 1) // 2  # every template pair survives

    # (b) boundedness: the hot tier's a-side reducer key is
    # (band_idx, band_key, salt); its widest group must be ~m/salts,
    # never m — that's the whole point of the salt.
    from pyspark.sql.window import Window

    w = F.count("*").over(Window.partitionBy("band_idx", "band_key"))
    hot = bands.withColumn("w", w).filter(F.col("w") > cap)
    per_salt = (
        hot.withColumn(
            "salt",
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit("bandsalt")), F.lit(salts)),
        )
        .groupBy("band_idx", "band_key", "salt")
        .count()
    )
    widest = per_salt.agg(F.max("count")).collect()[0][0]
    assert widest is not None and widest <= 2 * (m // salts), (
        f"salted a-side group too wide: {widest}"
    )

    # (c) the realistic fixture is dense-similar and DOES trip the hot
    # tier at the production cap (so the guard is live on the real
    # path, not just the synthetic one), and the production salt
    # genuinely spreads those buckets: the widest per-salt reducer
    # group must shrink by ~salts vs the widest raw bucket.
    from flume_hive_batch_sink_spark.io import load

    real = D.minhash_bands(D.token_arrays(load(spark, SF_DIR, "documents")))
    wr = F.count("*").over(Window.partitionBy("band_idx", "band_key"))
    hot_real = real.withColumn("w", wr).filter(F.col("w") > D._BUCKET_CAP)
    widest_bucket = hot_real.agg(F.max("w")).collect()[0][0]
    assert widest_bucket is not None and widest_bucket > D._BUCKET_CAP
    widest_salted = (
        hot_real.withColumn(
            "salt",
            F.pmod(
                F.xxhash64(F.col("doc_id"), F.lit("bandsalt")),
                F.lit(D._BUCKET_SALTS),
            ),
        )
        .groupBy("band_idx", "band_key", "salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert widest_salted * D._BUCKET_SALTS <= 2 * widest_bucket, (
        f"salt not spreading: widest bucket {widest_bucket}, "
        f"widest per-salt group {widest_salted}"
    )


def test_candidate_budget_guard(spark, monkeypatch):
    """The round-14 self-triggering volume guard: Σ w(w−1)/2 over band
    buckets is measured before pair generation; over-budget corpora
    drop their widest buckets (a recorded recall trade), healthy
    corpora are untouched bit-for-bit, and an infeasible budget fails
    loudly with the recalibration pointer."""
    import pytest

    from flume_hive_batch_sink_spark.llm import dedup as D

    m, extra = 60, 20
    rows = [(i, "tpl one two three four five six seven") for i in range(m)]
    rows += [
        (m + i, f"unique doc {i} alpha{i} beta{i} gamma{i}")
        for i in range(extra)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    bands = D.minhash_bands(D.token_arrays(docs))
    unguarded = set(map(tuple, D.band_candidates(bands).collect()))

    # (a) healthy corpus under a big budget: untriggered, bit-identical,
    # and the document counter is never called within budget
    info: dict = {}
    counted: list[int] = []

    def count_docs() -> int:
        counted.append(1)
        return m + extra

    got = set(
        map(
            tuple,
            D.band_candidates(
                bands, candidate_budget=10**9, guard_info=info, n_docs=count_docs
            ).collect(),
        )
    )
    assert got == unguarded
    assert info["triggered"] is False
    assert counted == [], "a within-budget guard must not count documents"
    # the template family is hot in every band: 16 buckets × C(60,2)
    assert info["total_pairs"] >= D._BANDS * m * (m - 1) // 2

    # (b) over-budget: triggered, kept volume fits, output is a subset,
    # and the template family still pairs up via surviving bands
    info2: dict = {}
    budget = 4 * m * (m - 1) // 2  # room for ~4 of the 16 hot buckets
    got2 = set(
        map(
            tuple,
            D.band_candidates(
                bands, candidate_budget=budget, guard_info=info2
            ).collect(),
        )
    )
    assert info2["triggered"] is True
    assert info2["kept_pairs"] <= budget
    assert info2["dropped_buckets"] >= 1
    assert 1 <= info2["bands_affected"] <= D._BANDS
    assert got2 <= unguarded
    assert any(a < m and b < m for a, b in got2), (
        "template pairs must survive via non-dropped bands"
    )

    # (c) density exemption: same over-budget corpus, but n_docs says
    # the candidate multiset is a constant fraction of ALL pairs (the
    # sf1-driver-fixture shape, where the true answer is quadratic by
    # construction) — the guard must stand down bit-identically
    info3: dict = {}
    got3 = set(
        map(
            tuple,
            D.band_candidates(
                bands,
                candidate_budget=budget,
                guard_info=info3,
                n_docs=count_docs,
            ).collect(),
        )
    )
    assert info3["triggered"] is False and info3.get("dense_corpus") is True
    assert counted == [1], "an over-budget guard counts documents once"
    assert got3 == unguarded

    # (d) infeasible: the top-K collect cap can't reach the budget →
    # loud error naming the recalibration tool, raised at build time
    monkeypatch.setattr(D, "_GUARD_TOPK", 1)
    with pytest.raises(RuntimeError, match="llm_lsh_band_sweep"):
        D.band_candidates(bands, candidate_budget=1)


def test_minhash_guard_end_to_end(spark, monkeypatch, tmp_path):
    """llm_near_dedup_minhash's self-triggering guard, end to end.
    On the committed fixture the default budget must not trigger (the
    oracle-parity invariant — sf0.01 is dense AND far under budget).
    On a sparse template-family corpus with a tiny budget env the
    guard triggers, records decision + recall bound in
    LAST_MINHASH_GUARD, and the exact-verified output is a SUBSET of
    the unguarded result — degraded recall, never a wrong pair."""
    import random

    from flume_hive_batch_sink_spark.llm import dedup as D

    D.llm_near_dedup_minhash(spark, SF_DIR).count()
    assert D.LAST_MINHASH_GUARD["triggered"] is False, (
        "default budget must not trigger on the committed fixture"
    )

    # sparse low-entropy corpus: 40 exact-template families of 30 docs
    # (hot in every band; the true pairs) floating in 4000 unique-text
    # fillers — total band-pair volume ≈ 16·40·C(30,2) ≈ 2.8e5, a
    # vanishing fraction of n²/2 ≈ 1.3e7, so the density exemption does
    # NOT apply and a small budget must engage the drop tier.
    rng = random.Random(14)
    vocab = [f"w{i:04d}" for i in range(10_000)]
    rows = []
    doc_id = 0
    fam_ids: list[list[int]] = []
    for _ in range(40):
        text = " ".join(rng.sample(vocab, 25))
        ids = []
        for _ in range(30):
            rows.append((doc_id, text))
            ids.append(doc_id)
            doc_id += 1
        fam_ids.append(ids)
    for _ in range(4000):
        rows.append((doc_id, " ".join(rng.sample(vocab, 25))))
        doc_id += 1
    sf_dir = str(tmp_path / "lowent")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf_dir}/documents.parquet"
    )

    full_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.llm_near_dedup_minhash(spark, sf_dir).collect()
    }
    assert D.LAST_MINHASH_GUARD["triggered"] is False

    monkeypatch.setenv("SPARK_GRAFT_LSH_CANDIDATE_BUDGET", "50000")
    artifact = tmp_path / "guard.json"
    monkeypatch.setenv("SPARK_GRAFT_GUARD_ARTIFACT", str(artifact))
    import warnings as W

    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        small_pairs = {
            (r["doc_a"], r["doc_b"])
            for r in D.llm_near_dedup_minhash(spark, sf_dir).collect()
        }
    g = dict(D.LAST_MINHASH_GUARD)
    assert g["triggered"] is True and not g.get("dense_corpus")
    assert g["kept_pairs"] <= 50_000
    assert g["dropped_buckets"] >= 1
    assert 0.0 <= g["recall_lower_bound_at_t"] <= 1.0
    assert small_pairs <= full_pairs
    # round-15: per-run certification — the sampled re-catch audit must
    # run on every trigger and its rate must be an ACCURATE estimator.
    # On this fixture the 50k budget is harsh enough that a few
    # families lose all 16 buckets to the wide cross-family-collision
    # drops, so the true re-catch rate is genuinely < 1 — exactly the
    # signal the audit exists to surface. Verify the estimator against
    # its exhaustive twin (sample mod forced to 1 via a huge target).
    assert g["sampled_recatch_pairs"] > 0
    assert 0.0 < g["sampled_recatch_rate"] <= 1.0
    monkeypatch.setattr(D, "_RECATCH_TARGET", 10**12)  # mod=1 → exact
    D.llm_near_dedup_minhash(spark, sf_dir).count()
    exact_rate = D.LAST_MINHASH_GUARD["sampled_recatch_rate"]
    assert D.LAST_MINHASH_GUARD["recatch_sample_mod"] == 1
    assert abs(g["sampled_recatch_rate"] - exact_rate) < 0.15, (
        f"sampled {g['sampled_recatch_rate']} vs exact {exact_rate}: "
        "the re-catch estimator is biased"
    )
    # round-15: a lossy decision is DURABLE — loud warning + artifact
    assert any("guard TRIGGERED" in str(w.message) for w in caught)
    import json

    saved = json.loads(artifact.read_text())
    assert saved["triggered"] is True
    assert 0.0 < saved["sampled_recatch_rate"] <= 1.0


def test_minhash_guard_gray_zone_density(spark, monkeypatch, tmp_path):
    """Mid-density fixture (round-15, VERDICT r14 item 3): normalized
    candidate density between the exemption bar (≥1/8 of all pairs,
    slot-normalized) and the entropy-exhaustion regime (~5e-4) — the
    gray zone where the guard must ENGAGE (not exempt) and the sampled
    re-catch audit must certify the recall of the drop decision. Also
    pins the ADVICE-r14 slot-normalization: under the OLD raw-slot
    comparison this corpus (density ≈ 0.06 distinct, ≈ 0.98 in slots)
    would have been exempted and the ENOSPC protection bypassed."""
    import random

    from flume_hive_batch_sink_spark.llm import dedup as D

    rng = random.Random(15)
    vocab = [f"w{i:04d}" for i in range(5_000)]
    rows, doc_id = [], 0
    for _ in range(4):  # 4 template families of 50 — hot in every band
        text = " ".join(rng.sample(vocab, 25))
        for _ in range(50):
            rows.append((doc_id, text))
            doc_id += 1
    for _ in range(200):
        rows.append((doc_id, " ".join(rng.sample(vocab, 25))))
        doc_id += 1
    sf_dir = str(tmp_path / "grayzone")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    # density check: slots ≈ 16·4·C(50,2) = 78_400; all-pairs C(400,2)
    # = 79_800 → normalized ≈ 0.061 ∈ (5e-4, 1/8): the gray zone.
    full_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.llm_near_dedup_minhash(spark, sf_dir).collect()
    }
    assert D.LAST_MINHASH_GUARD["triggered"] is False

    monkeypatch.setenv("SPARK_GRAFT_LSH_CANDIDATE_BUDGET", "20000")
    monkeypatch.setenv("SPARK_GRAFT_GUARD_ARTIFACT", str(tmp_path / "g.json"))
    small_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.llm_near_dedup_minhash(spark, sf_dir).collect()
    }
    g = dict(D.LAST_MINHASH_GUARD)
    assert g["triggered"] is True, "gray-zone corpus must engage the guard"
    assert not g.get("dense_corpus"), (
        "slot-normalized exemption must NOT fire at 0.06 distinct density"
    )
    assert g["kept_pairs"] <= 20_000
    assert g["sampled_recatch_pairs"] > 0
    assert g["sampled_recatch_rate"] == 1.0, (
        "every-band-hot families must be re-caught by surviving bands"
    )
    assert small_pairs <= full_pairs


def test_minhash_signatures_computed_once(spark):
    """One llm_near_dedup_minhash call computes its MinHash signatures
    once: the guard's width profile fills the local-checkpointed band
    relation and the candidate join reads it back. So the executed
    result plan scans that checkpointed RDD and holds no signature
    aggregate (the per-doc min of the 32 hashes) — `documents` is
    scanned again only for the verify tier's hashed token arrays."""
    import contextlib
    import io

    from flume_hive_batch_sink_spark.llm import dedup as D

    df = D.llm_near_dedup_minhash(spark, SF_DIR)
    df.collect()
    assert D.LAST_MINHASH_GUARD, "the guard profile is what fills the bands"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    p = buf.getvalue()
    assert "== Final Plan ==" in p  # the executed plan, not a pre-run one
    assert "Scan ExistingRDD" in p and "localCheckpoint" in p
    assert "partial_min" not in p and "concat(0:" not in p


def test_minhash_family_is_literal_seeded(spark):
    """Pin the signature hash families to their documented literal-seed
    definitions: position k is the min over the doc's distinct tokens
    of h('k:' || token), replayed here in pure Python for the md5
    family, byte for byte. A seed that depends on anything but k (an
    earlier lambda-based builder once seeded it with a Column's repr, a
    session-counter-dependent accident) fails the value or the
    two-build stability check."""
    import hashlib

    from pyspark.sql import functions as F

    from flume_hive_batch_sink_spark.llm import dedup as D
    from flume_hive_batch_sink_spark.io import load

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents").filter("doc_id = 0")
    toks = docs.select(
        F.array_distinct(F.split("text", " ")).alias("t")
    ).collect()[0]["t"]

    # the certificate md5 family, through the engine's own builder:
    # h_k = min over tokens of md5("k:tok")
    tok_arr = D.token_arrays(docs)
    sig = D.minhash_signatures(tok_arr, 4, "md5").collect()[0]
    want = min(hashlib.md5(f"3:{t}".encode()).hexdigest() for t in toks)
    assert sig["h3"] == want
    assert sig["n"] == len(toks)

    # the banding family must be invocation-stable: two builds in one
    # session yield identical band keys (the repr-seeded accident was
    # counter-dependent and failed exactly this)
    b1 = sorted(map(tuple, D.minhash_bands(tok_arr).collect()))
    b2 = sorted(map(tuple, D.minhash_bands(tok_arr).collect()))
    assert b1 == b2


def test_band_sweep_collision_sets_nest(spark):
    """(16,1) ⊇ (8,2) ⊇ (4,4) ⊇ (2,8) ⊇ (1,16): a pair colliding under
    a coarser split must collide under every finer one, because each
    r-run of equal signature positions contains aligned complete
    sub-runs of every smaller power-of-two r. So candidate and hit
    counts — and therefore recall — are monotone non-increasing as
    rows-per-band grows, for ANY corpus. n_truth is split-invariant."""
    from flume_hive_batch_sink_spark.llm.dedup import llm_lsh_band_sweep

    rows = {
        (r["n_bands"], r["rows_per_band"]): r
        for r in llm_lsh_band_sweep(spark, SF_DIR).collect()
    }
    order = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]
    assert set(rows) == set(order)
    assert len({rows[k]["n_truth"] for k in order}) == 1
    for prev, nxt in zip(order, order[1:]):
        assert rows[prev]["n_candidates"] >= rows[nxt]["n_candidates"]
        assert rows[prev]["n_hits"] >= rows[nxt]["n_hits"]


def test_block_pairs_cache_capped_by_block_count(spark, monkeypatch):
    """The pair-expanded payload relation is O(#blocks^2) memory, so
    block_pairs must only cache it while the block count is within
    _PAIRS_CACHE_MAX_BLOCKS — past the cap (the sf10 200k-vector OOM)
    it must stream, while the O(n) block index stays cached. Shrink
    _BLOCK so the sf0.01 embeddings span many blocks and drive both
    sides of the cap."""
    from flume_hive_batch_sink_spark.llm import similarity as sim
    from flume_hive_batch_sink_spark.io import load

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    monkeypatch.setattr(sim, "_BLOCK", 64)
    n_blocks = sim.block_index(emb).count()
    assert n_blocks > 4  # the fixture spans enough blocks to test both sides

    sim._BLOCK_INDEX.clear()
    monkeypatch.setattr(sim, "_PAIRS_CACHE_MAX_BLOCKS", 4)
    over = sim.block_pairs(emb, "tri", cache_key=SF_DIR)
    assert not over.storageLevel.useMemory  # streams past the cap
    assert len(sim._BLOCK_INDEX) == 1  # block index cached, pairs not

    sim._BLOCK_INDEX.clear()
    monkeypatch.setattr(sim, "_PAIRS_CACHE_MAX_BLOCKS", n_blocks)
    under = sim.block_pairs(emb, "tri", cache_key=SF_DIR)
    assert under.storageLevel.useMemory  # cached within the cap
    assert len(sim._BLOCK_INDEX) == 2  # index + pairs entries
    assert under.count() == n_blocks * (n_blocks + 1) // 2 == over.count()
    sim._BLOCK_INDEX.clear()


def test_block_pairs_partitions_sized_to_pair_count(spark, monkeypatch):
    """AQE never coalesces a cached plan's output, so the cached
    block-pair relation keeps the partition count it was built with,
    and each partition is one Python task on every query over it. It
    must hold min(#pairs, shuffle partitions) partitions, not one per
    shuffle partition: one block at sf0.01 is one task, 4 blocks are 10
    upper-triangle or 16 ordered pairs."""
    from flume_hive_batch_sink_spark.io import load
    from flume_hive_batch_sink_spark.llm import similarity as sim
    from flume_hive_batch_sink_spark.registry import ORACLES, QUERIES
    from oracle import compare

    emb = load(spark, SF_DIR, "embeddings")
    sim._BLOCK_INDEX.clear()
    assert sim.block_pairs(emb, "tri", cache_key=SF_DIR).rdd.getNumPartitions() == 1
    key = "llm_sim_topk_pairs"
    compare(QUERIES[key](spark, SF_DIR), ORACLES[key], SF_DIR)

    sim._BLOCK_INDEX.clear()
    monkeypatch.setattr(sim, "_BLOCK", 128)
    assert sim.block_index(emb, cache_key=SF_DIR).count() == 4
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for mode, n_pairs in (("tri", 10), ("cross", 16)):
        pairs = sim.block_pairs(emb, mode, cache_key=SF_DIR)
        assert pairs.count() == n_pairs
        assert pairs.rdd.getNumPartitions() == min(n_pairs, shuffle)
    sim._BLOCK_INDEX.clear()
