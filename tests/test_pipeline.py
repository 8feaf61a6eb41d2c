"""Dedup / text-analysis / multimodal pipeline operators."""

import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.pipeline import (
    attach_media_metadata,
    char_count,
    embedding_neardup_lsh,
    embedding_neardup_pairs,
    exact_dedup,
    extract_features,
    jaccard_pairs,
    lang_id,
    minhash_lsh_pairs,
    minhash_signature,
    quality_score,
    sample_frames,
    simhash,
    simhash_pairs,
    token_count,
    word_ngrams,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content about spark engines here"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        ],
        "doc_id long, text string",
    )


def test_token_and_char_counts(spark, docs):
    r = docs.where("doc_id = 1").select(
        token_count("text").alias("t"), char_count("text").alias("c")
    ).first()
    assert r["t"] == 9 and r["c"] == 43


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    r = df.select(word_ngrams("text", 3).alias("g")).first()
    assert r["g"] == ["a b c", "b c d"]


def test_word_ngrams_short_docs(spark):
    # docs shorter than n produce no shingles (greatest(...,0) guard),
    # exactly n tokens produce one
    df = spark.createDataFrame([("a b",), ("a b c",), ("",)], "text string")
    rows = df.select(word_ngrams("text", 3).alias("g")).collect()
    assert [r["g"] for r in rows] == [[], ["a b c"], []]


def test_exact_dedup_groups(spark, docs):
    groups = exact_dedup(docs, "text", "doc_id").collect()
    dup = [g for g in groups if g["n_dups"] > 1]
    assert len(dup) == 1 and dup[0]["keep_id"] == 1 and dup[0]["n_dups"] == 2


def test_jaccard_near_dups(spark, docs):
    pairs = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (1, 4) in got          # identical docs → jaccard 1.0
    assert (1, 2) in got          # one-word difference → high overlap
    assert not any(3 in p for p in got)


def test_minhash_lsh_finds_same_pairs(spark, docs):
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (1, 4) in got
    exact = {(1, 4), (1, 2), (2, 4)}
    assert got <= exact  # LSH candidates never invent pairs


def test_dedup_keep_best_prefers_score_over_min_id(spark):
    """keep_best must keep the highest-scoring cluster member even when
    it is NOT the min id (which plain dedup_keep would keep), break
    score ties by min id, and leave singletons untouched."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.pipeline.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (9, 0.0)],
        "doc_id long, score double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)],  # {1,2,3} one cluster, {4} member-only
        "id long, cluster_id long",
    )
    kept = {
        r["doc_id"]
        for r in dedup_keep_best(docs, "doc_id", clusters, F.col("score")).collect()
    }
    # cluster {1,2,3}: 2 and 3 tie on score, min id 2 wins (not min id 1);
    # 4 is alone in its cluster; 9 is a singleton outside any cluster
    assert kept == {2, 4, 9}


def test_minhash_match_store_consistent_with_self_join(spark, docs):
    """Splitting the corpus into new/ref stores and matching across
    them must yield exactly the cross-split subset of the full
    self-join's pairs (same signatures, same banding, same verify),
    and the keep-list must be the unmatched new-side ids."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.pipeline.dedup import (
        _materialize,
        minhash_incremental_keep,
        minhash_match_store,
        minhash_store,
    )

    full = {
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    store = _materialize(minhash_store(docs, "text", "doc_id"))
    new = store.where(F.col("id") % 2 == 0)
    ref = store.where(F.col("id") % 2 != 0)
    got = {
        (m["new_id"], m["ref_id"])
        for m in minhash_match_store(new, ref, threshold=0.5).collect()
    }
    expected = {
        (a, b) if a % 2 == 0 else (b, a)
        for (a, b) in full
        if (a % 2 == 0) != (b % 2 == 0)
    }
    assert got == expected
    keep = {r["id"] for r in minhash_incremental_keep(new, ref, threshold=0.5).collect()}
    new_ids = {r["id"] for r in new.select("id").collect()}
    assert keep == new_ids - {a for (a, _) in got}


def test_minhash_signature_identical_docs(spark, docs):
    sig = {r["id"]: (r["h0"], r["h1"]) for r in minhash_signature(docs, "text", "doc_id", 2).collect()}
    assert sig[1] == sig[4]
    assert sig[1] != sig[3]


def test_simhash_hamming(spark, docs):
    sigs = {r["id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    assert sigs[1] == sigs[4]
    pairs = simhash_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    assert (1, 4) in {(p["id_a"], p["id_b"]) for p in pairs}


def test_doc_shingles_matches_relational_form(spark):
    """The Arrow shingle pass must produce exactly the values of the
    relational explode→distinct subtree it replaced: same shingle-hash
    sets, sizes, and minhash minima, same absent-row behavior for docs
    shorter than n."""
    import random

    from pyspark.sql import functions as F

    from duckdb_vss_spark.pipeline.dedup import doc_shingles, shingle_table

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(40)
    ]
    # adversarial shapes: unicode, double spaces (empty tokens), tabs
    # (NOT separators — split is on a literal single space), punctuation
    rows += [
        (100, "héllo wörld ünïcode tëxt dàta"),
        (101, "a  b  c  d  e"),
        (102, "tab\there stays one\ttoken with others"),
        (103, "x y"),  # shorter than n → absent from both forms
        (104, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = doc_shingles(df, "text", "doc_id", 3, 2)
    got = {
        r["id"]: (sorted(r["shs"]), r["sz"], r["h0"], r["h1"]) for r in base.collect()
    }
    rel = shingle_table(df, "text", "doc_id", 3)
    rel_g = rel.groupBy("id").agg(
        F.sort_array(F.collect_list("shh")).alias("shs"),
        F.count(F.lit(1)).alias("sz"),
        F.min(F.md5(F.concat(F.lit("0_"), F.col("sh")))).alias("h0"),
        F.min(F.md5(F.concat(F.lit("1_"), F.col("sh")))).alias("h1"),
    )
    want = {
        r["id"]: (sorted(r["shs"]), r["sz"], r["h0"], r["h1"]) for r in rel_g.collect()
    }
    assert got == want and want


def test_simhash_matches_sql_oracle_semantics(spark, docs):
    # the Arrow-batched signature must equal the explode + per-bit
    # sum(CASE) SQL definition bit for bit (the oracle's form)
    import hashlib

    rows = docs.collect()
    got = {r["id"]: r["simhash"] for r in simhash(docs, "text", "doc_id", bits=16).collect()}
    for r in rows:
        toks = [w for w in r["text"].split(" ") if w]
        votes = [0] * 16
        for w in toks:
            h = hashlib.md5(w.encode()).hexdigest()
            for i in range(16):
                nib = int(h[i // 4], 16)
                votes[i] += 1 if (nib >> (3 - i % 4)) & 1 else -1
        want = sum(2 ** (15 - i) for i in range(16) if votes[i] > 0)
        assert got[r["doc_id"]] == want


def test_simhash_pairs_full_recall_at_blocks_gt_hamming(spark):
    """Pigeonhole guarantee: with blocks > max_hamming (64-bit, 4 blocks,
    hamming ≤ 3 — the scale defaults, VERDICT r2 #7) the bucketed join
    must find EVERY pair within the hamming budget."""
    import itertools

    rng = __import__("numpy").random.default_rng(11)
    vocab = [f"w{i}" for i in range(50)]
    texts = []
    base = [vocab[i] for i in rng.integers(0, 50, 30)]
    for k in range(30):
        doc = list(base)
        for _ in range(int(rng.integers(0, 3))):
            doc[int(rng.integers(0, 30))] = vocab[int(rng.integers(0, 50))]
        texts.append((k, " ".join(doc)))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in simhash(df, "text", "doc_id", bits=64).collect()}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3:
            want.add((a, b))
    got = {
        (p["id_a"], p["id_b"])
        for p in simhash_pairs(df, "text", "doc_id", bits=64, max_hamming=3, blocks=4).collect()
    }
    assert got == want and want  # full recall, and the fixture has pairs


def test_embedding_neardup_exact_vs_lsh(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16).astype("float32")
    rows = [
        (0, base.tolist()),
        (1, (base + 0.01 * rng.standard_normal(16).astype("float32")).tolist()),
        (2, rng.standard_normal(16).astype("float32").tolist()),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    exact = embedding_neardup_pairs(df, "vec", "id", 0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(0, 1)}
    lsh = embedding_neardup_lsh(df, "vec", "id", 0.95, num_planes=8, bands=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh} == {(0, 1)}


def test_lang_id_deterministic(spark, docs):
    out = docs.select("doc_id", lang_id("text").alias("lang")).collect()
    assert all(r["lang"] in ("en", "de", "es", "fr", "zh") for r in out)


def test_quality_score_bounds(spark, docs):
    out = docs.select(quality_score("text").alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in out)


# -- multimodal plumbing ----------------------------------------------------

def test_extract_features_fake_decoder(spark):
    df = spark.createDataFrame(
        [(b"payload-1",), (b"payload-2",), (b"payload-1",)], "payload binary"
    )
    media = attach_media_metadata(df, "payload", kind="image", fmt="png")
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 3
    assert all(len(r["feature"]) == 8 for r in feats)
    by_payload = {}
    for m, f in zip(media.collect(), feats):
        by_payload.setdefault(bytes(m["payload"]), []).append(tuple(f["feature"]))
    # deterministic: same payload → same fake feature
    assert len(set(by_payload[b"payload-1"])) == 1


def test_extract_features_real_decoder_stubbed(spark):
    df = spark.createDataFrame([(b"x",)], "payload binary")
    media = attach_media_metadata(df, "payload", kind="image", fmt="png")
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        extract_features(media, decoder="real").collect()


def test_resize_media_contract(spark):
    from duckdb_vss_spark.pipeline.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, b"img-one"), (2, b"img-two-longer")], "mid long, payload binary"
    )
    media = attach_media_metadata(df, "payload", kind="image", fmt="png", id_col="mid")
    out = resize_media(media, width=8, height=4).collect()
    assert len(out) == 2
    for r in out:
        assert len(bytes(r["payload"])) == 8 * 4
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 4
        assert r["meta"]["kind"] == "image" and r["meta"]["format"] == "png"
    # deterministic: same input payload → same resized bytes
    again = {r["media_id"]: bytes(r["payload"]) for r in resize_media(media, 8, 4).collect()}
    assert again == {r["media_id"]: bytes(r["payload"]) for r in out}
    with pytest.raises(Exception, match="NotImplementedError|PIL|opencv"):
        resize_media(media, 8, 4, decoder="real").collect()


def test_sample_frames(spark):
    df = spark.createDataFrame([(b"vid",)], "payload binary")
    media = attach_media_metadata(df, "payload", kind="video", fmt="mp4").withColumn(
        "meta", F.struct(
            F.lit("video").alias("kind"), F.lit("mp4").alias("format"),
            F.lit(None).cast("int").alias("width"), F.lit(None).cast("int").alias("height"),
            F.lit(3500).cast("long").alias("duration_ms"),
        )
    )
    frames = sample_frames(media, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000]


# -- real PNG codec (pure stdlib, pipeline/png.py) ---------------------------

def test_png_roundtrip_and_filters():
    import struct
    import zlib

    import numpy as np

    from duckdb_vss_spark.pipeline.png import (
        PngError,
        decode_png,
        encode_png,
        resize_nearest,
        to_gray,
    )

    rng = np.random.default_rng(7)
    # encode→decode roundtrip across gray / gray+alpha / RGB / RGBA
    for shape in [(5, 3), (16, 16, 3), (8, 4, 4), (7, 9, 2), (1, 1)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        dec = decode_png(encode_png(img))
        want = img[:, :, None] if img.ndim == 2 else img
        assert dec.shape == want.shape and (dec == want).all()

    # decode of every scanline filter type (0..4), hand-encoded
    def make(filters, img):
        h, w, ch = img.shape
        ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 2: 4, 3: 2, 4: 6}[ch], 0, 0, 0)
        flat = img.reshape(h, w * ch).astype(np.int32)
        rows, prev = [], np.zeros(w * ch, np.int32)
        for y, ft in zip(range(h), filters):
            cur = flat[y]
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            upleft = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
            if ft == 0:
                enc = cur
            elif ft == 1:
                enc = cur - left
            elif ft == 2:
                enc = cur - prev
            elif ft == 3:
                enc = cur - (left + prev) // 2
            else:
                p = left + prev - upleft
                pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
                pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
                enc = cur - pred
            rows.append(bytes([ft]) + bytes((enc & 0xFF).astype(np.uint8)))
            prev = cur
        idat = zlib.compress(b"".join(rows))

        def chunk(t, b):
            return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)

        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
                + chunk(b"IEND", b""))

    img = rng.integers(0, 256, (10, 6, 3), dtype=np.uint8)
    for ft in range(5):
        assert (decode_png(make([ft] * 10, img)) == img).all(), f"filter {ft}"
    assert (decode_png(make([0, 1, 2, 3, 4, 4, 3, 2, 1, 0], img)) == img).all()

    r = resize_nearest(img, 3, 5)
    assert r.shape == (5, 3, 3)
    assert to_gray(img).shape == (10, 6)
    with pytest.raises(PngError):
        decode_png(b"not a png")


def test_png_decoder_through_spark(spark):
    """decoder='png' is a REAL codec path: a generated PNG flows through
    resize (decode → nearest resample → re-encode) and feature
    extraction (decode → gray → pooled grid) inside mapInPandas."""
    import numpy as np

    from duckdb_vss_spark.pipeline.multimodal import extract_features, resize_media
    from duckdb_vss_spark.pipeline.png import decode_png, encode_png, resize_nearest, to_gray

    rng = np.random.default_rng(11)
    imgs = {1: rng.integers(0, 256, (32, 24, 3), dtype=np.uint8),
            2: rng.integers(0, 256, (9, 5), dtype=np.uint8)}
    df = spark.createDataFrame(
        [(k, encode_png(v)) for k, v in imgs.items()], "mid long, payload binary"
    )
    media = attach_media_metadata(df, "payload", kind="image", fmt="png", id_col="mid")

    out = {r["media_id"]: r for r in resize_media(media, width=8, height=4, decoder="png").collect()}
    for k, img in imgs.items():
        dec = decode_png(bytes(out[k]["payload"]))
        ch = 1 if img.ndim == 2 else img.shape[2]
        assert dec.shape == (4, 8, ch)
        want = resize_nearest(img[:, :, None] if img.ndim == 2 else img, 8, 4)
        assert (dec == want).all()
        assert out[k]["meta"]["width"] == 8 and out[k]["meta"]["height"] == 4

    feats = {r["media_id"]: np.array(r["feature"]) for r in
             extract_features(media, dim=16, decoder="png").collect()}
    for k, img in imgs.items():
        arr = img[:, :, None] if img.ndim == 2 else img
        want = (resize_nearest(to_gray(arr), 4, 4).reshape(-1) / 255.0).astype(np.float32)
        assert np.allclose(feats[k], want)


def test_dedup_pipelines_leave_no_session_cache(spark, docs):
    """The LSH pipelines materialize intermediates (checkpoint-before-
    self-join); that storage must be tied to the returned DataFrame's
    lifetime, not leaked into the session-global CacheManager — library
    callers must not need clearCache() between calls (VERDICT r4 #8)."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(20)], "vec_id long, embedding array<float>"
    )

    def n_cached():
        # entries other suites legitimately cache may pre-exist; the
        # pipelines must not ADD any
        return spark._jsparkSession.sharedState().cacheManager().cachedData().size()

    before = n_cached()
    jaccard_pairs(docs, "text", "doc_id", threshold=0.5).count()
    minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).count()
    simhash_pairs(docs, "text", "doc_id").count()
    embedding_neardup_lsh(emb, "embedding", "vec_id", 0.9).count()
    assert n_cached() == before


def test_wav_roundtrip_and_depths():
    """encode(16-bit) → decode recovers samples within quantization;
    8/24-bit and float32 payloads decode; malformed payloads raise
    WavError (never a bare struct/index error from inside executors)."""
    import struct

    import numpy as np
    import pytest as _pytest

    from duckdb_vss_spark.pipeline.wav import (
        WavError,
        decode_wav,
        encode_wav,
        frame_energy,
    )

    t = np.linspace(0, 1, 800, endpoint=False)
    stereo = np.stack([np.sin(2 * np.pi * 5 * t), 0.5 * np.cos(2 * np.pi * 3 * t)], axis=1)
    data = encode_wav(stereo, 8000)
    dec, rate = decode_wav(data)
    assert rate == 8000 and dec.shape == (800, 2)
    assert np.abs(dec - stereo).max() < 1.5 / 32768

    # 8-bit unsigned: midpoint 128 decodes to 0
    fmt = struct.pack("<HHIIHH", 1, 1, 4000, 4000, 1, 8)
    pcm = bytes([128, 255, 0])
    wav8 = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    d8, _ = decode_wav(wav8)
    assert d8[0, 0] == 0.0 and d8[1, 0] > 0.9 and d8[2, 0] == -1.0

    # 24-bit packed: full-scale positive/negative
    fmt24 = struct.pack("<HHIIHH", 1, 1, 4000, 12000, 3, 24)
    pcm24 = b"\xff\xff\x7f" + b"\x00\x00\x80"
    wav24 = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt24) + 8 + len(pcm24)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt24)) + fmt24
        + b"data" + struct.pack("<I", len(pcm24)) + pcm24
    )
    d24, _ = decode_wav(wav24)
    assert abs(d24[0, 0] - 1.0) < 1e-6 and d24[1, 0] == -1.0

    # float32 payload (tag 3)
    fl = np.array([0.25, -0.5], dtype="<f4").tobytes()
    fmtf = struct.pack("<HHIIHH", 3, 1, 4000, 16000, 4, 32)
    wavf = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmtf) + 8 + len(fl)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmtf)) + fmtf
        + b"data" + struct.pack("<I", len(fl)) + fl
    )
    df_, _ = decode_wav(wavf)
    assert np.allclose(df_[:, 0], [0.25, -0.5])

    for bad in (b"", b"RIFFxxxx", b"RIFF\x00\x00\x00\x00WAVE", data[:30]):
        with _pytest.raises(WavError):
            decode_wav(bad)

    # frame energy: loud half / silent half → first frames ~1, last ~0
    sig = np.concatenate([np.ones(400), np.zeros(400)])
    e = frame_energy(sig, 8)
    assert e.shape == (8,) and e.dtype == np.float32
    assert e[0] == 1.0 and e[-1] == 0.0


def test_wav_decoder_through_spark(spark):
    """decoder='wav': real decode inside mapInPandas — feature is the
    clip's frame-energy vector, matching the local computation."""
    import numpy as np

    from duckdb_vss_spark.pipeline.wav import decode_wav, encode_wav, frame_energy

    t = np.linspace(0, 1, 1600, endpoint=False)
    clips = {
        1: np.sin(2 * np.pi * 10 * t) * np.linspace(1, 0, 1600),  # decaying
        2: np.concatenate([np.zeros(800), 0.8 * np.ones(800)]),   # step up
    }
    df = spark.createDataFrame(
        [(k, encode_wav(v, 16000)) for k, v in clips.items()],
        "mid long, payload binary",
    )
    media = attach_media_metadata(df, "payload", kind="audio", fmt="wav", id_col="mid")
    got = {
        r["media_id"]: np.array(r["feature"])
        for r in extract_features(media, dim=16, decoder="wav").collect()
    }
    for k, clip in clips.items():
        want = frame_energy(decode_wav(encode_wav(clip, 16000))[0], 16)
        assert np.allclose(got[k], want)
    # decaying clip: energy decreases; step clip: energy increases
    assert got[1][0] > got[1][-1]
    assert got[2][0] < got[2][-1]


def test_jpeg_roundtrip_quality_and_errors():
    """Baseline JPEG codec: lossy roundtrip within quantization
    tolerance on smooth content, quality knob trades size for error,
    odd dimensions survive, malformed payloads raise JpegError."""
    import numpy as np
    import pytest as _pytest

    from duckdb_vss_spark.pipeline.jpeg import JpegError, decode_jpeg, encode_jpeg

    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (h + w))], axis=2
    ).astype(np.uint8)
    data = encode_jpeg(img, quality=90)
    dec = decode_jpeg(data)
    assert dec.shape == (h, w, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 6

    # grayscale + non-multiple-of-8 dims
    g = ((np.sin(yy / 5) * 0.5 + 0.5) * 255).astype(np.uint8)[:45, :53]
    dg = decode_jpeg(encode_jpeg(g, quality=85))
    assert dg.shape == (45, 53, 1)
    assert np.abs(dg[:, :, 0].astype(int) - g.astype(int)).max() <= 6

    # quality knob: monotone size, bounded error growth
    sizes = [len(encode_jpeg(img, quality=q)) for q in (95, 75, 50, 25)]
    assert sizes == sorted(sizes, reverse=True)

    for bad in (b"", b"\xff\xd8\xff\xd9", data[:40], data[:200], bytes(100)):
        with _pytest.raises(JpegError):
            decode_jpeg(bad)


def test_jpeg_decodes_external_encoders():
    """Interop: decode JPEGs produced by OTHER encoders (4:2:0
    subsampling, photos) when sample files exist on this system."""
    import os

    import pytest as _pytest

    from duckdb_vss_spark.pipeline.jpeg import decode_jpeg

    candidates = [
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/test/test_email/data/python.jpg",
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/doc/rust/html/embedded-book/assets/verify.jpeg",
    ]
    found = [p for p in candidates if os.path.exists(p)]
    if not found:
        _pytest.skip("no external JPEG samples on this system")
    for p in found:
        img = decode_jpeg(open(p, "rb").read())
        assert img.ndim == 3 and img.shape[0] > 0 and img.shape[2] in (1, 3)


def test_jpeg_decoder_through_spark(spark):
    """decoder='jpeg' end-to-end: resize re-encodes a real JPEG at the
    target dims; features are the decoded grid within JPEG tolerance."""
    import numpy as np

    from duckdb_vss_spark.pipeline.jpeg import decode_jpeg, encode_jpeg
    from duckdb_vss_spark.pipeline.multimodal import resize_media
    from duckdb_vss_spark.pipeline.png import resize_nearest, to_gray

    yy, xx = np.mgrid[0:32, 0:40]
    imgs = {
        1: np.stack([(xx * 6) % 256, (yy * 8) % 256, ((xx + yy) * 3) % 256], axis=2).astype(np.uint8),
        2: ((yy * 255 / 32)).astype(np.uint8),  # grayscale
    }
    df = spark.createDataFrame(
        [(k, encode_jpeg(v, quality=90)) for k, v in imgs.items()],
        "mid long, payload binary",
    )
    media = attach_media_metadata(df, "payload", kind="image", fmt="jpeg", id_col="mid")

    out = {
        r["media_id"]: r
        for r in resize_media(media, width=8, height=4, decoder="jpeg").collect()
    }
    for k in imgs:
        dec = decode_jpeg(bytes(out[k]["payload"]))
        assert dec.shape[:2] == (4, 8)
        assert out[k]["meta"]["width"] == 8 and out[k]["meta"]["height"] == 4

    feats = {
        r["media_id"]: np.array(r["feature"])
        for r in extract_features(media, dim=16, decoder="jpeg").collect()
    }
    for k, img in imgs.items():
        arr = img[:, :, None] if img.ndim == 2 else img
        dec = decode_jpeg(encode_jpeg(arr if arr.shape[2] == 3 else arr[:, :, 0], quality=90))
        want = (resize_nearest(to_gray(dec), 4, 4).reshape(-1) / 255.0).astype(np.float32)
        assert np.allclose(feats[k], want)


def _mini_mp4(duration_ms=5000, timescale=1000, width=64, height=48, version=0):
    """Hand-assemble a minimal ISO-BMFF file: ftyp + moov{mvhd, trak{tkhd}}."""
    import struct

    def box(btype, body):
        return struct.pack(">I", len(body) + 8) + btype + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    dur = duration_ms * timescale // 1000
    if version == 1:
        mvhd = box(
            b"mvhd",
            b"\x01" + b"\x00" * 3 + b"\x00" * 16
            + struct.pack(">IQ", timescale, dur) + b"\x00" * 80,
        )
    else:
        mvhd = box(
            b"mvhd",
            b"\x00" * 4 + b"\x00" * 8 + struct.pack(">II", timescale, dur) + b"\x00" * 80,
        )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07" + b"\x00" * 72 + struct.pack(">II", width << 16, height << 16),
    )
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    return ftyp + moov


def test_mp4_probe_and_errors():
    import pytest as _pytest

    from duckdb_vss_spark.pipeline.mp4 import Mp4Error, probe_mp4

    info = probe_mp4(_mini_mp4(duration_ms=7500, timescale=600, width=128, height=96))
    # 7500ms at timescale 600 → 4500 ticks → floor back to 7500ms
    assert info["duration_ms"] == 7500
    assert info["width"] == 128 and info["height"] == 96
    assert info["track_count"] == 1

    # 64-bit (version 1) movie header
    assert probe_mp4(_mini_mp4(duration_ms=61000, version=1))["duration_ms"] == 61000

    for bad in (b"", b"\x00\x00\x00\x08free", _mini_mp4()[:20], bytes(64)):
        with _pytest.raises(Mp4Error):
            probe_mp4(bad)


def test_probe_video_metadata_through_spark(spark):
    """probe_video_metadata fills duration/dims from real container
    bytes; sample_frames then derives the frame grid from them. Rows
    with unparseable payloads keep caller metadata."""
    from duckdb_vss_spark.pipeline.multimodal import probe_video_metadata

    rows = [
        (1, _mini_mp4(duration_ms=3000, width=320, height=240)),
        (2, _mini_mp4(duration_ms=500, width=64, height=64)),
        (3, b"not an mp4 at all"),
    ]
    df = spark.createDataFrame(rows, "mid long, payload binary")
    media = attach_media_metadata(
        df, "payload", kind="video", fmt="mp4", id_col="mid", duration_ms=F.lit(9999)
    )
    probed = probe_video_metadata(media)
    metas = {r["media_id"]: r["meta"] for r in probed.collect()}
    assert metas[1]["duration_ms"] == 3000 and metas[1]["width"] == 320
    assert metas[2]["duration_ms"] == 500 and metas[2]["height"] == 64
    assert metas[3]["duration_ms"] == 9999  # probe failed → caller value kept

    frames = sample_frames(probed, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert sorted(by_id[1]) == [0, 1000, 2000]  # 3s @ 1fps
    assert sorted(by_id[2]) == [0]              # short clip → 1 frame


def test_dedup_clusters_known_components(spark):
    """Connected components over an explicit pair list: chain, triangle
    + pendant, isolated pair, and a component whose min id arrives via
    a multi-hop path (propagation must cross >1 round)."""
    from duckdb_vss_spark.pipeline.dedup import dedup_clusters

    pairs = [
        (1, 5), (5, 9),            # chain 1-5-9            -> cluster 1
        (20, 21), (21, 22), (20, 22), (22, 23),  # triangle + pendant -> 20
        (40, 41),                  # isolated pair           -> 40
        (54, 53), (53, 52), (52, 51), (51, 50),  # long chain, min at far end -> 50
    ]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(df).collect()
    }
    want = {
        1: 1, 5: 1, 9: 1,
        20: 20, 21: 20, 22: 20, 23: 20,
        40: 40, 41: 40,
        50: 50, 51: 50, 52: 50, 53: 50, 54: 50,
    }
    assert got == want
    # keep-list: exactly one survivor per component
    survivors = {i for i, c in got.items() if i == c}
    assert survivors == {1, 20, 40, 50}


def _uf_components(pairs):
    """Reference union-find: id -> component-min, for the differential."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    out = {}
    for members in comp.values():
        mn = min(members)
        for x in members:
            out[x] = mn
    return out


def test_dedup_clusters_contraction_differential(spark):
    """r16: dedup_clusters rewrote to min-label contraction with
    pointer doubling — pin label parity against a union-find reference
    on the shapes that stress it: a chain longer than any per-round
    hop budget (doubling must resolve it in O(log d) rounds), a clique
    (one round), a star, self-pairs + duplicate pairs, and a seeded
    random multigraph. The max_iters guard must still raise on an
    adversarial chain with a tiny budget, and a run that converges
    exactly AT the budget must not raise."""
    import random

    from duckdb_vss_spark.pipeline.dedup import dedup_clusters

    random.seed(7)
    cases = [
        [(i, i + 1) for i in range(33, 0, -1)],           # 34-chain, min far
        [(i, j) for i in range(8) for j in range(i + 1, 8)],  # clique
        [(0, i) for i in range(1, 20)],                    # star
        [(5, 5), (7, 8), (8, 7), (7, 8)],                  # self + dup pairs
        [(random.randrange(150) + 1000, random.randrange(150) + 1000)
         for _ in range(300)],                             # random multigraph
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r["id"]: r["cluster_id"] for r in dedup_clusters(df).collect()}
        assert got == _uf_components(pairs), f"mismatch on {pairs[:4]}..."
    # guard still raises when the budget cannot cover the diameter
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iters=1)
    # converging exactly at the budget is success, not an error
    one = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(one, max_iters=1).collect()}
    assert got == {1: 1, 2: 1}


def test_dedup_clusters_job_floor(spark, count_jobs):
    """r17 (guide §2.4): a dense round runs 3 actions (composed-map
    checkpoint whose emptiness probe doubles as convergence check +
    moved-probe + relabeled-graph checkpoint) — the r16 loop paid 5
    (separate g.isEmpty, standalone step checkpoint, two probes). AQE
    materializes each shuffle stage as its own Spark job (~2-3 per
    action here), so the budget is on OBSERVED jobs: a clique converges
    in one contraction round, measured 16 jobs end-to-end on this shape
    (r16 code: 21); 18 allows AQE headroom. Catches reintroduction of
    per-round bookkeeping actions, not exact counts."""
    from duckdb_vss_spark.pipeline.dedup import dedup_clusters

    clique = spark.createDataFrame(
        [(i, j) for i in range(6) for j in range(i + 1, 6)],
        "id_a long, id_b long",
    )
    rows, n_jobs = count_jobs(lambda: dedup_clusters(clique).collect())
    got = {r["id"]: r["cluster_id"] for r in rows}
    assert got == {i: 0 for i in range(6)}
    assert n_jobs <= 18, f"dedup_clusters(clique) ran {n_jobs} jobs (budget 18)"


def test_profile_numeric_stats_and_nulls(spark):
    from duckdb_vss_spark.pipeline.profile import profile_numeric

    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, None), (2.0, 30.0)], "a double, b double"
    )
    got = {r.col_name: r for r in profile_numeric(df, ["a", "b"]).collect()}
    assert got["a"].n == 3 and got["a"].n_null == 0 and got["a"].n_distinct == 2
    assert got["a"].min_v == 1.0 and got["a"].max_v == 2.0 and got["a"].sum_v == 5.0
    assert got["b"].n_null == 1 and got["b"].n_distinct == 2 and got["b"].sum_v == 40.0


def test_profile_numeric_single_shuffle(spark):
    from duckdb_vss_spark.pipeline.profile import profile_numeric
    from duckdb_vss_spark.sources import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    plan = (
        profile_numeric(li, ["l_quantity", "l_discount"], exact_distinct=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one scan of the table, not one per profiled column
    assert plan.count("Scan parquet") == 1


def test_profile_numeric_validation(spark):
    import pytest as _pt

    from duckdb_vss_spark.pipeline.profile import profile_numeric

    df = spark.createDataFrame([(1.0,)], "a double")
    with _pt.raises(ValueError):
        profile_numeric(df, [])
    with _pt.raises(ValueError):
        profile_numeric(df, ["zzz"])


def test_minhash_store_parquet_roundtrip(spark, docs, tmp_path):
    """The signature store must survive a parquet write/read cycle --
    the persistence the incremental-dedup design claims -- and produce
    identical matches to the in-memory store."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.pipeline.dedup import minhash_match_store, minhash_store

    store = minhash_store(docs, "text", "doc_id")
    path = str(tmp_path / "sigstore")
    store.where(F.col("id") % 2 != 0).write.parquet(path)
    ref_disk = spark.read.parquet(path)
    new = store.where(F.col("id") % 2 == 0)
    direct = {
        (r["new_id"], r["ref_id"], r["jaccard"])
        for r in minhash_match_store(
            new, store.where(F.col("id") % 2 != 0), threshold=0.5
        ).collect()
    }
    via_disk = {
        (r["new_id"], r["ref_id"], r["jaccard"])
        for r in minhash_match_store(new, ref_disk, threshold=0.5).collect()
    }
    assert via_disk == direct and len(via_disk) > 0


def test_corpus_diff_null_text_matrix(spark):
    """ADVICE r8: the 4-way NULL-text matrix, pinned AND cross-checked
    against the oracle's SQL shape on the same rows — (NULL, NULL) →
    unchanged (omitted), (row, absent) → removed, (absent, row) →
    added, (NULL, text)/(text, NULL) → changed. Presence comes from the
    join side, never from fingerprint NULLs."""
    import duckdb

    from duckdb_vss_spark.pipeline.corpus import corpus_diff

    old_rows = [(1, None), (2, "same"), (3, None), (4, "gone"),
                (6, None), (8, "was")]
    new_rows = [(1, None), (2, "same"), (3, "now text"), (5, "fresh"),
                (7, None), (8, None)]
    old = spark.createDataFrame(old_rows, "id long, text string")
    new = spark.createDataFrame(new_rows, "id long, text string")
    got = {
        r["id"]: r["status"]
        for r in corpus_diff(old, new, "id", "text").collect()
    }
    assert got == {
        3: "changed",   # NULL -> text
        4: "removed",   # present old only
        5: "added",     # present new only
        6: "removed",   # present old only, text NULL
        7: "added",     # present new only, text NULL
        8: "changed",   # text -> NULL
    }

    # cross-engine: the declared oracle's presence-based SQL shape on
    # identical rows must label every id the same way
    con = duckdb.connect()
    con.execute("CREATE TABLE o(id BIGINT, text VARCHAR)")
    con.execute("CREATE TABLE n(id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO o VALUES (?, ?)", old_rows)
    con.executemany("INSERT INTO n VALUES (?, ?)", new_rows)
    oracle = con.execute(
        r"""
        WITH old AS (
          SELECT id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fo
          FROM o
        ),
        new AS (
          SELECT id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fn
          FROM n
        )
        SELECT COALESCE(old.id, new.id) AS id,
               CASE WHEN old.id IS NULL THEN 'added'
                    WHEN new.id IS NULL THEN 'removed'
                    WHEN fo IS DISTINCT FROM fn THEN 'changed' END AS status
        FROM old FULL OUTER JOIN new ON old.id = new.id
        WHERE (old.id IS NULL) OR (new.id IS NULL)
           OR (fo IS DISTINCT FROM fn)
        """
    ).fetchall()
    con.close()
    assert dict(oracle) == got


def test_minhash_match_store_broadcasts_small_new_side(spark, docs):
    """VERDICT r7/r8/r9: the docstring's 'new-side bucket rows
    broadcast' must be a plan fact, not an AQE hope — with a small
    parquet-backed new store the candidate join must be a
    BroadcastHashJoin (no full shuffle of the reference store)."""
    import tempfile

    from duckdb_vss_spark.pipeline.dedup import minhash_match_store, minhash_store

    with tempfile.TemporaryDirectory() as d:
        store = minhash_store(docs, "text", "doc_id")
        store.where(F.col("id") % 10 == 0).write.parquet(d + "/new")
        store.where(F.col("id") % 10 != 0).write.parquet(d + "/ref")
        new = spark.read.parquet(d + "/new")
        ref = spark.read.parquet(d + "/ref")
        out = minhash_match_store(new, ref, threshold=0.5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_embedding_neardup_pairs_quadratic_guard(spark):
    from duckdb_vss_spark.pipeline.dedup import embedding_neardup_pairs

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="O\\(n"):
        embedding_neardup_pairs(df, "embedding", "vec_id", max_rows=10)
    # under the cap (and with the explicit waiver) it runs
    assert embedding_neardup_pairs(df, "embedding", "vec_id", threshold=0.99).count() >= 0
    assert (
        embedding_neardup_pairs(df, "embedding", "vec_id", threshold=0.99, max_rows=None)
        .count() >= 0
    )


def test_embedding_neardup_pairs_kernel_differential(spark):
    """r17: the gated broadcast Arrow kernel must be BIT-identical to
    the crossjoin Column path — every (id_a, id_b) pair AND every
    float64 cos_sim bit pattern — on the shapes that stress the replay:
    duplicate vectors (sim exactly 1.0), zero vectors (the -1.0
    denominator pin), near-threshold values, and a seeded random
    corpus. The waiver (max_rows=None) and a zeroed byte gate must keep
    the crossjoin plan (no MapInPandas / no broadcast collect)."""
    import struct

    import numpy as np

    from duckdb_vss_spark.pipeline.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, 16)).astype(np.float32)
    vecs[7] = vecs[3]              # exact duplicate
    vecs[11] = 0.0                 # zero vector -> -1.0 sim everywhere
    vecs[13] = vecs[5] * 1.0001    # near-duplicate
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(60)]
    rows.append((60, None))        # NULL vector never pairs
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def keyed(out):
        return {
            (r["id_a"], r["id_b"]): struct.pack("<d", r["cos_sim"])
            for r in out.collect()
        }

    fast = embedding_neardup_pairs(df, "embedding", "vec_id", threshold=0.3)
    slow = embedding_neardup_pairs(
        df, "embedding", "vec_id", threshold=0.3, max_rows=None
    )
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in fast_plan
    assert "MapInPandas" not in slow_plan
    got_f, got_s = keyed(fast), keyed(slow)
    assert got_f == got_s and len(got_f) > 0
    # gate off -> crossjoin plan even under the row cap
    spark.conf.set("spark.vss.neardup_broadcast_max_bytes", "0")
    try:
        gated = embedding_neardup_pairs(df, "embedding", "vec_id", threshold=0.3)
        assert "MapInPandas" not in gated._jdf.queryExecution().executedPlan().toString()
        assert keyed(gated) == got_f
    finally:
        spark.conf.unset("spark.vss.neardup_broadcast_max_bytes")


def test_normalize_text_casefold_mode(spark):
    """VERDICT r11 #7: lowercase=True is simple F.lower (oracle-exact vs
    DuckDB lower()); casefold=True opts into full Unicode folding inside
    the Arrow batch (ß→ss, final sigma, length-changing folds)."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.pipeline.text import normalize_text

    df = spark.createDataFrame(
        [(1, "STRA\u00dfE"), (2, "\u03a3\u0391\u03a3  Cafe\u0301"), (3, None)],
        "id long, t string",
    )
    out = df.select(
        "id",
        normalize_text("t").alias("lo"),
        normalize_text("t", casefold=True).alias("cf"),
    ).orderBy("id").collect()
    # simple lowercase: ß survives (DuckDB lower() semantics)
    assert out[0]["lo"] == "straße"
    # full casefold: ß→ss
    assert out[0]["cf"] == "strasse"
    # final-position sigma folds to σ under casefold; lower() gives ς
    assert out[1]["lo"].startswith("σας")
    assert out[1]["cf"].startswith("σασ")
    # NFC composes e + U+0301 into the single codepoint é in both modes
    # (and the double space collapses)
    assert out[1]["lo"].endswith(" café") and len(out[1]["lo"].split()) == 2
    assert out[1]["cf"].endswith(" café")
    assert out[2]["lo"] is None and out[2]["cf"] is None


def test_review_r15_dedup_sample_guards(spark):
    """Review r15 guard battery: LSH band validation, NULL-id/NULL-text
    tolerance in the Arrow shingle/simhash kernels, n=1 empty-shingle
    parity, NULL-embedding tolerance in embedding LSH, NULL-id hash
    sampling parity, and public exports."""
    import pytest as _pytest

    from duckdb_vss_spark.pipeline import (
        dedup_keep,  # noqa: F401 — export exists (review r15)
        weighted_sample,  # noqa: F401
    )
    from duckdb_vss_spark.pipeline.dedup import (
        doc_shingles,
        embedding_neardup_lsh,
        jaccard_pairs,
        minhash_lsh_pairs,
        simhash,
    )
    from duckdb_vss_spark.pipeline.sample import hash_sample

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (None, "alpha beta gamma delta"),  # NULL id: skipped, not a crash
            (3, None),
            (4, "a  b"),  # double space: no '' shingle at n=1
        ],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="bands must divide"):
        minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=8, bands=16)
    with _pytest.raises(ValueError, match="bands must divide"):
        minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=8, bands=3)
    base = doc_shingles(docs, "text", "doc_id", n=1).collect()
    by_id = {r["id"]: r["sz"] for r in base}
    assert None not in by_id and 3 not in by_id
    assert by_id[4] == 2  # {'a','b'}, no '' shingle
    assert jaccard_pairs(docs, "text", "doc_id", n=1).count() == 0
    assert simhash(docs, "text", "doc_id").count() == 2  # ids 1 and 4
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, None)],
        "vec_id long, vec array<float>",
    )
    pairs = embedding_neardup_lsh(
        emb, "vec", "vec_id", threshold=0.9, num_planes=8, bands=4
    ).collect()  # pre-fix: np.stack crashed on the NULL row
    assert {(r["id_a"], r["id_b"]) for r in pairs} <= {(1, 2)}
    # NULL ids hash to NULL and drop from every hash-gated sample,
    # matching the SQL oracle's NULL propagation
    ids = spark.createDataFrame([(1,), (None,), (2,)], "doc_id long")
    kept = hash_sample(ids, "doc_id", 1.0).collect()
    assert all(r["doc_id"] is not None for r in kept) and len(kept) == 2
