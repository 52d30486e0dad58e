"""Multimodal binary-column plumbing: schema, batch shape, determinism;
image dHash and audio fingerprints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ubdc_airbnb_spark.multimodal import binary_ops
from ubdc_airbnb_spark.multimodal.binary_ops import image_dhash, synthetic_png_media
from ubdc_airbnb_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_attach_binary_schema_and_meta(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    media = binary_ops.attach_binary(docs, "doc_id", "text", media_type="text/plain")
    assert [f.name for f in media.schema.fields] == ["media_id", "media_type", "content", "meta"]
    r = media.filter(F.col("media_id") == 0).collect()[0]
    assert r.media_type == "text/plain"
    assert r.meta.n_bytes == len(bytes(r.content))
    assert len(r.meta.content_digest) == 32


def test_decode_fake_deterministic_features(spark):
    docs = load_table(spark, SF, "documents").limit(30)
    media = binary_ops.attach_binary(docs, "doc_id", "text")
    feats1 = {r.media_id: r.feature for r in binary_ops.decode_fake(media).collect()}
    feats2 = {r.media_id: r.feature for r in binary_ops.decode_fake(media).collect()}
    assert feats1 == feats2
    assert all(len(v) == 8 for v in feats1.values())
    # oracle: python replay of the byte fold for one row
    text = docs.filter(F.col("doc_id") == 0).collect()[0].text
    expected, w, h = binary_ops._extract_features(text.encode())
    assert feats1[0] == expected


def test_png_roundtrip_every_filter_and_channel():
    """Encoder applies the requested filter per scanline; decoder must
    undo all five to round-trip. Pixel pattern has sharp gradients in
    both axes so each filter's prediction is non-trivial."""
    from ubdc_airbnb_spark.multimodal.png import decode_png, encode_png

    for channels in (1, 2, 3, 4):
        for base_filter in range(5):
            w, h = 7, 6
            px = bytes((x * 37 + 11 * (x // (w * channels)) + 5) % 256 for x in range(w * h * channels))
            data = encode_png(px, w, h, channels, lambda y: (base_filter + y) % 5)
            assert decode_png(data) == (w, h, channels, px)


def test_png_rejects_corruption_and_unsupported():
    import struct
    import zlib

    import pytest as _pytest

    from ubdc_airbnb_spark.multimodal.png import PNG_SIGNATURE, _chunk, decode_png, encode_png

    good = encode_png(bytes(range(12)), 4, 3, 1)
    # flip one IDAT byte -> CRC mismatch must raise, never wrong pixels
    idat_at = good.index(b"IDAT") + 4
    bad = bytearray(good)
    bad[idat_at] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF" + good)
    # 16-bit depth and palette color are out of profile: fail closed
    for depth, color in ((16, 0), (8, 3)):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, 0)
        blob = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 20))
            + _chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError, match="unsupported"):
            decode_png(blob)


def test_decode_png_stats_stage_matches_python_oracle(spark):
    """The distributed decode stage on generated fixtures == a driver-side
    replay of formula -> encode -> decode -> stats."""
    from ubdc_airbnb_spark.multimodal.binary_ops import decode_png_stats, synthetic_png_media
    from ubdc_airbnb_spark.multimodal.png import decode_png, encode_png

    ids = spark.range(0, 40).selectExpr("id as doc_id")
    got = {
        r.media_id: (r.width, r.height, r.channels, r.n_px, r.px_sum, r.px_wsum, r.px_min, r.px_max)
        for r in decode_png_stats(synthetic_png_media(ids)).collect()
    }
    assert len(got) == 40
    for did in range(40):
        w, h = 4 + did % 9, 3 + did % 7
        c = (1, 3, 4)[did % 3]
        px = bytes((did * 31 + i * 7) % 256 for i in range(w * h * c))
        rw, rh, rc, rpx = decode_png(encode_png(px, w, h, c, lambda y: (did + y) % 5))
        assert (rw, rh, rc, rpx) == (w, h, c, px)
        vals = list(px)
        assert got[did] == (
            w, h, c, len(vals),
            sum(vals),
            sum((i + 1) * v for i, v in enumerate(vals)),
            min(vals),
            max(vals),
        )


def test_frame_sample_slices_and_digests(spark):
    import hashlib

    docs = load_table(spark, SF, "documents").limit(20)
    media = binary_ops.attach_binary(docs, "doc_id", "text")
    rows = binary_ops.frame_sample(media, frame_bytes=64, every=2).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    seen: dict[int, list] = {}
    for r in rows:
        seen.setdefault(r.media_id, []).append(r)
    for mid, text in texts.items():
        b = text.encode()
        n_frames = -(-len(b) // 64)
        expected_idx = list(range(0, n_frames, 2))
        got = sorted(seen[mid], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == expected_idx
        for r in got:
            fr = b[r.frame_idx * 64 : (r.frame_idx + 1) * 64]
            assert r.n_frame_bytes == len(fr)
            assert r.frame_digest == hashlib.md5(fr).hexdigest()


def test_resize_pool_matches_numpy_oracle(spark):
    """Explicit-bytes oracle: pool a known 9-byte 'image' (w=3,h=3) and a
    padded 5-byte one; non-ASCII bytes exercise the binary path the SQL
    replay (ASCII corpus) can't."""
    import math

    import numpy as np

    from ubdc_airbnb_spark.multimodal.binary_ops import resize_pool

    payloads = {1: bytes(range(9)), 2: bytes([250, 251, 252, 253, 254]), 3: b""}
    media = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()], "media_id long, content binary"
    )
    got = {
        (r.media_id, r.cell_r, r.cell_c): r.mean_px
        for r in resize_pool(media, k=2).collect()
    }

    want = {}
    for mid, b in payloads.items():
        n = len(b)
        if n == 0:
            continue  # empty media contributes nothing
        w = math.isqrt(n - 1) + 1
        h = -(-n // w)
        px = np.zeros(w * h, dtype=np.int64)
        px[:n] = np.frombuffer(b, dtype=np.uint8)
        grid = px.reshape(h, w)
        for cr in range(2):
            rows = [r for r in range(h) if (r * 2) // h == cr]
            for cc in range(2):
                cols = [c for c in range(w) if (c * 2) // w == cc]
                if rows and cols:
                    cell = grid[np.ix_(rows, cols)]
                    want[(mid, cr, cc)] = int(cell.sum()) // cell.size
    assert got == want
    assert all(k[0] != 3 for k in got)  # empty media absent


def test_wav_roundtrip_and_rejection():
    import struct

    import pytest as _pytest

    from ubdc_airbnb_spark.multimodal.wav import decode_wav, encode_wav

    for bits, ch, rate in ((8, 1, 8000), (8, 2, 11000), (16, 1, 16000), (16, 2, 44100)):
        n = 30 * ch
        samples = (
            [(i * 7) % 256 for i in range(n)]
            if bits == 8
            else [((i * 7919) % 4001) - 2000 for i in range(n)]
        )
        got = decode_wav(encode_wav(samples, rate, ch, bits))
        assert got == (rate, ch, bits, samples)
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS" + b"\x00" * 40)
    # float PCM (tag 3) is out of profile: fail closed
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    blob = (
        b"RIFF" + struct.pack("<I", 28 + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with _pytest.raises(ValueError, match="format tag"):
        decode_wav(blob)


def test_decode_wav_stats_stage_matches_python_oracle(spark):
    from ubdc_airbnb_spark.multimodal.binary_ops import decode_wav_stats, synthetic_wav_media

    ids = spark.range(0, 30).selectExpr("id as doc_id")
    got = {
        r.media_id: (r.sample_rate, r.channels, r.bits, r.n_samples, r.s_sum, r.s_wsum, r.s_min, r.s_max)
        for r in decode_wav_stats(synthetic_wav_media(ids)).collect()
    }
    for did in range(30):
        rate, ch = 8000 + 1000 * (did % 5), 1 + did % 2
        bits = 8 if did % 3 == 0 else 16
        n = (20 + did % 16) * ch
        s = (
            [(did * 17 + i * 13) % 256 for i in range(n)]
            if bits == 8
            else [((did * 17 + i * 13) % 4001) - 2000 for i in range(n)]
        )
        assert got[did] == (
            rate, ch, bits, n, sum(s),
            sum((i + 1) * v for i, v in enumerate(s)),
            min(s), max(s),
        )


def test_fused_png_stats_matches_two_stage(spark):
    """r11 fusion parity: synthetic_png_stats(ids) row set is identical
    to decode_png_stats(synthetic_png_media(ids)) — the fused fixture
    stage must never drift from the composition it replaces."""
    from ubdc_airbnb_spark.multimodal.binary_ops import (
        decode_png_stats,
        synthetic_png_media,
        synthetic_png_stats,
    )

    ids = spark.range(0, 63).selectExpr("id as doc_id")
    fused = {tuple(r) for r in synthetic_png_stats(ids).collect()}
    staged = {tuple(r) for r in decode_png_stats(synthetic_png_media(ids)).collect()}
    assert fused == staged
    assert len(fused) == 63


def test_fused_png_dhash_matches_two_stage(spark):
    """r11 fusion parity for the dHash kernel."""
    from ubdc_airbnb_spark.multimodal.binary_ops import (
        image_dhash,
        synthetic_png_dhash,
        synthetic_png_media,
    )

    ids = spark.range(0, 63).selectExpr("id as doc_id")
    fused = {tuple(r) for r in synthetic_png_dhash(ids).collect()}
    staged = {tuple(r) for r in image_dhash(synthetic_png_media(ids)).collect()}
    assert fused == staged
    assert len(fused) == 63


def test_ids_spread_leaves_thin_input_alone_and_spreads_fat(spark):
    """_ids_spread: known-small input keeps its partitioning (no extra
    tasks at toy scale); unknown-cardinality input assumes fat and
    spreads to the session parallelism."""
    from ubdc_airbnb_spark.multimodal.binary_ops import _ids_spread

    thin = spark.range(0, 100).selectExpr("id as doc_id")  # LocalRelation-backed range: stats known
    # range() reports exact rowCount via optimizer stats
    out = _ids_spread(thin)
    assert out.rdd.getNumPartitions() <= max(
        thin.rdd.getNumPartitions(), spark.sparkContext.defaultParallelism
    )
    # a fat single partition (row estimate above the threshold) spreads
    fat = spark.range(0, 40_000).coalesce(1).selectExpr("id as doc_id")
    spread = _ids_spread(fat)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_image_dhash_equal_ids_mod_formula_collide(spark):
    # the PNG fixture is a pure formula of the id, and the formula's
    # geometry/channel/pixel cycle repeats with period lcm(9,7,3,256*...):
    # identical payload bytes MUST give identical hashes; distinct
    # geometries essentially never collide on all 64 bits
    ids = spark.createDataFrame([(1,), (2,), (3,), (1,)], "doc_id long")
    media = synthetic_png_media(ids)
    got = {(r.media_id, r.dhash_hi, r.dhash_lo) for r in image_dhash(media).collect()}
    by_id = {}
    for mid, hi, lo in got:
        by_id.setdefault(mid, set()).add((hi, lo))
    assert all(len(v) == 1 for v in by_id.values())  # deterministic per id
    assert by_id[1] != by_id[2]  # different images -> different hashes
    hi, lo = next(iter(by_id[1]))
    assert 0 <= hi < 2**32 and 0 <= lo < 2**32  # packed as 32-bit halves


def test_image_dhash_is_an_equi_join_dedup_key(spark):
    ids = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    hashes = image_dhash(synthetic_png_media(ids))
    groups = hashes.groupBy("dhash_hi", "dhash_lo").agg(F.count("*").alias("n"))
    # grouping by the hash partitions the corpus: group sizes sum to 30
    assert sum(r.n for r in groups.collect()) == 30


def test_audio_fingerprint_deterministic_and_discriminative(spark):
    from ubdc_airbnb_spark.multimodal.binary_ops import (
        audio_fingerprint,
        synthetic_wav_media,
    )

    ids = spark.createDataFrame([(1,), (2,), (1,)], "doc_id long")
    got = audio_fingerprint(synthetic_wav_media(ids), frame=8).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.media_id, set()).add((r.n_frames, r.fingerprint))
    assert all(len(v) == 1 for v in by_id.values())  # same clip -> same fp
    assert all(r.n_frames >= 3 for r in got)  # fixtures have >= 20 samples
    assert all(r.fingerprint >= 0 for r in got)
