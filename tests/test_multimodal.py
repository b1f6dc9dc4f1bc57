"""Multimodal plumbing: binary columns + Arrow-batched feature extraction.
PPM images, WAV audio, Y4M video, and (since r07) PNG decode for REAL
(pure-Python parsers, pinned here against references and corrupt payloads);
JPEG still refuses honestly. Plus the real Spark machinery: schema,
mapInPandas batch shape, determinism, metadata ops staying JVM-side."""

import pytest

from cassandra_data_migrator_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    attach_metadata,
    decode_image,
    extract_features,
    filter_by_mime,
    sample_frames,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (i, "image/png" if i % 2 == 0 else "audio/wav", bytes([i % 256] * (100 + i)), 10, 10, None)
        for i in range(50)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_is_stubbed():
    # formats without a pure-Python decoder (GIF/WebP) refuse via the
    # dispatch; a PARTIAL PNG signature is not a PNG either; a corrupt
    # JPEG now reaches the real decoder and fails ITS validation
    with pytest.raises(NotImplementedError):
        decode_image(b"GIF89a......")
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0JFIF")


def test_metadata_stays_jvm_side(media_df):
    out = attach_metadata(media_df)
    sizes = {r.media_id: r.n_bytes for r in out.select("media_id", "n_bytes").collect()}
    assert sizes[0] == 100 and sizes[49] == 149


def test_mime_filter(media_df):
    assert filter_by_mime(media_df, ["image/png"]).count() == 25


def test_feature_extraction_batch_shape(media_df):
    feats = extract_features(media_df, dim=8, use_fake=True)
    rows = feats.collect()
    assert len(rows) == 50
    assert feats.schema.fieldNames() == ["media_id", "mime", "feat_dim", "feat_norm"]
    assert all(r.feat_dim == 8 and len(r.feat_norm) == 32 for r in rows)


def test_feature_extraction_deterministic(media_df):
    a = {r.media_id: r.feat_norm for r in extract_features(media_df, use_fake=True).collect()}
    b = {r.media_id: r.feat_norm for r in extract_features(media_df, use_fake=True).collect()}
    assert a == b


def test_frame_sampling(media_df):
    assert sample_frames(media_df, 10).count() == 5


# --- real PPM decode (round-5 verdict #5: stub retired for one format) ---


def _ppm(w, h, pixels, maxval=255, header_extra=""):
    head = f"P6{header_extra}\n{w} {h}\n{maxval}\n".encode()
    return head + bytes(pixels)


def test_decode_ppm_known_image():
    from cassandra_data_migrator_spark.operators.multimodal import decode_ppm

    # 2x1 image: red pixel (255,0,0), mid-grey (7,8,9)
    payload = _ppm(2, 1, [255, 0, 0, 7, 8, 9])
    w, h, mx, px = decode_ppm(payload)
    assert (w, h, mx) == (2, 1, 255)
    assert list(px) == [255, 0, 0, 7, 8, 9]


def test_decode_ppm_comments_and_whitespace():
    from cassandra_data_migrator_spark.operators.multimodal import decode_ppm

    payload = b"P6 # a comment\n# full line comment\n 2\t1 \n255\n" + bytes(6)
    w, h, mx, px = decode_ppm(payload)
    assert (w, h, mx) == (2, 1, 255) and px == bytes(6)


def test_decode_ppm_rejects_malformed():
    from cassandra_data_migrator_spark.operators.multimodal import decode_ppm

    good = _ppm(2, 1, [0] * 6)
    for bad in (
        b"",                       # empty
        b"P5\n2 1\n255\n" + bytes(2),   # wrong magic (greyscale PGM)
        good[:-1],                 # truncated pixel section
        good + b"\x00",            # padded pixel section
        b"P6\n2 x\n255\n" + bytes(6),   # non-numeric field
        _ppm(2, 1, [0] * 6, maxval=65535),  # 2-byte samples unsupported
        b"P6\n0 1\n255\n",         # zero width
        b"P6\n2 1\n255",           # header ends before separator
    ):
        with pytest.raises(ValueError):
            decode_ppm(bad)
    # dispatch: PPM goes to the real decoder, PNG still raises
    from cassandra_data_migrator_spark.operators.multimodal import decode_image

    assert decode_image(good)[0] == 2
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")  # partial signature is not a PNG


def test_ppm_stats_kernel_matches_reference(spark):
    """The Arrow kernel must agree byte-for-byte with
    decode_ppm (the module-level reference) on every payload, including
    ones with comments and single-digit dims."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_ppm,
        ppm_stats,
    )

    payloads = [
        _ppm(2, 1, [255, 0, 0, 7, 8, 9]),
        _ppm(1, 1, [1, 2, 3]),
        _ppm(3, 2, list(range(18))),
        b"P6\n# c\n2 2\n255\n" + bytes(range(12)),
    ]
    rows = [(i, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    got = {r.media_id: r for r in ppm_stats(df).collect()}
    assert len(got) == len(payloads)
    for i, p in enumerate(payloads):
        w, h, mx, px = decode_ppm(p)
        r = got[i]
        assert (r.width, r.height, r.maxval, r.n_pix) == (w, h, mx, w * h)
        assert (r.r_sum, r.g_sum, r.b_sum) == (
            sum(px[0::3]), sum(px[1::3]), sum(px[2::3]),
        )


def test_ppm_stats_kernel_fails_loudly_on_corrupt_payload(spark):
    """A corrupt payload must abort the job, never emit garbage stats."""
    from cassandra_data_migrator_spark.operators.multimodal import ppm_stats

    df = spark.createDataFrame(
        [(0, _ppm(1, 1, [1, 2, 3])[:-1])], "media_id LONG, payload BINARY"
    )
    with pytest.raises(Exception):
        ppm_stats(df).collect()


# --- real WAV decode (the audio sibling of decode_ppm) ---


def _wav(samples, rate=8000, bits=8, channels=1, extra_chunk=None):
    if bits == 8:
        data = bytes(samples)
    else:
        data = b"".join(
            int(s).to_bytes(2, "little", signed=True) for s in samples
        )
    fmt = (
        (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * channels * bits // 8).to_bytes(4, "little")
        + (channels * bits // 8).to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    if extra_chunk is not None:
        chunks += extra_chunk
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_decode_wav_known_clip():
    from cassandra_data_migrator_spark.operators.multimodal import decode_wav

    ch, rate, bits, data = decode_wav(_wav([0, 127, 255, 64]))
    assert (ch, rate, bits) == (1, 8000, 8)
    assert list(data) == [0, 127, 255, 64]
    # 16-bit signed, unknown chunk skipped (odd size → RIFF pad honored)
    junk = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    ch, rate, bits, data = decode_wav(
        _wav([-32768, 32767, -1], bits=16, extra_chunk=junk)
    )
    assert bits == 16 and len(data) == 6
    import struct

    assert list(struct.unpack("<3h", data)) == [-32768, 32767, -1]


def test_decode_wav_rejects_malformed():
    import pytest as _pytest

    from cassandra_data_migrator_spark.operators.multimodal import decode_wav

    good = _wav([1, 2, 3, 4])
    for bad in (
        b"",
        b"RIFX" + good[4:],                     # wrong magic
        good[:-1],                              # truncated data chunk
        good + b"\x00",                         # RIFF size now inconsistent
        good.replace(b"WAVE", b"AVI "),         # not WAVE
        good.replace(b"fmt ", b"fmtX"),         # fmt chunk missing
        _wav([1, 2, 3], bits=16)[:-1],          # partial 16-bit frame
    ):
        with _pytest.raises(ValueError):
            decode_wav(bad)
    # non-PCM format code
    nonpcm = bytearray(good)
    off = good.index(b"fmt ") + 8
    nonpcm[off:off + 2] = (3).to_bytes(2, "little")  # IEEE float
    with _pytest.raises(ValueError, match="PCM only"):
        decode_wav(bytes(nonpcm))


def test_wav_stats_kernel_matches_reference(spark):
    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_wav,
        wav_stats,
    )

    payloads = [
        _wav([0, 127, 255, 64]),
        _wav([-5, 5, 0], bits=16),
        _wav(list(range(200))[:100]),
        _wav([9], extra_chunk=b"LIST" + (3).to_bytes(4, "little") + b"abc\x00"),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id LONG, payload BINARY"
    )
    got = {r.media_id: r for r in wav_stats(df).collect()}
    import struct

    for i, p in enumerate(payloads):
        ch, rate, bits, data = decode_wav(p)
        samples = (
            list(data)
            if bits == 8
            else list(struct.unpack(f"<{len(data)//2}h", data))
        )
        r = got[i]
        assert (r.n_channels, r.sample_rate, r.bits) == (ch, rate, bits)
        assert (r.n_samples, r.s_sum, r.s_min, r.s_max) == (
            len(samples), sum(samples), min(samples), max(samples),
        )


def test_decode_wav_rejects_trailing_bytes_and_plus_headers():
    """Round-6 review fixes: stray bytes after the last RIFF chunk (a
    truncated chunk header the old loop silently ignored) must raise, and
    PPM header fields must be strict ASCII digits (int() accepts '+2')."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_ppm,
        decode_wav,
    )

    good = _wav([1, 2, 3, 4])
    stray = good + b"\x00\x01\x02"
    # keep the declared RIFF size consistent so ONLY the tail check fires
    stray = (
        stray[:4]
        + (len(stray) - 8).to_bytes(4, "little")
        + stray[8:]
    )
    with pytest.raises(ValueError, match="trailing byte"):
        decode_wav(stray)
    for bad in (b"P6\n+2 1\n255\n" + bytes(6), b"P6\n2 1\n2_55\n" + bytes(6)):
        with pytest.raises(ValueError, match="malformed PPM header field"):
            decode_ppm(bad)


def test_lloyd_kmeans_rejects_non_finite_components(spark):
    """The DECIMAL centroid cast nulls NaN/Inf (non-ANSI), which would
    silently skew the mean — the trainer must fail loudly instead."""
    from cassandra_data_migrator_spark.operators.cluster import lloyd_kmeans

    rows = [(0, [1.0, 2.0]), (1, [float("nan"), 3.0]), (2, [4.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="non-finite"):
        lloyd_kmeans(df, "embedding", "vec_id", k=2, iters=1)


def test_incremental_dedup_argument_validation(spark):
    from cassandra_data_migrator_spark.operators.dedup import (
        incremental_jaccard_pairs,
    )

    d = spark.createDataFrame([(1, "a b c d")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="either corpus"):
        incremental_jaccard_pairs(d, None)
    with pytest.raises(ValueError, match="both standing artifacts"):
        incremental_jaccard_pairs(d, d, corpus_sizes=d)


def _y4m(frames, w=2, h=2, header_extra=" F25:1 Ip A1:1", cspace=" Cmono",
         frame_params=""):
    head = f"YUV4MPEG2 W{w} H{h}{header_extra}{cspace}\n".encode()
    body = b"".join(
        b"FRAME" + frame_params.encode() + b"\n" + bytes(f) for f in frames
    )
    return head + body


def test_decode_y4m_known_clip():
    from cassandra_data_migrator_spark.operators.multimodal import decode_y4m

    f0, f1 = [0, 127, 255, 64], [1, 2, 3, 4]
    w, h, n, planes = decode_y4m(_y4m([f0, f1]))
    assert (w, h, n) == (2, 2, 2)
    assert list(planes) == f0 + f1
    # FRAME parameters after the marker are legal and skipped
    w, h, n, planes = decode_y4m(_y4m([f0], frame_params=" Xmeta=1"))
    assert (n, list(planes)) == (1, f0)
    # unknown stream-header params tolerated, order-independent
    w, h, n, _ = decode_y4m(_y4m([f0], header_extra=" Xsome=thing F30:1"))
    assert (w, h, n) == (2, 2, 1)


def test_decode_y4m_rejects_malformed():
    from cassandra_data_migrator_spark.operators.multimodal import decode_y4m

    good = _y4m([[1, 2, 3, 4]])
    for bad, msg in (
        (b"", "not a YUV4MPEG2"),
        (b"YUV4MPEG1" + good[9:], "not a YUV4MPEG2"),
        (good.replace(b" W2", b""), "missing W or H"),
        (good.replace(b" H2", b""), "missing W or H"),
        (good.replace(b" W2", b" W+2"), "malformed Y4M width"),
        (good.replace(b" Cmono", b""), "unsupported Y4M colorspace"),
        (good.replace(b" Cmono", b" C420"), "unsupported Y4M colorspace"),
        (good[:-1], "truncated"),
        (good + b"\x00", "malformed FRAME marker"),
        (good.replace(b"FRAME\n", b"FRAMX\n"), "malformed FRAME marker"),
        (good.replace(b"FRAME\n", b"FRAMES\n"), "malformed FRAME marker"),
        (_y4m([]), "no frames"),
        (b"YUV4MPEG2 W2 H2 Cmono", "unterminated stream header"),
        # bare 'FRAME' at EOF hits the marker check (no separator byte);
        # 'FRAME ' with params but no newline hits the unterminated branch
        (b"YUV4MPEG2 W2 H2 Cmono\nFRAME", "malformed FRAME marker"),
        (b"YUV4MPEG2 W2 H2 Cmono\nFRAME Xt=0", "unterminated FRAME header"),
    ):
        with pytest.raises(ValueError, match=msg):
            decode_y4m(bad)


def test_y4m_stats_kernel_matches_reference(spark):
    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_y4m,
        y4m_stats,
    )

    payloads = [
        _y4m([[0, 127, 255, 64], [1, 2, 3, 4], [9, 9, 9, 9]]),
        _y4m([[5]], w=1, h=1),
        _y4m([list(range(16)), list(range(16, 32))], w=4, h=4,
             frame_params=" Xt=0"),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id LONG, payload BINARY"
    )
    got = {r.media_id: r for r in y4m_stats(df, sample_every=2).collect()}
    for i, p in enumerate(payloads):
        w, h, n, planes = decode_y4m(p)
        frames = [planes[j * w * h:(j + 1) * w * h] for j in range(n)]
        sampled = b"".join(frames[::2])
        r = got[i]
        assert (r.width, r.height, r.n_frames) == (w, h, n)
        assert (r.px_sum, r.px_min, r.px_max) == (
            sum(planes), min(planes), max(planes),
        )
        assert (r.samp_frames, r.samp_sum) == (len(frames[::2]), sum(sampled))


def test_y4m_stats_kernel_fails_loudly_on_corrupt_payload(spark):
    from cassandra_data_migrator_spark.operators.multimodal import y4m_stats

    df = spark.createDataFrame(
        [(0, _y4m([[1, 2, 3, 4]])[:-1])], "media_id LONG, payload BINARY"
    )
    with pytest.raises(Exception, match="truncated"):
        y4m_stats(df).collect()
    with pytest.raises(ValueError, match="sample_every"):
        y4m_stats(df, sample_every=0)


def _pool_reference(w, h, pixels, factor):
    """Independent floor-mean box-filter pooling (per channel)."""
    w2, h2 = w // factor, h // factor
    pooled = []
    for orow in range(h2):
        for ocol in range(w2):
            for ch in range(3):
                s = sum(
                    pixels[((orow * factor + dy) * w + ocol * factor + dx) * 3 + ch]
                    for dy in range(factor)
                    for dx in range(factor)
                )
                pooled.append(s // (factor * factor))
    return w2, h2, pooled


def test_ppm_resize_kernel_matches_reference(spark):
    from cassandra_data_migrator_spark.operators.multimodal import ppm_resize_stats

    imgs = [
        (2, [0, 4, 8, 1, 5, 9, 2, 6, 10, 3, 7, 11] * 2),      # 4x? needs w*h*3
        (4, list(range(4 * 4 * 3))),
        (3, [255] * (4 * 3 * 3)),
        (5, [(i * 37) % 256 for i in range(4 * 5 * 3)]),       # odd h -> crop
    ]
    payloads = [(i, _ppm(4, h, px)) for i, (h, px) in enumerate(imgs)]
    df = spark.createDataFrame(payloads, "media_id LONG, payload BINARY")
    got = {r.media_id: r for r in ppm_resize_stats(df, factor=2).collect()}
    for i, (h, px) in enumerate(imgs):
        w2, h2, pooled = _pool_reference(4, h, px, 2)
        r = got[i]
        assert (r.in_w, r.in_h, r.out_w, r.out_h) == (4, h, w2, h2)
        assert (r.r_sum, r.g_sum, r.b_sum) == (
            sum(pooled[0::3]), sum(pooled[1::3]), sum(pooled[2::3]),
        )
        assert (r.px_min, r.px_max) == (min(pooled), max(pooled))


def test_ppm_resize_rejects_small_images_and_bad_factor(spark):
    from cassandra_data_migrator_spark.operators.multimodal import ppm_resize_stats

    df = spark.createDataFrame(
        [(0, _ppm(4, 1, list(range(12))))], "media_id LONG, payload BINARY"
    )
    with pytest.raises(Exception, match="smaller than"):
        ppm_resize_stats(df, factor=2).collect()
    with pytest.raises(ValueError, match="factor"):
        ppm_resize_stats(df, factor=0)


def test_extract_features_real_path_decodes_ppm(spark):
    """The real (use_fake=False) feature path now decodes PPM payloads —
    geometry + channel means — and still honestly refuses compressed
    formats."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    rows = [
        (0, "image/x-portable-pixmap", _ppm(2, 1, [10, 20, 30, 50, 60, 70]),
         2, 1, None),
        (1, "image/x-portable-pixmap", _ppm(1, 1, [255, 0, 128]), 1, 1, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r.feat_norm for r in extract_features(df).collect()}
    assert len(got) == 2 and all(len(v) == 32 for v in got.values())
    # deterministic and equal to the hand-computed feature hash
    import hashlib
    expect0 = hashlib.md5(
        str([round(x, 6) for x in
             [2.0, 1.0, 255.0, 2.0, 30.0, 40.0, 50.0, 0.0]]).encode()
    ).hexdigest()
    assert got[0] == expect0
    # compressed formats still refuse loudly
    png = spark.createDataFrame(
        [(2, "image/png", b"\x89PNG....", 1, 1, None)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="PIL"):
        extract_features(png).collect()


def test_binaryfile_ingest_idempotent_across_runs(spark, sf_dir):
    """Re-running the ingest key must be byte-stable: same files, same
    lengths, same digests (writes are deterministic overwrites)."""
    from cassandra_data_migrator_spark.queries.multimodal_keys import (
        q_binaryfile_ingest,
    )

    a = sorted(map(tuple, q_binaryfile_ingest(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_binaryfile_ingest(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


# --- PNG (round-7: the compressed-codec stub retired, verdict #2) ---


def _png_filter0(width, height, rgb):
    """Independent minimal PNG builder used ONLY by tests: filter-0
    scanlines, one IDAT — shares no code with encode_png, so a matched
    encoder/decoder filter-math bug cannot hide behind the roundtrip."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    stride = width * 3
    raw = b"".join(
        b"\x00" + rgb[r * stride : (r + 1) * stride] for r in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_paeth_predictor_hand_vectors():
    """Spec-defined selection: nearest of left/up/upper-left to
    p = a + b - c, tie order a, b, c (RFC 2083 §6.6)."""
    from cassandra_data_migrator_spark.operators.multimodal import paeth_predictor

    assert paeth_predictor(0, 0, 0) == 0
    assert paeth_predictor(10, 20, 15) == 15   # p=15: pc=0 wins
    assert paeth_predictor(100, 50, 25) == 100  # p=125: pa=25 wins
    assert paeth_predictor(5, 10, 5) == 10      # p=10: pb=0 wins
    assert paeth_predictor(7, 7, 7) == 7        # full tie -> a
    assert paeth_predictor(3, 9, 6) == 6        # p==c exactly -> c
    assert paeth_predictor(5, 5, 9) == 5        # pa==pb==4 tie -> a


def test_png_roundtrip_all_filters():
    """encode_png cycles all five filter types (row % 5); decode must
    reconstruct every one exactly, for heights that cover the cycle."""
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = random.Random(42)
    for w, h in [(1, 1), (1, 7), (4, 5), (6, 10), (3, 13), (16, 16)]:
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        payload = encode_png(w, h, rgb)
        assert decode_png(payload) == (w, h, 8, rgb)


def test_decode_png_independent_filter0_builder():
    """Decode a PNG built by the test-local filter-0 builder (no shared
    code with encode_png): catches a matched encode/decode bug the
    roundtrip test cannot."""
    from cassandra_data_migrator_spark.operators.multimodal import decode_png

    rgb = bytes(range(2 * 3 * 3))
    assert decode_png(_png_filter0(2, 3, rgb)) == (2, 3, 8, rgb)


def test_decode_png_rejects_malformed():
    import struct
    import zlib

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    good = encode_png(4, 6, bytes(range(72)))
    # wrong signature
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\x88PNG\r\n\x1a\n" + good[8:])
    # flipped byte inside a chunk -> CRC mismatch
    bad = bytearray(good)
    bad[30] ^= 1
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    # truncation and trailing garbage
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[:-5])
    with pytest.raises(ValueError, match="trailing"):
        decode_png(good + b"x")
    # unsupported profile: grayscale color type 0
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    gray = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x07"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported PNG profile"):
        decode_png(gray)
    # inflated stream too short for the declared dimensions
    short = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" + bytes(6)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflated"):
        decode_png(short)


def test_decode_image_dispatches_png_and_validates_jpeg():
    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    rgb = bytes(range(12))
    assert decode_image(encode_png(2, 2, rgb)) == (2, 2, 8, rgb)
    with pytest.raises(ValueError):  # real decoder now validates JPEG bytes
        decode_image(b"\xff\xd8\xff\xe0JFIF")


def test_png_kernels_match_reference(spark):
    """The Arrow kernels must agree BYTE-identically with
    encode_png / decode_png, the module-level references — one pin per
    kernel, same discipline as the PPM/WAV kernels."""
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_png,
        encode_png,
        png_encode_rgb,
        png_stats,
    )

    rng = random.Random(7)
    width = 4
    rgbs = [
        bytes(rng.randrange(256) for _ in range(width * 3 * h))
        for h in (1, 5, 10, 3)
    ]
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rgbs)], "media_id LONG, rgb BINARY"
    )
    encoded = {r.media_id: bytes(r.payload) for r in png_encode_rgb(df, width).collect()}
    for i, rgb in enumerate(rgbs):
        assert encoded[i] == encode_png(width, len(rgb) // (width * 3), rgb)

    pdf = spark.createDataFrame(
        sorted(encoded.items()), "media_id LONG, payload BINARY"
    )
    got = {r.media_id: r for r in png_stats(pdf).collect()}
    for i, rgb in enumerate(rgbs):
        w, h, d, px = decode_png(encoded[i])
        r = got[i]
        assert (r.width, r.height, r.depth, r.n_pix) == (w, h, d, w * h)
        assert (r.r_sum, r.g_sum, r.b_sum) == (
            sum(px[0::3]), sum(px[1::3]), sum(px[2::3]),
        )
        assert px == rgb


def test_png_stats_kernel_fails_loudly_on_corrupt_payload(spark):
    """A corrupt PNG must abort the job, never emit garbage stats."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        encode_png,
        png_stats,
    )

    bad = bytearray(encode_png(2, 2, bytes(range(12))))
    bad[30] ^= 1
    df = spark.createDataFrame([(0, bytes(bad))], "media_id LONG, payload BINARY")
    with pytest.raises(Exception, match="CRC"):
        png_stats(df).collect()


def test_decode_png_bounds_decompression_bombs():
    """A 1x1 IHDR with an IDAT that inflates to megabytes must fail in the
    size check without materializing the inflated stream (review r07)."""
    import struct
    import zlib

    from cassandra_data_migrator_spark.operators.multimodal import decode_png

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 64_000_000))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflated"):
        decode_png(bomb)
    # and a truncated deflate stream (right length so far, no terminator)
    full = zlib.compress(b"\x00\x01\x02\x03")
    trunc = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", full[:-2])
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(trunc)


# --- baseline JPEG (r07: real huffman + dequant + IDCT) -------------------


def test_jpeg_flat_roundtrip_exact():
    """Flat 8x8 blocks make the lossy pipeline exact (DC = 8*(v-128)
    quantized by 8 stores v-128 verbatim): every decoded pixel must equal
    its block value bit-for-bit."""
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    rng = random.Random(1)
    for bw, bh in [(1, 1), (4, 2), (3, 5)]:
        blocks = bytes(rng.randrange(256) for _ in range(bw * bh))
        w, h, nc, px = decode_jpeg(encode_jpeg_gray(bw * 8, bh * 8, blocks))
        assert (w, h, nc) == (bw * 8, bh * 8, 1)
        for i, v in enumerate(blocks):
            by, bx = divmod(i, bw)
            for y in range(8):
                row = px[(by * 8 + y) * w + bx * 8 : (by * 8 + y) * w + bx * 8 + 8]
                assert all(b == v for b in row)


def test_jpeg_ac_path_matches_numpy_idct_reference():
    """Encoder-INDEPENDENT check of the AC decode path: a test-local bit
    writer emits hand-chosen quantized coefficients (runs, ZRL, EOB, sign
    extension); the decoder's dequant + zigzag + IDCT output must match a
    NumPy IDCT reference computed from the same coefficients."""
    import math
    import struct

    import numpy as np

    from cassandra_data_migrator_spark.operators.multimodal import (
        JPEG_AC_BITS,
        JPEG_AC_VALS,
        JPEG_DC_BITS,
        JPEG_DC_VALS,
        JPEG_QTABLE,
        JPEG_ZIGZAG,
        _jpeg_huff_encode_map,
        _JpegBitWriter,
        _jpeg_category,
        decode_jpeg,
    )

    # hand-chosen sparse spectra: DC, low-freq ACs, a long run (ZRL), negatives
    cases = [
        {0: 16, 1: 5, 8: -3},
        {0: -24, 2: 7, 35: -2},          # zigzag index 35 needs a 16-zero run
        {0: 0, 63: 1},                    # max-index AC via ZRL chain
    ]
    dc_map = _jpeg_huff_encode_map(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_map = _jpeg_huff_encode_map(JPEG_AC_BITS, JPEG_AC_VALS)
    w = _JpegBitWriter()
    prev_dc = 0
    # natural-order -> zigzag position lookup
    zz_pos = {nat: k for k, nat in enumerate(JPEG_ZIGZAG)}
    for spec in cases:
        zig = [0] * 64
        for nat, val in spec.items():
            zig[zz_pos[nat]] = val
        diff = zig[0] - prev_dc
        prev_dc = zig[0]
        cat = _jpeg_category(diff)
        code, ln = dc_map[cat]
        w.put(code, ln)
        if cat:
            w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        k, run = 1, 0
        last_nz = max((i for i in range(1, 64) if zig[i]), default=0)
        while k <= last_nz:
            if zig[k] == 0:
                run += 1
                k += 1
                continue
            while run > 15:
                code, ln = ac_map[0xF0]  # ZRL
                w.put(code, ln)
                run -= 16
            size = _jpeg_category(zig[k])
            code, ln = ac_map[(run << 4) | size]
            w.put(code, ln)
            v = zig[k]
            w.put(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
            k += 1
        if last_nz < 63:
            code, ln = ac_map[0x00]  # EOB
            w.put(code, ln)
    scan = w.flush()

    def seg(marker, data):
        return struct.pack(">HH", marker, len(data) + 2) + data

    width, height = 8, 8 * len(cases)  # one block per case, stacked
    payload = (
        b"\xff\xd8"
        + seg(0xFFDB, bytes([0]) + bytes(JPEG_QTABLE[JPEG_ZIGZAG[i]] for i in range(64)))
        + seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(JPEG_AC_BITS[1:]) + bytes(JPEG_AC_VALS))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )
    w_, h_, nc, px = decode_jpeg(payload)
    assert (w_, h_, nc) == (width, height, 1)

    # NumPy reference IDCT over the same dequantized coefficients
    qt_nat = [0] * 64
    for k in range(64):
        qt_nat[JPEG_ZIGZAG[k]] = JPEG_QTABLE[JPEG_ZIGZAG[k]]
    c = np.array([1 / math.sqrt(2)] + [1.0] * 7)
    xs = np.arange(8)
    cos_t = np.cos((2 * xs[:, None] + 1) * xs[None, :] * math.pi / 16)
    for bi, spec in enumerate(cases):
        F = np.zeros((8, 8))
        for nat, val in spec.items():
            F[nat // 8, nat % 8] = val * qt_nat[nat]
        ref = np.empty((8, 8))
        for y in range(8):
            for x in range(8):
                ref[y, x] = np.sum(
                    c[:, None] * c[None, :] * F
                    * cos_t[y][:, None] * cos_t[x][None, :]
                ) / 4
        ref = np.clip(np.round(ref) + 128, 0, 255)
        got = np.array(
            [[px[(bi * 8 + y) * 8 + x] for x in range(8)] for y in range(8)]
        )
        assert np.array_equal(got, ref), (bi, got, ref)


def test_decode_jpeg_rejects_malformed():
    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(8, 8, bytes([100]))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x00" + good[2:])
    with pytest.raises(ValueError):
        decode_jpeg(good[:-4])  # truncated before EOI
    with pytest.raises(ValueError, match="trailing"):
        decode_jpeg(good + b"x")
    # SOF2 with a SEQUENTIAL scan header (Ss=0,Se=63) must refuse — real
    # progressive streams decode since r11 (see test_round11_ops)
    bad = bytearray(good)
    sof = bad.find(b"\xff\xc0")
    bad[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="sequential scan header"):
        decode_jpeg(bytes(bad))
    # 2-component SOF0 must refuse (only grayscale or 4:4:4 color decode)
    bad2 = bytearray(good)
    bad2[sof + 9] = 2
    with pytest.raises(ValueError, match="grayscale"):
        decode_jpeg(bytes(bad2))
    # nc=3 claimed but the SOF only carries one component spec: truncated
    bad3 = bytearray(good)
    bad3[sof + 9] = 3
    with pytest.raises(ValueError, match="truncated SOF0"):
        decode_jpeg(bytes(bad3))


def test_decode_jpeg_truncated_segments_raise_valueerror():
    """Truncated SOF0/SOS/DHT payloads must surface as ValueError (the
    quarantine contract), never struct.error/IndexError (advice r07)."""
    import struct

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(8, 8, bytes([100]))

    def reseg(marker_byte, payload_bytes):
        """Rebuild `good` with the segment's payload replaced (length
        field updated), keeping everything else intact."""
        buf = bytearray(good)
        pos = buf.find(bytes([0xFF, marker_byte]))
        (seglen,) = struct.unpack(">H", buf[pos + 2 : pos + 4])
        new = struct.pack(">H", len(payload_bytes) + 2) + payload_bytes
        return bytes(buf[: pos + 2] + new + buf[pos + 2 + seglen :])

    # SOF0 cut to 4 bytes (< BHHB), to 7 (data[7] gone), to 8 (data[8] gone)
    for cut in (4, 7, 8):
        with pytest.raises(ValueError, match="truncated SOF0"):
            decode_jpeg(reseg(0xC0, b"\x08\x00\x08\x00\x08\x01\x01\x11\x00"[:cut]))
    # SOS payload shorter than 3 bytes
    with pytest.raises(ValueError, match="truncated SOS"):
        decode_jpeg(reseg(0xDA, b"\x01\x01"))
    # DHT payload shorter than the 17-byte header
    with pytest.raises(ValueError, match="truncated DHT"):
        decode_jpeg(reseg(0xC4, b"\x00" * 10))


def test_decode_image_dispatches_jpeg():
    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_image,
        encode_jpeg_gray,
    )

    w, h, nc, px = decode_image(encode_jpeg_gray(8, 8, bytes([7])))
    assert (w, h, nc) == (8, 8, 1) and set(px) == {7}


def test_jpeg_color_flat_roundtrip_exact():
    """Flat-block color: integer YCbCr planes survive the full 3-component
    pipeline bit-exactly; RGB equals the documented floor(x+0.5) JFIF
    conversion with clamps (low-side clamps exercised by extreme chroma)."""
    import math
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_color,
    )

    rng = random.Random(11)
    for bw, bh in ((1, 1), (4, 2), (3, 5)):
        blocks = bytes(rng.randrange(32, 127) for _ in range(bw * bh * 3))
        w, h, nc, rgb = decode_jpeg(encode_jpeg_color(bw * 8, bh * 8, blocks))
        assert (w, h, nc) == (bw * 8, bh * 8, 3)
        for bidx in range(bw * bh):
            yv = blocks[bidx * 3]
            cb = blocks[bidx * 3 + 1] - 128
            cr = blocks[bidx * 3 + 2] - 128
            exp = (
                max(0, min(255, math.floor(yv + 1.402 * cr + 0.5))),
                max(0, min(255, math.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5))),
                max(0, min(255, math.floor(yv + 1.772 * cb + 0.5))),
            )
            bx, by = bidx % bw, bidx // bw
            for y in range(8):
                for x in range(8):
                    px = (by * 8 + y) * (bw * 8) + bx * 8 + x
                    assert tuple(rgb[px * 3 : px * 3 + 3]) == exp, (bidx, y, x)


def test_jpeg_color_kernels_match_reference(spark):
    """The Arrow kernels must agree BYTE-identically with
    encode_jpeg_color / decode_jpeg (the PNG/JPEG kernel discipline)."""
    import math
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_color,
        jpeg_color_stats,
        jpeg_encode_color,
    )

    rng = random.Random(13)
    width_blocks = 4
    blocks_list = [
        bytes(rng.randrange(32, 127) for _ in range(width_blocks * 3 * bh))
        for bh in (1, 3, 4, 2)
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blocks_list)], "media_id LONG, blocks BINARY"
    )
    encoded = {
        r.media_id: bytes(r.payload)
        for r in jpeg_encode_color(df, width_blocks).collect()
    }
    for i, blocks in enumerate(blocks_list):
        bh = len(blocks) // (width_blocks * 3)
        assert encoded[i] == encode_jpeg_color(width_blocks * 8, bh * 8, blocks)

    pdf = spark.createDataFrame(
        sorted(encoded.items()), "media_id LONG, payload BINARY"
    )
    got = {r.media_id: r for r in jpeg_color_stats(pdf).collect()}
    for i in encoded:
        w, h, nc, rgb = decode_jpeg(encoded[i])
        r = got[i]
        assert (r.width, r.height, r.n_pix) == (w, h, w * h)
        assert (r.r_sum, r.g_sum, r.b_sum) == (
            sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3]),
        )
        assert r.rgb_min == min(rgb) and r.rgb_max == max(rgb)


def test_jpeg_color_refusals():
    """Sampling factors > 2, SOS/SOF mismatch, and progressive stay loud
    errors (2x2 itself decodes since r09 — see the 4:2:0 tests)."""
    import pytest

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_color,
    )

    good = encode_jpeg_color(8, 8, bytes([100, 90, 110]))
    i = good.index(b"\xff\xc0")
    bad = bytearray(good)
    bad[i + 11] = 0x33  # Y sampling 3x3: beyond the 1-2 decode surface
    with pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg(bytes(bad))
    bad2 = bytearray(good)
    bad2[i + 1] = 0xC2  # progressive SOF2: COLOR progressive still refuses
    with pytest.raises(ValueError, match="single-component"):
        decode_jpeg(bytes(bad2))
    j = good.index(b"\xff\xda")
    bad3 = bytearray(good)
    bad3[j + 5] = 9  # scan names a component SOF0 never declared
    with pytest.raises(ValueError, match="component"):
        decode_jpeg(bytes(bad3))


def test_jpeg_420_flat_roundtrip_exact():
    """Flat-MCU 4:2:0: the subsampled pipeline (four Y blocks + Cb + Cr
    per MCU, per-component DC prediction, replication upsampling) returns
    integer YCbCr planes bit-exactly; every pixel of each 16x16 MCU
    equals the documented floor(x+0.5) JFIF conversion of its planted
    triple. Also pins the 4:2:2 layout (2x1 Y sampling) via a hand-built
    two-block-wide variant."""
    import math
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_color_420,
    )

    def exp_rgb(yv, cb, cr):
        cb, cr = cb - 128, cr - 128
        return (
            max(0, min(255, math.floor(yv + 1.402 * cr + 0.5))),
            max(0, min(255, math.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5))),
            max(0, min(255, math.floor(yv + 1.772 * cb + 0.5))),
        )

    rng = random.Random(17)
    for mw, mh in ((1, 1), (3, 2), (2, 4)):
        mcus = bytes(rng.randrange(1, 255) for _ in range(mw * mh * 3))
        w, h, nc, rgb = decode_jpeg(encode_jpeg_color_420(mw * 16, mh * 16, mcus))
        assert (w, h, nc) == (mw * 16, mh * 16, 3)
        for midx in range(mw * mh):
            exp = exp_rgb(*mcus[midx * 3 : midx * 3 + 3])
            my, mx = midx // mw, midx % mw
            for y in range(16):
                for x in range(16):
                    px = (my * 16 + y) * (mw * 16) + mx * 16 + x
                    assert tuple(rgb[px * 3 : px * 3 + 3]) == exp, (midx, y, x)


def test_jpeg_422_decodes():
    """4:2:2 (Y 2x1, chroma 1x1): hand-assemble the SOF/scan for one MCU
    of two flat Y blocks sharing one flat chroma pair and check the
    decoded 16x8 image against the analytic conversion — covers the
    sampling geometry the 4:2:0 encoder never emits."""
    import math
    import struct

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_color_420,
    )

    base = encode_jpeg_color_420(16, 16, bytes([120, 100, 140]))
    # rebuild: SOF says 16x8 with Y sampling 2x1; scan = 2 Y blocks + Cb + Cr
    from cassandra_data_migrator_spark.operators.multimodal import (
        JPEG_AC_BITS, JPEG_AC_BITS_CHROMA, JPEG_AC_VALS, JPEG_AC_VALS_CHROMA,
        JPEG_DC_BITS, JPEG_DC_BITS_CHROMA, JPEG_DC_VALS, JPEG_DC_VALS_CHROMA,
        JPEG_QTABLE, JPEG_ZIGZAG, _jpeg_category, _JpegBitWriter,
        _jpeg_huff_encode_map,
    )

    maps = [
        (
            _jpeg_huff_encode_map(JPEG_DC_BITS, JPEG_DC_VALS),
            _jpeg_huff_encode_map(JPEG_AC_BITS, JPEG_AC_VALS),
        ),
        (
            _jpeg_huff_encode_map(JPEG_DC_BITS_CHROMA, JPEG_DC_VALS_CHROMA),
            _jpeg_huff_encode_map(JPEG_AC_BITS_CHROMA, JPEG_AC_VALS_CHROMA),
        ),
    ]
    w = _JpegBitWriter()
    yv, cbv, crv = 120, 100, 140
    prev = [0, 0, 0]
    for ci, n_blocks in ((0, 2), (1, 1), (2, 1)):
        dc_map, ac_map = maps[0] if ci == 0 else maps[1]
        dc = (yv, cbv, crv)[ci] - 128
        for _ in range(n_blocks):
            diff = dc - prev[ci]
            prev[ci] = dc
            cat = _jpeg_category(diff)
            code, ln = dc_map[cat]
            w.put(code, ln)
            if cat:
                w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            code, ln = ac_map[0x00]
            w.put(code, ln)
    scan = w.flush()

    def seg(marker, data):
        return struct.pack(">HH", marker, len(data) + 2) + data

    payload = (
        b"\xff\xd8"
        + seg(0xFFDB, bytes([0]) + bytes(JPEG_QTABLE[JPEG_ZIGZAG[i]] for i in range(64)))
        + seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 8, 16, 3)
            + bytes([1, 0x21, 0, 2, 0x11, 0, 3, 0x11, 0]),
        )
        + seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(JPEG_AC_BITS[1:]) + bytes(JPEG_AC_VALS))
        + seg(
            0xFFC4,
            bytes([0x01]) + bytes(JPEG_DC_BITS_CHROMA[1:]) + bytes(JPEG_DC_VALS_CHROMA),
        )
        + seg(
            0xFFC4,
            bytes([0x11]) + bytes(JPEG_AC_BITS_CHROMA[1:]) + bytes(JPEG_AC_VALS_CHROMA),
        )
        + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )
    width, height, nc, rgb = decode_jpeg(payload)
    assert (width, height, nc) == (16, 8, 3)
    cb, cr = cbv - 128, crv - 128
    exp = (
        max(0, min(255, math.floor(yv + 1.402 * cr + 0.5))),
        max(0, min(255, math.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5))),
        max(0, min(255, math.floor(yv + 1.772 * cb + 0.5))),
    )
    assert all(
        tuple(rgb[p * 3 : p * 3 + 3]) == exp for p in range(width * height)
    )
    # and the 4:2:0 base from the same constants still decodes
    assert decode_jpeg(base)[:3] == (16, 16, 3)


def test_jpeg_420_kernels_match_reference(spark):
    """The 4:2:0 Arrow kernels must agree BYTE-identically
    with encode_jpeg_color_420 / decode_jpeg (the PNG/JPEG kernel
    discipline), and jpeg_color_stats must decode the subsampled payloads
    to the same channel stats as the module reference."""
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_color_420,
        jpeg_color_stats,
        jpeg_encode_color_420,
    )

    rng = random.Random(19)
    mcu_width = 2
    mcus_list = [
        bytes(rng.randrange(16, 240) for _ in range(mcu_width * 3 * mh))
        for mh in (1, 2, 3, 2)
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(mcus_list)], "media_id LONG, mcus BINARY"
    )
    encoded = {
        r.media_id: bytes(r.payload)
        for r in jpeg_encode_color_420(df, mcu_width).collect()
    }
    for i, mcus in enumerate(mcus_list):
        mh = len(mcus) // (mcu_width * 3)
        assert encoded[i] == encode_jpeg_color_420(mcu_width * 16, mh * 16, mcus)

    pdf = spark.createDataFrame(
        sorted(encoded.items()), "media_id LONG, payload BINARY"
    )
    got = {r.media_id: r for r in jpeg_color_stats(pdf).collect()}
    for i in encoded:
        w, h, nc, rgb = decode_jpeg(encoded[i])
        r = got[i]
        assert (r.width, r.height, r.n_pix) == (w, h, w * h)
        assert (r.r_sum, r.g_sum, r.b_sum) == (
            sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3]),
        )
        assert r.rgb_min == min(rgb) and r.rgb_max == max(rgb)


def test_exif_roundtrip_both_endiannesses():
    """build_exif_app1 → parse_exif recovers every field under II and MM;
    the APP1-carrying payload stays a decodable JPEG (decode_jpeg skips
    APPn by declared length)."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        build_exif_app1,
        decode_jpeg,
        encode_jpeg_gray,
        parse_exif,
    )

    base = encode_jpeg_gray(8, 8, bytes([100]))
    for be, name in ((False, "II"), (True, "MM")):
        app1 = build_exif_app1(6, 144, "CanonEOS", big_endian=be)
        payload = base[:2] + app1 + base[2:]
        assert parse_exif(payload) == (name, 6, 144.0, "CanonEOS", 3)
        w, h, nc, px = decode_jpeg(payload)
        assert (w, h, nc, px[0]) == (8, 8, 1, 100)


def test_exif_refusals():
    """Malformed TIFF structures fail loudly: bad magic, bad byte-order
    mark, zero-denominator RATIONAL, missing APP1."""
    import pytest

    from cassandra_data_migrator_spark.operators.multimodal import (
        build_exif_app1,
        encode_jpeg_gray,
        parse_exif,
    )

    base = encode_jpeg_gray(8, 8, bytes([100]))
    app1 = build_exif_app1(1, 72, "XYZCO", big_endian=False)

    def mutate(pos, val):
        b = bytearray(app1)
        b[pos] = val
        return base[:2] + bytes(b) + base[2:]

    # APP1 layout: 2B marker + 2B len + 6B 'Exif\0\0' + TIFF
    tiff0 = 4 + 6
    with pytest.raises(ValueError, match="magic"):
        parse_exif(mutate(tiff0 + 2, 99))
    with pytest.raises(ValueError, match="byte-order"):
        parse_exif(mutate(tiff0, ord("X")))
    # zero-denominator RATIONAL: den is the final 4 bytes of the segment
    b = bytearray(app1)
    b[-4:] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="denominator"):
        parse_exif(base[:2] + bytes(b) + base[2:])
    with pytest.raises(ValueError, match="APP1"):
        parse_exif(base)


def test_exif_kernels_match_reference(spark):
    """The Exif Arrow kernels must agree with
    build_exif_app1/parse_exif (the kernel discipline): the encode kernel's
    APP1 bytes equal the module builder's for the same derived fields, and
    the stats kernel returns the module parser's tuple."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        build_exif_app1,
        jpeg_exif_encode,
        jpeg_exif_stats,
        parse_exif,
    )

    rows = [(i, f"MAKER{i:03d}"[:8]) for i in (0, 1, 6, 13)]
    df = spark.createDataFrame(rows, "media_id LONG, make STRING")
    enc = {r.media_id: bytes(r.payload) for r in jpeg_exif_encode(df).collect()}
    for mid, make in rows:
        expected_app1 = build_exif_app1(
            1 + mid % 8, 72 + (mid % 4) * 72, make, big_endian=(mid % 2 == 1)
        )
        assert expected_app1 in enc[mid], mid
        assert parse_exif(enc[mid]) == (
            "MM" if mid % 2 else "II",
            1 + mid % 8,
            float(72 + (mid % 4) * 72),
            make,
            3,
        )
    pdf = spark.createDataFrame(sorted(enc.items()), "media_id LONG, payload BINARY")
    got = {r.media_id: r for r in jpeg_exif_stats(pdf).collect()}
    for mid, make in rows:
        r = got[mid]
        assert (r.byte_order, r.orientation, r.xres, r.make, r.n_entries) == (
            "MM" if mid % 2 else "II",
            1 + mid % 8,
            float(72 + (mid % 4) * 72),
            make,
            3,
        )


def test_cql_vector_wire_format():
    """The wire bytes are the protocol's: concatenated big-endian binary32
    with no length prefix (pinned against struct.pack); decode inverts
    bit-exactly including NaN payloads and negative zero; a truncated
    buffer refuses loudly."""
    import math
    import struct

    import pytest

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_cql_vector,
        encode_cql_vector,
    )

    vals = [1.5, -0.0, 3.25e-12, float("inf")]
    wire = encode_cql_vector(vals)
    assert wire == struct.pack(">4f", *vals)
    assert wire[:4] == b"\x3f\xc0\x00\x00"  # 1.5 big-endian
    back = decode_cql_vector(wire)
    # values come back as their binary32 rounding (3.25e-12 is not exactly
    # representable in float32; the codec is exact AT float32 precision)
    assert back == list(struct.unpack(">4f", struct.pack(">4f", *vals)))
    assert math.copysign(1.0, back[1]) < 0
    # NaN bit pattern survives (struct roundtrip preserves the quiet bit)
    nan_wire = encode_cql_vector([float("nan")])
    assert math.isnan(decode_cql_vector(nan_wire)[0])
    with pytest.raises(ValueError, match="multiple of 4"):
        decode_cql_vector(wire[:-1])


def test_cql_vector_kernel_matches_reference(spark):
    """The mapInPandas codec must agree with encode/decode_cql_vector:
    same wire length and identical decoded observables on hand vectors
    with negative/extreme float32 values."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        cql_vector_roundtrip,
        encode_cql_vector,
    )

    rows = [
        (0, [1.5, -2.25, 0.0]),
        (1, [-0.0, 3.4e38, -3.4e38, 1e-30]),
        (2, [7.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = {r.vec_id: r for r in cql_vector_roundtrip(df).collect()}
    import numpy as np

    for vid, emb in rows:
        f32 = [float(np.float32(x)) for x in emb]
        r = got[vid]
        assert r.n_dims == len(emb)
        assert r.n_bytes == len(encode_cql_vector(f32))
        assert (r.first_r, r.last_r) == (f32[0], f32[-1])
        assert (r.min_r, r.max_r) == (min(f32), max(f32))
