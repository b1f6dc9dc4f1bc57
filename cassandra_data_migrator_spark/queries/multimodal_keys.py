"""Multimodal (PPM/WAV/Y4M/PNG/JPEG/Exif) and profile/audit keys.
"""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    F,
    NGRAM_N,
    TOPK_K,
    TOPK_QUERY_PRED,
    Window,
    _t,
    codecs,
    dedup,
    pmod_100,
    similarity,
    tok,
    tokens,
    validation,
)
from cassandra_data_migrator_spark.queries.dedup_text import (  # noqa: F401
    _brute_topk,
    _ngram_pairs,
)
from cassandra_data_migrator_spark.session import scratch_dir

def q_multimodal_extract(spark, sf_dir):
    """Multimodal binary-column pipeline under the DRIVER check (E10 was
    pytest-only): documents become media rows (payload = UTF-8 bytes, typed
    mime), then the Arrow mapInPandas digest kernel computes per-payload
    byte length + md5 — both exactly reproducible in SQL, so the oracle
    verifies the JVM→Arrow→Python binary round-trip byte-for-byte. The
    decode stub (operators/multimodal.decode_image) stays honestly
    unimplemented; this key proves the PLUMBING."""
    from cassandra_data_migrator_spark.operators.multimodal import payload_digest

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("lang") == "en", F.lit("image/png"))
        .otherwise(F.lit("image/jpeg"))
        .alias("mime"),
        F.col("text").cast("binary").alias("payload"),
    )
    return payload_digest(media)


PPM_W = 4  # fixture image width (pixels); 3 bytes/pixel
PPM_MAX_H = 8  # fixture image height cap


def q_binaryfile_ingest(spark, sf_dir):
    """Multimodal FILE ingest through Spark's ``binaryFile`` source — the
    missing first step of every real image/audio pipeline (files on
    storage, not payloads in a table): the fixture's PPM payloads are
    materialized as one .ppm FILE each (executor-side foreachPartition
    write — on a cluster the same writer targets shared object storage;
    the single-node fixture uses local tmp), then read back via
    ``format("binaryFile")`` with a path glob, media id recovered from
    the file path, and the contract pinned byte-for-byte: per-file length
    and content md5 must equal the oracle's recomputation of the same
    payload from the documents table. A lost file, a truncated write, a
    path-id mix-up, or any corruption through the source turns the key
    red. Writes are deterministic and idempotent (same bytes, same
    names), so re-runs are safe.

    The staging dir is a ``session.scratch_dir`` keyed by the fixture
    path: under the application's private (0700, unpredictable) scratch
    root, never a fixed world-shared /tmp path that would glob back
    phantom files from prior runs, collide across fixtures, or invite
    tmp-squatting. The read-back is additionally restricted to the media
    ids produced THIS run via a broadcast semi-join."""
    out_dir = scratch_dir(spark, "binaryfile", sf_dir)

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    row_bytes = PPM_W * 3
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(PPM_MAX_H), (F.length(san) / F.lit(row_bytes)).cast("int")
        ).alias("__h"),
    ).filter(F.col("__h") >= 1)
    payload = F.concat(
        F.lit(f"P6\n{PPM_W} "),
        F.col("__h").cast("string"),
        F.lit("\n255\n"),
        F.col("__s").substr(F.lit(1), F.col("__h") * F.lit(row_bytes)),
    ).cast("binary")
    def _write(rows):
        # self-contained closure (stdlib only): executors write their own
        # partitions' files — no payload bytes ever reach the driver
        import os as _os

        for r in rows:
            path = _os.path.join(out_dir, f"{r['media_id']}.ppm")
            with open(path, "wb") as fh:
                fh.write(bytes(r["payload"]))

    from cassandra_data_migrator_spark.operators.partition import spread

    # The fixture scan is ONE split, so the per-file
    # writes otherwise run serially on one task; spread() fans the writer
    # across the session (no-op at scale, where the scan is already split)
    spread(media.select("media_id", payload.alias("payload"))).foreachPartition(
        _write
    )
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm")
        .load(out_dir)
    )
    return bf.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.ppm$", 1)
        .cast("bigint")
        .alias("media_id"),
        F.col("length").cast("bigint").alias("file_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    ).join(
        F.broadcast(media.select("media_id")), "media_id", "semi"
    )


def q_multimodal_decode(spark, sf_dir):
    """REAL image decode under the DRIVER check (the PIL stub retired for
    one format): documents become binary PPM (P6)
    images (header + raw RGB from the printable-ASCII text bytes, built
    JVM-side), the Arrow mapInPandas kernel (operators/multimodal.ppm_stats)
    PARSES each payload — magic, whitespace-tolerant header, exact pixel-
    section length — and emits exact integer stats; rounded channel means
    derive JVM-side. The oracle re-slices the SAME bytes in DuckDB
    (ord(substr(...)) over the identical construction), so a single byte
    mis-parsed anywhere in the decoder turns the key red."""
    from cassandra_data_migrator_spark.operators.multimodal import ppm_stats

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    row_bytes = PPM_W * 3
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(PPM_MAX_H), (F.length(san) / F.lit(row_bytes)).cast("int")
        ).alias("__h"),
    ).filter(F.col("__h") >= 1)
    payload = F.concat(
        F.lit(f"P6\n{PPM_W} "),
        F.col("__h").cast("string"),
        F.lit("\n255\n"),
        F.col("__s").substr(F.lit(1), F.col("__h") * F.lit(row_bytes)),
    ).cast("binary")
    stats = ppm_stats(media.select("media_id", payload.alias("payload")))
    return stats.select(
        "media_id", "width", "height", "maxval", "n_pix",
        "r_sum", "g_sum", "b_sum",
        F.round(F.col("r_sum") / F.col("n_pix"), 4).alias("r_mean"),
        F.round(F.col("g_sum") / F.col("n_pix"), 4).alias("g_mean"),
        F.round(F.col("b_sum") / F.col("n_pix"), 4).alias("b_mean"),
    )


WAV_N_SAMPLES = 64  # fixture clip length (8-bit mono PCM frames)
WAV_RATE = 8000


def _wav_header() -> bytes:
    """Constant RIFF/WAVE header for the fixture clips (sizes are fixed
    because every clip is exactly WAV_N_SAMPLES 8-bit mono frames)."""
    data_size = WAV_N_SAMPLES
    fmt = (
        (1).to_bytes(2, "little")          # PCM
        + (1).to_bytes(2, "little")        # mono
        + WAV_RATE.to_bytes(4, "little")   # sample rate
        + WAV_RATE.to_bytes(4, "little")   # byte rate (rate * block align)
        + (1).to_bytes(2, "little")        # block align
        + (8).to_bytes(2, "little")        # bits per sample
    )
    riff_size = 4 + (8 + len(fmt)) + (8 + data_size)
    return (
        b"RIFF" + riff_size.to_bytes(4, "little") + b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + data_size.to_bytes(4, "little")
    )


def q_multimodal_audio(spark, sf_dir):
    """REAL audio decode under the DRIVER check (the WAV sibling of
    multimodal_decode): documents become 8-bit mono PCM clips (constant
    RIFF header + 64 samples from the printable-ASCII text bytes, built
    JVM-side), the Arrow kernel (operators/multimodal.wav_stats) walks the
    RIFF chunks and emits exact integer sample stats; the rounded sample
    mean derives JVM-side. The oracle re-slices the identical bytes via
    ord(substr(...)) — a mis-parsed chunk offset or sample anywhere in the
    decoder turns the key red."""
    from cassandra_data_migrator_spark.operators.multimodal import wav_stats

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
    ).filter(F.length("__s") >= WAV_N_SAMPLES)
    payload = F.concat(
        F.lit(_wav_header()),
        F.col("__s").substr(1, WAV_N_SAMPLES).cast("binary"),
    )
    stats = wav_stats(media.select("media_id", payload.alias("payload")))
    return stats.select(
        "media_id", "n_channels", "sample_rate", "bits",
        "n_samples", "s_sum", "s_min", "s_max",
        F.round(F.col("s_sum") / F.col("n_samples"), 4).alias("s_mean_r"),
    )


PPM_RESIZE_FACTOR = 2


def q_multimodal_resize(spark, sf_dir):
    """REAL image RESIZE under the DRIVER check — the fourth named
    multimodal kernel (decode / feature-extract / frame-sample / resize)
    now runs real arithmetic on real container bytes: the same JVM-built
    PPM payloads as multimodal_decode, box-filter downsampled 2x2 in the
    Arrow kernel (operators/multimodal.ppm_resize_stats; each output
    channel value = floor mean of its block, odd trailing rows cropped),
    emitting exact integer stats of the RESIZED image with rounded means
    derived JVM-side. The oracle recomputes every pooled block from the
    identical bytes via index arithmetic (row/col/channel from char
    position, SUM // 4 per block), so one mis-addressed input pixel
    anywhere in the pooling loop turns the key red."""
    from cassandra_data_migrator_spark.operators.multimodal import ppm_resize_stats

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    row_bytes = PPM_W * 3
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(PPM_MAX_H), (F.length(san) / F.lit(row_bytes)).cast("int")
        ).alias("__h"),
    ).filter(F.col("__h") >= PPM_RESIZE_FACTOR)
    payload = F.concat(
        F.lit(f"P6\n{PPM_W} "),
        F.col("__h").cast("string"),
        F.lit("\n255\n"),
        F.col("__s").substr(F.lit(1), F.col("__h") * F.lit(row_bytes)),
    ).cast("binary")
    stats = ppm_resize_stats(
        media.select("media_id", payload.alias("payload")),
        factor=PPM_RESIZE_FACTOR,
    )
    n_out = F.col("out_w") * F.col("out_h")
    return stats.select(
        "media_id", "in_w", "in_h", "out_w", "out_h",
        "r_sum", "g_sum", "b_sum", "px_min", "px_max",
        F.round(F.col("r_sum") / n_out, 4).alias("r_mean_r"),
        F.round(F.col("g_sum") / n_out, 4).alias("g_mean_r"),
        F.round(F.col("b_sum") / n_out, 4).alias("b_mean_r"),
    )


Y4M_W = 4
Y4M_H = 4
Y4M_FRAMES = 4  # fixture clip length (mono 4x4 luma frames)
Y4M_SAMPLE_EVERY = 2
Y4M_FRAME_BYTES = Y4M_W * Y4M_H
Y4M_SAMP_FRAMES = len(range(0, Y4M_FRAMES, Y4M_SAMPLE_EVERY))


def _y4m_header() -> bytes:
    """Constant YUV4MPEG2 stream header for the fixture clips (mono /
    4:0:0 — one byte per pixel keeps every stat exact-integer)."""
    return f"YUV4MPEG2 W{Y4M_W} H{Y4M_H} F25:1 Ip A1:1 Cmono\n".encode()


def q_multimodal_video(spark, sf_dir):
    """REAL video decode under the DRIVER check (the Y4M sibling of
    multimodal_decode/multimodal_audio — image, audio, AND video now parse
    real container bytes): documents become 4-frame 4x4 mono YUV4MPEG2
    clips (constant stream header + four FRAME-marker/luma-plane sections
    from the printable-ASCII text bytes, built JVM-side); the Arrow kernel
    (operators/multimodal.y4m_stats) walks the container and emits exact
    integer pixel stats over ALL frames plus the every-2nd-frame sampled
    subset — IN-PAYLOAD frame sampling, which the row-level
    sample_frames() index filter cannot express. Means derive JVM-side
    from the kernel's decoded counts. The oracle re-slices the identical
    bytes via ord(substr(...)) with each char's frame index recomputed
    from its position, so a mis-parsed marker or plane offset anywhere in
    the decoder turns the key red."""
    from cassandra_data_migrator_spark.operators.multimodal import y4m_stats

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    total = Y4M_FRAMES * Y4M_FRAME_BYTES
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
    ).filter(F.length("__s") >= total)
    parts = [F.lit(_y4m_header())]
    for f in range(Y4M_FRAMES):
        parts.append(F.lit(b"FRAME\n"))
        parts.append(
            F.col("__s").substr(f * Y4M_FRAME_BYTES + 1, Y4M_FRAME_BYTES).cast("binary")
        )
    payload = F.concat(*parts)
    stats = y4m_stats(
        media.select("media_id", payload.alias("payload")),
        sample_every=Y4M_SAMPLE_EVERY,
    )
    n_all = F.col("n_frames") * F.col("width") * F.col("height")
    n_samp = F.col("samp_frames") * F.col("width") * F.col("height")
    return stats.select(
        "media_id", "width", "height", "n_frames",
        "px_sum", "px_min", "px_max",
        F.round(F.col("px_sum") / n_all, 4).alias("px_mean_r"),
        "samp_frames", "samp_sum",
        F.round(F.col("samp_sum") / n_samp, 4).alias("samp_mean_r"),
    )


PNG_W = 6  # fixture PNG width (pixels); 3 bytes/pixel
PNG_MAX_H = 10  # fixture PNG height cap — h>=5 exercises all five filters


def q_multimodal_png(spark, sf_dir):
    """REAL compressed-image decode under the DRIVER check (the PNG stub
    retired): documents become raw
    RGB rows (printable-ASCII text bytes, sliced JVM-side), an Arrow
    kernel DEFLATES them into spec-complete 8-bit truecolor PNGs
    (operators/multimodal.png_encode_rgb: CRC'd chunks, filter bytes
    cycling ALL FIVE PNG filter types, two IDAT chunks), and a second
    Arrow kernel (png_stats) INFLATES and filter-reconstructs them back
    to pixels, emitting exact integer stats. The oracle never sees a PNG:
    it re-slices the ORIGINAL text bytes in DuckDB, so the deflate →
    inflate → defilter roundtrip must be byte-exact end-to-end — a single
    mis-reconstructed filter byte anywhere turns the key red. (Both kernels
    run the module-level encode_png/decode_png; tests/test_multimodal.py
    pins those independently, including Paeth hand-vectors and
    corrupt-chunk strictness, so a matched encoder/decoder bug cannot
    hide.)"""
    from cassandra_data_migrator_spark.operators.multimodal import (
        png_encode_rgb,
        png_stats,
    )

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    row_bytes = PNG_W * 3
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(PNG_MAX_H), (F.length(san) / F.lit(row_bytes)).cast("int")
        ).alias("__h"),
    ).filter(F.col("__h") >= 1)
    rgb = F.col("__s").substr(F.lit(1), F.col("__h") * F.lit(row_bytes)).cast("binary")
    encoded = png_encode_rgb(media.select("media_id", rgb.alias("rgb")), width=PNG_W)
    stats = png_stats(encoded)
    return stats.select(
        "media_id", "width", "height", "depth", "n_pix",
        "r_sum", "g_sum", "b_sum",
        F.round(F.col("r_sum") / F.col("n_pix"), 4).alias("r_mean"),
        F.round(F.col("g_sum") / F.col("n_pix"), 4).alias("g_mean"),
        F.round(F.col("b_sum") / F.col("n_pix"), 4).alias("b_mean"),
    )


JPEG_BW = 4  # fixture JPEG width in 8x8 blocks (image width = 32 px)
JPEG_MAX_BH = 6  # fixture height cap in blocks


def q_multimodal_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode under the DRIVER check (the last
    compressed-codec stub retired for the path this container can verify
    end-to-end): documents become flat-block grayscale JPEGs (each
    printable-ASCII text byte = one 8x8 block's gray level, encoded
    through the FULL baseline machinery — DC huffman coding, byte
    stuffing, Annex-K tables — in one Arrow kernel), and a second Arrow
    kernel runs the complete decoder (marker walk, huffman DC/AC decode,
    dequant, zigzag, float IDCT, level shift) back to pixels. Flat blocks
    make the lossy pipeline EXACT (DC = 8·(v−128) quantized by the
    DC step 8 stores v−128 verbatim), so the oracle never sees a JPEG:
    it re-slices the ORIGINAL text bytes, and a single mis-decoded
    huffman code, stuffed byte, or IDCT term turns the key red. (The AC
    path — runs, ZRL, sign extension — is pinned against an
    encoder-independent NumPy IDCT reference in pytest; color has its
    own keys and progressive its own.)"""
    from cassandra_data_migrator_spark.operators.multimodal import (
        jpeg_encode_gray,
        jpeg_stats,
    )

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(JPEG_MAX_BH), (F.length(san) / F.lit(JPEG_BW)).cast("int")
        ).alias("__bh"),
    ).filter(F.col("__bh") >= 1)
    blocks = F.col("__s").substr(F.lit(1), F.col("__bh") * F.lit(JPEG_BW)).cast("binary")
    # one fixture parquet file -> one scan task; round-robin the tiny rows
    # so the CPU-bound huffman kernels use every core (see the color twin)
    encoded = jpeg_encode_gray(
        media.select("media_id", blocks.alias("blocks")).repartition(
            spark.sparkContext.defaultParallelism
        ),
        block_width=JPEG_BW,
    )
    stats = jpeg_stats(encoded)
    return stats.select(
        "media_id", "width", "height", "n_pix",
        "px_sum", "px_min", "px_max",
        F.round(F.col("px_sum") / F.col("n_pix"), 4).alias("px_mean"),
    )


JPEG_RST_INTERVAL = 3  # MCUs per restart interval — deliberately misaligned
# with the 4-block row so restart segments cross block-row boundaries and
# the D0..D7 cycle wraps (up to 24 MCUs -> 7 RST markers per doc)


def q_multimodal_jpeg_rst(spark, sf_dir):
    """Restart-interval JPEG decode under the DRIVER check (real crawl
    JPEGs overwhelmingly carry DRI/RSTn): the gray fixture
    re-encoded with a DRI segment and RST0..RST7 markers every
    {JPEG_RST_INTERVAL} MCUs, DC predictor re-anchored per segment
    (T.81 §B.2.4.4/§E.2.4). The interval is misaligned with the 4-block
    row so segments straddle block rows and the marker cycle wraps. The
    decoder must parse DRI, byte-align at every RSTn, validate the
    D0..D7 sequence, and reset prediction — any of those wrong shifts
    every post-restart DC value and the flat-block-exact oracle
    (re-sliced ORIGINAL text bytes — it never sees a JPEG) turns red.
    Out-of-order/missing/unconsumed restart segments refuse loudly
    (pytest). Progressive decodes via its own key."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        jpeg_encode_gray,
        jpeg_stats,
    )

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(JPEG_MAX_BH), (F.length(san) / F.lit(JPEG_BW)).cast("int")
        ).alias("__bh"),
    ).filter(F.col("__bh") >= 1)
    blocks = F.col("__s").substr(F.lit(1), F.col("__bh") * F.lit(JPEG_BW)).cast("binary")
    encoded = jpeg_encode_gray(
        media.select("media_id", blocks.alias("blocks")).repartition(
            spark.sparkContext.defaultParallelism
        ),
        block_width=JPEG_BW,
        restart_interval=JPEG_RST_INTERVAL,
    )
    stats = jpeg_stats(encoded)
    return stats.select(
        "media_id", "width", "height", "n_pix",
        "px_sum", "px_min", "px_max",
        F.round(F.col("px_sum") / F.col("n_pix"), 4).alias("px_mean"),
    )


def q_multimodal_jpeg_progressive(spark, sf_dir):
    """PROGRESSIVE JPEG decode under the DRIVER check (T.81 §G, the other
    scan architecture real web JPEGs carry): the gray
    fixture re-encoded as SOF2 with FIVE scans — DC first at Al=1
    (point-transform DPCM), two spectral-selection AC first scans (1..5,
    6..63) that are pure EOBRUN chains under a custom EOBn huffman
    table, an AC refinement scan (§G.1.2.3), and a raw-bit DC refinement
    — so the decoder must accumulate coefficients across scans, validate
    scan ordering (refine-before-first, duplicate first, non-unit Ah/Al
    steps all refuse), run EOBRUN skipping, and reassemble each DC from
    its two bit planes ((dc>>1)<<1 | (dc&1) == dc keeps flat blocks
    EXACT). The oracle re-slices the ORIGINAL text bytes — it never sees
    a JPEG — so one mis-ordered bit plane shifts every pixel and turns
    the key red. Color progressive still refuses loudly."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        jpeg_encode_gray_progressive,
        jpeg_stats,
    )

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(JPEG_MAX_BH), (F.length(san) / F.lit(JPEG_BW)).cast("int")
        ).alias("__bh"),
    ).filter(F.col("__bh") >= 1)
    blocks = F.col("__s").substr(F.lit(1), F.col("__bh") * F.lit(JPEG_BW)).cast("binary")
    encoded = jpeg_encode_gray_progressive(
        media.select("media_id", blocks.alias("blocks")).repartition(
            spark.sparkContext.defaultParallelism
        ),
        block_width=JPEG_BW,
    )
    stats = jpeg_stats(encoded)
    return stats.select(
        "media_id", "width", "height", "n_pix",
        "px_sum", "px_min", "px_max",
        F.round(F.col("px_sum") / F.col("n_pix"), 4).alias("px_mean"),
    )


JPEGC_BW = 4  # color fixture width in 8x8 blocks (image width = 32 px)
JPEGC_MAX_BH = 2  # color height cap in blocks (3 bytes/block; 8 MCUs x 3
# comps = 24 block-codes/doc, the gray key's budget — bh>=2 still exercises
# cross-row per-component DC prediction)


def q_multimodal_jpeg_color(spark, sf_dir):
    """REAL 3-component baseline-JPEG decode under the DRIVER check (real
    corpora are color): documents become flat-block
    4:4:4 COLOR JPEGs (every THREE printable-ASCII text bytes = one 8x8
    block's integer Y/Cb/Cr levels, encoded through the full 3-component
    machinery — interleaved MCUs, per-component DC prediction, luma DHT
    slot 0 + Annex-K chroma slot 1, byte stuffing), and a second Arrow
    kernel runs the complete color decoder back to RGB. Flat blocks make
    the lossy pipeline EXACT per component (DC = 8·(s−128) quantized by
    8 stores s−128 verbatim → integer YCbCr planes recovered
    bit-exactly), and the one lossy-looking step left — YCbCr→RGB — is
    pinned to floor(x+0.5) on IEEE doubles so the oracle recomputes the
    IDENTICAL conversion in SQL from the original text bytes (explicit
    DOUBLE casts keep DuckDB from evaluating 1.402·k in exact DECIMAL,
    where floor could disagree with the double path). A single
    mis-decoded chroma table slot, mis-predicted per-component DC, or
    mis-rounded conversion term turns the key red. Subsampled (4:2:0)
    and progressive JPEG keep refusing loudly."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        jpeg_color_stats,
        jpeg_encode_color,
    )

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    row_bytes = JPEGC_BW * 3
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(JPEGC_MAX_BH), (F.length(san) / F.lit(row_bytes)).cast("int")
        ).alias("__bh"),
    ).filter(F.col("__bh") >= 1)
    blocks = (
        F.col("__s").substr(F.lit(1), F.col("__bh") * F.lit(row_bytes)).cast("binary")
    )
    # the documents fixture is ONE parquet file -> one scan task; the
    # CPU-bound huffman kernels need every core, so spread the tiny
    # (media_id, blocks) rows round-robin before entering Python. At real
    # scale the scan has thousands of splits and this exchange is a no-op
    # cost; locally it is 5k rows x ~50 B.
    encoded = jpeg_encode_color(
        media.select("media_id", blocks.alias("blocks")).repartition(
            spark.sparkContext.defaultParallelism
        ),
        block_width=JPEGC_BW,
    )
    stats = jpeg_color_stats(encoded)
    return stats.select(
        "media_id", "width", "height", "n_pix",
        "r_sum", "g_sum", "b_sum", "rgb_min", "rgb_max",
        F.round(F.col("r_sum") / F.col("n_pix"), 4).alias("r_mean"),
        F.round(F.col("g_sum") / F.col("n_pix"), 4).alias("g_mean"),
        F.round(F.col("b_sum") / F.col("n_pix"), 4).alias("b_mean"),
    )


JPEGS_MW = 2  # 4:2:0 fixture width in 16x16 MCUs (image width = 32 px)
JPEGS_MAX_MH = 2  # 4:2:0 height cap in MCU rows (3 bytes/MCU; 4 MCUs x 6
# block-codes = 24 codes/doc, the gray/color keys' budget — mh>=2 still
# exercises cross-row per-component DC prediction through the 4-Y-block runs)


def q_multimodal_jpeg_420(spark, sf_dir):
    """REAL 4:2:0 chroma-subsampled baseline-JPEG decode under the DRIVER
    check (real camera/web corpora are overwhelmingly 4:2:0, the
    one layout the color key's 4:4:4 path never exercised): documents
    become flat-MCU 4:2:0 JPEGs (every THREE printable-ASCII text bytes =
    one 16x16 MCU's integer Y/Cb/Cr levels, encoded through the full
    subsampled machinery — FOUR Y blocks then Cb then Cr per interleaved
    MCU, per-component DC prediction across all six, luma DHT slot 0 +
    Annex-K chroma slot 1, byte stuffing), and a second Arrow kernel runs
    the complete subsampled decoder (general MCU geometry, replication
    chroma upsampling) back to RGB. Flat MCUs make the lossy pipeline
    EXACT per component (DC = 8·(s−128) quantized by 8 stores s−128
    verbatim; replication upsampling of flat chroma is the identity), so
    the oracle recomputes the identical floor(x+0.5) JFIF conversion in
    SQL from the original text bytes. A single mis-ordered Y block,
    mis-predicted per-component DC through the 4-block runs, or
    mis-placed chroma sample turns the key red. Progressive JPEG and
    sampling factors 3/4 keep refusing loudly."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        jpeg_color_stats,
        jpeg_encode_color_420,
    )

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    row_bytes = JPEGS_MW * 3
    media = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(JPEGS_MAX_MH), (F.length(san) / F.lit(row_bytes)).cast("int")
        ).alias("__mh"),
    ).filter(F.col("__mh") >= 1)
    mcus = (
        F.col("__s").substr(F.lit(1), F.col("__mh") * F.lit(row_bytes)).cast("binary")
    )
    # the documents fixture is ONE parquet file -> one scan task; the
    # CPU-bound huffman kernels need every core (gray/color key
    # convention): round-robin the tiny rows before entering Python
    encoded = jpeg_encode_color_420(
        media.select("media_id", mcus.alias("mcus")).repartition(
            spark.sparkContext.defaultParallelism
        ),
        mcu_width=JPEGS_MW,
    )
    stats = jpeg_color_stats(encoded)
    return stats.select(
        "media_id", "width", "height", "n_pix",
        "r_sum", "g_sum", "b_sum", "rgb_min", "rgb_max",
        F.round(F.col("r_sum") / F.col("n_pix"), 4).alias("r_mean"),
        F.round(F.col("g_sum") / F.col("n_pix"), 4).alias("g_mean"),
        F.round(F.col("b_sum") / F.col("n_pix"), 4).alias("b_mean"),
    )


def q_multimodal_exif(spark, sf_dir):
    """REAL Exif/APP1 metadata extraction under the DRIVER check (the
    first thing an image-corpus pipeline reads before it ever decodes
    pixels: orientation gates rotation-normalization, resolution gates
    quality filters, Make powers device-level dedup/gating): documents
    become minimal REAL JPEGs carrying a genuine Exif APP1 — TIFF header,
    IFD0 with Make (out-of-line NUL-terminated ASCII from the doc's first
    8 sanitized chars), Orientation (inline SHORT, 1 + id%8) and
    XResolution (out-of-line RATIONAL, 72 + (id%4)·72), byte order
    alternating II/MM by id parity so BOTH TIFF endiannesses are decoded
    at every scale — and a second Arrow kernel walks the markers and the
    IFD back out. The oracle recomputes every field from doc_id and the
    original text; a mis-read endianness, a wrong inline-vs-offset rule,
    or an off-by-one IFD walk turns the key red."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        jpeg_exif_encode,
        jpeg_exif_stats,
    )

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.substring(san, 1, 8).alias("make"),
        F.length(san).alias("__len"),
    ).filter(F.col("__len") >= 8).drop("__len")
    encoded = jpeg_exif_encode(
        media.repartition(spark.sparkContext.defaultParallelism)
    )
    return jpeg_exif_stats(encoded).select(
        "media_id", "byte_order", "orientation", "xres", "make", "n_entries"
    )


def q_graph_degree(spark, sf_dir):
    """Degree distribution of the near-duplicate pair graph (dedup
    observability: hub documents = template/boilerplate families). Degrees
    are counted from the edge list's endpoints only — the corpus itself
    never enters the aggregation. Edge list = the session-shared
    _ngram_pairs materialization."""
    pairs = _ngram_pairs(spark, sf_dir)
    ends = pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    return ends.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))


SWEEP_THRESHOLDS = (0.1, 0.2, 0.3, 0.4, 0.5)
CDC_INSERT_OFFSET = 10_000_000


PROFILE_DRIFT_METRICS = (
    "n_rows", "null_o_custkey", "null_o_orderpriority",
    "sum_o_totalprice", "min_o_totalprice", "max_o_totalprice",
    "nd_o_orderstatus",
)


def q_validate_profile_drift(spark, sf_dir):
    """Aggregate-only migration validation (profile drift) - tier-1 of the
    tiered validation ladder; the heavy lifting lives in
    operators/validation.profile_drift (two single-scan partial
    aggregations collapsing to one row per side, broadcast metric join,
    neither table co-partition shuffled). This key wires it to orders with
    the planted-damage target (cdc_delta_detect convention): mod-89 keys
    deleted, mod-97 prices shifted +1.0, mod-101 priorities nulled. The
    oracle recomputes both profiles from scratch and compares with exact
    DECIMAL equality."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice",
        "o_orderstatus",
    )
    t = (
        o.filter(F.col("o_orderkey") % 89 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 101 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("o_orderpriority")),
        )
    )
    return validation.profile_drift(
        o, t,
        null_cols=["o_custkey", "o_orderpriority"],
        sum_col="o_totalprice",
        distinct_col="o_orderstatus",
    )


def q_cdc_delta_detect(spark, sf_dir):
    """CDC-style snapshot delta: FULL-outer PK diff classifying every change
    as insert / update / delete (generalizes validate_diff, which is
    origin-driven and cannot see target-only rows — CDM's own blind spot).
    New snapshot derived deterministically: mod-89 keys deleted, mod-97
    prices updated, mod-83 keys re-inserted under offset ids. One
    co-partitioned full-outer join, AQE-skew-safe."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    new = o.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    inserts = o.filter(F.col("o_orderkey") % 83 == 0).select(
        (F.col("o_orderkey") + CDC_INSERT_OFFSET).alias("o_orderkey"), "o_totalprice"
    )
    new = new.unionByName(inserts)
    old_a, new_a = o.alias("old"), new.alias("new")
    joined = old_a.join(new_a, F.col("old.o_orderkey") == F.col("new.o_orderkey"), "full_outer")
    op = (
        F.when(F.col("old.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("new.o_orderkey").isNull(), F.lit("delete"))
        .when(
            ~F.col("old.o_totalprice").eqNullSafe(F.col("new.o_totalprice")), F.lit("update")
        )
        .otherwise(F.lit("same"))
    )
    return (
        joined.select(
            F.coalesce(F.col("old.o_orderkey"), F.col("new.o_orderkey")).alias("key"),
            op.alias("op"),
        )
        .filter(F.col("op") != "same")
    )


def q_json_key_profile(spark, sf_dir):
    """JSON schema profiling: which keys appear in the semi-structured props
    column, in how many events — the discovery scan run before declaring an
    extract-json mapping (SURVEY §2 #11's operational prerequisite). One
    explode of json_object_keys, one groupBy."""
    e = _t(spark, sf_dir, "events")
    keys = e.select(F.explode(F.json_object_keys("props")).alias("key"))
    total = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    per_key = keys.groupBy("key").agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return per_key.crossJoin(F.broadcast(total)).select(
        "key",
        "n_events",
        F.round(F.col("n_events") / F.col("n_total"), 4).alias("presence"),
    )


def q_dedup_threshold_sweep(spark, sf_dir):
    """Dedup-threshold tuning curve: near-dup pair counts at each Jaccard
    threshold, computed from ONE shingle-index pass (the pair list with
    scores is reused across all thresholds — no re-scan per setting)."""
    # min(SWEEP_THRESHOLDS) == the shared artifact's base threshold
    # (pinned by tests/test_dedup.py), so the sweep reads the session's
    # standing scored pair list instead of re-deriving the shingle
    # self-join per run
    from cassandra_data_migrator_spark.queries.dedup_text import (
        _ngram_scored_pairs,
    )

    pairs = _ngram_scored_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= min(SWEEP_THRESHOLDS)
    )
    t = F.explode(F.array(*[F.lit(x) for x in SWEEP_THRESHOLDS])).alias("threshold")
    swept = pairs.select("jaccard", t).filter(F.col("jaccard") >= F.col("threshold"))
    return swept.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


ZIPF_VOCAB_MIN_COUNT = 5


def q_vocab_zipf_slope(spark, sf_dir):
    """Zipf's-law fit of the corpus vocabulary: OLS slope of ln(freq) over
    ln(rank) — the one-number corpus-health statistic (natural text ≈ −1).
    Per-word logs are rounded to 6dp then summed as DECIMALs, so the
    regression sums are exact and order-independent on both engines. Every
    vocab word needs a rank (not a top-k), so ranking is the distributed
    histogram pattern (operators/rank.global_rank): the
    only unpartitioned window cumsums the count-HISTOGRAM (1 row per
    distinct frequency — Zipf ties collapse the tail), never the vocab."""
    from cassandra_data_migrator_spark.operators.rank import global_rank

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("w"))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") >= ZIPF_VOCAB_MIN_COUNT
    )
    # rank by (cnt desc, w asc) == ascending (−cnt, w): global_rank's 0-based
    # pos + 1 reproduces row_number() over (order by cnt desc, w) exactly
    ranked = global_rank(
        counts.withColumn("__negcnt", -F.col("cnt")), "__negcnt", "w"
    ).withColumn("rank", (F.col("pos") + 1).cast("int"))
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(18,6)").alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 6).cast("decimal(18,6)").alias("y"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(28,6)").alias("sx"),
        F.sum("y").cast("decimal(28,6)").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
        / (F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
    )
    return sums.select(
        "n", F.round(slope, 4).alias("zipf_slope")
    )


APPROX_DISTINCT_TOL = 0.15  # HLL++ at rsd=0.05: 3σ relative tolerance
APPROX_PCT_TOL = 0.05  # percentile_approx(acc=1000): 5% relative tolerance
GUARDRAIL_ROW_BYTES = 520


def q_approx_distinct_audit(spark, sf_dir):
    """Sketch-accuracy audit under the DRIVER check: HLL++ distinct counts
    (the 100 TB substitution for exact count_distinct, SCALE.md 'Approximate
    substitutions') are compared against the exact count per group, and the
    EMITTED column is the within-tolerance boolean + the exact count — so
    the oracle (exact + literal TRUE) fails if Spark's sketch ever drifts
    outside its documented rsd bound on this data. Both aggregates ride one
    partial-agg pass."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count_distinct(F.col("o_custkey")).cast("bigint").alias("exact_custs"),
        F.expr("approx_count_distinct(o_custkey, 0.05)").cast("bigint").alias("approx"),
    )
    ok = (
        F.abs(F.col("approx") - F.col("exact_custs"))
        <= F.col("exact_custs") * APPROX_DISTINCT_TOL
    )
    return agg.select("o_orderpriority", "exact_custs", ok.alias("within_tol"))


def q_approx_percentile_audit(spark, sf_dir):
    """KLL-style quantile-sketch audit: percentile_approx vs the exact
    percentile per group; emits the exact value + within-tolerance boolean
    (oracle = exact + TRUE), pinning the approx path's accuracy contract."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 1000)").alias("approx_p50"),
    )
    ok = (
        F.abs(F.col("approx_p50") - F.col("exact_p50"))
        <= F.abs(F.col("exact_p50")) * APPROX_PCT_TOL
    )
    return agg.select(
        "l_returnflag", F.round(F.col("exact_p50"), 4).alias("exact_p50"), ok.alias("within_tol")
    )


def q_guardrail_rowsize(spark, sf_dir):
    """Row-size guardrail (companion to the per-column colSizeInKB check,
    SURVEY §2 #23): flag rows whose total serialized payload — string bytes
    plus 8 bytes per numeric column — exceeds the threshold. Same
    embarrassingly-parallel scan shape as guardrail_colsize."""
    d = _t(spark, sf_dir, "documents")
    row_bytes = (
        F.octet_length("text")
        + F.octet_length("lang")
        + F.octet_length("source")
        + F.lit(16)  # doc_id + n_chars, 8 bytes each
    ).cast("bigint")
    return (
        d.select("doc_id", row_bytes.alias("row_bytes"))
        .filter(F.col("row_bytes") > GUARDRAIL_ROW_BYTES)
    )


EDIT_DISTANCE_PREFIX = 60
EDIT_DISTANCE_MAX = 20


def q_graph_triangles(spark, sf_dir):
    """Triangle count over the near-duplicate pair graph (the standard
    multi-way distributed self-join; triangles = tightly-coupled template
    families that pairwise thresholds understate). Edges are oriented
    (a < b) so each triangle counts exactly once; the joins run over the
    EDGE list only — sparse by construction — never the corpus."""
    # The materialized session-shared edge list (_ngram_pairs): without it
    # every join branch re-derives the full shingle pipeline (3× the index
    # shuffle). Same pattern dedup_clusters uses.
    pairs = _ngram_pairs(spark, sf_dir)
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e1.id_a") == F.col("e3.id_a")) & (F.col("e2.id_b") == F.col("e3.id_b")),
        )
    )
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def q_edit_distance_pairs(spark, sf_dir):
    """Edit-distance verification of near-dup CANDIDATES: Levenshtein on
    fixed-length prefixes, computed only for the shingle-index pair list —
    the candidate-then-verify pattern that keeps the O(len²) string kernel
    off the full corpus. Native JVM levenshtein (and DuckDB's), no Python."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, EDIT_DISTANCE_PREFIX).alias("prefix")
    )
    # session-shared materialized edge list (same reason as graph_triangles:
    # two join branches must not re-derive the shingle-index pipeline)
    pairs = _ngram_pairs(spark, sf_dir)
    joined = (
        pairs.join(d.withColumnRenamed("doc_id", "id_a").withColumnRenamed("prefix", "pa"), "id_a")
        .join(d.withColumnRenamed("doc_id", "id_b").withColumnRenamed("prefix", "pb"), "id_b")
    )
    dist = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        joined.select("id_a", "id_b", dist.cast("bigint").alias("edit_dist"))
        .filter(F.col("edit_dist") <= EDIT_DISTANCE_MAX)
    )


ANN_RECALL_MIN = 0.25  # per-query; measured min 0.4-0.6 with 2-bit multi-probe
ANN_RECALL_AGG_MIN = 0.5  # aggregate; measured 0.60-0.76; see BASELINE.md


def q_topk_similarity_lsh_banded(spark, sf_dir):
    """Banded ANN top-k (the recall lever over the single-band LSH path):
    candidates from ANY of 8 independent hyperplane bands, dedup'd before
    the exact-cosine refine. Engine-specific hash family → rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_topk_banded(
        emb, emb.filter(TOPK_QUERY_PRED), k=TOPK_K, num_bands=8
    )


def q_ann_recall_audit(spark, sf_dir):
    """ANN quality contract under the DRIVER check (same pattern as the
    sketch audits): recall@k of the banded-LSH path against the exact
    brute-force top-k. Two floors (set after the 2-bit
    multi-probe upgrade): per-query recall ≥ 0.25 (measured min 0.4-0.6 at
    sf0.001/0.01/0.1) and corpus-aggregate recall ≥ 0.5 (measured
    0.60-0.76) — the old 0.15 single floor tolerated near-collapse.
    Deterministic: fixed hyperplanes, fixed data. Oracle = TRUE per row;
    the audit pins that the bucketing never silently collapses (an
    all-one-bucket regression would score recall 1.0 but fail the bench
    gate; an empty-join regression scores 0.0 and fails both floors)."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(TOPK_QUERY_PRED)
    # session-shared ground-truth table (disk-backed — feeds per-query
    # counts, hits, and the aggregate; also the ivf audit and the exact key)
    brute = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    lsh = similarity.lsh_topk_banded(emb, qs, k=TOPK_K, num_bands=8).select(
        "query_id", "vec_id"
    )
    hits = brute.join(lsh, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    per_q = brute.groupBy("query_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_brute"))
    # localCheckpoint: BOTH consumers below (per-row booleans + the 1-row
    # aggregate) read one materialization — without it the whole banded-LSH
    # subtree (Arrow signatures, 37-way probe explode, band join) executed
    # twice.
    joined = (
        per_q.join(hits, "query_id", "left").fillna(0, ["n_hits"]).localCheckpoint()
    )
    agg = joined.agg(
        (F.sum("n_hits") / F.sum("n_brute") >= ANN_RECALL_AGG_MIN).alias("agg_recall_ok")
    )
    return joined.crossJoin(F.broadcast(agg)).select(
        "query_id",
        "n_brute",
        (F.col("n_hits") / F.col("n_brute") >= ANN_RECALL_MIN).alias("recall_ok"),
        "agg_recall_ok",
    )


QUARANTINE_VALUE_MAX = 400.0


def q_quarantine_split(spark, sf_dir):
    """Bad-record quarantine (CDM's error-row accounting as a first-class
    operator): rows failing any validation rule are routed out with the
    FIRST failing rule as the reason (fixed precedence, so the reason
    column is deterministic). One scan, pure CASE projection — the good
    path is the complement filter on the same expression, costing nothing
    extra. At 100 TB quarantine writes go to a side sink partitioned by
    reason."""
    e = _t(spark, sf_dir, "events")
    reason = (
        F.when(F.col("event_type") == "error", F.lit("error_event"))
        .when(F.col("value") > QUARANTINE_VALUE_MAX, F.lit("outlier_value"))
        .otherwise(F.lit(None))
    )
    return (
        e.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select("event_id", "user_id", "reason")
    )


def q_running_distinct(spark, sf_dir):
    """Cumulative DISTINCT count per user over event time — not directly
    expressible as a window aggregate (COUNT(DISTINCT) OVER unbounded isn't
    supported by either engine), so it composes two windows: first-occurrence
    flag (row_number over (user, type) = 1) then a running sum of flags.
    Both windows partition by user → one shuffle total, state bounded by
    the distinct-type cardinality."""
    e = _t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.withColumn(
        "first_seen", (F.row_number().over(w_first) == 1).cast("int")
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("first_seen").over(w_cum).cast("bigint").alias("n_distinct_types"),
    )


def q_event_paths(spark, sf_dir):
    """Ordered behavioral paths: the '>'-joined event-type sequence per
    (user, hour) — funnel/path mining's input representation. Ordered
    aggregation is done deterministically: collect structs, array_sort by
    (ts, event_id), project the type — canonical text on both engines."""
    e = _t(spark, sf_dir, "events")
    hour = (F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(3_600_000_000))).alias("hour_us")
    grouped = e.select("user_id", hour, "ts_us", "event_id", "event_type").groupBy(
        "user_id", "hour_us"
    )
    path = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "event_type"))),
            lambda x: x.event_type,
        ),
        ">",
    )
    return grouped.agg(
        path.alias("path"), F.count(F.lit(1)).cast("bigint").alias("n_events")
    )


FUNNEL_STAGES = ("view", "click", "purchase")  # ordered product funnel


def q_funnel_ordered_stages(spark, sf_dir):
    """Ordered-funnel conversion (view → click → purchase, first-touch):
    a user converts a stage only with an event STRICTLY AFTER their
    previous stage's first event — the product-analytics query event_paths
    only prepares input for (and the STRICT multi-stage upgrade of
    funnel_conversion's single signup→purchase check). Spark-first: three chained MIN-CASE window
    expressions over ONE partitionBy(user_id) — the sequential dependency
    (click after first view, purchase after that click) rides the same
    exchange, never a self-join per stage; the per-user row collapses via
    the reusable partitioning and the 1-row stage counts explode into the
    4-row report. NULL chaining does the funnel logic: no view ⇒ v NULL ⇒
    ts > v NULL ⇒ click stage NULL — identical three-valued logic in SQL."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts_us")
    w = Window.partitionBy("user_id")
    e = e.withColumn(
        "__v",
        F.min(F.when(F.col("event_type") == FUNNEL_STAGES[0], F.col("ts_us"))).over(w),
    )
    e = e.withColumn(
        "__c",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STAGES[1])
                & (F.col("ts_us") > F.col("__v")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "__p",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STAGES[2])
                & (F.col("ts_us") > F.col("__c")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    per = e.groupBy("user_id").agg(
        F.min("__v").alias("v"), F.min("__c").alias("c"), F.min("__p").alias("p")
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.count("v").cast("bigint").alias("n1"),
        F.count("c").cast("bigint").alias("n2"),
        F.count("p").cast("bigint").alias("n3"),
    )

    def stage(idx, name, n, prev):
        return F.struct(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col(n).alias("n_users"),
            F.col(prev).alias("__prev"),
            F.col("n0").alias("__top"),
        )

    rows = F.array(
        stage(0, "all_users", "n0", "n0"),
        stage(1, FUNNEL_STAGES[0], "n1", "n0"),
        stage(2, FUNNEL_STAGES[1], "n2", "n1"),
        stage(3, FUNNEL_STAGES[2], "n3", "n2"),
    )
    x = agg.select(F.explode(rows).alias("s")).select("s.*")
    return x.select(
        "stage_idx",
        "stage",
        "n_users",
        F.round(F.col("n_users") / F.nullif(F.col("__prev"), F.lit(0)), 4).alias(
            "conv_from_prev_r"
        ),
        F.round(F.col("n_users") / F.nullif(F.col("__top"), F.lit(0)), 4).alias(
            "conv_from_top_r"
        ),
    )


def q_migrate_null_policy(spark, sf_dir):
    """CQL null-vs-unset write semantics under the DRIVER check (SURVEY §7
    'What's hard' #2 — previously pytest-only): a delta batch nulls
    o_orderpriority and sets o_orderstatus='U' for mod-7 keys; the
    cell-wise merge is applied under BOTH policies side by side. 'unset'
    must keep the base priority (a NULL update cell is an unset bind);
    'null' must tombstone it. One full-outer PK join per policy, CASE
    projections — the oracle states the expected cell outcomes directly."""
    from cassandra_data_migrator_spark.sources.sink import upsert_cellwise

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_orderpriority")
    delta = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_orderpriority", F.lit(None).cast("string"))
    )
    unset = upsert_cellwise(
        o, delta, ["o_orderkey"], ["o_orderstatus", "o_orderpriority"], policy="unset"
    ).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status_merged"),
        F.col("o_orderpriority").alias("prio_unset"),
    )
    nulled = upsert_cellwise(
        o, delta, ["o_orderkey"], ["o_orderpriority"], policy="null"
    ).select("o_orderkey", F.col("o_orderpriority").alias("prio_null"))
    return unset.join(nulled, "o_orderkey")


def q_codec_set_normalize(spark, sf_dir):
    """CQL set<T> dedup-on-write as an oracled operator (the sink rule from
    sources/sink.normalize_set_columns): the token array written to a
    set-typed column comes back sorted + dedup'd, emitted as canonical
    joined text. Scan-bound."""
    from cassandra_data_migrator_spark.sources.sink import normalize_set_columns

    d = _t(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("toks"))
    normed = normalize_set_columns(d, ["toks"])
    return normed.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("set_size"),
        F.array_join("toks", ",").alias("set_canonical"),
    )


SPAN_MASK_TOKEN = "<extra_id_0>"


def q_span_corruption(spark, sf_dir):
    """T5-style span corruption (single span per doc, deterministic): the
    span start/length derive from the token-hash of the doc id, the masked
    text is prefix + sentinel + suffix. Pure substring stitch — scan-bound,
    the shape every span-corruption data loader needs at scale. Emits md5
    of the corrupted text plus span bounds so the full string is
    value-checked compactly."""
    d = _t(spark, sf_dir, "documents")
    half = (F.col("n_chars") / 2).cast("bigint")
    start = (pmod_100(tok(F.col("doc_id"))) % F.greatest(half, F.lit(1))) + 1
    length = (pmod_100(tok(F.col("doc_id") + 1)) % F.lit(40)) + 10
    corrupted = F.concat(
        F.expr("substr(text, 1, CAST(span_start - 1 AS INT))"),
        F.lit(SPAN_MASK_TOKEN),
        F.expr("substr(text, CAST(span_start + span_len AS INT))"),
    )
    return (
        d.withColumn("span_start", start)
        .withColumn("span_len", length)
        .select(
            "doc_id",
            "span_start",
            "span_len",
            F.md5(corrupted).alias("corrupted_md5"),
            F.length(corrupted).cast("bigint").alias("corrupted_len"),
        )
    )


def q_fim_split(spark, sf_dir):
    """Fill-in-the-middle split: deterministic (p1, p2) cut points from the
    doc-id hash divide each text into prefix/middle/suffix; emitted as the
    three part md5s + lengths (the FIM transform for code/text training).
    Scan-bound substring arithmetic."""
    d = _t(spark, sf_dir, "documents")
    third = F.greatest((F.col("n_chars") / 3).cast("bigint"), F.lit(1))
    p1 = (pmod_100(tok(F.col("doc_id"))) % third) + 1
    p2 = p1 + (pmod_100(tok(F.col("doc_id") + 2)) % third) + 1
    prefix = F.expr("substr(text, 1, CAST(p1 - 1 AS INT))")
    middle = F.expr("substr(text, CAST(p1 AS INT), CAST(p2 - p1 AS INT))")
    suffix = F.expr("substr(text, CAST(p2 AS INT))")
    return (
        d.withColumn("p1", p1)
        .withColumn("p2", p2)
        .select(
            "doc_id",
            "p1",
            "p2",
            F.md5(prefix).alias("prefix_md5"),
            F.md5(middle).alias("middle_md5"),
            F.md5(suffix).alias("suffix_md5"),
            (F.length(prefix) + F.length(middle) + F.length(suffix))
            .cast("bigint")
            .alias("total_len"),
        )
    )


def q_codec_inet_timeuuid(spark, sf_dir):
    """inet + timeuuid codecs (the last unoracled §1.2 type mappings):
    IPv4 dotted-quad from a hash-derived int, and the canonical RFC-4122 v1
    timeuuid built from (ts_us, clock_seq, node) — all portable integer
    div/mod + hex formatting, reproduced exactly by the oracle. Scan-bound."""
    e = _t(spark, sf_dir, "events")
    ip_int = pmod_100(tok(F.col("event_id"))) * F.lit(42949672) + (
        F.col("event_id") % F.lit(4294967)
    )
    return e.select(
        "event_id",
        codecs.inet_from_int(ip_int).alias("inet_str"),
        codecs.timeuuid_from_parts(
            F.col("ts_us"), F.col("event_id"), F.col("user_id")
        ).alias("timeuuid_str"),
    )
