"""Round-11 regression tests (ADVICE r10 follow-ups + new surface)."""

import pytest


def test_migrate_custom_ttl_writetime_without_tracked_cells(
    spark, sf_dir, monkeypatch
):
    """A constant custom TTL / writetime is honored even when the input has
    NO tracked __ttl_* / __writetime_* cells (ADVICE r10: the constant is a
    fixed override in CDM and needs no per-cell tracking; previously the
    guard `if ttl_cols:` silently dropped it)."""
    from cassandra_data_migrator_spark.config import MigrationConfig
    from cassandra_data_migrator_spark.plans.migrate import run_migrate
    from cassandra_data_migrator_spark.sources import cassandra as cass
    from cassandra_data_migrator_spark.sources.parquet import load_table

    captured = {}

    def fake_write_table(df, ks, tbl, options=None, **kw):
        captured.update(df=df, options=dict(options or {}))
        df.write.format("noop").mode("overwrite").save()

    monkeypatch.setattr(cass, "write_table", fake_write_table)
    events = load_table(spark, sf_dir, "events")  # no attach_* → no tracked cells
    cfg = MigrationConfig(
        {
            "spark.cdm.connect.target.format": "cassandra",
            "spark.cdm.schema.target.table": "ks.t",
            "spark.cdm.transform.custom.ttl": 86400,
            "spark.cdm.transform.custom.writetime": 1723766400000000,
        }
    )
    run_migrate(spark, events, cfg)
    assert captured["options"]["ttl"] == "__ttl"
    assert captured["options"]["writetime"] == "__writetime"
    row = captured["df"].select("__ttl", "__writetime").distinct().collect()
    assert [(r["__ttl"], r["__writetime"]) for r in row] == [
        (86400, 1723766400000000)
    ]


def test_jpeg_progressive_roundtrip_exact():
    """Five-scan SOF2 streams decode to the exact flat-block pixels for
    several shapes, identical to the baseline encoding of the same
    blocks ((dc>>1)<<1 | (dc&1) == dc across the two DC bit planes)."""
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    rng = random.Random(7)
    for w, h in [(8, 8), (32, 8), (32, 48), (16, 24)]:
        blocks = bytes(rng.randrange(256) for _ in range((w // 8) * (h // 8)))
        prog = decode_jpeg(encode_jpeg_gray_progressive(w, h, blocks))
        base = decode_jpeg(encode_jpeg_gray(w, h, blocks))
        assert prog == base
        assert prog[:3] == (w, h, 1)


def test_jpeg_progressive_nonzero_ac_matches_numpy_idct():
    """Encoder-INDEPENDENT §G check: a hand-built progressive stream
    carries nonzero AC coefficients split across an Al=1 first scan and
    an Al=0 refinement (correction bits for both signs), plus the DC bit
    planes; the decoder's final coefficients must match a NumPy IDCT
    reference — pinning the AC-first nonzero path, ZRL-in-band, EOBRUN
    tail correction bits, and sign handling."""
    import math
    import struct

    import numpy as np

    from cassandra_data_migrator_spark.operators.multimodal import (
        JPEG_DC_BITS,
        JPEG_DC_VALS,
        JPEG_QTABLE,
        JPEG_ZIGZAG,
        _jpeg_category,
        _jpeg_huff_encode_map,
        _JpegBitWriter,
        decode_jpeg,
    )

    # final quantized coefficients (zigzag positions): DC=13 (odd → DC
    # refine bit set), k=1 → +3 (correction bit 1), k=20 → −2 (bit 0)
    DC, AC = 13, {1: 3, 20: -2}
    # test-local AC table with EOBn, ZRL, and (run,1) codes
    ac_bits = [0] + [0, 0, 0, 12] + [0] * 12
    ac_vals = [0x00, 0x10, 0x20, 0x30, 0x40, 0x50,
               0x01, 0x11, 0x21, 0x31, 0x41, 0xF0]
    dc_map = _jpeg_huff_encode_map(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_map = _jpeg_huff_encode_map(ac_bits, ac_vals)

    # scan 1: DC first (Al=1): DPCM of 13 >> 1 = 6
    w = _JpegBitWriter()
    hi = DC >> 1
    cat = _jpeg_category(hi)
    code, ln = dc_map[cat]
    w.put(code, ln)
    w.put(hi if hi >= 0 else hi + (1 << cat) - 1, cat)
    s_dc1 = w.flush()

    # scan 2: AC first (Ss=1 Se=63 Al=1): values ÷ 2 toward zero →
    # k=1: +1, eighteen zeros (ZRL + run 2), k=20: −1, EOB0
    w = _JpegBitWriter()
    code, ln = ac_map[0x01]
    w.put(code, ln)
    w.put(1, 1)  # +1
    code, ln = ac_map[0xF0]
    w.put(code, ln)
    code, ln = ac_map[0x21]
    w.put(code, ln)
    w.put(0, 1)  # −1 (cat-1 bits of −1 = 0)
    code, ln = ac_map[0x00]
    w.put(code, ln)
    s_ac1 = w.flush()

    # scan 3: AC refine (Ah=1 Al=0): EOB0 then tail correction bits
    # |3|&1 = 1 for k=1, |−2|&1 = 0 for k=20
    w = _JpegBitWriter()
    code, ln = ac_map[0x00]
    w.put(code, ln)
    w.put(1, 1)
    w.put(0, 1)
    s_ac2 = w.flush()

    # scan 4: DC refine: raw bit 13 & 1 = 1
    w = _JpegBitWriter()
    w.put(1, 1)
    s_dc2 = w.flush()

    def seg(marker, data):
        return struct.pack(">HH", marker, len(data) + 2) + data

    def sos(ss, se, ah, al, ta):
        return seg(0xFFDA, bytes([1, 1, ta, ss, se, (ah << 4) | al]))

    payload = (
        b"\xff\xd8"
        + seg(0xFFDB, bytes([0]) + bytes(JPEG_QTABLE[JPEG_ZIGZAG[i]] for i in range(64)))
        + seg(0xFFC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS))
        + seg(0xFFC4, bytes([0x11]) + bytes(ac_bits[1:]) + bytes(ac_vals))
        + sos(0, 0, 0, 1, 0x00) + s_dc1
        + sos(1, 63, 0, 1, 0x01) + s_ac1
        + sos(1, 63, 1, 0, 0x01) + s_ac2
        + sos(0, 0, 1, 0, 0x00) + s_dc2
        + b"\xff\xd9"
    )
    w_, h_, nc, px = decode_jpeg(payload)
    assert (w_, h_, nc) == (8, 8, 1)

    Fm = np.zeros((8, 8))
    Fm[0, 0] = DC * JPEG_QTABLE[0]
    for k, v in AC.items():
        nat = JPEG_ZIGZAG[k]
        Fm[nat // 8, nat % 8] = v * JPEG_QTABLE[nat]
    c = np.array([1 / math.sqrt(2)] + [1.0] * 7)
    xs = np.arange(8)
    cos_t = np.cos((2 * xs[:, None] + 1) * xs[None, :] * math.pi / 16)
    ref = np.empty((8, 8))
    for y in range(8):
        for x in range(8):
            ref[y, x] = np.sum(
                c[:, None] * c[None, :] * Fm
                * cos_t[y][:, None] * cos_t[x][None, :]
            ) / 4
    ref = np.clip(np.round(ref) + 128, 0, 255)
    got = np.array([[px[y * 8 + x] for x in range(8)] for y in range(8)])
    assert np.array_equal(got, ref), (got, ref)


def test_jpeg_progressive_scan_order_refusals():
    """§G scan-order violations refuse loudly: duplicate first scans,
    refinement without a first scan, non-unit approximation steps,
    sequential headers inside SOF2, DRI/RSTn, and color progressive."""
    import pytest

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    good = encode_jpeg_gray_progressive(8, 8, bytes([100]))

    def scan_headers(buf):
        out, i = [], 2
        while i < len(buf) - 1:
            if buf[i] == 0xFF and buf[i + 1] == 0xDA:
                out.append(i)
            i += 1
        return out

    # duplicate DC first scan: rewrite scan 5's header (DC refine) to Ah=0
    soss = scan_headers(good)
    assert len(soss) == 5
    bad = bytearray(good)
    bad[soss[4] + 9] = 0x01  # Ah<<4|Al byte: 0x10 → 0x01 (a second first)
    with pytest.raises(ValueError, match="duplicate progressive DC first"):
        decode_jpeg(bytes(bad))

    # refinement without matching first: drop scans 2-4, keep DC refine
    # (AC band never initialized → the DC refine is fine but scan 4's AC
    # refinement must refuse) — instead rewrite scan 2 (AC first 1..5)
    # into a refinement header
    bad = bytearray(good)
    bad[soss[1] + 9] = 0x10  # Ah=1 Al=0 over a never-coded band
    with pytest.raises(ValueError, match="without matching first scan"):
        decode_jpeg(bytes(bad))

    # non-unit approximation step: DC refine claiming Ah=2
    bad = bytearray(good)
    bad[soss[4] + 9] = 0x20
    with pytest.raises(ValueError, match="refine one bit"):
        decode_jpeg(bytes(bad))

    # sequential scan header inside a SOF2 frame
    g = encode_jpeg_gray(8, 8, bytes([100]))
    bad2 = bytearray(g)
    bad2[g.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="sequential scan header"):
        decode_jpeg(bytes(bad2))

    # DRI before a progressive scan refuses
    import struct
    dri = struct.pack(">HHH", 0xFFDD, 4, 3)
    sos0 = soss[0]
    with_dri = good[:sos0] + dri + good[sos0:]
    with pytest.raises(ValueError, match="restart intervals in progressive"):
        decode_jpeg(with_dri)

    # color progressive refuses
    cg = encode_jpeg_color(8, 8, bytes([100, 90, 110]))
    bad3 = bytearray(cg)
    bad3[cg.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="single-component"):
        decode_jpeg(bytes(bad3))


def test_jpeg_progressive_kernels_match_module(spark):
    """The progressive encoder kernel must be BYTE-identical to
    encode_jpeg_gray_progressive, and jpeg_stats must decode its output
    to the module decoder's exact pixel stats."""
    import random

    from cassandra_data_migrator_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray_progressive,
        jpeg_encode_gray_progressive,
        jpeg_stats,
    )

    rng = random.Random(11)
    rows = [
        (mid, bytearray(bytes(rng.randrange(256) for _ in range(4 * rng.randrange(1, 7)))))
        for mid in range(12)
    ]
    df = spark.createDataFrame(rows, "media_id long, blocks binary")
    enc = {r["media_id"]: bytes(r["payload"])
           for r in jpeg_encode_gray_progressive(df, block_width=4).collect()}
    for mid, blocks in rows:
        bh = len(blocks) // 4
        assert enc[mid] == encode_jpeg_gray_progressive(32, bh * 8, bytes(blocks))
    stats = {r["media_id"]: r
             for r in jpeg_stats(jpeg_encode_gray_progressive(df, block_width=4)).collect()}
    for mid, blocks in rows:
        w, h, _, px = decode_jpeg(enc[mid])
        s = stats[mid]
        assert (s["width"], s["height"], s["n_pix"]) == (w, h, w * h)
        assert (s["px_sum"], s["px_min"], s["px_max"]) == (sum(px), min(px), max(px))


def test_prefix_filter_cache_survives_stale_slot(spark, sf_dir):
    """Evicting a cached ordered-sets slot left over from a STOPPED
    SparkSession must not raise (ADVICE r10): the new-session key never
    matches (applicationId differs), so the first invocation evicts the
    dead slot — the unpersist must be best-effort."""
    from cassandra_data_migrator_spark.operators import dedup
    from cassandra_data_migrator_spark.sources.parquet import load_table

    class DeadDF:
        def unpersist(self, blocking=False):
            raise RuntimeError("py4j: SparkContext stopped")

    saved = dict(dedup._PREFIX_FILTER_CACHE)
    try:
        dedup._PREFIX_FILTER_CACHE.clear()
        dedup._PREFIX_FILTER_CACHE.update(key=("dead-app",), docs=DeadDF())
        docs = load_table(spark, sf_dir, "documents").limit(50)
        out = dedup.prefix_filter_jaccard_pairs(docs, threshold=0.8)
        assert out.count() >= 0  # must not raise through the eviction
        assert not isinstance(dedup._PREFIX_FILTER_CACHE.get("docs"), DeadDF)
    finally:
        cur = dedup._PREFIX_FILTER_CACHE.get("docs")
        if cur is not None and not isinstance(cur, DeadDF):
            try:
                cur.unpersist(blocking=False)
            except Exception:
                pass
        dedup._PREFIX_FILTER_CACHE.clear()
        dedup._PREFIX_FILTER_CACHE.update(saved)


def test_simhash_hot_bucket_cascade_recovers_pairs(spark):
    """Hot-bucket CASCADE (r11, sf1 certification finding): a pair whose
    ONLY clean chunk is a hot bucket must still be emitted — the rotated
    re-banding recovers it (pigeonhole recurses) where the old immediate
    star-linking dropped it (sf1 recall was 0.30). Exact-duplicate floods
    still degrade to star linking (connectivity, linear pairs)."""
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.operators import dedup

    # bits 0-6 are chunk 0 (9 chunks over 64 bits). All docs share chunk 0
    # = 0 -> one hot bucket at cap 4. Docs 100/101 differ by ONE bit in
    # EACH of the 8 other chunks (hamming 8): they agree ONLY on the hot
    # chunk, so the old star guard (min id 1 links the bucket) missed
    # (100, 101) entirely.
    bounds = [(64 * i) // 9 for i in range(10)]
    flip_each_chunk = 0
    for i in range(1, 9):
        flip_each_chunk |= 1 << bounds[i]
    base = 0
    for i in range(1, 9):
        base |= 0b101 << bounds[i]
    rows = [(100, base), (101, base ^ flip_each_chunk)]
    # fillers: distinct high-bit patterns, chunk 0 still 0, pairwise far
    for j in range(8):
        v = 0
        for i in range(1, 9):
            v |= ((j * 7 + i * 3) % 127) << bounds[i]
        rows.append((j + 1, v & ~0x7F))
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(
            sigs, max_hamming=8, max_bucket_size=4
        ).collect()
    }
    assert (100, 101) in got, "cascade failed to recover the hot-bucket pair"

    # exact-dup flood: identical signatures never split under rotation ->
    # star linking at level 2: exactly f-1 pairs, all from the min id
    flood = spark.createDataFrame(
        [(i, 12345) for i in range(1, 11)], "doc_id long, simhash long"
    )
    fp = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(
            flood, max_hamming=8, max_bucket_size=4
        ).collect()
    )
    assert fp == [(1, i) for i in range(2, 11)]
