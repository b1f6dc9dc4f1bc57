"""Churn, ksample, dhash, z-order and substring-dedup keys."""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    F,
    Window,
    _t,
    tokens,
)
from cassandra_data_migrator_spark.queries.analytics import (  # noqa: F401
    LINE_TOKENS,
)
from cassandra_data_migrator_spark.queries.multimodal_keys import (  # noqa: F401
    PPM_MAX_H,
    PPM_W,
)

CHURN_EDIT_MOD = 3  # recrawl fixture: mod-3 docs lose their first line


def q_doc_edit_churn(spark, sf_dir):
    """Recrawl/document-version churn profile: per doc, line-set overlap
    between two snapshots (A = the fixture text; B = a planted edit —
    mod-3 docs lose their first LINE_TOKENS-token line; dropping a whole
    line keeps every later boundary aligned, so the expected churn is
    exactly one removed line and nothing added).
    Lines derive exactly as line_dedup's fixed-width segments; the
    metrics (distinct-line counts, added/removed, Jaccard) are per-row
    higher-order array ops — in a real recrawl the two sides arrive via
    the PK equi-join validate_diff already plans, and the per-doc metric
    computation here rides that join's output row: scan-shaped at any
    corpus size."""
    d = _t(spark, sf_dir, "documents")
    arr = d.select("doc_id", tokens("text").alias("ts"))
    ts = F.col("ts")
    ts_b = F.when(
        F.col("doc_id") % CHURN_EDIT_MOD == 0,
        F.slice(ts, LINE_TOKENS + 1, F.greatest(F.size(ts) - LINE_TOKENS, F.lit(0))),
    ).otherwise(ts)
    both = arr.select("doc_id", ts.alias("ta"), ts_b.alias("tb"))

    def lines(col):
        return F.when(F.size(col) < 1, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(col), F.lit(LINE_TOKENS)),
                lambda p: F.array_join(F.slice(col, p, LINE_TOKENS), " "),
            )
        )

    la = F.array_distinct(lines(F.col("ta")))
    lb = F.array_distinct(lines(F.col("tb")))
    out = both.select(
        "doc_id",
        F.size(la).cast("bigint").alias("n_lines_a"),
        F.size(lb).cast("bigint").alias("n_lines_b"),
        F.size(F.array_except(lb, la)).cast("bigint").alias("n_added"),
        F.size(F.array_except(la, lb)).cast("bigint").alias("n_removed"),
        F.size(F.array_intersect(la, lb)).cast("bigint").alias("__common"),
        F.size(F.array_union(la, lb)).cast("bigint").alias("__union"),
    )
    return out.select(
        "doc_id",
        "n_lines_a",
        "n_lines_b",
        "n_added",
        "n_removed",
        F.round(F.col("__common") / F.col("__union"), 4).alias("line_jaccard"),
        (F.col("__common") < F.col("__union")).alias("churned"),
    )


KSAMPLE_K = 20  # exact per-group sample size
KSAMPLE_SEED = "ks0:"  # seeded hash order — re-keyable per epoch/run


def q_group_ksample(spark, sf_dir):
    """Deterministic EXACT-k uniform sample per group (the eval-set /
    inspection-set builder: stratified_sample keeps a RATE, this keeps a
    COUNT): order each language's docs by a seeded content-independent
    md5 and keep the first k. Hash order makes the sample uniform,
    deterministic, and re-keyable (new seed = fresh sample); the window
    is PARTITIONED by group — per-reducer state is one group, never the
    corpus. A group smaller than k returns whole (exact-k where
    possible)."""
    d = _t(spark, sf_dir, "documents")
    skey = F.md5(
        F.concat(F.lit(KSAMPLE_SEED), F.col("doc_id").cast("string")).cast("binary")
    )
    w = Window.partitionBy("lang").orderBy("skey", "doc_id")
    return (
        d.select("doc_id", "lang", skey.alias("skey"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KSAMPLE_K)
        .select("doc_id", "lang", F.col("rnk").cast("int").alias("rnk"))
    )


DHASH_TWIN_MOD = 5  # mod-5 docs re-arrive brightness-shifted (+1 per channel)


def _shift_printable_up1(c):
    """`+1 per channel byte` over a printable-ASCII payload string.

    Prefer built-ins: the original form
    `array_join(transform(split(s, ''), c -> char(ascii(c)+1)), '')` boxes
    every CHARACTER of every payload into a 1-char string and walks it with
    an interpreted (CodegenFallback) lambda — millions of boxed evals per
    batch. `translate` is one codegen'd dictionary pass. Bit-identical on
    the domain the callers guarantee (payloads are sanitized to [ -~], i.e.
    0x20..0x7E): for every printable c, char(ascii(c)+1) IS the next code
    point 0x21..0x7F, exactly this translate mapping, and both forms leave
    no other characters to map."""
    printable = "".join(chr(i) for i in range(0x20, 0x7F))
    shifted_to = "".join(chr(i) for i in range(0x21, 0x80))
    return F.translate(c, printable, shifted_to)
DHASH_TWIN_SHIFT = 10_000_000


def q_dhash_near_dup(spark, sf_dir):
    """PERCEPTUAL image near-dup via difference hash (the image-side
    MinHash: re-encoded/brightness-shifted copies of an image keep their
    gradient signs, so equal dHashes bucket perceptual duplicates).
    Fixture: the PPM payloads of multimodal_decode, plus a planted
    brightness-shifted TWIN (+1 per channel byte — every payload byte
    differs, exact/byte dedup finds nothing) for mod-5 docs; grayscale
    (r+g+b)//3 shifts by exactly +1 per pixel, so every gradient
    comparison — and the hash — is PROVABLY invariant, and the twin lands
    in its base image's bucket. The Arrow kernel
    (operators/multimodal.ppm_dhash) decodes and hashes; keep-first +
    group size ride one (height, dhash) window shuffle (the url_dedup
    shape). The oracle recomputes every gradient bit from the original
    text bytes via ord(substr(...)) arithmetic — twins included, using
    the invariance identity ((a+1)+(b+1)+(c+1))//3 == (a+b+c)//3 + 1."""
    from cassandra_data_migrator_spark.operators.multimodal import ppm_dhash

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    row_bytes = PPM_W * 3
    base = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(PPM_MAX_H), (F.length(san) / F.lit(row_bytes)).cast("int")
        ).alias("__h"),
    ).filter(F.col("__h") >= 1)
    shifted = _shift_printable_up1(F.col("__s"))
    twins = base.filter(F.col("media_id") % DHASH_TWIN_MOD == 0).select(
        (F.col("media_id") + DHASH_TWIN_SHIFT).alias("media_id"),
        shifted.alias("__s"),
        "__h",
    )
    media = base.unionByName(twins)
    payload = F.concat(
        F.lit(f"P6\n{PPM_W} "),
        F.col("__h").cast("string"),
        F.lit("\n255\n"),
        F.col("__s").substr(F.lit(1), F.col("__h") * F.lit(row_bytes)),
    ).cast("binary")
    hashed = ppm_dhash(media.select("media_id", payload.alias("payload")))
    w = Window.partitionBy("height", "dhash")
    return hashed.select(
        "media_id",
        "height",
        "dhash",
        "n_bits",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_dups"),
        (F.col("media_id") == F.min("media_id").over(w)).alias("is_rep"),
    )


DHASH_HAM_MOD = 11  # mod-11 docs gain a single-pixel-edit twin
DHASH_HAM_SHIFT = 20_000_000
DHASH_BAND_BITS = 10  # 3 x 10-bit bands cover the <=30-bit fixture hashes
DHASH_BANDS = 3
DHASH_HAM_MAX = 2  # report pairs at Hamming <= 2 (pigeonhole: any pair
# within Hamming <= DHASH_BANDS-1 shares at least one equal band)


def q_dhash_banded_near_dup(spark, sf_dir):
    """BANDED-Hamming perceptual near-dup — the scale path dhash_near_dup's
    exact-equality grouping lacks (a re-encode that flips ONE gradient bit
    escapes an equality bucket forever): split each dHash into
    DHASH_BANDS bit-bands (the SimHash pigeonhole move applied to
    images), candidates = same (height, band, value) in ANY band — an
    equi-join, never an all-pairs scan — then the exact Hamming
    distance (ONE bit_count(xor) per candidate pair) keeps pairs at
    <= DHASH_HAM_MAX. Pigeonhole guarantees completeness for distance
    < DHASH_BANDS; the oracle runs the IDENTICAL algorithm so parity is
    exact regardless.

    Fixture plants BOTH twin families: the brightness-shifted twins
    (provably Hamming 0 — see dhash_near_dup) and new SINGLE-PIXEL-EDIT
    twins (mod-11 docs; the first channel byte of pixel (0,0) is
    deterministically permuted, which can flip ONLY the row-0 (0,1)
    gradient bit — Hamming <= 1 BY CONSTRUCTION, the controlled near-miss
    an equality bucket loses and banding must recover)."""
    from cassandra_data_migrator_spark.operators.multimodal import ppm_dhash

    d = _t(spark, sf_dir, "documents")
    san = F.regexp_replace(F.col("text"), "[^ -~]", "")
    row_bytes = PPM_W * 3
    base = d.select(
        F.col("doc_id").alias("media_id"),
        san.alias("__s"),
        F.least(
            F.lit(PPM_MAX_H), (F.length(san) / F.lit(row_bytes)).cast("int")
        ).alias("__h"),
    ).filter(F.col("__h") >= 1)
    shifted = _shift_printable_up1(F.col("__s"))
    bright = base.filter(F.col("media_id") % DHASH_TWIN_MOD == 0).select(
        (F.col("media_id") + DHASH_TWIN_SHIFT).alias("media_id"),
        shifted.alias("__s"),
        "__h",
    )
    # pixel-(0,0) channel edit: deterministic printable permutation of the
    # FIRST byte — only gray(0,0) changes, so only row-0's (0,1) bit can flip
    edited = F.concat(
        F.char(((F.ascii(F.substring(F.col("__s"), 1, 1)) - 32 + 47) % 95) + 32),
        F.expr("substring(__s, 2)"),
    )
    near = base.filter(F.col("media_id") % DHASH_HAM_MOD == 0).select(
        (F.col("media_id") + DHASH_HAM_SHIFT).alias("media_id"),
        edited.alias("__s"),
        "__h",
    )
    media = base.unionByName(bright).unionByName(near)
    payload = F.concat(
        F.lit(f"P6\n{PPM_W} "),
        F.col("__h").cast("string"),
        F.lit("\n255\n"),
        F.col("__s").substr(F.lit(1), F.col("__h") * F.lit(row_bytes)),
    ).cast("binary")
    # one-file fixture scan -> one task; fan the payload rows so the decode
    # kernel uses every core. Hash-partition on
    # media_id instead of round-robin — keyless repartition pays a local
    # sort of the full payload rows (SPARK-23207), pure waste here.
    from cassandra_data_migrator_spark.operators.partition import spread_by

    hashed = ppm_dhash(
        spread_by(media.select("media_id", payload.alias("payload")), "media_id")
    )
    # production dHash is FIXED-SIZE (a 9x8 resample -> 72 bits); the
    # variable-height fixture analog is the full-height stratum (30 bits).
    # Short hashes (h=1 -> 3 bits) are meaningless for near-dup AND make
    # the candidate join quadratic in the short-image population — a real
    # 100x hazard, so they are excluded by CONTRACT, not by luck.
    # BOTH sides of the
    # band self-join below re-evaluated the whole construct→decode subtree
    # (4 MapInPandas in the earlier plan — the decode ran twice per run, plus
    # the payload exchange twice). The hash table is 4 small columns per
    # image; persist it so the decode runs ONCE and the join reads cache.
    hashed = hashed.filter(F.col("height") == PPM_MAX_H).persist()
    bands = hashed.select(
        "media_id",
        "height",
        "dhash",
        F.explode(F.sequence(F.lit(0), F.lit(DHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        # (dhash div 2^(band*10)) % 1024 — integer arithmetic stated the
        # same way in the DuckDB twin (shiftright takes no column numBits)
        "val",
        F.expr(
            f"(dhash div shiftleft(cast(1 as bigint), band * {DHASH_BAND_BITS}))"
            f" % {1 << DHASH_BAND_BITS}"
        ),
    )
    a = bands.select(
        F.col("media_id").alias("id_a"),
        F.col("dhash").alias("__ha"),
        "height",
        "band",
        "val",
    )
    b = bands.select(
        F.col("media_id").alias("id_b"),
        F.col("dhash").alias("__hb"),
        "height",
        "band",
        "val",
    )
    cand = (
        a.join(b, ["height", "band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return cand.select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= DHASH_HAM_MAX)


# Morton/bucket math lives with the other layout levers (compaction, hive
# partitioning, zorder_binned/write_zordered) in sources/layout.py; the
# audit key and its DuckDB oracle below use the SAME formula string so
# both engines compute bit-identical buckets.
from cassandra_data_migrator_spark.sources.layout import (  # noqa: E402
    ZORDER_BITS,
    ZORDER_BUCKET_DIV,
    ZORDER_BUCKETS,
    ZORDER_LIN_DIV,
    ZORDER_SCALE,
)
from cassandra_data_migrator_spark.sources.layout import (  # noqa: E402
    zorder_binned as _layout_zorder_binned,
)
from cassandra_data_migrator_spark.sources.layout import (  # noqa: E402
    zorder_sql as _zorder_sql,
)

ZORDER_BOX_Y = (64, 127)  # bin-space query box: second y-quarter, full x


SUBSTR_DEDUP_LEN = 40  # Lee et al. 2022 use 50 BPE tokens; 40 chars here


def q_substring_dedup_spans(spark, sf_dir):
    """Exact substring-duplication profile — the unaligned complement to
    chunk_dedup's stride-aligned chunks (a repeated span that straddles a
    chunk boundary is invisible to stride hashing; every-position grams
    catch it, the approach of Lee et al. 2022 'Deduplicating Training
    Data Makes Language Models Better'). Every position's L-char gram is
    counted corpus-wide (ONE partitioned window over the gram — no
    self-join, no second explode), and each doc reports how much of it is
    covered by text that occurs elsewhere (incl. within-doc repeats).

    Scale: the explode is O(total chars) rows and the gram shuffle is the
    documented cost of exact substring dedup (production runs hash the
    gram to 8 bytes before the shuffle — same plan, 5x fewer bytes; kept
    as the raw string here so the DuckDB oracle is hash-free). A
    pathological hot gram is the same skew class the dedup family's
    hot-bucket caps treat."""
    from cassandra_data_migrator_spark.operators.partition import spread

    d = _t(spark, sf_dir, "documents").filter(
        F.length("text") >= SUBSTR_DEDUP_LEN
    )
    # The gram explode fans 10k docs into 1.3M rows; on
    # the 1-split fixture scan it ran serial (measured 1.67 s explode-only,
    # 2.71 s with the window vs 0.43 / 1.23 s spread; spread() is a no-op
    # once the scan itself is parallel)
    d = spread(d)
    pos = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - SUBSTR_DEDUP_LEN + 1)
        ).alias("p"),
        F.col("text"),
    ).select(
        "doc_id", F.expr(f"substr(text, p, {SUBSTR_DEDUP_LEN})").alias("gram")
    )
    w = Window.partitionBy("gram")
    tagged = pos.withColumn("cnt", F.count(F.lit(1)).over(w))
    # Shuffle fewer bytes: only DUP positions
    # (cnt > 1) enter the per-doc re-aggregation — the old form shipped every
    # position row through the second exchange to count rows whose total is
    # already known arithmetically: n_grams(doc) == len(text) − L + 1 is
    # EXACTLY the per-doc position count the explode emits (sequence(1,
    # len−L+1)), so it comes off the base scan. Zero-dup docs surface via
    # the left join with n_dup_grams = 0, the same row the old sum-of-flags
    # aggregate produced. Value-identical: count/sum types (bigint), the
    # bigint/bigint double division and round(…,4) are unchanged.
    dups = (
        tagged.filter(F.col("cnt") > 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"))
    )
    n_grams = (F.length("text") - SUBSTR_DEDUP_LEN + 1).cast("bigint")
    return (
        d.select("doc_id", n_grams.alias("n_grams"))
        .join(dups, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("bigint")).alias(
                "n_dup_grams"
            ),
            F.round(
                F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("bigint"))
                / F.col("n_grams"),
                4,
            ).alias("dup_frac_r4"),
        )
    )


def q_zorder_prune_audit(spark, sf_dir):
    """Z-order (Morton) clustered layout vs linear layout, measured by
    bucket-level min/max pruning — the lakehouse data-clustering decision
    quantified: bin (user_id, ts_us) to an 8-bit grid (equal-width, bounds
    from a 1-row broadcast agg), interleave to a 16-bit z-value, and split
    the table into 16 z-buckets vs 16 linear-by-x buckets. For a query box
    covering one quarter of the time range across ALL users, count how
    many buckets' (min,max) time stats overlap the box: the z layout
    co-locates time ranges (touches ~4/16) while the x-linear layout
    scatters them (touches ~16/16) — exactly the file-skipping delta a
    z-ordered table write buys at 100 TB, where each bucket is a file and
    'touched' is 'scanned'. All-integer binning (div, never float), so
    the oracle computes bit-identical buckets."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts_us")
    return zorder_prune_stats(e)


def zorder_prune_stats(e):
    """The z-vs-linear bucket-prune measurement over any (user_id, ts_us)
    frame — split out of q_zorder_prune_audit so tools/scale_stress.py can
    drive it on the clone-union stress input."""
    z = _layout_zorder_binned(e, "user_id", "ts_us")
    y_lo, y_hi = ZORDER_BOX_Y
    # Aggregate before the shuffle:
    # the three consumers (z buckets, linear buckets, n_rows) each re-ran
    # the full bin+Morton corpus pass (plan: 8 exchanges, 3 scans + 3 rng
    # aggs). min/max/count compose, so ONE pass aggregates the ≤ 16×16
    # (zbkt, xbkt) cell grid and all three outputs re-aggregate cells:
    # per-bucket min/max over cell-level min/max is the identical value, so
    # `touched` and n_rows are unchanged. The cell table is persisted (256
    # rows) so the corpus pass runs exactly once per action.
    cells = (
        z.groupBy(
            F.expr(f"zv div {ZORDER_BUCKET_DIV}").alias("zbkt"),
            F.expr(f"xs div {ZORDER_LIN_DIV}").alias("xbkt"),
        )
        .agg(
            F.min("ys").alias("mny"),
            F.max("ys").alias("mxy"),
            F.max("n_rows").alias("n_rows"),
        )
        .persist()
    )
    touched = (F.max("mxy") >= y_lo) & (F.min("mny") <= y_hi)
    zt = (
        cells.groupBy("zbkt")
        .agg(touched.alias("hit"))
        .agg(F.sum(F.col("hit").cast("int")).cast("bigint").alias("z_buckets_touched"))
    )
    lt = (
        cells.groupBy("xbkt")
        .agg(touched.alias("hit"))
        .agg(F.sum(F.col("hit").cast("int")).cast("bigint").alias("lin_buckets_touched"))
    )
    n = cells.agg(F.max("n_rows").alias("n_rows"))
    return (
        n.crossJoin(F.broadcast(zt))
        .crossJoin(F.broadcast(lt))
        .select(
            "n_rows",
            "z_buckets_touched",
            "lin_buckets_touched",
            F.round(
                F.col("lin_buckets_touched") / F.col("z_buckets_touched"), 4
            ).alias("prune_gain_r4"),
        )
    )
