"""Deduplication operators for training-data pipelines (SURVEY.md §2b E1/E2
and the north-star mandate): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Scale notes (the whole point of these shapes):
- exact dedup is one hash-groupBy — row_number over md5(text), NOT
  dropDuplicates (whose survivor is nondeterministic under shuffle);
- n-gram Jaccard builds candidate pairs through an inverted shingle index
  (explode → self-equi-join on shingle) so the join is shuffle-partitioned by
  shingle, never a cross join;
- MinHash+LSH replaces the exact index with banded signatures: candidates are
  pairs sharing a band bucket — the 100 TB path where the exact index is too
  hot;
- SimHash gives a 64-bit near-dup key comparable by Hamming distance.

All the hashing uses Spark built-ins (md5/xxhash64/crc32) — JVM-side,
codegen'd. MinHash/SimHash results are engine-specific (hash choice) so those
operators are rows-only-checked; exact and n-gram Jaccard have DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.functions.text import shingles_from_tokens, tokens
from cassandra_data_migrator_spark.session import memo


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep-first exact dedup: (id, content_hash, is_kept) via deterministic
    row_number over (hash, id). Survivors = is_kept=1."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return df.select(
        F.col(id_col),
        h.alias("content_hash"),
        F.row_number().over(w).alias("rn"),
    ).select(
        id_col, "content_hash", (F.col("rn") == 1).cast("int").alias("is_kept")
    )


def content_defined_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hex_prefix: str = "0",
) -> DataFrame:
    """Content-defined chunking (Rabin/CDC-style, over word tokens): a token
    whose md5 starts with ``boundary_hex_prefix`` ENDS a chunk, so chunk
    boundaries move with content — insertions shift only the chunk they land
    in, leaving every other chunk's hash stable (the property fixed-stride
    chunking lacks, and what makes sub-document dedup across crawl snapshots
    work). Expected chunk length = 16^len(prefix) tokens.

    Output: (id, chunk_seq, n_tokens, chunk_hash) — one md5 per chunk, ready
    for a hash-groupBy exact dedup at chunk granularity.

    Plan shape: posexplode (map-side fan-out) → one per-doc window for the
    running boundary count (partitioned by doc — distributed, no global
    window) → one groupBy(doc, chunk) shuffle keyed by the doc id, so skew
    is bounded by the longest single document, not the corpus. The boundary
    hash is md5 (portable), not murmur3 (engine-specific)."""
    toked = df.select(F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "word"))
    is_boundary = F.startswith(F.md5(F.col("word")), F.lit(boundary_hex_prefix)).cast("int")
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toked.select(
        id_col,
        "pos",
        "word",
        F.coalesce(F.sum(is_boundary).over(w), F.lit(0)).cast("bigint").alias("chunk_seq"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "word"))), lambda s: s["word"]
    )
    return chunked.groupBy(id_col, "chunk_seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(ordered, " ")).alias("chunk_hash"),
    )


def shingle_index(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Inverted index: one row per (shingle, doc) — the candidate generator.
    Tokens are projected to a concrete column before shingling so the regex
    split runs once per row (see shingles_from_tokens)."""
    # r12 note: a spread() (pre-explode repartition) was measured here and
    # REJECTED — every shingle_index consumer aggregates or joins right
    # after the explode, and the 1-split fixture scan lets that first
    # partial aggregation run over the WHOLE index in one map task,
    # deduplicating repeated shingles before the exchange; fragmenting the
    # scan 32 ways shipped 32 partial rows per hot shingle instead
    # (dedup_prefix_filter 5.97→7.59 s, dedup_incremental_batch 1.68→2.36,
    # dedup_threshold_sweep 2.31→2.85, contamination_check 1.59→1.74).
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    return toked.select(
        F.col(id_col), F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 shingle.

    Plan shape (one pass over the index, two shuffles total):
      1. inverted index (doc, shingle), computed once and cached — it feeds
         both the pair generator and the per-doc sizes;
      2. groupBy(shingle) → sorted doc list → ordered pairs generated inside
         the JVM (posexplode + explode(slice), codegen'd — see
         _pairs_from_sorted_ids), avoiding the classic index self-join that
         shuffles the index twice;
      3. groupBy(pair) → |A∩B|; |A∪B| = |A|+|B|−|A∩B| via two joins against
         the small per-doc size table (AQE broadcasts it).

    Output (id_a, id_b, jaccard ≥ threshold), id_a < id_b, jaccard rounded to
    4dp before the threshold compare (oracle-identical).
    """
    idx = shingle_index(df, text_col, id_col, n).persist()
    sizes = idx.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"))

    grouped = (
        idx.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    inter = (
        _pairs_from_sorted_ids(grouped, None)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH (the at-scale fuzzy-dedup path)


def incremental_jaccard_pairs(
    batch: DataFrame,
    corpus: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    corpus_index: DataFrame | None = None,
    corpus_sizes: DataFrame | None = None,
) -> DataFrame:
    """New-batch-vs-corpus exact n-gram Jaccard — the PRODUCTION dedup mode:
    a daily ingest batch is deduped against the standing corpus WITHOUT ever
    re-pairing the corpus with itself (the all-pairs ngram_jaccard_pairs
    shape is the bootstrap; this is every day after).

    Plan shape: candidates come from ONE shingle equi-join of the (small)
    batch index against the corpus index — never a self-join. At fixture
    scale the corpus index shuffles by shingle once per run; at 100 TB the
    corpus index is materialized bucketed-by-shingle (sources/layout.py +
    tests/test_bucketing.py's zero-Exchange join), so the per-batch join
    co-locates with NO corpus shuffle at all, and batch-side state is
    batch-sized. Intersections are exact counts over the joined shingles;
    unions come from the two per-doc size tables (batch side broadcast).
    The one skew risk is hot boilerplate shingles — run boilerplate
    removal (queries.q_boilerplate_ngrams) upstream, the same composition
    a C4-style pipeline applies anyway.

    At 100 TB the standing corpus maintains TWO artifacts, passed in
    instead of ``corpus``: ``corpus_index`` — the (id, shingle) inverted
    index written ``bucketBy(N, "shingle")`` so the per-batch shingle join
    co-locates with ZERO corpus-side Exchange — and ``corpus_sizes`` — the
    per-doc shingle-count table (bucket it by id to kill the union-join
    shuffle too). Both are incrementally maintained as batches merge in.
    tests/test_bucketing.py pins the zero-corpus-Exchange plan and exact
    result parity with the derive-from-``corpus`` path.

    Output (batch_id, corpus_id, jaccard >= threshold), jaccard rounded to
    4dp before the threshold compare (oracle-identical, like
    ngram_jaccard_pairs)."""
    if corpus is None and corpus_index is None:
        raise ValueError(
            "incremental_jaccard_pairs needs either corpus (derive in-run) "
            "or corpus_index (standing bucketed artifact)"
        )
    if corpus_sizes is not None and corpus_index is None:
        raise ValueError(
            "corpus_sizes without corpus_index mixes a raw-corpus-derived "
            "index with external sizes — pass both standing artifacts or "
            "neither"
        )
    bi = shingle_index(batch, text_col, id_col, n)
    ci = (
        corpus_index
        if corpus_index is not None
        else shingle_index(corpus, text_col, id_col, n)
    )
    b_sizes = bi.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    ).withColumnRenamed(id_col, "batch_id")
    c_sizes = (
        corpus_sizes.select(F.col(id_col).alias("corpus_id"), F.col("nc"))
        if corpus_sizes is not None
        else ci.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
        .withColumnRenamed(id_col, "corpus_id")
    )
    inter = (
        bi.withColumnRenamed(id_col, "batch_id")
        .join(ci.withColumnRenamed(id_col, "corpus_id"), "shingle")
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    )
    scored = (
        inter.join(F.broadcast(b_sizes), "batch_id")
        .join(c_sizes, "corpus_id")
        .withColumn(
            "jaccard",
            F.round(F.col("ni") / (F.col("nb") + F.col("nc") - F.col("ni")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return scored.select("batch_id", "corpus_id", "jaccard")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
) -> DataFrame:
    """num_hashes min-hash values per doc over word shingles.

    Hash family: xxhash64(shingle, seed=i) — computed per shingle inside one
    higher-order ``transform``, min-aggregated per doc. One explode + one
    groupBy; no Python.
    """
    idx = shingle_index(df, text_col, id_col, n)
    hashed = idx.select(
        id_col,
        *[F.xxhash64(F.col("shingle"), F.lit(i)).alias(f"h{i}") for i in range(num_hashes)],
    )
    aggs = [F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    return hashed.groupBy(id_col).agg(*aggs)


def _pairs_from_sorted_ids(grouped: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Expand each sorted ``ids`` array into ordered (id_a, id_b) pairs via
    two generators: posexplode picks the left element, then explode over
    ``slice(ids, pos+2, …)`` emits every later element as the right side.
    Generate + slice are whole-stage-codegen'd; the equivalent nested
    higher-order ``transform`` building an array-of-struct-pairs is
    CodegenFallback (interpreted, per-element allocations) and measured ~2×
    slower on the same input.

    With ``max_bucket_size`` set, over-cap buckets keep only pos==0 — the
    min id pairs with every other element (STAR linking, f−1 pairs instead
    of f(f−1)/2)."""
    step = grouped.select("ids", F.posexplode("ids").alias("pos", "id_a"))
    if max_bucket_size is not None:
        step = step.filter(
            (F.size("ids") <= F.lit(max_bucket_size)) | (F.col("pos") == 0)
        )
    return step.select(
        F.col("id_a"),
        F.explode(
            F.slice(F.col("ids"), F.col("pos") + F.lit(2), F.size("ids"))
        ).alias("id_b"),
    )


def _bucketed_pairs(
    banded: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket_size: int | None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a (doc, bucket) table, hot-bucket
    guarded — the inverted-index shape ``ngram_jaccard_pairs`` uses: ONE
    groupBy(bucket) shuffle, pairs generated inside the JVM from each
    bucket's sorted id list. No self-join (which would shuffle the banding
    pipeline twice and recompute it per join side).

    A degenerate bucket of f docs would emit f(f−1)/2 pairs — one poison key
    dominating the whole job at 100 TB — so buckets over ``max_bucket_size``
    degrade to STAR linking: every doc pairs with the bucket's min id (f−1
    pairs, linear; see _pairs_from_sorted_ids). The star keeps the bucket
    connected for downstream cluster assignment (the common degenerate cause
    is an exact-duplicate flood, where every star pair passes verification);
    the recall cost is only pairs whose docs share no other, smaller bucket.
    Per-bucket memory is O(f) (the collected id list); adversarial floods
    beyond that should be pre-filtered (df-cap, see SCALE.md).
    """
    grouped = (
        banded.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return _pairs_from_sorted_ids(grouped, max_bucket_size).distinct()


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (All-Pairs /
    PPJoin-style: Bayardo et al., WWW'07; Xiao et al., WWW'08) — same
    answer as the full inverted-index pipeline (``ngram_jaccard_pairs``)
    but candidates come from each set's PREFIX only, the canonical
    at-scale exact path.

    The lemma: order every set by one global total order (here ascending
    document frequency, rarest first, ties by shingle text — so prefixes
    land on the LEAST shared tokens); if J(A,B) ≥ t, the first
    |A| − ⌈t·|A|⌉ + 1 elements of A and the first |B| − ⌈t·|B|⌉ + 1 of B
    must share at least one element. So generating candidates only from
    prefix-token buckets loses nothing, and at t = 0.5 the exploded index
    halves while the rare-first ordering collapses bucket sizes (the hot
    shingles that dominate ``shingle_index`` buckets sort LAST and never
    enter a prefix).

    Plan shape (all JVM, no self-join):
      1. per-doc distinct shingle sets (one projection);
      2. document frequency per shingle (one groupBy over the exploded
         index) joined back — the one extra shuffle prefix filtering buys
         its candidate reduction with;
      3. per-doc rare-first ordering via ``array_sort`` on (df, shingle)
         structs, prefix = ``slice`` of length n − ⌈t'·n⌉ + 1;
      4. prefix buckets → ordered pairs inside the JVM
         (_pairs_from_sorted_ids — no index self-join);
      5. exact verification: length filter (min ≥ t'·max, the other
         All-Pairs bound), ``array_intersect`` on the full sets, Jaccard
         rounded to 4dp ≥ threshold (oracle-identical arithmetic).

    t' = threshold − 0.001: the output filter compares ROUND(J, 4) ≥ t,
    which admits true J a hair below t; the slack keeps the prefix bound
    (stated for J ≥ t) a superset of everything the rounded filter can
    pass — at most one extra prefix element per set.

    Verification is exact, so an over-long prefix can never change the
    answer — only cost candidates.

    Caching: ``docs`` (the per-doc ordered sets, read 3×: prefix explode
    + both verification sides) is persisted behind a ONE-SLOT keyed memo,
    the ``session.memo`` entry ``"prefix_filter"``: an identical invocation
    reuses the materialized table, a different input unpersists the
    previous slot — so a long-lived session holds at most one cached copy
    rather than accumulating per input. The prefix
    buckets run UNBOUNDED (``max_bucket_size=
    None``): the prefix lemma needs every in-bucket pair for exactness,
    so a clone-flood corpus (f near-identical docs sharing a rare prefix
    shingle) emits O(f²) candidate pairs from that bucket. That is
    inherent to exact All-Pairs; for adversarial inputs pre-filter with
    a df-cap or route to the banded MinHash path (see SCALE.md).

    Staleness caveat: the memo key is the CANONICALIZED LOGICAL PLAN, not
    the data. If the files behind an identical plan are rewritten in
    place within one session, the memo returns the previously persisted
    ordered-sets table (Spark's own CacheManager plan-matching behaved the
    same before the memo was explicit). Stop/recreate the session, vary a
    param, or clear the slot after an in-place rewrite."""
    t_relaxed = threshold - 0.001
    # Identical invocations (same analyzed input plan + params) REUSE the
    # persisted ordered-sets table: a naive eager unpersist regressed the
    # bench key 3.35x by rematerializing per run. A DIFFERENT input evicts
    # the previous slot. A slot never outlives its application: the
    # session record is replaced with the SparkContext.
    slot = memo(df.sparkSession, "prefix_filter", dict)
    cache_key = (
        id_col,
        text_col,
        n,
        threshold,
        # canonicalized: expression IDs are normalized, so two loads of the
        # same table produce the SAME key (plain analyzed().toString()
        # embeds fresh #exprIds per invocation and never matches)
        df._jdf.queryExecution().analyzed().canonicalized().toString(),
    )
    if slot.get("key") == cache_key:
        docs = slot["docs"]
    else:
        toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        sets = (
            toked.select(
                F.col(id_col), shingles_from_tokens(F.col("__toks"), n).alias("sh")
            )
            .filter(F.size("sh") >= 1)
        )
        idx = sets.select(F.col(id_col), F.explode("sh").alias("shingle"))
        # document frequency WITHOUT a big-index join: group the index by
        # shingle once (the dedup_ngram bucket shuffle), emit (df, shingle,
        # doc) by re-exploding the posting list, then regroup by doc — two
        # index shuffles total instead of agg + join + regroup (the join
        # variant measured ~2x slower end-to-end)
        postings = idx.groupBy("shingle").agg(
            F.collect_list(F.col(id_col)).alias("__ids")
        )
        docs = (
            postings.select(
                "shingle",
                F.size("__ids").cast("bigint").alias("__df"),
                F.explode("__ids").alias(id_col),
            )
            .groupBy(id_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
                ).alias("__ordered")
            )
            .select(
                F.col(id_col),
                F.transform(F.col("__ordered"), lambda s: s["shingle"]).alias("sh"),
                F.size("__ordered").cast("int").alias("n_sh"),
            )
            .persist()
        )
        if "docs" in slot:
            slot["docs"].unpersist(blocking=False)
        slot.update(key=cache_key, docs=docs)
    prefix_len = F.greatest(
        F.lit(1),
        (
            F.col("n_sh")
            - F.ceil(F.col("n_sh") * F.lit(t_relaxed)).cast("int")
            + F.lit(1)
        ),
    )
    pref = docs.select(
        F.col(id_col),
        F.explode(F.slice(F.col("sh"), F.lit(1), prefix_len)).alias("shingle"),
    )
    cand = _bucketed_pairs(pref, id_col, ["shingle"], None)
    da = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("sh").alias("__sh_a"),
        F.col("n_sh").alias("__n_a"),
    )
    db = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("sh").alias("__sh_b"),
        F.col("n_sh").alias("__n_b"),
    )
    ni = F.size(F.array_intersect("__sh_a", "__sh_b"))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .filter(
            F.least("__n_a", "__n_b")
            >= F.greatest("__n_a", "__n_b") * F.lit(t_relaxed)
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                ni / (F.col("__n_a") + F.col("__n_b") - ni), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band hash →
    candidate (id_a, id_b) pairs. Shuffle key = (band, bucket); buckets over
    ``max_bucket_size`` degrade to star linking (see _bucketed_pairs) so one
    hot bucket cannot go quadratic."""
    hash_cols = [c for c in signatures.columns if c != id_col]
    rows_per_band = len(hash_cols) // num_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(*[F.col(hash_cols[bi * rows_per_band + r]) for r in range(rows_per_band)]).alias(
                    "bucket"
                ),
            )
            for bi in range(num_bands)
        ]
    )
    banded = signatures.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return _bucketed_pairs(banded, id_col, ["band", "bucket"], max_bucket_size)


def minhash_similarity(
    signatures: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing minhashes for each candidate
    pair (id_a, id_b, est_jaccard)."""
    hash_cols = [c for c in signatures.columns if c != id_col]
    sa = signatures.select(
        F.col(id_col).alias("id_a"), F.array(*hash_cols).alias("sig_a")
    )
    sb = signatures.select(
        F.col(id_col).alias("id_b"), F.array(*hash_cols).alias("sig_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(agree / F.lit(len(hash_cols)), 4).alias("est_jaccard"),
        )
    )


def dedup_fuzzy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH fuzzy dedup end-to-end: candidate pairs with estimated
    Jaccard ≥ threshold (rows-only checked — hash family is engine-specific).

    ``sigs``: pass a precomputed/materialized signature table (e.g. the
    session-shared standing artifact queries._minhash_sigs maintains) to
    skip the shingle+hash pass entirely; it must match num_hashes."""
    # signatures feed three downstream plans (banding, two sides of the
    # similarity join) — cache them so the shingle+hash pass runs once
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, num_hashes).persist()
    pairs = lsh_candidate_pairs(sigs, id_col, num_bands)
    return minhash_similarity(sigs, pairs, id_col).filter(
        F.col("est_jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash


SIMHASH_LANE_BITS = 21  # 3 lanes of 21 bits per 64-bit accumulator
SIMHASH_LANES = 3
SIMHASH_MAX_TOKENS = (1 << SIMHASH_LANE_BITS) - 1  # per-doc bound: 2,097,151


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc: per-token xxhash64, bit-vote via SWAR-packed
    sums, reassembled into one BIGINT. All JVM expressions.

    The ±1 vote is factored as plain bit sums (vote_i > 0 ⟺ 2·Σbit_i > n),
    and the 64 per-bit counters are SWAR-packed 3-per-accumulator (21-bit
    lanes): aggregation column g sums ``Σ_j ((h >> (3g+j)) & 1) << 21j``, so
    the groupBy carries 22 sum buffers instead of 64 — same signature
    bit-for-bit, smaller agg state and codegen. A 21-bit lane is exact up to
    2,097,151 tokens per doc (~10 MB of text); docs over the cap are EXCLUDED
    from the output (a lane overflow would silently corrupt the signature —
    exclusion is visible, corruption is not). Feed longer docs through
    guardrail/truncation first if they must participate."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    hashed = toks.select(id_col, F.xxhash64("tok").alias("h"))
    n_groups = (64 + SIMHASH_LANES - 1) // SIMHASH_LANES  # 22

    def _packed(g: int):
        expr = None
        for j in range(SIMHASH_LANES):
            i = SIMHASH_LANES * g + j
            if i >= 64:
                break
            lane = F.shiftleft(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)),
                SIMHASH_LANE_BITS * j,
            )
            expr = lane if expr is None else expr + lane
        return expr

    votes = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(_packed(g)).alias(f"p{g}") for g in range(n_groups)],
    )
    lane_mask = (1 << SIMHASH_LANE_BITS) - 1
    sig = None
    for i in range(64):
        g, j = divmod(i, SIMHASH_LANES)
        b_i = F.shiftright(F.col(f"p{g}"), SIMHASH_LANE_BITS * j).bitwiseAND(
            F.lit(lane_mask)
        )
        bit = F.when(b_i * 2 > F.col("n"), F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return votes.filter(F.col("n") <= SIMHASH_MAX_TOKENS).select(
        F.col(id_col), sig.alias("simhash")
    )


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    num_chunks: int = 9,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming ≤ max_hamming) WITHOUT the
    all-pairs product: pigeonhole banding. Split the 64-bit signature into
    ``num_chunks`` chunks; any pair with hamming ≤ max_hamming < num_chunks
    agrees exactly on ≥1 chunk, so candidates = equi-join on (chunk_idx,
    chunk_value) — a hash shuffle, not a BroadcastNestedLoopJoin. Exact
    hamming filter afterwards keeps the output identical to brute force
    (modulo the hot-bucket star guard, see _bucketed_pairs).

    Chunk boundaries are [floor(64·i/n), floor(64·(i+1)/n)) so every chunk is
    real: a uniform width of ceil(64/n) would shift the last chunk past bit
    63 (the JVM masks shifts mod 64, silently duplicating chunk 0) and break
    the ≥1-clean-chunk pigeonhole guarantee at hamming == max_hamming.

    Hot buckets CASCADE instead of immediately star-linking (r11, found by
    the sf1 full-surface certification: low-entropy chunk regions of a
    shared-vocabulary corpus put ~thousands of docs in one bucket, and
    star-linking there dropped pair recall to 0.30): members of a bucket
    over ``max_bucket_size`` are RE-BANDED by the chunks of the signature
    ROTATED by 29 bits — the pigeonhole guarantee recurses (the pair still
    has ≤ max_hamming dirty bits total, and the rotated decomposition is a
    fresh 9-way partition of the same 64 bits, so ≥1 rotated chunk is
    clean) while the rotation decorrelates the sub-bucket key from the
    parent's low-entropy region. Only sub-buckets STILL over the cap
    (exact-duplicate floods — h=0 pairs agree on every chunk at every
    rotation, so their family never splits) degrade to star linking, which
    preserves connectivity for cluster assignment (every star pair passes
    the exact hamming refine there).
    """
    if max_hamming >= num_chunks:
        raise ValueError("pigeonhole requires max_hamming < num_chunks")
    bounds = [(64 * i) // num_chunks for i in range(num_chunks + 1)]

    def _chunks_of(sig, tag):
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias(f"{tag}_idx"),
                    F.shiftrightunsigned(sig, bounds[i])
                    .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
                    .alias(f"{tag}_val"),
                )
                for i in range(num_chunks)
            ]
        )

    # r13 (§2.3): the exact hamming refine is applied BEFORE the candidate
    # dedup — measured at sf0.1 only 88k of 2.8M distinct candidates (3%)
    # survive hamming<=8, so the distinct used to shuffle 6.5M raw pair
    # rows to keep 2.8M and then throw 97% of them away in the refine. The
    # refine is a per-row deterministic function of the pair (two
    # broadcast-sized joins + bit_count in codegen), so filter-then-
    # distinct is value-identical to distinct-then-filter; the dedup
    # shuffle now carries only the ~3% survivors.
    banded = sigs.select(
        F.col(id_col), F.explode(_chunks_of(F.col("simhash"), "c")).alias("c")
    ).select(
        id_col,
        F.col("c.c_idx").alias("chunk_idx"),
        F.col("c.c_val").alias("chunk_val"),
    )
    grouped = (
        banded.groupBy("chunk_idx", "chunk_val")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is None:
        cand = _pairs_from_sorted_ids(grouped, None)
    else:
        # r13 (§2.4/§5): small and hot are two branches over the same
        # grouped table — unpersisted, Catalyst re-runs the banded explode
        # and the bucket shuffle once per branch. The bucket table is one
        # row per (chunk, value) with the member id list: persist it.
        grouped = grouped.persist()
        small = grouped.filter(F.size("ids") <= max_bucket_size)
        hot = grouped.filter(F.size("ids") > max_bucket_size)
        p_small = _pairs_from_sorted_ids(small, None)
        # cascade PER PARENT bucket: hot members re-banded by the rotated
        # chunks UNDER the parent key. The conditioning matters — a parent
        # bucket of f docs splits into rotated sub-buckets of ~f/2^w, while
        # a pooled re-banding of all hot members would re-band ~N docs into
        # ~N/2^w buckets that are hot all over again (measured: pooled
        # recall 0.72 at sf1 vs 0.97 per-parent). Membership rows are
        # bounded by the level-0 banding size (each doc sits in ≤ 9 hot
        # parents), and the signature rides a join on the one-row-per-doc
        # sigs table rather than fattening the main groupBy payload.
        rot = 29
        hm = hot.select(
            "chunk_idx", "chunk_val", F.explode("ids").alias(id_col)
        ).join(sigs.select(F.col(id_col), F.col("simhash")), id_col)
        sub = hm.select(
            "chunk_idx",
            "chunk_val",
            F.col(id_col),
            F.explode(
                _chunks_of(
                    F.shiftrightunsigned(F.col("simhash"), rot).bitwiseOR(
                        F.shiftleft(F.col("simhash"), 64 - rot)
                    ),
                    "s",
                )
            ).alias("s"),
        ).select(
            "chunk_idx",
            "chunk_val",
            id_col,
            F.col("s.s_idx").alias("sub_idx"),
            F.col("s.s_val").alias("sub_val"),
        )
        sub_grouped = (
            sub.groupBy("chunk_idx", "chunk_val", "sub_idx", "sub_val")
            .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        # level-2: full pairs when small, star when still hot (exact-dup
        # floods — identical signatures never split under any rotation)
        p_sub = _pairs_from_sorted_ids(sub_grouped, max_bucket_size)
        cand = p_small.unionByName(p_sub)
    # exact hamming refine: join the (small, one-row-per-doc) signature table
    # back onto the candidate ids — AQE broadcasts it when it fits. The
    # refine runs on the RAW candidate stream; the distinct afterwards
    # dedups only the ~3% survivors (see the r13 note above). hamming is a
    # pure function of (id_a, id_b), so distinct over the triple equals
    # distinct over the pair.
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", hamming64(F.col("__sig_a"), F.col("__sig_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# duplicate-cluster assignment (connected components)


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 10,
) -> DataFrame:
    """Assign every doc to a duplicate cluster: cluster_id = min doc id
    reachable through the pair graph (connected components via iterative
    min-label propagation — the standard Spark-side closing step after
    MinHash-LSH candidate generation).

    Each iteration is one distributed join+groupBy; the driver only loops
    (log(component-diameter) iterations, capped). Convergence check: labels
    only ever DECREASE (least(...)), so any change strictly lowers
    Σcluster_id — compare that one exact decimal aggregate per iteration
    instead of joining old vs new labels (a big⋈big shuffle per round at
    100 TB; the sum is a single reduce over the checkpointed labels).

    The loop runs ONLY over edge endpoints: any id outside the pair graph is
    a singleton by construction, so it never needs to ride the iterative
    joins. At 100 TB the dup graph is typically a few percent of the corpus,
    so this cuts every per-round shuffle from |corpus| to |graph nodes|; the
    corpus-sized work is exactly one final left join (labels side is the
    small one — AQE broadcasts it when it fits).
    Returns (id, cluster_id); singletons keep their own id.
    """
    labels = cluster_labels(pairs, max_iterations=max_iterations)
    return attach_cluster_labels(ids, labels, id_col=id_col)


def cluster_labels(pairs: DataFrame, max_iterations: int = 10) -> DataFrame:
    """The label-propagation loop of ``dedup_clusters``, factored out (r12)
    so the resolved (id, cluster_id) table over the pair graph can stand as
    a session artifact shared by the assignment/report/canonical keys — a
    real pipeline checkpoints exactly this table after the components job.
    Covers ONLY edge endpoints; singletons are attached by
    ``attach_cluster_labels``."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # edges is symmetrized, so distinct src = every node of the pair graph
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )

    def _label_sum(lbls: DataFrame):
        return lbls.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
        ).collect()[0].s

    prev_sum = _label_sum(labels)
    for _ in range(max_iterations):
        # 1-hop: min over neighbor labels
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        hop = labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # pointer jump: label ← label(label)  ⇒ O(log diameter) convergence
        parent = hop.select(
            F.col("id").alias("p_id"), F.col("cluster_id").alias("p_cluster")
        )
        jumped = hop.join(parent, hop.cluster_id == parent.p_id, "left").select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("p_cluster"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # cut lineage each round — iterative plans otherwise grow unboundedly
        labels = jumped.localCheckpoint(eager=True)
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def attach_cluster_labels(
    ids: DataFrame, labels: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Project resolved graph labels onto the corpus: singletons (ids not in
    the pair graph) keep their own id; one corpus-sized left join against
    the small resolved-label table (AQE broadcasts it when it fits)."""
    return ids.select(F.col(id_col).alias("id")).join(labels, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
    )


def line_dedup_rebuild(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 8,
    min_chars: int = 25,
) -> DataFrame:
    """C4-style corpus-wide line dedup with document rebuild (the removal
    transform the substring profile only measures): derive fixed
    ``line_tokens``-token lines from the pinned tokenizer (a real corpus
    passes newline-split lines straight through the same shape), keep each
    duplicated long line's FIRST occurrence corpus-wide — min (id, pos) —
    and reconstruct every document from its surviving lines in order.

    Scale shape: keep-first is ONE map-side-combinable aggregation,
    ``groupBy(line).agg(min(struct(id, pos)))`` — partial combine absorbs
    hot duplicate lines BEFORE the shuffle (no window over a skewed line
    partition, no self-join); lines shorter than ``min_chars`` bypass the
    shuffle entirely (C4 keeps boilerplate handling separate, and a
    universal short line would otherwise be the hot key); the rebuild
    groups each doc's own lines (uniform key, doc-sized state)."""
    base = df.select(
        F.col(id_col), tokens(text_col).alias("__ts")
    ).filter(F.size("__ts") >= 1)
    starts = F.sequence(F.lit(1), F.size("__ts"), F.lit(line_tokens))
    lines = base.select(
        id_col, F.explode(starts).alias("__p"), "__ts"
    ).select(
        id_col,
        ((F.col("__p") - 1) / line_tokens).cast("bigint").alias("pos"),
        F.array_join(F.slice("__ts", F.col("__p"), F.lit(line_tokens)), " ").alias("line"),
    )
    long_l = lines.filter(F.length("line") >= min_chars)
    short_l = lines.filter(F.length("line") < min_chars)
    firsts = long_l.groupBy("line").agg(F.min(F.struct(id_col, "pos")).alias("__f"))
    kept = short_l.unionByName(
        firsts.select(
            F.col(f"__f.{id_col}").alias(id_col), F.col("__f.pos").alias("pos"), "line"
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_dedup"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_dropped"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def cap_shingle_df(
    index: DataFrame, max_df: int, shingle_col: str = "shingle"
) -> DataFrame:
    """Document-frequency cap on an inverted shingle index — the n-gram
    family's control #4 (SCALE.md): drop shingles appearing in MORE than
    ``max_df`` docs before any pair generation. A boilerplate shingle
    shared by f docs contributes f(f-1)/2 candidate pairs and near-zero
    discriminative signal; capping removes the quadratic term, costing
    recall only for pairs whose entire overlap is ultra-common shingles
    (standard MinHashLSH practice). Downstream similarity is then over
    the capped representation on BOTH sides — sizes and intersections
    must come from the same filtered index.

    Plan: one map-side-combinable df count, then a broadcast LEFT ANTI
    join against the HOT list only — by Zipf the shingles over any useful
    cap are a tiny head (the common case is a handful of boilerplate
    strings), so the broadcast stays small while the index itself never
    shuffles for the filter."""
    hot = (
        index.groupBy(shingle_col)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select(shingle_col)
    )
    return index.join(F.broadcast(hot), shingle_col, "left_anti")
