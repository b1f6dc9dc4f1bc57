"""ANN quantization keys: PQ/SQ8/IVFADC/JL, KN holdout, curation pipeline.
"""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    F,
    KN_OOV_MOD,
    SPLIT_TRAIN_LT,
    TOPK_K,
    TOPK_QUERY_PRED,
    Window,
    _nll4_exact,
    _t,
    tokens,
)
from cassandra_data_migrator_spark.queries.dedup_text import (  # noqa: F401
    _brute_topk,
    _crawl_url_expr,
    _ivf_centroids,
)
from cassandra_data_migrator_spark.queries.sql_frontend import (  # noqa: F401
    _brute_topk_clustered,
    _clustered_emb,
)
from cassandra_data_migrator_spark.queries.lm_quality import (  # noqa: F401
    DOMAIN_MIN_DOCS,
    DOMAIN_SITES,
    DOMAIN_TLDS,
    KN_DISCOUNT,
)
from cassandra_data_migrator_spark.session import artifact, memo

PQ_BLOCKS = 8  # subvector blocks (64-dim fixture -> 8 dims per block)
PQ_CODES = 16  # codewords per block codebook
PQ_ITERS = 3  # lloyd iterations per block codebook
PQ_SHORTLIST = 150  # ADC shortlist FLOOR (15x k — the faiss-style ratio;
# 50 missed same-cluster neighbors at sf0.1: clustered recall 0.34 -> 1.00 at 150)
PQ_SHORTLIST_FRAC = 0.08  # density scaling — see _shortlist_size
PQ_RECALL_MIN = 0.5  # floor on the NEAR-UNIFORM fixture (LSH-hostile regime)
PQ_RECALL_CLUSTERED_MIN = 0.85  # floor on the clustered (realistic) fixture


def _shortlist_size(n_rows: int) -> int:
    """ADC shortlist budget: max(15·k, 8% of the corpus). The 15·k floor
    is the faiss-style fixed ratio; the density term exists because for a
    FIXED quantizer resolution the number of candidates inside the ADC
    error radius grows linearly with corpus density — at sf1 (10× rows,
    same 4-bit-per-block codes) the fixed 150-shortlist measured clustered
    recall 0.20; 8% ≈ the fixture's per-cluster mass (N/ANN_CLUSTER_G),
    where recall plateaus at 0.96 (measured: 600→0.50, 1500→0.96,
    3000→0.96 on the 20k-row sf1 corpus — the residue is genuine
    quantization misranking, not shortlist truncation). A real 100 TB
    deployment grows CODEBOOK bits log-linearly instead of letting the
    re-rank scan 8% of the corpus — the audit keeps the shortlist lever
    because the fixture pins codebook geometry across scales."""
    return max(PQ_SHORTLIST, -(-(8 * n_rows) // 100))  # ceil(0.08·n)


def _pq_codebooks(spark, base, col, cache_key):
    """The trained PQ codebooks: per block, lloyd_kmeans over that slice of
    array column ``col`` (``__v`` for plain PQ, the residual ``__r`` for
    IVFADC). A ``session.memo`` keyed by (col, cache_key): lloyd_kmeans is
    deterministic (pinned init + DECIMAL mean sums), so the memo changes
    cost, never results, and bench's runs and the plan tests stop
    retraining 8 codebooks per call. ``base`` is a ZERO-ARG CALLABLE
    returning the training table, invoked only on a memo miss, so callers
    don't build the table per call."""
    from cassandra_data_migrator_spark.operators import cluster as cl

    def _train():
        table = base()
        bs = 64 // PQ_BLOCKS
        books = []
        for m in range(PQ_BLOCKS):
            blk = table.select("vec_id", F.slice(col, m * bs + 1, bs).alias("__b"))
            _, cents = cl.lloyd_kmeans(
                blk, "__b", "vec_id", k=PQ_CODES, iters=PQ_ITERS
            )
            books.append(cents)
        return books

    return memo(spark, ("pq_codebooks", col, cache_key), _train)


def _pq_audit(spark, emb, brute, floor, cache_key, cents, nprobe=None,
              query_pred=TOPK_QUERY_PRED, _measure=False):
    """Shared PQ recall audit body (see q_pq_recall_audit): train per-block
    codebooks, encode (+ coarse IVF cell) into ONE standing index, ADC
    shortlist, exact re-rank of the shortlist, hit-join vs brute force.

    ADC is DATA, not code: the query-side table
    carries a ``__luts`` column — PQ_BLOCKS arrays of PQ_CODES per-block
    squared distances, computed IN-PLAN from the (unit) query vector
    against the codebook literals — and the scoring expression is a fixed
    sum of PQ_BLOCKS ``F.get`` lookups into the joined LUT arrays. The
    codebook literals cost O(BLOCKS·CODES·dim) plan nodes ONCE; query
    count adds rows, never branches (pinned by tests/test_plans.py::
    test_pq_adc_plan_query_count_invariant). The previous shape collected
    each query and baked its LUT in as ``F.lit`` arrays chained with
    unionByName — O(#queries) Catalyst branches, which would blow plan
    compilation at real serving query counts (10³–10⁶).

    ``nprobe=None`` ADC-scores every corpus row (plain PQ; the bounded
    probe-broadcast class). ``nprobe=k`` is IVFADC — the faiss production
    composition (coarse quantizer prunes WHICH rows, PQ compresses HOW
    each survivor is scored): the index rows carry their nearest coarse
    cell, each query probes its k nearest cells, and the scoring join
    becomes a (cell) equi-join, so at 100 TB the index is scanned with a
    cell-partition prune and the stream never shuffles (queries are the
    broadcast side). A (query, vec) pair meets at most once — a corpus
    row lives in exactly ONE cell — so no post-join dedup is needed
    (unlike banded LSH).
    """
    from cassandra_data_migrator_spark.functions.vectors import (
        as_double_array,
        dot,
        norm,
        unit_udf_factory,
    )
    from cassandra_data_migrator_spark.operators import cluster as cl
    from cassandra_data_migrator_spark.operators import similarity

    v = as_double_array("embedding")
    unit = F.transform(v, lambda x: x / norm(v))
    dim = 64
    bs = dim // PQ_BLOCKS
    # The codebook trainer's input was
    # `emb.select(unit)` — an O(dim²)-interpreted-steps-per-row lineage that
    # lloyd_kmeans re-evaluates on EVERY iteration of EVERY block (8 blocks
    # × (init + iters + final) ≈ 40 corpus passes; measured as the bulk of
    # the one-time 59 s index build). Materializing the unit-normalized
    # corpus ONCE through the bit-identical Arrow kernel (the sq8 keys'
    # unit_udf_factory) turns each training pass into a parquet read — the
    # normalized copy is exactly what a real index build persists first.
    # ubase is consumed ONLY by codebook training, which is memoized
    # per session — building (and parquet-writing) it unconditionally made
    # every PQ-family run pay a dead corpus pass once the bench started
    # purging artifacts per run. Build it lazily inside
    # the training-miss path instead.
    codebooks = _pq_codebooks(
        spark,
        lambda: artifact(
            spark,
            f"pq_unit_base|{cache_key}",
            lambda: emb.select("vec_id", unit_udf_factory()(v).alias("__v")),
        ),
        "__v",
        cache_key,
    )

    # ONE standing index feeds both the plain-PQ and the IVFADC audits:
    # (vec_id, coarse cell, unit vector, 8 one-byte codes) — exactly what a
    # real IVFADC index persists. Built once per session as a parquet
    # artifact (the _brute_topk precedent; without it every consumer re-ran
    # the 128-fold decimal argmin over the corpus — measured 13 s → ~2 s).
    # The per-block code assignment goes through the Arrow exact-
    # decimal argmin kernel (cluster._assign_exact_arrow_udf — bit-identical
    # to the `array_min(struct(_sq_dist_exact, i))` expression, pinned by
    # tests/test_cluster.py::test_assign_exact_arrow_identity) instead of
    # 8 × 16 interpreted decimal folds per row (guide §4.2).
    def _build_index():
        cells = similarity.assign_ivf_cells(emb, cents, "embedding", nprobe=1)
        b = cells.select(
            "vec_id",
            F.element_at("cells", 1).alias("cell"),
            unit_udf_factory()(v).alias("__v"),
        )
        code_ks = [
            cl._assign_exact_arrow_udf(list(enumerate(codebooks[m])))
            for m in range(PQ_BLOCKS)
        ]
        return b.select(
            "vec_id",
            "cell",
            "__v",
            *[
                code_ks[m](F.slice("__v", m * bs + 1, bs))["cluster_id"]
                .cast("int")
                .alias(f"c{m}")
                for m in range(PQ_BLOCKS)
            ],
        )

    enc = artifact(spark, f"pq_index|{cache_key}", _build_index)

    # The codebook is DATA too — a 128-row (block, code, centroid) table
    # beside the index. Building the LUTs as a query x codebook join keeps
    # the scoring plan at ONE fixed-size expression: the first rewrite
    # computed the 8x16 distance table as 128 aggregate expressions on the
    # query column, which was correct and query-count-invariant but cost
    # ~5.5 s of DRIVER-side py4j Column construction on EVERY call
    # (measured; execution itself was 0.2 s). Built directly from the
    # memoized codebook lists — the former parquet artifact
    # round-trip (a write job + read per run under the honest bench) was
    # pure overhead for a 128-row driver-side table.
    books = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (m, i, [float(x) for x in c])
                for m, bk in enumerate(codebooks)
                for i, c in enumerate(bk)
            ],
            1,
        ),
        schema="block int, code int, cvec array<double>",
    )

    qraw = emb.filter(query_pred)
    if nprobe:
        qdf = similarity.assign_ivf_cells(
            qraw, cents, "embedding", nprobe=nprobe
        ).select(
            F.col("vec_id").alias("query_id"),
            unit.alias("__qv"),
            F.explode("cells").alias("cell"),
        )
    else:
        qdf = qraw.select(F.col("vec_id").alias("query_id"), unit.alias("__qv"))

    # per-(query, block, code) squared distance — one expression, any count
    blk = F.slice(F.col("__qv"), F.col("block") * bs + 1, bs)
    d = F.aggregate(
        F.zip_with(blk, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    luts = (
        qraw.select(F.col("vec_id").alias("query_id"), unit.alias("__qv"))
        .join(F.broadcast(books), F.lit(True))
        .select("query_id", "block", "code", d.alias("d"))
        .groupBy("query_id", "block")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "d"))),
                lambda s: s["d"],
            ).alias("lut")
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("block", "lut"))),
                lambda s: s["lut"],
            ).alias("__luts")
        )
    )
    qdf = qdf.join(F.broadcast(luts), "query_id")
    if nprobe:
        cand = enc.join(F.broadcast(qdf), ["cell"]).filter(
            F.col("vec_id") != F.col("query_id")
        )
    else:
        cand = enc.join(F.broadcast(qdf), F.col("vec_id") != F.col("query_id"))

    adc = None
    for m in range(PQ_BLOCKS):
        term = F.get(F.get(F.col("__luts"), m), F.col(f"c{m}"))
        adc = term if adc is None else adc + term
    # exact refine metric on unit vectors: L2² = 2 − 2·cos
    scored = cand.select(
        "query_id",
        "vec_id",
        adc.alias("__adc"),
        (2.0 - 2.0 * dot(F.col("__qv"), F.col("__v"))).alias("__ed"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.col("__adc"), F.col("vec_id"))
    shortlist = scored.withColumn("__r1", F.row_number().over(w1)).filter(
        F.col("__r1") <= _shortlist_size(emb.count())
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("__ed"), F.col("vec_id"))
    pq_topk = (
        shortlist.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= TOPK_K)
        .select("query_id", "vec_id")
    )
    n_brute = brute.agg(F.count(F.lit(1)).cast("bigint").alias("n_brute"))
    n_hit = brute.join(pq_topk, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    out_cols = [
        F.col("n_brute"),
        F.lit(PQ_BLOCKS * PQ_CODES).cast("bigint").alias("n_codewords"),
    ]
    if nprobe:
        out_cols.append(F.lit(len(cents)).cast("bigint").alias("n_cells"))
    out_cols.append(
        (
            (F.col("n_brute") == 0)
            | (F.col("n_hit") / F.col("n_brute") >= floor)
        ).alias("recall_ok")
    )
    if _measure:
        out_cols.append(F.col("n_hit"))  # floor-setting/tests only, never oracled
    return n_brute.crossJoin(F.broadcast(n_hit)).select(*out_cols)


def q_pq_recall_audit(spark, sf_dir):
    """PRODUCT QUANTIZATION recall contract — the faiss scale recipe the
    similarity family still lacked (IVF prunes WHICH vectors to score; PQ
    compresses HOW each candidate is scored: 64 dims x 8 bytes become 8
    one-byte codes, so a 100 TB embedding corpus's index fits in memory
    and the candidate scan reads 8 LUT lookups per row instead of 64
    floats), deployed in the production two-stage shape: ADC shortlist
    (PQ_SHORTLIST per query) -> EXACT re-rank of the shortlist only.

    Spark-first: per-block codebooks lloyd-train driver-side (the
    kmeans/BPE class of bounded driver state — 8 blocks x 16 centroids);
    ENCODING is a codegen'd projection (exact-decimal argmin per block,
    the assign_clusters_exact discipline — the corpus never shuffles);
    ADC is a broadcast-LUT join — the query table carries its 8x16
    distance tables as an ARRAY COLUMN computed in-plan, and the scoring
    expression is 8 F.get lookups, so the plan has ONE branch at any
    query count (see _pq_audit); every corpus row pays
    PQ_BLOCKS array lookups + adds; the exact refine touches only the
    shortlist. Cosine ground truth via L2-normalized vectors (cosine
    ranking == L2 ranking on the unit sphere).

    Floors: ADC-only recall on this fixture is 0.26-0.36 (quantization
    error dominates when vectors are near-uniform AND when the clustered
    fixture's within-cluster ranking is noise-determined); the two-stage
    recipe at PQ_SHORTLIST=150 measures 0.76-0.9 uniform / 0.96-1.00
    clustered across sf0.001-0.1 — the floor pair (0.5 / 0.85) brackets
    both regimes like the LSH audits. Oracle
    pins exact counts + contract boolean (codebooks are engine-side
    state, the ivf_recall_audit discipline)."""
    emb = _t(spark, sf_dir, "embeddings")
    brute = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    cents = _ivf_centroids(spark, sf_dir)
    return _pq_audit(spark, emb, brute, PQ_RECALL_MIN, f"pq|{sf_dir}", cents)


def q_pq_recall_clustered(spark, sf_dir):
    """PQ recall contract on the CLUSTERED fixture (the realistic regime —
    see q_pq_recall_audit; the mixture-of-Gaussians table and exact
    ground truth are shared with ann/ivf_recall_clustered)."""
    emb = _clustered_emb(spark, sf_dir)
    brute = _brute_topk_clustered(spark, sf_dir).select("query_id", "vec_id")
    cents = _ivf_centroids(spark, sf_dir, variant="clustered", emb_df=emb)
    return _pq_audit(
        spark, emb, brute, PQ_RECALL_CLUSTERED_MIN, f"pqc|{sf_dir}", cents
    )


PQ_IVF_NPROBE = 2  # coarse cells probed per query (matches topk_similarity_ivf)
# IVFADC floors: composition recall <= min(IVF-alone, PQ-alone) in theory;
# measured across sf0.001/0.01/0.1 (see BASELINE.md): uniform
# 0.88/0.90/0.88 (the cell prune REMOVES distractors that crowd true
# neighbors off the ADC shortlist, so it beats plain PQ's 0.76 at sf0.1),
# clustered 0.96/1.00/1.00 — floors bracket both regimes with the same
# margin discipline as the PQ/LSH audits.
PQ_IVF_RECALL_MIN = 0.6
PQ_IVF_RECALL_CLUSTERED_MIN = 0.85


def q_pq_ivf_recall_audit(spark, sf_dir):
    """IVFADC recall contract — the faiss production composition: the
    trained IVF coarse quantizer prunes WHICH index rows
    are scored (queries probe their PQ_IVF_NPROBE nearest of the
    KMEANS_K lloyd cells; the index stores each row's cell), and PQ's ADC
    compresses HOW each survivor is scored (8 LUT lookups), followed by
    the exact re-rank of the PQ_SHORTLIST. Measures the INTERACTION the
    separate audits can't: cell-edge loss (true neighbor in an unprobed
    cell) stacked on quantization loss (ADC misranks the shortlist cut).

    Spark shape: scoring join is a (cell) equi-join with the query side
    broadcast — at 100 TB the index scan prunes to the probed cells
    (cell-partitioned at rest) and never shuffles. Same one-plan ADC as
    pq_recall_audit. Oracle pins exact counts + the floor boolean."""
    emb = _t(spark, sf_dir, "embeddings")
    brute = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    cents = _ivf_centroids(spark, sf_dir)
    return _pq_audit(
        spark, emb, brute, PQ_IVF_RECALL_MIN, f"pq|{sf_dir}", cents,
        nprobe=PQ_IVF_NPROBE,
    )


def q_pq_ivf_recall_clustered(spark, sf_dir):
    """IVFADC recall contract on the CLUSTERED fixture (the realistic
    regime — see q_pq_ivf_recall_audit; fixture, ground truth, codebooks
    and index are all shared with pq_recall_clustered)."""
    emb = _clustered_emb(spark, sf_dir)
    brute = _brute_topk_clustered(spark, sf_dir).select("query_id", "vec_id")
    cents = _ivf_centroids(spark, sf_dir, variant="clustered", emb_df=emb)
    return _pq_audit(
        spark, emb, brute, PQ_IVF_RECALL_CLUSTERED_MIN, f"pqc|{sf_dir}",
        cents, nprobe=PQ_IVF_NPROBE,
    )


SQ_LEVELS = 255  # SQ8: per-dim uniform quantization to codes 0..255
SQ_SHORTLIST = PQ_SHORTLIST  # same two-stage budget as the PQ audits
# SQ8 floors (measured across sf0.001/0.01/0.1: uniform 1.0/1.0/0.98,
# clustered 0.96/1.0/1.0): scalar quantization at 8 bits/dim keeps far
# more geometry than PQ's 4 bits/VECTOR-BLOCK, so its shortlist is
# near-exact in both regimes — the expected SQ8-vs-PQ ordering.
SQ_RECALL_MIN = 0.9
SQ_RECALL_CLUSTERED_MIN = 0.9


def _sq8_recon_udf_factory():
    """Arrow kernel computing EXACTLY the SQ8 encode→dequantize chain the
    audit's expression path runs per element (the _jl_project_udf_factory
    treatment):

      code_i = WHEN mx_i > mn_i
               THEN CAST(ROUND((x_i − mn_i) / (mx_i − mn_i) · 255) AS INT)
               ELSE 0
      rv_i   = mn_i + CAST(code_i AS DOUBLE) / 255 · (mx_i − mn_i)

    The two higher-order transforms are CodegenFallback — measured ~1.3 s
    of the 3.25 s key on 2 000 rows. The kernel replays the same IEEE
    double ops in the same order, vectorized across rows. ROUND on a
    double is BigDecimal.valueOf(d).setScale(0, HALF_UP) in the JVM —
    replicated by the floor(y+0.5) fast path (exact for every y not within
    float-addition error of a .5 boundary; y is non-negative here) with
    the provable-error-window fallback to Decimal(repr(d)), python's repr
    being the same shortest-round-trip decimal as Double.toString.
    Identity vs the expression path is pinned over both fixture corpora by
    tests/test_sq8.py::test_sq8_recon_kernel_bit_identity."""
    import numpy as np
    import pandas as pd
    from decimal import ROUND_HALF_UP, Decimal
    from pyspark.sql.functions import pandas_udf

    Q0 = Decimal(1)
    lv = float(SQ_LEVELS)

    def _recon(vs, mns, mxs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        X = np.array(vs.tolist(), dtype=np.float64)
        MN = np.array(mns.tolist(), dtype=np.float64)
        MX = np.array(mxs.tolist(), dtype=np.float64)
        span = MX - MN
        ok = MX > MN
        with np.errstate(divide="ignore", invalid="ignore"):
            y = (X - MN) / span * lv
        t = np.floor(y + 0.5)
        frac = y - np.floor(y)
        # a float add y+0.5 can cross/miss the .5 decimal boundary only
        # within its own rounding error — everything nearer than one ulp
        # of the sum (plus slack) goes to the exact decimal path
        risky = ok & (np.abs(frac - 0.5) < (np.spacing(y + 0.5) * 2 + 1e-12))
        if risky.any():
            t[risky] = [
                float(Decimal(repr(float(d))).quantize(Q0, rounding=ROUND_HALF_UP))
                for d in y[risky]
            ]
        codes = np.where(ok, t, 0.0)
        RV = MN + codes / lv * span
        return pd.Series([list(row) for row in RV])

    _recon.__annotations__ = {
        "vs": pd.Series, "mns": pd.Series, "mxs": pd.Series, "return": pd.Series
    }
    return pandas_udf(_recon, "array<double>")


def _sq8_audit(spark, emb, brute, floor, query_pred=TOPK_QUERY_PRED,
               _measure=False):
    """SQ8 scalar-quantization recall contract — the third faiss index
    compression tier (IndexScalarQuantizer QT_8bit), completing the
    family next to PQ (pq_recall_audit) and IVFADC: each of the 64 dims
    is quantized INDEPENDENTLY to one byte against per-dim corpus
    [min, max] bounds, so the index stores 64 bytes/vector (8× smaller
    than float64, 8× larger than PQ's 8 codes — the accuracy/size middle
    ground real deployments pick when PQ recall is short).

    Spark shape: the bounds are ONE 64-dim agg over the exploded corpus
    collapsing to a 1-row broadcast (the ks_drift bounds pattern —
    nothing driver-side, no training); encode + dequantize-reconstruct
    are codegen'd array transforms (the corpus never shuffles); scoring
    is the same probe-bounded broadcast-queries class as plain PQ
    (every corpus row pays one zip_with fold against each of the 5
    probes), then the production two-stage shape: approximate shortlist
    (SQ_SHORTLIST) -> exact re-rank. Unlike PQ/IVF there is NO
    engine-side trained state — the quantizer is a pure function of the
    corpus — but the approximate distances are still IEEE-order
    dependent, so the oracle pins exact counts + the floor boolean (the
    established recall-contract discipline)."""
    from cassandra_data_migrator_spark.functions.vectors import (
        as_double_array,
        dot,
        norm,
        unit_udf_factory,
    )

    v = as_double_array("embedding")
    unit = F.transform(v, lambda x: x / norm(v))
    # The expression `unit` re-evaluates the
    # norm fold per element (O(dim²) interpreted steps/row); the corpus-side
    # passes (bounds agg + encode) now normalize through the bit-identical
    # sequential-fold Arrow kernel. The 5-row probe side keeps the
    # expression form (no python node for a handful of rows).
    base = emb.select("vec_id", unit_udf_factory()(v).alias("__v"))
    # per-dim bounds as ONE 128-expression partial aggregate over the
    # un-exploded corpus (the first draft posexploded 64x rows through a
    # shuffle — measured 3.9 s/key in-sweep; this form is 64 gets + 2
    # min/max per row inside codegen, no exchange before the 1-row reduce)
    dim = 64
    stats = base.agg(
        *[F.min(F.get("__v", i)).alias(f"__mn{i}") for i in range(dim)],
        *[F.max(F.get("__v", i)).alias(f"__mx{i}") for i in range(dim)],
    )
    bounds = stats.select(
        F.array(*[F.col(f"__mn{i}") for i in range(dim)]).alias("__mins"),
        F.array(*[F.col(f"__mx{i}") for i in range(dim)]).alias("__maxs"),
    )

    # encode + dequantize as array lambdas: the flat 64-expression variant
    # (F.array of 64 per-dim exprs + a 64-term difference sum) was ALSO
    # tried and measured ~60% SLOWER end-to-end — the expression tree
    # overflows whole-stage codegen's method budget and pays huge plan
    # compile besides (the documented PQ 128-expression lesson). The
    # higher-order-function form keeps the plan small; its per-element
    # interpretation is not the bottleneck at probe-bounded fan-out.
    def _code(x, i):
        mn, mx = F.get(F.col("__mins"), i), F.get(F.col("__maxs"), i)
        return (
            F.when(
                mx > mn,
                F.round((x - mn) / (mx - mn) * F.lit(float(SQ_LEVELS))).cast(
                    "int"
                ),
            )
            .otherwise(F.lit(0))
        )

    def _recon(c, i):
        mn, mx = F.get(F.col("__mins"), i), F.get(F.col("__maxs"), i)
        return mn + c.cast("double") / F.lit(float(SQ_LEVELS)) * (mx - mn)

    # The two transforms above are kept as the documented reference
    # semantics (and the test's expression path); the hot path runs the
    # bit-identical Arrow kernel (_sq8_recon_udf_factory) — the per-element
    # interpreted HOF chain measured ~1.3 s of the key on 2 000 rows.
    enc = (
        base.join(F.broadcast(bounds))
        .select(
            "vec_id",
            "__v",
            _sq8_recon_udf_factory()(
                F.col("__v"), F.col("__mins"), F.col("__maxs")
            ).alias("__rv"),
        )
    )
    qdf = emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"), unit.alias("__qv")
    )
    cand = enc.join(F.broadcast(qdf), F.col("vec_id") != F.col("query_id"))
    adist = F.aggregate(
        F.zip_with("__qv", "__rv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        adist.alias("__ad"),
        (2.0 - 2.0 * dot(F.col("__qv"), F.col("__v"))).alias("__ed"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.col("__ad"), F.col("vec_id"))
    shortlist = scored.withColumn("__r1", F.row_number().over(w1)).filter(
        F.col("__r1") <= SQ_SHORTLIST
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("__ed"), F.col("vec_id"))
    sq_topk = (
        shortlist.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= TOPK_K)
        .select("query_id", "vec_id")
    )
    n_brute = brute.agg(F.count(F.lit(1)).cast("bigint").alias("n_brute"))
    n_hit = brute.join(sq_topk, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    out_cols = [
        F.col("n_brute"),
        F.lit(SQ_LEVELS + 1).cast("bigint").alias("n_levels"),
        (
            (F.col("n_brute") == 0)
            | (F.col("n_hit") / F.col("n_brute") >= floor)
        ).alias("recall_ok"),
    ]
    if _measure:
        out_cols.append(F.col("n_hit"))  # floor-setting/tests only, never oracled
    return n_brute.crossJoin(F.broadcast(n_hit)).select(*out_cols)


def q_sq8_recall_audit(spark, sf_dir):
    """SQ8 recall contract on the near-uniform fixture (the LSH-hostile
    regime) — see _sq8_audit."""
    emb = _t(spark, sf_dir, "embeddings")
    brute = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    return _sq8_audit(spark, emb, brute, SQ_RECALL_MIN)


def q_sq8_recall_clustered(spark, sf_dir):
    """SQ8 recall contract on the CLUSTERED fixture (the realistic regime;
    fixture + exact ground truth shared with the PQ/IVF/ANN audits)."""
    emb = _clustered_emb(spark, sf_dir)
    brute = _brute_topk_clustered(spark, sf_dir).select("query_id", "vec_id")
    return _sq8_audit(spark, emb, brute, SQ_RECALL_CLUSTERED_MIN)


# Residual-encoding IVFADC floors (measured across sf0.001/0.01/0.1, see
# BASELINE.md): training the PQ codebooks on WITHIN-CELL residuals is
# the actual faiss IVFADC recipe — the codebooks model a tighter
# distribution than the global vectors, so the ADC shortlist is cleaner.
IVFADC_RES_RECALL_MIN = 0.6
IVFADC_RES_RECALL_CLUSTERED_MIN = 0.85


def _ivfadc_residual_audit(spark, emb, brute, floor, cache_key, cents,
                           nprobe=PQ_IVF_NPROBE, query_pred=TOPK_QUERY_PRED,
                           _measure=False):
    """Residual-encoding IVFADC (the faiss IndexIVFPQ recipe, completing
    the composition q_pq_ivf_recall_audit runs on GLOBAL codebooks): each
    vector is decomposed as unit(x) = unit(c_cell) + residual, per-block
    codebooks lloyd-train on the RESIDUALS (a tighter distribution than
    the global unit vectors — the whole point of residual coding), the
    index stores (cell, 8 residual codes), and ADC scores
    ||q − x||² = ||q_res − codeword(x_res)||² summed per block, where
    q_res = unit(q) − unit(c_cell) depends on the PROBED cell — so the
    broadcast LUT table is keyed (query_id, cell): still DATA, still one
    plan branch at any query count, one extra tiny join key. Exact
    re-rank of the shortlist unchanged."""
    from cassandra_data_migrator_spark.functions.vectors import (
        as_double_array,
        dot,
        norm,
        unit_udf_factory,
    )
    from cassandra_data_migrator_spark.operators import cluster as cl
    from cassandra_data_migrator_spark.operators import similarity

    v = as_double_array("embedding")
    unit = F.transform(v, lambda x: x / norm(v))
    dim = 64
    bs = dim // PQ_BLOCKS

    def _cents_build():
        # Built directly (8 rows from the memoized centroid list): the
        # former parquet artifact round-trip per run was pure
        # overhead once the bench purges artifacts per run.
        import math

        rows = []
        for cid, cv in cents:
            nrm = math.sqrt(sum(float(x) * float(x) for x in cv)) or 1.0
            rows.append((int(cid), [float(x) / nrm for x in cv]))
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            schema="cell int, ucvec array<double>",
        )

    cents_df = _cents_build()

    # Same fix as _pq_audit: the
    # residual base (unit vector + per-cell residual) used to be rebuilt
    # from the interpreted unit-HOF lineage on EVERY lloyd iteration of
    # EVERY block codebook (~40 corpus passes; the bulk of the one-time
    # 59 s index build this key showed in run-level profiling).
    # The parquet materialization happens ONLY on the training
    # path (memoized once per session, where lloyd's ~40 passes need it);
    # the per-run index build consumes the residual lineage INLINE — it
    # reads the base exactly once, so under the honest bench (per-run
    # artifact purge) materializing it was one dead
    # parquet write+read per run (measured 1.6 s of the key's 5.7 s).
    def _residual_base_build():
        a = similarity.assign_ivf_cells(emb, cents, "embedding", nprobe=1)
        b = a.select(
            "vec_id",
            F.element_at("cells", 1).alias("cell"),
            unit_udf_factory()(v).alias("__v"),
        )
        return b.join(F.broadcast(cents_df), "cell").select(
            "vec_id",
            "cell",
            "__v",
            F.zip_with("__v", "ucvec", lambda a_, b_: a_ - b_).alias("__r"),
        )

    def _residual_base():
        return artifact(
            spark, f"ivfadc_res_base|{cache_key}", _residual_base_build
        )

    # residual codebooks: the same trainer over the residual column
    codebooks = _pq_codebooks(spark, _residual_base, "__r", cache_key)

    def _build_index():
        # per-block residual codes through the Arrow exact-decimal argmin
        # kernel — bit-identical to the array_min(struct(_sq_dist_exact, i))
        # expression it replaces (see _pq_audit). It consumes
        # the residual lineage inline (single read — see note above).
        rb = _residual_base_build()
        code_ks = [
            cl._assign_exact_arrow_udf(list(enumerate(codebooks[m])))
            for m in range(PQ_BLOCKS)
        ]
        return rb.select(
            "vec_id",
            "cell",
            "__v",
            *[
                code_ks[m](F.slice("__r", m * bs + 1, bs))["cluster_id"]
                .cast("int")
                .alias(f"c{m}")
                for m in range(PQ_BLOCKS)
            ],
        )

    enc = artifact(spark, f"ivfadc_res_index|{cache_key}", _build_index)

    # 128-row driver-list table built directly (see _pq_audit's books)
    books_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (m, i, [float(x) for x in c])
                for m, bk in enumerate(codebooks)
                for i, c in enumerate(bk)
            ],
            1,
        ),
        schema="block int, code int, cvec array<double>",
    )

    qraw = emb.filter(query_pred)
    qdf = (
        similarity.assign_ivf_cells(qraw, cents, "embedding", nprobe=nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            unit.alias("__qv"),
            F.explode("cells").alias("cell"),
        )
        .join(F.broadcast(cents_df), "cell")
        .select(
            "query_id",
            "cell",
            "__qv",
            F.zip_with("__qv", "ucvec", lambda a_, b_: a_ - b_).alias("__qr"),
        )
    )
    blk = F.slice(F.col("__qr"), F.col("block") * bs + 1, bs)
    d = F.aggregate(
        F.zip_with(blk, F.col("cvec"), lambda a_, b_: (a_ - b_) * (a_ - b_)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    luts = (
        qdf.join(F.broadcast(books_df), F.lit(True))
        .select("query_id", "cell", "block", "code", d.alias("d"))
        .groupBy("query_id", "cell", "block")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "d"))),
                lambda st: st["d"],
            ).alias("lut")
        )
        .groupBy("query_id", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("block", "lut"))),
                lambda st: st["lut"],
            ).alias("__luts")
        )
    )
    q_full = qdf.join(F.broadcast(luts), ["query_id", "cell"]).select(
        "query_id", "cell", "__qv", "__luts"
    )
    cand = enc.join(F.broadcast(q_full), ["cell"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc = None
    for m in range(PQ_BLOCKS):
        term = F.get(F.get(F.col("__luts"), m), F.col(f"c{m}"))
        adc = term if adc is None else adc + term
    scored = cand.select(
        "query_id",
        "vec_id",
        adc.alias("__adc"),
        (2.0 - 2.0 * dot(F.col("__qv"), F.col("__v"))).alias("__ed"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.col("__adc"), F.col("vec_id"))
    shortlist = scored.withColumn("__r1", F.row_number().over(w1)).filter(
        F.col("__r1") <= _shortlist_size(emb.count())
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("__ed"), F.col("vec_id"))
    topk = (
        shortlist.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= TOPK_K)
        .select("query_id", "vec_id")
    )
    n_brute = brute.agg(F.count(F.lit(1)).cast("bigint").alias("n_brute"))
    n_hit = brute.join(topk, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    out_cols = [
        F.col("n_brute"),
        F.lit(PQ_BLOCKS * PQ_CODES).cast("bigint").alias("n_codewords"),
        F.lit(len(cents)).cast("bigint").alias("n_cells"),
        (
            (F.col("n_brute") == 0)
            | (F.col("n_hit") / F.col("n_brute") >= floor)
        ).alias("recall_ok"),
    ]
    if _measure:
        out_cols.append(F.col("n_hit"))
    return n_brute.crossJoin(F.broadcast(n_hit)).select(*out_cols)


def q_ivfadc_residual_recall_audit(spark, sf_dir):
    """Residual-encoding IVFADC recall contract on the uniform fixture —
    see _ivfadc_residual_audit (the faiss IndexIVFPQ recipe: coarse cell
    + PQ over within-cell residuals + per-(query, cell) LUT table + exact
    re-rank). Oracle pins exact counts + the floor boolean."""
    emb = _t(spark, sf_dir, "embeddings")
    brute = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    cents = _ivf_centroids(spark, sf_dir)
    return _ivfadc_residual_audit(
        spark, emb, brute, IVFADC_RES_RECALL_MIN, f"pq|{sf_dir}", cents
    )


def q_ivfadc_residual_recall_clustered(spark, sf_dir):
    """Residual-encoding IVFADC on the CLUSTERED fixture (the regime where
    residual coding matters most: within-cluster spread ≪ global spread,
    so residual codewords resolve what global codewords blur)."""
    emb = _clustered_emb(spark, sf_dir)
    brute = _brute_topk_clustered(spark, sf_dir).select("query_id", "vec_id")
    cents = _ivf_centroids(spark, sf_dir, variant="clustered", emb_df=emb)
    return _ivfadc_residual_audit(
        spark, emb, brute, IVFADC_RES_RECALL_CLUSTERED_MIN, f"pqc|{sf_dir}", cents
    )


JL_DIM_OUT = 16  # random-projection target dimensionality (64 -> 16)
JL_HASH_MOD = 1_000_003  # prime modulus of the integer-hash matrix entries
JL_HASH_MULT = 2_654_435_761  # Knuth multiplicative constant (tok()'s family)
JL_PAIR_MOD = 50  # sampled corpus side of the audited pair set
JL_J_MULT = 999_983  # row/col mixing primes: chosen so the measured mean
JL_I_MULT = 7_919  # distortion is ~1.0 (the 10007/101 grid correlated rows
# under one Knuth multiplier and systematically SHRANK distances to 0.64)


def _jl_entries() -> list[list[float]]:
    """The deterministic JL matrix entries (16 rows × 64 cols) from EXACT
    integer hash arithmetic (((j·10007 + i·101)·KNUTH mod P) / P − 0.5,
    uniform in [−0.5, 0.5)), NOT sin(): libm sin() is not bit-identical
    across engines, integer modular arithmetic plus one double division
    is. Shared by the data-table form (the oracle's side) and the
    projection kernel, so both see the identical doubles."""
    return [
        [
            ((j * JL_J_MULT + i * JL_I_MULT) * JL_HASH_MULT % JL_HASH_MOD)
            / JL_HASH_MOD
            - 0.5
            for i in range(64)
        ]
        for j in range(JL_DIM_OUT)
    ]


def _jl_matrix(spark):
    """The JL projection matrix as a 16-row DATA table (j, pvec[64]) —
    session artifact; the matrix is what a real pipeline ships with its
    index. The declared key projects through the bit-identical
    Arrow kernel (_jl_project_udf_factory); this table remains the
    expression path's input for the pinned identity contract."""

    def _build():
        rows = [(j, pv) for j, pv in enumerate(_jl_entries())]
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            schema="j int, pvec array<double>",
        )

    return artifact(spark, "jl_matrix", _build)


def _jl_project_expr(base, mat):
    """The expression-path 64→16 projection: broadcast 16-row matrix
    crossjoin, one DECIMAL-exact fold per output dim (terms CAST to
    DECIMAL(28,12) — HALF_UP of the product double's shortest repr — then
    folded through an Add typed DECIMAL(38,11), i.e. every partial sum
    rounds HALF_UP at 1e-11), yj cast to double, groupBy(vec_id)
    re-assembly in j order. This is the form the DuckDB oracle mirrors
    term for term; it is the pinned identity-contract REFERENCE
    for the Arrow kernel the declared key runs
    (tests/test_round12_opt.py::test_jl_kernel_bit_identity)."""
    yj = base.join(F.broadcast(mat), F.lit(True)).select(
        "vec_id",
        "j",
        F.aggregate(
            F.zip_with("__x", "pvec", lambda a, b: (a * b).cast("decimal(28,12)")),
            F.lit(0).cast("decimal(38,12)"),
            lambda acc, v: (acc + v).cast("decimal(38,12)"),
        )
        .cast("double")
        .alias("yj"),
    )
    return yj.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "yj"))), lambda st: st["yj"]
        ).alias("__y")
    )


def _jl_project_udf_factory():
    """Arrow kernel computing EXACTLY _jl_project_expr's per-dim decimal
    fold (the cluster._assign_exact_arrow_udf treatment applied to the JL
    projection):

      t_i  = CAST(x_i · p_ji AS DECIMAL(28,12))   -- HALF_UP of the double
                                                   -- product's shortest repr
      acc  = CAST(acc + t_i AS DECIMAL(38,12))     -- the Add is typed
                                                   -- DECIMAL(38,11): every
                                                   -- partial sum rounds
                                                   -- HALF_UP at 1e-11
      y_j  = CAST(acc AS DOUBLE)                   -- correctly-rounded

    Same integer-quanta replication as the assign kernel: products are the
    identical IEEE doubles numpy computes; 12dp quantization via np.round
    with the provable-error-window fallback to Decimal(repr(d)) (the JVM's
    BigDecimal.valueOf semantics); the per-step 1e-11 rounding is exact
    int64 arithmetic — sign-aware here, since JL terms (unlike squared
    distances) are signed and HALF_UP rounds ties AWAY FROM ZERO. Identity
    vs the expression path is pinned over the full fixture corpus."""
    import numpy as np
    import pandas as pd
    from decimal import ROUND_HALF_UP, Decimal
    from pyspark.sql.functions import pandas_udf

    P = np.array(_jl_entries(), dtype=np.float64)  # (16, 64)
    Q12 = Decimal("1e-12")

    def _proj(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        X = np.array(vs.tolist(), dtype=np.float64)  # raises on ragged input
        D = X[:, None, :] * P[None, :, :]  # (n, 16, 64) IEEE products
        y = D * 1e12
        t = np.round(y)
        # terms whose 12dp HALF_UP could disagree with the float fast path:
        # within (product rounding + repr half-ulp) of a .5 quantum boundary
        frac = y - np.floor(y)
        window = (np.spacing(y) + np.spacing(np.abs(D)) * 1e12) / 2.0 + 1e-3
        risky = np.abs(frac - 0.5) < window
        if risky.any():
            flat = D[risky]
            t[risky] = [
                float(
                    Decimal(repr(float(d))).quantize(Q12, rounding=ROUND_HALF_UP)
                    .scaleb(12)
                )
                for d in flat
            ]
        ti = t.astype(np.int64)  # quanta of 1e-12
        acc = np.zeros(ti.shape[:2], dtype=np.int64)
        for i in range(ti.shape[2]):  # the engine's fold, 1e-11 per step,
            s = acc + ti[:, :, i]  # HALF_UP == away from zero on signed sums
            acc = np.sign(s) * ((np.abs(s) + 5) // 10) * 10
        return pd.Series(
            [
                [float(Decimal(int(v)).scaleb(-12)) for v in row]
                for row in acc
            ]
        )

    _proj.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return pandas_udf(_proj, "array<double>")


def q_jl_projection_audit(spark, sf_dir):
    """Johnson-Lindenstrauss random-projection distance audit: project the
    embeddings 64 → 16 dims through the deterministic integer-hash matrix
    and report, for every (probe, sampled-corpus) pair, the squared-
    distance distortion ||Py_a − Py_b||² / (E·||x_a − x_b||²) with
    E = k·Var(entry) = 16/12 — the dimensionality-reduction primitive a
    100 TB ANN pipeline uses to cut index width before IVF/PQ.

    Spark-first AND oracle-exact end-to-end: the projection is a
    DECIMAL-exact fold per output dim — order-free, so DuckDB's unordered
    SUM reproduces it bit-for-bit; the declared key computes it
    through the bit-identical Arrow kernel (_jl_project_udf_factory, the
    expression form pinned as its identity contract); distances fold the
    same way in expressions; the final ratio is one double expression
    both engines state identically (×12 / ×16 integer literals, never
    the rounded 4/3). Unlike the recall audits, every VALUE here crosses
    the oracle — no floor boolean needed."""
    from cassandra_data_migrator_spark.functions.vectors import as_double_array

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", as_double_array("embedding").alias("__x"))
    # The broadcast-crossjoin + per-dim interpreted
    # decimal fold + groupBy re-assembly (2 000 rows × 16 dims × 64
    # CodegenFallback HOF steps, two exchanges) collapses to ONE Arrow
    # kernel evaluated in the scan stage — zero added exchanges.
    # The kernel used to run BELOW the two side filters, so
    # each branch projected the WHOLE corpus (2 × 2 000 rows through the
    # Decimal quantization) to keep ~45. The kernel is a per-row pure
    # function, so it commutes with the filters: project AFTER them — only
    # the audited pair-set members pay it, and the vec_id predicates reach
    # the scan (PushedFilters) instead of stopping at the Python node.
    kern = _jl_project_udf_factory()
    a = base.filter(TOPK_QUERY_PRED).select(
        F.col("vec_id").alias("id_a"), F.col("__x").alias("__xa"),
        kern(F.col("__x")).alias("__ya"),
    )
    b = base.filter(
        (F.col("vec_id") % JL_PAIR_MOD == 0) & ~F.expr(TOPK_QUERY_PRED)
    ).select(
        F.col("vec_id").alias("id_b"), F.col("__x").alias("__xb"),
        kern(F.col("__x")).alias("__yb"),
    )

    def sqd(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda p, q: ((p - q) * (p - q)).cast("decimal(28,12)")),
            F.lit(0).cast("decimal(38,12)"),
            lambda acc, x: (acc + x).cast("decimal(38,12)"),
        )

    pairs = b.join(F.broadcast(a), F.lit(True)).select(
        "id_a",
        "id_b",
        sqd(F.col("__xa"), F.col("__xb")).alias("__dx2"),
        sqd(F.col("__ya"), F.col("__yb")).alias("__dy2"),
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(F.col("__dx2").cast("double"), 4).alias("dx2_r"),
        (
            F.round(
                (F.col("__dy2").cast("double") * 12.0)
                / (F.col("__dx2").cast("double") * F.lit(float(JL_DIM_OUT))),
                4,
            )
            + 0.0
        ).alias("distortion_r"),
    )






















def q_kn_holdout_perplexity(spark, sf_dir):
    """HELD-OUT Kneser-Ney perplexity — the honest LM evaluation
    kn_perplexity (train == score corpus) never exercises: the model
    trains ONLY on the md5 train split and scores the held-out docs, so
    the UNSEEN-event backoff paths actually fire. Three regimes per eval
    bigram, unified into two expressions:

    - (w1,w2) seen in train: full interpolated KN;
    - w1 seen, w2 novel after it: same formula with c12=0 — pure
      discount-mass backoff through the continuation prob;
    - w1 unseen entirely: the continuation unigram alone.

    The continuation distribution is add-1 smoothed over (bigram types +
    train vocab + 1) so a completely novel w2 gets nonzero mass (an
    unsmoothed Pcont of 0 would make log P undefined on real held-out
    text). Model tables are vocab-bounded; eval counts LEFT-join them
    (absence IS the signal); the type/vocab totals ride one 1-row
    broadcast carry. Output also counts backoff occurrences per doc —
    the OOV-pressure observability a filter threshold needs.

    Fixture note: the synthetic corpus shares one 31-word vocabulary, so
    the train split observes essentially every bigram and the backoff
    branches would never fire on raw text; mod-9 HELD-OUT docs therefore
    gain two novel tokens ' zqa zqb' (absent from every train doc by
    construction), which deterministically exercises BOTH backoff
    branches — (last_word, zqa) has a seen w1 with a novel continuation,
    (zqa, zqb) has an unseen w1 entirely."""
    # The kn_perplexity spread_by treatment was tried here and
    # REJECTED by measurement (1.88 -> 2.33 s isolated): this key's many
    # persisted model tables and left joins dominate, and the extra
    # exchange on the backbone only added latency.
    d = _t(spark, sf_dir, "documents")
    split_prefix = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    is_train_x = split_prefix < SPLIT_TRAIN_LT
    txt = F.when(
        ~is_train_x & (F.col("doc_id") % KN_OOV_MOD == 0),
        F.concat(F.col("text"), F.lit(" zqa zqb")),
    ).otherwise(F.col("text"))
    arr = d.select(
        "doc_id",
        is_train_x.alias("is_train"),
        tokens(txt).alias("ts"),
    )
    ts = F.col("ts")
    bg = arr.filter(F.size(ts) >= 2).select(
        "doc_id",
        "is_train",
        F.explode(
            F.zip_with(
                F.slice(ts, 1, F.size(ts) - 1),
                F.slice(ts, 2, F.size(ts) - 1),
                lambda a, b: F.concat(a, F.lit("\x00"), b),
            )
        ).alias("p"),
    ).select(
        "doc_id",
        "is_train",
        F.substring_index(F.col("p"), "\x00", 1).alias("w1"),
        F.substring_index(F.col("p"), "\x00", -1).alias("w2"),
    )
    # c12 feeds c1, bwd, totals AND the
    # eval left-join — four branches, and Catalyst does no cross-branch
    # subtree dedup, so each one re-ran the tokenize+explode+shuffle train
    # pass. Persisting the vocab-bounded count table bounds it to one pass.
    c12 = (
        bg.filter(F.col("is_train"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    ).persist()
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    bwd = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    totals = c12.agg(F.count(F.lit(1)).cast("bigint").alias("t_types")).crossJoin(
        arr.filter(F.col("is_train"))
        .select(F.explode(ts).alias("w"))
        .agg(F.countDistinct("w").cast("bigint").alias("v_train"))
    )
    dc = (
        bg.filter(~F.col("is_train"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )
    joined = (
        dc.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(bwd, "w2", "left")
        .crossJoin(F.broadcast(totals))
    )
    pc2 = (F.coalesce(F.col("n1b"), F.lit(0)) + 1) / (
        F.col("t_types") + F.col("v_train") + 1
    )
    p = F.when(
        F.col("c1").isNotNull(),
        (
            F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - KN_DISCOUNT, F.lit(0.0))
            + KN_DISCOUNT * F.col("n1f") * pc2
        )
        / F.col("c1"),
    ).otherwise(pc2)
    scored = joined.select(
        "doc_id",
        "n_occ",
        F.round(F.log(p), 6).cast("decimal(18,6)").alias("logp6"),
        F.when(F.col("c12").isNull(), F.col("n_occ"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_backoff"),
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n_occ").cast("bigint").alias("n_bigrams"),
        F.sum("n_backoff").cast("bigint").alias("n_backoff"),
        _nll4_exact(
            -F.sum(F.col("n_occ") * F.col("logp6")), F.sum("n_occ")
        ).alias("holdout_nll"),
    )


BLOOM_DEDUP_BATCH_MOD = 10  # doc_id % 10 == 0 docs form the "new batch"
BLOOM_DEDUP_CLONE_MOD = 7  # corpus docs with doc_id % 7 == 0 re-arrive as dups
BLOOM_DEDUP_CLONE_SHIFT = 10_000_000


def q_bloom_corpus_dedup(spark, sf_dir):
    """Incremental content dedup of a NEW BATCH against a standing corpus
    (operators/bloom.bloom_corpus_dedup_audit) — the daily-ingest shape:
    the batch must dedup against an arbitrarily large corpus WITHOUT a
    batch-vs-corpus row join. Bloom over corpus content hashes routes
    each batch doc to definitely-new (exact by the no-false-negative law,
    no join at all) or candidate (one equi-join of the candidate SLIVER
    against the corpus hash column). Fixture: batch = the mod-10 docs
    (genuinely new content) + planted re-arrivals of mod-7 corpus docs
    under shifted ids; the oracle recomputes the exact counts and expects
    the two contract booleans true (bloom bits are engine-specific — the
    bloom_prefilter_audit discipline)."""
    from cassandra_data_migrator_spark.operators import bloom

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % BLOOM_DEDUP_BATCH_MOD != 0)
    clones = corpus.filter(F.col("doc_id") % BLOOM_DEDUP_CLONE_MOD == 0).select(
        (F.col("doc_id") + BLOOM_DEDUP_CLONE_SHIFT).alias("doc_id"), "text"
    )
    batch = d.filter(F.col("doc_id") % BLOOM_DEDUP_BATCH_MOD == 0).unionByName(
        clones
    )
    return bloom.bloom_corpus_dedup_audit(corpus, batch)


CURATION_BUDGET = 6_000  # tokens — the nightly batch's training-mix budget
CURATION_SHARDS = 4  # output shards of the batch manifest


def _curation_survivors(spark, sf_dir):
    """Stages 1-3 of the nightly curation pipeline (domain gate → URL
    keep-first → bloom corpus dedup), materialized ONCE per session as a
    standing parquet artifact — exactly the stage boundary a real
    pipeline checkpoints at (and without which every downstream
    self-reference would replay the gating windows). The documents
    fixture is scanned only inside this build."""

    def _build():
        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        corpus = d.filter(F.col("doc_id") % BLOOM_DEDUP_BATCH_MOD != 0)
        clones = corpus.filter(
            F.col("doc_id") % BLOOM_DEDUP_CLONE_MOD == 0
        ).select((F.col("doc_id") + BLOOM_DEDUP_CLONE_SHIFT).alias("doc_id"), "text")
        batch = d.filter(F.col("doc_id") % BLOOM_DEDUP_BATCH_MOD == 0).unionByName(
            clones
        )
        # 1) domain gating (domain_stats semantics, exact-integer gate:
        #    dup_ratio <= 0.2  <=>  5*(n - n_distinct) <= n)
        domain = F.concat(
            F.lit("site"),
            (F.col("doc_id") % DOMAIN_SITES).cast("string"),
            F.lit(".example-"),
            (F.col("doc_id") % DOMAIN_TLDS).cast("string"),
            F.lit(".com"),
        )
        dom = batch.withColumn("domain", domain)
        stats = dom.groupBy("domain").agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.count_distinct(F.md5(F.col("text").cast("binary")))
            .cast("bigint")
            .alias("__nd"),
        )
        good = stats.filter(
            (F.col("__n") >= DOMAIN_MIN_DOCS)
            & (5 * (F.col("__n") - F.col("__nd")) <= F.col("__n"))
        ).select("domain")
        gated = dom.join(F.broadcast(good), "domain")
        # 2) URL keep-first (full parser path — canonicalize_url, the same
        #    expression url_dedup deploys; keep min doc_id per canon)
        from cassandra_data_migrator_spark.functions.urls import canonicalize_url

        canon = gated.withColumn(
            "__canon", canonicalize_url(_crawl_url_expr())
        )
        w = Window.partitionBy("__canon")
        reps = (
            canon.withColumn("__min", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("__min"))
            .select("doc_id", "text")
        )
        # 3) bloom corpus dedup: drop batch content already in the corpus
        from cassandra_data_migrator_spark.operators import bloom

        return bloom.bloom_corpus_dedup_keep(corpus, reps).select(
            "doc_id", "text"
        )

    return artifact(spark, f"curation_surv|{sf_dir}", _build)


def q_curation_pipeline(spark, sf_dir):
    """END-TO-END nightly curation composition — the job
    a real 100 TB crawl pipeline runs per ingest batch, chained as ONE
    declared surface key so cross-operator fusion/alias bugs that no
    single-operator key can catch turn a driver row red:

      batch (new docs + re-arrived clones)
        → domain gating            (corpus-stats broadcast gate)
        → URL canonical keep-first (full parser, one window)
        → bloom corpus dedup       (exact anti-join semantics, bloom cost)
        → quality-signal ensemble  (decimal-exact z-moments broadcast)
        → token-budget selection   (histogram-bounded greedy prefix)
        → token-balanced shards    (global_rank % N manifest)

    Scan discipline: the documents fixture is touched only inside the
    survivors artifact build (stage-boundary checkpoint, the real
    pipeline's materialization point); the returned plan reads the tiny
    survivor parquet — pinned by tests/test_plans.py (zero documents
    scans in the final plan). Output is the per-shard manifest the
    trainer's loader consumes. The oracle restates the ENTIRE chain in
    SQL (analytic canon form, md5 anti-join, identical IEEE z-arithmetic,
    running-sum budget, ROW_NUMBER shard assignment)."""
    from cassandra_data_migrator_spark.operators import rank as rank_ops

    # spread_by on the survivors artifact was tried and REJECTED by
    # measurement (2.42 -> 2.68 s isolated): the chain's cost is its many
    # small stages, not the tokenize map side, and the extra exchange only
    # added latency.
    surv = _curation_survivors(spark, sf_dir)
    # 4) quality ensemble over survivors (quality_ensemble's arithmetic,
    #    s2 from length(text) — survivors carry only (doc_id, text))
    arr = surv.select(
        "doc_id", F.length("text").alias("n_chars"), tokens("text").alias("ts")
    )
    ts = F.col("ts")
    sig = arr.select(
        "doc_id",
        F.size(ts).cast("bigint").alias("s1"),
        F.round(
            F.col("n_chars") / F.nullif(F.size(ts).cast("bigint"), F.lit(0)), 4
        )
        .cast("decimal(18,4)")
        .alias("s2"),
        F.round(
            F.size(F.array_distinct(ts))
            / F.nullif(F.size(ts).cast("bigint"), F.lit(0)),
            4,
        )
        .cast("decimal(18,4)")
        .alias("s3"),
    ).filter(F.col("s2").isNotNull())
    # The chain below reads sig twice
    # (moments + scored) and scored four more times (hist, selected join,
    # rank, totals) — Catalyst does no cross-branch dedup, so every branch
    # re-ran the survivor tokenize from the artifact scan (32 survivor
    # scans / 88 Exchanges in the before-plan). Both tables are a few
    # hundred tiny rows; persist them so each stage derives once.
    sig = sig.persist()
    moments = sig.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s1").cast("decimal(38,8)").alias("t1"),
        F.sum(F.col("s1") * F.col("s1")).cast("decimal(38,8)").alias("q1"),
        F.sum("s2").cast("decimal(38,8)").alias("t2"),
        F.sum(F.col("s2") * F.col("s2")).cast("decimal(38,8)").alias("q2"),
        F.sum("s3").cast("decimal(38,8)").alias("t3"),
        F.sum(F.col("s3") * F.col("s3")).cast("decimal(38,8)").alias("q3"),
    )

    def z(s, t, q):
        mean = t.cast("double") / F.col("n")
        var = q.cast("double") / F.col("n") - mean * mean
        std = F.sqrt(var)
        return F.when(std == 0, F.lit(0.0)).otherwise(
            (s.cast("double") - mean) / std
        )

    scored = sig.crossJoin(F.broadcast(moments)).select(
        "doc_id",
        F.col("s1").alias("n_tok"),
        F.round(
            (
                z(F.col("s1"), F.col("t1"), F.col("q1"))
                + z(F.col("s2"), F.col("t2"), F.col("q2"))
                + z(F.col("s3"), F.col("t3"), F.col("q3"))
            )
            / 3,
            4,
        )
        .cast("decimal(18,4)")
        .alias("ens4"),
    ).persist()  # read by hist, the selection join, ranking, totals
    # 5) token-budget greedy prefix by (ens4 desc, doc_id) — the
    #    histogram-bounded cumsum (token_budget_select's shape keyed on
    #    the 4dp-bounded ensemble score)
    hist = scored.groupBy("ens4").agg(F.sum("n_tok").alias("__qtok"))
    w_cum = Window.orderBy(F.col("ens4").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    offsets = hist.select(
        "ens4", (F.sum("__qtok").over(w_cum) - F.col("__qtok")).alias("__before")
    )
    w_in = (
        Window.partitionBy("ens4")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    selected = (
        scored.join(F.broadcast(offsets), "ens4")
        .withColumn(
            "__cum", (F.col("__before") + F.sum("n_tok").over(w_in)).cast("bigint")
        )
        .filter(F.col("__cum") <= CURATION_BUDGET)
        .select("doc_id", "n_tok")
    )
    # 6) token-balanced shards over the selection (shard_balance's shape)
    ranked = rank_ops.global_rank(
        selected.withColumn("__neg", -F.col("n_tok")), "__neg", "doc_id",
        pos_col="pos",
    )
    per = ranked.select(
        "n_tok", (F.col("pos") % CURATION_SHARDS).cast("bigint").alias("shard")
    ).groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tok"),
    )
    total = per.agg(F.sum("sum_tok").cast("bigint").alias("__tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "shard",
        "n_docs",
        "sum_tok",
        F.round(F.col("sum_tok") / F.col("__tot"), 4).alias("share_r"),
    )
