"""General analytics keys: windows, sampling, packing, codecs, retrieval, SCD2.
"""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    CHUNK_SIZE,
    CHUNK_STRIDE,
    CONTAM_EVAL_MOD,
    CONTAM_NGRAM_N,
    F,
    PACK_BIN_TOKENS,
    PACK_SHARDS,
    SPLIT_TRAIN_LT,
    SPLIT_VAL_LT,
    STRATA_RATES,
    TOPK_K,
    TOPK_QUERY_PRED,
    TRAIN_SHUFFLE_SEED,
    TRAIN_SHUFFLE_SHARDS,
    Window,
    _t,
    attach_event_ttls,
    attach_event_writetimes,
    codecs,
    dedup,
    interval,
    max_ttl,
    max_writetime,
    pmod_100,
    quality_features,
    session_window,
    tok,
    token_count_ws,
    tokens,
    tumbling_window,
    validation,
)
from cassandra_data_migrator_spark.queries.dedup_text import (  # noqa: F401
    _brute_topk,
    _ivf_centroids,
    q_dedup_clusters,
)
from cassandra_data_migrator_spark.session import scratch_dir

def _ndcg_discounts() -> list[str]:
    """1/log2(rank+1) for ranks 1..TOPK_K as 12dp DECIMAL literal strings —
    the ONE place log2 is evaluated (driver-side Python), so neither
    engine ever calls libm and the DCG sums are exact order-free DECIMAL
    folds on identical literals."""
    import math

    return [f"{1.0 / math.log2(i + 1):.12f}" for i in range(1, TOPK_K + 1)]


def q_retrieval_eval(spark, sf_dir):
    """Ranking-quality evaluation of the exact top-k retrieval — the eval
    step every retrieval/RAG pipeline runs before trusting an index:
    per-query nDCG@k and MRR against label relevance (a retrieved vector
    is relevant iff it carries the query's label; labels are the fixture's
    class column). Rides the session-shared ground-truth artifact
    (_brute_topk — reproducible 4dp-then-tiebreak ranks, already oracled
    by topk_similarity), one broadcast label join, one group-by-query.

    Cross-engine float discipline: the rank discounts 1/log2(r+1) are
    precomputed DRIVER-side as 12dp DECIMAL literals shared verbatim by
    both texts — DCG and ideal-DCG become exact DECIMAL sums (order-free),
    so the only doubles are final divisions of identical exact values.
    MRR = 1/first_rel_rank is an exact dyadic-or-small-rational division,
    identical IEEE both engines. n_rel counts corpus docs of the query's
    label (self excluded) — the IDCG truncation LEAST(k, n_rel) follows
    the standard nDCG definition."""
    discs = _ndcg_discounts()
    cums = []
    from decimal import Decimal

    acc = Decimal(0)
    for d in discs:
        acc += Decimal(d)
        cums.append(str(acc))
    topk = _brute_topk(spark, sf_dir).select("query_id", "vec_id", "rank")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    qlab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__qlabel")
    )
    j = (
        topk.join(emb.withColumnRenamed("label", "__dlabel"), "vec_id")
        .join(F.broadcast(qlab), "query_id")
    )
    rel = F.col("__dlabel") == F.col("__qlabel")
    disc_arr = F.array(
        *[F.expr(f"CAST({d} AS DECIMAL(18,12))") for d in discs]
    )
    dcg_term = F.when(rel, F.element_at(disc_arr, F.col("rank"))).otherwise(
        F.expr("CAST(0 AS DECIMAL(18,12))")
    )
    per_q = j.groupBy("query_id").agg(
        F.sum(F.when(rel, 1).otherwise(0)).cast("int").alias("n_rel_ret"),
        F.min(F.when(rel, F.col("rank"))).cast("int").alias("first_rel_rank"),
        F.sum(dcg_term).cast("decimal(18,12)").alias("__dcg"),
    )
    # corpus-wide relevant count per query label (self excluded) drives the
    # ideal DCG truncation; label cardinality is tiny — broadcast both ways
    label_counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("int").alias("__label_n")
    )
    nrel = (
        qlab.join(
            F.broadcast(label_counts),
            qlab["__qlabel"] == label_counts["label"],
        )
        .select(
            "query_id", (F.col("__label_n") - F.lit(1)).alias("n_rel")
        )
    )
    cum_arr = F.array(
        *[F.expr(f"CAST({c} AS DECIMAL(18,12))") for c in cums]
    )
    out = per_q.join(F.broadcast(nrel), "query_id")
    idcg = F.element_at(cum_arr, F.least(F.lit(TOPK_K), F.col("n_rel")))
    return out.select(
        "query_id",
        "n_rel",
        "n_rel_ret",
        "first_rel_rank",
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.round(F.lit(1.0) / F.col("first_rel_rank"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("mrr_r"),
        F.when(
            F.col("n_rel") > 0,
            F.round(
                F.col("__dcg").cast("double") / idcg.cast("double"), 4
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg_r"),
    )


def _retrieval_eval_sql() -> str:
    """DuckDB twin of q_retrieval_eval: same ranking CTE as the (green)
    topk_similarity oracle, same 12dp DECIMAL discount literals, same
    exact-then-divide arithmetic."""
    from decimal import Decimal

    discs = _ndcg_discounts()
    cums, acc = [], Decimal(0)
    for d in discs:
        acc += Decimal(d)
        cums.append(str(acc))
    disc_case = " ".join(
        f"WHEN {i + 1} THEN CAST({d} AS DECIMAL(18,12))"
        for i, d in enumerate(discs)
    )
    cum_case = " ".join(
        f"WHEN {i + 1} THEN CAST({c} AS DECIMAL(18,12))"
        for i, c in enumerate(cums)
    )
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
                          label AS qlabel
                   FROM embeddings WHERE {TOPK_QUERY_PRED}),
        s AS (SELECT q.query_id, q.qlabel, e.vec_id, e.label AS dlabel,
                     ROUND(list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4)
                         AS score_r
              FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY score_r DESC, vec_id)
                            AS rnk
              FROM s),
        t AS (SELECT * FROM r WHERE rnk <= {TOPK_K}),
        per_q AS (SELECT query_id,
                         CAST(SUM(CASE WHEN dlabel = qlabel
                                       THEN 1 ELSE 0 END) AS INT)
                             AS n_rel_ret,
                         CAST(MIN(CASE WHEN dlabel = qlabel
                                       THEN rnk END) AS INT)
                             AS first_rel_rank,
                         CAST(SUM(CASE WHEN dlabel = qlabel
                                       THEN CASE rnk {disc_case} END
                                       ELSE CAST(0 AS DECIMAL(18,12)) END)
                              AS DECIMAL(18,12)) AS dcg
                  FROM t GROUP BY query_id),
        nrel AS (SELECT q.query_id, CAST(lc.cnt - 1 AS INT) AS n_rel
                 FROM q JOIN (SELECT label, COUNT(*) AS cnt
                              FROM embeddings GROUP BY label) lc
                   ON lc.label = q.qlabel)
        SELECT p.query_id, n.n_rel, p.n_rel_ret, p.first_rel_rank,
               CASE WHEN p.first_rel_rank IS NOT NULL
                    THEN ROUND(CAST(1 AS DOUBLE) / p.first_rel_rank, 4)
                    ELSE CAST(0 AS DOUBLE) END AS mrr_r,
               CASE WHEN n.n_rel > 0
                    THEN ROUND(CAST(p.dcg AS DOUBLE)
                               / CAST(CASE LEAST({TOPK_K}, n.n_rel)
                                      {cum_case} END AS DOUBLE), 4)
                    ELSE CAST(0 AS DOUBLE) END AS ndcg_r
        FROM per_q p JOIN nrel n USING (query_id)
    """


def q_seq_align_diff(spark, sf_dir):
    """Per-user SEQUENCE alignment between the source event stream and a
    planted-damage replay (mod-89 events dropped, mod-97 types flipped to
    'error' — the cdc_delta_detect damage convention): the ordered
    sibling of validate_diff. Row diffs say WHICH events differ;
    alignment says how much each user's ordered history drifted after a
    CDC replay — edit_distance (exact integer Levenshtein) and jw_r
    (Jaro-Winkler, the similarity Spark has no builtin for) over the
    per-user event-type character sequence. Plan shape: each side's
    per-user sequence is ASSEMBLED IN THE JVM (sort_array + collect_list
    aggregate — map-side combinable),
    the two one-row-per-user tables meet in one join, and Python sees
    only one Arrow-batched ``mapInPandas`` over the joined pairs for
    the Levenshtein/Jaro-Winkler kernels (see operators/align.py for
    the DuckDB-identical fuzz pins; ``sequence_align_diff_cogrouped``
    keeps the original one-shuffle cogroup().applyInPandas variant).
    State bounded by the documented 128-char truncation; full per-side
    counts reported alongside."""
    from cassandra_data_migrator_spark.operators.align import (
        sequence_align_diff,
    )

    e = _t(spark, sf_dir, "events")
    src = e.select("user_id", "ts", "event_id", "event_type")
    dst = e.filter(F.col("event_id") % 89 != 0).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 97 == 0, F.lit("error"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    return sequence_align_diff(src, dst)


SCD2_DATES = ("1995-01-01", "1996-01-01", "1997-01-01")


def q_scd2_history(spark, sf_dir):
    """Type-2 slowly-changing-dimension maintenance — the warehouse
    operator a migration engine feeds (CDM moves the snapshots; this
    builds the versioned dimension a consumer actually queries): three
    deterministic customer snapshots (v2 plants mod-97 balance +100,
    mod-89 segment churn, mod-101 DELETES; v3 plants mod-53 VIP upgrades,
    +200 balances, and RESURRECTS the mod-101 keys) collapse into one
    history table of validity periods: a row per (custkey, attribute
    state) with valid_from, valid_to (the next change's effective date;
    NULL while open) and is_current.

    Spark shape: snapshots are three projections of ONE customer scan
    (planted in-plan, the cdc_delta_detect convention — fixtures are
    read-only); presence/absence rides a custkey×version grid (3 rows per
    key — a DIMENSION-sized blowup, never fact-sized); change detection
    is lag(fingerprint) over ONE (custkey, version) window reused by the
    lead(valid_to) pass; deletes appear as ABSENT segments that CLOSE the
    preceding period and then drop out, so a delete-then-resurrect key
    yields two disjoint periods. The attribute fingerprint is an exact
    DECIMAL(18,2)-rendered string, so both engines detect change on
    identical text, never on float equality."""
    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    d1, d2, d3 = [F.lit(d).cast("date") for d in SCD2_DATES]

    def snap(version, eff, bal_shift, segment, pred=None):
        df = c if pred is None else c.filter(pred)
        bal = (F.col("c_acctbal") + bal_shift).cast("decimal(18,2)")
        return df.select(
            F.lit(version).alias("version"),
            key.alias("custkey"),
            bal.alias("bal"),
            segment.alias("segment"),
        )

    seg1 = F.col("c_mktsegment")
    seg2 = F.when(key % 89 == 0, F.lit("CHURNED")).otherwise(seg1)
    seg3 = (
        F.when(key % 53 == 0, F.lit("VIP"))
        .when(key % 89 == 0, F.lit("CHURNED"))
        .otherwise(seg1)
    )
    shift2 = F.when(key % 97 == 0, F.lit(100.0)).otherwise(F.lit(0.0))
    shift3 = F.when(key % 97 == 0, F.lit(200.0)).otherwise(F.lit(0.0))
    snaps = (
        snap(1, d1, F.lit(0.0), seg1)
        .unionByName(snap(2, d2, shift2, seg2, pred=(key % 101 != 0)))
        .unionByName(snap(3, d3, shift3, seg3))
    )
    versions = spark.range(1, 4).select(
        F.col("id").cast("int").alias("version"),
        F.element_at(F.array(d1, d2, d3), F.col("id").cast("int")).alias("eff"),
    )
    grid = c.select(key.alias("custkey")).distinct().crossJoin(
        F.broadcast(versions)
    )
    state = grid.join(snaps, ["custkey", "version"], "left").select(
        "custkey",
        "version",
        "eff",
        "bal",
        "segment",
        F.when(
            F.col("segment").isNull(), F.lit("ABSENT")
        ).otherwise(
            F.concat(F.col("bal").cast("string"), F.lit("|"), F.col("segment"))
        ).alias("fp"),
    )
    w = Window.partitionBy("custkey").orderBy("version")
    chg = state.withColumn("__prev", F.lag("fp").over(w)).filter(
        F.col("__prev").isNull() | (F.col("fp") != F.col("__prev"))
    )
    closed = chg.withColumn("valid_to", F.lead("eff").over(w))
    # dates cross the oracle as ISO text (the codec_date_time convention —
    # the driver compare would otherwise see datetime.date vs Timestamp)
    return closed.filter(F.col("fp") != "ABSENT").select(
        "custkey",
        F.col("bal").cast("double").alias("acctbal"),
        "segment",
        F.date_format("eff", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram of events.value (bucket = floor(v/25)*25) —
    the portable bucketing idiom (identical integer arithmetic both engines,
    no engine-specific width_bucket semantics)."""
    e = _t(spark, sf_dir, "events")
    bucket = (F.floor(F.col("value") / 25) * 25).cast("bigint")
    return e.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(F.min("value"), 4).alias("min_v"),
        F.round(F.max("value"), 4).alias("max_v"),
    )


def q_funnel_conversion(spark, sf_dir):
    """Funnel analysis: users whose first 'signup' is followed (>=) by a
    'purchase'. One groupBy pass per user (min signup ts vs max purchase ts),
    then a one-row summary — event-ordering analytics without a self-join."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias("first_signup"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias("last_purchase"),
    )
    flags = per_user.select(
        "user_id",
        F.col("first_signup").isNotNull().cast("int").alias("signed"),
        (
            F.col("first_signup").isNotNull()
            & F.col("last_purchase").isNotNull()
            & (F.col("last_purchase") >= F.col("first_signup"))
        ).cast("int").alias("converted"),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("signed").cast("bigint").alias("n_signed"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.sum("converted") / F.sum("signed"), 4).alias("conv_rate"),
    )


def q_profile_table(spark, sf_dir):
    """Table profiling (guardrail-adjacent data-quality scan): one row of
    counts / null counts / bounds / distincts over orders — single pass,
    partial aggregation map-side."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).cast("bigint").alias("null_custkey"),
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)).cast("bigint").alias("null_status"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.count_distinct(F.col("o_orderstatus")).cast("bigint").alias("n_statuses"),
        F.count_distinct(F.col("o_orderpriority")).cast("bigint").alias("n_priorities"),
    )


def q_pivot_events(spark, sf_dir):
    """Pivot: per-user event counts by type (explicit value list keeps the
    plan one pass — no extra distinct scan to discover pivot columns)."""
    e = _t(spark, sf_dir, "events")
    piv = (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in EVENT_TYPES],
    )


def q_rollup_agg(spark, sf_dir):
    """Rollup subtotals over (returnflag, linestatus); grouping levels keyed
    by grouping_id so subtotal rows hash deterministically."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(qty).cast("double").alias("sum_qty"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select("l_returnflag", "l_linestatus", "cnt", "sum_qty", "gid")
    )


def q_set_ops(spark, sf_dir):
    """Set operations (absent from the reference, SURVEY §2 'explicitly
    ABSENT' — added): customers with orders EXCEPT customers in the
    BUILDING segment, plus the INTERSECT count as a marker column."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = _t(spark, sf_dir, "customer")
    building = c.filter("c_mktsegment = 'BUILDING'").select(
        F.col("c_custkey").alias("custkey")
    )
    return o.distinct().exceptAll(building.distinct()).select("custkey")


def q_quantiles(spark, sf_dir):
    """Exact quantiles (linear interpolation) per group — percentile() in
    Spark vs quantile_cont() in DuckDB must agree bit-for-bit after 4dp."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("price_p99"),
    )


def q_ranking_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


def q_join_agg_pipeline(spark, sf_dir):
    """TPC-H Q3-shaped multi-join analytics: lineitem ⋈ orders ⋈ customer
    (BUILDING segment), revenue per order priority. The customer dimension is
    explicitly broadcast (plan-pinned): the fact-side scan shuffles once on
    the join key, the dim never does."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_quantity")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    return joined.groupBy("o_orderpriority").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.count_distinct(F.col("o_orderkey")).cast("bigint").alias("n_orders"),
    )


def q_window_lag_lead(spark, sf_dir):
    """Per-user event sequencing: lag/lead/gap/running position — the
    event-stream feature-engineering staple. Window partitioned by user
    (distributed), ordered with event_id tiebreak (deterministic)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts_us",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
        F.row_number().over(w).cast("bigint").alias("seq"),
    )


def q_date_rollup(spark, sf_dir):
    """Calendar aggregation: orders per (year, month) with decimal-exact
    revenue — date_trunc semantics shared by both engines (UTC session)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("sum_price"),
    )


def q_semi_anti_join(spark, sf_dir):
    """Existence analytics via genuine semi/anti join operators (not an outer
    join + null filter): per customer, has_orders ∈ {1,0} from a left-semi
    and left-anti branch over the same (broadcastable) key set."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    cond = F.col("c_custkey") == F.col("o_custkey")
    semi = c.join(o, cond, "left_semi").withColumn("has_orders", F.lit(1))
    anti = c.join(o, cond, "left_anti").withColumn("has_orders", F.lit(0))
    return semi.unionByName(anti)


def q_embedding_stats(spark, sf_dir):
    """Per-vector array profiling (dims/norm/mean/min/max) — pure JVM
    higher-order functions over the float array, scan-bound."""
    from cassandra_data_migrator_spark.functions.vectors import as_double_array, norm

    emb = _t(spark, sf_dir, "embeddings")
    v = as_double_array("embedding")
    total = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    # + 0.0 folds a rounded -0.0 to +0.0 on both engines (the driver's
    # value hash distinguishes signed zero; caught live on mean_r)
    return emb.select(
        "vec_id",
        F.size(v).cast("bigint").alias("dims"),
        F.round(norm(v), 4).alias("norm_r"),
        (F.round(total / F.size(v), 4) + F.lit(0.0)).alias("mean_r"),
        (F.round(F.array_min(v), 4) + F.lit(0.0)).alias("min_r"),
        (F.round(F.array_max(v), 4) + F.lit(0.0)).alias("max_r"),
    )


def q_salted_group_agg(spark, sf_dir):
    """The salted two-phase aggregation operator as a checked key: same
    result as a plain groupBy (the oracle), but no single reducer ever owns
    a hot key (partition-id salt, decomposable aggs only)."""
    from cassandra_data_migrator_spark.operators.skew import salted_agg

    e = _t(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,4)")
    )
    out = salted_agg(
        e,
        ["event_type"],
        {
            "n": ("count", "*"),
            "total": ("sum", "value_dec"),
            "min_v": ("min", "value"),
            "max_v": ("max", "value"),
        },
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("total").cast("double").alias("total"),
        F.round(F.col("min_v"), 4).alias("min_v"),
        F.round(F.col("max_v"), 4).alias("max_v"),
    )


def q_cube_agg(spark, sf_dir):
    """CUBE over (status, priority): all four grouping levels in one pass,
    levels keyed by grouping_id for deterministic hashing."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("sum_price"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select("o_orderstatus", "o_orderpriority", "cnt", "sum_price", "gid")
    )


def q_bigram_doc_freq(spark, sf_dir):
    """Bigram document frequency — n-gram LM-style corpus statistics: the
    number of documents containing each word bigram, floor-filtered. Reuses
    the distinct shingle index (one explode + one groupBy)."""
    d = _t(spark, sf_dir, "documents")
    idx = dedup.shingle_index(d, "text", "doc_id", n=2)
    return (
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .filter(F.col("doc_freq") >= 5)
    )


def q_running_total(spark, sf_dir):
    """Per-customer running spend: decimal-exact cumulative sum over a
    partitioned, deterministic (date, orderkey) order."""
    o = _t(spark, sf_dir, "orders")
    order_spec = [F.col("o_orderdate"), F.col("o_orderkey")]
    w_cum = (
        Window.partitionBy("o_custkey")
        .orderBy(*order_spec)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seq = Window.partitionBy("o_custkey").orderBy(*order_spec)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w_cum).cast("double").alias("cum_spend"),
        F.row_number().over(w_seq).cast("bigint").alias("order_seq"),
    )


JS_DRIFT_SPLIT_MOD = 2  # snapshot A = even doc ids, snapshot B = odd


def q_vocab_js_drift(spark, sf_dir):
    """Text-level corpus drift between two snapshots as Jensen-Shannon
    divergence over the hashed vocabulary — the monitoring metric that
    catches a feed change (new boilerplate, language shift, scraper
    regression) before it reaches training; profile_drift watches column
    aggregates, this watches CONTENT. Snapshots = even/odd doc ids (the
    planted-split convention); features = the same 256 md5-prefix buckets
    as dsir_importance; per-bucket JS contribution computed add-1-smoothed
    in double, rounded to 6dp DECIMAL so the total is an exact order-free
    sum over ≤ 256 rows. Output: one row with both snapshot masses and
    js_divergence (0 = identical, ln 2 = disjoint)."""
    d = _t(spark, sf_dir, "documents")
    bucketed = d.select(
        "doc_id", F.explode(tokens("text")).alias("w")
    ).select(
        (F.col("doc_id") % JS_DRIFT_SPLIT_MOD == 0).alias("is_a"),
        F.substring(F.md5(F.col("w").cast("binary")), 1, 2).alias("bkt"),
    )
    dist = bucketed.groupBy("bkt").agg(
        F.sum(F.col("is_a").cast("bigint")).cast("bigint").alias("c_a"),
        F.sum((~F.col("is_a")).cast("bigint")).cast("bigint").alias("c_b"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dist = dist.select(
        "c_a", "c_b",
        F.sum("c_a").over(w_all).alias("n_a"),
        F.sum("c_b").over(w_all).alias("n_b"),
    )
    p = (F.col("c_a") + 1) / (F.col("n_a") + DSIR_BUCKETS)
    q = (F.col("c_b") + 1) / (F.col("n_b") + DSIR_BUCKETS)
    m = (p + q) / 2
    contrib = F.round(
        (p * F.log(p / m) + q * F.log(q / m)) / 2, 6
    ).cast("decimal(18,6)")
    per_bucket = dist.select(
        contrib.alias("js6"), F.col("n_a"), F.col("n_b")
    )
    return per_bucket.groupBy().agg(
        F.max("n_a").cast("bigint").alias("n_tokens_a"),
        F.max("n_b").cast("bigint").alias("n_tokens_b"),
        (F.round(F.sum("js6"), 6).cast("double") + F.lit(0.0)).alias(
            "js_divergence"
        ),
    )


def q_distinct_n_diversity(spark, sf_dir):
    """Corpus diversity by distinct-n ratio (Li et al. 2016's distinct-1/
    distinct-2, the standard collapse detector for generated or
    over-deduplicated training mixes): per source, distinct unigrams /
    total unigrams and distinct bigrams / total bigrams. One token
    explode feeds both orders; COUNT(DISTINCT) shuffles the (source,
    gram) pairs once each — grams are bounded by vocab (unigrams) and
    observed adjacencies (bigrams), both far below row count at corpus
    scale."""
    d = _t(spark, sf_dir, "documents")
    t = tokens("text")
    with_arr = d.select("source", t.alias("ts"))
    uni = with_arr.select("source", F.explode("ts").alias("g"))
    bi = with_arr.filter(F.size("ts") >= 2).select(
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 1),
                F.slice(F.col("ts"), 2, F.size("ts") - 1),
                lambda a, b: F.concat(a, F.lit("\x00"), b),
            )
        ).alias("g"),
    )
    u = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_uni"),
        F.countDistinct("g").cast("bigint").alias("d_uni"),
    )
    b = bi.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bi"),
        F.countDistinct("g").cast("bigint").alias("d_bi"),
    )
    return u.join(b, "source").select(
        "source", "n_uni", "d_uni", "n_bi", "d_bi",
        F.round(F.col("d_uni") / F.col("n_uni"), 4).alias("distinct1_r"),
        F.round(F.col("d_bi") / F.col("n_bi"), 4).alias("distinct2_r"),
    )


DSIR_TARGET_MOD = 10  # docs with doc_id % 10 == 0 form the "target" sample
DSIR_BUCKETS = 256  # hashed-feature space: md5(word) first 2 hex chars


def q_dsir_importance(spark, sf_dir):
    """DSIR-style importance weighting (Xie et al. 2023, 'Data Selection
    for Language Models via Importance Resampling'): score every document
    by how much its hashed-n-gram feature distribution looks like a
    curated TARGET sample vs the raw corpus — the published recipe for
    steering a 100 TB crawl toward a quality domain without a trained
    classifier. Features = word unigrams hashed into 256 buckets (md5 hex
    prefix — the repo's pinned cross-engine hash twin); per-bucket
    log-ratio = ln((c_t+1)/(N_t+B)) − ln((c_r+1)/(N_r+B)) with add-1
    smoothing, rounded to 6dp DECIMAL so per-doc sums are exact and
    order-free (the lm_perplexity discipline); per-doc weight = Σ
    n_occ·ratio6. Plan: one token explode feeds the per-doc bucket counts
    AND both corpus distributions (256-row aggregates, broadcast back);
    keep = weight > 0 (the deterministic resampling gate). Everything
    recomputed from scratch by the oracle."""
    d = _t(spark, sf_dir, "documents")
    t = tokens("text")
    bucketed = d.select(
        "doc_id",
        F.explode(t).alias("w"),
    ).select(
        "doc_id",
        F.substring(F.md5(F.col("w").cast("binary")), 1, 2).alias("bkt"),
    )
    per_doc = bucketed.groupBy("doc_id", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )
    is_target = F.col("doc_id") % DSIR_TARGET_MOD == 0
    raw = bucketed.groupBy("bkt").agg(F.count(F.lit(1)).cast("bigint").alias("c_r"))
    tgt = (
        bucketed.filter(is_target)
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_t"))
    )
    # bucket table is ≤ 256 rows: totals ride an unbounded window over it
    dist = raw.join(tgt, "bkt", "left").fillna(0, ["c_t"])
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dist = dist.select(
        "bkt", "c_t", "c_r",
        F.sum("c_t").over(w_all).alias("n_t"),
        F.sum("c_r").over(w_all).alias("n_r"),
    )
    ratio6 = F.round(
        F.log((F.col("c_t") + 1) / (F.col("n_t") + DSIR_BUCKETS))
        - F.log((F.col("c_r") + 1) / (F.col("n_r") + DSIR_BUCKETS)),
        6,
    ).cast("decimal(18,6)")
    dist = dist.select("bkt", ratio6.alias("ratio6"))
    scored = per_doc.join(F.broadcast(dist), "bkt").groupBy("doc_id").agg(
        F.sum("n_occ").cast("bigint").alias("n_feats"),
        F.sum(F.col("n_occ") * F.col("ratio6")).alias("__w"),
    )
    return scored.select(
        "doc_id",
        "n_feats",
        (F.round(F.col("__w"), 4).cast("double") + F.lit(0.0)).alias("dsir_weight"),
        (F.col("__w") > 0).alias("keep"),
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by content-independent key hash —
    the standard leakage-free dataset split for LLM training corpora. Pure
    per-row md5 on the key (scan-bound, no shuffle); both engines emit
    lowercase hex so the lexicographic cut points agree bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    return d.select(
        "doc_id",
        "lang",
        F.when(prefix < SPLIT_TRAIN_LT, "train")
        .when(prefix < SPLIT_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )


def q_training_order_shuffle(spark, sf_dir):
    """Deterministic full-corpus training-order shuffle with contiguous
    shard assignment — the 'global shuffle before sharding' step every
    LLM training-data pipeline runs after curation (examples must reach
    the trainer in a reproducible pseudorandom order, and each output
    shard must be a CONTIGUOUS position range so shard files stream
    sequentially).

    Order key = seeded md5 of the doc id (content-independent, epoch
    re-keyable via TRAIN_SHUFFLE_SEED); position = contiguous 0-based
    global index via operators/rank.global_index — zipWithIndex as a
    DataFrame op. A naive ``row_number() over (order by key)`` funnels
    100 TB through ONE reducer; global_index instead cumulates offsets
    over the ≤ 65 536-row key-prefix histogram (the only unpartitioned
    window) and ranks within prefix buckets (the single full-data
    shuffle). Shard = pos * k DIV n_total — exact integer math, identical
    in DuckDB."""
    from cassandra_data_migrator_spark.operators import rank as rank_ops

    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(
            F.concat(
                F.lit(TRAIN_SHUFFLE_SEED), F.col("doc_id").cast("string")
            ).cast("binary")
        ).alias("skey"),
    )
    idx = rank_ops.global_index(keyed, "skey", "doc_id", pos_col="pos")
    return idx.select(
        "doc_id",
        "pos",
        F.expr(
            f"CAST((pos * {TRAIN_SHUFFLE_SHARDS}) DIV n_total AS INT)"
        ).alias("shard"),
    )


SHARD_BALANCE_N = 8  # output shards of the token-balanced sharding key


def q_shard_balance(spark, sf_dir):
    """Token-balanced corpus sharding — the OTHER sharding policy a
    training pipeline needs (training_order_shuffle gives contiguous
    pseudorandom shards; this gives shards of near-EQUAL TOKEN MASS for
    heterogeneous-length corpora, the longest-processing-time greedy
    collapsed to round-robin-by-size-rank). Plan: per-doc token counts
    (one scan), then operators/rank.global_rank on the NEGATED count
    (value histogram bounded by distinct lengths — the only unpartitioned
    window reads the histogram, never rows), shard = rank % N. Output is
    the per-shard manifest (doc count, token mass, share of corpus) the
    trainer's data loader reads. The oracle recomputes the full
    ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) assignment."""
    from cassandra_data_migrator_spark.operators import rank as rank_ops

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    ).withColumn("__neg", -F.col("n_tok"))
    ranked = rank_ops.global_rank(base, "__neg", "doc_id", pos_col="pos")
    shards = ranked.select(
        "n_tok", (F.col("pos") % SHARD_BALANCE_N).cast("bigint").alias("shard")
    )
    per = shards.groupBy("shard").agg(
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


TOKEN_BUDGET = 12_000  # tokens — the corpus-selection budget (~44% of the
# sf0.01 corpus, ~4% of sf0.1, so every fixture scale selects a real prefix)


def q_token_budget_select(spark, sf_dir):
    """Token-budget-constrained corpus selection — greedy by quality: take
    documents in (quality DESC, doc_id) order while the running token
    total stays within TOKEN_BUDGET. The standard move when a training
    mix must hit a token target from a larger curated pool (quality-
    thresholding to a budget rather than a fixed score cut).

    The running prefix-sum is DISTRIBUTED, never a single-reducer window
    over the corpus: quality rounds to 4dp in [-0.25, 1], so the
    per-quality token histogram is ≤ ~12.5k rows BY CONSTRUCTION — the
    only unpartitioned window cumulates token totals over that bounded
    table (global_rank's histogram pattern, with SUM(tokens) instead of
    COUNT); broadcast the per-quality offsets back and run the within-
    quality token sum as a partitioned window. Selected = offset +
    within-run ≤ budget — row-identical to
    SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) ≤ budget."""
    d = _t(spark, sf_dir, "documents")
    qf = quality_features(d).select("doc_id", "n_tokens", "quality")
    hist = qf.groupBy("quality").agg(F.sum("n_tokens").alias("__qtok"))
    w_cum = Window.orderBy(F.col("quality").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    offsets = hist.select(
        "quality",
        (F.sum("__qtok").over(w_cum) - F.col("__qtok")).alias("__cum_before"),
    )
    w_in = (
        Window.partitionBy("quality")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        qf.join(F.broadcast(offsets), "quality")
        .withColumn(
            "cum_tokens",
            (F.col("__cum_before") + F.sum("n_tokens").over(w_in)).cast("bigint"),
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "quality", "n_tokens", "cum_tokens")
    )


LINE_TOKENS = 8  # tokens per derived line (fixture docs carry no newlines)
LINE_DEDUP_MIN_CHARS = 25  # shorter lines pass through undeduped (C4 keeps
# boilerplate handling separate; engine-side this ALSO kills the hot-key
# skew a universal short line would put on the shuffle)


def q_line_dedup(spark, sf_dir):
    """C4-style corpus-wide line dedup with document REBUILD — the
    transform `substring_dedup_spans` only profiles. Pipeline lives in
    operators/dedup.line_dedup_rebuild (keep-first = ONE map-side-
    combinable min-struct aggregation — partial combine absorbs hot
    duplicate lines pre-shuffle; short lines bypass the shuffle; in-order
    rebuild with kept/dropped accounting); lines derive as fixed 8-token
    segments of the pinned token twins (fixture docs carry no newlines —
    same JVM-side derivation precedent as the multimodal payload keys).
    The oracle recomputes keep-first with a window — fine at oracle
    scale, deliberately NOT the engine plan."""
    d = _t(spark, sf_dir, "documents")
    return dedup.line_dedup_rebuild(
        d, "text", "doc_id",
        line_tokens=LINE_TOKENS, min_chars=LINE_DEDUP_MIN_CHARS,
    )


def q_doc_chunking(spark, sf_dir):
    """RAG-style overlapping chunker: fixed-size char windows with stride.
    One `sequence` + `explode` per doc — all JVM expressions, rows fan out
    ~n_chars/stride per doc and the operator stays embarrassingly parallel
    (no shuffle at all; chunking is the canonical map-side op at 100 TB)."""
    d = _t(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1).cast("bigint"),
        F.greatest(F.col("n_chars"), F.lit(1).cast("bigint")),
        F.lit(CHUNK_STRIDE).cast("bigint"),
    )
    chunked = d.select(
        "doc_id", "text", F.explode(starts).alias("start")
    )
    chunk = F.col("text").substr(F.col("start").cast("int"), F.lit(CHUNK_SIZE))
    return chunked.select(
        "doc_id",
        F.floor((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
    )


def q_repetition_ratio(spark, sf_dir):
    """Gopher-style intra-document repetition quality signals: type-token
    ratio and top-token fraction, with a low-quality flag. Two map-side
    combinable aggregations keyed by doc_id — uniform key distribution, no
    skew (a doc's tokens all hash to its own key)."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select("doc_id", F.explode(tokens("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    agg = per.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("total_toks"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_toks"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    ttr = F.round(F.col("distinct_toks") / F.col("total_toks"), 4)
    top_frac = F.round(F.col("top_cnt") / F.col("total_toks"), 4)
    return agg.select(
        "doc_id",
        "total_toks",
        "distinct_toks",
        ttr.alias("ttr"),
        top_frac.alias("top_frac"),
        F.when((ttr < 0.5) | (top_frac > 0.2), 1).otherwise(0).cast("int").alias("low_quality"),
    )


def q_stratified_sample(spark, sf_dir):
    """Dataset-mixture sampling: per-language keep rates applied via the
    deterministic token ring (not `.sample` — reproducible across engines,
    retries, and partitionings). Emits the kept rows with their inverse-rate
    mixture weight. Scan-bound row filter; the rate map is a CASE chain."""
    d = _t(spark, sf_dir, "documents")
    bucket = pmod_100(tok("doc_id"))
    rate = F.lit(None).cast("int")
    expr = None
    for lang, r in STRATA_RATES.items():
        expr = F.when(F.col("lang") == lang, r) if expr is None else expr.when(
            F.col("lang") == lang, r
        )
    rate = expr.otherwise(0)
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("keep_rate"))
        .filter(F.col("bucket") < F.col("keep_rate"))
        .select(
            "doc_id",
            "lang",
            "bucket",
            F.round(F.lit(100.0) / F.col("keep_rate"), 4).alias("mix_weight"),
        )
    )


def q_contamination_check(spark, sf_dir):
    """Train/eval contamination audit: for each eval document (held-out
    split), how many of its distinct word 5-grams also appear anywhere in the
    train split. The canonical pre-training hygiene check. Plan: one shingle
    index feeds both sides; train side reduces to a distinct-shingle set
    (bounded by vocab, shuffled once); the audit is a shingle equi-join —
    hash-partitioned both sides, no broadcast needed, scales with corpus."""
    d = _t(spark, sf_dir, "documents")
    idx = dedup.shingle_index(d, "text", "doc_id", n=CONTAM_NGRAM_N)
    is_eval = F.col("doc_id") % CONTAM_EVAL_MOD == 0
    train_sh = idx.filter(~is_eval).select("shingle").distinct().withColumn(
        "__hit", F.lit(1)
    )
    hits = idx.filter(is_eval).join(train_sh, "shingle", "left")
    contaminated = F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint")
    total = F.count(F.lit(1)).cast("bigint")
    return hits.groupBy("doc_id").agg(
        total.alias("total_shingles"),
        contaminated.alias("contaminated"),
    ).select(
        "doc_id",
        "total_shingles",
        "contaminated",
        F.round(F.col("contaminated") / F.col("total_shingles"), 4).alias("contam_rate"),
        F.when(F.col("contaminated") > 0, 1).otherwise(0).cast("int").alias("is_contaminated"),
    )


def q_seq_packing(spark, sf_dir):
    """Sequence packing for LLM training: concat-and-chunk documents into
    fixed token-budget bins, sharded so no global order exists — each shard
    packs independently (the per-worker packing a real pipeline does), so the
    cumulative-sum window is partitioned, never a single reducer."""
    d = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).cast("bigint").alias("shard"),
        token_count_ws("text").alias("n_tok"),
    )
    cum = toks.withColumn("cum_tok", F.sum("n_tok").over(w).cast("bigint"))
    start = F.col("cum_tok") - F.col("n_tok")
    return cum.select(
        "doc_id",
        "shard",
        "n_tok",
        F.floor(start / PACK_BIN_TOKENS).cast("bigint").alias("bin_id"),
        (start % PACK_BIN_TOKENS).cast("bigint").alias("bin_offset"),
    )


def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization of embedding vectors (the storage/ANN
    compression step): per-vector max-abs scale, q_i = floor(127·x_i/s + .5).
    Pure JVM higher-order functions over the array — scan-bound, no shuffle.
    floor(x+0.5) instead of round() so both engines break ties identically."""
    from cassandra_data_migrator_spark.functions.vectors import as_double_array

    emb = _t(spark, sf_dir, "embeddings")
    v = as_double_array("embedding")
    staged = emb.select(
        "vec_id",
        v.alias("v"),
        F.greatest(F.array_max(v), -F.array_min(v)).alias("scale"),
    )
    q = F.transform(F.col("v"), lambda x: F.floor(x * 127 / F.col("scale") + 0.5).cast("bigint"))
    qd = staged.select("vec_id", F.col("scale"), q.alias("q"))
    return qd.select(
        "vec_id",
        F.round(F.col("scale"), 4).alias("scale_r"),
        F.aggregate(F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)).alias("q_l1"),
        F.array_min(F.col("q")).alias("q_min"),
        F.array_max(F.col("q")).alias("q_max"),
    )


def q_json_roundtrip(spark, sf_dir):
    """JSON-lines sink → source round-trip (SURVEY §2 source/sink surface
    beyond parquet): write documents as JSONL, read back with an explicit
    schema (schema inference would be a second full scan at 100 TB), verify
    via content checksums. Lossless for strings — text rides along."""
    d = _t(spark, sf_dir, "documents")
    out = scratch_dir(spark, "roundtrip", "json", sf_dir)
    d.select("doc_id", "lang", "n_chars", "text").write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id bigint, lang string, n_chars bigint, text string").json(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


def q_csv_roundtrip(spark, sf_dir):
    """CSV sink → source round-trip with header + explicit schema (the other
    interchange format the reference's users move data through)."""
    o = _t(spark, sf_dir, "orders")
    out = scratch_dir(spark, "roundtrip", "csv", sf_dir)
    o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).option("header", True).csv(out)
    back = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double"
    ).option("header", True).csv(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("sum_price"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_status"),
    )


def q_orc_roundtrip(spark, sf_dir):
    """ORC sink → source round-trip (the third interchange format after
    JSONL/CSV). ORC is self-describing — the read needs no schema and no
    inference scan; verified via decimal-exact checksums."""
    li = _t(spark, sf_dir, "lineitem")
    out = scratch_dir(spark, "roundtrip", "orc", sf_dir)
    li.select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag").write.mode(
        "overwrite"
    ).orc(out)
    back = spark.read.orc(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
        F.countDistinct("l_returnflag").cast("bigint").alias("n_flags"),
    )


def q_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality score: per-doc mean −ln p(token) under the
    corpus's own unigram LM — the classic cheap LM-quality filter for
    training-data pipelines (high surprise ⇒ gibberish/boilerplate tails).

    Plan shape: one explode of the token stream feeds BOTH the frequency
    table (groupBy word — partial-agg, one shuffle) and the scoring join
    (shuffle by word); the 1-row corpus total rides along via a broadcast
    cross-join, never a driver collect. Final per-doc avg partial-aggregates
    before its shuffle. Scale-safe: no global order, no driver loops; the
    word join's skew (stopwords) is bounded because the frequency side is
    1 row per word."""
    from cassandra_data_migrator_spark.operators.partition import spread_by

    d = spread_by(_t(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("word"))
    # freq feeds the 1-row total AND the scoring
    # join; persisting the vocab-bounded table keeps the tokenize+explode
    # backbone at two passes (freq, scored) instead of three.
    freq = tok.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).persist()
    total = freq.agg(F.sum("cnt").cast("double").alias("total"))
    scored = tok.join(freq, "word").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(F.avg(-F.ln(F.col("cnt") / F.col("total"))), 4).alias("avg_neg_logprob"),
    )


def q_dedup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size histogram (cluster_size → n_clusters): the
    reporting step after cluster assignment — how much of the corpus is
    singletons vs dup families. Two cheap partial-agg shuffles over the
    cluster assignment."""
    clusters = q_dedup_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
    )


def q_window_rolling_avg(spark, sf_dir):
    """Frame-based rolling features: per-user trailing 4-event mean/max of
    value. Window partitioned by user (distributed), deterministic
    (ts, event_id) order."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("roll_avg"),
        F.round(F.max("value").over(w), 4).alias("roll_max"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("roll_n"),
    )


INTERVAL_JOIN_WINDOW_US = 6 * 3600 * 1_000_000  # 6-hour attribution window


def q_interval_join(spark, sf_dir):
    """Attribution-window interval join: per signup event, the same user's
    purchase count and spend within the following 6 hours. Bucketized
    equi-join on (user, time-bucket) — see operators/interval.py; zero-match
    anchors kept via a left join back onto the anchor set."""
    e = _t(spark, sf_dir, "events")
    anchors = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "value"
    )
    pairs = interval.interval_join_bucketed(
        anchors,
        purchases,
        ["user_id"],
        "ts_us",
        "ts_us",
        INTERVAL_JOIN_WINDOW_US,
        ["value"],
    )
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(F.col("rv_value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    return anchors.join(agg, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce(F.col("n_purchases"), F.lit(0).cast("bigint")).alias("n_purchases"),
        F.round(F.coalesce(F.col("sum_value"), F.lit(0.0)), 4).alias("sum_value"),
    )


def q_event_sequences(spark, sf_dir):
    """Ordered per-user behavior sequences — the construction step for
    behavioral/sessionized training corpora: one groupBy(user) with the
    ordering done INSIDE the aggregate (array_sort over collected structs),
    so there is no global sort and no window shuffle; order is deterministic
    via the (ts, event_id) tiebreak. Per-user state is bounded by that
    user's event count (the same bound any sequence-building job carries)."""
    e = _t(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct("ts_us", "event_id", "event_type"))
    )
    return e.groupBy("user_id").agg(
        F.array_join(
            F.transform(ordered, lambda x: x["event_type"]), ","
        ).alias("seq"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def q_window_tumbling(spark, sf_dir):
    return tumbling_window(_t(spark, sf_dir, "events"))


def q_window_sliding(spark, sf_dir):
    """Sliding event-time windows (2h window, 1h hop): each event expands to
    its 2 overlapping windows map-side; one agg shuffle on the window key.
    Oracle = union of the two shifted hour-bucket assignments."""
    from cassandra_data_migrator_spark.operators.windows import sliding_window

    return sliding_window(_t(spark, sf_dir, "events"))


def q_window_session(spark, sf_dir):
    return session_window(_t(spark, sf_dir, "events"))


def q_regional_revenue(spark, sf_dir):
    """TPC-H Q5-shaped six-table join: revenue per nation for ASIA, with the
    customer-nation == supplier-nation constraint. The fact side (lineitem)
    shuffles on its join keys; nation⋈region collapses to a broadcast dim so
    the per-nation rollup never moves the small side. Money math is decimal×
    decimal (exact, order-independent sums)."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    n = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # spread_by on lineitem was tried and REJECTED by measurement
    # (1.66 -> 1.86 s isolated): the all-broadcast probe side is cheap per
    # row (the decimal math fires only on the ASIA slice), so the extra
    # exchange outweighed the widened map side.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


def q_corr_stats(spark, sf_dir):
    """Per-group Pearson correlation / sample covariance of quantity vs
    extendedprice — computed from EXACT decimal moment sums (n, Σx, Σy, Σxy,
    Σx², Σy²), then one double-precision formula per group. Order-independent
    by construction (no streaming double accumulation), one partial-agg
    shuffle.

    The six decimal(38,8) partial sums (a BigDecimal allocation per
    double→decimal cast) measured 2.56 of the key's 2.57 s isolated — all
    on the single scan core (every fixture parquet is ONE row group, so no
    split config can widen the scan; double sums of the same shape cost
    0.27 s). Keyless spread() was tried and REJECTED (2.57 → 4.95 s: the
    sort-before-repartition local sort costs more than it buys); the
    hash-keyed spread_by on the two near-unique measure columns needs no
    sort and measured the aggregate at 0.85 s. Decimal addition is exactly
    associative/commutative, so the re-grouping is value-identical."""
    from cassandra_data_migrator_spark.operators.partition import spread_by

    li = spread_by(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice"
    )
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(38,8)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(38,8)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,8)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,8)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,8)")).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(corr, 4).alias("corr_r"),
        F.round(cov, 4).alias("covar_r"),
    )


def q_grouping_sets_agg(spark, sf_dir):
    """GROUPING SETS rollup — per-status, per-priority, and grand-total rows
    in ONE pass (Spark expands the sets map-side; one shuffle, not three
    scans)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_time_gap_fill(spark, sf_dir):
    """Time-series gap filling: dense hourly (event_type × hour) grid with
    zero-filled missing buckets — the densification step before any
    training-window feature join. The grid is generated distributed
    (sequence+explode over a 1-row bounds agg crossed with the distinct-type
    dim — both tiny), then one left join against the bucket counts; no
    driver-side loop, no collect."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("ts_us div 3600000000").alias("hr")
    )
    bounds = e.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    hours = bounds.select(F.explode(F.sequence("mn", "mx")).alias("hr"))
    types = e.select("event_type").distinct()
    counts = e.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    grid = hours.crossJoin(F.broadcast(types))
    return grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("cnt"), F.lit(0).cast("bigint")).alias("n_events")
    )


EWMA_ALPHA = 0.5
EWMA_LAGS = 8


def q_ewma_smooth(spark, sf_dir):
    """Exponentially-weighted moving average over the trailing 8 events per
    user (α=0.5, weights renormalized over the rows that exist). Fixed-lag
    formulation — a partitioned window with 8 lag() taps, so the frame never
    grows with history and the float sum has ONE fixed evaluation order on
    both engines."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    num, den = None, None
    for k in range(EWMA_LAGS):
        wt = EWMA_ALPHA * (1 - EWMA_ALPHA) ** k
        xk = F.col("value") if k == 0 else F.lag("value", k).over(w)
        nk = F.lit(wt) * F.coalesce(xk, F.lit(0.0))
        dk = F.when(xk.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = nk if num is None else num + nk
        den = dk if den is None else den + dk
    return e.select(
        "event_id", "user_id", F.round(num / den, 4).alias("ewma_r")
    )


UNPIVOT_METRICS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_unpivot_metrics(spark, sf_dir):
    """Wide→long reshape (unpivot/melt) + per-metric rollup: the inverse of
    pivot_events. Spark plans unpivot as a map-side Expand (no shuffle for
    the reshape itself — each input row fans to 4 long rows in place), then
    one partial-agg shuffle on the 4-value metric key.

    spread_by widens the 1-task fixture scan (one parquet row group)
    so the 4× Expand and its decimal partial sums run on every core; the
    id column is the natural near-unique hash key. Pass-through at
    production split counts."""
    from cassandra_data_migrator_spark.operators.partition import spread_by

    li = spread_by(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    long = li.unpivot(
        ids=["l_orderkey"],
        values=UNPIVOT_METRICS,
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long.groupBy("metric").agg(
        F.sum(F.col("val").cast("decimal(18,4)")).cast("double").alias("sum_val"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )


QUOTA_PER_SOURCE = 10


def q_quota_cap(spark, sf_dir):
    """Per-source quota capping: keep at most N docs per source, chosen in
    hash order (stable "random" pick, not first-by-id). Window partitioned by
    source — distributed; per-group state bounded by the source's doc count."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(tok(F.col("doc_id")), F.col("doc_id"))
    return (
        d.select("doc_id", "source", F.row_number().over(w).cast("bigint").alias("pick"))
        .filter(F.col("pick") <= QUOTA_PER_SOURCE)
    )


VOCAB_MIN_COUNT = 5
VOCAB_SIZE = 1000


def q_vocab_topk(spark, sf_dir):
    """Vocabulary construction: top-1k tokens by frequency with contiguous
    ids. Two-phase top-k (operators/rank.top_k_rows):
    each partition prunes to its local top-k, then ONE ordered pass over the
    ≤ k × numPartitions survivors assigns the exact global id — the only
    unpartitioned window reads a set bounded by construction, never the
    (web-scale-unbounded) vocabulary table."""
    from cassandra_data_migrator_spark.operators.rank import top_k_rows

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= VOCAB_MIN_COUNT)
    )
    ranked = top_k_rows(
        counts, VOCAB_SIZE, [F.col("cnt").desc(), F.col("word")], rank_col="__rnk"
    )
    return ranked.select("word", "cnt", F.col("__rnk").cast("bigint").alias("vocab_id"))


def q_user_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the event-type distribution (behavioral
    diversity score). H = ln(n) − Σc·ln(c)/n over the per-(user,type) counts
    — two partial-agg shuffles, all JVM."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return c.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.round(
            F.ln(F.sum("c")) - F.sum(F.col("c") * F.ln("c")) / F.sum("c"), 4
        ).alias("entropy_r"),
    )


def q_latest_event(spark, sf_dir):
    """Per-user argmax: the latest event (deterministic (ts, event_id)-max)
    with its payload — the 'current state' projection of an event stream.
    Partitioned window, rank-1 filter; at scale this is the standard
    shuffle-once pattern (AQE handles per-user skew)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        e.select(
            "user_id", "event_id", "ts_us", "event_type", "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts_us", "event_type",
                F.round("value", 4).alias("value_r"))
    )


ZSCORE_THRESHOLD = 2.5


def q_anomaly_zscore(spark, sf_dir):
    """Per-user z-score outlier flagging: events whose value deviates more
    than 2.5σ from that user's mean. Stats come from exact decimal moment
    sums (order-independent), then broadcast back onto the stream — one
    groupBy shuffle plus a dim-sized join, never a window over raw history."""
    e = _t(spark, sf_dir, "events")
    stats = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("value").cast("decimal(38,8)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,8)"))
        .cast("double")
        .alias("sxx"),
    )
    stats = stats.select(
        "user_id",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
        ).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        e.join(F.broadcast(stats), "user_id")
        .filter(F.abs(z) > ZSCORE_THRESHOLD)
        .select("event_id", "user_id", F.round("value", 4).alias("value_r"),
                F.round(z, 4).alias("z_r"))
    )


BOILERPLATE_MIN_DF = 5
BOILERPLATE_FLAG_RATIO = 0.05


def q_boilerplate_ngrams(spark, sf_dir):
    """C4-style corpus-driven boilerplate detection: a word 3-gram whose
    document frequency reaches BOILERPLATE_MIN_DF is boilerplate; every doc
    reports its distinct-shingle total, boilerplate hit count, ratio, and a
    drop flag on the ROUNDED ratio (so both engines compare identical 4dp
    values).

    Plan shape: the inverted shingle index is computed ONCE (persisted) and
    feeds both consumers — the df aggregation and the per-doc rollup. The
    boilerplate set is the df-filtered tail (tiny), so it broadcasts back
    onto the index: one index shuffle + one per-doc agg shuffle, and the raw
    corpus is never self-joined."""
    d = _t(spark, sf_dir, "documents")
    idx = dedup.shingle_index(d, "text", "doc_id", n=3).persist()
    boiler = (
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= BOILERPLATE_MIN_DF)
        .select("shingle", F.lit(1).alias("__boiler"))
    )
    ratio = F.round(F.col("boiler_shingles") / F.col("total_shingles"), 4)
    return (
        idx.join(F.broadcast(boiler), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_shingles"),
            F.sum(F.coalesce(F.col("__boiler"), F.lit(0))).cast("bigint").alias("boiler_shingles"),
        )
        .select(
            "doc_id",
            "total_shingles",
            "boiler_shingles",
            ratio.alias("boiler_ratio"),
            (ratio > BOILERPLATE_FLAG_RATIO).cast("int").alias("drop_flag"),
        )
    )


def q_chunk_dedup(spark, sf_dir):
    """Sub-document (chunk-level) exact dedup — the RefinedWeb-style pass
    that removes repeated spans across the corpus, not just whole-doc dups.
    Chunks reuse the doc_chunking stride windows; the keep-first winner per
    chunk hash is the global minimum (doc_id, chunk_idx) via a row_number
    window partitioned by the md5 — a uniform hash shuffle (same shape as
    dedup_exact, fanned out ~n_chars/stride per doc). Output is the per-doc
    survival summary a curation pipeline filters on."""
    d = _t(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1).cast("bigint"),
        F.greatest(F.col("n_chars"), F.lit(1).cast("bigint")),
        F.lit(CHUNK_STRIDE).cast("bigint"),
    )
    chunk = F.col("text").substr(F.col("start").cast("int"), F.lit(CHUNK_SIZE))
    chunks = d.select("doc_id", "text", F.explode(starts).alias("start")).select(
        "doc_id",
        F.floor((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.md5(chunk).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.sum((F.col("rn") == 1).cast("bigint"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_chunks"),
        kept.cast("bigint").alias("kept_chunks"),
        F.round(F.lit(1.0) - kept / F.count(F.lit(1)), 4).alias("dup_ratio"),
    )


WINSOR_LO = 0.05
WINSOR_HI = 0.95


def q_winsorize_clamp(spark, sf_dir):
    """Per-group winsorization: clamp order values into the group's
    [p05, p95] band before aggregating — the standard outlier-robust
    normalization before training on heavy-tailed numerics.

    Bounds are exact per-group percentiles over the 5 priority groups (each
    group's sort is bounded by its partition; the 100 TB substitution is
    approx_percentile with the tolerance pinned in tests/test_approx.py).
    Bounds are rounded to 4dp on BOTH sides before clamping so each engine
    clamps against bit-identical constants, then the clamped sum is
    decimal-exact (order-independent)."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.groupBy("o_orderpriority").agg(
        F.round(F.expr(f"percentile(o_totalprice, {WINSOR_LO})"), 4).alias("lo"),
        F.round(F.expr(f"percentile(o_totalprice, {WINSOR_HI})"), 4).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        o.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("raw_sum"),
            F.sum(clamped.cast("decimal(18,4)")).cast("double").alias("clamped_sum"),
            F.sum((F.col("o_totalprice") < F.col("lo")).cast("bigint")).alias("n_floor"),
            F.sum((F.col("o_totalprice") > F.col("hi")).cast("bigint")).alias("n_ceil"),
        )
    )






def q_kmeans_clusters(spark, sf_dir):
    """Distributed Lloyd's k-means over the embedding corpus (the trainer
    for the IVF centroid list), reported as the per-cluster profile. The
    corpus is never shuffled for assignment (literal-centroid argmin in the
    scan projection); each iteration's update is one k·dim partial-agg
    shuffle + bounded k·dim driver sync — see operators/cluster.py.
    Iterative (non-SQL-expressible) → rows-only checked. Centroids come
    from the SAME session-shared trainer memo the IVF keys use
    (_ivf_centroids — identical params, deterministic trainer), so one
    session trains once; this key runs only the final assignment pass."""
    from cassandra_data_migrator_spark.operators.cluster import (
        assign_clusters_arrow,
        cluster_profile,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = [c for _, c in _ivf_centroids(spark, sf_dir)]
    return cluster_profile(assign_clusters_arrow(emb, cents, "embedding"))


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("fast", "slow", "good", "bad", "big")
BM25_TOPK = 20
OOV_VOCAB_N = 200
SALT_N = 8


def q_codec_blob(spark, sf_dir):
    """Blob codec family checked end-to-end (SURVEY §2 #10's blob↔string
    codecs were pytest-only): string→binary→lower-hex / base64 / string
    round-trip on a 16-char document prefix. Pure codegen'd scan
    expressions — embarrassingly parallel."""
    d = _t(spark, sf_dir, "documents")
    prefix = F.substring(F.col("text"), 1, 16)
    blob = codecs.string_to_blob(prefix)
    return d.select(
        "doc_id",
        codecs.blob_to_hex(blob).alias("hex_str"),
        codecs.blob_to_base64(blob).alias("b64_str"),
        blob.cast("string").alias("rt_str"),
    )


def q_codec_vector(spark, sf_dir):
    """CQL ``vector<float, n>`` wire codec end-to-end — the LAST §1.2
    type mapping without an oracled roundtrip (Cassandra 5's vector type,
    the column CDM 6 migrates for vector-search tables): every embedding
    serializes to the protocol wire format (concatenated big-endian
    binary32, no length prefix), decodes back, is verified BIT-identical
    in-kernel (corruption aborts the job), and reports order-independent
    exact observables — dims, wire bytes, first/last/min/max as float64
    (binary32→binary64 widening is exact, so the oracle recomputes
    identical doubles from the raw column with zero accumulation-order
    risk). The wire bytes themselves are pinned against struct.pack in
    pytest (an oracle cannot build IEEE bytes)."""
    from cassandra_data_migrator_spark.operators.multimodal import (
        cql_vector_roundtrip,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cql_vector_roundtrip(emb)


def q_validate_diff_composite(spark, sf_dir):
    """DiffData over a COMPOSITE primary key (partition key + clustering
    columns — events' (user_id, event_id), FIXTURES.md PK declaration): the
    wide-row model's defining shape. Same single PK-equi join as
    validate_diff, keyed on both columns; the derived target drops rows
    where a PK hash ≡ 0 mod 97 and mutates event_type where ≡ 0 mod 101.
    (lineitem's declared PK is not unique in the synthetic fixture, so the
    events PK — verified unique — carries this check.)"""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "value")
    pk_hash = F.col("user_id") * 7 + F.col("event_id")
    target = e.filter(pk_hash % 97 != 0).withColumn(
        "event_type",
        F.when(pk_hash % 101 == 0, F.lit("X")).otherwise(F.col("event_type")),
    )
    return validation.diff(
        e,
        target,
        ["user_id", "event_id"],
        ["event_type", "value"],
    )


def q_bm25_topk(spark, sf_dir):
    """BM25 retrieval scoring (k1=1.2, b=0.75) of the document corpus against
    a fixed term set — the classic sparse-retrieval ranking operator for
    training-data search. Plan: ONE token explode feeds tf (per doc,term),
    dl (per doc) and df (per term); N and avgdl ride along as 1-row
    broadcast cross-joins (never a driver collect); top-k via a global
    window ONLY over the scored candidate set (docs containing ≥1 term),
    which is corpus-sparse — at 100 TB the candidate set is the inverted-
    index posting union, not the corpus."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("word"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    hits = toks.filter(F.col("word").isin(*BM25_TERMS))
    tf = hits.groupBy("doc_id", "word").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("df"))
    # df_ (≤|terms| rows) and stats (1 row) broadcast; dl is corpus-sized so
    # it joins by shuffle on doc_id (tf is the sparse candidate set — the
    # posting-list union — so the shuffle moves candidates, not the corpus).
    scored = (
        tf.join(F.broadcast(df_), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf", F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (BM25_K1 + 1)
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(F.round(F.sum("term_score"), 4).alias("score"))
    # two-phase top-k: a common-term query's candidate
    # set is corpus-fraction-sized, so the final ordered pass may only read
    # the ≤ k × numPartitions per-partition survivors, never all candidates
    from cassandra_data_migrator_spark.operators.rank import top_k_rows

    ranked = top_k_rows(
        per_doc, BM25_TOPK, [F.col("score").desc(), F.col("doc_id")], rank_col="__rnk"
    )
    return ranked.select(
        "doc_id", "score", F.col("__rnk").cast("bigint").alias("rnk")
    )


def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per document against the corpus's own top-N
    vocabulary — the tokenizer-coverage audit for training mixes. Vocab
    selection is the two-phase top-k (operators/rank.top_k_rows — the only
    unpartitioned window reads ≤ N × numPartitions per-partition survivors,
    same posture as vocab_topk); scoring is a broadcast semi-join of the
    token stream against the N-row vocab."""
    from cassandra_data_migrator_spark.operators.rank import top_k_rows

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("word"))
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = top_k_rows(
        counts, OOV_VOCAB_N, [F.col("cnt").desc(), F.col("word")]
    ).select("word")
    tagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left"
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("bigint").alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)) / F.count(F.lit(1)), 4
        ).alias("oov_rate"),
    )


def q_sentence_split(spark, sf_dir):
    """Sentence segmentation with positional index (doc structuring for
    chunked training data): split on terminal punctuation runs, keep the
    ORIGINAL split index (stable under filtering), per-sentence word count.
    sequence+posexplode — shuffle-free, scan-bound."""
    d = _t(spark, sf_dir, "documents")
    parts = F.split(F.col("text"), r"[.!?]+")
    exploded = d.select("doc_id", F.posexplode(parts).alias("sent_idx", "raw"))
    sent = F.trim(F.col("raw"))
    return (
        exploded.withColumn("sent", sent)
        .filter(F.col("sent") != "")
        .select(
            "doc_id",
            F.col("sent_idx").cast("bigint").alias("sent_idx"),
            "sent",
            F.size(F.filter(F.split(F.col("sent"), r"\s+"), lambda t: t != F.lit(""))).cast(
                "bigint"
            ).alias("n_words"),
        )
    )


def q_user_event_types(spark, sf_dir):
    """Per-user distinct-set aggregation (collect_set → sorted CSV string):
    the grouped array-agg reshape, emitted as canonical text so it hashes
    deterministically. One shuffle, map-side partial collect."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
        F.count_distinct(F.col("event_type")).cast("bigint").alias("n_types"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def q_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join (the manual pattern AQE's skew handling
    generalizes; salting stays necessary when ONE key dominates a
    broadcast-ineligible join). Fact side (lineitem) gets a deterministic
    salt from its clustering column; the dim side (orders) is exploded S=8
    ways so (key, salt) partitions evenly. Same result as the plain join —
    the oracle IS the plain join."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_linenumber") % SALT_N).cast("int")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    o_salted = o.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_N)]))
    )
    joined = li.join(
        o_salted,
        (li.l_orderkey == o_salted.o_orderkey) & (li.salt == o_salted.salt),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
    )


def q_schema_evolution(spark, sf_dir):
    """Schema-evolution read (mergeSchema over partition generations): batch 1
    written before a column existed, batch 2 with the new column; one merged
    scan null-fills the old generation. The per-batch checksum proves the
    merge didn't smear values across generations. At scale this is the
    standard additive-column migration — no table rewrite."""
    import os

    o = _t(spark, sf_dir, "orders")
    base = scratch_dir(spark, "evolve", sf_dir)
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_custkey")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.groupBy("batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("o_custkey").cast("bigint").alias("sum_cust"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).cast("bigint").alias(
            "n_null_price"
        ),
        F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0)).cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


def q_text_normalize(spark, sf_dir):
    """C4-style text normalization: lowercase → strip non-[a-z0-9 .,] →
    collapse whitespace → trim, emitted as md5 + length + prefix so the
    full normalized text is value-checked without hashing megabytes of
    output. Scan-bound regexp chain, RE2-compatible patterns."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 .,]", ""), " +", " "
        )
    )
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("bigint").alias("norm_len"),
        F.substring(norm, 1, 40).alias("norm_prefix"),
    )


PMI_MIN_COUNT = 10
TOPK_PCT = 10  # group_topk_pct keeps the top 10% per group


def q_migrate_incremental(spark, sf_dir):
    """End-to-end INCREMENTAL migrate (the writetime-window delta pattern,
    SURVEY §2 #17 + upsert sink): full base load, then a delta batch whose
    rows overwrite same-PK rows via the merge sink (plans/upsert.py), then a
    checksum of the merged state. The oracle recomputes the expected final
    state directly — proving the merge neither dropped base rows nor kept
    stale versions. At 100 TB the merge is one PK shuffle (lakehouse formats
    make the rewrite a metadata swap; the merge plan is format-agnostic)."""
    from cassandra_data_migrator_spark.plans.upsert import upsert_parquet

    o = _t(spark, sf_dir, "orders")
    base = scratch_dir(spark, "incr", sf_dir)
    o.write.mode("overwrite").parquet(base)
    delta = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    merged = upsert_parquet(spark, delta, base, ["o_orderkey"])
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("sum_price"),
        F.sum((F.col("o_orderkey") % 10 == 0).cast("int")).cast("bigint").alias("n_mutated"),
    )


WTRT_SHIFT_US = 5_000_000  # the migrate's writetime incrementBy, in µs


def q_migrate_writetime_roundtrip(spark, sf_dir):
    """Per-row writetime/TTL SINK semantics end-to-end (the
    §4.3.1 capability that was documented but never oracled):
    events with per-cell writetime/TTL proxies are written to a parquet
    target, then two delta batches merge through the last-write-wins sink
    (plans/upsert.py merge_upsert with writetime_col): a WINNING batch
    (writetime shifted +incrementBy, value/TTL mutated) that must replace
    its base rows, and a STALE batch (writetime shifted -incrementBy,
    value poisoned +9999) that must LOSE to the base rows — Cassandra's
    reconcile-by-timestamp, the exact behavior CDM's per-row
    TimestampOption/TTLOption write gives (WritetimeTTL [upstream@6.0.1],
    SURVEY §4.3.1), as far as parquet can express it. The returned checksum
    (count + exact writetime/ttl/value sums over the RE-READ target) is
    recomputed independently by the oracle from reconcile first principles:
    any dropped base row, surviving stale row, or lost shift changes a sum.
    Scale: the merge is ONE PK shuffle (row_number over pk ordered by
    writetime); the rewrite is the standard compact-and-swap."""
    from cassandra_data_migrator_spark.plans.upsert import upsert_parquet

    # spread_by on the events source was tried and REJECTED by
    # measurement (2.32 -> 2.92 s isolated): at this row count the extra
    # exchange and the multi-file staging layout cost more than the
    # parallelized attach/merge passes save. The key stays scan-shaped.
    e = attach_event_writetimes(attach_event_ttls(_t(spark, sf_dir, "events")))
    base = e.select(
        "event_id",
        "user_id",
        "value",
        max_writetime(["__writetime_value", "__writetime_props"]).alias("__writetime"),
        max_ttl(["__ttl_value", "__ttl_props"]).alias("__ttl"),
    )
    path = scratch_dir(spark, "wtrt", sf_dir)
    base.write.mode("overwrite").parquet(path)
    winning = (
        base.filter(F.col("event_id") % 10 == 0)
        .withColumn("value", F.col("value") + 1000.0)
        .withColumn("__writetime", F.col("__writetime") + WTRT_SHIFT_US)
        .withColumn("__ttl", F.col("__ttl") + F.lit(50).cast("bigint"))
    )
    stale = (
        base.filter(F.col("event_id") % 10 == 5)
        .withColumn("value", F.col("value") + 9999.0)
        .withColumn("__writetime", F.col("__writetime") - WTRT_SHIFT_US)
    )
    merged = upsert_parquet(
        spark,
        winning.unionByName(stale),
        path,
        ["event_id"],
        writetime_col="__writetime",
    )
    # the writetime checksum splits into exact second/µs-remainder bigint
    # sums (a single µs sum overflows BIGINT at this row count, and DECIMAL
    # outputs round-trip lossily through the oracle's dataframe fetch)
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.expr("__writetime div 1000000")).cast("bigint").alias("sum_wt_sec"),
        F.sum(F.pmod(F.col("__writetime"), F.lit(1_000_000))).cast("bigint").alias("sum_wt_rem"),
        F.sum("__ttl").cast("bigint").alias("sum_ttl"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        F.sum((F.col("event_id") % 10 == 0).cast("int")).cast("bigint").alias("n_winners"),
    )


def q_weighted_sample(spark, sf_dir):
    """Probability-proportional-to-size sampling (curation mixes weighted by
    doc length): keep-rate = min(95, floor(n_chars/10)) percent, decided by
    the deterministic token hash — reproducible across runs and engines,
    no rand(). Scan-bound, zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    rate = F.least(F.lit(95), F.floor(F.col("n_chars") / 10)).cast("bigint")
    return (
        d.withColumn("rate", rate)
        .filter(pmod_100(tok(F.col("doc_id"))) < F.col("rate"))
        .select("doc_id", "lang", "rate")
    )


def q_group_topk_pct(spark, sf_dir):
    """Relative top-k: the top 10% rows per group (per-priority top spenders)
    — rank and group-size ride the SAME partitioned window (one shuffle);
    the threshold is ceil(n/10) computed per row, no second pass."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_all = Window.partitionBy("o_orderpriority")
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rnk"),
            F.count(F.lit(1)).over(w_all).cast("bigint").alias("grp_n"),
        )
        .filter(F.col("rnk") <= F.ceil(F.col("grp_n") * TOPK_PCT / 100))
    )


WINDOW_RANGE_US = 3_600_000_000  # trailing 1 hour


def q_window_time_range(spark, sf_dir):
    """Time-RANGE window frame (vs window_rolling_avg's ROWS frame): per-user
    trailing 1-hour event count and decimal-exact value sum. The frame is
    defined by ts VALUES, so duplicate timestamps resolve identically on
    both engines with no tiebreak needed."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-WINDOW_RANGE_US, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("sum_1h"),
    )


def q_bigram_pmi(spark, sf_dir):
    """Pointwise mutual information of adjacent word pairs — the classic
    collocation detector for corpus analysis. One token explode feeds both
    the unigram and (via slice+zip_with, map-side) the bigram counts; corpus
    totals ride as 1-row broadcast cross-joins; the unigram join keys on the
    aggregated vocab (bounded), never the raw stream."""
    d = _t(spark, sf_dir, "documents")
    t = tokens("text")
    toks = d.select(F.explode(t).alias("w"))
    ucnt = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("t_tot"))
    with_arr = d.select(t.alias("ts")).filter(F.size("ts") >= 2)
    bigrams = with_arr.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 1),
                F.slice(F.col("ts"), 2, F.size("ts") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    btot = bigrams.agg(F.count(F.lit(1)).cast("double").alias("b_tot"))
    bcnt = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    scored = (
        bcnt.join(ucnt.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(ucnt.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    pmi = F.log(
        (F.col("c_ab") / F.col("b_tot"))
        / ((F.col("c1") / F.col("t_tot")) * (F.col("c2") / F.col("t_tot")))
    )
    return scored.select(
        "w1", "w2", F.col("c_ab").cast("bigint").alias("c_ab"),
        (F.round(pmi, 4) + F.lit(0.0)).alias("pmi")
    )


def q_validate_diff_skewed(spark, sf_dir):
    """DiffData under a HOT partition key (the standing skewed-run bench
    tier): the composite PK's partition component is
    remapped so ONE key holds ~10% of all rows (user_id % 10 == 0 → 0,
    the Cassandra wide-row hot-partition reality) while (pk_user,
    event_id) stays unique (event_id is globally unique). The diff join
    keys on the FULL composite PK, so hashpartitioning(pk_user, event_id)
    stays uniform no matter how hot pk_user is — measured as
    skew-immunity on 2M rows (BASELINE.md); this key keeps it measured
    EVERY round: a plan change that re-keys the join on the partition
    component alone shows up as a sweep number, not a silent regression.
    Same planted drop/mutate construction as validate_diff_composite."""
    e = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("bigint")
        .alias("pk_user"),
        "event_id",
        "event_type",
        "value",
    )
    pk_hash = F.col("pk_user") * 7 + F.col("event_id")
    target = e.filter(pk_hash % 97 != 0).withColumn(
        "event_type",
        F.when(pk_hash % 101 == 0, F.lit("X")).otherwise(F.col("event_type")),
    )
    return validation.diff(
        e,
        target,
        ["pk_user", "event_id"],
        ["event_type", "value"],
    )
