"""SQ8 scalar-quantization audit semantics (r09).

The end-to-end recall contract is oracled via sq8_recall_audit /
sq8_recall_clustered in test_oracle_parity; these pin what the boolean
can't show: the floor is SENSITIVE (an impossible floor flips it red) and
the quantizer itself is within half a step of the identity — the property
that makes the 8-bit shortlist near-exact.
"""

from pyspark.sql import functions as F

from cassandra_data_migrator_spark.queries._shared import _t
from cassandra_data_migrator_spark.queries.ann_pq import _sq8_audit
from cassandra_data_migrator_spark.queries.dedup_text import _brute_topk


def test_sq8_floor_is_sensitive(spark, sf_dir):
    """recall_ok is a real gate: a floor above 1.0 must turn it False on
    the same pipeline the green key runs (guards against a tautological
    TRUE column)."""
    emb = _t(spark, sf_dir, "embeddings")
    brute = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    row = _sq8_audit(spark, emb, brute, 1.01).collect()[0]
    assert row.recall_ok is False
    assert row.n_brute > 0


def test_sq8_quantizer_half_step_bound(spark):
    """Dequantized values sit within half a quantization step of the
    original: |x − recon(code(x))| ≤ (mx − mn) / (2·255) per dim, and a
    degenerate constant dim reconstructs exactly. Checked by running the
    audit's own encode/reconstruct expressions on a hand corpus."""
    rows = [
        (0, [0.0, 5.0, -1.0, 7.0]),
        (1, [1.0, 5.0, 3.0, -2.0]),
        (2, [0.25, 5.0, 0.125, 4.5]),
        (3, [0.9, 5.0, -0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, v ARRAY<DOUBLE>")
    ex = df.select(F.posexplode("v").alias("__i", "__x"))
    stats = ex.groupBy("__i").agg(F.min("__x").alias("mn"), F.max("__x").alias("mx"))
    bounds = stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "mn"))), lambda s: s["mn"]
        ).alias("__mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "mx"))), lambda s: s["mx"]
        ).alias("__maxs"),
    )

    def _code(x, i):
        mn, mx = F.get(F.col("__mins"), i), F.get(F.col("__maxs"), i)
        return (
            F.when(mx > mn, F.round((x - mn) / (mx - mn) * F.lit(255.0)).cast("int"))
            .otherwise(F.lit(0))
        )

    def _recon(c, i):
        mn, mx = F.get(F.col("__mins"), i), F.get(F.col("__maxs"), i)
        return mn + c.cast("double") / F.lit(255.0) * (mx - mn)

    enc = (
        df.join(F.broadcast(bounds))
        .select("vec_id", "v", F.transform("v", _code).alias("codes"), "__mins", "__maxs")
        .select("vec_id", "v", "codes", F.transform("codes", _recon).alias("rv"))
    )
    got = {r.vec_id: r for r in enc.collect()}
    mins = [min(r[1][i] for r in rows) for i in range(4)]
    maxs = [max(r[1][i] for r in rows) for i in range(4)]
    for vid, vec in rows:
        r = got[vid]
        for i, x in enumerate(vec):
            assert 0 <= r.codes[i] <= 255
            if maxs[i] > mins[i]:
                half_step = (maxs[i] - mins[i]) / (2 * 255.0)
                assert abs(r.rv[i] - x) <= half_step + 1e-12, (vid, i)
            else:
                # constant dim: code 0, reconstructs the shared value
                assert r.codes[i] == 0 and r.rv[i] == x


def test_unit_kernel_bit_identity(spark, sf_dir):
    """r12 optimization contract: the Arrow unit-normalizer is bit-equal to
    the interpreted HOF expression `transform(v, x / norm(v))` on the whole
    fixture corpus (the kernel preserves the norm fold's sequential float
    order, so every output double must match exactly)."""
    from cassandra_data_migrator_spark.functions.vectors import (
        as_double_array,
        norm,
        unit_udf_factory,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = as_double_array("embedding")
    unit_expr = F.transform(v, lambda x: x / norm(v))
    expr_rows = {
        r.vec_id: r.u for r in emb.select("vec_id", unit_expr.alias("u")).collect()
    }
    kern_rows = {
        r.vec_id: r.u
        for r in emb.select("vec_id", unit_udf_factory()(v).alias("u")).collect()
    }
    assert set(expr_rows) == set(kern_rows)
    for vid, ue in expr_rows.items():
        uk = kern_rows[vid]
        assert len(ue) == len(uk)
        for a, b in zip(ue, uk):
            assert a == b, (vid, a, b)  # exact, not approx


def test_sq8_recon_kernel_bit_identity(spark, sf_dir):
    """r12 optimization contract: the Arrow encode→dequantize kernel
    (_sq8_recon_udf_factory) is bit-equal to the audit's expression path
    (transform(_code) → transform(_recon)) over both fixture corpora,
    using the audit's own unit-normalized vectors and per-dim bounds."""
    from cassandra_data_migrator_spark.functions.vectors import (
        as_double_array,
        unit_udf_factory,
    )
    from cassandra_data_migrator_spark.queries.ann_pq import (
        SQ_LEVELS,
        _clustered_emb,
        _sq8_recon_udf_factory,
    )

    def corpora():
        yield spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        yield _clustered_emb(spark, sf_dir)

    for emb in corpora():
        v = as_double_array("embedding")
        base = emb.select("vec_id", unit_udf_factory()(v).alias("__v"))
        dim = 64
        stats = base.agg(
            *[F.min(F.get("__v", i)).alias(f"__mn{i}") for i in range(dim)],
            *[F.max(F.get("__v", i)).alias(f"__mx{i}") for i in range(dim)],
        )
        bounds = stats.select(
            F.array(*[F.col(f"__mn{i}") for i in range(dim)]).alias("__mins"),
            F.array(*[F.col(f"__mx{i}") for i in range(dim)]).alias("__maxs"),
        )

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

        joined = base.join(F.broadcast(bounds))
        expr_rows = {
            r.vec_id: r.rv
            for r in joined.select(
                "vec_id",
                F.transform(F.transform("__v", _code), _recon).alias("rv"),
            ).collect()
        }
        kern_rows = {
            r.vec_id: r.rv
            for r in joined.select(
                "vec_id",
                _sq8_recon_udf_factory()(
                    F.col("__v"), F.col("__mins"), F.col("__maxs")
                ).alias("rv"),
            ).collect()
        }
        assert set(expr_rows) == set(kern_rows)
        for vid, re_ in expr_rows.items():
            rk = kern_rows[vid]
            assert len(re_) == len(rk)
            for a, b in zip(re_, rk):
                assert a == b, (vid, a, b)  # exact, not approx
