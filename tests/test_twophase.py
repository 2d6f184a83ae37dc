"""The two-phase bucketed-offsets helpers must be BIT-IDENTICAL to the
partition-less global windows they replace — including NTILE's uneven-tile
split, ties resolved by the explicit tie-break column, negative keys (trunc
vs floor DIV), and N < n_buckets edge cases."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_trill_shop_spark.operators.twophase import (
    _bucket_by_boundaries,
    bucketed_cumsum,
    bucketed_ntile,
    bucketed_rank,
    md5_bucket,
    quantile_bucket,
)


def _base(spark, n=997):
    # keys: clustered, negative, and tied values; id is the tie-break
    return spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 37 % 211) - 100).cast("bigint").alias("k"),
        (F.col("id") % 7).cast("bigint").alias("v"),
    )


def test_rank_matches_global_window(spark):
    df = _base(spark)
    naive = df.withColumn(
        "rank", F.row_number().over(Window.orderBy("k", "id")).cast("bigint")
    )
    two = bucketed_rank(df, F.expr("k DIV 16"), [F.col("k"), F.col("id")])
    assert naive.exceptAll(two).count() == 0
    assert two.exceptAll(naive).count() == 0


def test_rank_desc_order_via_negated_bucket(spark):
    df = _base(spark)
    naive = df.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("k"), F.asc("id"))).cast("bigint"),
    )
    two = bucketed_rank(df, F.expr("-k DIV 16"), [F.desc("k"), F.asc("id")])
    assert naive.exceptAll(two).count() == 0


def test_rank_md5_bucket(spark):
    df = _base(spark, 500).withColumn("h", F.md5(F.col("id").cast("string")))
    naive = df.withColumn(
        "rank", F.row_number().over(Window.orderBy("h", "id")).cast("bigint")
    )
    two = bucketed_rank(df, md5_bucket(F.col("h"), 2), [F.col("h"), F.col("id")])
    assert naive.exceptAll(two).count() == 0


@pytest.mark.parametrize("n_rows,n_tiles", [(997, 4), (1000, 10), (7, 10), (3, 3)])
def test_ntile_matches_global_window(spark, n_rows, n_tiles):
    df = _base(spark, n_rows)
    naive = df.withColumn(
        "t", F.ntile(n_tiles).over(Window.orderBy("k", "id")).cast("bigint")
    )
    two = bucketed_ntile(df, F.expr("k DIV 16"), [F.col("k"), F.col("id")], n_tiles, "t")
    assert naive.exceptAll(two).count() == 0
    assert two.exceptAll(naive).count() == 0


def test_ntile_single_bucket_degenerate(spark):
    # everything in one bucket: still correct (just not scale-distributed)
    df = _base(spark, 100)
    naive = df.withColumn(
        "t", F.ntile(4).over(Window.orderBy("k", "id")).cast("bigint")
    )
    two = bucketed_ntile(df, F.lit(0), [F.col("k"), F.col("id")], 4, "t")
    assert naive.exceptAll(two).count() == 0


def test_cumsum_matches_global_window(spark):
    df = _base(spark)
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    naive = df.withColumn("c", F.sum("v").over(w))
    two = bucketed_cumsum(
        df, F.expr("k DIV 16"), [F.col("k"), F.col("id")], F.col("v"), "c"
    )
    assert naive.exceptAll(two).count() == 0


def test_cumsum_desc_order_via_negated_bucket(spark):
    """The abc_analysis shape: inclusive cumsum in DESC value order with a
    negated-band bucket key (monotone non-decreasing w.r.t. the descending
    total order, trunc-division semantics on negative keys)."""
    df = _base(spark)
    w = Window.orderBy(F.desc("k"), F.asc("id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = df.withColumn("c", F.sum("v").over(w))
    two = bucketed_cumsum(
        df, F.expr("-(k DIV 16)"), [F.desc("k"), F.asc("id")], F.col("v"), "c"
    )
    assert naive.exceptAll(two).count() == 0
    assert two.exceptAll(naive).count() == 0


def test_materialize_is_bit_identical_and_single_derivation(spark):
    """materialize=True must change only WHERE the input is computed (one
    localCheckpoint shared by both phases), never the result."""
    df = _base(spark).withColumn("exp", F.col("k") * F.col("k"))
    lazy = bucketed_ntile(
        df, F.expr("k DIV 16"), [F.col("k"), F.col("id")], 4, "t"
    )
    mat = bucketed_ntile(
        df, F.expr("k DIV 16"), [F.col("k"), F.col("id")], 4, "t",
        materialize=True,
    )
    assert lazy.exceptAll(mat).count() == 0
    assert mat.exceptAll(lazy).count() == 0
    # the materialized plan reads the checkpoint scan, not two copies of
    # the input projection
    plan = mat._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan


def test_helpers_empty_and_single_row(spark):
    """Empty input -> empty typed output; one row -> rank/tile 1 (the
    offsets join degrades gracefully, no NULL offsets leak through)."""
    empty = spark.createDataFrame([], "k long, id long, v long")
    assert bucketed_rank(empty, F.expr("k DIV 16"), [F.col("k"), F.col("id")]).count() == 0
    assert (
        bucketed_ntile(empty, F.expr("k DIV 16"), [F.col("k"), F.col("id")], 4, "t").count()
        == 0
    )
    assert (
        bucketed_cumsum(
            empty, F.expr("k DIV 16"), [F.col("k"), F.col("id")], F.col("v"), "c"
        ).count()
        == 0
    )
    one = spark.createDataFrame([(5, 1, 10)], "k long, id long, v long")
    assert bucketed_rank(one, F.expr("k DIV 16"), [F.col("k"), F.col("id")]).collect()[0]["rank"] == 1


def _null_base(spark, n=400):
    """Keys with a NULL stripe (every 11th), values with a NULL stripe
    (every 5th) and an all-NULL leading value run (ids 0..49)."""
    return spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 11 != 0, (F.col("id") * 37 % 211) - 100)
        .cast("bigint")
        .alias("k"),
        F.when((F.col("id") % 5 != 0) & (F.col("id") >= 50), F.col("id") % 7)
        .cast("bigint")
        .alias("v"),
    )


def test_rank_null_keys_match_global_window(spark):
    """NULL order keys rank FIRST (engine ASC NULLS FIRST default); the
    null-safe offsets join must keep them (ADVICE r5: the inner equi-join
    silently dropped NULL buckets)."""
    df = _null_base(spark)
    naive = df.withColumn(
        "rank", F.row_number().over(Window.orderBy("k", "id")).cast("bigint")
    )
    two = bucketed_rank(df, F.expr("k DIV 16"), [F.col("k"), F.col("id")])
    assert naive.exceptAll(two).count() == 0
    assert two.exceptAll(naive).count() == 0


def test_ntile_null_keys_match_global_window(spark):
    df = _null_base(spark)
    naive = df.withColumn(
        "t", F.ntile(7).over(Window.orderBy("k", "id")).cast("bigint")
    )
    two = bucketed_ntile(df, F.expr("k DIV 16"), [F.col("k"), F.col("id")], 7, "t")
    assert naive.exceptAll(two).count() == 0
    assert two.exceptAll(naive).count() == 0


def test_cumsum_null_keys_and_null_values_match_global_window(spark):
    """SUM OVER skips NULL values but stays NULL until the first non-NULL —
    the leading all-NULL run (ids < 50 at NULL/low keys) must come back
    NULL, not 0, and an all-NULL bucket must not NULL-poison later
    buckets' offsets."""
    df = _null_base(spark)
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    naive = df.withColumn("c", F.sum("v").over(w))
    two = bucketed_cumsum(
        df, F.expr("k DIV 16"), [F.col("k"), F.col("id")], F.col("v"), "c"
    )
    assert naive.exceptAll(two).count() == 0
    assert two.exceptAll(naive).count() == 0
    # the NULL-until-first-value region is genuinely exercised
    assert naive.where(F.col("c").isNull()).count() > 0


def test_cumsum_all_null_values(spark):
    """Degenerate: every value NULL -> every cumsum NULL (never 0)."""
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 13).cast("bigint").alias("k"),
        F.lit(None).cast("bigint").alias("v"),
    )
    two = bucketed_cumsum(
        df, F.expr("k DIV 4"), [F.col("k"), F.col("id")], F.col("v"), "c"
    )
    assert two.where(F.col("c").isNotNull()).count() == 0
    assert two.count() == 100


def test_quantile_bucket_distributes_degenerate_distribution(spark):
    """ADVICE r4 degenerate case: every value inside ONE fixed-width band
    (all within 1/4096, all in one $10k price band).  The approx-quantile
    bucket must still spread the relation across many buckets, stay
    monotone w.r.t. the key, and leave two-phase results bit-identical."""
    # 997 distinct values all within [1e6, 1e6 + 997): one $10k band
    df = spark.range(997).select(
        F.col("id"), (F.lit(1_000_000) + F.col("id") * 7 % 997).alias("v")
    )
    qb = quantile_bucket(df, "v")
    assert qb.select("__tp_qb").distinct().count() >= 16
    # monotone: bucket of the larger value is never smaller
    pairs = qb.alias("a").join(
        qb.alias("b"), F.col("a.v") < F.col("b.v")
    ).where(F.col("a.__tp_qb") > F.col("b.__tp_qb"))
    assert pairs.count() == 0
    # two-phase rank over the adaptive bucket == the global window
    naive = df.withColumn(
        "rank", F.row_number().over(Window.orderBy("v", "id")).cast("bigint")
    )
    two = bucketed_rank(
        qb, F.col("__tp_qb"), [F.col("v"), F.col("id")]
    ).drop("__tp_qb")
    assert naive.exceptAll(two).count() == 0
    assert two.exceptAll(naive).count() == 0


def test_quantile_bucket_null_and_nan_keys(spark):
    """NULL keys land in the minimum bucket (NULLS FIRST-consistent), NaN
    keys in the maximum (NaN sorts last ascending in Spark)."""
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, None), (5, float("nan"))],
        "id long, v double",
    )
    rows = {r.id: r["__tp_qb"] for r in quantile_bucket(df, "v", n=4).collect()}
    assert rows[4] == 0  # NULL -> minimum bucket
    assert rows[5] == max(rows.values())  # NaN -> maximum bucket
    assert rows[1] <= rows[2] <= rows[3]


def _boundary_buckets(spark, qs):
    df = spark.range(-6, 46).select(F.col("id").cast("double").alias("k"))
    out = _bucket_by_boundaries(df, "k", qs, out="b")
    return {int(r.k): r.b for r in out.collect()}


def test_bucket_by_boundaries_empty_list_is_constant_bucket(spark):
    assert set(_boundary_buckets(spark, []).values()) == {0}


def test_bucket_by_boundaries_unsorted_list_matches_linear_count(spark):
    qs = [17.0, -3.0, 40.0, 0.0, 17.0, 5.0]
    got = _boundary_buckets(spark, qs)
    assert got == {k: sum(q <= k for q in qs) for k in got}


def test_quantile_bucket_branch_consistency_without_exchange_reuse(spark):
    """ADVICE r6: the bucket column is consumed by 2+ plan branches (the
    offsets relation and the main path); the old broadcast-aggregate
    boundary subtree relied on ReuseExchange to keep branch buckets
    consistent — merge-order-sensitive ApproximatePercentile could
    otherwise mis-align the offsets join silently.  Boundaries are literal
    snapshots now, so two-phase results must stay bit-identical to the
    global window even with every exchange-reuse mechanism OFF."""
    df = spark.range(500).select(
        F.col("id"), (F.col("id") * 37 % 211).cast("double").alias("v")
    )
    naive = df.withColumn(
        "rank", F.row_number().over(Window.orderBy("v", "id")).cast("bigint")
    )
    reuse_confs = ["spark.sql.exchange.reuse", "spark.sql.execution.reuseSubquery"]
    old = {c: spark.conf.get(c, None) for c in reuse_confs}
    try:
        for c in reuse_confs:
            spark.conf.set(c, "false")
        qb = quantile_bucket(df, "v")
        # the boundary aggregate must no longer appear in the row plan at
        # all — a literal snapshot cannot diverge between branches
        plan = qb._jdf.queryExecution().executedPlan().toString()
        assert "percentile_approx" not in plan.lower()
        two = bucketed_rank(
            qb, F.col("__tp_qb"), [F.col("v"), F.col("id")]
        ).drop("__tp_qb")
        assert naive.exceptAll(two).count() == 0
        assert two.exceptAll(naive).count() == 0
    finally:
        for c, v in old.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_rank_plan_has_no_partitionless_window(spark):
    df = _base(spark)
    two = bucketed_rank(df, F.expr("k DIV 16"), [F.col("k"), F.col("id")])
    plan = two._jdf.queryExecution().executedPlan().toString()
    # a partition-less window over the row relation would print its order
    # key first: windowspecdefinition(k#...).  Two-phase windows lead with
    # the bucket key (per-row, partitioned) or run over the tiny offsets
    # relation (windowspecdefinition(__tp_bk#...) — allowed).
    assert "windowspecdefinition(k#" not in plan
    assert "windowspecdefinition(__tp_bk#" in plan
