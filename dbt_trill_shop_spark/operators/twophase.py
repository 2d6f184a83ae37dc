"""Two-phase (bucketed-offsets) replacements for partition-less global
windows — the house pattern that keeps total-order operators scale-safe.

A ``ROW_NUMBER() OVER (ORDER BY k)`` / ``NTILE(n) OVER (ORDER BY k)`` /
``SUM(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` plans as
``Window + Sort + Exchange SinglePartition``: the WHOLE relation funnels
through one task, which is the canonical 100×-scale-up failure mode even
when the answer is correct.  Spark's own escape hatches don't apply when
the rank is consumed downstream (InferWindowGroupLimit needs a literal
``rank <= k`` filter) or when the orderBy is a window (range partitioning
only kicks in for ``df.orderBy``).

The fix, used first by ``token_budget_select`` and the Theil-Sen / KS
rewrites (operators/analytics.py), generalized here:

1. coarsen the leading sort key into a BUCKET — any expression that is
   monotone non-decreasing w.r.t. the global order and has bounded
   cardinality (a fixed-width quantizer, a hash prefix for md5-ordered
   permutations, or the key itself when its domain is bounded);
2. aggregate per-bucket counts/sums — a relation the size of the bucket
   domain, NOT the input;
3. one window pass over that tiny relation produces each bucket's
   starting offset (and, free of charge, the grand total from a
   full-range frame);
4. broadcast the offsets back and run the per-row window PARTITIONED BY
   the bucket — every task sorts only its bucket's rows.

The result is bit-identical to the single-task window (row_number / ntile
/ cumsum are all deterministic given the total order), so oracles stay
plain window SQL.

Caveat (ADVICE r4): a degenerate distribution that lands every row in one
bucket degrades to the pre-fix single-task shape.  Quantizer widths below
are chosen from the key's construction (md5 prefixes are uniform by
definition; milli-logits / int counts have bounded natural ranges), not
from sampled statistics, to keep plans deterministic.

NULL handling (ADVICE r5): the helpers are bit-identical to the global
window INCLUDING NULL keys and NULL values — NULL buckets survive the
offsets join (null-safe equality) and sort first (Spark's NULLS FIRST
ascending default), and cumsum reproduces SUM OVER's skip-NULLs-but-
NULL-until-first-value behavior.  The one remaining precondition is NaN:
a bucket quantizer like CAST(x AS BIGINT) maps NaN to 0 while the sort
puts NaN last, breaking monotonicity — callers must exclude or
monotonically quantize NaN keys (ppl_buckets guards n_tokens > 0).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "bucketed_rank",
    "bucketed_ntile",
    "bucketed_cumsum",
    "md5_bucket",
    "quantile_bucket",
]

_BK, _OFF, _CNT, _N = "__tp_bk", "__tp_off", "__tp_cnt", "__tp_n"
_NN, _BK2 = "__tp_nn_off", "__tp_bk2"


def md5_bucket(h: Column, chars: int = 3) -> Column:
    """Bucket key for an md5-hex-ordered total order: the first ``chars``
    hex digits.  A string prefix is monotone w.r.t. the full string's
    lexicographic order, and md5 makes the 16**chars buckets uniform —
    the one quantizer with no degenerate-distribution caveat."""
    return F.substring(h, 1, chars)


def _bucket_by_boundaries(
    df: DataFrame, key: str, qs: list, out: str = "__tp_qb"
) -> DataFrame:
    """``out`` = number of boundaries in the literal list ``qs`` that are
    <= the row's ``key`` — the quantile_bucket counting rule, as
    a power-of-two upper-bound BINARY SEARCH over one folded array
    literal (8 ``element_at`` probes for 255 boundaries) instead of the
    previous ``F.aggregate`` lambda, which higher-order-function-walks
    every element per row interpreted (guide §1.2 per-task work: the
    zorder compaction spent ~1 s/pass on 150k rows × 2 cols × 255
    probes; the search is ~10× cheaper and bit-identical — verified
    exhaustively vs the linear count, including duplicate boundaries).
    Each search step lands in its own projection so the optimizer cannot
    inline-duplicate the running position (CollapseProject keeps
    non-cheap aliases).  NULL keys fail every probe -> bucket 0; NaN
    compares greater than every double in Spark -> bucket ``len(qs)`` —
    exactly the linear count's behavior.  The ``pos + w > m`` guard
    branches BEFORE ``element_at`` (lazy CaseWhen), so ANSI mode never
    sees an out-of-range index when ``len(qs) + 1`` is not a power of
    two.  The search needs ``qs`` ascending, so it is sorted here; an
    empty ``qs`` counts zero for every row — the constant bucket 0."""
    if not qs:
        return df.withColumn(out, F.lit(0).cast("bigint"))
    qs = sorted(qs)
    m = len(qs)
    arr = F.lit(qs)
    w = 1 << (m.bit_length() - 1)
    tmp: list[str] = []
    prev: Column = F.lit(0)
    i = 0
    while w >= 1:
        idx = (prev + F.lit(w)).cast("int")
        step = F.when(prev + F.lit(w) > F.lit(m), F.lit(0)).otherwise(
            F.when(
                F.col(key) >= F.element_at(arr, idx), F.lit(w)
            ).otherwise(F.lit(0))
        )
        name = f"__tp_bs{i}"
        df = df.withColumn(name, (prev + step).cast("int"))
        tmp.append(name)
        prev = F.col(name)
        i += 1
        w //= 2
    return df.withColumn(out, prev.cast("bigint")).drop(*tmp)


def quantile_bucket(
    df: DataFrame, key: str, n: int = 32, accuracy: int = 10000
) -> DataFrame:
    """Attach a DISTRIBUTION-ADAPTIVE bucket column ``__tp_qb`` for the
    two-phase helpers: the row's key counted against ``n - 1``
    approx-quantile boundaries (ADVICE r4 fix, landed r6).  A fixed-width
    quantizer degrades to ONE bucket on a degenerate distribution (all
    slopes within 1/4096, all prices in one $10k band); counting
    boundaries ``<= key`` is monotone in the key for ANY distribution and
    the GK sketch keeps buckets equal-count, so the per-bucket phase
    distributes across ~``n`` tasks regardless of skew.

    The boundaries are computed ONCE, eagerly, and embedded as LITERALS
    (ADVICE r6): the previous broadcast-scalar-aggregate subtree was
    consumed by 2+ plan branches (the offsets relation and the main path),
    and cross-branch bucket consistency relied entirely on Spark's
    ReuseExchange dedup of the identical subtree — ApproximatePercentile
    is merge-order-sensitive, so without reuse (exchange.reuse off, plan
    canonicalization drift after a refactor) branches could quantize the
    SAME row into different buckets and silently corrupt ranks/cumsums.
    Literals make every branch identical by construction, drop the
    crossJoin+broadcast from the plan, and cost one bounded driver action
    (n - 1 scalars — the same class as the house's vocab-bounded 1-row
    collects).  ``df`` is still consumed by each downstream phase: callers
    with a derived input should checkpoint it first (the collect below
    then also rides the checkpoint).  NULL keys land in bucket 0 (the
    minimum — consistent with NULLS FIRST ascending) and NaN keys in
    bucket ``n - 1`` (NaN compares greater than every double in Spark, and
    sorts last ascending), so both satisfy the helpers' monotone-bucket
    precondition for ASC orders.  ANY fixed boundary list preserves the
    helpers' correctness contract (bucketing is monotone in the key for
    arbitrary constants — it only affects WHERE rows are ranked, never the
    result), so the literal snapshot cannot be wrong, only unevenly sized.
    """
    row = df.agg(
        F.percentile_approx(
            key, [i / float(n) for i in range(1, n)], accuracy
        ).alias("__tp_qs")
    ).first()
    qs = list(row[0]) if row is not None and row[0] is not None else []
    return _bucket_by_boundaries(df, key, qs)


def _with_offsets(
    df: DataFrame,
    bucket: Column,
    agg: Column,
    want_total: bool,
    materialize: bool = False,
    nn_agg: Column | None = None,
) -> DataFrame:
    """Attach per-bucket starting offsets (exclusive prefix aggregate over
    buckets in ascending ``bucket`` order) and optionally the grand total,
    via one tiny window over the per-bucket relation + a broadcast join.

    NULL bucket keys are first-class (ADVICE r5): the offsets re-attach
    with a NULL-SAFE equality join so a NULL bucket is never dropped, and
    ``Window.orderBy(_BK)`` sorts NULL first — matching the engine's
    ``ORDER BY k ASC NULLS FIRST`` global-window default, provided the
    bucket expression maps NULL keys to NULL (any SQL-typical quantizer —
    substring, cast, arithmetic — does) or to the minimum bucket.  A
    per-bucket aggregate that comes back NULL (an all-NULL-value bucket in
    ``bucketed_cumsum``) is coalesced to 0 so it cannot NULL-poison later
    buckets' offsets.  ``nn_agg`` optionally rides a second aggregate whose
    exclusive prefix sum lands in ``__tp_nn_off`` (cumsum uses it to count
    non-NULL values in prior buckets).

    ``materialize`` localCheckpoints the bucketed input first: the two
    phases each scan ``df``, so when it is a DERIVED relation (a classifier
    score, a per-user aggregate, a chained two-phase output) recomputing it
    twice dominates the query.  The checkpoint is the house trade
    (textstats/dedup tf checkpoints): one slim per-row relation held on
    executor storage, released by the caller's session like every other
    checkpoint block.  Leave False for raw column-pruned scans, which are
    cheaper to re-read than to cache."""
    b = df.withColumn(_BK, bucket)
    if materialize:
        b = b.localCheckpoint(eager=True)
    aggs = [F.coalesce(agg, F.lit(0)).alias(_CNT)]
    if nn_agg is not None:
        aggs.append(F.coalesce(nn_agg, F.lit(0)).alias("__tp_nn"))
    per_b = b.groupBy(_BK).agg(*aggs)
    wc = Window.orderBy(_BK).rowsBetween(Window.unboundedPreceding, 0)
    cols = [
        F.col(_BK).alias(_BK2),
        (F.sum(_CNT).over(wc) - F.col(_CNT)).alias(_OFF),
    ]
    if nn_agg is not None:
        cols.append(
            (F.sum("__tp_nn").over(wc) - F.col("__tp_nn")).alias(_NN)
        )
    if want_total:
        wall = Window.orderBy(_BK).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cols.append(F.sum(_CNT).over(wall).alias(_N))
    offsets = per_b.select(*cols)
    return b.join(
        F.broadcast(offsets), F.col(_BK).eqNullSafe(F.col(_BK2))
    ).drop(_BK2)


def bucketed_rank(
    df: DataFrame,
    bucket: Column,
    order: list[Column],
    out: str = "rank",
    materialize: bool = False,
) -> DataFrame:
    """``ROW_NUMBER() OVER (ORDER BY *order)`` without the single-task
    window.  ``bucket`` must be monotone non-decreasing w.r.t. the total
    order defined by ``order`` (i.e. a coarsening of its leading key),
    mapping a NULL leading key to NULL (or the minimum bucket) so NULL
    rows rank first like the engine's ASC NULLS FIRST default; NaN keys
    must be excluded or quantized monotonically by the caller (NaN sorts
    LAST ascending, but ``CAST(NaN AS BIGINT)`` is 0 — see ppl_buckets'
    n_tokens>0 guard).  Adds column ``out`` (bigint); drops nothing
    else."""
    wv = Window.partitionBy(_BK).orderBy(*order)
    return (
        _with_offsets(
            df, bucket, F.count(F.lit(1)), want_total=False, materialize=materialize
        )
        .withColumn(out, (F.col(_OFF) + F.row_number().over(wv)).cast("bigint"))
        .drop(_BK, _OFF)
    )


def bucketed_ntile(
    df: DataFrame,
    bucket: Column,
    order: list[Column],
    n: int,
    out: str,
    materialize: bool = False,
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY *order)`` via the two-phase global rank
    plus the closed-form tile function: with N rows, the first ``N mod n``
    tiles hold ``N div n + 1`` rows and the rest ``N div n`` — so
    ``tile(rank)`` is pure arithmetic once N rides along on the broadcast
    offsets relation (full-range frame, no extra scan)."""
    wv = Window.partitionBy(_BK).orderBy(*order)
    ranked = _with_offsets(
        df, bucket, F.count(F.lit(1)), want_total=True, materialize=materialize
    ).withColumn(
        "__tp_rn", (F.col(_OFF) + F.row_number().over(wv)).cast("bigint")
    )
    # With N = q*n + r: tiles 1..r hold q+1 rows, tiles r+1..n hold q rows.
    # Pure int64 arithmetic (ANSI `/` would detour through double).
    tile = F.expr(
        f"CASE WHEN __tp_rn <= ({_N} % {n}) * ({_N} DIV {n} + 1) "
        f"THEN (__tp_rn - 1) DIV ({_N} DIV {n} + 1) + 1 "
        f"ELSE ({_N} % {n}) "
        f"     + (__tp_rn - ({_N} % {n}) * ({_N} DIV {n} + 1) - 1) "
        f"       DIV GREATEST({_N} DIV {n}, 1) + 1 END"
    ).cast("bigint")
    return ranked.withColumn(out, tile).drop(_BK, _OFF, _N, "__tp_rn")


def bucketed_cumsum(
    df: DataFrame,
    bucket: Column,
    order: list[Column],
    val: Column,
    out: str,
    materialize: bool = False,
) -> DataFrame:
    """``SUM(val) OVER (ORDER BY *order ROWS UNBOUNDED PRECEDING)`` — the
    inclusive running total — as per-bucket sums + within-bucket cumsum.

    NULL values keep exact ``SUM OVER`` semantics (ADVICE r5): the global
    window skips NULLs but returns NULL until the first non-NULL value, so
    the two-phase form coalesces prior buckets' sums to 0 and counts their
    non-NULL values — a row is NULL iff its bucket-local prefix is all-NULL
    AND no prior bucket held a non-NULL value."""
    v = df.withColumn("__tp_v", val)
    wv = (
        Window.partitionBy(_BK)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = F.sum("__tp_v").over(wv)
    return (
        _with_offsets(
            v,
            bucket,
            F.sum("__tp_v"),
            want_total=False,
            materialize=materialize,
            nn_agg=F.count("__tp_v"),
        )
        .withColumn(
            out,
            F.when(
                within.isNull() & (F.col(_NN) == 0), F.lit(None)
            ).otherwise(F.col(_OFF) + F.coalesce(within, F.lit(0))),
        )
        .drop(_BK, _OFF, _NN, "__tp_v")
    )
