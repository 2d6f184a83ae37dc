"""Structured Streaming surface (SURVEY.md §1.1 notes the reference has no
streams — this is engine capability the driver's `events` table motivates):
file-source stream -> watermarked tumbling-window aggregation -> sink, plus a
custom stateful sessionizer via ``applyInPandasWithState``.

Batch/stream parity: ``weekly_event_counts_stream`` with an ``availableNow``
trigger and complete-mode memory sink produces exactly the batch
``q_events_weekly``-style rollup (same week bucketing: 7-day tumbling windows
aligned to Monday), so the harness can oracle-check a streaming query.

Scale posture: watermark bounds state (late events beyond 14 days dropped);
the weekly aggregation state is (weeks × types) — tiny; sessionizer state is
per-user fixed-size.  DISTINCT aggregations aren't supported on streams, so
the stream rollup omits unique_users (the batch twin provides it).
"""

from __future__ import annotations

import contextlib
import math
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import os

from ..catalog import _EVENTS_RAW_SCHEMA, events_ts_is_native, load_table

SESSION_GAP_MINUTES = 30

_EVENTS_NATIVE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (same ts-layout detection as the
    batch catalog — native TIMESTAMP vs INT64-NANOS schema override; 1 file per
    micro-batch keeps demo latency bounded)."""
    # the file source wants a directory; glob-filter down to the events file
    native = events_ts_is_native(spark, os.path.join(sf_dir, "events.parquet"))
    raw = (
        spark.readStream.schema(_EVENTS_NATIVE_SCHEMA if native else _EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if native:
        # LTZ (not NTZ like the batch catalog): watermarks require TIMESTAMP.
        # The engine session runs in UTC, so the two are value-identical.
        return raw
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def weekly_event_counts_stream(events: DataFrame, watermark: str = "14 days") -> DataFrame:
    """Watermarked tumbling weekly rollup.  ``window('7 days', startTime='4
    days')`` aligns buckets to Monday (epoch day 0 is a Thursday), matching
    ``date_trunc('week', ts)`` in the batch engine and the ANSI oracle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "7 days", "7 days", "4 days").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("double") / 100.0).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").cast("date").alias("week"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


STREAM_WEEKLY_SQL = """
SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
       COUNT(*) AS event_count,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY CAST(date_trunc('week', ts) AS DATE), event_type
"""


# Reference-counted session-conf override shared by concurrent drains (see
# run_stream_to_memory docstring): [depth] and [saved caller value].
_drain_conf_lock = threading.Lock()
_drain_conf_depth = [0]
_drain_conf_prev: list[str | None] = [None]

# Reference-counted watermark-policy pin for MULTI-WATERMARK drains
# (ADVICE r10 / VERDICT r10 #3).  multipleWatermarkPolicy is session-global
# on a shared SparkSession, and the pooled parity/scenario siblings drain
# concurrently — a plain set/restore around one drain both leaks the 'max'
# override into other multi-watermark drains mid-flight (policy=max is only
# safe for symmetric same-source topologies) and races the restore (ABA:
# a concurrent unpin clobbers the override mid-drain).  Pinning is instead
# a condition-guarded refcount: same-policy pins nest, a CONFLICTING pin
# WAITS until the active one drains out (pins last one availableNow drain,
# seconds), and only the last pin out restores the caller's value.
_WM_POLICY_CONF = "spark.sql.streaming.multipleWatermarkPolicy"
_wm_cond = threading.Condition()
_wm_state: dict = {"policy": None, "depth": 0, "prev": None}


@contextlib.contextmanager
def _pinned_watermark_policy(spark: SparkSession, policy: str):
    """Hold ``multipleWatermarkPolicy=policy`` for the block; see the
    _wm_state comment for the concurrency contract."""
    with _wm_cond:
        while _wm_state["depth"] > 0 and _wm_state["policy"] != policy:
            _wm_cond.wait(timeout=600)
        if _wm_state["depth"] == 0:
            _wm_state["prev"] = spark.conf.get(_WM_POLICY_CONF, "min")
            _wm_state["policy"] = policy
            spark.conf.set(_WM_POLICY_CONF, policy)
        _wm_state["depth"] += 1
    try:
        yield
    finally:
        with _wm_cond:
            _wm_state["depth"] -= 1
            if _wm_state["depth"] == 0:
                spark.conf.set(_WM_POLICY_CONF, _wm_state["prev"])
                _wm_state["policy"] = None
                _wm_state["prev"] = None
                _wm_cond.notify_all()


def run_stream_to_memory(
    df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame with trigger(availableNow) into a memory
    sink and return the result table (batch DataFrame).

    ``shuffle_partitions`` bounds the stateful-operator partition count for
    this query only (the session conf is restored afterwards).  Every
    stateful streaming operator instantiates one state store per shuffle
    partition *per micro-batch*, so the partition count must be sized to
    state volume, not to the session's batch-join default: a stream-stream
    join draining one file at 32 partitions spent 3x longer creating empty
    HDFS-backed stores than joining (9.1 s -> 2.8 s at 8 partitions,
    sf0.1).  On a real cluster, size it to ~cores while state per partition
    stays in the store's memory budget.

    Concurrent drains in one session are supported (each sink name is
    unique): the session-conf override is reference-counted under a lock —
    the first active drain saves the caller's value, the last restores it —
    so overlapping set/restore pairs cannot leave the session conf on the
    drain value (the plain save/restore had an ABA race).  Overlapping
    drains that request DIFFERENT partition counts share whichever count the
    first drain set; that changes only how state is partitioned, never a
    drain's result."""
    spark = df.sparkSession
    restore = False
    if shuffle_partitions is not None:
        with _drain_conf_lock:
            if _drain_conf_depth[0] == 0:
                _drain_conf_prev[0] = spark.conf.get("spark.sql.shuffle.partitions")
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(shuffle_partitions)
                )
            _drain_conf_depth[0] += 1
        restore = True
    try:
        # bounded retry with backoff on the worker-SPAWN infrastructure
        # flakes only ("failed to connect back" = spawn, "worker exited
        # unexpectedly" = OOM-kill under a saturated box; see SCALE.md r9/
        # r10 notes) — every other failure re-raises immediately.  The
        # backoff matters: an immediate re-spawn hits the same saturation
        # that killed the first attempt.
        import time as _time

        last: Exception | None = None
        for attempt in range(6):
            if attempt:
                _time.sleep(2 * attempt)
            qname = f"{name}_{attempt}" if name else f"stream_{uuid.uuid4().hex[:12]}"
            q = (
                df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(qname)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                name = qname
                break
            except Exception as ex:  # noqa: BLE001 - filtered re-raise
                last = ex
                q.stop()
                if not any(
                    m in str(ex)
                    for m in (
                        "failed to connect back",
                        "worker exited unexpectedly",
                    )
                ):
                    raise
        else:
            raise last
    finally:
        if restore:
            with _drain_conf_lock:
                _drain_conf_depth[0] -= 1
                if _drain_conf_depth[0] == 0 and _drain_conf_prev[0] is not None:
                    spark.conf.set(
                        "spark.sql.shuffle.partitions", _drain_conf_prev[0]
                    )
    return spark.table(name)


# Bounded state-store count for the availableNow demo drains (see
# run_stream_to_memory docstring for the sizing rationale / measurements).
_DRAIN_SHUFFLE_PARTITIONS = 8


def _drain_partitions(spark: SparkSession, path: str) -> int:
    """State partition count for a drain over the staged input at ``path``:
    ``ceil(bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)``,
    clamped to ``[1, defaultParallelism]``.

    Streaming micro-batches run without AQE, and a stateful operator's
    partition count is fixed when its checkpoint starts, so AQE can never
    coalesce a drain's state partitions; a bounded drain that staged its
    own input knows its exact size and picks the count up front the way
    AQE would for the same bytes."""
    nbytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(
        1, min(spark.sparkContext.defaultParallelism, math.ceil(nbytes / advisory))
    )


def stream_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness entry: the full stream pipeline drained to a batch result."""
    return run_stream_to_memory(
        weekly_event_counts_stream(stream_events(spark, sf_dir)),
        shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS,
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """Custom stateful operator: gap-based sessionization with
    ``applyInPandasWithState`` (update mode).

    State per user: (open session start/last/count).  A session is emitted
    when a subsequent event arrives more than ``gap_minutes`` after it ends
    (sessions still open when the stream idles would need a ProcessingTime
    timeout in production; the availableNow demo leaves them in state).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = "user_id long, session_start_us long, n_events long, duration_us long"
    state_schema = "start_us long, last_us long, n long"

    def fn(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        # vectorized sessionization: one global sort + diff>gap boundary scan
        # replaces the per-event Python loop (the drain emits ~1 session per
        # event on sparse corpora, so the loop built ~|events| tuples).
        # Sorting across ALL chunks is also strictly more robust than the
        # old per-chunk pass — Arrow chunk order within a group is not a
        # contract.
        arrs = [
            pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
            for pdf in pdfs
            if len(pdf)
        ]
        ts = np.sort(np.concatenate(arrs)) if arrs else np.empty(0, dtype="int64")
        empty = pd.DataFrame(
            {
                "user_id": np.empty(0, dtype="int64"),
                "session_start_us": np.empty(0, dtype="int64"),
                "n_events": np.empty(0, dtype="int64"),
                "duration_us": np.empty(0, dtype="int64"),
            }
        )
        if not ts.size:
            state.update((start_us, last_us, n))
            yield empty
            return
        bounds = np.flatnonzero(np.diff(ts) > gap_us) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds - 1, [ts.size - 1]))
        s_ts, e_ts, counts = ts[starts], ts[ends], ends - starts + 1
        head: list[tuple[int, int, int, int]] = []
        if start_us is not None:
            if int(ts[0]) - last_us <= gap_us:
                # carried-over open session absorbs the first batch session
                counts = counts.copy()
                counts[0] += n
                s_ts = s_ts.copy()
                s_ts[0] = start_us
            else:
                head.append((user_id, start_us, n, last_us - start_us))
        # every session but the last is closed by a later out-of-gap event;
        # the last stays open in state
        state.update((int(s_ts[-1]), int(e_ts[-1]), int(counts[-1])))
        closed = pd.DataFrame(
            {
                "user_id": np.full(s_ts.size - 1, user_id, dtype="int64"),
                "session_start_us": s_ts[:-1],
                "n_events": counts[:-1],
                "duration_us": e_ts[:-1] - s_ts[:-1],
            }
        )
        if head:
            closed = pd.concat(
                [pd.DataFrame(head, columns=list(closed.columns)), closed],
                ignore_index=True,
            )
        yield closed

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: distinct user_ids over the event stream via
    ``dropDuplicates`` state (exactly-once per key).  availableNow drain ->
    equals batch SELECT DISTINCT; in production add
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` to bound state by
    event time instead of keeping all keys forever."""
    ev = stream_events(spark, sf_dir)
    distinct = ev.select("user_id").dropDuplicates(["user_id"])
    return run_stream_to_memory(
        distinct, output_mode="append", shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS
    )


STREAM_DISTINCT_USERS_SQL = "SELECT DISTINCT user_id FROM events"


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with event-time-bounded state:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only while the key
    can still recur inside the watermark, then evicts — the production shape
    for exactly-once dedup over an unbounded stream (plain ``dropDuplicates``
    state grows forever).  Emitting only the dedup key makes the availableNow
    drain equal batch ``SELECT DISTINCT`` — PROVIDED no key is evicted and
    re-emitted across micro-batches, so this oracle-checked drain uses a
    watermark wider than the dataset's whole time span (the multi-file source
    drains one file per trigger, advancing the watermark between batches; a
    tight watermark could evict a key that recurs later and emit it twice).
    Production pipelines use a tight watermark and accept watermark-grain
    dedup; the API shape and state plumbing are identical."""
    ev = stream_events(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_to_memory(
        deduped, output_mode="append", shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS
    )


STREAM_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def kmv_users_stream(events: DataFrame, k: int = 64) -> DataFrame:
    """Streaming KMV distinct-user estimator (staged r11): the BOUNDED-
    STATE twin of ``stream_distinct_users`` — ``dropDuplicates`` keeps one
    state row PER KEY forever (unbounded on an unbounded stream), while
    the KMV sketch keeps exactly the ``k`` smallest distinct hashes per
    week: per-window state is k longs at ANY stream length, the property
    a 100 TB/day stream needs.  Same estimator, same two-round-LCG
    permutation hash, and the same estimate as the registered batch
    query ``q_weekly_unique_users_approx`` (operators/analytics.py) —
    the lambda-architecture guarantee that stream and batch agree.

    Emission (update mode): each micro-batch emits every updated week's
    CURRENT estimate.  The estimate is MONOTONE NON-DECREASING over a
    week's lifetime — below k it is the growing distinct-hash count; at
    the crossing, floor((k-1)·M/(h_k+1)) >= k-1 because h_k <= M-1; past
    it, h_k only shrinks — so ``MAX() GROUP BY week`` over the drained
    updates recovers exactly the final (= batch) estimate, keeping the
    drain oracle-checkable against plain SQL."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.analytics import _KMV_HASH, _KMV_M

    out_schema = "week date, approx_unique_users long"
    state_schema = "hs array<long>"

    def fn(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        (week,) = key
        prev = (
            np.asarray(state.get[0], dtype="int64")
            if state.exists
            else np.empty(0, dtype="int64")
        )
        arrs = [pdf["h"].to_numpy() for pdf in pdfs if len(pdf)]
        hs = np.unique(np.concatenate([prev] + arrs)) if arrs else prev
        hs = hs[:k]  # np.unique sorts ascending -> the k smallest survive
        state.update((hs.tolist(),))
        est = (
            int(hs.size)
            if hs.size < k
            else (k - 1) * _KMV_M // (int(hs[k - 1]) + 1)
        )
        yield pd.DataFrame({"week": [week], "approx_unique_users": [est]})

    from pyspark.sql import functions as F

    hashed = events.filter(F.col("user_id").isNotNull()).select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.expr(_KMV_HASH).alias("h"),
    )
    return hashed.groupBy("week").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness entry: drain the bounded-state KMV estimator and recover
    each week's final estimate (max over its monotone update trail)."""
    from pyspark.sql import functions as F

    sink = run_stream_to_memory(
        kmv_users_stream(stream_events(spark, sf_dir)),
        output_mode="update",
        shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS,
    )
    return (
        sink.groupBy("week")
        .agg(F.max("approx_unique_users").alias("approx_unique_users"))
        .orderBy("week")
    )


def purchase_attribution_stream(
    events: DataFrame,
    watermark: str = "14 days",
    attribution_minutes: int = 60,
) -> DataFrame:
    """STREAM-STREAM interval join: attribute each purchase to every click by
    the same user in the preceding ``attribution_minutes`` — the canonical
    funnel-attribution shape.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can size the join state and evict expired rows
    (unbounded state otherwise).  State is keyed by user_id: the equi-join
    key partitions both streams, the range condition prunes within the key.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (
            purchases.purchase_ts
            <= clicks.click_ts + F.expr(f"INTERVAL {attribution_minutes} MINUTES")
        )
    )
    return clicks.join(purchases, cond, "inner").select(
        "user_id", "click_id", "purchase_id"
    )


def stream_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness entry: stream-stream attribution join drained to batch.

    The drain PINS ``multipleWatermarkPolicy=min`` (the default, and this
    inner join's documented contract) so a concurrently draining
    max-pinned query (``stream_purchase_attribution_outer``) can never
    leak ``max`` into this query's start — conflicting pins serialize."""
    ev = stream_events(spark, sf_dir)
    with _pinned_watermark_policy(spark, "min"):
        return run_stream_to_memory(
            purchase_attribution_stream(ev),
            output_mode="append",
            shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS,
        )


STREAM_ATTRIBUTION_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE
"""


def stream_purchase_attribution_outer(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "14 days",
    attribution_minutes: int = 60,
) -> DataFrame:
    """LEFT OUTER stream-stream interval join (staged r11): every purchase
    emits — attributed rows carry their click ids, ORPHAN purchases (no
    click in the preceding hour) emit with a NULL click once the
    watermark PROVES no qualifying click can still arrive.  This is the
    semantics production attribution actually needs (the inner join
    silently drops organic purchases) and the state story is the point:
    Spark holds a purchase in the join state only until
    ``watermark > purchase_ts``, then either emits the NULL row or
    discards — bounded state on an unbounded stream.

    Outer results are emitted by state EVICTION, so a BOUNDED drain needs
    an end-of-stream flush: watermarks only advance between micro-batches,
    and the final batch's unmatched rows would otherwise sit in state
    forever.  The drain stages the normalized events as several
    same-mtime files plus ONE far-future sentinel tick (one click + one
    purchase, negative ids, disjoint negative user ids so they join
    nothing real; the output filter on non-negative purchase ids drops
    their own rows) — batch 0 reads every events file and the tick
    (raising the watermark stat past all real data), then availableNow's
    trailing NO-DATA batch applies it and evicts, exactly the
    heartbeat/tick pattern an unbounded production stream gets for free
    from the next day's data.  The drained result equals the batch LEFT
    JOIN, so the oracle is plain SQL.

    Engine note (measured, Spark 4.1): under the default
    ``multipleWatermarkPolicy=min``, the SYMMETRIC self-join topology
    (both watermark operators fed by branches of one events stream) never
    advances the global watermark past the REAL data's max − delay — the
    tick batches raise one operator's stat while the min stays pinned at
    the batch-0 value, and ~half the orphans never emit.  The drain
    therefore pins ``multipleWatermarkPolicy=max`` FOR THIS QUERY via the
    refcounted ``_pinned_watermark_policy`` (conflicting concurrent pins
    wait; the last pin out restores the caller's value — exception-safe,
    no ABA clobber): with both sides reading
    the SAME files in the SAME micro-batches, neither side can run ahead
    of the other's data, so max and min are semantically identical here —
    no real row can be late-dropped — and max actually propagates the
    tick.  Asymmetric-source production joins should keep min.

    State partitions: the drain sizes them to its staged input
    (:func:`_drain_partitions` — one partition per advisory AQE partition
    size of bytes), not the fixed ``_DRAIN_SHUFFLE_PARTITIONS``.  A
    stream-stream join opens four state stores per partition (two per
    side) in every micro-batch, so the fixed 8 partitions cost 32 store
    instances per batch for the few thousand rows of sf0.01."""
    import shutil
    import tempfile
    import time as _time

    # only clicks and purchases can ever join: filter BEFORE staging so
    # the stream never carries the other event types through the
    # watermark operators (same rows out; ~60% less state-machine input).
    # The watermark flush contract needs the max ts of the KEPT types.
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .filter(F.col("event_type").isin("click", "purchase"))
    )
    # the max ts comes back as a session-TZ-formatted micros string, not a
    # Python datetime: the tick below is built as a SQL TIMESTAMP literal
    # (see the LocalRelation note there), and a text round-trip through
    # date_format/TIMESTAMP'' in the SAME session timezone is exact at the
    # column's micros precision
    row = ev.agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("m")
    ).first()
    base = tempfile.mkdtemp(prefix=f"stream_outer_{os.getpid()}_")
    try:
        # the real data lands as SEVERAL same-mtime files so batch 0 reads
        # them in parallel (the r10 single-file staging serialized the
        # whole corpus through one task); the empty corpus keeps the
        # single-file path (coalesce(1) guarantees one schema-carrying
        # part file, and no ticks are needed anyway)
        staged = ev.repartition(7) if row["m"] is not None else ev.coalesce(1)
        staged.write.mode("overwrite").parquet(os.path.join(base, "b0"))
        now = _time.time()
        n_events = 0
        for part in sorted(os.listdir(os.path.join(base, "b0"))):
            if not part.endswith(".parquet"):
                continue
            dst = os.path.join(base, f"events_{n_events}.parquet")
            os.replace(os.path.join(base, "b0", part), dst)
            os.utime(dst, (now - 10, now - 10))
            n_events += 1
        shutil.rmtree(os.path.join(base, "b0"), ignore_errors=True)
        # an EMPTY corpus needs no flush (nothing can be in join state)
        # and a NULL-ts tick would be meaningless to the watermark
        # ONE tick suffices: availableNow runs a trailing NO-DATA batch
        # whenever the last data batch advanced the watermark (measured:
        # the 0-input-row batch in the drain's progress log), and that
        # batch performs the eviction — the r10 second tick file bought a
        # whole extra ~2 s micro-batch for nothing.  The pooled scenario
        # and the oracle comparison fail loudly if an engine change ever
        # stops flushing.
        for i, days in enumerate((120,) if row["m"] is not None else ()):
            # inline VALUES (LocalRelation), not createDataFrame: the latter
            # parallelizes the 2 rows over defaultParallelism partitions and
            # the coalesce(1) write then walks every one through a Python
            # worker round-trip — measured 4.7-5.4 s for this 2-row tick vs
            # 0.13 s for the pure-JVM literal relation (guide §4: the py4j/
            # Python boundary has no business in a constant-building path)
            tick = spark.sql(
                f"""
                SELECT CAST(event_id AS BIGINT) AS event_id,
                       TIMESTAMP'{row["m"]}' + INTERVAL {days} DAYS AS ts,
                       CAST(user_id AS BIGINT) AS user_id,
                       event_type,
                       CAST(value AS DOUBLE) AS value,
                       props
                FROM VALUES ({-(2 * i + 1)}, -1, 'click', 0.0D, '{{}}'),
                            ({-(2 * i + 2)}, -2, 'purchase', 0.0D, '{{}}')
                     AS t(event_id, user_id, event_type, value, props)
                """
            )
            tick.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(base, f"t{i}")
            )
            part = next(
                f
                for f in sorted(os.listdir(os.path.join(base, f"t{i}")))
                if f.endswith(".parquet")
            )
            os.replace(
                os.path.join(base, f"t{i}", part),
                os.path.join(base, f"tick{i}.parquet"),
            )
            shutil.rmtree(os.path.join(base, f"t{i}"), ignore_errors=True)
            os.utime(
                os.path.join(base, f"tick{i}.parquet"),
                (now - 5 + i, now - 5 + i),
            )
        # ONE data micro-batch: it takes every events file PLUS the single
        # tick (mtime order puts the tick last; the trigger cap admits
        # exactly n_events + 1 files), so the tick's watermark raise lands
        # at batch-0 end, and availableNow's trailing NO-DATA batch
        # applies it — state evicts, orphans emit (see the tick-staging
        # comment above).  Same flush semantics as the r10
        # one-file-per-batch staging at a fraction of the overhead.
        src = (
            spark.readStream.schema(_EVENTS_NATIVE_SCHEMA)
            .option("maxFilesPerTrigger", str(n_events + 1))
            .parquet(base)
        )
        # the ticks must flow THROUGH the watermark operators (a filter
        # upstream of withWatermark that dropped them would hide them and
        # the watermark would never pass the real data's tail), so each
        # tick file carries one click AND one purchase on disjoint
        # negative user ids — they equi-join only each other, and the
        # output filter on the real, non-negative purchase ids drops
        # their rows
        clicks = (
            src.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", watermark)
        )
        purchases = (
            src.filter(F.col("event_type") == "purchase")
            .select(
                "user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", watermark)
        )
        cond = (
            (purchases.user_id == clicks.c_user_id)
            & (purchases.purchase_ts >= clicks.click_ts)
            & (
                purchases.purchase_ts
                <= clicks.click_ts
                + F.expr(f"INTERVAL {attribution_minutes} MINUTES")
            )
        )
        joined = (
            purchases.join(clicks, cond, "leftOuter")
            .filter(F.col("purchase_id") >= 0)
            .select("user_id", "purchase_id", "click_id")
        )
        # see Engine note above; refcounted pin, conflicting drains wait
        with _pinned_watermark_policy(spark, "max"):
            return run_stream_to_memory(
                joined,
                output_mode="append",
                shuffle_partitions=_drain_partitions(spark, base),
            )
    finally:
        # the drain has fully materialized into the memory sink by the
        # time run_stream_to_memory returns; the staged dir can go
        shutil.rmtree(base, ignore_errors=True)


STREAM_ATTRIBUTION_OUTER_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE
WHERE p.event_type = 'purchase'
"""


def stream_merge_into_table(
    stream: DataFrame,
    path: str,
    unique_key: str,
    checkpoint_dir: str,
    shuffle_partitions: int | None = 8,
) -> None:
    """Streaming incremental materialization: drain ``stream`` with
    ``foreachBatch``, upserting each micro-batch into the parquet table at
    ``path`` by ``unique_key`` — the streaming->warehouse bridge (a dbt
    incremental-merge model fed by a stream instead of scheduled batches).

    Inside ``foreachBatch`` the micro-batch is a plain DataFrame, so the
    merge IS the batch incremental path's code: ``merge_upsert`` +
    ``swap_into_place`` imported from ``core.dag`` (one definition of the
    upsert and of the crash-safe swap — ``recover_swap`` first, so a drain
    killed between the swap's two renames never mistakes the surviving
    ``.__old__`` table for a first build and never loses history).  The
    checkpoint gives exactly-once micro-batch tracking (a restarted drain
    resumes, never re-merges a completed batch).  At 100 TB the per-batch
    anti-join broadcasts the batch's key set against years of history —
    partition the table on the merge grain so each swap touches one
    partition's files.
    """
    import os

    from ..core.dag import merge_upsert, recover_swap, swap_into_place

    def merge(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        recover_swap(path)
        if os.path.exists(path):
            out = merge_upsert(spark.read.parquet(path), batch, unique_key)
        else:
            out = batch
        tmp = path + ".__new__"
        out.write.mode("overwrite").parquet(tmp)
        swap_into_place(tmp, path)
        spark.catalog.refreshByPath(path)

    spark = stream.sparkSession
    prev: str | None = None
    if shuffle_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        # bounded retry + backoff on worker-SPAWN infrastructure flakes
        # (same envelope as run_stream_to_memory) — SAFE here because the
        # checkpoint makes the restart exactly-once: a completed batch is
        # never re-merged, an uncommitted one re-runs its merge whole
        import time as _time

        last: Exception | None = None
        for attempt in range(6):
            if attempt:
                _time.sleep(2 * attempt)
            q = (
                stream.writeStream.foreachBatch(merge)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                break
            except Exception as ex:  # noqa: BLE001 - filtered re-raise
                last = ex
                q.stop()
                if not any(
                    m in str(ex)
                    for m in (
                        "failed to connect back",
                        "worker exited unexpectedly",
                    )
                ):
                    raise
        else:
            raise last
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def stream_top_event_types(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Streaming windowed top-k heavy hitters: the watermarked weekly rollup
    runs AS A STREAM (same state-bounded plan as ``stream_weekly_rollup``),
    and the per-window rank is applied to the drained result — rank can't
    ride inside a streaming aggregation (no windowed row_number over an
    updating sink), so rank-after-drain is the production pattern
    (dashboards rank the continuously-updated rollup table, not the
    stream).  With trigger(availableNow) the composition is exactly
    batch-equivalent, hence oracle-checkable."""
    drained = run_stream_to_memory(
        weekly_event_counts_stream(stream_events(spark, sf_dir)),
        shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS,
    )
    w = Window.partitionBy("week").orderBy(
        F.desc("event_count"), F.asc("event_type")
    )
    return (
        drained.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("week", "event_type", "event_count", "rnk")
    )


STREAM_TOP_TYPES_SQL_TEMPLATE = """
WITH c AS (
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
           COUNT(*) AS event_count
    FROM events GROUP BY 1, 2
)
SELECT week, event_type, event_count, CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT week, event_type, event_count,
           ROW_NUMBER() OVER (
               PARTITION BY week ORDER BY event_count DESC, event_type ASC) AS rnk
    FROM c
) r WHERE rnk <= {k}
"""


def enriched_segment_rollup_stream(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """STREAM-STATIC join: enrich the event stream with a static customer
    dimension (user_id -> c_custkey) and roll up per market segment.

    Stream-static equi-joins are STATELESS in Structured Streaming — each
    micro-batch joins against the (re-scanned) static side, no state store,
    no watermark needed for the join itself; with the dim broadcast the
    stream side never shuffles for the join.  Unmatched events keep NULL
    segment (left join) so stream rows are never dropped by enrichment —
    the property the batch oracle checks.
    """
    enriched = events.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        events.user_id == F.col("c_custkey"),
        "left_outer",
    )
    return (
        enriched.groupBy(F.coalesce("c_mktsegment", F.lit("UNMATCHED")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("double")
                / 100.0
            ).alias("total_value"),
        )
    )


def stream_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    out = run_stream_to_memory(
        enriched_segment_rollup_stream(
            stream_events(spark, sf_dir), load_table(spark, sf_dir, "customer")
        ),
        shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS,
    )
    return out.orderBy("segment")


STREAM_SEGMENT_ROLLUP_SQL = """
SELECT COALESCE(c_mktsegment, 'UNMATCHED') AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_value
FROM events LEFT OUTER JOIN customer ON user_id = c_custkey
GROUP BY COALESCE(c_mktsegment, 'UNMATCHED')
ORDER BY segment
"""


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness entry for the custom stateful operator: drain the
    ``applyInPandasWithState`` sessionizer (update mode) to a batch result.

    Emission semantics make this fully oracle-checkable: a session row is
    emitted exactly when a later event beyond the gap closes it, so the
    drained output is the batch gap-sessionization MINUS each user's final
    (still-open) session — a pure SQL predicate on the batch twin
    (``operators/analytics.py sessionize_events``, reference scope: the dbt
    reference has no streaming surface; driver north-star SURVEY.md §2.9).
    """
    return run_stream_to_memory(
        sessionize_stream(stream_events(spark, sf_dir)),
        output_mode="update",
        shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS,
    )


STREAM_SESSIONIZE_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts)
                     > {SESSION_GAP_MINUTES} * 60 * 1000000
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessioned AS (
    SELECT user_id, ts,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id, sid,
           epoch_us(MIN(ts)) AS session_start_us,
           COUNT(*) AS n_events,
           date_diff('microsecond', MIN(ts), MAX(ts)) AS duration_us
    FROM sessioned GROUP BY user_id, sid
)
SELECT user_id, session_start_us, n_events, duration_us
FROM agg
WHERE sid < (SELECT MAX(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
"""


def stream_countmin_heavy(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 64,
    k: int = 10,
) -> DataFrame:
    """Count-Min sketch maintained AS A STREAM over event types: the
    (depth x width) counter grid is a streaming aggregation keyed on hashed
    cells, so streaming state is a fixed depth·width cells no matter how
    many distinct keys ever arrive — the sketch property that makes
    heavy-hitter tracking viable on an unbounded stream (an exact
    streaming count per key grows state forever; watermarks can't evict
    keys that may recur).  Cells are mergeable sums, so micro-batches fold
    in associatively — the same reason the batch twin's partitions merge
    map-side (``countmin_heavy_hitters``).

    Estimates audit against exact batch counts post-drain: min over the
    key's depth cells >= true count (one-sided CM guarantee).  Row hashes
    are the batch twin's md5 slices, so with trigger(availableNow) the
    drained grid is batch-identical and the whole query value-hash
    oracle-checkable.
    """
    ev = stream_events(spark, sf_dir).select(F.col("event_type").alias("w"))

    def bucket(r: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{r}:"), F.col("w"))), 1, 8), 16, 10
            ).cast("bigint")
            % width
        )

    rows = F.array(
        *[F.struct(F.lit(r).alias("r"), bucket(r).alias("b")) for r in range(depth)]
    )
    cells_stream = (
        ev.select(F.explode(rows).alias("rb"))
        .select(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    cells = run_stream_to_memory(
        cells_stream, "complete", shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS
    )
    truth = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hashed = truth.select("w", "cnt", F.explode(rows).alias("rb")).select(
        "w", "cnt", F.col("rb.r").alias("r"), F.col("rb.b").alias("b")
    )
    est = (
        hashed.join(F.broadcast(cells), ["r", "b"])
        .groupBy("w", "cnt")
        .agg(F.min("cell").alias("est"))
    )
    return (
        est.select(
            F.col("w").alias("event_type"),
            F.col("cnt").cast("bigint").alias("true_count"),
            F.col("est").cast("bigint").alias("est_count"),
            (F.col("est") - F.col("cnt")).cast("bigint").alias("overestimate"),
        )
        .orderBy(F.desc("true_count"), F.asc("event_type"))
        .limit(k)
    )


STREAM_COUNTMIN_SQL_TEMPLATE = """
WITH counts AS (SELECT event_type AS w, COUNT(*) AS cnt FROM events GROUP BY 1),
hashed AS (
    SELECT w, cnt, r,
           CAST('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || w), 1, 8) AS BIGINT)
               % {width} AS b
    FROM counts CROSS JOIN (SELECT unnest(generate_series(0, {depth} - 1)) AS r)
),
cells AS (SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS cell FROM hashed GROUP BY r, b)
SELECT h.w AS event_type,
       CAST(h.cnt AS BIGINT) AS true_count,
       CAST(MIN(c.cell) AS BIGINT) AS est_count,
       CAST(MIN(c.cell) - h.cnt AS BIGINT) AS overestimate
FROM hashed h
JOIN cells c ON c.r = h.r AND c.b = h.b
GROUP BY h.w, h.cnt
ORDER BY true_count DESC, event_type ASC
LIMIT {k}
"""


def _ewma_fold_chunks(chunks, ewma, n):
    """Fold one micro-batch's Arrow chunks into the carried (ewma, n) state.

    Concatenates ALL chunks before sorting: chunk order within a group is not
    a contract (same caveat as the sessionize kernel), so a group spanning
    multiple chunks in one micro-batch must be lexsorted (ts, event_id)
    GLOBALLY or the order-sensitive floor-halving fold diverges from the
    batch twin's oracle.  Module-level so the multi-chunk path is unit-
    testable without driving a stream.

    Memory note (ADVICE r4): the concat materializes one GROUP's share of
    one micro-batch in pandas — bounded by the watermark-trimmed batch, not
    the stream.  If a hot key's micro-batches outgrow executor memory, the
    upgrade path is a merge of per-chunk pre-sorted arrays (heapq.merge)
    instead of concat-then-lexsort; not needed at current volumes.
    """
    import numpy as np
    import pandas as pd

    if not chunks:
        return ewma, n
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    ts_us = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
    # HALF_UP like Spark/DuckDB ROUND (pandas .round is half-even);
    # values are non-negative so floor(+0.5) is exact
    v_c = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64")
    order = np.lexsort((pdf["event_id"].to_numpy(), ts_us))
    # the fold itself is inherently sequential (floor halving), but a
    # plain loop over a python list is ~100x an iterrows pass
    for v in v_c[order].tolist():
        # floor division matching the batch fold's `div 2`
        ewma = v if ewma is None else (ewma + v) // 2
    return ewma, n + order.size


def ewma_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user EWMA (alpha = 1/2, integer cents
    with floor halving — the exact recurrence of the batch
    ``user_value_ewma`` fold) maintained incrementally with
    ``applyInPandasWithState``.

    State per user: (ewma_cents, n_events) — two int64s, so keyed state is
    constant-size per user no matter how long the stream runs.  Each
    micro-batch folds its (ts, event_id)-sorted rows into the carried state
    and emits the user's updated running value; the LAST emission per user
    (max n_events — the count is strictly monotone) equals the batch fold
    over the whole history, which is what makes the drained stream
    value-hash checkable against the batch twin's oracle.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, ewma_cents long"
    state_schema = "ewma long, n long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        ewma, n = state.get if state.exists else (None, 0)
        ewma, n = _ewma_fold_chunks(list(pdfs), ewma, n)
        state.update((ewma, n))
        yield pd.DataFrame(
            [(user_id, n, ewma)], columns=["user_id", "n_events", "ewma_cents"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness entry: drain the stateful EWMA stream and keep each user's
    final emission (n_events is strictly monotone across a user's updates,
    so argmax-by-count IS the last state) — equal to the batch timeline
    fold, hence sharing its oracle verbatim."""
    drained = run_stream_to_memory(
        ewma_stream(stream_events(spark, sf_dir)),
        output_mode="update",
        shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS,
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "ewma_cents")
        .orderBy("user_id")
    )


def stream_hll_users(spark: SparkSession, sf_dir: str, p_bits: int = 8) -> DataFrame:
    """HyperLogLog registers maintained AS A STREAM: the register grid is a
    streaming MAX aggregation keyed on (week, register) — bounded state
    (weeks x 2^p cells) for distinct-user tracking on an unbounded stream,
    where exact streaming count-distinct state grows with |users|.  MAX is
    idempotent and commutative, so micro-batches fold in associatively and
    the availableNow drain equals the batch register grid — the estimate
    formula then runs post-drain and the whole query shares the batch
    twin's oracle (``operators/analytics.py hll_weekly_users``).
    """
    m = 1 << p_bits
    width = 32 - p_bits
    ev = stream_events(spark, sf_dir)
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    rest = (h32 / m).cast("bigint")
    rank = (
        F.when(rest == 0, F.lit(width + 1))
        .otherwise(F.lit(width) - F.floor(F.log2(rest)))
        .cast("bigint")
    )
    regs_stream = (
        ev.select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            (h32 % m).alias("reg"),
            rank.alias("rank"),
        )
        .groupBy("week", "reg")
        .agg(F.max("rank").alias("mr"))
    )
    regs = run_stream_to_memory(
        regs_stream, "complete", shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS
    )
    s = regs.groupBy("week").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(32 - mr as int))")).alias(
            "s_occ"
        ),
        F.count(F.lit(1)).alias("n_occ"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = F.lit(alpha * m * m * float(1 << 32)) / (
        F.col("s_occ") + (F.lit(m) - F.col("n_occ")) * F.lit(1 << 32)
    ).cast("double")
    zeros = F.lit(m) - F.col("n_occ")
    est = F.round(
        F.when(
            (raw <= 2.5 * m) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
        ).otherwise(raw),
        2,
    )
    truth = (
        load_table(spark, sf_dir, "events")
        .select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"), "user_id"
        )
        .groupBy("week")
        .agg(F.countDistinct("user_id").alias("true_users"))
    )
    return (
        s.join(truth, "week")
        .select(
            "week",
            F.col("n_occ").cast("bigint").alias("occupied_regs"),
            est.alias("est_users"),
            F.col("true_users").cast("bigint").alias("true_users"),
        )
        .orderBy("week")
    )


def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: per event-time day, the KL
    divergence of that day's event-type mix against the whole-history mix —
    the live data-quality alarm that catches a upstream change (new client
    version, broken instrumentation) as skewed type proportions.

    The per-(day, type) counts run as a watermarked streaming aggregation
    (state = days-in-watermark x |types|, bounded); the drained counts then
    score against the batch reference distribution with per-term micro-nat
    rounding before the integer sum (order-proof, like every KL here).
    With trigger(availableNow) the drained counts equal the batch
    groupBy, so the whole monitor is value-hash oracle-checkable.
    """
    ev = stream_events(spark, sf_dir)
    daily_stream = (
        ev.withWatermark("ts", "14 days")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("date").alias("d"), "event_type", "n")
    )
    cells = run_stream_to_memory(
        daily_stream, "complete", shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS
    ).localCheckpoint(eager=True)  # cut the memory-sink lineage: the
    # day_total self-reference otherwise trips conflicting-attribute
    # resolution against the shared sink scan
    ref = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("rn"))
    )
    ref_total = ref.agg(F.sum("rn").alias("rt"))
    day_total = cells.groupBy("d").agg(F.sum("n").alias("dn"))
    joined = (
        cells.join(F.broadcast(ref), "event_type")
        .join(day_total, "d")
        .crossJoin(F.broadcast(ref_total))
    )
    p = F.col("n").cast("double") / F.col("dn").cast("double")
    q = F.col("rn").cast("double") / F.col("rt").cast("double")
    term_micro = F.round(p * F.log(p / q) * 1_000_000, 0).cast("bigint")
    return (
        joined.select("d", F.col("dn"), term_micro.alias("t"))
        .groupBy("d", "dn")
        .agg(F.round(F.sum("t").cast("double") / 1_000_000.0, 4).alias("kl_nats"))
        .select(
            "d", F.col("dn").cast("bigint").alias("n_events"), "kl_nats"
        )
        .orderBy("d")
    )


def sliding_daily_counts_stream(events: DataFrame, watermark: str = "14 days") -> DataFrame:
    """Watermarked SLIDING-window rollup: 7-day windows advancing 1 day, so
    every event lands in 7 overlapping windows — the trailing-week trend
    surface a monitoring dashboard reads (vs the tumbling weekly rollup's
    disjoint buckets).  Slide = 1 day puts window starts on every day
    boundary; state is O(open windows × types), bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("double")
                / 100.0
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


# batch twin: an event at date d belongs to the 7 sliding windows starting
# d-6 .. d (slide = 1 day, epoch-aligned day boundaries)
STREAM_SLIDING_SQL = """
WITH offs AS (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6]) AS k)
SELECT CAST(ts AS DATE) - k AS window_start, event_type,
       COUNT(*) AS event_count,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_value
FROM events CROSS JOIN offs
GROUP BY 1, 2
"""


def stream_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness entry: sliding-window rollup drained to a batch result
    (availableNow ⇒ equals the batch window-membership expansion)."""
    return run_stream_to_memory(
        sliding_daily_counts_stream(stream_events(spark, sf_dir)),
        shuffle_partitions=_DRAIN_SHUFFLE_PARTITIONS,
    )
