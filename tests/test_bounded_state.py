"""The two eager llm_ops queries keep their bounded state off the cluster:
unigram EM trains over one collected word table (its E-steps fold on the
driver), and the outer-attribution drain sizes its state partitions to
its staged input.  Outputs stay equal to the distributed forms and to the
DuckDB oracles."""

import math
import os
import threading
import uuid

from pyspark.sql import functions as F

from dbt_trill_shop_spark import harness
from dbt_trill_shop_spark.catalog import load_table
from dbt_trill_shop_spark.ext.bpe import (
    _piece_usage,
    _with_viterbi,
    unigram_lm_em,
    word_frequencies,
)
from dbt_trill_shop_spark.localrel import values_relation
from dbt_trill_shop_spark.operators.txn_demo import ROUND15_STAGED
from dbt_trill_shop_spark.streaming.events import _drain_partitions

from .conftest import SF_DIR
from .oracle_utils import compare, duck_connection, oracle_frame

SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _jobs(sc, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    group = f"bounded-state-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_estep_usage_matches_distributed_rollup(spark):
    # piece_max_len 3; hand-set costs:
    #   'abc' ties a|bc against ab|c at 20: the longer LAST piece (bc) wins
    #   'abz' holds 'z', outside the vocabulary: every span through it
    #         costs 2^40, and the whole word is the cheapest such span
    #   'b'   is a one-char word
    #   'cab' has exactly piece_max_len chars and is itself a piece
    P = 3
    costs = {"a": 10, "b": 10, "c": 10, "ab": 10, "bc": 10, "cab": 5}
    rows = [("abc", 3), ("abz", 2), ("b", 5), ("cab", 4)]
    local = values_relation(spark, rows, "w string, freq long")
    sc = spark.sparkContext
    got, n_jobs = _jobs(sc, lambda: _piece_usage(local, costs, P))
    distributed = {
        r["piece"]: r["usage"]
        for r in _with_viterbi(
            spark.createDataFrame(rows, "w string, freq long").repartition(2),
            costs,
            P,
        )
        .select("freq", F.explode("_ps").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("usage"))
        .collect()
    }
    assert got == distributed == {"a": 3, "bc": 3, "abz": 2, "b": 5, "cab": 4}
    assert n_jobs == 0


def test_warm_unigram_em_runs_only_the_word_frequency_pass(spark):
    docs = load_table(spark, SF01_DIR, "documents")
    unigram_lm_em(docs).collect()  # warm the session's code paths
    sc = spark.sparkContext
    _, n_build = _jobs(sc, lambda: unigram_lm_em(docs))
    _, n_freq = _jobs(
        sc,
        lambda: word_frequencies(docs, 400).filter(F.length("w") <= 12).collect(),
    )
    assert 1 <= n_build <= 3, n_build
    assert n_build == n_freq, (n_build, n_freq)


def test_unigram_queries_match_oracles(spark):
    con = duck_connection(SF01_DIR)
    fns, sqls = harness.queries(), harness.oracle_sql()
    cases = {
        n: (fns[n], sqls[n])
        for n in ("x_unigram_lm_em", "x_unigram_fertility", "x_unigram_pruned")
    }
    cases["x_unigram_transfer"] = ROUND15_STAGED["x_unigram_transfer"]
    for name, (fn, sql) in cases.items():
        probs = compare(fn(spark, SF01_DIR), oracle_frame(con, sql))
        assert not probs, f"{name}: " + "; ".join(probs)


def test_drain_partitions_follow_the_advisory_size(spark, tmp_path):
    tiny = tmp_path / "tiny"
    tiny.mkdir()
    (tiny / "part.parquet").write_bytes(b"x" * 100)
    assert _drain_partitions(spark, str(tiny)) == 1

    small = tmp_path / "small"
    small.mkdir()
    (small / "a.parquet").write_bytes(b"x" * 3000)
    (small / "b.parquet").write_bytes(b"x" * 2500)
    big = tmp_path / "big"
    big.mkdir()
    (big / "a.parquet").write_bytes(b"x" * 1024 * 200)
    par = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(_ADVISORY, None)
    spark.conf.set(_ADVISORY, "1k")
    try:
        assert _drain_partitions(spark, str(small)) == min(par, math.ceil(5500 / 1024))
        assert _drain_partitions(spark, str(big)) == min(par, 200) == par
    finally:
        if prev is None:
            spark.conf.unset(_ADVISORY)
        else:
            spark.conf.set(_ADVISORY, prev)


def test_outer_attribution_drain_uses_one_state_partition(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.parts: list[int] = []
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.parts += [
                op.numShufflePartitions for op in event.progress.stateOperators
            ]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        out = harness.queries()["s_stream_attribution_outer"](spark, SF01_DIR)
        listener.done.wait(30)
    finally:
        spark.streams.removeListener(listener)
    assert listener.parts and set(listener.parts) == {1}, listener.parts
    con = duck_connection(SF01_DIR)
    sql = harness.oracle_sql()["s_stream_attribution_outer"]
    probs = compare(out, oracle_frame(con, sql))
    assert not probs, "; ".join(probs)
