"""Tests of the benchmark's pure parts: percentiles, span self time, the
seeded op generator and its DuckDB replay, space amplification, the
oracle comparison, crediting streaming runs to their span, the process
tree's CPU clock, and event-log parsing on a log Spark writes here."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import oracle
import run
import spans
import stats
import txnops


@pytest.mark.parametrize(
    "n, pct",
    [(0, None), (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_latency_summary_states_percentile_and_counts():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    s = stats.latency_summary(xs)
    assert s["n"] == 100
    assert s["p50"] == 50.5
    assert s["tail_pct"] == 90.0
    assert s["tail"] == 90.0  # nearest rank 90
    assert s["beyond_tail"] == 10
    few = stats.latency_summary([1.0, 2.0, 3.0])
    assert few["tail"] is None and few["beyond_tail"] == 0


def test_percentile_nearest_rank():
    assert stats.percentile([5, 1, 3], 50) == 3
    assert stats.percentile([5, 1, 3], 100) == 5
    assert stats.percentile([5, 1, 3], 1) == 1


def test_space_amp_arithmetic():
    assert stats.space_amp(300, 100) == 3.0
    assert stats.space_amp(100, 100) == 1.0
    with pytest.raises(ValueError):
        stats.space_amp(10, 0)


def test_self_time_subtracts_union_of_children():
    s = [
        spans.Span("pass", 0.0, 10.0, None, 0, 0),
        spans.Span("a", 1.0, 4.0, 0, 1, 1),
        spans.Span("b", 3.0, 6.0, 0, 2, 2),  # overlaps a: union is 1..6
        spans.Span("c", 8.0, 9.0, 0, 3, 3),
        spans.Span("a.child", 1.0, 2.0, 1, 1, 4),
    ]
    assert spans.self_time(s, s[0]) == pytest.approx(10.0 - 5.0 - 1.0)
    assert spans.self_time(s, s[1]) == pytest.approx(2.0)
    assert spans.self_time(s, s[3]) == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(enabled=False)
    with tr.span("x", group="g"):
        pass
    assert tr.spans == []


def test_nested_spans_share_their_op_id():
    tr = spans.Tracer(enabled=True)
    with tr.span("pass"):
        for _ in range(2):
            with tr.span("query", op=True):
                with tr.span("query.build"):
                    pass
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [
        ("pass", None, 0), ("query", 0, 1), ("query.build", 1, 1),
        ("query", 0, 2), ("query.build", 3, 2),
    ]


def test_op_generator_is_seeded():
    a = txnops.make_ops(1, 15_000, 3)
    assert a == txnops.make_ops(1, 15_000, 3)
    b = txnops.make_ops(2, 15_000, 3)
    ranged = [i for i, op in enumerate(a) if op["op"] in ("merge", "delete_dv", "update_dv", "read_range")]
    assert [a[i]["lo"] for i in ranged] != [b[i]["lo"] for i in ranged]
    # the op kinds and the append slices do not depend on the seed
    assert [op["op"] for op in a] == [op["op"] for op in b]
    assert [op for op in a if op["op"] == "append"] == [op for op in b if op["op"] == "append"]


def test_op_generator_ranges_stay_within_loaded_keys():
    n = 15_000
    s = txnops.sizes(n)
    for seed in range(20):
        top = s["initial"]
        for op in txnops.make_ops(seed, n, 4):
            if op["op"] == "append":
                assert op["lo"] == top
                top = op["hi"]
            elif "lo" in op:
                assert 0 <= op["lo"] < op["hi"] <= top
        assert top <= n
    with pytest.raises(ValueError):
        txnops.make_ops(0, n, 100)
    ops = txnops.make_ops(0, n, 4)
    assert [op["op"] for op in ops].count("compact") == 1
    assert ops[-1] == {"op": "vacuum"}


def test_replay_versions_follow_commit_rule():
    con = duckdb.connect()
    orders = pd.DataFrame({
        "o_orderkey": range(30), "o_custkey": range(30),
        "o_totalprice": [1.25 * i for i in range(30)], "o_orderpriority": ["1-URGENT"] * 30,
    })
    con.register("orders", orders)
    ops = [
        {"op": "append", "lo": 20, "hi": 25},
        {"op": "delete_dv", "lo": 0, "hi": 5},
        {"op": "delete_dv", "lo": 0, "hi": 5},  # matches nothing: no commit
        {"op": "update_dv", "lo": 5, "hi": 10, "delta": 7},
        {"op": "merge", "lo": 10, "hi": 12, "delta": 1, "new_lo": 1000, "n_new": 1},
        {"op": "read_full"},
        {"op": "read_version", "back": 2},
        {"op": "compact"},
        {"op": "vacuum"},
    ]
    out = txnops.replay(con, 20, ops, [None] * 6 + [2] + [None] * 2)
    assert out["version"] == 5
    cents = {k: round(1.25 * k * 100) for k in range(25)}
    for k in range(5):
        del cents[k]
    for k in range(5, 10):
        cents[k] += 7
    cents[10] += 1
    cents[11] += 1
    cents[1000] = round(1.25 * 10 * 100)
    assert out["final"] == (len(cents), sum(cents.values()))
    assert out["reads"][5] == out["final"]
    # version 2: after the append and the first delete
    assert out["reads"][6] == (20, sum(125 * k for k in range(5, 25)))
    assert out["reads"][:5] == [None] * 5


def test_compare_is_order_insensitive():
    con = duckdb.connect()
    df = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    assert oracle.compare(df, con, "SELECT * FROM (VALUES ('x', 1), ('y', 2)) t(a, b)") is None
    assert oracle.compare(df, con, "SELECT 'x' AS a, 1 AS b") == "rows 2 vs oracle 1"
    assert oracle.compare(df, con, "SELECT * FROM (VALUES ('x', 1), ('y', 3)) t(a, b)") is not None


def test_compare_requires_exact_values_and_column_names():
    con = duckdb.connect()
    df = pd.DataFrame({"a": [0.1], "b": [1]})
    assert oracle.compare(df, con, "SELECT 0.2::DOUBLE AS a, 1 AS b") == "row values differ"
    assert oracle.compare(df, con, "SELECT 0.1::DOUBLE AS a, 1 AS c").startswith("columns")
    assert oracle.compare(df, con, "SELECT 0.1::DOUBLE AS a, SUM(1::BIGINT) AS b") is not None  # HUGEINT


def test_stream_runs_are_credited_to_the_open_span():
    g = spans._zero_group
    groups = {"p0:query.build:s": {**g(), "jobs": 2}, "run-a": {**g(), "jobs": 3, "tasks": 6},
              "run-b": {**g(), "jobs": 1}, "run-c": {**g(), "jobs": 4}}
    s = [
        spans.Span("query:s", 0.0, 10.0, None, 1, 0),  # no group
        spans.Span("query.build", 1.0, 5.0, 0, 1, 1, "p0:query.build:s"),
        spans.Span("query.exec", 5.0, 9.0, 0, 1, 2, "p0:query.exec:s"),
    ]
    out = spans.credit_stream_runs(groups, {"run-a": 2.0, "run-b": 6.0, "run-c": 11.0}, s)
    assert out["p0:query.build:s"]["jobs"] == 5 and out["p0:query.build:s"]["tasks"] == 6
    assert out["p0:query.exec:s"]["jobs"] == 1
    assert "run-a" not in out and "run-b" not in out
    assert out["run-c"]["jobs"] == 4  # started outside every grouped span
    assert groups["run-a"]["jobs"] == 3  # the input is left as it was


def test_tree_cpu_counts_children_alive_and_reaped():
    import subprocess
    import sys

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    c0 = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn + "print(flush=True)\ninput()"],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    child.stdout.readline()  # blocks without using CPU until the child has burnt its 0.5 s
    assert run.tree_cpu_s() - c0 >= 0.45  # the child's time shows while it runs
    child.communicate(b"\n")
    assert run.tree_cpu_s() - c0 >= 0.45  # and stays, as this process's, once reaped


def test_event_log_parsing(tmp_path):
    """A real Spark event log, written here, parsed per job group."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log = tmp_path / "log"
    log.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-eventlog-test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log))
        .config("spark.eventLog.compress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    src = tmp_path / "src"
    spark.range(50).write.parquet(str(src))
    listener = run.stream_listener()
    spark.streams.addListener(listener)
    tr = spans.Tracer(enabled=True, spark_context=spark.sparkContext)
    try:
        sc = spark.sparkContext
        sc.setJobGroup("p0:query.exec:one", "one job")
        spark.range(100, numPartitions=2).selectExpr("sum(id)").collect()
        sc.setJobGroup("p0:query.exec:two", "two jobs")
        spark.range(10, numPartitions=2).collect()
        spark.range(1000, numPartitions=2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(5).collect()
        # a streaming drain inside a span: its micro-batches run under the
        # run's own job group
        with tr.span("query.build", group="p0:query.build:stream"):
            q = (
                spark.readStream.schema("id long").parquet(str(src))
                .writeStream.format("memory").queryName("drain")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
        stream = listener.metrics()
        spark.streams.removeListener(listener)
    finally:
        spark.stop()
    assert pyspark is not None
    raw = spans.parse_event_log(spans.event_log_files(str(log)))
    assert list(listener.started) and all(r in raw for r in listener.started)
    assert stream["stream.batches"] >= 1 and stream["stream.input_rows"] == 50
    groups = spans.credit_stream_runs(raw, listener.started, tr.spans)
    assert groups["p0:query.build:stream"]["jobs"] == sum(raw[r]["jobs"] for r in listener.started) > 0
    one, two = groups["p0:query.exec:one"], groups["p0:query.exec:two"]
    assert one["jobs"] == 1 and one["tasks"] >= 2
    assert two["jobs"] >= 2 and two["stages"] >= 3
    assert two["shuffle_write_bytes"] > 0 and two["shuffle_read_bytes"] > 0
    assert groups[""]["jobs"] >= 1
    total = spans.sum_groups(groups, ["p0:query.exec:one", "p0:query.exec:two"])
    assert total["jobs"] == one["jobs"] + two["jobs"]
    assert total["peak_exec_mem_bytes"] == max(one["peak_exec_mem_bytes"], two["peak_exec_mem_bytes"])
