"""The benchmark's workloads.  Each drives the package's public functions
with one closed-loop client: the next call starts when the previous one
returns."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import stats
import txnops
from spans import Tracer

TRENDS_MODELS = (
    "stg_top_terms",
    "stg_top_rising_terms",
    "stg_international_top_terms",
    "stg_international_top_rising_terms",
    "weekly_trends_summary",
    "top_terms_comparison",
    "trending_terms_analysis",
)
TRENDS_TESTS = 68

# Registry queries whose ``fn`` launches Spark jobs in driver-side loops
# (EM iterations of a unigram mixture, a streaming drain), and a lazy one
# whose time goes to execution instead.
LLM_QUERIES = (
    "x_unigram_lm_em",
    "s_stream_attribution_outer",
    "x_semdedup",
)
TXN_ROUNDS = 1
TXN_WRITES = ("append", "merge", "delete_dv", "update_dv", "compact", "vacuum")
TXN_READS = ("read_range", "read_full", "read_version")


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Workload:
    """One workload bound to a session.  ``run_pass`` executes the fixed op
    list once; ``check`` compares outputs with their oracles."""

    def __init__(self, spark, sf_dir: str, work: str, seed: int):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._scratch = 0
        # outputs are captured once, in the first pass, for the checks
        self.capture = False
        self.capture_s = 0.0
        self.capture_cpu_s = 0.0
        self.cpu_clock = lambda: 0.0

    def fresh_dir(self, stem: str) -> str:
        self._scratch += 1
        path = os.path.join(self.work, f"{stem}{self._scratch}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def attempt(self, label: str, fn):
        """Run one op, counting it; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failed op is recorded, the run goes on
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {e}"[:400])
            return None

    def prepare_pass(self) -> None:
        """Untimed per-pass set-up."""

    def layer_metrics(self, passes: list[dict]) -> dict:
        return {}


class TrendsBuild(Workload):
    """A dbt build of the reference project: 7 models and their 68 tests."""

    name = "trends_build"

    def __init__(self, *a):
        super().__init__(*a)
        self.last_project = None
        self.last_tests: list = []

    def _project(self):
        from dbt_trill_shop_spark.fixtures import register_trends_sources
        from dbt_trill_shop_spark.models.trends import trends_project

        p = trends_project(warehouse_dir=self.fresh_dir("warehouse"))
        p.add_sources(register_trends_sources(self.spark, self.sf_dir))
        return p

    def run_pass(self, tr: Tracer, tag: str) -> dict:
        from dbt_trill_shop_spark.core.testing import run_model_tests

        info: dict = {"tests": []}
        if not tr.enabled:
            def build():
                p = self._project()
                return p, p.build(self.spark, run_tests=True)

            out = self.attempt("build", build)
            if out is not None:
                p, res = out
                info["tests"] = [r for rs in res.values() for r in rs]
                self.last_project = p
        else:
            # Traced: the same build split in two, so the DAG and the data
            # tests show as separate layers.
            with tr.span("dag.build", group=f"{tag}:dag.build", op=True):
                p = self.attempt("build", self._project)
                if p is not None and self.attempt(
                    "build", lambda: p.build(self.spark, run_tests=False)
                ) is None:
                    p = None
            info["model_s"] = dict(
                (m, r.get("execution_time", 0.0)) for m, r in (p.last_run_results if p else {}).items()
            )
            if p is not None:
                self.last_project = p
                for m in p.models:
                    if not p.models[m].tests:
                        continue
                    with tr.span("testing.run", group=f"{tag}:testing:{m}", op=True):
                        rs = self.attempt(
                            f"tests {m}",
                            lambda m=m: run_model_tests(p.relations[m], p.models[m].tests, m),
                        )
                    info["tests"].extend(rs or [])
        # each data test and each model build is one attempted op
        self.attempted += len(info["tests"])
        bad = [t for t in info["tests"] if t.status == "error"]
        self.failed += len(bad)
        self.errors.extend(f"test {t.model}: {t.test}" for t in bad)
        self.last_tests = info["tests"]
        return info

    def check(self) -> list[tuple[str, str | None]]:
        import oracle
        from dbt_trill_shop_spark.harness import QUERIES

        out = []
        n, bad = len(self.last_tests), [t for t in self.last_tests if t.status == "error"]
        out.append(("68 data tests pass", None if n == TRENDS_TESTS and not bad else f"{n} tests, {len(bad)} failed"))
        p = self.last_project
        con = oracle.connect(self.sf_dir)
        for m in TRENDS_MODELS:
            if p is None or m not in p.relations:
                out.append((f"{m} matches oracle", "not built"))
                continue
            model = p.models[m]
            path = p.table_path(model) if model.materialization.value == "table" else None
            # tables are read back from their files; views run through Spark
            got = pd.read_parquet(path) if path else p.relations[m].toPandas()
            out.append((f"{m} matches oracle", oracle.compare(got, con, QUERIES[m].oracle)))
        con.close()
        return out

    def layer_metrics(self, passes: list[dict]) -> dict:
        med = statistics.median
        m = {
            "dag.build_s": med(p["spans"].get("dag.build", 0.0) for p in passes),
            "dag.jobs": med(p["jobs"].get("dag.build", 0) for p in passes),
            "testing.s": med(p["spans"].get("testing.run", 0.0) for p in passes),
            "testing.jobs": med(p["jobs"].get("testing", 0) for p in passes),
            "testing.tests": med(len(p["info"]["tests"]) for p in passes),
            "testing.failed": med(
                sum(t.status == "error" for t in p["info"]["tests"]) for p in passes
            ),
        }
        for name in TRENDS_MODELS:
            m[f"dag.model_s.{name}"] = med(p["info"].get("model_s", {}).get(name, 0.0) for p in passes)
        return m


class LlmOps(Workload):
    """Eager and lazy LLM-data registry queries, then a DML round on a
    transactional table."""

    name = "llm_ops"

    def __init__(self, *a):
        super().__init__(*a)
        from dbt_trill_shop_spark import harness

        self.queries = harness.QUERIES
        order = list(LLM_QUERIES)
        np.random.default_rng([self.seed, 0x6C6C]).shuffle(order)
        self.order = order
        import pyarrow.parquet as pq

        self.n_orders = pq.ParquetFile(os.path.join(self.sf_dir, "orders.parquet")).metadata.num_rows
        self.ops = txnops.make_ops(self.seed, self.n_orders, TXN_ROUNDS)
        self.n_initial = txnops.sizes(self.n_orders)["initial"]
        orders = self.spark.read.parquet(os.path.join(self.sf_dir, "orders.parquet"))
        orders.createOrReplaceTempView("orders")
        self.src = self.spark.sql(txnops.TABLE_SQL)
        self.loaded = self.fresh_dir("txn-loaded")
        txnops.load(self.src, self.loaded, self.n_initial)
        self.runner = None
        self.outputs: dict = {}
        self.txn_results: list[list] = []  # per pass: (result, extra) per op

    def release(self) -> None:
        """Unpersist every persistent RDD, as the registry sweep does between
        queries (checkpoint blocks otherwise pile up across queries)."""
        it = self.spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)

    def prepare_pass(self) -> None:
        self.runner = txnops.TxnRunner(self.spark, self.src, self.fresh_dir("txn"), self.loaded)

    def _query(self, q: str, tr: Tracer, tag: str) -> None:
        with tr.span("query.build", group=f"{tag}:query.build:{q}"):
            df = self.queries[q].fn(self.spark, self.sf_dir)
        with tr.span("query.plan", group=f"{tag}:query.plan:{q}"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("query.exec", group=f"{tag}:query.exec:{q}"):
            df.write.mode("overwrite").format("noop").save()
        if self.capture:
            c0, t0 = self.cpu_clock(), time.perf_counter()
            self.outputs[q] = df.toPandas()
            self.capture_s += time.perf_counter() - t0
            self.capture_cpu_s += self.cpu_clock() - c0

    def run_pass(self, tr: Tracer, tag: str) -> dict:
        info: dict = {"txn": [], "query_s": {}}
        for q in self.order:
            t0 = time.perf_counter()
            with tr.span(f"query:{q}", op=True):
                self.attempt(q, lambda q=q: self._query(q, tr, tag))
            info["query_s"][q] = time.perf_counter() - t0
            self.release()
        runner = self.runner
        for i, op in enumerate(self.ops):
            kind = op["op"]
            rec = {"op": kind}
            if tr.enabled and kind == "vacuum":
                rec["space_amp"] = self._space_amp()
            before = du(runner.root) if tr.enabled else 0
            t0 = time.perf_counter()
            with tr.span(f"txn.{kind}", group=f"{tag}:txn.{kind}:{i}", op=True):
                out = self.attempt(f"txn {kind}", lambda op=op: runner.run(op))
            rec["s"] = time.perf_counter() - t0
            rec["result"], rec["extra"] = out if out is not None else (None, {})
            if tr.enabled:
                rec["bytes_written"] = max(0, du(runner.root) - before)
                if kind == "read_range":
                    rec["live_files"] = len(runner.T.snapshot(runner.root).files)
            info["txn"].append(rec)
        if tr.enabled:
            t0 = time.perf_counter()
            snap = runner.T.snapshot(runner.root)
            info["snapshot_s"] = time.perf_counter() - t0
            info["versions"] = snap.version + 1
            info["live_files"] = len(snap.files)
            info["dv_files"] = sum(len(d) for d in snap.file_dvs)
        self.txn_results.append(info["txn"])
        return info

    def txn_latency(self) -> dict:
        """Write and read latency over every pass."""
        recs = [r for rs in self.txn_results for r in rs]
        return {
            "txn_write_s": stats.latency_summary(r["s"] for r in recs if r["op"] in TXN_WRITES),
            "txn_read_s": stats.latency_summary(r["s"] for r in recs if r["op"] in TXN_READS),
        }

    def _space_amp(self) -> float:
        snap = self.runner.T.snapshot(self.runner.root)
        return stats.space_amp(du(self.runner.root), sum(os.path.getsize(f) for f in snap.files))

    def check(self) -> list[tuple[str, str | None]]:
        import oracle

        out = []
        con = oracle.connect(self.sf_dir)
        for q in self.order:
            got = self.outputs.get(q)
            why = "no output" if got is None else oracle.compare(got, con, self.queries[q].oracle)
            out.append((f"{q} matches oracle", why))
        first = self.txn_results[0]
        read_versions = [r["extra"].get("version") for r in first]
        want = txnops.replay(con, self.n_initial, self.ops, read_versions)
        for k, recs in enumerate(self.txn_results):
            got_reads = [r["result"] for r in recs]
            bad = [
                f"{op['op']}#{i}" for i, (op, g, w) in enumerate(zip(self.ops, got_reads, want["reads"]))
                if g != w
            ]
            out.append((f"txn pass {k} reads match replay", ", ".join(bad) or None))
            out.append((
                f"txn pass {k} final version",
                None if recs[-1]["extra"].get("after_version") == want["version"]
                else f"{recs[-1]['extra'].get('after_version')} vs {want['version']}",
            ))
        final = self.runner._agg(self.runner.T.read_txn(self.spark, self.runner.root))
        out.append(("txn final count and sum", None if final == want["final"] else f"{final} vs {want['final']}"))
        con.close()
        return out

    def layer_metrics(self, passes: list[dict]) -> dict:
        med = statistics.median
        m = {
            "query.build_s": med(p["spans"].get("query.build", 0.0) for p in passes),
            "query.jobs_build": med(p["jobs"].get("query.build", 0) for p in passes),
            "query.plan_s": med(p["spans"].get("query.plan", 0.0) for p in passes),
            "query.exec_s": med(p["spans"].get("query.exec", 0.0) for p in passes),
            "query.jobs": med(p["jobs"].get("query", 0) for p in passes),
            "query.stages": med(p["stages"].get("query", 0) for p in passes),
            "query.tasks": med(p["tasks"].get("query", 0) for p in passes),
        }
        recs = [r for p in passes for r in p["info"]["txn"]]
        for kind in TXN_WRITES:
            mine = [r for r in recs if r["op"] == kind]
            m[f"txn.{kind}_s"] = med(r["s"] for r in mine)
            m[f"txn.{kind}.bytes_written"] = med(r["bytes_written"] for r in mine)
            m[f"txn.{kind}.jobs"] = med(p["jobs"].get(f"txn.{kind}", 0) for p in passes) / (
                len(mine) // len(passes)
            )
        for kind in TXN_READS:
            m[f"txn.{kind}_s"] = med(r["s"] for r in recs if r["op"] == kind)
        m["txn.files_scanned_ratio"] = med(
            r["extra"]["files_scanned"] / r["live_files"] for r in recs if r["op"] == "read_range"
        )
        for k in ("snapshot_s", "versions", "live_files", "dv_files"):
            m[f"txn.{k}"] = med(p["info"][k] for p in passes)
        m["txn.space_amp"] = med(r["space_amp"] for r in recs if "space_amp" in r)
        writes = [r["s"] for r in recs if r["op"] in TXN_WRITES]
        reads = [r["s"] for r in recs if r["op"] in TXN_READS]
        m["txn.write_p50_s"] = stats.median(writes)
        m["txn.read_p50_s"] = stats.median(reads)
        return m


WORKLOADS = {w.name: w for w in (TrendsBuild, LlmOps)}
