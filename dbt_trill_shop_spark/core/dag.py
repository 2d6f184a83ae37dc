"""Project: model registry + DAG execution (the dbt-build equivalent).

Pipeline per SURVEY.md §3.1: parse (Python registration) -> DAG assembly
(deps = ``ref`` edges) -> topo-ordered materialization (view / table) ->
data tests per node, all of a model's row-level tests counted in one fused
aggregate.

Materialization mapping:

- ``view``  -> ``createOrReplaceTempView`` (Catalyst inlines it downstream,
  like a warehouse view: predicate pushdown and column pruning flow through);
- ``table`` -> parquet written under ``warehouse_dir/<schema>/<name>`` and
  re-registered as a view over the written files (a real sink + scan, like a
  warehouse table; at 100 TB this is where partitioning/bucketing choices go);
- ``ephemeral`` -> DataFrame held in memory only.

The orchestration layer is driver-side Python on purpose — all data movement
happens inside Spark's own DAG scheduler.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterable
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

from .model import (
    Materialization,
    Model,
    check_access,
    enforce_contract,
    resolve_schema,
)
from .testing import TestResult, run_model_tests


def _stable_value_repr(v) -> str:
    """A process-stable repr for closure-captured values (checksum input):
    default reprs of functions/objects carry memory addresses that differ
    every run, which would make state:modified flag the model on every
    slim-CI pass.  Captured callables hash their source when available."""
    import inspect
    import re

    if callable(v):
        try:
            return inspect.getsource(v)
        except (OSError, TypeError):
            return f"<fn {getattr(v, '__module__', '')}.{getattr(v, '__qualname__', '?')}>"
    return re.sub(r"0x[0-9a-fA-F]+", "0x", repr(v))


def recover_swap(path: str) -> None:
    """Crash recovery for :func:`swap_into_place`: if a previous swap died
    between its two renames, the table directory is missing but the
    ``.__old__`` sibling still holds the full pre-swap table — restore it.
    Call before reading or rebuilding a swap-managed path."""
    old = path + ".__old__"
    if not os.path.exists(path) and os.path.exists(old):
        os.replace(old, path)


def swap_into_place(tmp: str, path: str) -> None:
    """Atomically-enough replace ``path`` with ``tmp`` (write-then-swap).
    The crash window between the two renames leaves the previous table in
    ``path.__old__``; :func:`recover_swap` restores it, so no failure
    point loses committed history."""
    old = path + ".__old__"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def merge_upsert(existing: DataFrame, batch: DataFrame, unique_key: str) -> DataFrame:
    """Upsert ``batch`` into ``existing`` by ``unique_key``: existing rows
    whose key appears in the batch are replaced (left_anti + union).  The
    anti join broadcasts the batch's key set — the common shape: one
    partition of new data against years of history."""
    from pyspark.sql import functions as F

    keys = batch.select(unique_key).distinct()
    return existing.join(F.broadcast(keys), unique_key, "left_anti").unionByName(
        batch.select(*existing.columns)
    )


def topo_sort(models: dict[str, Model], sources: Iterable[str]) -> list[str]:
    """Topological order of model names (sources excluded, must pre-exist)."""
    srcs = set(sources)
    ts: TopologicalSorter = TopologicalSorter()
    for name, m in models.items():
        ts.add(name, *[d for d in m.deps if d not in srcs])
    order = [n for n in ts.static_order() if n in models]
    return order


class Project:
    """A registry of sources + models, materialized in dependency order."""

    def __init__(
        self,
        name: str,
        target: str = "dev",
        default_schema: str = "analytics",
        warehouse_dir: str | None = None,
        table_partition_cols: dict[str, list[str]] | None = None,
        vars: dict | None = None,
    ) -> None:
        self.name = name
        self.target = target
        self.default_schema = default_schema
        self.warehouse_dir = warehouse_dir or os.path.join(
            tempfile.gettempdir(), f"trillshop_warehouse_{os.getpid()}", target
        )
        # dbt vars (--vars / dbt_project.yml vars:), read via self.var() and
        # {{ var('name', default) }} in SQL-file models
        self.vars: dict = dict(vars or {})
        self.sources: dict[str, DataFrame] = {}
        # source name -> {"description": ..., "columns": {col: desc}} — the
        # property-YAML metadata surfaced in the manifest (dbt docs parity)
        self.source_meta: dict[str, dict] = {}
        self.models: dict[str, Model] = {}
        self.relations: dict[str, DataFrame] = {}
        # name -> partition columns for table sinks (scale lever: the reference
        # documents refresh_date partitioning, google_trends_docs.md:39).
        self.table_partition_cols = table_partition_cols or {}
        # name -> (num_buckets, [cols]) for bucketed table sinks: co-locates
        # future joins/aggs on the bucket key (no exchange at read time).
        # Bucketed sinks go through saveAsTable (bucket metadata lives in the
        # session catalog), so they need a warehouse-enabled SparkSession.
        self.table_bucket_spec: dict[str, tuple[int, list[str]]] = {}
        # dbt exposures: declared downstream consumers (dashboards, ML jobs)
        # — lineage-only metadata; name -> (type, depends_on, owner, url)
        self.exposures: dict[str, dict] = {}
        # per-node outcome of the most recent build() (dbt run_results)
        self.last_run_results: dict[str, dict] = {}
        # dbt on-run-start / on-run-end (dbt_project.yml): project-level SQL
        # run once around the whole build (audit bookkeeping, session conf)
        self.on_run_start: list[str] = []
        self.on_run_end: list[str] = []
        # dbt run-operation registry: name -> macro callable returning SQL
        self.macros: dict = {}
        # dbt 1.6 model versions: base name -> {version -> node_name}
        self.versions: dict[str, dict[int, str]] = {}

    # -- registration -----------------------------------------------------
    def add_source(
        self,
        name: str,
        df: DataFrame,
        description: str = "",
        columns: dict[str, str] | None = None,
    ) -> None:
        self.sources[name] = df
        self.relations[name] = df
        if description or columns:
            self.source_meta[name] = {
                "description": description,
                "columns": dict(columns or {}),
            }

    def add_sources(self, dfs: dict[str, DataFrame]) -> None:
        for k, v in dfs.items():
            self.add_source(k, v)

    def var(self, name: str, default=None):
        """dbt ``var()``: project-level variable lookup with a default."""
        return self.vars.get(name, default)

    def add_model(self, model: Model) -> None:
        if model.node_name in self.models:
            raise ValueError(f"duplicate model {model.node_name!r}")
        if not model.checksum and callable(model.builder):
            # Python builders fingerprint their source PLUS closure-captured
            # values (state:modified): factory-made builders share source
            # text, so without the closure cells every _staging_builder(x)
            # would hash identically and a config edit would be invisible to
            # slim CI.  Non-introspectable callables stay unfingerprinted =
            # always modified, the safe direction.
            import inspect

            from .model import content_checksum

            try:
                src = inspect.getsource(model.builder)
                try:
                    cells = inspect.getclosurevars(model.builder).nonlocals
                    src += repr(
                        sorted((k, _stable_value_repr(v)) for k, v in cells.items())
                    )
                except (TypeError, ValueError):
                    pass
                model.checksum = content_checksum(src)
            except (OSError, TypeError):
                pass
        self.models[model.node_name] = model
        if model.version is not None:
            self.versions.setdefault(model.name, {})[model.version] = model.node_name

    def add_exposure(
        self,
        name: str,
        depends_on: tuple[str, ...],
        exposure_type: str = "dashboard",
        owner: str = "",
        url: str = "",
    ) -> None:
        """dbt exposure (schema v2): a named downstream consumer of models —
        pure lineage metadata (no execution), surfaced in the manifest so
        impact analysis ('what breaks if this model changes?') covers the
        last mile past the warehouse."""
        unknown = [d for d in depends_on if d not in self.models and d not in self.sources]
        if unknown:
            raise KeyError(f"exposure {name!r} depends on unknown nodes: {unknown}")
        self.exposures[name] = {
            "type": exposure_type,
            "depends_on": list(depends_on),
            "owner": owner,
            "url": url,
        }

    def run_operation(self, spark: SparkSession, name: str, **kwargs) -> DataFrame:
        """dbt ``run-operation``: invoke a registered macro standalone (the
        maintenance-macro idiom — vacuum/grant/backfill helpers).  The macro
        returns a SQL string, which runs against the session with every
        built relation addressable by name."""
        if name not in self.macros:
            raise KeyError(f"unknown operation macro {name!r}")
        return spark.sql(self.macros[name](**kwargs))

    # -- resolution --------------------------------------------------------
    def ref(self, name: str, version: int | None = None) -> DataFrame:
        """dbt ``ref()``/``source()`` equivalent: look up a built relation.
        For versioned models a bare name resolves to the LATEST version and
        ``version=`` pins an exact one (dbt 1.6 ``ref('m', v=1)``)."""
        if version is not None:
            name = f"{name}.v{version}"
        elif name not in self.relations and name in self.versions:
            name = self.versions[name][max(self.versions[name])]
        try:
            return self.relations[name]
        except KeyError:
            raise KeyError(
                f"relation {name!r} not built yet — check deps/topo order"
            ) from None

    def ref_at(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Time travel over a ``txn_table``-materialized model: the relation
        as of a past COMMIT version (each ``build()`` is one commit) or a
        wall-clock timestamp — "what did this mart say before today's run?".
        Both None reads the latest committed snapshot."""
        model = self.models[name]
        if model.materialization is not Materialization.TXN_TABLE:
            raise ValueError(
                f"{name!r} is materialized {model.materialization.value!r}; "
                "time travel needs materialized='txn_table'"
            )
        from ..sources.txn_table import read_txn

        return read_txn(
            spark, self.table_path(model), version=version, as_of_ms=as_of_ms
        )

    def schema_for(self, model: Model) -> str:
        return resolve_schema(model.schema, "model", self.target, self.default_schema)

    # -- execution -----------------------------------------------------------
    def select(self, expr: str) -> set[str]:
        """dbt ``--select`` graph operators: ``+name`` ancestors, ``name+``
        descendants, ``tag:<name>`` (see :func:`select_nodes`)."""
        return select_nodes(self.models, expr)

    def select_many(
        self,
        select: Iterable[str] | None = None,
        exclude: Iterable[str] | None = None,
    ) -> set[str]:
        """dbt CLI selection algebra: union of ``--select`` expressions minus
        the union of ``--exclude`` expressions; no ``select`` (None OR empty,
        the argparse-default shape) means all models (``dbt build`` with
        only ``--exclude``)."""
        chosen: set[str] = set()
        select = list(select or ())
        if not select:
            chosen = set(self.models)
        else:
            for expr in select:
                chosen |= select_nodes(self.models, expr)
        for expr in exclude or ():
            chosen -= select_nodes(self.models, expr)
        return chosen

    def select_state_modified(
        self, old_manifest: dict, include_descendants: bool = True
    ) -> set[str]:
        """dbt ``--select state:modified`` (slim CI): models whose content
        checksum differs from ``old_manifest`` (a previous :meth:`manifest`,
        e.g. loaded from the last deployment's artifacts), plus — with
        ``include_descendants`` (``state:modified+``) — everything downstream
        of a change.  New models and unfingerprintable builders count as
        modified, the safe direction.  At 100 TB this is the difference
        between rebuilding one touched mart and rebuilding the warehouse."""
        old = {
            n: node.get("checksum", "")
            for n, node in (old_manifest.get("nodes") or {}).items()
        }
        changed = {
            n
            for n, m in self.models.items()
            if n not in old or not m.checksum or m.checksum != old[n]
        }
        if include_descendants:
            _parents, children = _edges(self.models)
            stack = list(changed)
            while stack:
                for c in children.get(stack.pop(), ()):
                    if c not in changed:
                        changed.add(c)
                        stack.append(c)
        return changed

    def build(
        self,
        spark: SparkSession,
        run_tests: bool = True,
        subset: set[str] | None = None,
        on_test_failure: str = "continue",
        defer_relations: dict[str, DataFrame] | None = None,
        full_refresh: bool = False,
        on_model_error: str = "raise",
        threads: int = 1,
    ) -> dict[str, list[TestResult]]:
        """Materialize every model in topo order; return test results per
        model.  ``subset`` (e.g. from :meth:`select`) restricts the run.

        ``on_test_failure`` routes error-severity test failures like ``dbt
        build``: ``"continue"`` records and proceeds, ``"skip_downstream"``
        skips the failed model's descendants (dbt's default behavior), and
        ``"raise"`` aborts the run.  Warn-severity results never gate.

        ``defer_relations`` is dbt ``--defer``: when a subset build needs a
        dependency that is not selected and not built here, its relation
        resolves from this mapping (e.g. the production warehouse's tables,
        via a previous deployment's artifacts).  Together with
        :meth:`select_state_modified` this is the slim-CI loop — build only
        what changed, read everything else from prod.

        ``full_refresh`` is dbt ``--full-refresh``: incremental models
        ignore their existing table and rebuild from scratch
        (``is_incremental()`` compiles to False), the recovery path after a
        backfill or logic change.

        ``on_model_error`` routes build-time exceptions: ``"raise"``
        propagates (default); ``"continue"`` records the node as ``error``,
        skips its descendants, and keeps building siblings — dbt's actual
        run behavior, and what makes :meth:`retry` meaningful.

        ``threads`` is dbt's ``threads:`` — independent DAG branches build
        concurrently (each thread submits its own Spark jobs; the cluster
        scheduler interleaves their stages, overlapping scan/shuffle time).
        1 (default) preserves strict topological serial order.
        """
        if on_test_failure not in ("continue", "skip_downstream", "raise"):
            raise ValueError(f"bad on_test_failure {on_test_failure!r}")
        if on_model_error not in ("continue", "raise"):
            raise ValueError(f"bad on_model_error {on_model_error!r}")
        check_access(self.models)  # group/access violations fail pre-flight
        self._full_refresh = full_refresh
        self._last_subset = set(subset) if subset is not None else None
        self._on_model_error = on_model_error
        try:
            for stmt in self.on_run_start:
                spark.sql(stmt)
            return self._build_inner(
                spark, run_tests, subset, on_test_failure, defer_relations, threads
            )
        finally:
            # on-run-end runs even on failed builds (dbt semantics: the
            # audit bookkeeping must record failures too), and the
            # full-refresh flag must not leak past this build
            self._full_refresh = False
            for stmt in self.on_run_end:
                spark.sql(stmt)

    def _build_node(
        self,
        spark: SparkSession,
        name: str,
        run_tests: bool,
        on_test_failure: str,
        store_dir: str,
        results: dict[str, list[TestResult]],
    ) -> str:
        """Build + materialize + test ONE model; returns its final status
        (``success`` / ``error`` / ``fail``).  Shared by the serial and
        threaded schedulers; the only shared mutations are per-name dict
        slots (``relations``, ``last_run_results``, ``results``), so
        concurrent invocations for DIFFERENT names don't race."""
        import time

        model = self.models[name]
        if model.deprecation_date is not None:
            import warnings

            warnings.warn(
                f"model {name!r} is deprecated (removal {model.deprecation_date})",
                DeprecationWarning,
                stacklevel=2,
            )
        t0 = time.perf_counter()
        if model.pre_hook:
            # {{ this }} in a pre-hook addresses the EXISTING relation;
            # in a fresh session the view isn't registered yet, so bind
            # it to the on-disk table first (dbt resolves {{ this }} to
            # the physical relation for the same reason)
            path = self.table_path(model)
            recover_swap(path)
            if os.path.exists(path):
                spark.read.parquet(path).createOrReplaceTempView(
                    model.safe_node_name
                )
        for hook in model.pre_hook:
            spark.sql(self._compile_hook(hook, name))
        try:
            df = model.build(spark, self.ref, self._build_ctx(spark, name))
            if model.contract:
                enforce_contract(name, df, model.contract)
            self.relations[name] = self._materialize(spark, model, df)
        except Exception as e:
            if getattr(self, "_on_model_error", "raise") == "raise":
                raise
            # dbt run behavior: record the error, skip descendants,
            # keep building unrelated siblings (retry picks these up)
            self.last_run_results[name] = {
                "status": "error",
                "message": f"{type(e).__name__}: {e}",
                "execution_time": round(time.perf_counter() - t0, 3),
            }
            return "error"
        for hook in model.post_hook:
            spark.sql(self._compile_hook(hook, name))
        self.last_run_results[name] = {
            "status": "success",
            "execution_time": round(time.perf_counter() - t0, 3),
        }
        obs = getattr(self, "_pending_observations", {}).pop(name, None)
        if obs is not None:
            try:  # accumulator value from the write job — no extra pass
                self.last_run_results[name]["rows_affected"] = obs.get["rows"]
            except Exception as e:
                import logging

                logging.getLogger(__name__).warning(
                    "rows_affected observation for %s unavailable: %s", name, e
                )
        if run_tests and model.tests:
            results[name] = run_model_tests(
                self.relations[name], model.tests, name, store_dir=store_dir
            )
            failed = [r for r in results[name] if r.status == "error"]
            if failed and on_test_failure == "raise":
                raise RuntimeError(
                    f"data test failed on {name}: "
                    + "; ".join(r.test for r in failed)
                )
            if failed and on_test_failure == "skip_downstream":
                # the model itself built, but its gate failed — dbt
                # records "fail" and retry re-runs it (plus descendants)
                self.last_run_results[name]["status"] = "fail"
                return "fail"
        return "success"

    def _build_inner(
        self,
        spark: SparkSession,
        run_tests: bool,
        subset: set[str] | None,
        on_test_failure: str,
        defer_relations: dict[str, DataFrame] | None,
        threads: int = 1,
    ) -> dict[str, list[TestResult]]:
        results: dict[str, list[TestResult]] = {}
        order = topo_sort(self.models, self.sources)
        store_dir = os.path.join(self.warehouse_dir, "test_failures")
        skipped: set[str] = set()
        self.last_run_results = {}
        todo: list[str] = []
        for name in order:
            if subset is not None and name not in subset:
                if (
                    defer_relations
                    and name in defer_relations
                    and name not in self.relations
                ):
                    self.relations[name] = defer_relations[name]
                continue
            todo.append(name)

        def skip(name: str) -> None:
            skipped.add(name)
            self.last_run_results[name] = {"status": "skipped", "execution_time": 0.0}

        if threads <= 1:
            for name in todo:
                if skipped & set(self.models[name].deps):
                    skip(name)  # transitively skip descendants of failures
                    continue
                if self._build_node(
                    spark, name, run_tests, on_test_failure, store_dir, results
                ) in ("error", "fail"):
                    skipped.add(name)
            return results

        # dbt `threads:` — wave scheduling: every node whose deps are all
        # satisfied builds concurrently (each thread drives its own Spark
        # jobs; the cluster scheduler interleaves stages, so independent
        # DAG branches overlap their I/O and shuffles).  Wave barriers keep
        # the failure-routing semantics identical to the serial path.
        from concurrent.futures import ThreadPoolExecutor

        remaining = list(todo)
        while remaining:
            # anything downstream of a skipped/failed node is dead — mark it
            # now so the next pass sees its descendants as dead too
            dead = [n for n in remaining if skipped & set(self.models[n].deps)]
            for n in dead:
                skip(n)
            remaining = [n for n in remaining if n not in skipped]
            if not remaining:
                break
            rem = set(remaining)
            wave = [n for n in remaining if not (set(self.models[n].deps) & rem)]
            if not wave:  # unreachable: topo_sort rejects cycles up front
                raise RuntimeError(f"deadlocked build wave: {sorted(remaining)}")
            remaining = [n for n in remaining if n not in set(wave)]
            with ThreadPoolExecutor(max_workers=min(threads, len(wave))) as ex:
                futs = {
                    n: ex.submit(
                        self._build_node,
                        spark,
                        n,
                        run_tests,
                        on_test_failure,
                        store_dir,
                        results,
                    )
                    for n in wave
                }
                for n, fut in futs.items():
                    if fut.result() in ("error", "fail"):
                        skipped.add(n)
        return results

    def retry(self, spark: SparkSession, **build_kwargs) -> dict[str, list[TestResult]]:
        """dbt ``retry``: re-run exactly the nodes that did not succeed in the
        previous build — errored models, failed-test models, and everything
        skipped downstream of them.  Succeeded relations are left in place
        (their DataFrames still resolve via ``ref``), so the retry costs only
        the failed subgraph — on a 100 TB DAG, the difference between
        re-running one bad model and re-running the night.
        """
        prev = self.last_run_results
        if not prev:
            raise RuntimeError("no previous build to retry")
        base = self._last_subset if self._last_subset is not None else set(self.models)
        todo = {n for n in base if prev.get(n, {}).get("status") != "success"}
        if not todo:
            return {}
        return self.build(spark, subset=todo, **build_kwargs)

    def compile_sql(self, sql_text: str) -> str:
        """dbt ``compile`` (and the ``analyses/`` folder semantics): render a
        dbt-Jinja SQL text to the plain SQL that WOULD run — refs/sources to
        bare relation names, macros expanded, vars resolved — without
        executing anything."""
        from .jinja_lite import compile_model_sql

        return compile_model_sql(sql_text, macros=self.macros, vars=self.vars)

    def show(self, spark: SparkSession, sql_text: str, limit: int = 5) -> DataFrame:
        """dbt ``show --inline``: compile a dbt-Jinja SQL snippet against this
        project (``ref``/``source``/``var``/macros all resolve) and return a
        ``limit``-row preview — the ad-hoc "what would this select?" loop.
        Dependencies must already be built (or be sources)."""
        from .jinja_lite import compile_model_sql, extract_deps

        for dep in extract_deps(sql_text):
            self.ref(dep).createOrReplaceTempView(dep)
        compiled = compile_model_sql(sql_text, macros=self.macros, vars=self.vars)
        return spark.sql(compiled).limit(limit)

    def _build_ctx(self, spark: SparkSession, name: str) -> dict:
        """The dbt-style build context for one model: ``vars``, the
        ``is_incremental()`` flag, and ``this`` (the existing materialized
        relation, for incremental predicates like
        ``WHERE ts > (SELECT max(ts) FROM {{ this }})``)."""
        inc = self.is_incremental_run(name)
        this = None
        if inc:
            this = spark.read.parquet(self.table_path(self.models[name]))
        return {
            "vars": self.vars,
            "is_incremental": inc,
            "this": this,
            "model_name": name,
        }

    def table_path(self, model: Model) -> str:
        return os.path.join(
            self.warehouse_dir, self.schema_for(model), model.safe_node_name
        )

    def is_incremental_run(self, name: str) -> bool:
        """dbt ``is_incremental()``: True when the model is incremental and its
        table already exists — builders use this to restrict to the new batch.
        Always False under ``build(full_refresh=True)``."""
        if getattr(self, "_full_refresh", False):
            return False
        model = self.models[name]
        path = self.table_path(model)
        recover_swap(path)  # a crashed swap must not read as "first build"
        return model.materialization is Materialization.INCREMENTAL and os.path.exists(
            path
        )

    def _compile_hook(self, hook: str, name: str) -> str:
        """Minimal hook compilation: ``{{ this }}`` resolves to the model's
        registered relation name (dbt hooks address the just-built table)."""
        import re

        return re.sub(r"\{\{\s*this\s*\}\}", name, hook)

    def _materialize(self, spark: SparkSession, model: Model, df: DataFrame) -> DataFrame:
        if model.materialization is Materialization.EPHEMERAL:
            return df
        # dbt's adapter_response row counts, Spark-natively: an Observation
        # rides the materialization job (accumulator-backed — NO extra pass
        # over the data) and lands in run_results as rows_affected.  Views
        # are lazy (no job to observe), so only table-family sinks report.
        obs = None
        # TABLE only: its materialization is a single write job, so the
        # observed metrics are the whole relation.  INCREMENTAL/merge paths
        # can execute df more than once (existence probe + merge + write) and
        # Observation.get returns the FIRST job's metrics — a partial count —
        # so they deliberately report no rows_affected rather than a wrong one.
        if model.materialization in (
            Materialization.TABLE, Materialization.TXN_TABLE
        ):
            # TXN_TABLE also qualifies: its materialization stages the
            # DataFrame in exactly one write job before the atomic commit
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation(f"obs_{model.safe_node_name}")
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            # per-name slot — _build_node's concurrency contract: threads
            # only ever touch their own model's key
            if not hasattr(self, "_pending_observations"):
                self._pending_observations = {}
            self._pending_observations[model.name] = obs
        view_name = model.safe_node_name
        if model.materialization is Materialization.VIEW:
            df.createOrReplaceTempView(view_name)
            return df
        if model.materialization is Materialization.TXN_TABLE:
            # table-through-the-log: every build is one atomic commit, so
            # the mart gains time travel (ref_at), OCC against a concurrent
            # orchestrator, and a change-data-feed — and readers holding the
            # previous snapshot keep a consistent file list mid-rebuild (no
            # swap window at all).  Partition columns become RANGE clustering
            # so the log's per-file min/max stats can data-skip (hash layout
            # would give every file the full key range).
            from ..sources.txn_table import read_txn, write_txn

            root = self.table_path(model)
            parts = self.table_partition_cols.get(model.name)
            if parts:
                df = df.repartitionByRange(*parts)
            mode = (
                "overwrite" if os.path.isdir(os.path.join(root, "_txn"))
                else "append"
            )
            write_txn(df, root, mode=mode)
            spark.catalog.refreshByPath(root)
            out = read_txn(spark, root)
            out.createOrReplaceTempView(view_name)
            return out
        # TABLE / INCREMENTAL: write parquet, read back (a real sink; the
        # read-back scan gets vectorized parquet + pushdown downstream).
        bucket = self.table_bucket_spec.get(model.name)
        if bucket is not None:
            n, cols = bucket
            table = f"{model.name}"
            (
                df.write.mode("overwrite")
                .bucketBy(n, *cols)
                .sortBy(*cols)
                .format("parquet")
                .saveAsTable(table)
            )
            out = spark.table(table)
            return out
        path = self.table_path(model)
        recover_swap(path)  # restore a crashed previous swap before deciding
        parts = self.table_partition_cols.get(model.name)
        if (
            model.materialization is Materialization.INCREMENTAL
            and os.path.exists(path)
            and not getattr(self, "_full_refresh", False)
        ):
            if model.incremental_strategy == "insert_overwrite":
                # TRUE partition-level replacement (dbt insert_overwrite on a
                # partitioned warehouse): ONLY the partitions present in the
                # batch are rewritten — at 100 TB the untouched years of
                # history are never read, shuffled, or rewritten.  The batch
                # is written to a scratch dir FIRST (the batch plan may read
                # `path` itself via {{ this }} / is_incremental(), so an
                # in-place dynamic overwrite would read its own output), then
                # its partition directories swap into place one by one.
                if not parts:
                    raise ValueError(
                        f"insert_overwrite model {model.name!r} needs partition "
                        "columns (table_partition_cols)"
                    )
                tmp = path + ".__new__"
                df.write.mode("overwrite").partitionBy(*parts).parquet(tmp)
                self._swap_partitions(tmp, path)
                shutil.rmtree(tmp, ignore_errors=True)
                spark.catalog.refreshByPath(path)
                out = spark.read.parquet(path)
                out.createOrReplaceTempView(view_name)
                return out
            df = self._incremental_result(spark, model, df, path)
        writer = df.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        # write-then-swap: df may itself read `path` (incremental merge), and
        # an in-place overwrite would clobber its own input mid-scan.
        tmp = path + ".__new__"
        writer.parquet(tmp)
        swap_into_place(tmp, path)
        spark.catalog.refreshByPath(path)
        out = spark.read.parquet(path)
        out.createOrReplaceTempView(view_name)
        return out

    @staticmethod
    def _swap_partitions(src: str, dst: str) -> None:
        """Move every partition directory tree under ``src`` into ``dst``,
        replacing same-valued partitions and leaving the rest of ``dst``
        untouched (the file-level form of dynamic partition overwrite).
        Handles multi-level ``key=value/…`` layouts by recursing until the
        leaf partition level."""

        def is_part_dir(d: str) -> bool:
            return "=" in d

        for entry in os.listdir(src):
            s = os.path.join(src, entry)
            if not os.path.isdir(s) or not is_part_dir(entry):
                continue  # _SUCCESS etc. stay behind
            d = os.path.join(dst, entry)
            sub = [e for e in os.listdir(s) if os.path.isdir(os.path.join(s, e))]
            if sub and all(is_part_dir(e) for e in sub) and os.path.isdir(d):
                Project._swap_partitions(s, d)  # deeper partition level
            else:
                shutil.rmtree(d, ignore_errors=True)
                os.makedirs(os.path.dirname(d), exist_ok=True)
                os.replace(s, d)

    def _incremental_result(
        self, spark: SparkSession, model: Model, batch: DataFrame, path: str
    ) -> DataFrame:
        """Combine the new batch with the existing table.

        - ``append``: existing ∪ batch.
        - ``merge``: upsert by ``unique_key`` — existing rows whose key appears
          in the batch are replaced (left_anti + union), like dbt's merge on a
          warehouse.  The anti join broadcasts the batch's key set when small
          (the common case: one partition of new data vs years of history).

        (``insert_overwrite`` never reaches here — ``_materialize`` swaps
        its partition directories file-level.)
        """
        existing = spark.read.parquet(path)
        batch = batch.select(*existing.columns)  # align positionally-stable
        if model.incremental_strategy == "append":
            return existing.unionByName(batch)
        if not model.unique_key:
            raise ValueError(f"incremental merge model {model.name!r} needs unique_key")
        return merge_upsert(existing, batch, model.unique_key)

    def manifest(self) -> dict:
        """dbt-manifest-equivalent artifact: the full node graph as plain data
        (name, deps, materialization, schema routing, description, tests) in
        topological order — what ``dbt docs generate`` emits as manifest.json
        (reference CI consumes it via dbt Cloud; here it's a dict for any
        downstream tooling/lineage UI)."""
        order = topo_sort(self.models, self.sources)
        return {
            "project": self.name,
            "target": self.target,
            "sources": {
                name: {
                    "description": self.source_meta.get(name, {}).get("description", ""),
                    "columns": self.source_meta.get(name, {}).get("columns", {}),
                }
                for name in sorted(self.sources)
            },
            "nodes": {
                name: {
                    "deps": list(self.models[name].deps),
                    "materialization": self.models[name].materialization.value,
                    "schema": self.schema_for(self.models[name]),
                    "description": self.models[name].description,
                    "columns": dict(self.models[name].columns),
                    "checksum": self.models[name].checksum,
                    "tags": list(self.models[name].tags),
                    "tests": [str(t) for t in self.models[name].tests],
                    "group": self.models[name].group,
                    "access": self.models[name].access,
                    "version": self.models[name].version,
                    "latest_version": (
                        max(self.versions[self.models[name].name])
                        if self.models[name].name in self.versions
                        else None
                    ),
                    "deprecation_date": self.models[name].deprecation_date,
                }
                for name in order
            },
            "execution_order": order,
            "exposures": dict(self.exposures),
        }

    def catalog(self) -> dict:
        """``dbt docs generate``'s catalog.json equivalent: for every BUILT
        relation, the materialized column types plus profile stats — row
        count, per-column non-null count, approx distinct (HLL), and min/max
        for atomic orderable types.

        All of a relation's stats ride ONE aggregate job (a single pass over
        the relation, map-side combined), so cataloging N models costs N
        scans, not N × columns.  At 100 TB, point the profile at a sampled
        or incremental slice if a full pass per relation is too hot —
        approx_count_distinct keeps the pass memory-bounded either way.
        """
        from pyspark.sql import functions as F

        atomic = {
            "string", "boolean", "tinyint", "smallint", "int", "bigint",
            "float", "double", "decimal", "date", "timestamp", "timestamp_ntz",
        }
        nodes: dict[str, dict] = {}
        for name in topo_sort(self.models, self.sources):
            if name not in self.relations:
                continue
            df = self.relations[name]
            aggs = [F.count(F.lit(1)).alias("__rows__")]
            profiled: list[str] = []
            for f in df.schema.fields:
                base = f.dataType.simpleString().split("(")[0]
                if base not in atomic:
                    continue
                c = f.name
                profiled.append(c)
                aggs.append(F.count(F.col(c)).alias(f"nn__{c}"))
                aggs.append(F.approx_count_distinct(F.col(c)).alias(f"ad__{c}"))
                aggs.append(F.min(F.col(c)).cast("string").alias(f"mn__{c}"))
                aggs.append(F.max(F.col(c)).cast("string").alias(f"mx__{c}"))
            row = df.agg(*aggs).first().asDict()
            nodes[name] = {
                "stats": {"row_count": row["__rows__"]},
                "columns": {
                    f.name: {
                        "index": i,
                        "type": f.dataType.simpleString(),
                        "stats": (
                            {
                                "non_null": row[f"nn__{f.name}"],
                                "approx_distinct": row[f"ad__{f.name}"],
                                "min": row[f"mn__{f.name}"],
                                "max": row[f"mx__{f.name}"],
                            }
                            if f.name in set(profiled)
                            else {}
                        ),
                    }
                    for i, f in enumerate(df.schema.fields)
                },
            }
        return {"project": self.name, "nodes": nodes}

    def write_artifacts(
        self,
        directory: str,
        test_results: dict[str, list[TestResult]] | None = None,
        with_catalog: bool = False,
        with_docs_site: bool = False,
    ) -> None:
        """dbt's ``target/`` artifacts: ``manifest.json`` (the node graph +
        docs metadata) and ``run_results.json`` (per-node status and timing
        from the last :meth:`build`, plus per-test statuses) — the files
        downstream tooling (lineage UIs, CI gates, freshness monitors)
        consumes.  ``with_catalog`` additionally writes ``catalog.json``
        (per-relation column types + one-pass profile stats, the ``dbt docs
        generate`` artifact).  ``with_docs_site`` renders the artifacts into
        a browsable ``index.html`` next to them — the ``dbt docs serve``
        surface (reference README.md workflow), driver-side string
        formatting only."""
        import json

        os.makedirs(directory, exist_ok=True)
        with open(os.path.join(directory, "manifest.json"), "w") as fh:
            json.dump(self.manifest(), fh, indent=2, default=str)
        if with_catalog:
            with open(os.path.join(directory, "catalog.json"), "w") as fh:
                json.dump(self.catalog(), fh, indent=2, default=str)
        entries = [
            {"unique_id": f"model.{self.name}.{n}", **res}
            for n, res in self.last_run_results.items()
        ]
        for model_name, rs in (test_results or {}).items():
            for r in rs:
                entries.append(
                    {
                        "unique_id": f"test.{self.name}.{model_name}.{r.test}",
                        "status": r.status,
                        "failures": r.failures,
                    }
                )
        with open(os.path.join(directory, "run_results.json"), "w") as fh:
            json.dump({"results": entries}, fh, indent=2, default=str)
        if with_docs_site:
            from .docs_site import write_docs_site

            write_docs_site(directory)

    def clone_from(self, other: "Project", select: Iterable[str] | None = None) -> list[str]:
        """``dbt clone``: bring another target's BUILT relations into this
        project without rebuilding them.

        Views/ephemerals are pointer copies (Catalyst logical plans cost
        nothing to share); table-backed relations stay zero-copy — the clone
        reads the other target's parquet location read-only (Spark's parquet
        tables have no metadata-layer shallow copy, so sharing the files is
        the honest equivalent; a subsequent :meth:`build` of the same name in
        THIS project materializes into this project's own warehouse and
        leaves the source untouched).  Model definitions ride along so a
        follow-up subset build (slim CI: clone prod, rebuild only
        ``state:modified+``) can layer on the clones via ``ref``.
        """
        names = list(select) if select is not None else list(other.relations)
        missing = [n for n in names if n not in other.relations]
        if missing:
            raise KeyError(f"cannot clone unbuilt relations {missing}")
        for n in names:
            self.relations[n] = other.relations[n]
            if n in other.models and n not in self.models:
                self.models[n] = other.models[n]
        return names

    def drop_warehouse(self) -> None:
        shutil.rmtree(self.warehouse_dir, ignore_errors=True)


def _edges(models: dict[str, "Model"]) -> tuple[dict[str, set[str]], dict[str, set[str]]]:
    parents: dict[str, set[str]] = {}
    children: dict[str, set[str]] = {}
    for name, m in models.items():
        deps = {d for d in m.deps if d in models}  # model->model edges only
        parents[name] = deps
        for d in deps:
            children.setdefault(d, set()).add(name)
    return parents, children


def select_nodes(models: dict[str, "Model"], expr: str) -> set[str]:
    """dbt node-selection syntax: ``model``, ``+model`` (model and every
    ancestor), ``model+`` (and every descendant), ``+model+`` (both), and
    the ``tag:<name>`` method (every model carrying the tag, composable
    with the same +-operators).  Returns model names only — sources are
    always available and need no selection."""
    want_anc = expr.startswith("+")
    want_desc = expr.endswith("+")
    name = expr.strip("+")
    if name.startswith("tag:"):
        tag = name[len("tag:") :]
        base = {n for n, m in models.items() if tag in m.tags}
        if not base:
            raise KeyError(f"no model carries tag {tag!r} (selector {expr!r})")
    else:
        if name not in models:
            raise KeyError(f"unknown model {name!r} in selector {expr!r}")
        base = {name}
    parents, children = _edges(models)

    def walk(start: str, graph: dict[str, set[str]]) -> set[str]:
        out, stack = set(), [start]
        while stack:
            for nxt in graph.get(stack.pop(), ()):
                if nxt not in out:
                    out.add(nxt)
                    stack.append(nxt)
        return out

    selected = set(base)
    for name in base:
        if want_anc:
            selected |= walk(name, parents)
        if want_desc:
            selected |= walk(name, children)
    return selected
