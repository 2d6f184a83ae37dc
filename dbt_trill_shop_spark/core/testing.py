"""Declarative data tests — the reference's entire correctness surface.

The reference uses exactly two generic test types (SURVEY.md §5): ``not_null``
(59 instances, e.g. ``models/staging/stg_top_terms.yml:7-8``) and
``accepted_values`` (9 instances, e.g. ``models/marts/top_terms_comparison.yml:9-10``).
dbt compiles each to a SELECT returning violating rows; >0 rows = FAIL
(SURVEY.md §3.3).

We add the dbt_utils-style tests the project declares but never uses
(``packages.yml:1-7``): ``unique``, ``unique_combination_of_columns``,
``accepted_range``, ``relationships``, plus dbt's test *config* surface:
``severity`` (``warn`` | ``error``), ``warn_if`` / ``error_if`` count
thresholds, and ``store_failures`` (violations persisted for audit) — the
dbt-core knobs a real project sets in its schema YAML.

Scale posture: a model's row-level tests (``not_null``, ``accepted_values``,
``accepted_range``, ``finite``, configured or not) are each one boolean
violation condition, so :func:`run_model_tests` counts all of them in ONE
fused aggregate over the relation (``count_if`` per test) — one scan, and one
re-derivation of a staging view, instead of one probe job per test.  Set-level
tests (``unique``, ``unique_combination``, ``relationships``) need a grouping
or a join, so each takes its count from ``violations(df).count()``.  Every
result carries the exact violation count; ``sample_limit`` rows are collected
only on non-pass, for diagnostics.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class DataTest(Protocol):
    def violations(self, df: DataFrame) -> DataFrame: ...

    def describe(self) -> str: ...


class RowTest:
    """A test whose violations are exactly the rows matching one boolean
    ``condition()``, so it can be counted inside the model's fused
    aggregate."""

    def condition(self) -> Column:
        raise NotImplementedError

    def violations(self, df: DataFrame) -> DataFrame:
        return df.filter(self.condition())


@dataclass(frozen=True)
class NotNull(RowTest):
    column: str

    def condition(self) -> Column:
        return F.col(self.column).isNull()

    def describe(self) -> str:
        return f"not_null({self.column})"


@dataclass(frozen=True)
class AcceptedValues(RowTest):
    column: str
    values: tuple = ()

    def condition(self) -> Column:
        # dbt compiles this to `where col not in (...)`; NULLs are not
        # violations of accepted_values (they're not_null's job).
        c = F.col(self.column)
        return c.isNotNull() & ~c.isin(list(self.values))

    def describe(self) -> str:
        return f"accepted_values({self.column} in {list(self.values)})"


@dataclass(frozen=True)
class AcceptedRange(RowTest):
    column: str
    min_value: float | None = None
    max_value: float | None = None
    inclusive: bool = True

    def condition(self) -> Column:
        c = F.col(self.column)
        cond: Column = F.lit(False)
        if self.min_value is not None:
            cond = cond | (c < self.min_value if self.inclusive else c <= self.min_value)
        if self.max_value is not None:
            cond = cond | (c > self.max_value if self.inclusive else c >= self.max_value)
        return c.isNotNull() & cond

    def describe(self) -> str:
        return f"accepted_range({self.column} in [{self.min_value}, {self.max_value}])"


@dataclass(frozen=True)
class Finite(RowTest):
    """Floating-point hygiene gate: NaN and ±Infinity in a measure column.

    The engine's money/measure arithmetic uses the int64 micro-unit cast
    (``CAST(ROUND(x * 100) AS BIGINT)``), which under ANSI mode FAILS
    LOUDLY on non-finite doubles mid-job — by design: silently coercing a
    poisoned price corrupts aggregates.  This test is the up-front gate
    that names the column and rows instead, so corrupt loads are caught at
    `engine test` time rather than as a CAST_OVERFLOW stack three stages
    deep (the r6 degenerate-input sweep measured that failure shape across
    41 queries on a NaN-poisoned twin).
    """

    column: str

    def condition(self) -> Column:
        c = F.col(self.column)
        return c.isNotNull() & (F.isnan(c) | (F.abs(c) == float("inf")))

    def describe(self) -> str:
        return f"finite({self.column})"


@dataclass(frozen=True)
class Unique:
    column: str

    def violations(self, df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col(self.column).isNotNull())
            .groupBy(self.column)
            .count()
            .filter(F.col("count") > 1)
        )

    def describe(self) -> str:
        return f"unique({self.column})"


@dataclass(frozen=True)
class UniqueCombination:
    columns: tuple[str, ...]

    def violations(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.columns).count().filter(F.col("count") > 1)

    def describe(self) -> str:
        return f"unique_combination({','.join(self.columns)})"


@dataclass(frozen=True)
class Relationships:
    """FK test: every non-null value of ``column`` exists in ``to`` (an
    anti-join — broadcast the parent side when it is a dimension)."""

    column: str
    to: DataFrame = field(compare=False, hash=False)
    to_column: str = ""

    def violations(self, df: DataFrame) -> DataFrame:
        parent = self.to.select(F.col(self.to_column).alias("__pk")).distinct()
        return (
            df.filter(F.col(self.column).isNotNull())
            .join(F.broadcast(parent), on=F.col(self.column) == F.col("__pk"), how="left_anti")
        )

    def describe(self) -> str:
        return f"relationships({self.column} -> {self.to_column})"


@dataclass(frozen=True)
class TestConfig:
    """dbt test config block (schema YAML ``config:``): severity routing and
    count thresholds.  ``warn_if`` / ``error_if`` are dbt threshold strings
    (``">0"``, ``">=100"``, ``"!=0"`` ...) evaluated against the violation
    count."""

    severity: str = "error"  # "error" | "warn"
    warn_if: str = ">0"
    error_if: str = ">0"
    store_failures: bool = False


_THRESHOLD_RE = re.compile(r"^\s*(>=|<=|!=|=|>|<)\s*(-?\d+)\s*$")


def eval_threshold(expr: str, count: int) -> bool:
    m = _THRESHOLD_RE.match(expr)
    if not m:
        raise ValueError(f"bad threshold expression {expr!r}")
    op, n = m.group(1), int(m.group(2))
    return {
        ">": count > n,
        ">=": count >= n,
        "<": count < n,
        "<=": count <= n,
        "=": count == n,
        "!=": count != n,
    }[op]


@dataclass(frozen=True)
class ConfiguredTest:
    """A generic test with a non-default dbt config attached."""

    test: DataTest
    config: TestConfig

    def violations(self, df: DataFrame) -> DataFrame:
        return self.test.violations(df)

    def describe(self) -> str:
        return self.test.describe()


@dataclass
class TestResult:
    model: str
    test: str
    passed: bool  # True unless status == "error" (dbt: warn is still a pass)
    sample: list | None = None
    status: str = "pass"  # "pass" | "warn" | "error"
    failures: int = 0  # exact violation count, as dbt's run_results.json


_DEFAULT_CONFIG = TestConfig()


def _evaluate(
    t, df: DataFrame, n: int, model_name: str, sample_limit: int, store_dir: str | None
) -> TestResult:
    """Route test ``t``'s violation count ``n`` through dbt's status rules."""
    cfg = t.config if isinstance(t, ConfiguredTest) else _DEFAULT_CONFIG
    v = t.violations(df)
    # dbt status routing: error_if fires only under severity=error; warn_if
    # can fire under either severity.
    if cfg.severity == "error" and eval_threshold(cfg.error_if, n):
        status = "error"
    elif eval_threshold(cfg.warn_if, n):
        status = "warn"
    else:
        status = "pass"
    sample = None
    if status != "pass":
        sample = [r.asDict() for r in v.limit(sample_limit).collect()]
    if cfg.store_failures and store_dir and n > 0:
        safe = re.sub(r"[^A-Za-z0-9_]+", "_", t.describe())[:120]
        v.write.mode("overwrite").parquet(os.path.join(store_dir, f"{model_name}__{safe}"))
    return TestResult(model_name, t.describe(), status != "error", sample, status, n)


def _row_test(t) -> RowTest | None:
    inner = t.test if isinstance(t, ConfiguredTest) else t
    return inner if isinstance(inner, RowTest) else None


def run_model_tests(
    df: DataFrame,
    tests: list[DataTest],
    model_name: str,
    sample_limit: int = 5,
    store_dir: str | None = None,
) -> list[TestResult]:
    """Count every test's violations — all row-level tests in one fused
    aggregate, each set-level test by its own count — then route each
    count through the test's config."""
    fused = [_row_test(t) for t in tests]
    conds = [F.count_if(r.condition()).alias(f"t{i}") for i, r in enumerate(fused) if r]
    row = df.agg(*conds).collect()[0] if conds else None
    return [
        _evaluate(
            t,
            df,
            row[f"t{i}"] if r else t.violations(df).count(),
            model_name,
            sample_limit,
            store_dir,
        )
        for i, (t, r) in enumerate(zip(tests, fused))
    ]
