"""The registry order is the verification order: each verification run
oracle-checks only the first 50 entries of ``queries()``.  These checks
pin the ordering rule at the end of ``harness.py`` against the committed
``CORRECTNESS_r<N>.json`` verdict files, without starting Spark."""

import hashlib
import json
from pathlib import Path

from dbt_trill_shop_spark import harness

REPO = Path(__file__).resolve().parents[1]
WINDOW = 50
REFERENCE_MODELS = [
    "stg_top_terms", "stg_top_rising_terms", "stg_international_top_terms",
    "stg_international_top_rising_terms", "weekly_trends_summary",
    "top_terms_comparison", "trending_terms_analysis",
]
# sha256 of the sorted registered names joined by newlines.  The names are
# a contract with the caller of ``queries()``: change this only when a
# query is added on purpose.
NAMES_SHA256 = "8630b4987371c2c9078a410883cb0a2217bbc8e6276961fa9746eba2ebd8a70d"


def _verdicts() -> dict[int, dict]:
    out = {}
    for path in REPO.glob("CORRECTNESS_r*.json"):
        tag = path.stem.removeprefix("CORRECTNESS_r")
        if tag.isdigit():
            out[int(tag)] = json.loads(path.read_text())
    return out


def _green(row: dict) -> bool:
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and row.get("err") is None
    )


def _latest_green() -> dict[str, int]:
    latest: dict[str, int] = {}
    for rnd, rows in _verdicts().items():
        for name, row in rows.items():
            if _green(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _leading() -> list[str]:
    latest = _latest_green()
    return [
        n for n in harness.queries()
        if harness._CHANGED_IN_ROUND.get(n, 0) > latest.get(n, 0)
    ]


def test_registry_is_the_same_name_set():
    names = list(harness.queries())
    assert len(names) == len(set(names)) == 337
    digest = hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()
    assert digest == NAMES_SHA256
    assert set(harness.oracle_sql()) == set(names)


def test_reference_models_lead():
    assert list(harness.queries())[:7] == REFERENCE_MODELS


def test_changed_map_names_registered_queries():
    assert set(harness._CHANGED_IN_ROUND) <= set(harness.queries())


def test_changed_queries_follow_the_reference_models():
    names = list(harness.queries())
    leading = _leading()
    assert names[7:7 + len(leading)] == leading
    assert 7 + len(leading) <= WINDOW


def test_rest_runs_oldest_verdict_first():
    latest = _latest_green()
    rest = list(harness.queries())[7 + len(_leading()):]
    rounds = [latest.get(n, 0) for n in rest]
    assert rounds == sorted(rounds)


def test_window_holds_every_unverified_change():
    verdicts = _verdicts()
    newest = verdicts[max(verdicts)]
    latest = _latest_green()
    window = set(list(harness.queries())[:WINDOW])
    missing = [
        n for n, rnd in harness._CHANGED_IN_ROUND.items()
        if not (n in newest and _green(newest[n])) and rnd > latest.get(n, 0)
    ]
    assert not [n for n in missing if n not in window]
