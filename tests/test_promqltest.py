"""Run the promqltest-format corpus slice (tests/promqltest/*.test) — the
reference's correctness bar is the full upstream corpus run through this
exact format (reference db/db_test.go:53-71)."""

from __future__ import annotations

import glob
import os

import pytest

from tests.conftest import make_samples
from tests.promqltest_runner import parse_test, run_script

_DIR = os.path.join(os.path.dirname(__file__), "promqltest")
_FILES = sorted(glob.glob(os.path.join(_DIR, "*.test")))

# Default-run smoke slice: one broad file per area (selectors/matching,
# counter/rate edges, subqueries, @-modifier, staleness, histogram rate,
# aggregation naming, limit/limitk, operators, literals) inside the pytest
# budget.  The FULL corpus stays collected, slow-marked — run it with
# `python -m pytest -m "" tests/test_promqltest.py` (see pytest.ini).
_SMOKE = {
    "literals.test", "matching.test", "subquery.test", "at_modifier.test",
    "staleness.test", "counter_edges.test", "histogram_rate_range.test",
    "limit.test", "operators_ext.test", "agg_name_semantics.test",
}
_PARAMS = [p if os.path.basename(p) in _SMOKE
           else pytest.param(p, marks=pytest.mark.slow)
           for p in _FILES]


# Served-mode slice: the same files run with deterministic=False, the
# native aggregation the server runs, which must meet the same upstream
# semantics.  These pin cross-series aggregation, quantile's NaN-first
# rank order included, and subqueries (nested, and under @).
_SERVED = ["gen_nan_agg.test", "agg_edges.test", "gen_agg_range.test",
           "gen_nested_subq.test", "at_subquery.test"]


def _run_file(spark, path, deterministic=True):
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    with open(path) as f:
        script = parse_test(f.read())
    assert script.evals, f"no eval cases parsed from {path}"
    failures = run_script(spark, script, make_samples, PromQLEngine,
                          deterministic=deterministic)
    assert not failures, f"{len(failures)} failures:\n" + "\n".join(failures)


@pytest.mark.parametrize("path", _PARAMS,
                         ids=[os.path.basename(p) for p in _FILES])
def test_promqltest_corpus(spark, path):
    _run_file(spark, path)


@pytest.mark.parametrize("name", _SERVED)
def test_promqltest_served_mode(spark, name):
    _run_file(spark, os.path.join(_DIR, name), deterministic=False)


def test_series_spec_brace_in_quoted_string():
    """A quoted UTF-8 label name/value may contain '}' (legal Prometheus 3
    series notation) — the spec scanner must find the REAL close brace."""
    from tests.promqltest_runner import parse_series_id

    labels, rest = parse_series_id('m{"l}x"="v}w", a="b"} 1 2 3')
    assert labels == {"__name__": "m", "l}x": "v}w", "a": "b"}
    assert rest == "1 2 3"
    labels, rest = parse_series_id('{"na{me}", x="y"} 5')
    assert labels == {"__name__": "na{me}", "x": "y"} and rest == "5"
    # escaped quote inside a value containing a brace
    labels, rest = parse_series_id(r'm{a="q\"}z"} 7')
    assert labels == {"__name__": "m", "a": 'q"}z'} and rest == "7"
