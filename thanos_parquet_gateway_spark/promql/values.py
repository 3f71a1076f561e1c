"""Runtime value types of the PromQL→DataFrame compiler.

PromQL's value taxonomy (scalar / instant vector / range vector / string) is
represented as DataFrames with fixed column layouts; Spark's lazy evaluation
plays the role of the reference's lazy series sets (db/seriesset.go:58-111).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame


@dataclass
class EvalParams:
    start_ms: int
    end_ms: int
    step_ms: int
    lookback_ms: int = 300_000  # reference default (api/http/query.go:160)
    deterministic: bool = False  # order-stable folds for oracle comparison
    subquery_step_ms: int = 60_000
    # @ start()/end() anchors: upstream PREPROCESSES these against the
    # top-level query range (promql engine.go setOffsetForAtModifier path),
    # so a subquery's inner compiler must resolve them against the OUTER
    # query, not its own inner grid.  None = this IS the top-level query
    # (anchors are start_ms/end_ms themselves).
    at_start_ms: int | None = None
    at_end_ms: int | None = None

    @property
    def anchor_start_ms(self) -> int:
        return self.start_ms if self.at_start_ms is None else self.at_start_ms

    @property
    def anchor_end_ms(self) -> int:
        return self.end_ms if self.at_end_ms is None else self.at_end_ms


@dataclass
class InstantVector:
    """df: (t long, sig string, labels map<string,string>,
            sample_ts long nullable, value double)"""

    df: DataFrame


class RangeVector:
    """df: (t long, sig string, labels map<string,string>, ts long, value double)
    — all samples in (t - range, t] per step t.

    ``prev``: twin of ``df`` carrying two extra columns per sample —
    ``__pv`` / ``__pts``, the value/ts of the series' PREVIOUS sample (lag
    over (sig, ts), computed BEFORE the step grid explode so the samples
    are shuffled once, un-replicated); histogram-carrying windows add
    ``__ph`` (previous hist) and ``__nts`` (next ts).  With the predecessor
    attached, window math over consecutive pairs (counter resets,
    transitions, the last two samples) and first/last selection become
    plain native aggregations instead of a collect_list fold.  Every range
    vector has one: ``Compiler._range_window`` builds both variants for
    matrix selectors and subqueries, with and without ``@``.

    ``df`` and ``prev`` are passed as zero-arg thunks: each consumer uses
    exactly one of the two variants, and building the unused one is pure
    driver latency (every classic-mode DataFrame op eagerly re-analyzes the
    whole accumulated plan on the JVM).  The thunk is forced and cached on
    first attribute access; the declared ``columns`` let hist-dispatch
    checks run without forcing anything."""

    def __init__(self, df: Callable[[], DataFrame], range_ms: int,
                 prev: Callable[[], DataFrame], columns: list[str]):
        self._make_df = df
        self._make_prev = prev
        self.range_ms = range_ms
        self.columns = columns

    @cached_property
    def df(self) -> DataFrame:
        return self._make_df()

    @cached_property
    def prev(self) -> DataFrame:
        return self._make_prev()


@dataclass
class ScalarV:
    """Time-dependent scalar: df (t long, value double); literal scalars are
    kept as plain Python floats until they must materialize."""

    df: DataFrame


@dataclass
class StringV:
    value: str
