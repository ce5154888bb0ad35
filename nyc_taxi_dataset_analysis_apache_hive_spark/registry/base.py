"""Registry plumbing: the QUERIES/ORACLES dicts, the @register
decorator (wraps every entry in apply_runtime_confs), and the shared
table loader.  The per-domain entry modules import from here and
register on import; the package __init__ fixes their load order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import apply_runtime_confs
from ..sources.readers import load_table

Query = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Query] = {}
ORACLES: dict[str, str] = {}

#: Per-entry leg declarations (r15): entry name -> (tag_column,
#: (leg_value, ...)) for every tagged-union entry -- entries whose
#: result stacks several independently-built DataFrames distinguished
#: by a literal string tag in the FIRST column.  bench.py uses this to
#: time each leg separately: filtering the entry on ``tag == leg``
#: constant-folds the other union branches away (Catalyst pushes the
#: predicate into each branch, where it meets the branch's F.lit tag
#: and PruneFilters drops the branch), so the per-leg collect measures
#: ONLY that leg's subtree -- a single-leg regression can no longer
#: hide inside a wide multi-leg entry band.  Shared artifacts (eager
#: checkpoints, index training) execute when the entry FUNCTION is
#: called, before any filter, so they land in the per-entry "build"
#: timing, not in any leg.  tests/test_bench_legs.py pins (a) that the
#: declared legs exactly match the distinct tag values at sf0.001 and
#: (b) that the branch pruning actually holds (no Union survives a
#: single-leg filter).
LEGS: dict[str, tuple[str, tuple[str, ...]]] = {}

#: Exceptions to the tag-filter protocol (r15): entries that eagerly
#: materialize their whole union at build time (k2 localCheckpoints the
#: five-method table before fusing), where filtering the returned
#: DataFrame would time a checkpoint read, not the leg.  Maps entry
#: name -> builder(spark, sf_dir) returning an ORDERED {leg: thunk}
#: dict; bench.py calls the thunks in order and times thunk()+collect
#: per leg.  A thunk owns all its eager work (training, checkpoints),
#: so the timing attributes shared/SF-invariant costs to the leg that
#: pays them.  Leg names must equal the entry's LEGS declaration
#: (pinned by tests/test_bench_legs.py).
LEG_BUILDERS: dict[str, Callable] = {}


def register_legs(
    name: str, tag: str, legs: tuple[str, ...], builder: Callable | None = None
) -> None:
    if name in LEGS:
        raise ValueError(f"legs already declared for {name}")
    LEGS[name] = (tag, legs)
    if builder is not None:
        LEG_BUILDERS[name] = builder


def register(name: str, oracle: str):
    def deco(fn: Query) -> Query:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        ORACLES[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


