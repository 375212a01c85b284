"""Central registry mapping query name -> (Spark builder, DuckDB oracle).

The driver contract (``__spark_entry__.py``) needs ``queries()`` and
``oracle_sql()`` dicts whose column names match exactly — the comparator
sorts columns by name before hashing values.  Keeping both halves of each
pair side by side in one ``@query`` registration makes that invariant
reviewable locally (``tests/test_oracle_parity.py`` runs the same
comparison as the driver).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    # Round in which the query was registered: the QUERIES.md column.
    wave: int = 2


QUERIES: dict[str, QuerySpec] = {}


def _green_round_map(root: str | None = None) -> dict[str, int]:
    """Name -> LATEST driver round (parsed from the record filename)
    with a fully-green row, across every ``CORRECTNESS_r*.json`` the
    driver has written so far (repo root).  Reading the record files
    directly makes the rotation self-maintaining: each round's newly
    proven queries automatically drop to the back of the next round's
    grading window without anyone editing a frozen set — and
    ``tests/test_queries_md.py`` regenerates QUERIES.md from this same
    union, so the board self-heals too.

    ``root`` overrides the record directory (tests inject a tmp dir
    with synthetic record files to pin the rotation's behavior for
    future rounds)."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            # a glob match without a parseable round (CORRECTNESS_rX.json)
            # must not mark its names green at round 0 (ADVICE r10)
            continue
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        rnd = int(m.group(1))
        for name, row in rows.items():
            # rows_match must be affirmatively True (a malformed/empty
            # row dict must NOT count as proven — it would silently drop
            # the query to the back of every future grading window);
            # schema/hash may be None only for rows-only checks.
            if (
                isinstance(row, dict)
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and row.get("err") is None
            ):
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def _driver_proven(root: str | None = None) -> frozenset[str]:
    """Names with a fully-green row in ANY ``CORRECTNESS_r*.json`` so
    far (see ``_green_round_map``)."""
    return frozenset(_green_round_map(root))


def grading_order(
    queries: dict[str, QuerySpec], last_green: dict[str, int] | None = None
) -> list[str]:
    """Registry names ordered for the driver's capped grading window:
    STALEST driver grade first (VERDICT r9 #1: keyed on the last round
    each query was driver-green, so every query gets re-proven every
    ~4-5 rounds), never-green names (round 0) leading, registration
    order on ties.  ``last_green`` overrides the record-file scan (for
    tests)."""
    if last_green is None:
        last_green = _green_round_map()
    # sorted() is stable: on equal rounds, registration order holds.
    return sorted(queries, key=lambda name: last_green.get(name, 0))


def query(
    name: str, oracle: str | None = None, wave: int = 2
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, wave=wave
        )
        return fn

    return wrap
