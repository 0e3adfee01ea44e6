"""Aggregates every registered query across plan modules.

Contract (driver's __spark_entry__): each query name maps to a callable
(spark, sf_dir) -> DataFrame, and — when SQL-expressible — to an ANSI-SQL
oracle string DuckDB runs over the same parquet tables. Column names/types
are aligned on both sides; doubles produced by aggregation are rounded
identically so float-summation order cannot flip the value hash.
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]


def registrar():
    """One plan module's `(QUERIES, ORACLES, register)`: `@register(name,
    sql)` adds the query and, when SQL-expressible, its DuckDB oracle."""
    queries: dict[str, Query] = {}
    oracles: dict[str, str] = {}

    def register(name: str, sql: str | None = None):
        def deco(fn: Query) -> Query:
            queries[name] = fn
            if sql is not None:
                oracles[name] = sql
            return fn

        return deco

    return queries, oracles, register


class EventsRule(NamedTuple):
    """One mergeable rule over one source table, shared by a batch query
    and its streaming twin. `cols(t)` projects `table` (default
    `events`), where `t` is the epoch-second column
    `sources.tables.event_seconds` (only `events` rules use it);
    `reduce(frame)` maps a frame of those columns to associative
    partials. The batch query reduces `events_projection(.., cols,
    table)` once; the twin reduces each replayed micro-batch of the same
    projection (`streaming_queries._replay_events`) and merges the
    partials."""

    cols: Callable[[Column], list]
    reduce: Callable[[DataFrame], DataFrame]
    table: str = "events"


def _modules():
    from . import (
        advanced,
        analytics,
        llmops,
        relational,
        relational2,
        relational3,
        streaming_queries,
        timeseries,
    )

    return [
        analytics, relational, relational2, relational3,
        timeseries, llmops, advanced, streaming_queries,
    ]


# The driver value-hashes only the first ~50 registered queries, so the
# registry order decides what it re-validates each round. That order is
# derived from the committed driver artifacts (CORRECTNESS_r{N}.json in the
# checkout root): never-checked rows first, then rows whose newest driver
# row was red, then rows rewritten since their last driver hash, then the
# rest by ascending last-checked round (stalest vintage first). Ties break
# by family coverage order — q* (dashboard), s* (streaming), u* (UDF),
# m* (MLlib), l* (LLM ops), r* (relational) — then by name.
_FAMILY_RANK = {"q": 0, "s": 1, "u": 2, "m": 3, "l": 4, "r": 5}
_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")
# The checkout root, found from this file so the driver's cwd can differ.
_ROOT = Path(__file__).resolve().parents[2]


@functools.cache
def _load_rotation(root: Path) -> tuple[dict[str, int], frozenset[str]]:
    """Replay root's CORRECTNESS_r{N}.json files in round order. Returns
    each query key's newest round with a driver row, and the keys whose
    newest row is red (no hash match; a ``no_oracle`` rows-only row counts
    as checked). No artifacts -> every row ranks never-checked."""
    rounds = {
        int(m.group(1)): p
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := _ARTIFACT.fullmatch(p.name))
    }
    last: dict[str, int] = {}
    red: set[str] = set()
    for rnd in sorted(rounds):
        for name, row in json.loads(rounds[rnd].read_text()).items():
            key = name.split("_", 1)[0]
            last[key] = rnd
            if row.get("hash_match") is True or row.get("err") == "no_oracle":
                red.discard(key)
            else:
                red.add(key)
    return last, frozenset(red)


# Query key -> newest CORRECTNESS round its current code postdates. A row
# ranks as rewritten while its last driver check is <= that round, so the
# first artifact that re-hashes it clears it with no edit here. Add an
# entry whenever a query's computation changes — including through a
# shared operator (l71's joins live in operators/dedup).
_REWRITTEN: dict[str, int] = {
    "l71": 12,
    "l68": 13, "r91": 13, "s47": 13,
    # sink-merge twins moved onto the shared _partial_replay path
    "s26": 13, "s28": 13, "s30": 13, "s31": 13, "s33": 13, "s37": 13,
    "s38": 13, "s39": 13, "s42": 13, "s44": 13, "s46": 13, "s48": 13,
    "s49": 13,
    # twins moved onto the shared replay_foreach_batch lifecycle
    "s23": 13, "s27": 13, "s34": 13, "s35": 13, "s36": 13, "s40": 13,
    "s41": 13, "s45": 13,
    # batch rows whose query now runs its twin's EventsRule form
    "m59": 13, "m60": 13, "m61": 13, "m64": 13, "m65": 13, "m66": 13,
    "m67": 13, "m68": 13, "m71": 13, "m73": 13, "m78": 13,
    # batch rows moved onto an EventsRule whose plan changed (r121
    # composes r108), and s51, whose band now tests the raw amount
    "r108": 13, "r114": 13, "r119": 13, "m42": 13, "m79": 13, "l98": 13,
    "r121": 13, "s51": 13,
}


def _registry_order(name: str) -> tuple[float, int, str]:
    last_checked, red = _load_rotation(_ROOT)
    key = name.split("_", 1)[0]
    # Never-checked -> 0; last-seen-red -> 0.5; rewritten since its last
    # driver hash -> 0.75; else the last-checked round.
    rank: float = last_checked.get(key, 0)
    if rank and key in red:
        rank = 0.5
    elif rank and rank <= _REWRITTEN.get(key, 0):
        rank = 0.75
    return rank, _FAMILY_RANK.get(name[0], 9), name


def all_queries() -> dict[str, Query]:
    out: dict[str, Query] = {}
    for mod in _modules():
        out.update(getattr(mod, "QUERIES", {}))
    return {k: out[k] for k in sorted(out, key=_registry_order)}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(getattr(mod, "ORACLES", {}))
    return {k: out[k] for k in sorted(out, key=_registry_order)}
