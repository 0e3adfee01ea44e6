"""Session-scoped build-once caches for expensive shared artifacts.

Five artifacts follow the same production build/query split (an offline
stage builds a model / index / pair table; many queries read it): the LR
fraud scorer, the KMeans centroids, the near-dup pair graph, its
connected components, and the contamination gram index. Each caches its
build keyed on ``(applicationId, ...)`` so nothing leaks across Spark
sessions, and evicts entries from dead applications so long-lived
drivers that cycle sessions don't accumulate unreachable handles.

One helper instead of five hand-rolled copies: any future change to the
eviction rule (size bound, thread-safety) lands in exactly one place.
`session_tmp_dir` puts the one-off source materializations (csv/orc/xml
copies, partitioned and bucketed layouts, rollup tables) on the same rule.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def session_cached(cache: dict, key: tuple, build: Callable[[], T]) -> T:
    """Get-or-build ``cache[key]``; ``key[0]`` MUST be the live Spark
    applicationId — entries from other (dead) applications are evicted
    on every build."""
    got = cache.get(key)
    if got is None:
        got = build()
        for k in [k for k in cache if k[0] != key[0]]:
            del cache[k]
        cache[key] = got
    return got


_TMP_DIRS: dict[tuple[str, str, str], str] = {}


def session_tmp_dir(
    spark: SparkSession, sf_dir: str, prefix: str, build: Callable[[str], None]
) -> str:
    """Get-or-build the `prefix` fixture dir for (session, sf_dir):
    `build(d)` writes the fixture into a fresh temp dir, removed at
    interpreter exit. `prefix` names the fixture in the cache key."""
    from .streaming.replay import temp_dir

    def make() -> str:
        d = temp_dir(prefix)
        build(d)
        return d

    key = (spark.sparkContext.applicationId, prefix, sf_dir)
    return session_cached(_TMP_DIRS, key, make)
