"""Aggregates every registered query across plan modules.

Contract (driver's __spark_entry__): each query name maps to a callable
(spark, sf_dir) -> DataFrame, and — when SQL-expressible — to an ANSI-SQL
oracle string DuckDB runs over the same parquet tables. Column names/types
are aligned on both sides; doubles produced by aggregation are rounded
identically so float-summation order cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]


def _modules():
    from . import analytics

    mods = [analytics]
    for name in (
        "relational",
        "relational2",
        "relational3",
        "timeseries",
        "llmops",
        "advanced",
        "streaming_queries",
    ):
        try:
            mods.append(__import__(f"{__package__}.{name}", fromlist=[name]))
        except ImportError:
            pass
    return mods


# The driver's correctness harness checks queries in registration order and
# may cap how many it runs (rounds 1-2 stopped at 50). Queries that have
# never received a driver CORRECTNESS row sort FIRST (grouped by family) so
# the capped window always reaches every new query; already-driver-green
# queries fill the remaining slots in family coverage order — q* (dashboard),
# s* (streaming), u* (UDF), m* (MLlib), l* (LLM ops), then the r* relational
# tail. Local oracle-parity tests keep pinning whatever waits outside the
# window (r01-r43 were driver-green in rounds 1-2).
_FAMILY_RANK = {"q": 0, "s": 1, "u": 2, "m": 3, "l": 4, "r": 5}

# Which driver round last produced a CORRECTNESS row for each query
# (union of CORRECTNESS_r01..r05, synced round 6 per the round-5 verdict).
# Queries added SINCE the last sync are deliberately ABSENT — the
# .get(..., 0) default ranks them never-checked so they sort first; do
# NOT add a query here until a CORRECTNESS_r{N}.json actually contains
# its row. Ordering below rotates the STALEST
# driver rows back through the ~50-query window each round: never-checked
# queries sort first (so new work is always validated), then queries by
# ascending last-checked round (so round-1-vintage rows get re-validated on
# current code before fresher ones). r62 missed round 3's window because
# the predecessor of this map went stale — update it every round from the
# latest CORRECTNESS_r{N}.json.
_CHECKED_R1 = {f"r{i:02d}" for i in range(17, 44)}
_CHECKED_R2 = (
    {f"q{i}" for i in range(1, 8)}
    | {f"s{i:02d}" for i in range(1, 6)}
    | {f"u{i:02d}" for i in range(1, 6)}
    | {"m01"}
    | {f"l{i:02d}" for i in range(1, 17)}
    | {f"r{i:02d}" for i in range(1, 17)}
)
_CHECKED_R3 = (
    {f"s{i:02d}" for i in range(6, 18)}
    | {f"u{i:02d}" for i in range(6, 10)}
    | {"m02"}
    | {f"l{i:02d}" for i in range(17, 32)}
    | {f"r{i:02d}" for i in range(44, 62)}
)
_CHECKED_R4 = (
    {"q8"}
    | {f"s{i:02d}" for i in range(18, 23)}
    | {"u10"}
    | {f"m{i:02d}" for i in range(3, 8)}
    | {f"l{i:02d}" for i in range(32, 56)}
    | {f"r{i:02d}" for i in range(62, 76)}
)
# The actual r05 window (CORRECTNESS_r05.json): the 11 round-5 additions
# plus the re-rotated stalest slice (r17-r43 round-1 vintage, q1-q7,
# s01-s05).
_CHECKED_R5 = (
    {"m08", "u11"}
    | {f"l{i:02d}" for i in range(56, 61)}
    | {f"r{i:02d}" for i in range(76, 80)}
    | {f"r{i:02d}" for i in range(17, 44)}
    | {f"q{i}" for i in range(1, 8)}
    | {f"s{i:02d}" for i in range(1, 6)}
)
# The actual r06 window (CORRECTNESS_r06.json, exactly 50 rows): the 12
# round-6 additions (l61-l66, m09-m12, r80, r81) plus the re-rotated
# round-2-vintage slice (u01-u05, m01, l01-l16, r01-r16 = 38). With this
# sync the r07 window becomes: any round-7 additions first, then the
# round-3-vintage slice (s06-s17, u06-u09, m02, l17-l31, r44-r61 = 50 —
# exactly one window; each round-7 addition evicts that slice's
# registry-order tail, i.e. the highest-named r* rows, which then rotate
# through r08). Rotation endgame: after r07 the stalest vintages are
# round-4 (44 rows) then round-5/6; the cycle period is ~4 rounds at the
# current registry size.
_CHECKED_R6 = (
    {f"l{i:02d}" for i in range(61, 67)}
    | {f"m{i:02d}" for i in range(9, 13)}
    | {"r80", "r81"}
    | {f"u{i:02d}" for i in range(1, 6)}
    | {"m01"}
    | {f"l{i:02d}" for i in range(1, 17)}
    | {f"r{i:02d}" for i in range(1, 17)}
)
# The actual r07 window (CORRECTNESS_r07.json, exactly 50 rows): the 10
# round-7 additions (m13, m14, l67-l70, s23, s24, r82, r83) plus the
# round-3-vintage head in family order (s06-s17, u06-u09, m02, l17-l31,
# r44-r51 = 40); the round-3 registry-order tail r52-r61 was evicted and
# rotates through r08. With this sync the r08 window becomes: any round-8
# additions first, then r52-r61 (round-3 leftovers), then the round-4
# vintage head (q8, s18-s22, u10, m03-m07, l32-l55, then r62...) with each
# round-8 addition evicting from the r62-r75 registry-order tail.
_CHECKED_R7 = (
    {"m13", "m14", "s23", "s24", "r82", "r83"}
    | {f"l{i:02d}" for i in range(67, 71)}
    | {f"s{i:02d}" for i in range(6, 18)}
    | {f"u{i:02d}" for i in range(6, 10)}
    | {"m02"}
    | {f"l{i:02d}" for i in range(17, 32)}
    | {f"r{i:02d}" for i in range(44, 52)}
)
# The actual r08 window (CORRECTNESS_r08.json, exactly 50 rows, all
# green): entirely round-8 additions in family order — s25-s31+s33-s40
# (15), m15-m32 (18), l71-l87 (17). Round 8 registered 65 additions, so
# the registry-order tail (l88, l89, r84-r97 = 16 queries) stayed
# never-checked and sorts FIRST into the round-9 window. Round 9 then
# registered 31 additions (s41-s49, m33-m39, l90-l97, r98-r104), so the
# round-9 window is 47 never-checked rows (the 16 overflow + the 31 new,
# in family order: s41-s49, m33-m39, l88-l97, r100-r104+r84-r99 by name)
# plus the first 3 round-3 leftovers (r52-r54). NOTE: everything after
# the r08 artifacts is ROUND-9 work (one long round; earlier SCALE.md
# sections mislabel its middle as "round 10" — no CORRECTNESS_r09
# existed when they were written). Round 9 ultimately registered 135
# additions (s41-s77, m33-m77, l88-l107, r98-r132), so 151
# never-checked rows compete for the 50-slot round-9 window; the
# predicted window is the first 50 in family order (s41-s77 = 37, then
# m33-m45), and the ~101 overflow rows sort first again in round 10.
# Whole-registry local parity at 32/7/13-way is the compensating
# evidence (SCALE.md round-9 closing numbers). Round-10 sync: fold in
# CORRECTNESS_r09.json when it appears.
_CHECKED_R8 = (
    {f"s{i:02d}" for i in range(25, 32)}
    | {f"s{i:02d}" for i in range(33, 41)}
    | {f"m{i:02d}" for i in range(15, 33)}
    | {f"l{i:02d}" for i in range(71, 88)}
)
# The actual r09 window (CORRECTNESS_r09.json, exactly 50 rows): the
# never-checked head in family order — s41-s87 (47) + m33-m35 (3).
# 49 green; s58 hash-red (oracle HUGEINT type leak shared with m51,
# fixed round 10: CAST(min(n) AS BIGINT) in _M51_SQL — the value data
# was already exact, so s58 still counts as checked for rotation).
# That leaves 120 never-checked rows sorting first into the round-10
# window: m36-m83 (48) then l100/l101 fill the 50; the overflow
# (l88-l107 rest + r84-r135) rotates to rounds 11-12. Round 10 froze
# registry growth (VERDICT r9 task 4) so the backlog only drains.
_CHECKED_R9 = (
    {f"s{i:02d}" for i in range(41, 88)}
    | {f"m{i:02d}" for i in range(33, 36)}
)
# The actual r10 window (CORRECTNESS_r10.json, exactly 50 rows, 50/50
# green — the predicted window verbatim): m36-m83 (48) + l100/l101.
# The freeze held (430 registered, zero additions), so 70 never-checked
# rows remain and sort first into the round-11 window: l88-l99 +
# l102-l107 (18) then the lexicographic r-tail head r100-r131 (32).
# The round-12 window is the remaining 20 (r132-r135 + r84-r99) plus
# ~30 rotation slots for the stalest vintages — which is where s58
# (last seen RED in r09; its shared _M51_SQL fix is driver-confirmed
# via m51 green in r10) must resurface: _LAST_RED below pins it ahead
# of every green row regardless of vintage.
_CHECKED_R10 = (
    {f"m{i:02d}" for i in range(36, 84)}
    | {"l100", "l101"}
)
# The actual r11 window (CORRECTNESS_r11.json, exactly 50 rows, 50/50
# green — the predicted window verbatim): l88-l99 + l102-l107 (18) plus
# the lexicographic r-tail head r100-r131 (32). The freeze held again
# (430 registered, zero additions), so 20 never-checked rows remain and
# sort first into the round-12 window: r84-r99 + r132-r135 (20, all
# pre-verified green by both the builder's sf0.1/3-way sweeps and the
# round-11 judge's independent parity run). s58 (_LAST_RED) takes the
# next slot, then the stalest vintages fill the rest: round-3 leftovers
# r52-r61 (10), then the round-4 head in family order (q8, s18-s22,
# u10, m03-m07, l32-l38 = 19). That drains ever-checked to 430/430.
_CHECKED_R11 = (
    {f"l{i}" for i in range(88, 100)}
    | {f"l{i}" for i in range(102, 108)}
    | {f"r{i}" for i in range(100, 132)}
)
# The actual r12 window (CORRECTNESS_r12.json, exactly 50 rows, 49
# green + m03's documented no-oracle rows-only row — counted checked):
# the 20 remaining never-checked (r84-r99, r132-r135), s58 via
# _LAST_RED (now green → removed from that set below), then the stale
# fill r52-r61, q8, s18-s22, u10, m03-m07, l32-l38. Ever-checked is
# now 430/430 — rank 0 is empty until the registry grows again.
_CHECKED_R12 = (
    {f"r{i}" for i in range(132, 136)}
    | {f"r{i:02d}" for i in range(84, 100)}
    | {"s58"}
    | {f"r{i:02d}" for i in range(52, 62)}
    | {"q8", "u10"}
    | {f"s{i:02d}" for i in range(18, 23)}
    | {f"m{i:02d}" for i in range(3, 8)}
    | {f"l{i:02d}" for i in range(32, 39)}
)
# SYNC CHECKLIST for whoever adds _CHECKED_R13 (and every later sync):
# the stale-slice pin in tests/test_relational.py::
# test_registry_window_rotation_order describes the PREVIOUS window's
# stale tail and goes stale the moment this table advances — update the
# pin in the SAME commit, then run the FULL default suite (the
# round-close gate does not include that file; the r11 sync learned
# this the hard way). Also prune _TOUCHED below: drop every entry the
# new CORRECTNESS_r{N} shows green (its round goes in _CHECKED_R{N}),
# keep entries the window didn't reach.
# Queries whose LAST driver observation was a red row (fix shipped but
# never directly re-hashed by the driver). They outrank every green row
# of any vintage — only never-checked rows sort ahead — so the next
# window with spare slots re-checks them first. Remove an entry when a
# later CORRECTNESS_r{N} shows it green (and record that round in the
# _CHECKED_R{N} set instead).
_LAST_RED: set[str] = set()
# Queries whose computation was REWRITTEN by an optimization round after
# their last driver hash (r12 verdict, "Next round" item 2: the rotation
# ranked only never-checked > red > stalest, so an optimization round's
# rewrites were systematically the LAST thing the driver re-hashed).
# They sort behind red rows but ahead of every green vintage, so the
# next window re-hashes them first. Maintenance mirrors _LAST_RED:
# add on rewrite, remove when a later CORRECTNESS_r{N} shows the row
# (and record that round in _CHECKED_R{N}).
# r12 rewrites never driver-hashed post-change (r91 WAS in-window),
# plus the r13 rewrites (r91 again — long-form narrowing; s47 — the
# single-pass melt; l84 — shuffled-hash probe joins; l68 — two-level
# keyed summaries + shuffled-hash id joins; l103 — qualifying-pair
# checkpoint, touched again; s23 — checkpointed probe tables and a
# 2-batch replay; l71 — shuffled-hash joins inside operators/dedup),
# plus the 14 sink-merge twins moved onto the shared _partial_replay
# path (one file per batch, shared wire dirs; s47 is already listed):
_TOUCHED: set[str] = {
    "l03", "l04", "l43", "l44", "l77", "l84", "l85",
    "l101", "l103", "s35", "s36", "l67", "u02",
    "r91", "s47", "l68", "s23", "l71",
    "s26", "s28", "s30", "s31", "s33", "s37", "s38", "s39",
    "s42", "s44", "s46", "s48", "s49",
}
_LAST_CHECKED: dict[str, int] = {}
for _rnd, _qs in (
    (1, _CHECKED_R1),
    (2, _CHECKED_R2),
    (3, _CHECKED_R3),
    (4, _CHECKED_R4),
    (5, _CHECKED_R5),
    (6, _CHECKED_R6),
    (7, _CHECKED_R7),
    (8, _CHECKED_R8),
    (9, _CHECKED_R9),
    (10, _CHECKED_R10),
    (11, _CHECKED_R11),
    (12, _CHECKED_R12),
):
    for _q in _qs:
        _LAST_CHECKED[_q] = _rnd


def _registry_order(name: str) -> tuple[float, int, str]:
    family = _FAMILY_RANK.get(name[0], 9)
    key = name.split("_", 1)[0]
    # Never-checked → 0 (front of the window); last-seen-red → 0.5;
    # rewritten-since-last-hash → 0.75 (both ahead of every green
    # vintage); else ascending staleness.
    rank: float = _LAST_CHECKED.get(key, 0)
    if key in _LAST_RED:
        rank = 0.5
    elif key in _TOUCHED and rank > 0:
        rank = 0.75
    return rank, family, name


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
