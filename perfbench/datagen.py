"""Seeded inputs for the benchmark.

``write_tables`` writes the two parquet tables the benchmark's queries read
(``events`` and ``documents``) with the column names, types and value
ranges of the engine's test fixtures, at a given scale factor.  ``AlertFeed`` pre-generates the JSON wire files the
streaming topology consumes, with the ground truth the sink must match.
The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
_DAY_US = 86_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``events`` and ``documents`` for scale factor ``sf`` into
    ``out_dir``: the two tables the benchmark's queries read."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_events, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random-word texts with planted exact and near duplicates (about one
    document in twenty repeats an earlier one, some with a word appended),
    so the dedup and similarity operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


# -- the alert stream's wire files -------------------------------------------

FRAUD_THRESHOLD = 10_000.0  # strict ``amount > 10000`` (operators.detect)

# Every BOUNDARY_EVERY-th record of a feed is a boundary record, the kinds in
# turn: the threshold itself (not fraud), the smallest double above it
# (fraud), a fraud-level record cut short before its closing brace (the parse
# must drop it, so it is not in the ground truth), and an unknown extra field
# (parsed; the field is ignored).
BOUNDARY_EVERY = 10
BOUNDARY_AMOUNT = {
    "exact": 10_000.0,
    "above": 10_000.0000001,
    "malformed": 20_000.0,
    "extra_field": 10_500.25,
}
_KINDS = tuple(BOUNDARY_AMOUNT)


@dataclass
class WireFile:
    name: str
    payload: bytes
    rows: int  # lines in the file, malformed ones included
    fraud_rows: int
    fraud_amount: float


@dataclass
class AlertFeed:
    """Pre-generated wire files with their ground truth."""

    files: list[WireFile] = field(default_factory=list)
    boundary: dict[str, int] = field(default_factory=lambda: dict.fromkeys(_KINDS, 0))

    @property
    def rows(self) -> int:
        return sum(f.rows for f in self.files)

    @property
    def fraud_rows(self) -> int:
        return sum(f.fraud_rows for f in self.files)

    @property
    def fraud_amount(self) -> float:
        return sum(f.fraud_amount for f in self.files)


def alert_feed(seed: int, prefix: str, n_files: int, rows_per_file: int,
               t0: int = 1_737_028_306) -> AlertFeed:
    """``n_files`` files of ``rows_per_file`` JSON lines shaped like the
    reference producer's records: userId uniform over ``user_000`` ..
    ``user_199``, amount uniform in [1000, 11000), epoch-second timestamp."""
    rng = np.random.default_rng([seed, sum(map(ord, prefix))])
    feed = AlertFeed()
    k = 0
    for i in range(n_files):
        users = rng.integers(0, 200, rows_per_file).tolist()
        amounts = rng.uniform(1000.0, 11_000.0, rows_per_file).tolist()
        lines, fraud = [], []
        for u, a in zip(users, amounts):
            k += 1
            if k % BOUNDARY_EVERY:
                # repr() of a float is its shortest round-trip form, as in json.dumps
                lines.append(f'{{"userId": "user_{u:03d}", "amount": {a!r}, "timestamp": {t0 + i}}}')
            else:
                kind = _KINDS[(k // BOUNDARY_EVERY) % len(_KINDS)]
                feed.boundary[kind] += 1
                a = BOUNDARY_AMOUNT[kind]
                rec = {"userId": f"user_{u:03d}", "amount": a, "timestamp": t0 + i}
                if kind == "extra_field":
                    rec["channel"] = "web"
                line = json.dumps(rec)
                if kind == "malformed":
                    lines.append(line[:-1])
                    continue
                lines.append(line)
            if a > FRAUD_THRESHOLD:
                fraud.append(a)
        feed.files.append(
            WireFile(
                name=f"{prefix}-{i:05d}.json",
                payload=("\n".join(lines) + "\n").encode(),
                rows=rows_per_file,
                fraud_rows=len(fraud),
                fraud_amount=float(sum(fraud)),
            )
        )
    return feed
