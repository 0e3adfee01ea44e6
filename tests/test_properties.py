"""Property-based pin-downs (hypothesis) of the reference's edge semantics.

Each property generates a batch of rows, runs ONE Spark job per example,
and asserts an invariant the reference fixes:
- strict `>` branch disjointness/totality incl. the 10000.0 boundary
  (TransactionProcessor.java:15,39)
- JSON wire roundtrip identity for well-formed records + drop-on-corrupt
  (TransactionProcessor.java:29-37)
- Jaccard bounds/symmetry/identity for the dedup verifiers.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.dedup import jaccard
from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
    branch_fraud,
    parse_wire,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

amounts = st.lists(
    st.floats(
        min_value=0.0, max_value=20000.0, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=30,
)


@given(amounts=amounts)
@example(amounts=[10000.0, 10000.0000001, 9999.9999999])
@settings(**_SETTINGS)
def test_branch_is_disjoint_total_strict(spark, amounts):
    df = spark.createDataFrame([(a,) for a in amounts], "amount double")
    fraud, rest = branch_fraud(df)
    f = [r.amount for r in fraud.collect()]
    r = [r.amount for r in rest.collect()]
    assert sorted(f + r) == sorted(amounts)  # total, disjoint partition
    assert all(a > 10000.0 for a in f)  # strict: 10000.0 is NOT fraud
    assert all(a <= 10000.0 for a in r)


wire_records = st.lists(
    st.tuples(
        st.text(
            alphabet=st.characters(whitelist_categories=("L", "N")), min_size=1, max_size=12
        ),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
        st.integers(min_value=0, max_value=2_000_000_000),
    ),
    min_size=1,
    max_size=20,
)


@given(recs=wire_records)
@settings(**_SETTINGS)
def test_wire_roundtrip_identity_and_corrupt_drop(spark, recs):
    wire = [
        (json.dumps({"userId": u, "amount": a, "timestamp": t}),) for u, a, t in recs
    ]
    corrupt = [("{not json",), ("",), ("[1,2,3]",)]
    df = spark.createDataFrame(wire + corrupt, "value string")
    out = parse_wire(df)
    got = sorted((r.userId, r.amount, r.timestamp) for r in out.collect())
    assert got == sorted(recs)  # identity on well-formed, corrupt dropped


token_sets = st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=20)


@given(a=token_sets, b=token_sets)
@settings(**_SETTINGS)
def test_jaccard_bounds_symmetry_identity(spark, a, b):
    df = spark.createDataFrame(
        [(sorted(set(a)), sorted(set(b)))], "a array<int>, b array<int>"
    )
    row = df.select(
        jaccard(F.col("a"), F.col("b")).alias("jab"),
        jaccard(F.col("b"), F.col("a")).alias("jba"),
        jaccard(F.col("a"), F.col("a")).alias("jaa"),
    ).first()
    assert 0.0 <= row.jab <= 1.0
    assert abs(row.jab - row.jba) < 1e-12  # symmetric
    if set(a):
        assert abs(row.jaa - 1.0) < 1e-12  # identity
    exact = (
        len(set(a) & set(b)) / len(set(a) | set(b)) if set(a) | set(b) else 0.0
    )
    assert abs(row.jab - exact) < 1e-12


doc_ids = st.lists(
    st.integers(min_value=0, max_value=3_000_000_000), min_size=1, max_size=30, unique=True
)


@given(ids=doc_ids)
@settings(**_SETTINGS)
def test_train_split_total_and_deterministic(spark, ids):
    """l17 semantics: every doc gets exactly ONE split, assignment is a
    pure function of doc_id (stable across runs/orderings), and the
    bucket arithmetic matches the closed form."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        QUERIES,
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, f"text {i}") for i in ids], "doc_id long, text string"
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r.split for r in QUERIES["l17_train_split"](spark, d).collect()}
    assert set(out) == set(ids)  # total: one row per doc
    for i in ids:
        b = (i * 2654435761) % 100
        expect = "train" if b < 80 else ("val" if b < 90 else "test")
        assert out[i] == expect, (i, b)


texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=400), min_size=1, max_size=10
)


@given(ts=texts)
@settings(**_SETTINGS)
def test_doc_chunks_cover_exactly(spark, ts):
    """l18 semantics: chunks tile [0, n_tokens) with stride 48 / window 64
    — starts are i*48, every chunk has 1..64 tokens, the last chunk ends
    exactly at n, and consecutive chunks overlap by 16 (except a shorter
    final chunk)."""
    import os
    import re
    import tempfile

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        QUERIES,
    )

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            list(enumerate(ts)), "doc_id long, text string"
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        rows = QUERIES["l18_doc_chunks"](spark, d).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, t in enumerate(ts):
        stripped = t.strip()
        n = len(re.split(r"\s+", stripped)) if stripped else 0
        chunks = sorted(by_doc.get(doc_id, []), key=lambda r: r.chunk_idx)
        if n == 0:
            assert chunks == []
            continue
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c.start_tok == c.chunk_idx * 48
            assert 1 <= c.n_toks <= 64
        last = chunks[-1]
        assert last.start_tok + last.n_toks == n  # tiles end exactly at n
        # every non-final chunk spans past the next chunk's start (>48
        # tokens), so consecutive chunks genuinely overlap
        assert all(c.n_toks > 48 for c in chunks[:-1])


# ---------------------------------------------------------------------------
# Round-4 additions: array-side pair building (l38) and int8 quantization
# (l40) checked differentially against naive Python implementations.
# ---------------------------------------------------------------------------

docs_strategy = st.lists(
    st.text(
        alphabet="ab c",  # tiny alphabet -> many repeated tokens/pairs
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=docs_strategy)
@example(texts=["a a a", "", "b", "a b a b"])
@settings(**_SETTINGS)
def test_bpe_pair_counts_match_naive(spark, texts):
    """The zip_with/slice pairing must equal the naive adjacent-pair scan
    for every input, including empty docs and single-token docs."""
    import re
    from collections import Counter

    naive = Counter()
    for t in texts:
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower().strip()) if w]
        for x, y in zip(toks, toks[1:]):
            naive[f"{x} {y}"] += 1

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"[^a-z0-9]+"), lambda t: t != "")
    got = (
        df.select(toks.alias("w"))
        .where(F.size("w") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .count()
        .collect()
    )
    assert {r.pair: r["count"] for r in got} == dict(naive)


vectors = st.lists(
    st.lists(
        st.floats(
            min_value=-10.0,
            max_value=10.0,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=5,
)


@given(vecs=vectors)
@example(vecs=[[0.0, 0.0], [1.0], [-1.0, 127.0, -127.0]])
@settings(**_SETTINGS)
def test_int8_quantize_matches_naive(spark, vecs):
    """Engine-side scale/quantize/error arithmetic must match the naive
    float64 reference: same scale, every |error| <= scale/2, and the MSE
    within fp tolerance. Zero vectors get scale 0 and zero error."""
    import math

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    xs = F.transform("embedding", lambda v: v.cast("double"))
    d = df.select("vec_id", xs.alias("xs"))
    d = d.select(
        "vec_id", "xs", (F.array_max(F.transform("xs", F.abs)) / F.lit(127.0)).alias("scale")
    )
    err = F.when(
        F.col("scale") == 0.0, F.transform("xs", lambda v: F.lit(0.0))
    ).otherwise(
        F.transform(
            "xs", lambda v: v - F.floor(v / F.col("scale") + F.lit(0.5)) * F.col("scale")
        )
    )
    rows = d.select(
        "vec_id",
        "scale",
        F.aggregate(err.alias("e"), F.lit(0.0), lambda a, v: a + v * v).alias("sq"),
        F.array_max(F.transform(err, F.abs)).alias("maxerr"),
    ).collect()
    for r in rows:
        v = [float(np32) for np32 in
             __import__("numpy").asarray(vecs[r.vec_id], dtype="float32")]
        amax = max(abs(x) for x in v)
        scale = amax / 127.0
        assert math.isclose(r.scale, scale, rel_tol=0, abs_tol=1e-12)
        if scale == 0.0:
            # all-zero vector quantizes exactly (guarded branch: ANSI
            # mode would otherwise raise DIVIDE_BY_ZERO)
            assert r.maxerr == 0.0 and r.sq == 0.0
            continue
        errs = [x - math.floor(x / scale + 0.5) * scale for x in v]
        assert math.isclose(r.sq, sum(e * e for e in errs), rel_tol=1e-9, abs_tol=1e-12)
        assert r.maxerr <= scale / 2 + 1e-12


@given(
    doc_id=st.integers(min_value=0, max_value=10**12),
    n_chars=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=200, deadline=None)
def test_bmp_roundtrip_property(doc_id, n_chars):
    """Any (doc_id, n_chars) must survive the full BMP encode->parse
    round trip: decoded geometry, file size, and pixel sum equal the
    closed forms the l52 oracle predicts."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    w, h, nb, ps = decode_bmp(encode_bmp(doc_id, n_chars))
    ew, eh = 4 + n_chars % 13, 3 + n_chars % 7
    assert (w, h) == (ew, eh)
    assert nb == 54 + ((ew * 3 + 3) // 4 * 4) * eh
    assert ps == sum((doc_id * 31 + j * 7) % 256 for j in range(ew * eh))


@given(
    doc_id=st.integers(min_value=0, max_value=10**12),
    n_chars=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=200, deadline=None)
def test_wav_roundtrip_property(doc_id, n_chars):
    """Any (doc_id, n_chars) must survive the WAV encode->parse round
    trip, matching the l53 oracle's closed forms."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    n, rate, nb, ssum = decode_wav(encode_wav(doc_id, n_chars))
    en = 100 + n_chars % 50
    assert (n, rate, nb) == (en, 8000, 44 + 2 * en)
    assert ssum == sum(((doc_id * 17 + j * 11) % 65536) - 32768 for j in range(en))


@given(
    doc_id=st.integers(min_value=0, max_value=10**12),
    n_chars=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=200, deadline=None)
def test_png_roundtrip_property(doc_id, n_chars):
    """Any (doc_id, n_chars) must survive the PNG deflate->inflate->
    unfilter round trip, matching the l57 oracle's closed forms."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    w, h, n_pix, ps, rl = decode_png(encode_png(doc_id, n_chars))
    ew, eh = 4 + n_chars % 13, 3 + n_chars % 7
    assert (w, h, n_pix, rl) == (ew, eh, ew * eh, eh * (1 + ew))
    assert ps == sum((doc_id * 13 + j * 5) % 256 for j in range(ew * eh))


@given(
    pix=st.lists(
        st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=17),
        min_size=1,
        max_size=11,
    ).filter(lambda rows: len({len(r) for r in rows}) == 1)
)
@settings(max_examples=100, deadline=None)
def test_png_filters_roundtrip_arbitrary_pixels(pix):
    """The five scanline filters must be mutually inverse for ARBITRARY
    pixel matrices, not just the corpus's closed-form gradients: encode
    a raw matrix through the same filter cycle encode_png uses, decode,
    and require the exact pixels back."""
    import struct
    import zlib

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    h, w = len(pix), len(pix[0])
    raw = bytearray()
    for y in range(h):
        ft = y % 5
        raw.append(ft)
        prior = pix[y - 1] if y else [0] * w
        row = pix[y]
        for x in range(w):
            a = row[x - 1] if x else 0
            b = prior[x]
            c = prior[x - 1] if x else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            raw.append((row[x] - pred) % 256)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    payload = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + MM._png_chunk(b"IEND", b"")
    )
    dw, dh, n_pix, ps, rl = MM.decode_png(payload)
    assert (dw, dh, n_pix, rl) == (w, h, w * h, h * (1 + w))
    assert ps == sum(v for row in pix for v in row)


@given(doc_id=st.integers(min_value=0, max_value=10**9),
       n_chars=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=100, deadline=None)
def test_gif_roundtrip_property(doc_id, n_chars):
    """Any (doc_id, n_chars) must survive the GIF LZW compress->decode
    round trip through BOTH encoders (real LZW and the independent
    clear-code literal writer), matching the l63 oracle's closed
    forms."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        _gif_indices,
        decode_gif,
        encode_gif,
    )

    ew, eh = 5 + n_chars % 11, 4 + n_chars % 6
    idx = _gif_indices(doc_id, ew * eh)
    exp = (
        ew, eh, ew * eh, sum(idx),
        sum((i * 3) % 256 + (i * 7) % 256 + (i * 11) % 256 for i in idx),
    )
    for comp in (True, False):
        assert decode_gif(encode_gif(doc_id, n_chars, compressed=comp)) == exp


@given(idx=st.lists(st.integers(min_value=0, max_value=15),
                    min_size=1, max_size=4000))
@settings(max_examples=60, deadline=None)
def test_gif_lzw_roundtrip_arbitrary_indices(idx):
    """GIF-LZW must be lossless for ARBITRARY index sequences, not just
    the corpus's closed-form pattern — including sequences long enough
    to force code-width growth. Cross-checks the real compressor against
    the independent literal writer through the one decoder."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    w, h = len(idx), 1
    for enc in (MM._lzw_encode, MM._lzw_encode_uncompressed):
        payload = MM._gif_container(w, h, enc(idx, MM._GIF_PALETTE_BITS))
        gw, gh, n, isum, rsum = MM.decode_gif(payload)
        assert (gw, gh, n, isum) == (w, h, len(idx), sum(idx))


def test_gif_lzw_table_reset_roundtrip():
    """Deterministic long-sequence case the hypothesis test above cannot
    reach (its max_size=4000 never fills the 4096-entry LZW table): 60k
    pseudo-random symbols force multiple dictionary resets, exercising
    the encoder's clear-code emission at table-full and the decoder's
    width-12 / reset interplay. Losslessness is checked through both
    encoders; the compressing encoder must actually have hit the reset
    branch (table growth is bounded, so >1 clear code appears)."""
    import random

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    rng = random.Random(63)
    idx = [rng.randrange(16) for _ in range(60_000)]
    # encoder-level reset proof: decode the raw code stream by hand and
    # count clear codes beyond the leading one
    codes = MM._lzw_encode(idx, MM._GIF_PALETTE_BITS)
    w, h = 250, 240
    for enc in (MM._lzw_encode, MM._lzw_encode_uncompressed):
        payload = MM._gif_container(w, h, enc(idx, MM._GIF_PALETTE_BITS))
        gw, gh, n, isum, rsum = MM.decode_gif(payload)
        assert (gw, gh, n, isum) == (w, h, len(idx), sum(idx))
    # count clear codes in the compressed stream: walk it with the same
    # width schedule the decoder uses
    data = bytes(codes)
    mcs = MM._GIF_PALETTE_BITS
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width, size = mcs + 1, (1 << mcs) + 2
    acc = nbits = bitpos = 0
    clears = 0
    fresh = True  # first data code after a clear adds no table entry
    while True:
        while nbits < width:
            acc |= data[bitpos] << nbits
            bitpos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            clears += 1
            width, size, fresh = mcs + 1, (1 << mcs) + 2, True
            continue
        if code == eoi:
            break
        if fresh:
            fresh = False
        else:
            size += 1
        if size == (1 << width) and width < 12:
            width += 1
    assert clears >= 2, f"expected table resets, saw {clears} clear code(s)"


# ---------------------------------------------------------------------------
# Ground-truth closures for the round-6 analytic formulations. The driver's
# parity gate proves Spark == DuckDB-oracle; these prove DuckDB-oracle ==
# independent brute force on arbitrary generated inputs, closing the loop
# to first principles. DuckDB-only (no Spark job), so examples are cheap.
# ---------------------------------------------------------------------------


def _duck():
    import duckdb

    return duckdb.connect()


@given(
    caps=st.dictionaries(
        st.text(alphabet="abcdefgh", min_size=1, max_size=3),
        st.integers(min_value=1, max_value=60),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=40, deadline=None)
def test_l65_waterfill_oracle_equals_bruteforce(caps):
    """The analytic theta (cap-sorted prefix sums, no iteration) must
    allocate identically to exhaustive search: largest integer water
    level th with sum(min(cap, th)) <= budget, remainder +1 to the
    lexicographically smallest sources above the level."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import ORACLES

    con = _duck()
    docs = pd.DataFrame(
        {"source": list(caps), "text": [("a " * c).strip() for c in caps.values()]}
    )
    con.register("documents", docs)
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(ORACLES["l65_token_budget_waterfill"]).fetchall()
    }

    total = sum(caps.values())
    budget = total * 9 // 10

    def filled(th: int) -> int:
        return sum(min(c, th) for c in caps.values())

    best = max(
        (t for t in range(0, max(caps.values()) + 1) if filled(t) <= budget),
        default=0,
    )
    rem = budget - filled(best)
    over = sorted(s for s, c in caps.items() if c > best)
    bonus = set(over[:rem])
    want = {
        s: min(c, best) + (1 if s in bonus else 0) for s, c in caps.items()
    }

    assert set(got) == set(caps)
    for s, c in caps.items():
        alloc_cap, alloc, trimmed = got[s]
        assert alloc_cap == c
        assert alloc == want[s], (s, got, want, budget)
        assert (not trimmed) or alloc <= c  # trimming never exceeds cap
    assert sum(a for _, a, _ in got.values()) == budget


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),  # hour
            st.integers(min_value=0, max_value=30),  # user_id
            st.floats(
                min_value=0.01,
                max_value=300.0,
                allow_nan=False,
                allow_infinity=False,
            ),  # value
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m12_stump_oracle_equals_bruteforce(rows):
    """The prefix-sum split sweep must equal brute force: for every
    feature and every boundary between present distinct values, the
    contingency counts, the misclassification score, and the full
    deterministic ranking."""
    import math
    from datetime import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import _M12_SQL

    con = _duck()
    ev = pd.DataFrame(
        {
            "ts": [datetime(2024, 1, 1, h, 30, 0) for h, _, _ in rows],
            "user_id": [u for _, u, _ in rows],
            "value": [v for _, _, v in rows],
        }
    )
    con.register("events", ev)
    got = [
        dict(
            zip(
                (
                    "feature",
                    "thr",
                    "n_left",
                    "pos_left",
                    "n_right",
                    "pos_right",
                    "errors",
                    "train_rank",
                ),
                r,
            )
        )
        for r in con.execute(_M12_SQL).fetchall()
    ]

    trip = [
        (h, u % 10, math.floor(v / 50.0), 1 if v > 100.0 else 0)
        for h, u, v in rows
    ]
    want = []
    for feat, idx in (("hr", 0), ("um", 1), ("vkb", 2)):
        vals = sorted({t[idx] for t in trip})
        for thr in vals[1:]:
            left = [t for t in trip if t[idx] < thr]
            right = [t for t in trip if t[idx] >= thr]
            pl = sum(t[3] for t in left)
            pr_ = sum(t[3] for t in right)
            want.append(
                dict(
                    feature=feat,
                    thr=thr,
                    n_left=len(left),
                    pos_left=pl,
                    n_right=len(right),
                    pos_right=pr_,
                    errors=min(pl, len(left) - pl)
                    + min(pr_, len(right) - pr_),
                )
            )
    want.sort(key=lambda d: (d["errors"], d["feature"], d["thr"]))
    for i, d in enumerate(want):
        d["train_rank"] = i + 1

    got.sort(key=lambda d: d["train_rank"])
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "ab", "ba"]),
            min_size=0,
            max_size=16,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=40, deadline=None)
def test_l61_passage_oracle_equals_tuple_bruteforce(docs):
    """Passage dedup ground truth: the rolling-polyhash formulation must
    find exactly the maximal runs whose 5-token TUPLES (actual content,
    no hashing) appear in >= 2 distinct documents — same starts, same
    lengths, same rarest-window sharer counts."""
    import re

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import ORACLES

    K = 5
    con = _duck()
    frame = pd.DataFrame(
        {
            "doc_id": list(range(len(docs))),
            "text": [" ".join(toks) for toks in docs],
        }
    )
    con.register("documents", frame)
    got = sorted(
        tuple(r) for r in con.execute(ORACLES["l61_passage_dedup"]).fetchall()
    )

    toks = {
        i: re.split(r"\s+", " ".join(t).strip()) if " ".join(t).strip() else []
        for i, t in enumerate(docs)
    }
    owners: dict[tuple, set] = {}
    for d, ts in toks.items():
        for p in range(len(ts) - K + 1):
            owners.setdefault(tuple(ts[p : p + K]), set()).add(d)
    want = []
    for d, ts in toks.items():
        marked = [
            (p, len(owners[tuple(ts[p : p + K])]))
            for p in range(len(ts) - K + 1)
            if len(owners[tuple(ts[p : p + K])]) >= 2
        ]
        run: list = []
        for p, nd in marked:
            if run and p == run[-1][0] + 1:
                run.append((p, nd))
            else:
                if run:
                    want.append(
                        (d, run[0][0], run[-1][0] - run[0][0] + K,
                         min(n for _, n in run))
                    )
                run = [(p, nd)]
        if run:
            want.append(
                (d, run[0][0], run[-1][0] - run[0][0] + K,
                 min(n for _, n in run))
            )
    assert got == sorted(want)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_connected_components_equals_union_find(spark, edges):
    """Star-contraction CC ground truth on arbitrary graph topologies
    (cycles, parallel edges, either orientation, long chains): every
    node's label must equal the min node id of its union-find
    component. Self-loops are outside the operator's input domain
    (dedup pairs always have id_a < id_b; a node absent from the output
    is an implicit singleton — exactly how l66 consumes it), so the
    reference ignores them too."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import dedup as DD

    edges = [(a, b) for a, b in edges if a != b]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["comp"]
        for r in DD.connected_components(df).collect()
    }
    assert got == want


def test_jpeg_decoder_equals_bruteforce_idct():
    """Ground-truth closure for the JPEG transform stage: arbitrary
    quantized coefficient blocks, written through the direct coefficient
    writer, must decode to the pixels a pure-math.cos double-loop IDCT
    (independent of the decoder's numpy matrix sandwich) reconstructs —
    so a shared basis/normalization bug between the numpy FDCT and IDCT
    cannot hide. Sparse random blocks exercise AC run-lengths including
    ZRL (>15 zero runs) and multi-block DC prediction."""
    import math
    import random

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    rng = random.Random(67)

    def brute_pixels(zz_block):
        coef = [[0.0] * 8 for _ in range(8)]
        for zi, (r, c) in enumerate(MM._JPEG_ZZ):
            coef[r][c] = float(zz_block[zi])
        pix = []
        for x in range(8):
            row = []
            for y in range(8):
                v = 0.0
                for u in range(8):
                    cu = math.sqrt(0.125) if u == 0 else 0.5
                    for w_ in range(8):
                        cw = math.sqrt(0.125) if w_ == 0 else 0.5
                        v += (
                            cu * cw * coef[u][w_]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * w_ * math.pi / 16)
                        )
                row.append(min(255, max(0, round(v + 128.0))))
            pix.append(row)
        return pix

    for trial in range(8):
        n_blocks = rng.randrange(1, 5)
        blocks = []
        for _ in range(n_blocks):
            blk = [0] * 64
            blk[0] = rng.randrange(-900, 901)
            for _ in range(rng.randrange(0, 6)):
                blk[rng.randrange(1, 64)] = rng.randrange(-200, 201)
            blocks.append(blk)
        w, h = 8 * n_blocks, 8
        payload = MM._jpeg_write(w, h, [blocks])
        gw, gh, n, psum, nc = MM.decode_jpeg(payload)
        want = sum(
            v for blk in blocks for row in brute_pixels(blk) for v in row
        )
        assert (gw, gh, n, nc) == (w, h, w * h, 1)
        assert psum == want, f"trial {trial}: {psum} != {want}"


@given(
    doc_id=st.integers(min_value=0, max_value=10**9),
    n_chars=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_roundtrip_property(doc_id, n_chars):
    """Any (doc_id, n_chars) must survive the JPEG round trip through
    whichever encoder/color mode its parities select, matching the l67
    oracle's closed forms exactly (block-constant + all-ones quant makes
    the lossy pipeline invertible)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    wb, hb = 2 + n_chars % 4, 1 + n_chars % 3
    vals = [(doc_id * 31 + b * 7) % 256 for b in range(wb * hb)]
    mult = 3 if doc_id % 2 else 1
    assert decode_jpeg(encode_jpeg(doc_id, n_chars)) == (
        8 * wb, 8 * hb, 64 * wb * hb, mult * 64 * sum(vals), mult,
    )


def test_jpeg_rejects_malformed():
    """Malformed inputs report ValueError like the other decoders: bad
    magic, progressive SOF2, truncation inside segments and inside the
    entropy stream, missing EOI."""
    import pytest

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    full = MM.encode_jpeg(4, 11)
    with pytest.raises(ValueError):
        MM.decode_jpeg(b"\x89PNG" + full[4:])
    sof2 = full.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        MM.decode_jpeg(sof2)
    for cut in (len(full) - 3, len(full) // 2, 30, 4):
        with pytest.raises(ValueError):
            MM.decode_jpeg(full[:cut])
    # Dangling table/component references must also be ValueError, not
    # KeyError: a scan component id absent from SOF0, and quant/Huffman
    # table slots that are referenced but never defined. encode_jpeg's
    # single-component stream uses component id 1 and table slot 0 for
    # DQT/DHT-DC/DHT-AC, so flipping each reference in place leaves the
    # marker walk intact while breaking exactly one lookup.
    sos_at = full.index(b"\xff\xda")
    bad_cid = bytearray(full)
    bad_cid[sos_at + 5] = 9  # SOS component id 1 -> 9 (not in SOF0)
    sof_at = full.index(b"\xff\xc0")
    bad_tq = bytearray(full)
    bad_tq[sof_at + 12] = 3  # SOF0 component quant slot 0 -> 3 (undefined)
    bad_huf = bytearray(full)
    bad_huf[sos_at + 6] = 0x23  # SOS Td/Ta 0/0 -> 2/3 (undefined slots)
    for broken in (bad_cid, bad_tq, bad_huf):
        with pytest.raises(ValueError):
            MM.decode_jpeg(bytes(broken))


def test_jpeg_restart_markers():
    """DRI/RSTn support: a hand-assembled two-MCU scan with restart
    interval 1 (DC predictor reset + byte realignment at the RST) must
    decode to the same pixels as the plain single-segment encoding."""
    import struct as st_

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    blocks = MM._jpeg_dc_only_blocks([40, 200])
    plain = MM.decode_jpeg(MM._jpeg_write(16, 8, [blocks]))

    # hand-build the same image with DRI=1 and an RST0 between the MCUs
    dcs, acs = [], []
    toks = []
    for blk in blocks:  # fresh DC prediction per restart segment
        d, a, t = MM._jpeg_block_symbols([blk])
        dcs += d
        acs += a
        toks.append(t[0])
    dc_bits, dc_vals, dc_codes = MM._jpeg_huff_spec(dcs)
    ac_bits, ac_vals, ac_codes = MM._jpeg_huff_spec(acs)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + st_.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(MM._JPEG_QUANT))
    out += seg(0xC0, st_.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    out += seg(0xDD, st_.pack(">H", 1))
    out += seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
    chunks = []
    for t in toks:
        bw = MM._JpegBitWriter()
        for kind, sym, amp in t:
            code, width = (dc_codes if kind == "dc" else ac_codes)[sym]
            bw.write(code, width)
            s = sym if kind == "dc" else (0 if sym in (0x00, 0xF0) else sym & 0x0F)
            if s:
                bw.write(amp, s)
        chunks.append(bw.flush())
    out += chunks[0] + b"\xff\xd0" + chunks[1] + b"\xff\xd9"
    assert MM.decode_jpeg(bytes(out)) == plain


def test_mulaw_matches_audioop_over_full_domain():
    """The G.711 mu-law pair must agree bit-exactly with CPython's
    independent audioop implementation for EVERY 16-bit input sample
    (encoder) and every code byte (decoder) — a genuinely independent
    reference, not a mirror. Skips if the deprecated stdlib module is
    gone (removed in 3.13)."""
    import struct
    import warnings

    import pytest

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        try:
            import audioop
        except ImportError:
            pytest.skip("stdlib audioop not available")

    pcm = struct.pack("<65536h", *range(-32768, 32768))
    ref = audioop.lin2ulaw(pcm, 2)
    got = bytes(MM.mulaw_encode_sample(x) for x in range(-32768, 32768))
    assert got == ref
    ref_dec = struct.unpack("<256h", audioop.ulaw2lin(bytes(range(256)), 2))
    assert [MM.mulaw_decode_sample(c) for c in range(256)] == list(ref_dec)


def test_mulaw_wav_rejects_malformed():
    """Container strictness: PCM-tagged WAVs, lying fact chunks, bad RIFF
    sizes, and truncation all raise ValueError."""
    import struct

    import pytest

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    full = MM.encode_wav_mulaw(3, 21)
    assert MM.decode_wav_mulaw(full)[0] == 80 + 21 % 64
    with pytest.raises(ValueError):
        MM.decode_wav_mulaw(b"RIFX" + full[4:])
    with pytest.raises(ValueError):  # PCM tag -> not this decoder's format
        MM.decode_wav_mulaw(MM.encode_wav(3, 21))
    lying = bytearray(full)
    fact_at = full.index(b"fact") + 8
    lying[fact_at:fact_at + 4] = struct.pack("<I", 9999)
    with pytest.raises(ValueError):
        MM.decode_wav_mulaw(bytes(lying))
    with pytest.raises(ValueError):
        MM.decode_wav_mulaw(full[: len(full) - 5])


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),   # hour
            st.integers(min_value=0, max_value=30),   # user_id
            st.floats(min_value=0.01, max_value=300.0,
                      allow_nan=False, allow_infinity=False),  # value
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m13_oracle_equals_bruteforce_boosting(rows):
    """The unrolled boosting SQL must equal brute force on arbitrary
    inputs: per round, the reweighted sweep's argmin stump (errors,
    feature, thr tie order), the weighted-majority leaf labels, the
    weighted error/total trajectory, and the final majority-vote
    ensemble error."""
    import math
    from datetime import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M13_B,
        _M13_ROUNDS,
        _m13_sql,
    )

    con = _duck()
    ev = pd.DataFrame(
        {
            "ts": [datetime(2024, 1, 1, h, 30, 0) for h, _, _ in rows],
            "user_id": [u for _, u, _ in rows],
            "value": [v for _, _, v in rows],
        }
    )
    con.register("events", ev)
    got = [
        dict(zip(("round", "feature", "thr", "left_label", "right_label",
                  "w_err", "w_tot"), r))
        for r in con.execute(_m13_sql()).fetchall()
    ]

    trip = [
        {"hr": h, "um": u % 10, "vkb": math.floor(v / 50.0),
         "y": 1 if v > 100.0 else 0}
        for h, u, v in rows
    ]
    # degenerate corner: if every feature is single-valued there is no
    # candidate split at all (impossible on the real corpus; the sweep
    # returns zero stumps there and the query's contract doesn't cover it)
    assume(any(
        len({t[f] for t in trip}) > 1 for f in ("hr", "um", "vkb")
    ))
    mistakes = [0] * len(trip)
    want = []
    stumps = []
    for rnd in range(1, _M13_ROUNDS + 1):
        w = [_M13_B ** m for m in mistakes]
        best = None
        for feat in ("hr", "um", "vkb"):
            vals = sorted({t[feat] for t in trip})
            for thr in vals[1:]:
                wl = sum(wi for t, wi in zip(trip, w) if t[feat] < thr)
                pl = sum(wi * t["y"] for t, wi in zip(trip, w) if t[feat] < thr)
                wr = sum(w) - wl
                pr_ = sum(wi * t["y"] for t, wi in zip(trip, w)) - pl
                err = min(pl, wl - pl) + min(pr_, wr - pr_)
                key = (err, feat, thr)
                if best is None or key < best[0]:
                    ll = 1 if 2 * pl > wl else 0
                    rl = 1 if 2 * pr_ > wr else 0
                    best = (key, ll, rl, err, sum(w))
        (err_, feat_, thr_), ll, rl, err, wtot = best
        stump = {"feature": feat_, "thr": thr_, "ll": ll, "rl": rl}
        stumps.append(stump)
        want.append(dict(round=rnd, feature=feat_, thr=thr_, left_label=ll,
                         right_label=rl, w_err=err, w_tot=wtot))
        for i, t in enumerate(trip):
            pred = ll if t[feat_] < thr_ else rl
            if pred != t["y"]:
                mistakes[i] += 1

    need = (_M13_ROUNDS // 2) + 1
    ens_err = sum(
        1 for t in trip
        if (sum(
            (s["ll"] if t[s["feature"]] < s["thr"] else s["rl"])
            for s in stumps
        ) >= need) != bool(t["y"])
    )
    want.append(dict(round=_M13_ROUNDS + 1, feature="__vote__", thr=None,
                     left_label=None, right_label=None, w_err=ens_err,
                     w_tot=len(trip)))
    assert got == want


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["web", "books", "code"]),
            st.lists(st.sampled_from("abcdef"), min_size=0, max_size=9),
        ),
        min_size=1,
        max_size=14,
    )
)
@settings(max_examples=40, deadline=None)
def test_l68_oracle_equals_bruteforce_compaction(docs):
    """The compaction SQL must equal brute force on arbitrary corpora:
    exact-dup batch docs dropped, the rest admitted, and the per-source
    new-index counts / distinct keys / bit_xor'd (doc,key) digests all
    reproduced from first principles (hashlib.md5). Doc ids alternate
    sides of the 400 split so batches can exactly-dup index docs, other
    batch docs, or nothing."""
    import hashlib

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        ORACLES,
    )

    rows = []
    for i, (src, toks) in enumerate(docs):
        doc_id = i if i % 2 == 0 else 399 + i  # half index, half batch
        rows.append((doc_id, src, " ".join(toks)))
    con = _duck()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "source", "text"]).assign(
            n_chars=[len(t) for *_, t in rows]
        ),
    )
    got = {
        r[0]: r[1:]
        for r in con.execute(ORACLES["l68_index_compaction"]).fetchall()
    }

    k = 5

    def dig(doc_id, key):
        h = hashlib.md5(f"{doc_id}:{key}".encode()).hexdigest()
        return int(h[:15], 16)

    base = [(d, s, t.strip()) for d, s, t in rows if t.strip()]
    md5s = {d: hashlib.md5(t.encode()).hexdigest() for d, _, t in base}
    grams = {
        d: {
            hashlib.md5(" ".join(t.split()[p:p + k]).encode()).hexdigest()
            for p in range(len(t.split()) - k + 1)
        }
        for d, _, t in base
    }
    idx_ids = {d for d, _, _ in base if d < 400}
    batch_ids = {d for d, _, _ in base if d >= 400}
    exact_b = {
        b for b in batch_ids
        if any(md5s[b] == md5s[i] for i in idx_ids)
    }
    new_ids = idx_ids | (batch_ids - exact_b)
    src_of = {d: s for d, s, _ in base}
    want = {}
    # full-outer semantics: a source whose batch docs were ALL dropped
    # as exact dups (and which owns no new-index docs) still reports
    # its admission stats with zeroed index columns
    for s in {src_of[d] for d in new_ids} | {src_of[b] for b in batch_ids}:
        ids = [d for d in new_ids if src_of[d] == s]
        mx = px = 0
        for d in ids:
            mx ^= dig(d, md5s[d])
            for g in grams[d]:
                px ^= dig(d, g)
        n_pass_rows = sum(len(grams[d]) for d in ids)
        want[s] = (
            len(ids),
            len({md5s[d] for d in ids}),
            mx,
            n_pass_rows,
            len({g for d in ids for g in grams[d]}),
            px if n_pass_rows else 0,
            sum(1 for b in batch_ids - exact_b if src_of[b] == s),
            sum(1 for b in exact_b if src_of[b] == s),
        )
    assert got == want


def test_m13_reweighting_switches_feature():
    """Boosting must DO something: on a corpus where the value-bucket
    stump is best under uniform weights but its mistakes (value == 100.0
    rows, which share hour 23) triple in weight, round 2's argmin must
    switch to the hour stump that fixes exactly those rows. Deterministic
    construction, DuckDB-only (the same unrolled SQL the driver replays)."""
    from datetime import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _m13_sql,
    )

    rows = (
        [(5, u, 120.0) for u in range(10)]   # y=1, vkb=2, hr=5
        + [(23, u, 100.0) for u in range(4)] # y=0, vkb=2, hr=23 (vkb can't fix)
        + [(5, u, 40.0) for u in range(6)]   # y=0, vkb=0, hr=5
    )
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            {
                "ts": [datetime(2024, 1, 1, h, 0, 0) for h, _, _ in rows],
                "user_id": [u for _, u, _ in rows],
                "value": [v for _, _, v in rows],
            }
        ),
    )
    got = {r[0]: r[1:] for r in con.execute(_m13_sql()).fetchall()}
    # round 1 (uniform): vkb < 2 wins with 4 errors (the value==100 rows)
    assert got[1][0] == "vkb" and got[1][4] == 4 and got[1][5] == 20
    # round 2: those 4 rows now weigh 3 -> the hour stump (err 6 < vkb's
    # reweighted 10) takes over
    assert got[2][0] == "hr" and got[2][4] == 6 and got[2][5] == 28
    # the majority vote needs 2 of 3; with stump 3 joining the vote the
    # ensemble still classifies the corpus (vote error recorded exactly)
    assert got[4][5] == 20


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["web", "books", "code", "wiki"]),
            st.lists(st.sampled_from("abcd"), min_size=0, max_size=10),
        ),
        min_size=1,
        max_size=16,
    )
)
@settings(max_examples=40, deadline=None)
def test_l70_oracle_equals_bruteforce_greedy(docs):
    """The unrolled greedy-coverage SQL must equal brute force on
    arbitrary corpora: per round the (gain desc, source asc) argmax over
    NOT-yet-covered gram types, cumulative coverage, and the drop-out of
    fully-covered sources (rounds emit nothing once no source adds a new
    gram)."""
    import hashlib

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _L70_K,
        _L70_ROUNDS,
        ORACLES,
    )

    rows = [
        (i, src, " ".join(toks), len(toks)) for i, (src, toks) in enumerate(docs)
    ]
    con = _duck()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "source", "text", "n_chars"]),
    )
    got = [tuple(r) for r in
           con.execute(ORACLES["l70_greedy_source_coverage"]).fetchall()]

    k = _L70_K
    grams: dict[str, set] = {}
    for _d, src, text, _n in rows:
        toks = text.strip().split()
        if text.strip() and len(toks) >= k:
            grams.setdefault(src, set()).update(
                hashlib.md5(" ".join(toks[p:p + k]).encode()).hexdigest()
                for p in range(len(toks) - k + 1)
            )
    covered: set = set()
    selected: set = set()
    want = []
    for t in range(1, _L70_ROUNDS + 1):
        best = None
        for src, g in grams.items():
            if src in selected:
                continue
            gain = len(g - covered)
            if gain == 0:
                continue
            key = (-gain, src)
            if best is None or key < best[0]:
                best = (key, src, gain)
        if best is None:
            break
        _, src, gain = best
        selected.add(src)
        covered |= grams[src]
        want.append((t, src, gain, len(covered)))
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # user
            st.integers(min_value=0, max_value=200000),   # t offset seconds
            st.floats(min_value=0.01, max_value=300.0,
                      allow_nan=False, allow_infinity=False),  # value
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),  # unique (user, ts)
    )
)
@settings(max_examples=40, deadline=None)
def test_r83_oracle_equals_bruteforce_kleene_walk(rows):
    """The gaps-and-islands Kleene-CEP SQL must equal a literal
    event-walk on arbitrary event sets: maximal probe runs, exact
    contiguity with the follower, the 24h span from the FIRST probe,
    and runs at end-of-stream (no follower) never matching."""
    from datetime import datetime, timedelta

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R82_FRAUD,
        _R82_PROBE,
        _R82_SPAN,
        ORACLES,
    )

    base = datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "user_id": [u for u, _, _ in rows],
                "ts": [base + timedelta(seconds=dt) for _, dt, _ in rows],
                "value": [v for _, _, v in rows],
            }
        ),
    )
    got = sorted(
        tuple(r)
        for r in con.execute(ORACLES["r83_cep_kleene_probe_run"]).fetchall()
    )

    by_user: dict[int, list] = {}
    for eid, (u, dt, v) in enumerate(rows):
        by_user.setdefault(u, []).append((dt, eid, v))
    want = []
    for u, evs in by_user.items():
        evs.sort()
        i = 0
        while i < len(evs):
            if evs[i][2] < _R82_PROBE:
                j = i
                while j + 1 < len(evs) and evs[j + 1][2] < _R82_PROBE:
                    j += 1
                if j + 1 < len(evs):
                    ft, fid, fv = evs[j + 1]
                    if fv > _R82_FRAUD and ft - evs[i][0] <= _R82_SPAN:
                        want.append(
                            (
                                f"user_{u:03d}",
                                evs[i][1],
                                evs[j][1],
                                j - i + 1,
                                fid,
                                ft - evs[i][0],
                            )
                        )
                i = j + 1
            i += 1
    assert got == sorted(want)


def _py_unigram_trainer(texts):
    """Pure-Python reference of the l72 unigram-LM hard-EM trainer — no
    Spark, no SQL; the ground truth both engines must reproduce
    (same lexicographic Viterbi score, same longest-piece tie-break,
    same prune schedule and usage digest)."""
    import hashlib
    from collections import Counter

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.unigram import (
        BIG,
        CAP,
        L_MAX,
        PRUNE,
        SEED_N,
        W_MAX,
    )

    words = Counter()
    for t in texts:
        for w in t.strip().split():
            if 1 <= len(w) <= W_MAX:
                words[w] += 1
    pc = Counter()
    for w, c in words.items():
        for i in range(len(w)):
            for k in range(1, L_MAX + 1):
                if i + k <= len(w):
                    pc[w[i : i + k]] += c
    singles = sorted(p for p in pc if len(p) == 1)
    multis = sorted(
        ((p, f) for p, f in pc.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:SEED_N]
    vocab = {p: pc[p] for p in singles}
    vocab.update(dict(multis))

    def viterbi(w, vocab):
        n = len(w)
        d = [0] + [None] * n
        ptr = [None] * (n + 1)
        for j in range(1, n + 1):
            best, bk = None, None
            for k in range(min(L_MAX, j), 0, -1):  # largest k wins ties
                piece = w[j - k : j]
                if piece in vocab and d[j - k] is not None:
                    cand = d[j - k] + BIG - min(vocab[piece], CAP)
                    if best is None or cand < best:
                        best, bk = cand, k
            d[j], ptr[j] = best, bk
        pieces = []
        p = n
        while p > 0:
            k = ptr[p]
            pieces.append(w[p - k : p])
            p -= k
        return d[n], list(reversed(pieces))

    out = []
    for r in range(1, len(PRUNE) + 2):
        usage = Counter()
        total_tokens = total_score = 0
        for w, c in words.items():
            score, pieces = viterbi(w, vocab)
            total_tokens += c * len(pieces)
            total_score += c * score
            for p in pieces:
                usage[p] += c
        ux = 0
        for p, u in usage.items():
            ux ^= int(
                hashlib.md5(f"{p}:{u}".encode()).hexdigest()[:15], 16
            )
        out.append((r, len(vocab), total_tokens, total_score, ux))
        if r > len(PRUNE):
            break
        keep = PRUNE[r - 1]
        new_vocab = {p: usage.get(p, 0) for p in singles}
        new_vocab.update(
            dict(
                sorted(
                    ((p, u) for p, u in usage.items() if len(p) >= 2),
                    key=lambda x: (-x[1], x[0]),
                )[:keep]
            )
        )
        vocab = new_vocab
    return out


@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcx", min_size=1, max_size=8),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=25, deadline=None)
def test_l72_oracle_equals_bruteforce_unigram(docs):
    """Ground-truth closure for the unigram-LM trainer: the DuckDB
    oracle (the same generated DP/backtrace ladder Spark executes via
    selectExpr) must equal an independent pure-Python Viterbi/hard-EM
    on arbitrary small corpora — seed top-N, lexicographic score,
    longest-piece tie-break, prune schedule, usage digest, fixpoints
    and all. This is the only gate that catches a shared engine/oracle
    bug (both sides run the same generated expressions)."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.unigram import (
        oracle_sql,
    )

    texts = [" ".join(toks) for toks in docs]
    con = _duck()
    con.register("documents", pd.DataFrame({"text": texts}))
    got = [tuple(r) for r in con.execute(oracle_sql()).fetchall()]
    want = _py_unigram_trainer(texts)
    if not any(t.strip() for t in texts):
        # empty corpus: the oracle's stats rows still exist with NULL/0
        # aggregates; the trainer contract is only defined over
        # non-empty corpora
        return
    assert got == want


@given(
    doc_id=st.integers(min_value=0, max_value=10_000),
    n_chars=st.integers(min_value=0, max_value=500),
)
@settings(max_examples=60, deadline=None)
def test_bmp_downscale_matches_naive(doc_id, n_chars):
    """The real 2x2 box-filter downscale must equal a naive Python
    average over the decoded pixel grid for arbitrary (odd and even)
    geometries: edge rows/columns average only the pixels that exist,
    division floors, and the re-encoded BMP decodes to exactly those
    values."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    src = MM.encode_bmp(doc_id, n_chars)
    w, h, vals = MM.decode_bmp_pixels(src)
    ow2, oh2, got = MM.decode_bmp_pixels(MM.downscale_bmp(src))
    assert (ow2, oh2) == ((w + 1) // 2, (h + 1) // 2)
    want = []
    for y2 in range(oh2):
        for x2 in range(ow2):
            block = [
                vals[y * w + x]
                for dy in (0, 1)
                for dx in (0, 1)
                for x, y in [(2 * x2 + dx, 2 * y2 + dy)]
                if x < w and y < h
            ]
            want.append(sum(block) // len(block))
    assert got == want


@given(
    doc_id=st.integers(min_value=0, max_value=10_000),
    n_chars=st.integers(min_value=0, max_value=500),
)
@settings(max_examples=40, deadline=None)
def test_avi_roundtrip_matches_formula(doc_id, n_chars):
    """The RIFF-AVI chunk walk must read back exactly the frames the
    encoder wrote: geometry from avih, every frame's pixel plane equal
    to the closed form, frame order preserved."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    w, h, nf, frames = MM.decode_avi(MM.encode_avi(doc_id, n_chars))
    assert (w, h, nf) == (
        4 + n_chars % 9, 2 + n_chars % 5, 3 + n_chars % 10
    )
    assert len(frames) == nf
    for f, vals in enumerate(frames):
        assert vals == MM._avi_frame_pixels(doc_id, f, w, h)


def test_avi_rejects_malformed():
    """Malformed AVI payloads raise ValueError on every path (the
    decoder contract shared by the whole codec family): bad magic,
    truncated container, truncated chunk, frame-count mismatch, and a
    frame whose size disagrees with the header geometry."""
    import struct

    import pytest

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    full = MM.encode_avi(5, 33)
    with pytest.raises(ValueError):
        MM.decode_avi(b"JUNK" + full[4:])
    with pytest.raises(ValueError):
        MM.decode_avi(full[:8] + b"WAVE" + full[12:])
    for cut in (len(full) - 3, len(full) // 2, 20, 10):
        with pytest.raises(ValueError):
            MM.decode_avi(full[:cut])
    # lie in avih's dwTotalFrames: chunk walk finds a different count
    avih_at = full.index(b"avih") + 8
    lied = bytearray(full)
    lied[avih_at + 16 : avih_at + 20] = struct.pack("<I", 99)
    with pytest.raises(ValueError):
        MM.decode_avi(bytes(lied))
    # lie in avih's width: every frame size now disagrees
    lied2 = bytearray(full)
    lied2[avih_at + 32 : avih_at + 36] = struct.pack("<I", 3)
    with pytest.raises(ValueError):
        MM.decode_avi(bytes(lied2))


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),
            st.integers(min_value=0, max_value=20),
        ).filter(lambda t: t[1] <= t[0]),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_m15_minimax_equals_pav(data):
    """The minimax closed form the m15 oracle/engine run (max over
    i<=b of min over j>=b of the weighted mean on [i..j]) must equal an
    independent pure-Python PAV sweep on arbitrary weighted bucket
    counts — including all-tied, strictly-decreasing, and single-bucket
    corner cases."""
    import pandas as pd

    ns = [n for n, _ in data]
    ks = [k for _, k in data]
    con = _duck()
    con.register(
        "b",
        pd.DataFrame(
            {"bucket": range(len(ns)), "n": ns, "k": ks}
        ),
    )
    got = [
        r[0]
        for r in con.execute(
            """
            WITH pre AS (
              SELECT bucket, n, k,
                     row_number() OVER (ORDER BY bucket) AS i,
                     sum(n) OVER (ORDER BY bucket) AS cn,
                     sum(k) OVER (ORDER BY bucket) AS ck
              FROM b
            ),
            pairs AS (
              SELECT lo.i AS i, hi.i AS j,
                     CAST(hi.ck - lo.ck + lo.k AS DOUBLE)
                       / CAST(hi.cn - lo.cn + lo.n AS DOUBLE) AS r
              FROM pre lo JOIN pre hi ON lo.i <= hi.i
            ),
            inner_min AS (
              SELECT p.i, bk.i AS b, min(p.r) AS mn
              FROM pairs p JOIN pre bk ON p.i <= bk.i AND bk.i <= p.j
              GROUP BY 1, 2
            )
            SELECT max(mn) AS iso FROM inner_min GROUP BY b ORDER BY b
            """
        ).fetchall()
    ]

    # independent PAV (stack of blocks, merge while non-increasing)
    blocks = []
    for n, k in zip(ns, ks):
        blocks.append([n, k, 1])  # weight, positives, bucket span
        while (
            len(blocks) >= 2
            and blocks[-2][1] * blocks[-1][0] >= blocks[-1][1] * blocks[-2][0]
        ):
            n2, k2, c2 = blocks.pop()
            blocks[-1][0] += n2
            blocks[-1][1] += k2
            blocks[-1][2] += c2
    want = []
    for n, k, c in blocks:
        want.extend([k / n] * c)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert abs(g - w) < 1e-12, (got, want)
    # and the fit is monotone nondecreasing
    assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))


@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-8, max_value=8), min_size=64, max_size=64
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=25, deadline=None)
def test_l76_oracle_equals_bruteforce_kcenter(vecs):
    """Ground-truth closure for greedy k-center: the unrolled SQL must
    equal a pure-Python farthest-point sweep on arbitrary vector sets —
    same seed, same max-min squared L2, same lower-id tie-break, and
    early exhaustion (fewer points than rounds) drops rows on both
    sides. Integer-valued coordinates make the doubles exact, so the
    comparison is equality, not tolerance."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _L76_K,
        ORACLES,
    )

    con = _duck()
    con.register(
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": range(len(vecs)),
                "embedding": [[float(x) for x in v] for v in vecs],
            }
        ),
    )
    got = [tuple(r) for r in con.execute(ORACLES["l76_kcenter_coreset"]).fetchall()]

    pts = {i: v for i, v in enumerate(vecs)}
    picked = [0]
    want = [(0, 0, 0.0)]
    for t in range(1, _L76_K + 1):
        best = None
        for i, v in pts.items():
            if i in picked:
                continue
            mind = min(
                sum((a - b) * (a - b) for a, b in zip(v, pts[w]))
                for w in picked
            )
            key = (-mind, i)
            if best is None or key < best[0]:
                best = (key, i, mind)
        if best is None:
            break
        picked.append(best[1])
        want.append((t, best[1], round(float(best[2]), 6)))
    assert got == want


@given(
    build=st.sets(st.integers(min_value=0, max_value=500), max_size=20),
    probes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.sampled_from(["1-URGENT", "5-LOW"]),
        ),
        min_size=1,
        max_size=40,
    ),
)
@settings(max_examples=40, deadline=None)
def test_r85_oracle_equals_bruteforce_bloom(build, probes):
    """The Bloom oracle must equal a from-first-principles Python filter
    (hashlib.md5, set of bit positions) on arbitrary key sets: identical
    pass/true/fp counts per priority and ALWAYS zero false negatives —
    the property that makes the pruning safe. Catches any shared
    hash-recipe bug the Spark/DuckDB parity gate cannot see."""
    import hashlib

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R85_K,
        _R85_M_BITS,
        ORACLES,
    )

    con = _duck()
    con.register(
        "customer",
        pd.DataFrame(
            [(k, "BUILDING") for k in sorted(build)]
            or [(999999, "OTHER")],  # empty build set: keep the view typed
            columns=["c_custkey", "c_mktsegment"],
        ),
    )
    con.register(
        "orders",
        pd.DataFrame(
            [(i, ck, pr) for i, (ck, pr) in enumerate(probes)],
            columns=["o_orderkey", "o_custkey", "o_orderpriority"],
        ),
    )
    got = sorted(
        tuple(r)
        for r in con.execute(ORACLES["r85_bloom_join_prune"]).fetchall()
    )

    def pos(key: int, i: int) -> int:
        h = hashlib.md5(f"{key}:{i}".encode()).hexdigest()[:15]
        return int(h, 16) % _R85_M_BITS

    bloom = {pos(k, i) for k in build for i in range(_R85_K)}
    agg: dict[str, list[int]] = {}
    for ck, pr in probes:
        passed = all(pos(ck, i) in bloom for i in range(_R85_K))
        true = ck in build
        row = agg.setdefault(pr, [0, 0, 0, 0, 0])
        row[0] += 1
        row[1] += passed
        row[2] += true
        row[3] += passed and not true
        row[4] += true and not passed
    want = sorted(
        (
            pr,
            n,
            p,
            t,
            fp,
            miss,
            (1000000 * fp) // max(n - t, 1),
        )
        for pr, (n, p, t, fp, miss) in agg.items()
    )
    assert got == want
    assert all(r[5] == 0 for r in got)  # no false negatives, ever


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # hour
            st.integers(min_value=0, max_value=30),  # user_id
            st.sampled_from([10.0, 60.0, 120.0, 180.0]),  # value
        ),
        min_size=2,
        max_size=25,
    )
)
@settings(max_examples=40, deadline=None)
def test_m16_oracle_equals_bruteforce_tree(rows):
    """The depth-2 tree SQL must equal brute-force recursive
    partitioning on arbitrary corpora: root argmin over every candidate
    split with the (errors, feature, thr) tie-break, exact child routing,
    per-child argmin, and the level-wise invariant
    errors(L)+errors(R) <= errors(root) whenever both children split."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M16_SQL,
        ORACLES,
    )

    assert ORACLES["m16_depth2_tree_trainer"] is _M16_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(hours=h), u, "tx", v, "{}")
                for i, (h, u, v) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = [tuple(r) for r in con.execute(_M16_SQL).fetchall()]

    feats = [
        {"hr": h, "um": u % 10, "vkb": int(v // 50), "y": int(v > 100.0)}
        for h, u, v in rows
    ]

    def sweep(sub):
        """All candidate splits (feature, thr) with contingency + errors."""
        out = []
        for f in ("hr", "um", "vkb"):
            vals = sorted({r[f] for r in sub})
            for thr in vals[1:]:  # thr = each value except the smallest
                left = [r for r in sub if r[f] < thr]
                right = [r for r in sub if r[f] >= thr]
                pl = sum(r["y"] for r in left)
                pr = sum(r["y"] for r in right)
                err = min(pl, len(left) - pl) + min(pr, len(right) - pr)
                out.append(
                    (f, thr, len(left), pl, len(right), pr, err)
                )
        return out

    cands = sweep(feats)
    if not cands:
        assert got == []
        return
    root = min(cands, key=lambda c: (c[6], c[0], c[1]))
    want = [("root", root[0], root[1], *root[2:])]
    for node, sub in (
        ("L", [r for r in feats if r[root[0]] < root[1]]),
        ("R", [r for r in feats if r[root[0]] >= root[1]]),
    ):
        c2 = sweep(sub)
        if c2:
            b = min(c2, key=lambda c: (c[6], c[0], c[1]))
            want.append((node, b[0], b[1], *b[2:]))
    want.sort(key=lambda r: r[0])
    assert got == want
    child_err = {r[0]: r[7] for r in got if r[0] in ("L", "R")}
    if len(child_err) == 2:
        assert sum(child_err.values()) <= got[-1][7]  # root sorts last


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["dup", "scan", "spark", "hash", "join", "x"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_l77_oracle_equals_bruteforce_bm25(docs):
    """The BM25 SQL must equal a from-first-principles Python scorer
    (math.log, HALF_UP micro rounding, per-term exact int sum) on
    arbitrary corpora: identical per-query rankings and scores."""
    import math

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _L77_QUERIES,
        _L77_SQL,
        _L77_TOPK,
        ORACLES,
    )

    assert ORACLES["l77_bm25_topk"] is _L77_SQL
    con = _duck()
    con.register(
        "documents",
        pd.DataFrame(
            [(i, " ".join(toks), "en", "s", 1) for i, toks in enumerate(docs)],
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        ),
    )
    got = [tuple(r) for r in con.execute(_L77_SQL).fetchall()]

    tf: dict[tuple[int, str], int] = {}
    for i, toks in enumerate(docs):
        for t in toks:
            tf[(i, t)] = tf.get((i, t), 0) + 1
    dl = {i: len(toks) for i, toks in enumerate(docs)}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    dfc: dict[str, int] = {}
    for (_i, t) in tf:
        dfc[t] = dfc.get(t, 0) + 1
    scores: dict[tuple[int, int], int] = {}
    for qid, t in _L77_QUERIES:
        for i in range(n_docs):
            f = tf.get((i, t))
            if not f:
                continue
            idf = math.log(1.0 + (n_docs - dfc[t] + 0.5) / (dfc[t] + 0.5))
            tfn = (f * 2.2) / (f + 1.2 * (0.25 + (0.75 * dl[i]) / avgdl))
            c = int(math.floor(idf * tfn * 1000000.0 + 0.5))  # HALF_UP
            scores[(qid, i)] = scores.get((qid, i), 0) + c
    want = []
    byq: dict[int, list] = {}
    for (qid, i), s in scores.items():
        byq.setdefault(qid, []).append((-s, i))
    for qid in sorted(byq):
        for rnk, (neg_s, i) in enumerate(sorted(byq[qid])[:_L77_TOPK], 1):
            want.append((qid, rnk, i, -neg_s))
    assert sorted(got) == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10000),  # seconds offset
            st.sampled_from(["click", "error"]),
            st.sampled_from([5.0, 30.0, 80.0, 130.0, 200.0]),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=40, deadline=None)
def test_m17_oracle_equals_bruteforce_psi(rows):
    """The PSI SQL must equal a from-first-principles Python monitor on
    arbitrary event sets: exact midpoint split, exact bucket counts over
    the densified 8-bucket grid, Laplace smoothing, HALF_UP micro
    rounding, and per-type int sums."""
    import datetime
    import math

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M17_NBUCKETS,
        _M17_SQL,
        ORACLES,
    )

    assert ORACLES["m17_psi_drift"] is _M17_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(seconds=s), 7, et, v, "{}")
                for i, (s, et, v) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M17_SQL).fetchall())

    secs = [s for s, _et, _v in rows]
    split = min(secs) + (max(secs) - min(secs)) // 2
    cnt: dict[tuple[str, int], list[int]] = {}
    types = set()
    for s, et, v in rows:
        types.add(et)
        b = max(min(int(v // 25), _M17_NBUCKETS - 1), 0)
        c = cnt.setdefault((et, b), [0, 0])
        c[0 if s < split else 1] += 1
    want = []
    for et in sorted(types):
        buckets = [
            (b, *cnt.get((et, b), (0, 0))) for b in range(_M17_NBUCKETS)
        ]
        ref_tot = sum(r for _b, r, _l in buckets)
        live_tot = sum(l for _b, _r, l in buckets)
        contribs = {}
        for b, r, l in buckets:
            p = (r + 1.0) / (ref_tot + 8.0)
            q = (l + 1.0) / (live_tot + 8.0)
            x = (p - q) * math.log(p / q) * 1000000.0
            contribs[b] = int(math.floor(x + 0.5))  # HALF_UP
        psi = sum(contribs.values())
        for b, r, l in buckets:
            want.append((et, b, r, l, contribs[b], psi))
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # user
            st.integers(min_value=0, max_value=40),  # day offset
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_r86_oracle_equals_bruteforce_cohorts(rows):
    """The cohort SQL must equal brute-force retention math on arbitrary
    activity patterns: per-user first-week anchor, distinct-user cell
    counts, exact ppm division — including gap weeks (a user active in
    weeks 0 and 3 only must NOT appear in offsets 1-2)."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R86_ORACLE,
        _R86_WEEK,
        ORACLES,
    )

    assert ORACLES["r86_cohort_retention"] is _R86_ORACLE
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(days=d), u, "click", 1.0, "{}")
                for i, (u, d) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_R86_ORACLE).fetchall())

    secs = {(u, d * 86400) for u, d in rows}
    origin = min(s for _u, s in secs)
    weeks = {(u, (s - origin) // _R86_WEEK) for u, s in secs}
    first = {}
    for u, w in weeks:
        first[u] = min(first.get(u, w), w)
    cells: dict[tuple[int, int], set] = {}
    size: dict[int, set] = {}
    for u, w in weeks:
        cells.setdefault((first[u], w - first[u]), set()).add(u)
        size.setdefault(first[u], set()).add(u)
    want = sorted(
        (
            cw,
            off,
            len(us),
            len(size[cw]),
            (1000000 * len(us)) // len(size[cw]),
        )
        for (cw, off), us in cells.items()
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=20),  # second offset
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=60, deadline=None)
def test_r87_oracle_equals_bruteforce_funnel(rows):
    """The funnel SQL must equal brute-force ordered-conversion logic on
    arbitrary event interleavings: strictly-after step ordering (a click
    at the same second as the first view does NOT convert), first-touch
    per step, exact ppm vs the funnel head."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R87_ORACLE,
        ORACLES,
    )

    assert ORACLES["r87_funnel_conversion"] is _R87_ORACLE
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(seconds=s), u, et, 1.0, "{}")
                for i, (u, s, et) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_R87_ORACLE).fetchall())

    users = {u for u, _s, _et in rows}
    n = [0, 0, 0]
    for u in users:
        ev = [(s, et) for uu, s, et in rows if uu == u]
        t1 = min((s for s, et in ev if et == "view"), default=None)
        t2 = (
            min((s for s, et in ev if et == "click" and s > t1), default=None)
            if t1 is not None
            else None
        )
        t3 = (
            min(
                (s for s, et in ev if et == "purchase" and s > t2),
                default=None,
            )
            if t2 is not None
            else None
        )
        for k, t in enumerate((t1, t2, t3)):
            n[k] += t is not None
    head = max(n[0], 1)
    want = sorted(
        (k + 1, name, n[k], (1000000 * n[k]) // head)
        for k, name in enumerate(("view", "click", "purchase"))
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.floats(min_value=0.0, max_value=20000.0,
                      allow_nan=False, allow_infinity=False),
            st.integers(min_value=0, max_value=23),  # hour
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m18_oracle_equals_bruteforce_auc(rows):
    """The histogram Mann-Whitney SQL must equal the brute-force
    all-pairs AUC (1 per win, half-credit per tie) on arbitrary
    score/label mixtures — including single-class segments (NULL
    auc_ppm), all-ties degenerate scores, and mixed tie groups. The
    score computation itself is the m04 contract; this closure pins
    the ranking machinery the driver hash cannot distinguish from a
    shared cumulative-window bug."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M18_SC_SQL,
        _M18_SQL,
        ORACLES,
    )

    assert ORACLES["m18_exact_auc"] is _M18_SQL
    base = datetime.datetime(2024, 3, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(hours=h), i % 7, et, v, "{}")
                for i, (et, v, h) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M18_SQL).fetchall())

    # brute force from the engine-computed (segment, s, y) pairs, so the
    # closure isolates the rank machinery from the score arithmetic
    sc = con.execute(_M18_SC_SQL).fetchall()
    pairs = list(sc) + [("ALL", s, y) for _t, s, y in sc]
    want = []
    for seg in sorted({t for t, _s, _y in pairs}):
        pos = [s for t, s, y in pairs if t == seg and y == 1]
        neg = [s for t, s, y in pairs if t == seg and y == 0]
        u2 = sum(
            2 if p > n else (1 if p == n else 0) for p in pos for n in neg
        )
        ppm = (
            (1000000 * u2) // (2 * len(pos) * len(neg))
            if pos and neg
            else None
        )
        want.append((seg, len(pos), len(neg), u2, ppm))
    assert got == sorted(want)


@given(
    offs=st.lists(
        st.integers(min_value=0, max_value=400),  # seconds, scaled x500
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=40, deadline=None)
def test_r88_oracle_equals_bruteforce_sweepline(offs):
    """The sweep-line SQL must equal brute-force interval counting at
    every boundary instant on arbitrary overlap patterns — including
    coincident starts, start-meets-end cancellation (delta 0 rows),
    and the desc-concurrency/asc-time tiebreak at the limit edge.
    Offsets are scaled x500 so intervals both nest and chain across
    the 300s hold."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R88_HOLD,
        _R88_ORACLE,
        ORACLES,
    )

    assert ORACLES["r88_interval_concurrency"] is _R88_ORACLE
    base = datetime.datetime(2024, 5, 1)
    epoch0 = int(base.timestamp())
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(seconds=o * 500), i % 5,
                 "click", 1.0, "{}")
                for i, o in enumerate(offs)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = [tuple(r) for r in con.execute(_R88_ORACLE).fetchall()]

    starts = sorted(epoch0 + o * 500 for o in offs)
    bounds = sorted({b for s in starts for b in (s, s + _R88_HOLD)})
    step = [
        (b, sum(1 for s in starts if s <= b < s + _R88_HOLD))
        for b in bounds
    ]
    want = sorted(step, key=lambda r: (-r[1], r[0]))[:10]
    assert got == want


@given(
    ws=st.lists(
        st.integers(min_value=0, max_value=5000),  # doc weights, 0 legal
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=40, deadline=None)
def test_l79_oracle_equals_bruteforce_pps(ws):
    """The systematic PPS SQL must equal brute-force number-line walking
    on arbitrary weights — zero-weight docs never select, a doc wider
    than the step earns multiple hits, and the boundary-at-exact-edge
    case (run a multiple of step) credits the doc that ENDS there, not
    the next one."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _L79_N,
        _L79_SQL,
        ORACLES,
    )

    assert ORACLES["l79_systematic_weighted_sample"] is _L79_SQL
    con = _duck()
    con.register(
        "documents",
        pd.DataFrame(
            [
                (i, "x" * w, "en", f"src{i % 3}", w)
                for i, w in enumerate(ws)
            ],
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_L79_SQL).fetchall())

    step = max(sum(ws) // _L79_N, 1)
    want = []
    run = 0
    for i, w in enumerate(ws):
        before, run = run, run + w
        hits = run // step - before // step
        if hits > 0:
            want.append((i, f"src{i % 3}", w, before // step + 1, hits))
    assert got == sorted(want)


@given(
    ids=st.sets(st.integers(min_value=0, max_value=10**6),
                min_size=1, max_size=50)
)
@settings(max_examples=30, deadline=None)
def test_l81_segmented_rank_equals_global_rank(ids):
    """segmented_rank under high-bit segments must equal the global
    row_number under (h, doc_id) for arbitrary id sets — including ids
    whose keys collide in the same segment and singleton segments."""
    import hashlib

    got_rank = {}
    rows = []
    for i in sorted(ids):
        h = int(
            hashlib.md5(f"epoch1:{i}".encode()).hexdigest()[:15], 16
        )
        rows.append((i, h))
    # brute-force global rank
    for rk, (i, h) in enumerate(
        sorted(rows, key=lambda r: (r[1], r[0])), start=1
    ):
        got_rank[i] = rk
    # segmented composition: intra-segment rank + earlier-segment count
    segs = {}
    for i, h in rows:
        segs.setdefault(h >> 54, []).append((h, i))
    offset, comp = 0, {}
    for s in sorted(segs):
        for j, (h, i) in enumerate(sorted(segs[s]), start=1):
            comp[i] = offset + j
        offset += len(segs[s])
    assert comp == got_rank


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),  # hour
            st.sampled_from(["purchase", "error", "click", "view"]),
            st.integers(min_value=1, max_value=30000),  # value in cents
        ),
        min_size=2,
        max_size=50,
    )
)
@settings(max_examples=40, deadline=None)
def test_m20_oracle_equals_bruteforce_permutation(rows):
    """The m20 oracle must equal a pure-Python recompute: the exact
    within-bucket donor assignment (md5 bucketing + independent-hash
    zip), the rational-sigmoid scores, and the Mann-Whitney AUC per
    corrupted feature. Pure hashlib/decimal Python — no Spark, no
    shared SQL — so an engine/oracle shared bug cannot hide."""
    import hashlib
    from datetime import datetime
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import _M04_W, _M20_SQL

    con = _duck()
    ev = pd.DataFrame(
        {
            "event_id": list(range(len(rows))),
            "ts": [datetime(2024, 1, 1, h, 30, 0) for h, _, _ in rows],
            "user_id": [i % 7 for i in range(len(rows))],
            "event_type": [t for _, t, _ in rows],
            "value": [c / 100.0 for _, _, c in rows],
        }
    )
    con.register("events", ev)
    got = {
        r[0]: r[1:]
        for r in con.execute(_M20_SQL).fetchall()
    }

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    recs = [
        (i, h, t, c / 100.0, 1 if c / 100.0 > 100.0 else 0)
        for i, (h, t, c) in enumerate(rows)
    ]
    buckets: dict[int, list] = {}
    for rec in recs:
        buckets.setdefault(int(md5(str(rec[0]))[:15], 16) % 64, []).append(rec)
    donor_of = {}
    for bs in buckets.values():
        by_id = sorted(bs, key=lambda r: r[0])
        by_h2 = sorted(bs, key=lambda r: (md5(str(r[0]) + "#perm"), r[0]))
        for rcv, dnr in zip(by_id, by_h2):
            donor_of[rcv[0]] = dnr

    def score(v, h, et):
        z = (
            _M04_W["b"]
            + _M04_W["amt"] * (v / 100.0)
            + _M04_W["hour"] * (h / 23.0)
            + _M04_W["purchase"] * (1.0 if et == "purchase" else 0.0)
            + _M04_W["error"] * (1.0 if et == "error" else 0.0)
        )
        p = 0.5 * (1.0 + z / (1.0 + abs(z)))
        return Decimal(repr(p)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )

    def auc_ppm(pairs):
        pos = sorted(s for s, y in pairs if y)
        neg = sorted(s for s, y in pairs if not y)
        if not pos or not neg:
            return None
        u2 = sum(
            2 * sum(1 for sn in neg if sn < sp)
            + sum(1 for sn in neg if sn == sp)
            for sp in pos
        )
        return (1_000_000 * u2) // (2 * len(pos) * len(neg))

    variants = {
        "__base__": lambda r, d: score(r[3], r[1], r[2]),
        "value": lambda r, d: score(d[3], r[1], r[2]),
        "hour": lambda r, d: score(r[3], d[1], r[2]),
        "event_type": lambda r, d: score(r[3], r[1], d[2]),
    }
    n_pos = sum(r[4] for r in recs)
    n_neg = len(recs) - n_pos
    base = auc_ppm(
        [(variants["__base__"](r, donor_of[r[0]]), r[4]) for r in recs]
    )
    assert set(got) == set(variants)
    for feat, fn in variants.items():
        want_auc = auc_ppm([(fn(r, donor_of[r[0]]), r[4]) for r in recs])
        g_pos, g_neg, g_auc, g_base, g_imp = got[feat]
        assert (g_pos, g_neg) == (n_pos, n_neg)
        assert g_auc == want_auc, (feat, g_auc, want_auc)
        assert g_base == base
        assert g_imp == (None if base is None or want_auc is None
                         else base - want_auc)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),  # hour
            st.sampled_from(["purchase", "error", "click", "view"]),
            st.integers(min_value=1, max_value=30000),  # value in cents
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=40, deadline=None)
def test_m21_oracle_equals_bruteforce_conformal(rows):
    """The m21 oracle must equal a pure-Python recompute of the split-
    conformal rule: md5 split, Decimal-rounded scores, the integer
    p-value alarm 100*(cnt_ge+1) <= alpha*(n_cal+1), and every count/ppm
    column. No Spark, no shared SQL."""
    import hashlib
    from datetime import datetime
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import _M04_W, _M21_SQL

    con = _duck()
    ev = pd.DataFrame(
        {
            "event_id": list(range(len(rows))),
            "ts": [datetime(2024, 1, 1, h, 30, 0) for h, _, _ in rows],
            "user_id": [i % 7 for i in range(len(rows))],
            "event_type": [t for _, t, _ in rows],
            "value": [c / 100.0 for _, _, c in rows],
        }
    )
    con.register("events", ev)
    got = {r[0]: r[1:] for r in con.execute(_M21_SQL).fetchall()}

    def score(h, et, v):
        z = (
            _M04_W["b"]
            + _M04_W["amt"] * (v / 100.0)
            + _M04_W["hour"] * (h / 23.0)
            + _M04_W["purchase"] * (1.0 if et == "purchase" else 0.0)
            + _M04_W["error"] * (1.0 if et == "error" else 0.0)
        )
        p = 0.5 * (1.0 + z / (1.0 + abs(z)))
        return Decimal(repr(p)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )

    pts = []
    for i, (h, t, c) in enumerate(rows):
        bkt = (
            int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 4
        )
        pts.append((score(h, t, c), 1 if c / 100.0 > 100.0 else 0, bkt))
    cal = sorted(s for s, y, b in pts if b == 3 and y == 0)
    hold = [(s, y) for s, y, b in pts if b < 3]
    n_cal = len(cal)
    for alpha in (1, 5, 10):
        hits = sum(
            y
            for s, y in hold
            if 100 * (sum(1 for c0 in cal if c0 >= s) + 1)
            <= alpha * (n_cal + 1)
        )
        fa = sum(
            1 - y
            for s, y in hold
            if 100 * (sum(1 for c0 in cal if c0 >= s) + 1)
            <= alpha * (n_cal + 1)
        )
        n_pos = sum(y for _, y in hold)
        n_neg = len(hold) - n_pos
        want = (
            n_cal,
            n_pos,
            n_neg,
            hits + fa,
            hits,
            fa,
            (1_000_000 * hits) // n_pos if n_pos else None,
            (1_000_000 * fa) // n_neg if n_neg else None,
        )
        assert got[alpha] == want, (alpha, got[alpha], want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10000),  # seconds offset
            st.sampled_from(["click", "error"]),
            st.sampled_from([5.0, 12.25, 30.0, 80.5, 130.75, 200.0]),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m22_oracle_equals_bruteforce_ks(rows):
    """The KS SQL must equal a from-first-principles Python test on
    arbitrary event sets: exact midpoint split, exact integer ECDF gap
    max |cum_ref * n_cur - cum_cur * n_ref| over the union of distinct
    cents per segment (each type plus 'ALL'), floor-div ppm, and the
    min-cent argmax tiebreak. Sample values are exact binary fractions
    so v*100 rounds identically everywhere."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M22_SQL,
        ORACLES,
    )

    assert ORACLES["m22_ks_drift"] is _M22_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(seconds=s), 7, et, v, "{}")
                for i, (s, et, v) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M22_SQL).fetchall())

    secs = [s for s, _et, _v in rows]
    split = min(secs) + (max(secs) - min(secs)) // 2
    segments: dict[str, list[tuple[int, int]]] = {}
    for s, et, v in rows:
        cent = int(round(v * 100))
        pair = (cent, 0 if s < split else 1)
        segments.setdefault(et, []).append(pair)
        segments.setdefault("ALL", []).append(pair)
    want = []
    for seg, pairs in segments.items():
        n_ref = sum(1 for _c, h in pairs if h == 0)
        n_cur = len(pairs) - n_ref
        cum_r = cum_c = 0
        best, best_at = -1, None
        for c in sorted({c for c, _h in pairs}):
            cum_r += sum(1 for cc, h in pairs if cc == c and h == 0)
            cum_c += sum(1 for cc, h in pairs if cc == c and h == 1)
            gap = abs(cum_r * n_cur - cum_c * n_ref)
            if gap > best:
                best, best_at = gap, c
        ppm = (
            (1000000 * best) // (n_ref * n_cur)
            if n_ref > 0 and n_cur > 0
            else None
        )
        want.append((seg, n_ref, n_cur, best, ppm, best_at))
    assert got == sorted(want)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=19),
            st.integers(min_value=0, max_value=19),
        ),
        min_size=1,
        max_size=30,
    ),
    seeds=st.sets(st.integers(min_value=0, max_value=19), min_size=1,
                  max_size=5),
    max_hops=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_bfs_hops_equals_python_bfs(spark, edges, seeds, max_hops):
    """Frontier-loop BFS ground truth on arbitrary graph topologies
    (cycles, parallel edges, chains longer than the cap, unreachable
    islands): every emitted (node, dist) must equal a queue BFS from
    the seed set, truncated at max_hops, and nothing beyond the radius
    may appear."""
    from collections import deque

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import dedup as DD

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        edges = [(0, 1)]
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        n = q.popleft()
        if want[n] >= max_hops:
            continue
        for nb in adj.get(n, ()):
            if nb not in want:
                want[nb] = want[n] + 1
                q.append(nb)

    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "doc_id long")
    got = {
        r["node"]: r["dist"]
        for r in DD.bfs_hops(edf, sdf, max_hops).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # orderkey
            st.integers(min_value=1, max_value=3),   # linenumber
            st.sampled_from([0.5, 1.0, 25.0, 50.0, 60.0]),   # quantity
            st.sampled_from([-0.05, 0.0, 0.05, 0.1, 0.2]),   # discount
            st.sampled_from(["A", "N", "R", "X", None]),     # returnflag
            st.sampled_from([-10.0, 0.0, 901.82, 5000.0]),   # price
            st.booleans(),                                   # shipdate null?
        ),
        min_size=1,
        max_size=25,
    ),
    okeys=st.sets(st.integers(min_value=0, max_value=5), min_size=0,
                  max_size=6),
)
@settings(max_examples=40, deadline=None)
def test_r90_oracle_equals_bruteforce_audit(rows, okeys):
    """The audit SQL must equal a from-first-principles Python checker
    on arbitrary tables: exact violation counts per constraint
    (dup-key rows count EVERY row of a duplicated key, orphan rows
    count every row whose key is missing from orders), floor-div ppm,
    and pass booleans."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R90_SQL,
        ORACLES,
    )

    assert ORACLES["r90_quality_audit"] is _R90_SQL
    ship = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "lineitem",
        pd.DataFrame(
            [
                (ok, ln, q, d, rf, p, ship if sd else None)
                for ok, ln, q, d, rf, p, sd in rows
            ],
            columns=[
                "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
                "l_returnflag", "l_extendedprice", "l_shipdate",
            ],
        ),
    )
    con.register("orders", pd.DataFrame({"o_orderkey": sorted(okeys)}))
    got = sorted(tuple(r) for r in con.execute(_R90_SQL).fetchall())

    n = len(rows)
    from collections import Counter

    keyc = Counter((ok, ln) for ok, ln, *_ in rows)
    viol = {
        "pk_unique": sum(c for c in keyc.values() if c > 1),
        "fk_orders": sum(1 for ok, *_ in rows if ok not in okeys),
        "qty_range": sum(1 for _o, _l, q, *_ in rows if q < 1 or q > 50),
        "disc_range": sum(
            1 for _o, _l, _q, d, *_ in rows if d < 0 or d > 0.1
        ),
        "flag_domain": sum(
            1 for _o, _l, _q, _d, rf, *_ in rows
            if rf not in ("A", "N", "R")
        ),
        "price_positive": sum(
            1 for _o, _l, _q, _d, _rf, p, _s in rows if p <= 0
        ),
        "shipdate_complete": sum(
            1 for *_, sd in rows if not sd
        ),
    }
    want = sorted(
        (name, n, v, (1000000 * v) // n, v == 0)
        for name, v in viol.items()
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),  # hour
            st.integers(min_value=0, max_value=9),   # user mod
            st.sampled_from(["click", "error"]),
            st.sampled_from([5.0, 30.0, 80.0, 130.0, 200.0]),
        ),
        min_size=4,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m23_oracle_equals_bruteforce_nb(rows):
    """The Naive Bayes SQL must equal a from-first-principles Python
    trainer+scorer: Laplace-smoothed per-class log-likelihood cells in
    HALF_UP micro-units over the observed vocabulary grid, integer
    argmax with strict-> tie break, per-type + ALL confusion. Corpora
    with a single class are outside the operator's domain (the real
    corpus always has both)."""
    import datetime
    import math

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M23_SQL,
        ORACLES,
    )

    ys = [1 if v > 100.0 else 0 for _h, _u, _et, v in rows]
    assume(len(set(ys)) == 2)
    assert ORACLES["m23_naive_bayes"] is _M23_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(hours=h), 100 + u, et, v, "{}")
                for i, (h, u, et, v) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M23_SQL).fetchall())

    def micro(x):
        return int(math.floor(x * 1000000.0 + 0.5))

    feats = [
        ("hr", lambda r: r[0]),
        ("um", lambda r: (100 + r[1]) % 10),
        ("vkb", lambda r: int(r[3] // 50)),
    ]
    n = len(rows)
    ny = {y: ys.count(y) for y in (0, 1)}
    cnt: dict = {}
    vocab: dict = {}
    for r, y in zip(rows, ys):
        for f, fn_ in feats:
            v = fn_(r)
            cnt[(f, v, y)] = cnt.get((f, v, y), 0) + 1
            vocab.setdefault(f, set()).add(v)
    m = {}
    for f, vs in vocab.items():
        for v in vs:
            for y in (0, 1):
                c = cnt.get((f, v, y), 0)
                m[(f, v, y)] = micro(math.log((c + 1.0) / (ny[y] + len(vs))))
    p = {y: micro(math.log(ny[y] * 1.0 / n)) for y in (0, 1)}
    conf: dict = {}
    for r, y in zip(rows, ys):
        s = {
            cy: p[cy] + sum(m[(f, fn_(r), cy)] for f, fn_ in feats)
            for cy in (0, 1)
        }
        pred = 1 if s[1] > s[0] else 0
        for seg in (r[2], "ALL"):
            c = conf.setdefault(seg, [0, 0, 0, 0, 0])
            c[0] += 1
            c[1] += 1 if (y, pred) == (1, 1) else 0
            c[2] += 1 if (y, pred) == (0, 1) else 0
            c[3] += 1 if (y, pred) == (1, 0) else 0
            c[4] += 1 if (y, pred) == (0, 0) else 0
    want = sorted(
        (seg, c[0], c[1], c[2], c[3], c[4],
         (1000000 * (c[1] + c[4])) // c[0])
        for seg, c in conf.items()
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.floats(min_value=0.0, max_value=20000.0,
                      allow_nan=False, allow_infinity=False),
            st.integers(min_value=0, max_value=23),  # hour
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m24_oracle_equals_bruteforce_threshold(rows):
    """The threshold-tuning SQL must equal a brute-force utility sweep
    over every observed cutoff on arbitrary score/label mixtures —
    including all-one-class segments (NULL rate ppm), tie groups, and
    the higher-threshold tie break."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M18_SC_SQL,
        _M24_BENEFIT,
        _M24_COST,
        _M24_SQL,
        ORACLES,
    )

    assert ORACLES["m24_threshold_tuning"] is _M24_SQL
    base = datetime.datetime(2024, 3, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(hours=h), i % 7, et, v, "{}")
                for i, (et, v, h) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M24_SQL).fetchall())

    sc = con.execute(_M18_SC_SQL).fetchall()
    pairs = list(sc) + [("ALL", s, y) for _t, s, y in sc]
    want = []
    for seg in sorted({t for t, _s, _y in pairs}):
        ps = [(s, y) for t, s, y in pairs if t == seg]
        n_pos = sum(y for _s, y in ps)
        n_neg = len(ps) - n_pos
        best = None
        for thr in sorted({s for s, _y in ps}):
            tp = sum(1 for s, y in ps if y == 1 and s >= thr)
            fp = sum(1 for s, y in ps if y == 0 and s >= thr)
            u = _M24_BENEFIT * tp - _M24_COST * fp
            if best is None or (u, thr) > (best[0], best[1]):
                best = (u, thr, tp, fp)
        u, thr, tp, fp = best
        want.append(
            (seg, n_pos, n_neg, thr, u, tp, fp,
             (1000000 * tp) // n_pos if n_pos else None,
             (1000000 * fp) // n_neg if n_neg else None)
        )
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),       # user
            st.integers(min_value=0, max_value=100000),  # seconds offset
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@settings(max_examples=40, deadline=None)
def test_r92_oracle_equals_bruteforce_bitemporal(rows):
    """The bitemporal SQL must equal a from-first-principles Python
    walk: SCD2 change rows per user ordered by (t, event_id), ingest
    delay (event_id % 7) hours, truth/belief argmax at each probe, and
    the blind/revised classification — on arbitrary event interleavings
    including same-second changes and users born after the probe."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R92_SQL,
        ORACLES,
    )

    assert ORACLES["r92_bitemporal_audit"] is _R92_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(seconds=s), u, et, 1.0, "{}")
                for i, (u, s, et) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_R92_SQL).fetchall())

    _E0 = 1704067200  # epoch of 2024-01-01 (the oracle sees absolutes)
    evs = sorted(
        (s + _E0, i, u, et) for i, (u, s, et) in enumerate(rows)
    )
    mn, mx = evs[0][0], evs[-1][0]
    # SCD2 versions per user, ordered by (t, event_id)
    versions = []  # (user, vf, txf, event_id, et)
    last: dict = {}
    for s, i, u, et in evs:
        if u not in last or last[u] != et:
            versions.append((u, s, s + (i % 7) * 3600, i, et))
            last[u] = et
    probes = [
        (1, mn + (mx - mn) // 2, mn + (mx - mn) // 2),
        (2, mn + (mx - mn) // 2, mn + (3 * (mx - mn)) // 4),
        (3, mn + (mx - mn) // 2, mx),
        (4, mn + (mx - mn) // 4, mx),
    ]
    want = []
    for pid, tv, ttx in probes:
        users = {u for u, vf, *_ in versions if vf <= tv}
        n_users = n_visible = n_blind = n_revised = 0
        for u in users:
            vis = [
                (vf, i, et)
                for uu, vf, txf, i, et in versions
                if uu == u and vf <= tv and txf <= ttx
            ]
            tru = max(
                ((vf, i, et) for uu, vf, _txf, i, et in versions
                 if uu == u and vf <= tv)
            )[2]
            n_users += 1
            if not vis:
                n_blind += 1
            else:
                n_visible += 1
                if max(vis)[2] != tru:
                    n_revised += 1
        want.append((pid, tv, ttx, n_users, n_visible, n_blind, n_revised))
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),  # hour
            st.integers(min_value=0, max_value=30),  # user_id
            st.floats(
                min_value=0.01,
                max_value=300.0,
                allow_nan=False,
                allow_infinity=False,
            ),  # value
        ),
        min_size=4,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m25_oracle_equals_bruteforce_cv(rows):
    """The CV SQL must equal a from-first-principles 4-fold protocol:
    md5 fold assignment, per-fold exhaustive sweep over the OTHER
    folds, deterministic winner ranking, majority-vote evaluation on
    the held-out fold — including folds that vanish (no holdout rows)
    or have no splittable feature."""
    import hashlib
    import math
    from datetime import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M25_SQL,
        ORACLES,
    )

    assert ORACLES["m25_kfold_cv"] is _M25_SQL
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            {
                "event_id": list(range(len(rows))),
                "ts": [datetime(2024, 1, 1, h, 30, 0) for h, _, _ in rows],
                "user_id": [u for _, u, _ in rows],
                "value": [v for _, _, v in rows],
            }
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M25_SQL).fetchall())

    def bkt(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 4

    trip = [
        (bkt(i), (h, u % 10, math.floor(v / 50.0)), 1 if v > 100.0 else 0)
        for i, (h, u, v) in enumerate(rows)
    ]
    want = []
    for k in range(4):
        train = [(fv, y) for b, fv, y in trip if b != k]
        hold = [(fv, y) for b, fv, y in trip if b == k]
        cands = []
        for fi, feat in enumerate(("hr", "um", "vkb")):
            vals = sorted({fv[fi] for fv, _y in train})
            for thr in vals[1:]:
                left = [(fv, y) for fv, y in train if fv[fi] < thr]
                right = [(fv, y) for fv, y in train if fv[fi] >= thr]
                pl = sum(y for _f, y in left)
                pr_ = sum(y for _f, y in right)
                err = min(pl, len(left) - pl) + min(pr_, len(right) - pr_)
                cands.append((err, feat, thr, fi, len(left), pl,
                              len(right), pr_))
        if not cands or not hold:
            continue
        err, feat, thr, fi, nl, pl, nr, pr_ = min(cands)
        pred_l = 1 if 2 * pl > nl else 0
        pred_r = 1 if 2 * pr_ > nr else 0
        fe = sum(
            1
            for fv, y in hold
            if y != (pred_l if fv[fi] < thr else pred_r)
        )
        want.append(
            (k, len(train), feat, thr, err, fe, len(hold),
             (1000000 * fe) // len(hold))
        )
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["click", "error"]),
            st.sampled_from([5.0, 30.0, 80.0, 130.0, 200.0]),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_r93_oracle_equals_bruteforce_aqp(rows):
    """The AQP audit SQL must equal a from-first-principles sampler:
    md5 bucket assignment, nested rate membership (bkt < 64/r), scaled
    integer estimates, and |error| ppm — including empty samples
    (est = 0, error = 1e6)."""
    import datetime
    import hashlib

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R93_SQL,
        ORACLES,
    )

    assert ORACLES["r93_aqp_accuracy"] is _R93_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base, 7, et, v, "{}")
                for i, (et, v) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_R93_SQL).fetchall())

    def bkt(i):
        return int(
            hashlib.md5(f"{i}#aqp".encode()).hexdigest()[:15], 16
        ) % 64

    recs = [
        (et, bkt(i), int(round(v * 100))) for i, (et, v) in enumerate(rows)
    ]
    segs = {et for et, *_ in recs}
    want = []
    for seg in segs | {"ALL"}:
        sel = [r for r in recs if seg == "ALL" or r[0] == seg]
        tn, ts_ = len(sel), sum(c for *_, c in sel)
        for r in (4, 16, 64):
            en = r * sum(1 for _e, b, _c in sel if b < 64 // r)
            es = r * sum(c for _e, b, c in sel if b < 64 // r)
            want.append(
                (seg, r, tn, en, (1000000 * abs(en - tn)) // tn,
                 ts_, es,
                 (1000000 * abs(es - ts_)) // ts_ if ts_ > 0 else None)
            )
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),   # user
            st.integers(min_value=0, max_value=20),  # day offset
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_r94_oracle_equals_bruteforce_dau_wau(rows):
    """The sliding-distinct SQL must equal a brute-force day walk on
    arbitrary activity patterns — including day gaps (the trailing
    window skips missing days but still reaches users active on
    earlier in-window days) and single-day corpora."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R94_SQL,
        ORACLES,
    )

    assert ORACLES["r94_dau_wau"] is _R94_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(days=d, hours=3), u,
                 "click", 1.0, "{}")
                for i, (u, d) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_R94_SQL).fetchall())

    e0 = 1704067200 // 86400  # day number of 2024-01-01
    act: dict = {}
    for u, d in rows:
        act.setdefault(e0 + d, set()).add(u)
    want = []
    for d, us in act.items():
        wau = set()
        for dd in range(d - 6, d + 1):
            wau |= act.get(dd, set())
        want.append(
            (d, len(us), len(wau), (1000000 * len(us)) // len(wau))
        )
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),   # user
            st.sampled_from(["click", "error"]),
            st.sampled_from([5.0, 30.0, 80.0, 130.0, 200.0]),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m26_oracle_equals_bruteforce_ab(rows):
    """The A/B SQL must equal a from-first-principles analysis: parity
    arms, exact integer sums/squares, the identical IEEE mean-diff and
    Welch-z sequences in HALF_UP micro-units, and NULL verdicts for
    missing arms / n<=1 / zero variance."""
    import datetime
    import math

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M26_SQL,
        ORACLES,
    )

    assert ORACLES["m26_ab_test"] is _M26_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base, u, et, v, "{}")
                for i, (u, et, v) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M26_SQL).fetchall())

    def micro(x):
        return int(math.floor(x * 1000000.0 + 0.5))

    segs = {et for _u, et, _v in rows}
    want = []
    for seg in segs | {"ALL"}:
        sel = [
            (u % 2, int(round(v * 100)))
            for u, et, v in rows
            if seg == "ALL" or et == seg
        ]
        st_ = {}
        for arm in (0, 1):
            cs = [c for a, c in sel if a == arm]
            st_[arm] = (len(cs), sum(cs), sum(c * c for c in cs))
        na, sa, qa = st_[0]
        nb, sb, qb = st_[1]
        diff = micro(sb / nb - sa / na) if na > 0 and nb > 0 else None
        va = qa / na - (sa / na) ** 2 if na else 0.0
        vb = qb / nb - (sb / nb) ** 2 if nb else 0.0
        ok = na > 1 and nb > 1 and va > 0 and vb > 0
        zm = (
            micro((sb / nb - sa / na) / math.sqrt(va / na + vb / nb))
            if ok
            else None
        )
        want.append(
            (seg, na, nb, sa, sb, diff, zm,
             abs(zm) > 1959964 if ok else None)
        )
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),      # user
            st.integers(min_value=0, max_value=9000),   # seconds offset
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@settings(max_examples=40, deadline=None)
def test_r95_oracle_equals_bruteforce_paths(rows):
    """The path-mining SQL must equal a brute-force session walk on
    arbitrary event interleavings: 30-min-gap islands, first-4 type
    signatures, frequency ranking with the lexicographic tiebreak."""
    import datetime
    from collections import Counter

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R95_DEPTH,
        _R95_GAP,
        _R95_SQL,
        _R95_TOPK,
        ORACLES,
    )

    assert ORACLES["r95_session_paths"] is _R95_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(seconds=s), u, et, 1.0, "{}")
                for i, (u, s, et) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_R95_SQL).fetchall())

    byu: dict = {}
    for i, (u, s, et) in enumerate(rows):
        byu.setdefault(u, []).append((s, i, et))
    paths = Counter()
    for u, evs in byu.items():
        evs.sort()
        sess: list = []
        prev = None
        for s, i, et in evs:
            if prev is None or s - prev > _R95_GAP:
                if sess:
                    paths[">".join(sess[:_R95_DEPTH])] += 1
                sess = []
            sess.append(et)
            prev = s
        if sess:
            paths[">".join(sess[:_R95_DEPTH])] += 1
    ranked = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))
    want = [
        (p, n, rk)
        for rk, (p, n) in enumerate(ranked[:_R95_TOPK], start=1)
    ]
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2500000),  # seconds offset
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.floats(min_value=0.0, max_value=20000.0,
                      allow_nan=False, allow_infinity=False),
            st.integers(min_value=0, max_value=23),  # hour shift ignored
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m27_oracle_equals_bruteforce_trend(rows):
    """The drift-trend SQL must equal a from-first-principles weekly
    monitor: identical score/decile expression, week-0 reference,
    densified 10-bucket grid, Laplace smoothing, HALF_UP micro
    rounding, per-week integer sums — including weeks with no events
    (absent from the report) and buckets absent from the reference."""
    import datetime
    import math

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M27_NBUCKETS,
        _M27_SQL,
        ORACLES,
    )

    assert ORACLES["m27_score_drift_trend"] is _M27_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(seconds=s), i % 7, et, v, "{}")
                for i, (s, et, v, _h) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M27_SQL).fetchall())

    # buckets from the engine-shared score expression (isolates the
    # weekly machinery from the score arithmetic, the m18-closure
    # pattern)
    sc = con.execute(
        """
        SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
               least(CAST(floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10)
                     AS BIGINT), 9) AS bucket
        FROM (
          SELECT ts, """
        + __import__(
            "fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced",
            fromlist=["_M04_Z"],
        )._M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")
        + " AS z FROM events)"
    ).fetchall()
    mn = min(t for t, _b in sc)
    byw: dict = {}
    for t, b in sc:
        byw.setdefault((t - mn) // 604800, []).append(b)
    ref = byw.get(0, [])
    refc = [sum(1 for b in ref if b == k) for k in range(_M27_NBUCKETS)]
    ref_tot = len(ref)
    want = []
    for w, bs in byw.items():
        if w < 1:
            continue
        live = [sum(1 for b in bs if b == k) for k in range(_M27_NBUCKETS)]
        live_tot = len(bs)
        contribs = []
        for k in range(_M27_NBUCKETS):
            p = (refc[k] + 1.0) / (ref_tot + 10.0)
            q = (live[k] + 1.0) / (live_tot + 10.0)
            contribs.append(
                int(math.floor((p - q) * math.log(p / q) * 1000000.0 + 0.5))
            )
        psi = sum(contribs)
        for k in range(_M27_NBUCKETS):
            want.append((w, k, refc[k], live[k], contribs[k], psi))
    assert got == sorted(want)


@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=4_000_000),  # daily totals
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=60, deadline=None)
def test_m28_closed_form_equals_recurrence(cents):
    """The window closed form P_t - min(0, min P) must equal Page's
    recurrence S_t = max(0, S_(t-1) + x_t - k) on arbitrary series —
    including all-below-allowance runs (S pinned at 0) and immediate
    spikes. Exercised through the oracle SQL so the engine-shared
    formulation is what's proven."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M28_H,
        _M28_K,
        _M28_SQL,
        ORACLES,
    )

    assert ORACLES["m28_cusum_alarm"] is _M28_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    # one synthetic event per day carrying the whole daily total
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(days=i), 7, "click",
                 c / 100.0, "{}")
                for i, c in enumerate(cents)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M28_SQL).fetchall())

    e0 = 1704067200 // 86400
    s = 0
    want = []
    for i, c in enumerate(cents):
        s = max(0, s + c - _M28_K)
        want.append((e0 + i, c, None, s, s > _M28_H))
    # pt is the raw prefix; recompute it rather than carrying None
    pt = 0
    for i, c in enumerate(cents):
        pt += c - _M28_K
        want[i] = (want[i][0], want[i][1], pt, want[i][3], want[i][4])
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),      # user
            st.integers(min_value=0, max_value=9000),   # seconds offset
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@settings(max_examples=40, deadline=None)
def test_r96_oracle_equals_bruteforce_rules(rows):
    """The association-rule SQL must equal a brute-force basket walk:
    identical sessionization, distinct items per basket, ordered-pair
    co-occurrence counts, and the integer ppm support/confidence/lift
    formulas (multiply before floor-divide)."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R95_GAP,
        _R96_SQL,
        ORACLES,
    )

    assert ORACLES["r96_association_rules"] is _R96_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(seconds=s), u, et, 1.0, "{}")
                for i, (u, s, et) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_R96_SQL).fetchall())

    byu: dict = {}
    for i, (u, s, et) in enumerate(rows):
        byu.setdefault(u, []).append((s, i, et))
    baskets = []
    for u, evs in byu.items():
        evs.sort()
        cur: set = set()
        prev = None
        for s, i, et in evs:
            if prev is not None and s - prev > _R95_GAP:
                baskets.append(cur)
                cur = set()
            cur.add(et)
            prev = s
        baskets.append(cur)
    nb = len(baskets)
    from collections import Counter

    item = Counter()
    pair = Counter()
    for bk in baskets:
        for x in bk:
            item[x] += 1
        for x in bk:
            for y in bk:
                if x != y:
                    pair[(x, y)] += 1
    want = sorted(
        (ant, cons, c, item[ant], item[cons],
         (1000000 * c) // nb,
         (1000000 * c) // item[ant],
         (1000000 * c * nb) // (item[ant] * item[cons]))
        for (ant, cons), c in pair.items()
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # user
            st.integers(min_value=0, max_value=25),  # day offset
            st.sampled_from([50.0, 150.0, 250.0]),   # value
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m29_oracle_equals_bruteforce_km(rows):
    """The Kaplan-Meier SQL must equal a from-first-principles survival
    analysis: per-user first-day/first-hit durations, censoring at the
    corpus horizon, at-risk sets from the sorted duration walk, HALF_UP
    micro log steps, and the exact cumulative log-survival — including
    all-censored corpora (empty curve) and day-0 hits."""
    import datetime
    import math

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M29_SQL,
        _M29_THR,
        ORACLES,
    )

    assert ORACLES["m29_kaplan_meier"] is _M29_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(days=d, hours=2), u, "click",
                 v, "{}")
                for i, (u, d, v) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M29_SQL).fetchall())

    byu: dict = {}
    mx = max(d for _u, d, _v in rows)
    for u, d, v in rows:
        f, hit = byu.get(u, (None, None))
        f = d if f is None else min(f, d)
        if v > _M29_THR:
            hit = d if hit is None else min(hit, d)
        byu[u] = (f, hit)
    obs = [
        ((hit - f) if hit is not None else (mx - f),
         1 if hit is not None else 0)
        for f, hit in byu.values()
    ]
    n = len(obs)
    want = []
    cum = 0
    seen = 0
    for dur in sorted({d for d, _e in obs}):
        d_ev = sum(1 for dd, e in obs if dd == dur and e == 1)
        ending = sum(1 for dd, _e in obs if dd == dur)
        n_risk = n - seen
        seen += ending
        if d_ev == 0:
            continue
        if d_ev == n_risk:
            # terminal step: survival hits zero, log undefined -> NULLs
            want.append((dur, n_risk, d_ev, None, None))
            continue
        step = int(
            math.floor(
                math.log((n_risk - d_ev) * 1.0 / n_risk) * 1000000.0 + 0.5
            )
        )
        cum += step
        want.append((dur, n_risk, d_ev, step, cum))
    assert got == sorted(want, key=lambda r: r[0])


@given(
    cents=st.lists(
        st.integers(min_value=1, max_value=4_000_000),  # daily totals > 0
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=40, deadline=None)
def test_r97_oracle_equals_bruteforce_backtest(cents):
    """The backtest SQL must equal the literal definition: prediction =
    the series value seven rows back, exact |error| and per-day APE
    floor-divided — including series shorter than the season (empty
    report)."""
    import datetime

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R97_SQL,
        ORACLES,
    )

    assert ORACLES["r97_forecast_backtest"] is _R97_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(days=i), 7, "click",
                 c / 100.0, "{}")
                for i, c in enumerate(cents)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_R97_SQL).fetchall())

    e0 = 1704067200 // 86400
    want = [
        (e0 + i, c, cents[i - 7], abs(c - cents[i - 7]),
         (1000000 * abs(c - cents[i - 7])) // c)
        for i, c in enumerate(cents)
        if i >= 7
    ]
    assert got == sorted(want)


@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=4_000_000),
        min_size=1,
        max_size=30,
    )
)
# Intercept is exactly -187467.5: HALF_UP must round it away from zero.
@example(cents=[0, 212, 1125229])
@settings(max_examples=40, deadline=None)
def test_m30_oracle_equals_bruteforce_ols(cents):
    """The trend SQL must equal textbook OLS on exact integer moments:
    identical slope/intercept float sequences in HALF_UP micro/unit
    rounding, NULL estimates for single-day series."""
    import datetime
    import decimal

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M30_SQL,
        ORACLES,
    )

    assert ORACLES["m30_trend_ols"] is _M30_SQL
    base = datetime.datetime(2024, 1, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(days=i), 7, "click",
                 c / 100.0, "{}")
                for i, c in enumerate(cents)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = con.execute(_M30_SQL).fetchall()
    assert len(got) == 1

    n = len(cents)
    sx = sum(range(n))
    sy = sum(cents)
    sxx = sum(i * i for i in range(n))
    sxy = sum(i * c for i, c in enumerate(cents))

    def half_up(x):
        # Spark's and DuckDB's round(): half away from zero, so a
        # negative half goes down, not up as floor(x + 0.5) would.
        return int(
            decimal.Decimal(x).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )

    if n > 1 and n * sxx > sx * sx:
        slope = ((n * sxy - sx * sy) * 1.0) / (n * sxx - sx * sx)
        want_slope = half_up(slope * 1000000.0)
        want_icept = half_up((sy * 1.0) / n - slope * ((sx * 1.0) / n))
    else:
        want_slope = want_icept = None
    assert got[0] == (n, sx, sy, sxx, sxy, want_slope, want_icept)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=6),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=40, deadline=None)
def test_l88_oracle_equals_bruteforce_heaps(docs):
    """The vocabulary-growth SQL must equal a brute-force first-seen
    walk: batch totals, min-batch type attribution, and the two
    cumulative curves — including empty docs (no tokens), batches with
    zero new types, and single-char vocabularies."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _L88_BATCH,
        _L88_SQL,
        ORACLES,
    )

    assert ORACLES["l88_vocab_growth"] is _L88_SQL
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    con = _duck()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
            lang="en", source="s", n_chars=[len(t) for _i, t in rows]
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_L88_SQL).fetchall())

    seen: set = set()
    per_batch: dict = {}
    for i, toks in enumerate(docs):
        toks = [t for t in toks if t]
        if not toks:
            continue
        b = i // _L88_BATCH
        tot, new = per_batch.get(b, (0, 0))
        for t in toks:
            tot += 1
            if t not in seen:
                seen.add(t)
                new += 1
        per_batch[b] = (tot, new)
    want = []
    cum_t = cum_v = 0
    for b in sorted(per_batch):
        tot, new = per_batch[b]
        cum_t += tot
        cum_v += new
        want.append((b, tot, cum_t, new, cum_v))
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.floats(min_value=0.0, max_value=20000.0,
                      allow_nan=False, allow_infinity=False),
            st.integers(min_value=0, max_value=23),  # hour
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m31_oracle_equals_bruteforce_brier(rows):
    """The decomposition SQL must equal a from-first-principles Murphy
    split on the engine-shared scores: micro quantization, exact bucket
    sums, HALF_UP micro term rounding, and the integer Brier floor
    division — including single-bucket and single-class corpora."""
    import datetime
    import math

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M31_SQL,
        ORACLES,
    )

    assert ORACLES["m31_brier_decomposition"] is _M31_SQL
    base = datetime.datetime(2024, 3, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(hours=h), i % 7, et, v, "{}")
                for i, (et, v, h) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M31_SQL).fetchall())

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import _M04_Z

    sc = con.execute(
        "SELECT CAST(round((0.5 * (1.0 + z / (1.0 + abs(z)))) * 1000000.0,"
        " 0) AS BIGINT),"
        " least(CAST(floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10)"
        " AS BIGINT), 9),"
        " CASE WHEN value > 100.0 THEN 1 ELSE 0 END"
        " FROM (SELECT value, "
        + _M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")
        + " AS z FROM events)"
    ).fetchall()

    def micro(x):
        return int(math.floor(x * 1000000.0 + 0.5))

    byb: dict = {}
    for pm, k, y in sc:
        n, sy, sp, sq = byb.get(k, (0, 0, 0, 0))
        byb[k] = (n + 1, sy + y, sp + pm, sq + (pm - 1000000 * y) ** 2)
    gn = sum(v[0] for v in byb.values())
    gy = sum(v[1] for v in byb.values())
    gsq = sum(v[3] for v in byb.values())
    rel_t = sum(
        micro(n * ((sp / n / 1e6) - (sy / n)) ** 2)
        for n, sy, sp, _sq in byb.values()
    )
    res_t = sum(
        micro(n * ((sy / n) - (gy / gn)) ** 2)
        for n, sy, _sp, _sq in byb.values()
    )
    unc = micro((gy / gn) * (1.0 - gy / gn))
    brier = gsq // (gn * 1000000)
    want = sorted(
        (k, n, sy, sp, sq,
         micro(n * ((sp / n / 1e6) - (sy / n)) ** 2),
         micro(n * ((sy / n) - (gy / gn)) ** 2),
         rel_t, res_t, unc, brier)
        for k, (n, sy, sp, sq) in byb.items()
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase", "error",
                             "signup"]),
            st.floats(min_value=0.0, max_value=20000.0,
                      allow_nan=False, allow_infinity=False),
            st.integers(min_value=0, max_value=23),  # hour
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_m32_oracle_equals_bruteforce_mcnemar(rows):
    """The McNemar SQL must equal a from-first-principles paired test
    on the engine-shared predictions: discordant counts from the exact
    (y, pred_a, pred_b) triples, the (b-c)^2*1e6/(b+c) HALF_UP micro
    statistic, and NULL verdicts when no discordant pair exists."""
    import datetime
    import math

    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M32_CRIT,
        _M32_SQL,
        ORACLES,
    )

    assert ORACLES["m32_mcnemar_model_compare"] is _M32_SQL
    base = datetime.datetime(2024, 3, 1)
    con = _duck()
    con.register(
        "events",
        pd.DataFrame(
            [
                (i, base + datetime.timedelta(hours=h), i % 7, et, v, "{}")
                for i, (et, v, h) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_M32_SQL).fetchall())

    # triples from the engine-shared prediction expressions (slice the
    # sc CTE out of the registered SQL so the closure can never drift
    # from the shipped predicates)
    trip = con.execute(
        "WITH sc AS (" + _M32_SQL.split("WITH sc AS (", 1)[1]
        .split("    seg AS (", 1)[0].rstrip().rstrip(",")
        + " SELECT event_type, y, pa, pb FROM sc"
    ).fetchall()
    want = []
    segs = {t for t, *_ in trip}
    for seg in segs | {"ALL"}:
        sel = [
            (y, pa, pb)
            for t, y, pa, pb in trip
            if seg == "ALL" or t == seg
        ]
        n = len(sel)
        a_ok = sum(1 for y, pa, _pb in sel if pa == y)
        b_ok = sum(1 for y, _pa, pb in sel if pb == y)
        b_cnt = sum(1 for y, pa, pb in sel if pa == y and pb != y)
        c_cnt = sum(1 for y, pa, pb in sel if pa != y and pb == y)
        if b_cnt + c_cnt > 0:
            stat = int(
                math.floor(
                    ((b_cnt - c_cnt) ** 2) * 1000000.0 / (b_cnt + c_cnt)
                    + 0.5
                )
            )
            sig = stat > _M32_CRIT
        else:
            stat = sig = None
        want.append((seg, n, a_ok, b_ok, b_cnt, c_cnt, stat, sig))
    assert got == sorted(want)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=12),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_l89_oracle_equals_bruteforce_memorization(docs):
    """The memorization SQL must equal a brute-force gram walk: distinct
    word 8-grams per doc, cross-document sharing from exact doc
    frequencies, integer ppm — including docs below 8 words (absent
    from the report) and fully duplicated docs (1e6 ppm)."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _L89_SQL,
        ORACLES,
    )

    assert ORACLES["l89_memorization_profile"] is _L89_SQL
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    con = _duck()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
            lang="en", source="s", n_chars=[len(t) for _i, t in rows]
        ),
    )
    got = sorted(tuple(r) for r in con.execute(_L89_SQL).fetchall())

    grams = {
        i: {
            " ".join(toks[p:p + 8])
            for p in range(len(toks) - 7)
        }
        for i, toks in enumerate(docs)
        if len(toks) >= 8
    }
    from collections import Counter

    dfc = Counter(g for gs in grams.values() for g in gs)
    want = sorted(
        (i, len(gs),
         sum(1 for g in gs if dfc[g] >= 2),
         (1000000 * sum(1 for g in gs if dfc[g] >= 2)) // len(gs))
        for i, gs in grams.items()
        if gs
    )
    assert got == want


def _brute_skyline(pts):
    """O(n^2) dominance reference: survivor iff no other point is
    later-or-equal AND cheaper-or-equal with one strict."""
    out = []
    for i, (ki, di, pi) in enumerate(pts):
        dominated = any(
            (dj >= di and pj <= pi and (dj > di or pj < pi))
            for j, (kj, dj, pj) in enumerate(pts)
            if j != i
        )
        if not dominated:
            out.append((ki, di, pi))
    return sorted(out)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 400),  # day
            st.integers(1, 50),  # cents (small domain forces ties)
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=30, deadline=None)
def test_skyline_front_matches_brute_force(spark, dp):
    """The day-bucketed skyline lowering equals brute-force dominance on
    arbitrary points — including duplicate (day, cents) pairs and
    same-day ties, the corners the day-min formulation must get right."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        skyline_front,
    )

    pts = [(i, d, p) for i, (d, p) in enumerate(dp)]
    df = spark.createDataFrame(
        pts, "o_orderkey LONG, d LONG, cents LONG"
    )
    got = sorted(tuple(r) for r in skyline_front(df).collect())
    assert got == _brute_skyline(pts)


@given(
    st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from("xyzw")),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=25, deadline=None)
def test_chi_square_matches_pure_python(spark, pairs):
    """The shared cell formula is the one thing oracle parity cannot
    check (both engines evaluate the same expression text) — so rebuild
    chi-square independently in pure Python over the generated
    contingency (floats for the IEEE terms, half-up rounding like SQL
    round) and require the grid, statistic, dof, and Cramer's V to
    match within 1 micro per term."""
    import math

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        chi_square_report,
    )

    df = spark.createDataFrame(pairs, "r STRING, c STRING")
    got = {
        (row.pr, row.st): row
        for row in chi_square_report(df, "r", "c").collect()
    }
    # pure-python reference
    from collections import Counter

    obs = Counter(pairs)
    rt = Counter(r for r, _ in pairs)
    ct = Counter(c for _, c in pairs)
    n = len(pairs)
    chi2 = 0
    half_up = lambda v: math.floor(v + 0.5)  # noqa: E731
    cells = {}
    for r in rt:
        for c in ct:
            e = (rt[r] * ct[c]) / n
            o = obs.get((r, c), 0)
            contrib = half_up(1000000.0 * (o - e) ** 2 / e)
            cells[(r, c)] = (o, half_up(1000000.0 * e), contrib)
            chi2 += contrib
    dof = (len(rt) - 1) * (len(ct) - 1)
    assert set(got) == set(cells)
    for k, (o, e_micro, contrib) in cells.items():
        row = got[k]
        assert row.observed == o
        assert abs(row.expected_micro - e_micro) <= 1
        assert abs(row.contrib_micro - contrib) <= 1
        assert abs(row.chi2_micro - chi2) <= len(cells)
        assert row.dof == dof
        if dof > 0:
            v = half_up(
                1000000.0 * math.sqrt((row.chi2_micro / 1000000.0) / (n * min(len(rt) - 1, len(ct) - 1)))
            )
            assert abs(row.cramers_v_micro - v) <= 1


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),  # segment
            st.integers(0, 5),  # quantized score level
            st.integers(0, 1),  # label
        ),
        min_size=1,
        max_size=80,
    )
)
@settings(max_examples=25, deadline=None)
def test_average_precision_matches_integer_brute(spark, rows):
    """AP from the histogram pipeline vs a pure-integer Python walk over
    the same quantized scores — floor divisions and the tie-collapsing
    step convention must agree EXACTLY (everything is int64, no float
    tolerance)."""
    from collections import defaultdict

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        m35_ap_from_counts,
    )

    hist = defaultdict(lambda: [0, 0])
    for seg, s, y in rows:
        hist[(seg, s)][0 if y else 1] += 1
    per = spark.createDataFrame(
        [
            (seg, float(s), pos, neg)
            for (seg, s), (pos, neg) in hist.items()
        ],
        "event_type STRING, s DOUBLE, n_pos_s LONG, n_neg_s LONG",
    )
    got = {r.segment: (r.n_pos, r.n_neg, r.ap_ppm) for r in m35_ap_from_counts(per).collect()}

    def brute(pairs):
        levels = defaultdict(lambda: [0, 0])
        for s, y in pairs:
            levels[s][0 if y else 1] += 1
        tp = fp = acc = 0
        for s in sorted(levels, reverse=True):
            pos, neg = levels[s]
            tp += pos
            fp += neg
            acc += pos * ((1000000 * tp) // (tp + fp))
        n_pos = sum(v[0] for v in levels.values())
        n_neg = sum(v[1] for v in levels.values())
        return n_pos, n_neg, (acc // n_pos if n_pos else None)

    segs = {seg for seg, _, _ in rows}
    for seg in segs:
        assert got[seg] == brute([(s, y) for g, s, y in rows if g == seg])
    assert got["ALL"] == brute([(s, y) for _, s, y in rows])


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 1)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=25, deadline=None)
def test_gains_lift_matches_integer_brute(spark, sy):
    """m36's level-aligned decile prefixes vs a pure-integer Python walk
    — exact equality (everything is int64 floor arithmetic)."""
    from collections import defaultdict

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        m36_gains_from_hist,
    )

    levels = defaultdict(lambda: [0, 0])
    for s, y in sy:
        levels[s][0] += y
        levels[s][1] += 1
    hist = spark.createDataFrame(
        [(float(s), p, n) for s, (p, n) in levels.items()],
        "s DOUBLE, n_pos_s LONG, n_s LONG",
    )
    got = {
        r.decile: (r.cut_n, r.used_n, r.captured_pos, r.capture_ppm, r.lift_ppm)
        for r in m36_gains_from_hist(hist).collect()
    }
    n = sum(v[1] for v in levels.values())
    n_pos = sum(v[0] for v in levels.values())
    for d in range(1, 11):
        cut = n * d // 10
        cum_n = cum_pos = used_n = used_pos = 0
        for s in sorted(levels, reverse=True):
            cum_pos += levels[s][0]
            cum_n += levels[s][1]
            if cum_n <= cut:
                used_n, used_pos = cum_n, cum_pos
        cap = (1000000 * used_pos) // n_pos if n_pos else None
        lift = (
            (1000000 * used_pos * n) // (used_n * n_pos)
            if used_n and n_pos
            else None
        )
        assert got[d] == (cut, used_n, used_pos, cap, lift)


@given(
    st.lists(st.integers(-20, 20), min_size=1, max_size=80),
)
@settings(max_examples=25, deadline=None)
def test_equidepth_matches_integer_brute(spark, vs):
    """r100's multiply-first boundary pick vs a Python cumulative walk —
    exact equality, including heavy ties and negative values."""
    from collections import Counter

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R100_B,
        equidepth_boundaries,
    )

    vals = spark.createDataFrame(
        [("c", v) for v in vs], "col STRING, v LONG"
    )
    got = {
        r.k: (r.boundary, r.cum_at_boundary, r.n)
        for r in equidepth_boundaries(vals).collect()
    }
    n = len(vs)
    cnt = sorted(Counter(vs).items())
    for k in range(1, _R100_B + 1):
        cum = 0
        for v, c in cnt:
            cum += c
            if cum * _R100_B >= n * k:
                assert got[k] == (v, cum, n)
                break


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=3,
        max_size=50,
    )
)
@settings(max_examples=20, deadline=None)
def test_spearman_matches_scipy_free_brute(spark, xy):
    """m37's doubled-midrank moments vs a pure-Python Spearman with the
    textbook midrank convention — within 2 micro (one shared IEEE
    round at the end)."""
    import math
    from collections import Counter

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M37_D,
        _M37_RHO,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # degenerate: zero variance in either column -> division by zero;
    # the real columns always vary, exclude like the m13 closure does
    assume(len({a for a, _ in xy}) > 1 and len({b for _, b in xy}) > 1)

    def midranks(vals):
        cnt = Counter(vals)
        out, cum = {}, 0
        for v in sorted(cnt):
            out[v] = cum + (cnt[v] + 1) / 2
            cum += cnt[v]
        return [out[v] for v in vals]

    rx, ry = midranks([a for a, _ in xy]), midranks([b for _, b in xy])
    n = len(xy)
    mx, my = sum(rx) / n, sum(ry) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    vx = sum((a - mx) ** 2 for a in rx)
    vy = sum((b - my) ** 2 for b in ry)
    want = cov / math.sqrt(vx * vy) * 1e6

    v = spark.createDataFrame(xy, "x LONG, y LONG").localCheckpoint()

    def dranks(col, out):
        c = v.groupBy(col).agg(F.count("*").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return c.select(
            col,
            (2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1).alias(out),
        )

    j = v.join(dranks("x", "dx"), "x").join(dranks("y", "dy"), "y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = j.agg(
        F.count("*").alias("n"),
        F.sum(dec("dx")).alias("sx"),
        F.sum(dec("dy")).alias("sy"),
        F.sum(dec("dx") * dec("dx")).alias("sxx"),
        F.sum(dec("dy") * dec("dy")).alias("syy"),
        F.sum(dec("dx") * dec("dy")).alias("sxy"),
    )
    got = (
        mom.selectExpr("n", *_M37_D.split(", "))
        .selectExpr(f"{_M37_RHO} AS rho")
        .collect()[0][0]
    )
    assert abs(got - want) <= 2, (got, want)


@given(
    st.lists(st.integers(0, 40), min_size=2, max_size=60),
    st.sampled_from([50, 90, 99]),
)
@settings(max_examples=25, deadline=None)
def test_percentile_cont_matches_numpy(spark, vals, k):
    """r105's integer-interpolated PERCENTILE_CONT vs numpy's 'linear'
    quantile — exact in micro (both compute v_lo + (v_hi-v_lo)*frac at
    the same rational position; the engine never touches floats)."""
    import numpy as np

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R105_KS,
    )

    assume(k in _R105_KS)
    # replicate the engine arithmetic in pure ints
    s = sorted(vals)
    n = len(s)
    g_num = (n - 1) * k  # position x 100
    lo_idx = g_num // 100
    frac_micro = (g_num % 100) * 1000000 // 100
    v_lo = s[lo_idx]
    v_hi = s[min(lo_idx + 1, n - 1)]
    mine = v_lo * 1000000 + (v_hi - v_lo) * frac_micro
    want = np.quantile(np.array(s, dtype=float), k / 100, method="linear")
    # numpy's float result can sit an ulp off the rational; compare
    # at micro resolution with 1-micro slack
    assert abs(mine - round(want * 1000000)) <= 1, (mine, want)


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(1, 30)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=20, deadline=None)
def test_sliding_median_matches_brute(spark, dv):
    """r103's histogram-inversion trailing median vs a Python sort over
    each day's trailing window — exact (lower-median convention)."""
    from collections import Counter

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R103_W,
        sliding_median_from_hist,
    )

    hist = Counter(dv)
    df = spark.createDataFrame(
        [(d, v, c) for (d, v), c in hist.items()],
        "d LONG, cents LONG, c LONG",
    )
    got = {
        r.day_num: (r.n_vals, r.median_cents)
        for r in sliding_median_from_hist(df).collect()
    }
    d1 = max(d for d, _ in dv)
    want = {}
    for wd in {d for d, _ in dv} | {
        dd for d, _ in dv for dd in range(d, min(d + _R103_W, d1 + 1))
    }:
        vals = sorted(
            v for d, v in dv if wd - _R103_W < d <= wd
        )
        if vals:
            want[wd] = (len(vals), vals[(len(vals) - 1) // 2])
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),  # user
            st.integers(0, 20),  # day
            st.integers(-50, 500),  # cents
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=20, deadline=None)
def test_decayed_leaderboard_matches_integer_brute(spark, rows):
    """r104's table-and-shift decay vs a pure-integer Python fold —
    exact equality (no float ever runs on either side)."""
    from collections import defaultdict

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _R104_FRAC,
        _R104_TOPK,
        decayed_leaderboard_from_daily,
    )

    daily = defaultdict(lambda: [0, 0])
    for u, d, c in rows:
        daily[(u, d)][0] += c
        daily[(u, d)][1] += 1
    df = spark.createDataFrame(
        [(u, d, s, n) for (u, d), (s, n) in daily.items()],
        "user_id LONG, d LONG, day_cents LONG, n LONG",
    )
    got = [
        (r.rk, r.user_id, r.decayed_micro_cents, r.n_events)
        for r in decayed_leaderboard_from_daily(df)
        .orderBy("rk")
        .collect()
    ]
    d1 = max(d for _, d, _ in rows)
    score = defaultdict(int)
    nev = defaultdict(int)
    for (u, d), (s, n) in daily.items():
        age = d1 - d
        w = _R104_FRAC[age % 7] // (1 << min(age // 7, 62))
        score[u] += s * w
        nev[u] += n
    ranked = sorted(score, key=lambda u: (-score[u], u))[:_R104_TOPK]
    want = [
        (i + 1, u, score[u], nev[u]) for i, u in enumerate(ranked)
    ]
    assert got == want


def test_m38_poisson_thresholds_exact():
    """The embedded 2^60-scale Poisson(1) CDF thresholds must equal the
    closed form floor(cdf_k * 2^60) recomputed from scratch — and the
    implied weight distribution must sum to ~1."""
    import math

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M38_T,
    )

    cdf = 0.0
    for k, t in enumerate(_M38_T):
        cdf += math.exp(-1) / math.factorial(k)
        assert t == math.floor(cdf * (1 << 60)), k
    assert 1.0 - cdf < 2e-5  # weight-8 tail is negligible (~1.02e-5)


@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 1)),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=25, deadline=None)
def test_kappa_and_mcc_match_pure_python(spark, pb):
    """m39's kappa and m40's MCC shared expressions vs pure-Python
    formulas over the same integer contingency — within 1 micro."""
    import math

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M39_K,
        _M40_MCC,
    )
    from pyspark.sql import functions as F

    n = len(pb)
    agree = sum(1 for a, b in pb if a == b)
    a1 = sum(a for a, _ in pb)
    b1 = sum(b for _, b in pb)
    a0, b0 = n - a1, n - b1
    row = spark.createDataFrame(
        [(n, agree, a1, a0, b1, b0)],
        "n LONG, agree LONG, a1 LONG, a0 LONG, b1 LONG, b0 LONG",
    )
    pe_sum = a1 * b1 + a0 * b0
    if n * n > pe_sum:
        got = row.selectExpr(f"{_M39_K} AS k").collect()[0][0]
        want = 1e6 * (n * agree - pe_sum) / (n * n - pe_sum)
        assert abs(got - want) <= 1, (got, want)
    # MCC treats (a, b) as (prediction, truth)
    tp = sum(1 for a, b in pb if a == 1 and b == 1)
    tn = sum(1 for a, b in pb if a == 0 and b == 0)
    fp = sum(1 for a, b in pb if a == 1 and b == 0)
    fn = sum(1 for a, b in pb if a == 0 and b == 1)
    denom = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    if denom > 0:
        row2 = spark.createDataFrame(
            [(tp, tn, fp, fn)], "tp LONG, tn LONG, fp LONG, fn LONG"
        )
        got = row2.selectExpr(f"{_M40_MCC} AS m").collect()[0][0]
        want = 1e6 * (tp * tn - fp * fn) / math.sqrt(denom)
        assert abs(got - want) <= 1, (got, want)


@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=3,
        max_size=50,
    )
)
@settings(max_examples=20, deadline=None)
def test_pearson_moments_match_numpy(spark, xy):
    """m34's moment-formula r (DECIMAL sums -> one shared expression) vs
    numpy corrcoef — within 2 micro."""
    import numpy as np

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M34_R,
    )
    from pyspark.sql import functions as F

    xs = [a for a, _ in xy]
    ys = [b for _, b in xy]
    assume(len(set(xs)) > 1 and len(set(ys)) > 1)
    df = spark.createDataFrame(xy, "qty LONG, cents LONG")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = df.agg(
        F.count("*").alias("n"),
        F.sum(dec("qty")).alias("s_qty"),
        F.sum(dec("cents")).alias("s_cents"),
        F.sum(dec("qty") * dec("qty")).alias("s_qtyqty"),
        F.sum(dec("cents") * dec("cents")).alias("s_centscents"),
        F.sum(dec("qty") * dec("cents")).alias("s_qtycents"),
    )
    got = mom.selectExpr(
        _M34_R.format(x="qty", y="cents") + " AS r"
    ).collect()[0][0]
    want = np.corrcoef(np.array(xs, float), np.array(ys, float))[0, 1] * 1e6
    assert abs(got - want) <= 2, (got, want)


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(-100, 100)),
        min_size=2,
        max_size=25,
        unique_by=lambda t: t[0],  # one total per day
    )
)
@settings(max_examples=8, deadline=None)
def test_theil_sen_matches_brute(spark, days):
    """m41's windowed median-of-slopes vs a pure-Python pairwise walk —
    exact rational comparison, lower-median convention, even and odd
    pair counts."""
    from fractions import Fraction

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        _M41_SQL,  # noqa: F401  (existence pin)
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    daily = spark.createDataFrame(days, "d LONG, cents LONG")
    a = daily.select(F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("cents").alias("cb"))
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        (F.col("cb") - F.col("ca")).alias("dy"),
        (F.col("db") - F.col("da")).alias("dx"),
    )
    w = Window.orderBy(F.expr("dy * 1.0 / dx"), F.col("dy"), F.col("dx"))
    ranked = pairs.select(
        "dy", "dx",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("np"),
    )
    got = (
        ranked.where(F.col("rk") == F.expr("(np + 1) div 2"))
        .selectExpr("dy", "dx", "CAST((1000000 * dy) div dx AS BIGINT) AS s")
        .collect()[0]
    )
    slopes = sorted(
        (
            Fraction(c2 - c1, d2 - d1),
            c2 - c1,
            d2 - d1,
        )
        for i, (d1, c1) in enumerate(days)
        for (d2, c2) in days[i + 1 :]
        if d2 > d1
    ) + sorted(
        (
            Fraction(c1 - c2, d1 - d2),
            c1 - c2,
            d1 - d2,
        )
        for i, (d1, c1) in enumerate(days)
        for (d2, c2) in days[i + 1 :]
        if d2 < d1
    )
    slopes = sorted(slopes)
    med = slopes[(len(slopes) + 1) // 2 - 1]
    # the engine orders by the IEEE double of each slope (ties broken by
    # (dy, dx)), so rationals within an ulp of each other may swap — the
    # picked VALUE can differ from the exact-rational median only by
    # that ulp; assert at micro resolution with 1-micro slack
    want_micro = (1000000 * med[1]) // med[2]
    assert abs(got.s - want_micro) <= 1, (got, med)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.integers(0, 10),  # second
            st.integers(-300, 300),  # signed cents move
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=25, deadline=None)
def test_clamped_balance_matches_sequential_recurrence(spark, rows):
    """r123's closed-form clamp (B_n = S_n - min(0, prefix-min S)) vs
    the literal sequential recurrence B_n = max(B_{n-1} + x, 0) —
    exact, including floor-hit counting and peak tracking."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        clamped_balance_from_moves,
    )

    mv = [(u, es, i, x) for i, (u, es, x) in enumerate(rows)]
    df = spark.createDataFrame(
        mv, "user_id LONG, es LONG, event_id LONG, x LONG"
    )
    got = {
        r.user_id: (
            r.n_moves,
            r.final_balance_cents,
            r.peak_cents,
            r.floor_hits,
        )
        for r in clamped_balance_from_moves(df).collect()
    }
    want = {}
    for u in sorted({m[0] for m in mv}):
        b, peak, hits, n = 0, None, 0, 0
        for _, es, eid, x in sorted(
            (m for m in mv if m[0] == u), key=lambda m: (m[1], m[2])
        ):
            if b + x < 0:
                hits += 1
            b = max(b + x, 0)
            peak = b if peak is None else max(peak, b)
            n += 1
        want[u] = (n, b, peak, hits)
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["u", "v", "w"]),
            st.integers(min_value=-(10**18), max_value=8 * 10**18),
            st.one_of(st.none(), st.integers(min_value=-(10**18), max_value=8 * 10**18)),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_kstream_to_table_order_matches_tuple_max(spark, rows):
    """Property pin for the ADVICE-r9 to_table fix: for ANY mix of
    negative / positive / NULL order values across the documented
    domain, compaction picks exactly the row a Python tuple-max over
    (t1, t2) picks — NULL ordering as the minimum, value ordering
    numeric (never lexicographic over padded strings)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import KStream

    data = [(k, f"v{i}", t1, t2) for i, (k, t1, t2) in enumerate(rows)]
    df = spark.createDataFrame(data, "key STRING, value STRING, t1 LONG, t2 LONG")
    got = {r.key: r.value for r in KStream(df).to_table(["t1", "t2"]).df.collect()}

    lo = -(10**18)
    best: dict[str, tuple] = {}
    for k, v, t1, t2 in data:
        ordk = (t1 if t1 is not None else lo, t2 if t2 is not None else lo)
        # ties: max_by is free to pick either; only assert on keys whose
        # max order tuple is unique
        if k not in best or ordk > best[k][0]:
            best[k] = (ordk, v, 1)
        elif ordk == best[k][0]:
            best[k] = (ordk, best[k][1], best[k][2] + 1)
    for k, (ordk, v, n_ties) in best.items():
        if n_ties == 1:
            assert got[k] == v, (k, ordk, got[k], v)


def test_events_proj_wire_cache_shares_and_separates(spark):
    """The projection-keyed wire cache must HIT for an identical
    projection (same dir back) and MISS for a different one — a key
    collision would silently feed one twin another twin's stream."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import streaming_queries as sq

    sf_dir = "/root/testdata/sf0.001"
    p1 = lambda t: [(t / 86400).cast("long").alias("d")]  # noqa: E731
    p2 = lambda t: [(t / 3600).cast("long").alias("d")]  # noqa: E731
    d1 = sq._events_proj_wire(spark, sf_dir, p1)
    d1b = sq._events_proj_wire(spark, sf_dir, p1)
    d2 = sq._events_proj_wire(spark, sf_dir, p2)
    assert d1 == d1b and d1 != d2
