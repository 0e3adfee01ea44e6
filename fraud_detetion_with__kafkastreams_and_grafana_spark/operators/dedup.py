"""Deduplication operators for LLM training-data pipelines: exact,
MinHash+LSH, SimHash, and blocked n-gram Jaccard.

All four are pure DataFrame compositions (no Python UDFs): shingling and
hashing via higher-order array functions + xxhash64, candidate generation
via band/bucket equi-joins — the classic LSH-join shape that scales
linearly with corpus size instead of the O(n^2) all-pairs compare.

Scale notes per operator are in the docstrings; the common theme: nothing
here ever compares all pairs — candidates come from hash-bucket joins, and
verification runs only on candidates.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from ..functions.text import polyhash, tokens


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Spread the compute-heavy per-document stage across the session's
    shuffle width. A local parquet table often arrives as ONE file = ONE
    partition, which would run the shingle/hash/signature computation
    single-threaded (observed: 3x slowdowns); one cheap (id, text) shuffle
    buys full-width parallelism. At cluster scale the source is already
    partitioned and this hash-repartition is a no-op cost-wise relative
    to the hash work it feeds."""
    return df.repartition(F.col(id_col))


def _persist_reused(df: DataFrame) -> DataFrame:
    """Persist an expensive intermediate that the downstream plan consumes
    more than once (LSH banding + per-side verification): without this the
    tokenize/hash work re-executes per consumer. MEMORY_AND_DISK so large
    corpora spill instead of OOM; at 100 TB the equivalent move is
    materializing the signature table to storage once and reusing it.
    Spark's cache manager keys on the canonicalized plan, so repeated
    calls share one cache entry instead of stacking copies."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _materialize_reused(df: DataFrame) -> DataFrame:
    """EAGERLY materialize an expensive intermediate whose consumers run
    CONCURRENTLY (the two map stages of an LSH band/chunk self-join).
    A lazy ``persist`` is populated by whichever stage computes a
    partition first — but Spark submits both join sides at once, so the
    signature computation raced itself and ran TWICE (measured: the two
    banded exchanges of l03/l43 each carried the full shingle+hash CPU).
    An eager localCheckpoint computes the frame exactly once and every
    consumer scans the stored blocks (guide §2.4: remove duplicated
    passes before tuning what's inside them); it also truncates lineage,
    which keeps downstream planning cheap. At 100 TB the equivalent is
    writing the signature table once and reusing it."""
    return df.localCheckpoint(eager=True)


def normalized_text(text_col="text") -> F.Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized text: one hash-aggregate, keep min id.

    groupBy(text) shuffles full text strings; at 100 TB hash first —
    groupBy(xxhash64(text)) moves 8 bytes per doc instead of the document
    (collision probability ~n^2/2^64 — negligible below ~10^9 docs; for
    audit-grade dedup group on (hash, text)). We group on the hash and keep
    min(id) + count.
    """
    return (
        df.select(F.col(id_col), F.xxhash64(normalized_text(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# --- Arrow-vectorized twins of the shingle/hash expressions -----------------
#
# Spark's higher-order array functions (transform/aggregate with lambdas)
# are CodegenFallback: every element evaluates an interpreted expression
# tree with boxing. Measured at sf0.1 (guide §1/§4): the 3-gram
# `shingles()` expression alone cost ~11-18 executor-CPU-seconds per
# evaluation over 5,000 documents — dwarfing the hash math it feeds. The
# pandas_udf twins below do the identical string work batch-wise in the
# Python worker (guide §4.2: hand whole Arrow batches to native/loop code
# instead of per-element interpreted trees) and were verified
# element-for-element equal to the expression forms on the full corpus
# (and stay oracle-checked through l43/l44 value hashes). Only the
# worker-side implementation changes; the produced VALUES are identical.

_SH_JAVA_WS = None  # compiled [ \t\n\x0b\f\r]+ — Java's \s, NOT Python's


def _shingle_arrow(n: int):
    """pandas_udf twin of ``shingles(col, n)`` (distinct word n-grams,
    first-occurrence order, Java-\\s tokenization, space-only trim)."""
    import re

    import pandas as pd

    global _SH_JAVA_WS
    if _SH_JAVA_WS is None:
        _SH_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
    ws = _SH_JAVA_WS

    def sh(texts):
        out = []
        for t in texts:
            if t is None:
                # expression-form faithful: n=1 is array_distinct(split)
                # over NULL -> NULL; n>=2 walks greatest(size(NULL)-k, 1)
                # = 1 index over NULL tokens -> concat_ws of NULLs -> [""]
                out.append(None if n == 1 else [""])
                continue
            toks = ws.split(t.strip(" "))
            if n == 1:
                out.append(list(dict.fromkeys(toks)))
                continue
            m = max(len(toks) - (n - 1), 1)
            out.append(
                list(
                    dict.fromkeys(
                        " ".join(toks[i : i + n]) for i in range(m)
                    )
                )
            )
        return pd.Series(out)

    return F.pandas_udf(sh, "array<string>")


def _minhash_poly_arrow(num_hashes: int):
    """One-pass pandas_udf for the l43 base: text -> struct(sh, sig).

    Computes — with values identical to the expression forms — the
    distinct word 3-gram shingles, the polynomial rolling hash of each
    (h = (31*h + codepoint) mod 1e9+7, the exact `polyhash` fold), and
    the `num_hashes` affine-permutation minima
    min_j (a_i*h_j + b_i) mod p as an int64 numpy matrix op
    (a_i*h_j < p^2 < 2^63, so numpy int64 arithmetic is exact). One
    Arrow pass replaces three CodegenFallback higher-order expressions."""
    import re

    import numpy as np
    import pandas as pd

    p = 1_000_000_007
    a = np.array(MINHASH_A[:num_hashes], dtype=np.int64)[:, None]
    b = np.array(MINHASH_B[:num_hashes], dtype=np.int64)[:, None]
    ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, NOT Python's
    # 31^k mod p. The per-string fold h=(31h+cp)%p equals
    # (sum_j cp_j * 31^(L-1-j)) mod p; with cp < 0x110000 and factors < p,
    # each product is < 1.2e15 and a sum over strings up to ~7,000 chars
    # stays inside int64 — so the whole batch reduces to one vectorized
    # multiply + segmented sum. Shingles are 3 words; the guard below
    # falls back to the scalar fold if an absurd string ever shows up.
    _pow31 = np.ones(4096, dtype=np.int64)
    for _k in range(1, 4096):
        _pow31[_k] = (_pow31[_k - 1] * 31) % p

    def f(texts):
        shs = []
        doc_nsh = []
        flat: list[str] = []
        for t in texts:
            if t is None:
                # expression-form faithful (unreachable behind the
                # trim(text) != '' filter, but keep the twin exact):
                # the n=3 shingle of NULL text is [""], see _shingle_arrow
                toks = [""]
                m = 1
                sh = [""]
                shs.append(sh)
                doc_nsh.append(1)
                flat.extend(sh)
                continue
            toks = ws.split(t.strip(" "))
            m = max(len(toks) - 2, 1)
            sh = list(
                dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(m))
            )
            shs.append(sh)
            doc_nsh.append(len(sh))
            flat.extend(sh)
        if flat:
            lens = np.fromiter(
                (len(s) for s in flat), dtype=np.int64, count=len(flat)
            )
            if int(lens.max()) >= 4096:  # pathological: exact scalar fold
                hs_flat = np.array(
                    [
                        _poly_scalar(s, p)
                        for s in flat
                    ],
                    dtype=np.int64,
                )
            else:
                cps = np.frombuffer(
                    "".join(flat).encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                ends = np.cumsum(lens)
                starts = ends - lens
                exps = np.repeat(ends - 1, lens) - np.arange(len(cps))
                prod = cps * _pow31[exps]
                # zero-length shingles contribute an empty segment:
                # reduceat needs strictly valid offsets, so sum via
                # add.reduceat over starts with empty-run correction
                hs_flat = np.zeros(len(flat), dtype=np.int64)
                nz = lens > 0
                if nz.any():
                    seg = np.add.reduceat(prod, starts[nz])
                    # reduceat with duplicate offsets never occurs here
                    # (starts of nonzero-length segments are distinct)
                    hs_flat[nz] = seg % p
            sig_all = ((a * hs_flat[None, :] + b) % p).astype(np.int64)
        sigs = []
        pos = 0
        for n_sh, sh in zip(doc_nsh, shs):
            if sh is None:
                sigs.append(None)
                continue
            sigs.append(sig_all[:, pos : pos + n_sh].min(axis=1).tolist())
            pos += n_sh
        return pd.DataFrame({"sh": shs, "sig": sigs})

    return F.pandas_udf(f, "struct<sh: array<string>, sig: array<long>>")


def _poly_scalar(s: str, p: int) -> int:
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) % p
    return h


def shingles(text_col, n: int = 1) -> F.Column:
    """Distinct word n-gram shingles of the text (n=1 -> token set)."""
    toks = tokens(text_col)
    if n == 1:
        return F.array_distinct(toks)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx,
            # try_element_at: a doc shorter than n words yields a single
            # truncated shingle instead of an ANSI out-of-range error
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, (i + j).cast("int")) for j in range(n)]
            ),
        )
    )


def _seeded_xxhash(seed: int):
    """Arity-1 lambda factory: pyspark's `transform` passes (element,
    index) to a TWO-argument lambda, so a closure like
    `lambda s, seed=i: ...` silently receives the array INDEX as `seed`
    — every "seeded" hash collapses to the same function (caught when
    the l43 oracle twin exposed degenerate signatures). A factory pins
    the arity to 1 and bakes the Python int into the expression."""

    def h(s):
        return F.xxhash64(s, F.lit(seed))

    return h


def minhash_signature(shingle_col: F.Column, num_hashes: int = 32) -> F.Column:
    """MinHash signature: for each of k seeded hash functions, the min
    xxhash64 over the shingle set. array<long> of length k."""
    return F.array(
        *[
            F.array_min(F.transform(shingle_col, _seeded_xxhash(i)))
            for i in range(num_hashes)
        ]
    )


def jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Exact Jaccard similarity of two distinct-element arrays.

    Computed as i / (|A| + |B| - i) with a single array_intersect —
    array_union would redo the same hash-table work for no information.
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / F.greatest(union, F.lit(1))


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 1,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact-Jaccard verification.

    Pipeline: shingle -> k minhashes -> split signature into `bands` bands
    -> hash each band -> self-join on (band, band_hash) -> verify exact
    Jaccard on candidates only. With r = k/bands rows per band, the LSH
    S-curve catches pairs with sim >~ (1/bands)^(1/r).

    Scale: explode multiplies rows by `bands` (cheap: row = id + 2 longs);
    the join is an equi-join on the band hash, so co-candidates colocate in
    one shuffle. Exact verification re-joins the shingle sets only for
    candidate pairs. Dedup of pair multiplicity happens BEFORE the
    verification join.
    """
    rows_per_band = num_hashes // bands
    # Arrow shingler (see _shingle_arrow), materialized ONCE; the k seeded
    # minhashes then run ROW-SHAPED: explode the shingles and compute all
    # k xxhash64(s, seed) minima in one grouped aggregate — plain codegen
    # projections + map-side-combined mins instead of k CodegenFallback
    # array transforms (measured ~10x the CPU for identical values). The
    # groupBy(id) reuses _spread's hash partitioning — no extra exchange.
    # A NULL-text doc (none in any SF) drops at the explode instead of
    # carrying a NULL signature; output-identical either way, because a
    # NULL band tuple never equi-joins.
    base = _materialize_reused(
        _spread(df, id_col).select(
            F.col(id_col).alias("id"),
            _shingle_arrow(shingle_n)(F.col(text_col)).alias("sh"),
        )
    )
    sig_frame = _materialize_reused(
        base.select("id", F.explode("sh").alias("s"))
        .groupBy("id")
        .agg(
            *[
                F.min(F.xxhash64("s", F.lit(i))).alias(f"m{i}")
                for i in range(num_hashes)
            ]
        )
        .select(
            "id",
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias(
                "sig"
            ),
        )
    )

    banded = sig_frame.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")

    # merge hint: the self-join must shuffle on the band keys, never
    # broadcast — the build side here is the whole banded corpus, which is
    # only "small" at toy scale and would OOM a 100 TB run
    left = banded.hint("merge").alias("l")
    right = banded.hint("merge").alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    # merge hint: Catalyst would otherwise broadcast the full shingle
    # table to the verification join (the un-reduced corpus again); a
    # shuffle join on id is the only shape that survives at scale
    sh = base.select("id", "sh").hint("merge")
    verified = (
        candidates.join(sh.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(sh.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sa.sh"), F.col("sb.sh")), 4).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )
    return verified


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", num_bits: int = 62
) -> DataFrame:
    """SimHash of each document's token multiset -> (id, sim BIGINT).

    Formulation chosen for scale: explode tokens, hash once, then ONE
    grouped aggregation computing all `num_bits` sign-votes as columnar
    sum(CASE ...) aggregates (partial+final, map-side combined), then pack
    the sign bits into a long. This keeps the heavy work in vectorized
    hash-agg instead of per-row nested higher-order loops. 62 bits so the
    packed value stays clear of long overflow under ANSI mode.
    """
    toks = _spread(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    ).select("id", F.xxhash64("tok").alias("h"))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(num_bits)
        ]
    )
    packed = None
    for i in range(num_bits):
        term = (
            F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        packed = term if packed is None else packed + term
    return votes.select("id", packed.alias("sim"))


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: candidates via the pigeonhole trick — split
    the 62-bit simhash into `chunks` chunks; any pair with hamming <=
    chunks-1 must agree on at least one chunk, so an equi-join per chunk
    finds all such pairs without comparing all pairs. Verify with exact
    bit_count(xor) <= max_hamming. max_hamming must be < chunks for recall
    to be exact.
    """
    bits_per_chunk = 64 // chunks  # 16 for 4 chunks over a 62-bit hash
    sigs = _materialize_reused(simhash_signatures(df, id_col, text_col))
    chunked = sigs.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sim"), c * bits_per_chunk)
                        .bitwiseAND(F.lit((1 << bits_per_chunk) - 1))
                        .alias("ch"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sim", "cc.chunk", "cc.ch")

    cand = (
        # merge hint: see minhash_near_dups — never broadcast the corpus
        chunked.hint("merge").alias("l")
        .join(
            chunked.hint("merge").alias("r"),
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ch") == F.col("r.ch"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sim").alias("sim_a"),
            F.col("r.sim").alias("sim_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        hamming64(F.col("sim_a"), F.col("sim_b")).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def hashed_token_sets(
    df: DataFrame, id_col: str, text_col: str, block_cols: list[str]
) -> DataFrame:
    """(id, sh, n[, block cols]) frame of distinct hashed unigram sets —
    compare 8-byte ints in the pair stage, not string arrays. Hash
    collisions would need two distinct tokens colliding within one doc
    pair — negligible."""
    return _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), 1), lambda s: F.xxhash64(s))
        ).alias("sh"),
        *[F.col(c) for c in block_cols],
    ).withColumn("n", F.size("sh"))


def _jaccard_verify_pairs(base: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact-verify candidate (id_a, id_b) pairs against the full hashed
    token sets in `base` (id, sh). Shared tail of both candidate paths."""
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("_sha"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("_shb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("_sha"), F.col("_shb")), 4).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def _allpairs_block_join(base: DataFrame, block_cols: list[str], threshold: float) -> DataFrame:
    """Exact all-pairs self-join within blocks (the quadratic path; only
    ever applied to blocks whose size is under the caller's cap)."""
    # Size-ratio prefilter: jaccard >= t forces |A|/|B| in [t, 1/t] (since
    # |A∩B| <= min and |A∪B| >= max). Checking two ints per pair prunes
    # most candidates before the expensive array intersect/union.
    cond = (
        (F.col("a.id") < F.col("b.id"))
        & (F.col("a.n") >= F.col("b.n") * threshold)
        & (F.col("b.n") >= F.col("a.n") * threshold)
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        # merge hint: block-key shuffle join, not a whole-corpus broadcast
        base.hint("merge").alias("a")
        .join(base.hint("merge").alias("b"), cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 4).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def prefix_filter_candidates(
    base: DataFrame, block_cols: list[str], threshold: float
) -> DataFrame:
    """Prefix-filtered candidate pairs for an exact Jaccard join — the
    AllPairs/PPJoin family (Bayardo et al., WWW'07; public algorithm):

    Order each doc's tokens by ascending global frequency (rarest first,
    token-hash tiebreak). If J(A,B) >= t then the overlap o = |A∩B|
    satisfies o >= ceil(t * max(|A|,|B|)) =: α, and the classic prefix
    lemma gives: the first |A| - α + 1 tokens of A and the first
    |B| - α + 1 tokens of B share at least one token. Using each doc's
    own (longer) prefix of length n - ceil(t*n) + 1 keeps a superset of
    those prefixes, so equi-joining prefixes on token yields a candidate
    superset of every qualifying pair — NO pair is lost; exactness is
    restored by the verify step.

    Scale: per-token candidate cost is |bucket|^2, but prefixes hold only
    each doc's ~(1-t)·n RAREST tokens, so stopword buckets never form.
    The shuffles are one token-frequency agg, one row_number window per
    doc, and one equi-join on (block, token) — all linear in corpus size.
    """
    from pyspark.sql import Window

    ex = base.select(
        "id", "n", *[F.col(c) for c in block_cols], F.explode("sh").alias("tok")
    )
    freq = ex.groupBy("tok").agg(F.count("*").alias("_tf"))
    w = Window.partitionBy("id").orderBy(F.asc("_tf"), F.asc("tok"))
    pref = (
        ex.join(freq, "tok")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
        .select("id", "n", "tok", *[F.col(c) for c in block_cols])
    )
    cond = (
        (F.col("a.id") < F.col("b.id"))
        & (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.n") >= F.col("b.n") * threshold)
        & (F.col("b.n") >= F.col("a.n") * threshold)
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        pref.alias("a")
        .join(pref.alias("b"), cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    threshold: float = 0.8,
    max_block_size: int | None = 4096,
) -> DataFrame:
    """Blocked exact token-Jaccard pairs with a bounded quadratic stage.

    Blocks (e.g. language + length bucket) at or under `max_block_size`
    use the exact all-pairs self-join; larger blocks route through
    prefix-filtered candidate generation (`prefix_filter_candidates`) +
    exact verification. BOTH paths return exactly the pairs with
    J >= threshold, so the result is identical for any cap — the cap is
    purely a performance contract: no task ever materializes an O(b^2)
    pair blowup from one hot (lang, len_bucket) block, which at 100 TB
    would hold millions of docs. `max_block_size=None` disables routing
    (pure all-pairs; only for small trusted inputs). Deterministic and
    oracle-checkable — the exact complement to the probabilistic LSH
    variants."""
    block_cols = block_cols or []
    base = _persist_reused(hashed_token_sets(df, id_col, text_col, block_cols))
    if max_block_size is None:
        return _allpairs_block_join(base, block_cols, threshold)
    if block_cols:
        sizes = base.groupBy(*block_cols).agg(F.count("*").alias("_bn"))
        tagged = base.join(sizes, block_cols)
    else:
        tagged = base.crossJoin(
            F.broadcast(base.agg(F.count("*").alias("_bn")))
        )
    small = tagged.filter(F.col("_bn") <= max_block_size).drop("_bn")
    big = tagged.filter(F.col("_bn") > max_block_size).drop("_bn")
    exact_small = _allpairs_block_join(small, block_cols, threshold)
    big_pairs = _jaccard_verify_pairs(
        big, prefix_filter_candidates(big, block_cols, threshold), threshold
    )
    # Blocks are disjoint by key, so the union is disjoint — no dedup pass.
    return exact_small.unionByName(big_pairs)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Distributed connected components over an undirected pair list —
    the grouping step that turns near-dup PAIRS into dedup GROUPS (every
    doc labeled with the smallest doc id in its duplicate cluster, so
    "keep one per group" is a filter).

    Algorithm: star contraction. Each round every supernode takes the min
    over itself and its neighbors (one MIN agg with map-side combine),
    the node->component mapping composes through that assignment (one
    equi-join on the mapping), and the edge list is REWRITTEN onto the
    new supernodes with self-loops dropped (two equi-joins + distinct).
    The graph shrinks geometrically — near-clique dup clusters collapse
    to a point in one round, chains halve every round (O(log n) total) —
    so unlike plain label propagation, later rounds touch a vanishing
    edge set instead of rescanning all edges every round. The loop is
    driver-side but its exit test is `g.isEmpty()` on the contracted
    graph, never row data.

    Scale: per-round state is the shrinking (a, b) supernode edge list
    plus the two-column node->comp mapping, both shuffled on 8-byte ids.
    `localCheckpoint` truncates the per-round lineage; on a real cluster
    point `spark.sparkContext.setCheckpointDir` at durable storage and
    swap in `checkpoint()` for restart-safety.
    """
    g = _persist_reused(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
            F.col("a") != F.col("b")
        )
    )
    mapping = (
        g.select(F.explode(F.array("a", "b")).alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        if g.isEmpty():
            break
        # comp(v) = min(v, min neighbor) over the current supernode graph
        comp = _persist_reused(
            g.union(g.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .groupBy(F.col("b").alias("_v"))
            .agg(F.min("a").alias("_m"))
            .select("_v", F.least("_v", "_m").alias("_c"))
        )
        mapping = (
            mapping.join(comp, mapping.comp == comp._v, "left")
            .select("node", F.coalesce("_c", "comp").alias("comp"))
            .localCheckpoint()
        )
        ca = comp.select(F.col("_v").alias("a"), F.col("_c").alias("_ca"))
        cb = comp.select(F.col("_v").alias("b"), F.col("_c").alias("_cb"))
        # localCheckpoint is EAGER: the contracted graph is materialized
        # (and its lineage truncated) BEFORE the inputs it derives from are
        # unpersisted — dropping them first would silently re-run the whole
        # upstream pair generation every round.
        g_next = (
            g.join(ca, "a")
            .join(cb, "b")
            .select(
                F.least("_ca", "_cb").alias("a"),
                F.greatest("_ca", "_cb").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        g.unpersist()
        comp.unpersist()
        g = g_next
    g.unpersist()
    return mapping


def word_ngrams(text_col, n: int = 8) -> F.Column:
    """All consecutive word n-grams of the text (NOT distinct-deduped and
    NOT truncated-padded like `shingles` — decontamination needs every
    full-length gram exactly once per position). Empty array for docs
    shorter than n words."""
    toks = tokens(text_col)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(F.size(toks) >= n, F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )).otherwise(F.array().cast("array<string>"))


def decontaminate(
    corpus: DataFrame,
    blocklist: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM recipe): flag every corpus
    document sharing at least one word n-gram with a held-out blocklist
    (test/eval set). Returns (id_col, n_hit_grams) for contaminated docs
    only — n_hit_grams = how many DISTINCT grams of the doc also occur in
    the blocklist.

    Scale: both sides explode to (id, xxhash64(gram)) — the join and the
    distinct shuffle 8-byte hashes, never gram text (same collision
    argument as `dedup_exact`). The blocklist gram set is typically orders
    of magnitude smaller than the corpus; AQE broadcasts it when it fits,
    otherwise it's a plain shuffled hash join keyed on the gram hash.
    """
    def grams(df: DataFrame) -> DataFrame:
        return _spread(df, id_col).select(
            F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("_gram")
        ).select(id_col, F.xxhash64("_gram").alias("_gh"))

    block_set = grams(blocklist).select("_gh").distinct()
    return (
        grams(corpus)
        .join(block_set, "_gh")
        .groupBy(id_col)
        .agg(F.count_distinct("_gh").alias("n_hit_grams"))
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """BFS hop distance from a seed set through an UNDIRECTED edge list,
    capped at `max_hops`: returns (node, dist) for every node within
    the radius (seeds at dist 0). Frontier expansion as a fixed
    driver-side loop — per round ONE equi-join of the previous frontier
    against the edge table and one min-distance groupBy; the dist frame
    is localCheckpointed per round because the union references it
    twice (the m08/l30 lineage rule). Correctness: after the min-agg a
    node's stored dist is its first-reached round, which for BFS is the
    true hop distance, so expanding only the dist==r-1 frontier never
    misses a shorter path.

    Used by the transitive-decontamination radius (l82). No reference
    counterpart; textbook frontier BFS lowered to DataFrame ops."""
    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    undirected = both.unionByName(
        both.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"), F.lit(0).alias("dist")
    ).localCheckpoint()
    for r in range(1, max_hops + 1):
        frontier = dist.where(F.col("dist") == r - 1)
        nxt = frontier.join(
            undirected, frontier["node"] == undirected["a"]
        ).select(F.col("b").alias("node"), F.lit(r).alias("dist"))
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair list — centrality
    on the near-dup graph, used to pick the CANONICAL document per dup
    cluster (the copy most other copies point at) instead of an arbitrary
    min-id survivor. Returns (node, rank) after `iterations` synchronous
    updates of r(v) = (1-d)/N + d * sum_{u~v} r(u)/deg(u), starting
    uniform at 1/N. N counts nodes IN the graph.

    Scale: per-iteration work is one equi-join of the edge list against
    the (node, rank) table plus a sum-agg on the destination — both
    shuffled on 8-byte ids with map-side partials; rank state is 2
    columns x |nodes|. The iteration count is FIXED (synchronous power
    iteration), so the driver loop issues a known number of jobs and
    `localCheckpoint` truncates lineage each round exactly as in
    connected_components. The scalar 1/N enters as a broadcast 1-row
    frame, never a collected literal."""
    # Materialize the projected pair list (eager localCheckpoint) BEFORE
    # the symmetric union: the two union branches would otherwise each
    # re-execute the full upstream pair-generation plan — measured as 2x
    # the dominant cost on the Jaccard-pair graph.
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint()
    )
    g = _persist_reused(
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    deg = _persist_reused(
        g.groupBy("a").agg(F.count("*").cast("double").alias("deg"))
    )
    nodes = _persist_reused(g.select(F.col("a").alias("node")).distinct())
    nfr = nodes.agg(F.count("*").cast("double").alias("n"))

    ranks = (
        nodes.crossJoin(F.broadcast(nfr))
        .select("node", (F.lit(1.0) / F.col("n")).alias("rank"))
        .localCheckpoint()
    )
    for i in range(iterations):
        contrib = (
            g.join(ranks, g.a == ranks.node)
            .join(deg, "a")
            .groupBy("b")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nfr))
            .join(contrib, nodes.node == contrib.b, "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("n")
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
        )
        # Truncate lineage every OTHER round (and on the last): each
        # eager localCheckpoint is a full materialization job, and a
        # 2-round join plan is still small — halves the per-iteration
        # fixed cost without letting the plan grow unboundedly.
        if i % 2 == 1 or i == iterations - 1:
            ranks = ranks.localCheckpoint()
    g.unpersist()
    deg.unpersist()
    nodes.unpersist()
    return ranks


# Fixed pseudorandom affine-permutation constants for the SQL-replicable
# MinHash family (seeded once; both the engine and the DuckDB oracle embed
# these exact literals). a in [1, p), b in [0, p), p = 1e9+7.
MINHASH_A = [785529273, 365246976, 830029370, 646853778, 561380868, 789741457, 36386284, 388159642, 904901290, 544200133, 858092631, 927393746, 688290101, 616131059, 63046564, 859174503, 627577040, 464732997, 747581128, 555199689, 126690169, 111989979, 165742055, 277054081, 42220329, 215283304, 143864128, 731819782, 963209802, 17125302, 246170042, 188557470]
MINHASH_B = [685140263, 743419650, 699444121, 539188400, 231003431, 494024569, 413883450, 653754702, 552840404, 657447050, 54514407, 746255234, 874338783, 545532383, 395673619, 291810918, 633627807, 144301858, 73463469, 380607367, 461519277, 837107855, 929308255, 96880807, 402038398, 59680730, 49407458, 133413027, 122709672, 600626165, 929896607, 103017954]


def minhash_pairs_polyhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over a SQL-REPLICABLE hash family — the
    value-checkable twin of `minhash_near_dups` (which keeps xxhash64,
    the production-grade mixer). Base hash: the l05 polynomial rolling
    hash h0(shingle) = fold(31h+cp) mod p over the 3-gram shingle string
    (p = 1e9+7); permutations: affine h_i = (a_i*h0 + b_i) mod p with
    FIXED pseudorandom a_i, b_i < p (MINHASH_A/MINHASH_B below, seeded
    once and embedded as literals in both engines). a_i*h0 < p^2 < 2^63,
    so every step is exact int64 arithmetic a DuckDB oracle replays
    verbatim — this probabilistic operator gets a full value-hash check,
    not a rows-only one. Small multipliers would NOT work: an affine map
    with a*h + b < p for common h is order-preserving, every permutation
    picks the globally-smallest shingle hash, and LSH degenerates to one
    hash function (observed, then fixed, while building this oracle).

    Word 3-gram shingles, not unigrams: the driver corpus is heavily
    templated (41% of doc pairs exceed 0.7 UNIGRAM Jaccard — shared
    vocabulary, different content), while 3-gram Jaccard isolates the
    genuinely near-duplicate pairs. Same reason GPT-3-style dedup uses
    long n-grams.

    Candidate generation joins on the raw r-row band TUPLE (array
    equality) instead of hashing the band — one fewer hash family to
    replicate, identical LSH behavior. Verification is exact Jaccard on
    the distinct shingle sets, so band collisions cannot leak into the
    output (only recall, never precision, depends on the hash family).
    Same shuffle shape as minhash_near_dups: banded equi-join + id-keyed
    verify join, 8-byte-dominated rows.
    """
    rows_per_band = num_hashes // bands

    base = _materialize_reused(
        _spread(df.filter(F.trim(F.col(text_col)) != ""), id_col)
        .select(
            F.col(id_col).alias("id"),
            _minhash_poly_arrow(num_hashes)(F.col(text_col)).alias("x"),
        )
        .select("id", F.col("x.sh").alias("sh"), F.col("x.sig").alias("sig"))
    )

    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array(
                            *[
                                F.col("sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("tup"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.tup")

    left = banded.hint("merge").alias("l")
    right = banded.hint("merge").alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.tup") == F.col("r.tup"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    sh = base.select("id", "sh").hint("merge")
    return (
        candidates.join(sh.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(sh.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sa.sh"), F.col("sb.sh")).alias("jacc"),
        )
        .filter(F.col("jacc") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jacc", 6).alias("jaccard"))
    )


# Fixed pseudorandom constants for the SQL-replicable SimHash family
# (l44): bit i of a document token's signature is the parity of
# (SIMHASH_A[i]*h0 + SIMHASH_B[i]) mod p over the polynomial base hash
# h0 -- 62 independent-ish bits from a 30-bit base hash, every step
# exact int64 in both engines.
SIMHASH_A = [822420240, 457989475, 412732460, 399288284, 270903046, 484505912, 24728458, 254032160, 435243484, 81790442, 601091108, 957863205, 732793409, 361560264, 541175960, 503897931, 432925892, 115947546, 379997936, 847108119, 775090547, 276787080, 130345575, 984910678, 572503597, 293485129, 176826199, 365594056, 189302966, 235060590, 564486412, 699760058, 184884688, 358422375, 200548569, 524094310, 489057092, 352335229, 137068773, 412896276, 962238133, 858045712, 267217953, 69256276, 874682676, 182680404, 255103142, 138556865, 792748176, 992723590, 955980576, 379940337, 328201764, 79790857, 318004846, 10264443, 846782041, 166073958, 423870222, 721664333, 139110325, 488761768]
SIMHASH_B = [331163915, 863385658, 832186185, 854120799, 134287976, 410410661, 77643552, 716180929, 483358759, 545036633, 14379254, 778109262, 807118689, 281906448, 304559418, 336083552, 757320696, 756475857, 176415391, 15733072, 735742202, 452817391, 820128301, 55575715, 758906907, 372411067, 818516732, 631294118, 358670593, 130536467, 199359339, 415490146, 921074656, 651467465, 26082962, 204763297, 427332621, 678085242, 509232138, 45270099, 112899005, 811271031, 505298773, 124374664, 38235542, 976577516, 849890236, 723848055, 780849923, 979258912, 512250725, 187889643, 818998502, 842006805, 151967699, 309704005, 514981008, 384887654, 182794887, 175472049, 215126438, 456563842]


def simhash_pairs_polyhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs over a SQL-replicable hash family — l04's
    value-checkable twin, the same role l43 plays for MinHash. Bit i's
    token vote is the PARITY of an affine remix of the polynomial base
    hash (constants above); votes sum per document in one 62-column
    grouped aggregate (map-side combined, the l04 shape), the sign bits
    pack into a BIGINT, and the pigeonhole chunk join + exact
    bit_count(xor) verification are shared logic. DuckDB replays every
    step, so banding/probing/verification land in the driver value hash.

    Scale: identical to simhash_near_dups — explode + one grouped agg +
    chunk equi-join; _spread parallelizes the single-file local scan.
    """
    num_bits = 62
    p = 1_000_000_007
    bits_per_chunk = 64 // chunks

    # Empty/whitespace-only docs are excluded EXACTLY like the oracle's
    # WHERE trim(text) <> '' (and like l05/l43): the engines disagree on
    # hashing a zero-length token, and without the guard every empty doc
    # would share one degenerate signature the oracle never emits.
    toks = _spread(df.where(F.trim(text_col) != ""), id_col).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    ).select("id", polyhash(F.col("tok")).alias("h"))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    (F.col("h") * F.lit(SIMHASH_A[i]) + F.lit(SIMHASH_B[i]))
                    % F.lit(p)
                    % 2
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(num_bits)
        ]
    )
    packed = None
    for i in range(num_bits):
        term = (
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (1 << i))
            .otherwise(0)
            .cast("long")
        )
        packed = term if packed is None else packed + term
    sigs = _materialize_reused(votes.select("id", packed.alias("sim")))

    chunked = sigs.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("sim", c * bits_per_chunk)
                        .bitwiseAND(F.lit((1 << bits_per_chunk) - 1))
                        .alias("ck"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sim", "cc.chunk", "cc.ck")

    left = chunked.hint("merge").alias("l")
    right = chunked.hint("merge").alias("r")
    return (
        left.join(
            right,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ck") == F.col("r.ck"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(
                F.col("l.sim").bitwiseXOR(F.col("r.sim"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= F.lit(max_hamming))
    )


def incremental_dedup_report(
    docs: DataFrame, split_id: int = 400, k: int = 5
) -> DataFrame:
    """Classify every incoming document (doc_id >= split_id) against the
    indexed corpus (doc_id < split_id) as 'exact' (identical trimmed
    text, compared as md5 so text never shuffles), 'near' (shares a
    >= k-token verbatim passage — the l61 exact window identity, md5
    over the window's token content, reused as an index probe), or
    'novel'; match_id is the lowest matching index doc.
    Batch-vs-index joins are merge-hinted (the index side is
    corpus-sized and must never broadcast). See plans/llmops.py l64 for
    the registered query + oracle; the exact branch (absent from the
    synthetic corpus, which plants near-dups only) is pinned by a
    planted-fixture pytest. The probe key is content-exact md5, not the
    earlier base-31 polyhash fold, whose structured +1/-31 carry
    collisions could classify a novel batch doc as 'near' (see the l61
    docstring and the ground-truth property test that caught it)."""
    docs = docs.where(F.trim("text") != "")
    md5f, grams = _incremental_index_frames(docs, k)
    return _incremental_classify(
        docs, md5f, grams, F.col("doc_id") >= split_id
    )


def _incremental_index_frames(
    docs: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """The two persisted index tables the incremental-ingestion family
    probes and maintains: (doc_id, md5-of-trimmed-text) and distinct
    (doc_id, md5-of-k-token-window). Both feed TWO consumers each;
    materialize them once (the l49/l61 pattern) so neither the md5 pass
    nor the tokenize+window pass over the corpus runs twice — and
    because in production these ARE the persisted index (bucketed
    parquet tables; localCheckpoint is the single-JVM test stand-in)."""
    md5f = docs.select(
        "doc_id", F.md5(F.trim("text").cast("binary")).alias("t_md5")
    ).localCheckpoint()
    harr = docs.select("doc_id", tokens("text").alias("toks"))
    wins = harr.where(F.size("toks") >= k).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.size("toks") - k)).alias("p"),
    )
    wh = F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("p") + 1, k)))
    grams = wins.select("doc_id", wh.alias("h")).distinct().localCheckpoint()
    return md5f, grams


def _incremental_classify(
    docs: DataFrame,
    md5f: DataFrame,
    grams: DataFrame,
    batch_ids,
    index_ids=None,
) -> DataFrame:
    """The l64 probe: classify batch docs (the `batch_ids` predicate)
    against the index docs (`index_ids`, default the batch's complement;
    the two may overlap — re-probing an already-compacted batch, l68's
    acceptance check, indexes the batch docs themselves) as
    exact/near/novel."""
    if index_ids is None:
        index_ids = ~batch_ids
    exact_m = (
        md5f.where(batch_ids)
        .join(
            md5f.where(index_ids)
            .select(F.col("doc_id").alias("i_id"), "t_md5")
            .hint("merge"),
            "t_md5",
        )
        .groupBy("doc_id")
        .agg(F.min("i_id").alias("exact_id"))
    )
    near_m = (
        grams.where(batch_ids)
        .join(
            grams.where(index_ids)
            .select(F.col("doc_id").alias("i_id"), "h")
            .hint("merge"),
            "h",
        )
        .groupBy("doc_id")
        .agg(F.min("i_id").alias("near_id"))
    )
    return (
        docs.where(batch_ids)
        .select("doc_id")
        .join(exact_m, "doc_id", "left")
        .join(near_m, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce("exact_id", "near_id").alias("match_id"),
        )
    )

def _key_digest(doc_id_col: str, key_col: str) -> F.Column:
    """Order-independent 60-bit content digest of an index (doc, key)
    row: first 15 hex chars of md5 over 'doc_id:key', as int64. Folded
    with bit_xor per group, it pins the exact key multiset without any
    overflow at any corpus size (XOR never grows), and both engines
    compute it from the same md5/ substring / hex-parse built-ins."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(doc_id_col).cast("string"),
                    F.lit(":"),
                    F.col(key_col),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def index_compaction_report(
    docs: DataFrame, split_id: int = 400, k: int = 5
) -> DataFrame:
    """The index-MAINTENANCE half of incremental ingestion (l68): l64
    classifies a batch against the persisted index; this operator builds
    the NEXT round's index. Exact-duplicate batch docs are dropped
    (their keys already exist); every other batch doc (near or novel)
    is admitted, and the new index tables are the old index rows plus
    the admitted docs' md5 + passage-window keys. Returns the per-source
    compaction summary over the NEW index: row/distinct-key counts plus
    bit_xor'd 60-bit digests of the (doc_id, key) multisets — an
    order-independent exact fingerprint the oracle replays, so a single
    divergent admitted doc or key flips the hash — alongside the batch
    admission stats. Re-probing the same batch against the produced
    index classifies it 100% exact (every admitted doc now matches its
    own md5; every dropped doc matches its original) — pinned by
    pytest, which is what makes l64+l68 an actual ingestion pipeline
    rather than a one-shot probe.

    Scale: admission is one batch-vs-index equi-join on t_md5 plus an
    anti-join (never corpus x corpus); the new index tables are
    semi-joins of the materialized-once index frames against the
    admitted-id set; every join is merge- or shuffle_hash-hinted (both
    sides are corpus-sized; nothing may broadcast; SCALE.md bounds the
    shuffle_hash build sides). The summary shuffles only
    (source, int64) partials — bit_xor and the counts combine map-side."""
    docs = docs.where(F.trim("text") != "")
    md5f, grams = _incremental_index_frames(docs, k)
    is_index = F.col("doc_id") < split_id
    is_batch = ~is_index

    exact_m = (
        md5f.where(is_batch)
        .join(
            md5f.where(is_index).select("t_md5").hint("merge"),
            "t_md5",
            "semi",
        )
        .select("doc_id")
    )
    admitted = md5f.where(is_batch).select("doc_id").join(
        exact_m.hint("merge"), "doc_id", "anti"
    )
    # The admitted-id set feeds two semi-joins; it is batch-sized (still
    # unbounded at 100 TB), so materialize once and merge-hint it.
    new_ids = (
        md5f.where(is_index)
        .select("doc_id")
        .unionByName(admitted)
        .localCheckpoint()
    )

    src = docs.select("doc_id", "source")
    # shuffle_hash, not merge, for the key-table-vs-id joins: both
    # sides still shuffle by doc_id (the never-broadcast posture is
    # unchanged — id/source frames are corpus-doc-count sized), but
    # the per-partition hash build of the ID side replaces sorting the
    # key tables, whose rows are ~5x wider (md5 strings) — guide §3.1.
    m_new = md5f.join(new_ids.hint("shuffle_hash"), "doc_id", "semi")
    g_new = grams.join(new_ids.hint("shuffle_hash"), "doc_id", "semi")

    def _keyed_summary(rows: DataFrame, key: str, n_rows: str,
                       n_distinct: str, xor: str) -> DataFrame:
        # Two-level aggregate instead of countDistinct-next-to-plain
        # aggs: the same (source, key) -> source shape Spark plans for
        # a single distinct, with plain functions in place of the
        # distinct aggregate. Level 1 reduces to per-(source, key) partials
        # (count + xor — both associative); level 2 counts the keys
        # (= exact distinct), sums the counts, re-xors the xors.
        # Identical integers: count(key) skips a NULL key group as
        # countDistinct would, and xor is commutative.
        lvl1 = rows.groupBy("source", key).agg(
            F.count("*").alias("_c"),
            F.bit_xor(_key_digest("doc_id", key)).alias("_x"),
        )
        return lvl1.groupBy("source").agg(
            F.sum("_c").cast("long").alias(n_rows),
            F.count(key).cast("long").alias(n_distinct),
            F.bit_xor("_x").alias(xor),
        )

    ms = _keyed_summary(
        m_new.join(src.hint("shuffle_hash"), "doc_id"),
        "t_md5", "n_docs", "n_md5_distinct", "md5_xor",
    )
    gs = _keyed_summary(
        g_new.join(src.hint("shuffle_hash"), "doc_id"),
        "h", "n_pass_rows", "n_pass_distinct", "pass_xor",
    )
    bs = (
        docs.where(is_batch)
        .select("doc_id", "source")
        # exact_m is batch-derived — unbounded at 100 TB, so it must
        # sort-merge here like every other corpus-sized side
        .join(
            exact_m.withColumn("is_exact", F.lit(1)).hint("merge"),
            "doc_id",
            "left",
        )
        .groupBy("source")
        .agg(
            F.count_if(F.col("is_exact").isNull())
            .cast("long")
            .alias("n_admitted"),
            F.count_if(F.col("is_exact").isNotNull())
            .cast("long")
            .alias("n_dropped_exact"),
        )
    )
    zero = F.lit(0).cast("long")
    # bs joins FULL OUTER: a source whose batch docs are all exact dups of
    # other sources' index docs (and which has no index docs of its own)
    # appears in bs but not ms — a left join would silently drop its
    # admission stats from the report (round-7 ADVICE). gs stays a left
    # join: its sources are by construction a subset of ms's (every
    # passage-window doc is also an md5 doc in the new index).
    return (
        ms.join(gs, "source", "left")
        .join(bs, "source", "full")
        .select(
            "source",
            F.coalesce("n_docs", zero).alias("n_docs"),
            F.coalesce("n_md5_distinct", zero).alias("n_md5_distinct"),
            F.coalesce("md5_xor", zero).alias("md5_xor"),
            F.coalesce("n_pass_rows", zero).alias("n_pass_rows"),
            F.coalesce("n_pass_distinct", zero).alias("n_pass_distinct"),
            F.coalesce("pass_xor", zero).alias("pass_xor"),
            F.coalesce("n_admitted", zero).alias("n_admitted"),
            F.coalesce("n_dropped_exact", zero).alias("n_dropped_exact"),
        )
    )


def two_generation_ingestion_report(
    docs: DataFrame, gen1_split: int = 400, gen2_split: int = 450, k: int = 5
) -> DataFrame:
    """The l64 -> l68 -> l64 pipeline run CLOSED-LOOP over two corpus
    generations (l71): generation 1's index is doc_id < gen1_split;
    batch A (gen1_split <= doc_id < gen2_split) is compacted into it by
    the l68 admission rule (exact dups dropped, near/novel admitted);
    batch B (doc_id >= gen2_split) then probes the COMPACTED gen-2
    index. Output is batch B's doc-level classification (doc_id,
    source, status, match_id) — strictly stronger than per-source
    counts, and it differs from a gen-1-only probe precisely where an
    ADMITTED batch-A doc is the only index match (the new index's keys
    are live), which is what turns the pytest-only re-probe invariant
    into a driver-hash-checked two-generation pipeline.

    Scale: same posture as l64/l68 — admission is one A-vs-index
    equi-join + anti-join on md5 keys; gen-2 membership is an 8-byte-id
    frame materialized once and applied to the persisted index tables
    as semi-joins; batch-B probes are shuffled-hash equi-joins against
    those index frames (both sides shuffle — corpus-sized sides never
    broadcast — and the partition-local hash build of the narrower
    side replaces sorting the wide key tables, guide §3.1); text never
    crosses a shuffle."""
    docs = docs.where(F.trim("text") != "")
    md5f, grams = _incremental_index_frames(docs, k)
    is_g1 = F.col("doc_id") < gen1_split
    is_a = (F.col("doc_id") >= gen1_split) & (F.col("doc_id") < gen2_split)
    is_b = F.col("doc_id") >= gen2_split

    # shuffle_hash, not merge, throughout (the l68 rationale, guide
    # §3.1): every join still shuffles both sides — nothing broadcasts
    # — but the partition-local hash build of the narrower side
    # replaces sorting md5/window-key frames whose rows are ~5x wider.
    exact_a = (
        md5f.where(is_a)
        .join(
            md5f.where(is_g1).select("t_md5").hint("shuffle_hash"),
            "t_md5",
            "semi",
        )
        .select("doc_id")
    )
    gen2_ids = (
        md5f.where(is_g1)
        .select("doc_id")
        .unionByName(
            md5f.where(is_a)
            .select("doc_id")
            .join(exact_a.hint("shuffle_hash"), "doc_id", "anti")
        )
        .localCheckpoint()
    )

    m_idx = md5f.join(gen2_ids.hint("shuffle_hash"), "doc_id", "semi")
    g_idx = grams.join(gen2_ids.hint("shuffle_hash"), "doc_id", "semi")
    exact_m = (
        md5f.where(is_b)
        .join(
            m_idx.select(F.col("doc_id").alias("i_id"), "t_md5")
            .hint("shuffle_hash"),
            "t_md5",
        )
        .groupBy("doc_id")
        .agg(F.min("i_id").alias("exact_id"))
    )
    near_m = (
        grams.where(is_b)
        .join(
            g_idx.select(F.col("doc_id").alias("i_id"), "h")
            .hint("shuffle_hash"),
            "h",
        )
        .groupBy("doc_id")
        .agg(F.min("i_id").alias("near_id"))
    )
    return (
        docs.where(is_b)
        .select("doc_id", "source")
        .join(exact_m, "doc_id", "left")
        .join(near_m, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce("exact_id", "near_id").alias("match_id"),
        )
    )
