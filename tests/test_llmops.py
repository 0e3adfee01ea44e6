"""Tests for the LLM-data-pipeline operators: oracle parity where
SQL-expressible, planted-duplicate recovery and recall checks for the
probabilistic ops (FIXTURES.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fraud_detetion_with__kafkastreams_and_grafana_spark import testing
from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import dedup as DD
from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
    multimodal as MM,
)
from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = testing.duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(llmops.QUERIES))
def test_llmops_oracle_parity(spark, duck, sf_dir, name):
    res = testing.check_query(
        spark, duck, name, llmops.QUERIES[name], llmops.ORACLES.get(name), sf_dir
    )
    assert res.ok, res.detail


BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
PERMUTED = "lazy dog the near quick brown fox jumps over the the old river bank today"
UNRELATED = "completely different words about spark catalyst optimizer plans and shuffles"


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, PERMUTED), (3, UNRELATED), (4, BASE.upper() + "  ")],
        "doc_id LONG, text STRING",
    )


def test_dedup_exact_normalization(spark, planted):
    """Case/whitespace variants collapse; distinct texts don't."""
    out = DD.dedup_exact(planted).collect()
    groups = {r.keep_id: r.n_copies for r in out}
    assert groups[1] == 2  # doc 4 is doc 1 modulo case/trailing space
    assert groups[2] == 1 and groups[3] == 1


def test_minhash_finds_permuted_dup(spark, planted):
    pairs = {(r.id_a, r.id_b) for r in DD.minhash_near_dups(planted).collect()}
    assert (1, 2) in pairs  # word-permuted near-dup recovered
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_block_cap_routes_and_matches(spark):
    """A deliberately skewed block (every doc shares stopwords, one hot
    (lang) blocking key) must (a) produce IDENTICAL pairs through the
    prefix-filtered big-block path as through pure all-pairs, and (b)
    generate far fewer candidates than the quadratic n(n-1)/2 — the
    bounded-block contract from VERDICT r3 'What's wrong' #2."""
    n = 240
    rows = []
    for i in range(n):
        # 5 shared stopwords + 10 unique rare tokens per doc
        uniq = " ".join(f"tok{i}x{j}" for j in range(10))
        rows.append((i, "the and of is in " + uniq, "en"))
    # planted near-dup pairs: doc i' = copy of doc i with one token changed
    # (J = 14/16 = 0.875 >= 0.8)
    for i in range(5):
        uniq = " ".join(f"tok{i}x{j}" for j in range(9)) + f" tok{i}CHANGED"
        rows.append((n + i, "the and of is in " + uniq, "en"))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")

    exact = {
        (r.id_a, r.id_b, r.jaccard_sim)
        for r in DD.ngram_jaccard_pairs(
            df, block_cols=["lang"], threshold=0.8, max_block_size=None
        ).collect()
    }
    routed = {
        (r.id_a, r.id_b, r.jaccard_sim)
        for r in DD.ngram_jaccard_pairs(
            df, block_cols=["lang"], threshold=0.8, max_block_size=50
        ).collect()
    }
    assert routed == exact
    assert {(a, b) for a, b, _ in routed} == {(i, n + i) for i in range(5)}

    # candidate volume: prefix filtering keeps only each doc's rarest
    # ~(1-t)n+1 tokens, so the shared-stopword bucket never joins
    base = DD.hashed_token_sets(df, "doc_id", "text", ["lang"])
    n_cand = DD.prefix_filter_candidates(base, ["lang"], 0.8).count()
    quadratic = (n + 5) * (n + 4) // 2
    assert n_cand <= quadratic * 0.05, (n_cand, quadratic)


def test_simhash_permutation_invariant(spark, planted):
    """SimHash of a token multiset is permutation-invariant -> permuted
    docs hash identically (hamming 0) and are found as pairs."""
    sigs = {r.id: r.sim for r in DD.simhash_signatures(planted).collect()}
    assert sigs[1] == sigs[2]
    pairs = {(r.id_a, r.id_b): r.hamming for r in DD.simhash_near_dups(planted).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) not in pairs


def test_fingerprint_permutation_invariant(spark, planted):
    sh = DD.shingles(F.col("text"), 1)
    fp = planted.select(
        "doc_id", F.array_min(F.transform(sh, lambda s: F.xxhash64(s))).alias("fp")
    )
    fps = {r.doc_id: r.fp for r in fp.collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_ann_lsh_recall(spark, sf_dir):
    """LSH ANN must recover a decent fraction of the exact top-10 (banding
    with 4x4 bits is deliberately recall-biased)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") == 0)
    exact = {r.vec_id for r in SIM.cosine_topk(em, q, k=10).collect()}
    approx = {r.vec_id for r in SIM.ann_lsh_topk(em, q, k=10).collect()}
    assert len(exact & approx) >= 4  # includes the query itself + neighbors


def test_hashplane_lsh_recall(spark, sf_dir):
    """The oracle-replayable ±1 hash-plane family (l50) must stay a real
    ANN: decent recall of the exact top-10, like the Gaussian family."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") == 0)
    exact = {r.vec_id for r in SIM.cosine_topk(em, q, k=10).collect()}
    approx = {r.vec_id for r in SIM.ann_lsh_topk_hashplanes(em, q, k=10).collect()}
    assert len(exact & approx) >= 4


def test_simhash_polyhash_excludes_empty_docs(spark):
    """l44's engine side must exclude empty/whitespace-only docs exactly
    like its oracle's WHERE trim(text) <> '' — without the guard every
    empty doc shares one degenerate signature and the engine emits
    hamming-0 pairs the oracle never produces."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        dedup as DD,
    )

    docs = spark.createDataFrame(
        [
            (1, "   "),
            (2, ""),
            (3, "alpha beta gamma delta"),
            (4, "alpha beta gamma delta"),
            (5, " \t "),
        ],
        "doc_id long, text string",
    )
    pairs = {(r[0], r[1]) for r in DD.simhash_pairs_polyhash(docs).collect()}
    assert (3, 4) in pairs
    assert not any(a in (1, 2, 5) or b in (1, 2, 5) for a, b in pairs), pairs


def test_bmp_decoder_rejects_malformed(spark):
    """decode_bmp is a real parser: wrong magic and wrong bpp must raise,
    and a well-formed payload must round-trip the encoder's geometry."""
    import pytest as _pytest

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    with _pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"XX" + b"\x00" * 60)
    good = bytearray(encode_bmp(5, 100))
    good[28] = 8  # claim 8bpp in the info header
    with _pytest.raises(ValueError, match="24bpp"):
        decode_bmp(bytes(good))
    w, h, nb, ps = decode_bmp(encode_bmp(5, 100))
    assert (w, h) == (4 + 100 % 13, 3 + 100 % 7)
    assert nb == 54 + ((w * 3 + 3) // 4 * 4) * h
    assert ps == sum((5 * 31 + j * 7) % 256 for j in range(w * h))


def test_multimodal_features_deterministic(spark, planted):
    media = MM.attach_fake_payload(planted)
    feats = {r.doc_id: r for r in MM.extract_image_features(media).collect()}
    n = len(BASE.encode())
    assert feats[1].n_bytes == n
    assert feats[1].width == 64 + n % 256
    assert feats[1].height == 64 + (n * 7) % 256
    assert feats[1].checksum == sum(BASE.encode())
    # permutation changes bytes order but not length-derived dims
    assert feats[2].n_bytes == len(PERMUTED.encode())


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """nprobe == nlist degrades IVF to an exact scan: the result must equal
    brute-force cosine top-k EXACTLY (the correctness anchor for the
    partition-pruning fast path)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") == 0)
    exact = [(r.vec_id, r.cosine_sim) for r in SIM.cosine_topk(em, q, k=10).collect()]
    full = [
        (r.vec_id, r.cosine_sim)
        for r in SIM.ivf_topk(em, q, k=10, nlist=8, nprobe=8).collect()
    ]
    assert full == exact


def test_ivf_exprs_full_probe_equals_brute_force(spark, sf_dir):
    """The expression-only IVF twin (l51) inherits the same anchor:
    nprobe == nlist must equal brute force exactly."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") == 0)
    exact = [(r.vec_id, r.cosine_sim) for r in SIM.cosine_topk(em, q, k=10).collect()]
    full = [
        (r.vec_id, r.cosine_sim)
        for r in SIM.ivf_topk_exprs(em, q, k=10, nlist=8, nprobe=8).collect()
    ]
    assert full == exact


def test_ivf_partial_probe_contains_query(spark, sf_dir):
    """The query's own cell is always probed (it is its own nearest
    neighbor), so vec_id=0 must appear in its result."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") == 0)
    got = SIM.ivf_topk(em, q, k=10, nlist=8, nprobe=2).collect()
    assert 0 in {r.vec_id for r in got}
    sims = [r.cosine_sim for r in got]
    assert sims == sorted(sims, reverse=True)


def test_ann_index_builds_at_real_dimensions(spark):
    """The index math must scale past toy sizes: dim=768 embeddings,
    62-plane LSH signatures and a 1024-centroid IVF assignment all build
    and execute as broadcast matmuls (literal-expression matrices hang
    Catalyst at this size)."""
    import numpy as np

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 768)).astype(float)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    planes = SIM.random_planes(768, 62)
    buckets = df.select(SIM.make_lsh_bucket_udf(df, planes)("embedding").alias("b"))
    assert buckets.count() == 40

    cents = rng.standard_normal((1024, 768))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cells = df.select(SIM.make_cell_udf(df, cents)("embedding").alias("c")).collect()
    assert all(0 <= r.c < 1024 for r in cells)
    probes = df.limit(1).select(
        SIM.make_probes_udf(df, cents, 4)("embedding").alias("p")
    ).collect()
    assert len(probes[0].p) == 4

    # numpy ground truth for one vector's cell assignment
    expect = int(np.argmax(vecs[0] @ cents.T))
    got = {r for r in df.filter(F.col("vec_id") == 0).select(
        SIM.make_cell_udf(df, cents)("embedding").alias("c")).collect()}
    assert {expect} == {r.c for r in got}


def test_ivf_kmeans_centroids_shape(spark, sf_dir):
    """MLlib KMeans index build returns nlist unit-norm centroids usable
    by the query path unchanged."""
    import numpy as np

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table

    em = load_table(spark, sf_dir, "embeddings")
    cents = SIM.ivf_kmeans_centroids(em, nlist=4)
    assert cents.shape == (4, 64)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    q = em.filter(F.col("vec_id") == 0)
    got = SIM.ivf_topk(em, q, k=5, nlist=4, nprobe=4, centroids=cents).collect()
    assert 0 in {r.vec_id for r in got}


def test_resize_and_frame_sample_edges(spark):
    """Empty payload -> one zero-byte frame; resize truncates to the cap
    and short payloads pass through."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM2,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "x" * 50), (3, "y" * 300)], "doc_id long, text string"
    )
    media = MM2.attach_fake_payload(docs)
    rs = {r.doc_id: r.out_bytes for r in MM2.resize_images(media, max_bytes=128).collect()}
    assert rs == {1: 0, 2: 50, 3: 128}
    frames = MM2.sample_frames(media, frame_size=256).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.start_offset, r.frame_bytes))
    assert by_doc[1] == [(0, 0, 0)]
    assert by_doc[2] == [(0, 0, 50)]
    assert sorted(by_doc[3]) == [(0, 0, 256), (1, 256, 44)]


def test_connected_components_chain_and_islands(spark):
    """A-B, B-C, C-D collapse to one group labeled min(id); isolated pair
    keeps its own label; pointer jumping converges on a path graph."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        (r.node, r.comp)
        for r in DD.connected_components(edges, max_iter=10).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_empty(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert DD.connected_components(edges).count() == 0


def test_pq_roundtrip_and_anchors(spark):
    """l24: PQ codebook/encode determinism; seed vectors self-encode to
    their own centroid index in every subspace (distance exactly 0);
    reconstruction beats the zero baseline on mean squared error."""
    import numpy as np

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import (
        load_table,
    )

    em = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cb1 = SIM.pq_codebook(em, m=8, ksub=16)
    cb2 = SIM.pq_codebook(em, m=8, ksub=16)
    assert np.array_equal(cb1, cb2)
    assert cb1.shape == (8, 16, 8)

    rows = SIM.pq_encode(em, m=8, ksub=16).collect()
    codes = {r.vec_id: r.codes for r in rows}
    assert len(codes) == em.count()

    # the 16 seed vectors reconstruct themselves exactly
    from pyspark.sql import functions as FF

    h = FF.pmod(FF.col("vec_id") * FF.lit(2654435761), FF.lit(1000000007))
    seeds = (
        em.select("vec_id", "embedding")
        .orderBy(h.asc(), FF.col("vec_id").asc())
        .limit(16)
        .collect()
    )
    for i, r in enumerate(seeds):
        assert codes[r.vec_id] == [i] * 8, (i, codes[r.vec_id])

    # reconstruction error strictly better than the zero baseline
    ids = [r.vec_id for r in rows]
    raw = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in em.collect()}
    X = np.stack([raw[i] for i in ids])
    C = np.asarray([codes[i] for i in ids], dtype=np.int32)
    R = SIM.pq_decode(cb1, C)
    assert ((X - R) ** 2).mean() < (X**2).mean() * 0.9


def test_pq_adc_recall(spark):
    """l25: PQ-ADC top-10 must substantially agree with the exact cosine
    top-10 (shortlist rerank is exact, so misses come only from ADC
    shortlist pruning), and the query vector must rank itself first."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        similarity as SIM,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import (
        load_table,
    )

    em = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = em.filter(F.col("vec_id") == 0)
    exact = [r.vec_id for r in SIM.cosine_topk(em, q, k=10).collect()]
    approx = [r.vec_id for r in SIM.pq_adc_topk(em, q, k=10).collect()]
    assert approx[0] == 0  # self-similarity = 1.0 must survive ADC
    assert len(set(exact) & set(approx)) >= 5


def test_decontaminate_planted(spark):
    """l26's operator: a corpus doc sharing a full 8-gram with the
    blocklist is flagged with the right distinct-gram count; disjoint and
    too-short docs are not."""
    eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    corpus = spark.createDataFrame(
        [
            (1, "prefix " + eight + " suffix"),   # contains the 8-gram
            (2, "totally disjoint words only here right now ok yes"),
            (3, "w1 w2 w3 w4 w5 w6 w7"),          # 7 tokens -> no grams
        ],
        "doc_id LONG, text STRING",
    )
    block = spark.createDataFrame([(99, eight)], "doc_id LONG, text STRING")
    out = {r.doc_id: r.n_hit_grams for r in DD.decontaminate(corpus, block).collect()}
    assert out == {1: 1}


def test_semdedup_contract(spark, sf_dir):
    """l28: every vector gets exactly one verdict row; the pruned set is
    exactly the higher-id members of the cluster-blocked near-dup pairs;
    at sf0.01 the prune set is non-trivial; reruns are identical
    (seeded KMeans)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import (
        load_table,
    )

    rows = llmops.QUERIES["l28_semdedup"](spark, sf_dir).collect()
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vec
    assert len({r.vec_id for r in rows}) == n_vec
    pruned = {r.vec_id for r in rows if r.is_pruned}
    assert pruned, "expected a non-trivial prune set at sf0.01"
    rows2 = llmops.QUERIES["l28_semdedup"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_pagerank_mass_conservation_and_chain(spark):
    """On a dangling-free symmetric graph the synchronous update preserves
    total rank mass (sum stays 1), every node keeps positive rank, and on
    a 3-node path the middle node (degree 2) outranks the endpoints."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.dedup import (
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    rows = {r.node: r.rank for r in pagerank(edges, iterations=8).collect()}
    assert set(rows) == {1, 2, 3, 10, 11}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    assert all(v > 0 for v in rows.values())
    assert rows[2] > rows[1] and rows[2] > rows[3]
    assert abs(rows[1] - rows[3]) < 1e-12
    assert abs(rows[10] - rows[11]) < 1e-12


def test_cdc_chunks_shift_invariant(spark):
    """The CDC property that motivates l34: prepending one word shifts
    every FIXED-size chunk, but content-defined boundaries downstream of
    the edit are unchanged — the suffix chunks (identified by their
    content hash) survive the edit; only the chunk containing the edit
    changes."""
    import random

    rng = random.Random(7)
    words = " ".join(f"w{rng.randrange(10_000)}" for _ in range(600))
    df = spark.createDataFrame(
        [(1, words), (2, "EDIT " + words)], "doc_id LONG, text STRING"
    )
    # same plan as the registered query, applied inline to the tiny frame
    from fraud_detetion_with__kafkastreams_and_grafana_spark.functions import (
        text as TX,
    )
    from pyspark.sql import Window

    tok = df.select("doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok"))
    h = tok.select("doc_id", "pos", TX.polyhash(F.col("tok")).alias("th"))
    cut = (F.col("th") % 64 == 0).cast("long")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunks = (
        h.select("doc_id", "pos", "th", (F.sum(cut).over(w) - cut).alias("ci"))
        .groupBy("doc_id", "ci")
        .agg(F.count("*").alias("n"), F.sum("th").alias("chash"))
    )
    a = {(r.n, r.chash) for r in chunks.filter("doc_id = 1").collect()}
    b = {(r.n, r.chash) for r in chunks.filter("doc_id = 2").collect()}
    # every original chunk except (at most) the first survives the edit
    assert len(a - b) <= 1 and len(b - a) <= 1
    assert len(a & b) >= len(a) - 1 >= 3


def test_sequence_packing_budget_respected(spark, sf_dir):
    """l37 invariants: bins are contiguous per lang, every bin's token
    total fits the 256 budget UNLESS it holds a single over-budget doc,
    and no document is split across bins (each doc appears exactly
    once)."""
    out = llmops.QUERIES["l37_sequence_packing"](spark, sf_dir).collect()
    assert len({r.doc_id for r in out}) == len(out)
    from collections import defaultdict

    bins = defaultdict(list)
    for r in out:
        bins[(r.lang, r.bin)].append(r.n_tokens)
    for (lang, b), toks in bins.items():
        assert sum(toks) <= 256 or len(toks) == 1, (lang, b, toks)
    for lang in {r.lang for r in out}:
        ids = sorted(b for (lg, b) in bins if lg == lang)
        assert ids == list(range(len(ids))), (lang, ids)


def test_int8_quantize_error_bound(spark, sf_dir):
    """The symmetric-int8 guarantee: after clamp-free round-to-nearest,
    every coordinate's reconstruction error is at most scale/2 — if this
    bound breaks, the quantizer is mis-rounding (l40's whole point)."""
    rows = llmops.QUERIES["l40_int8_quantize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.scale > 0
        assert r.max_abs_err <= r.scale / 2 + 1e-6
        assert 0 <= r.mse <= (r.scale / 2) ** 2 + 1e-6


def test_bigram_logprob_is_negative_and_covers_docs(spark, sf_dir):
    """Every multi-token doc gets a score; probabilities are < 1 so the
    mean log-prob is strictly negative; n_bigrams is positive."""
    rows = llmops.QUERIES["l39_bigram_logprob"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_bigrams >= 1
        assert r.avg_logprob < 0


def test_png_decoder_roundtrip_and_integrity(spark):
    """decode_png is a real parser: signature/CRC/filter-type violations
    must raise; a well-formed payload must inflate + unfilter back to the
    encoder's closed-form pixels across all five PNG filter types (any
    height >= 5 exercises every type), and a truncated-or-lying payload
    must never silently mis-sum."""
    import zlib as _zlib

    import pytest as _pytest

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"XXXXXXXX" + b"\x00" * 32)
    good = bytearray(encode_png(5, 100))
    bad = bytearray(good)
    bad[40] ^= 0xFF  # flip a byte inside IDAT -> chunk CRC must catch it
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    # h = 3 + 100%7 = 5 -> filter types 0..4 all present in the stream
    w, h, n_pix, ps, rl = decode_png(bytes(good))
    assert (w, h) == (4 + 100 % 13, 3 + 100 % 7)
    assert n_pix == w * h and rl == h * (1 + w)
    assert ps == sum((5 * 13 + j * 5) % 256 for j in range(w * h))
    # every (doc_id, n_chars) combo round-trips the closed form
    for doc_id, n_chars in [(0, 48), (499, 553), (42, 61), (7, 52)]:
        w, h, n_pix, ps, rl = decode_png(encode_png(doc_id, n_chars))
        assert ps == sum((doc_id * 13 + j * 5) % 256 for j in range(w * h))


def test_bmp_decoder_rejects_truncation(spark):
    """A BMP whose header claims more pixels than the payload carries must
    raise instead of silently short-slicing the pixel sum."""
    import pytest as _pytest

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    good = encode_bmp(5, 100)
    with _pytest.raises(ValueError, match="truncated|disagrees"):
        decode_bmp(good[:-4])
    import struct as _struct

    lying = bytearray(good)
    _struct.pack_into("<i", lying, 22, -3)  # negative height = top-down
    with _pytest.raises(ValueError, match="geometry"):
        decode_bmp(bytes(lying))


def test_l58_islands_merge_equals_greedy_bpe(spark):
    """l58 re-encodes via gaps-and-islands selection (odd ranks per
    island of consecutive pair sites); pin that one engine round equals
    a reference Python greedy-leftmost-non-overlapping BPE step —
    including the adversarial chains where naive approaches diverge:
    all-same-symbol runs ('aaaa' with (a,a)) and alternating runs
    ('abab' with (a,b)) — plus the argmax merge choice itself."""
    import random
    from collections import Counter

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _l58_round,
        _l58_tokens,
    )

    def greedy(tokens, a, b):
        out, i = [], 0
        while i < len(tokens):
            if i + 1 < len(tokens) and tokens[i] == a and tokens[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(tokens[i])
                i += 1
        return out

    texts = ["a" * 17, "ab" * 11, "aab" * 7, "abba" * 5, "xaaby" * 4]
    rng = random.Random(11)
    texts += [
        "".join(rng.choice("ab") for _ in range(rng.randint(2, 40)))
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    t, m = _l58_round(_l58_tokens(docs))
    mrow = m.collect()[0]
    a, b = mrow.a, mrow.b

    # reference argmax over the same corpus (count desc, pair asc)
    counts = Counter()
    for txt in texts:
        for x, y in zip(txt, txt[1:]):
            counts[(x, y)] += 1
    best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    assert (a, b) == best[0] and mrow.cnt == best[1]

    got = {}
    for r in t.collect():
        got.setdefault(r.doc_id, []).append((r.pos, r.tok))
    for doc_id, txt in enumerate(texts):
        want = greedy(list(txt), a, b)
        have = [tok for _, tok in sorted(got[doc_id])]
        assert have == want, (txt, a, b, have, want)


def test_l59_importance_ranks_target_like_docs_first(spark):
    """DSIR semantics pin: a raw-pool doc sharing the target domain's
    vocabulary must outscore a raw doc with off-domain vocabulary, and
    the fraction must be exact (integer indicator counts)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.functions import text as TX
    from pyspark.sql import functions as F

    target_vocab = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, target_vocab, "src18"),
            (2, "alpha beta gamma zeta", "src18"),
            (3, "alpha beta gamma delta", "srcX"),   # target-like raw doc
            (4, "omega sigma tau phi", "srcX"),      # off-domain raw doc
        ],
        "doc_id long, text string, source string",
    )
    tok = docs.select(
        "doc_id", "source", F.explode(TX.tokens("text")).alias("t")
    ).select("doc_id", "source", (TX.polyhash(F.col("t")) % 1024).alias("bkt"))
    stats = tok.groupBy("bkt").agg(
        F.count_if(F.col("source") == "src18").alias("cnt_t"),
        F.count_if(F.col("source") != "src18").alias("cnt_r"),
    )
    tot = stats.agg(
        F.sum("cnt_t").cast("long").alias("tot_t"),
        F.sum("cnt_r").cast("long").alias("tot_r"),
    )
    lean = stats.crossJoin(F.broadcast(tot)).select(
        "bkt",
        (F.col("cnt_t") * F.col("tot_r") > F.col("cnt_r") * F.col("tot_t"))
        .alias("lean"),
    )
    scored = {
        r.doc_id: (r.n_lean, r.n_tok)
        for r in tok.where(F.col("source") != "src18")
        .join(F.broadcast(lean), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"), F.count_if(F.col("lean")).alias("n_lean")
        )
        .collect()
    }
    frac = {k: nl / nt for k, (nl, nt) in scored.items()}
    assert frac[3] > frac[4], frac
    # alpha/beta/gamma lean target (2 target hits vs 1 raw each, and
    # 2*8 > 1*9); delta does NOT (target share 1/9 < raw share 1/8 by
    # exact cross-multiplication) -> exactly 3 of 4 tokens lean
    assert frac[3] == 0.75 and frac[4] == 0.0, frac


def test_incremental_dedup_planted_branches(spark):
    """All three classification branches on a planted frame: doc 400 is a
    byte-identical copy of index doc 1 ('exact' must win even though it
    also shares passages), doc 401 embeds a 5-token passage from doc 2
    inside otherwise-new text ('near'), doc 402 shares nothing
    ('novel'). match_id is the lowest matching index doc."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.dedup import (
        incremental_dedup_report,
    )

    passage = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"{passage} zeta eta"),
            (2, f"theta iota {passage} kappa"),
            (400, f"{passage} zeta eta"),  # exact copy of 1
            (401, f"mu nu {passage} xi omicron pi"),  # shares the passage
            (402, "rho sigma tau upsilon phi chi psi"),  # novel
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: (r.status, r.match_id)
        for r in incremental_dedup_report(docs, split_id=400, k=5).collect()
    }
    assert got == {
        400: ("exact", 1),
        401: ("near", 1),  # the passage also exists in doc 1 (lower id)
        402: ("novel", None),
    }


def test_l66_no_near_dup_pair_straddles_splits(spark, sf_dir):
    """The group-holdout guarantee, checked against the pair graph
    itself: every l02 near-dup pair lands in ONE split and ONE group,
    splits partition the corpus, and the naive_leaky audit flags
    exactly the clusters the per-doc l17 hash would have fractured."""
    asg = llmops.l66_cluster_holdout_split(spark, sf_dir)
    pairs = llmops.l02_ngram_jaccard_pairs(spark, sf_dir)
    a = asg.select(
        F.col("doc_id").alias("id_a"),
        F.col("split").alias("split_a"),
        F.col("group_id").alias("gid_a"),
    )
    b = asg.select(
        F.col("doc_id").alias("id_b"),
        F.col("split").alias("split_b"),
        F.col("group_id").alias("gid_b"),
    )
    j = pairs.join(a, "id_a").join(b, "id_b")
    assert j.count() > 0, "corpus must contain planted near-dup pairs"
    assert j.where(F.col("split_a") != F.col("split_b")).count() == 0
    assert j.where(F.col("gid_a") != F.col("gid_b")).count() == 0

    rows = asg.collect()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    # the audit is live: the per-doc hash fractures at least one real
    # cluster, and naive_leaky is never set on singletons
    assert any(r["naive_leaky"] for r in rows if r["group_size"] > 1)
    assert all(not r["naive_leaky"] for r in rows if r["group_size"] == 1)


def test_l62_survival_curves_monotone(spark, sf_dir):
    """Ablation-sweep semantics: per language, survivors are
    NON-INCREASING in threshold, doc_frac is survivors/total at the
    lowest threshold, and token counts move with doc counts."""
    rows = llmops.l62_quality_sweep(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["threshold"])
        docs = [r["surviving_docs"] for r in rs]
        toks = [r["surviving_tokens"] for r in rs]
        assert docs == sorted(docs, reverse=True), (lang, docs)
        assert toks == sorted(toks, reverse=True), (lang, toks)
        assert all(
            (d == 0) == (t == 0) for d, t in zip(docs, toks)
        ), (lang, docs, toks)
        assert abs(rs[0]["doc_frac"] - 1.0) < 1e-9  # lowest threshold keeps all


def test_l65_waterfill_budget_exact(spark, sf_dir):
    """Water-fill invariants: the allocation meets the 90% budget
    EXACTLY, untrimmed sources keep their cap, trimmed sources sit at
    theta or theta+1 with every trimmed alloc <= every untrimmed cap's
    own alloc bound, and remainder bonuses go to the lexicographically
    smallest trimmed sources."""
    rows = llmops.l65_token_budget_waterfill(spark, sf_dir).collect()
    total_cap = sum(r["cap"] for r in rows)
    budget = (total_cap * 90) // 100
    assert sum(r["alloc"] for r in rows) == budget
    untrimmed = [r for r in rows if not r["trimmed"]]
    trimmed = sorted((r for r in rows if r["trimmed"]), key=lambda r: r["source"])
    assert trimmed, "budget < corpus must trim someone"
    for r in untrimmed:
        assert r["alloc"] == r["cap"]
    allocs = {r["alloc"] for r in trimmed}
    assert len(allocs) <= 2 and max(allocs) - min(allocs) <= 1
    if len(allocs) == 2:
        hi = max(allocs)
        bonus = [r["alloc"] == hi for r in trimmed]
        assert bonus == sorted(bonus, reverse=True), "bonus must be a prefix"
    theta = min(allocs)
    for r in untrimmed:
        assert r["cap"] <= theta, (r, theta)


def test_l68_compaction_reprobe_is_all_exact(spark):
    """The l64 -> l68 pipeline invariant on the planted frame: compaction
    drops the exact-dup batch doc, admits near + novel, and RE-PROBING
    the same batch against the produced index classifies every batch doc
    'exact' (admitted docs match their own keys; the dropped doc matches
    the index doc that made it redundant). Also pins the per-source
    admission stats and that the new-index doc set is exactly
    old-index + non-exact batch. A NULL-text index doc adds neither a
    doc nor a distinct key (countDistinct's null semantics)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.dedup import (
        _incremental_classify,
        _incremental_index_frames,
        index_compaction_report,
    )

    passage = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, "web", f"{passage} zeta eta"),
            (2, "web", f"theta iota {passage} kappa"),
            (3, "books", "one two three four five six"),
            (4, "books", None),  # NULL text: no doc, no key
            (400, "web", f"{passage} zeta eta"),  # exact copy of 1
            (401, "web", f"mu nu {passage} xi omicron pi"),  # near
            (402, "books", "rho sigma tau upsilon phi chi psi"),  # novel
        ],
        "doc_id LONG, source STRING, text STRING",
    )
    rep = {
        r.source: r
        for r in index_compaction_report(docs, split_id=400, k=5).collect()
    }
    assert set(rep) == {"web", "books"}
    # new index docs: web {1, 2, 401}, books {3, 402}
    assert rep["web"].n_docs == 3 and rep["books"].n_docs == 2
    assert rep["web"].n_admitted == 1 and rep["web"].n_dropped_exact == 1
    assert rep["books"].n_admitted == 1 and rep["books"].n_dropped_exact == 0
    assert rep["web"].n_md5_distinct == 3 and rep["books"].n_md5_distinct == 2
    assert rep["web"].md5_xor != 0 and rep["web"].pass_xor != 0

    md5f, grams = _incremental_index_frames(
        docs.where(F.trim("text") != ""), 5
    )
    new_index = F.col("doc_id").isin([1, 2, 3, 401, 402])
    got = {
        r.doc_id: r.status
        for r in _incremental_classify(
            docs, md5f, grams, F.col("doc_id") >= 400, new_index
        ).collect()
    }
    assert got == {400: "exact", 401: "exact", 402: "exact"}


def test_l68_all_dup_source_keeps_admission_stats(spark):
    """Round-7 ADVICE: a source whose batch docs are ALL exact dups of
    OTHER sources' index docs (and which has no index docs of its own)
    contributes nothing to the new index, but its admission stats must
    still appear in the report — the bs side joins full-outer, not
    left. Its index-summary columns are zero."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.dedup import (
        index_compaction_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "web", "alpha beta gamma delta epsilon zeta"),
            (400, "mirror", "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id LONG, source STRING, text STRING",
    )
    rep = {
        r.source: r
        for r in index_compaction_report(docs, split_id=400, k=5).collect()
    }
    assert set(rep) == {"web", "mirror"}
    m = rep["mirror"]
    assert m.n_dropped_exact == 1 and m.n_admitted == 0
    assert m.n_docs == 0 and m.n_md5_distinct == 0 and m.md5_xor == 0
    assert m.n_pass_rows == 0 and m.pass_xor == 0
    assert rep["web"].n_docs == 1 and rep["web"].n_dropped_exact == 0


def test_l71_gen2_index_is_live(spark):
    """Two-generation pipeline on a planted frame: an admitted batch-A
    doc must be a live index entry for batch B (novel under gen-1,
    near under gen-2), a dropped exact-dup batch-A doc must NOT add
    keys (B docs matching its text resolve to the ORIGINAL index doc),
    and B docs with no gen-2 match stay novel."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.dedup import (
        two_generation_ingestion_report,
    )

    passage = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, "web", "one two three four five six seven"),
            (400, "crawl", f"{passage} zeta eta"),  # novel -> admitted
            (401, "crawl", "one two three four five six seven"),  # exact dup of 1 -> dropped
            (450, "crawl", f"theta iota {passage} kappa"),  # near via ADMITTED 400
            (451, "crawl", "one two three four five six seven"),  # exact, via original 1
            (452, "crawl", "lambda mu nu xi omicron pi rho"),  # novel
        ],
        "doc_id LONG, source STRING, text STRING",
    )
    got = {
        r.doc_id: (r.status, r.match_id)
        for r in two_generation_ingestion_report(
            docs, gen1_split=400, gen2_split=450, k=5
        ).collect()
    }
    assert got == {
        450: ("near", 400),
        451: ("exact", 1),
        452: ("novel", None),
    }


def test_l71_corpus_differs_from_gen1_probe(spark):
    """At the parity SF the compacted index must change at least one
    batch-B verdict vs probing the gen-1 index alone (the index actually
    grew), and every changed row must be explained by an admitted
    batch-A match (match_id in [400, 450))."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.dedup import (
        _incremental_classify,
        _incremental_index_frames,
        two_generation_ingestion_report,
    )
    from tests.conftest import SF_DIR_MEDIUM

    docs = llmops.load_table(spark, SF_DIR_MEDIUM, "documents").where(
        F.trim("text") != ""
    )
    gen2 = {
        r.doc_id: (r.status, r.match_id)
        for r in two_generation_ingestion_report(docs).collect()
    }
    md5f, grams = _incremental_index_frames(docs, 5)
    gen1 = {
        r.doc_id: (r.status, r.match_id)
        for r in _incremental_classify(
            docs, md5f, grams, F.col("doc_id") >= 450, F.col("doc_id") < 400
        ).collect()
    }
    assert set(gen2) == set(gen1)
    changed = {d for d in gen2 if gen2[d] != gen1[d]}
    assert changed, "compaction must change at least one batch-B verdict"
    for d in changed:
        assert gen2[d][1] is not None and 400 <= gen2[d][1] < 450, (
            d, gen1[d], gen2[d],
        )


def test_l68_corpus_stats_consistent_with_l64(spark, sf_dir):
    """At corpus scale the compaction's admission stats must replay the
    l64 classification exactly: per-source dropped == l64 'exact' count,
    admitted == near + novel, and the new-index doc count == index docs
    + admitted."""
    comp = {r.source: r for r in llmops.l68_index_compaction(spark, sf_dir).collect()}
    l64 = llmops.l64_incremental_dedup(spark, sf_dir)
    docs = llmops.load_table(spark, sf_dir, "documents").where(
        F.trim("text") != ""
    )
    src = docs.select("doc_id", "source")
    stat = {
        (r.source, r.status): r.n
        for r in l64.join(src, "doc_id")
        .groupBy("source", "status")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    idx_n = {
        r.source: r.n
        for r in docs.where(F.col("doc_id") < 400)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for s, r in comp.items():
        assert r.n_dropped_exact == stat.get((s, "exact"), 0)
        assert r.n_admitted == stat.get((s, "near"), 0) + stat.get(
            (s, "novel"), 0
        )
        assert r.n_docs == idx_n.get(s, 0) + r.n_admitted


def test_l75_recall_eval_invariants(spark, sf_dir):
    """Evaluation sanity on the real corpus: one row per query, n_ann
    and n_overlap bounded by k, overlap never exceeds the ANN set, and
    every query's own vector (cosine 1 with itself, guaranteed an LSH
    candidate via identical band hashes) is in both top-10s — so
    n_overlap >= 1 and n_ann >= 1 always."""
    rows = llmops.QUERIES["l75_ann_recall_eval"](spark, sf_dir).collect()
    assert [r.query_id for r in rows] == list(range(10))
    for r in rows:
        assert 1 <= r.n_ann <= 10
        assert 1 <= r.n_overlap <= r.n_ann


def test_l83_fertility_invariants(spark, sf_dir):
    """Merging can only shrink the corpus: per-lang BPE token totals
    are bounded by the symbol totals, the ratio columns replay their
    integer formulas, and every lang with an eligible (>= 2 printable
    chars) document appears."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops as L

    rows = L.QUERIES["l83_tokenizer_fertility"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_bpe"] <= r["n_sym"]
        assert r["chars_per_tok_ppm"] == (1000000 * r["n_sym"]) // r["n_bpe"]
        assert (
            r["savings_ppm"]
            == (1000000 * (r["n_sym"] - r["n_bpe"])) // r["n_sym"]
        )
        assert r["chars_per_tok_ppm"] >= 1000000


def test_l84_retrieval_eval_invariants(spark, sf_dir):
    """IR-metric sanity on the BM25 near-dup evaluation: ranks stay in
    [0, 10], hits are bounded by both the partner count and the cutoff,
    reciprocal rank replays its integer formula, and the retriever
    genuinely finds SOME near-dup at rank 1 (shared tokens drive both
    BM25 and Jaccard, so a zero-hit report would mean a broken join)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops as L

    rows = L.QUERIES["l84_retrieval_eval"](spark, sf_dir).collect()
    assert rows
    assert any(r["first_rank"] == 1 for r in rows)
    for r in rows:
        assert r["n_rel"] >= 1
        assert 0 <= r["first_rank"] <= 10
        assert 0 <= r["hits_at_k"] <= min(r["n_rel"], 10)
        if r["first_rank"] == 0:
            assert r["rr_ppm"] == 0 and r["hits_at_k"] == 0
        else:
            assert r["rr_ppm"] == 1000000 // r["first_rank"]
            assert r["hits_at_k"] >= 1


def test_l85_context_assembly_invariants(spark, sf_dir):
    """Assembly-rule sanity: positions are contiguous from 1 per query,
    cumulative tokens replay the running sum and never exceed the
    budget, and no query's context carries more than the per-source
    diversity cap."""
    from collections import Counter

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops as L

    rows = L.QUERIES["l85_context_assembly"](spark, sf_dir).collect()
    assert rows
    byq: dict = {}
    for r in rows:
        byq.setdefault(r["query_id"], []).append(r)
    for qid, rs in byq.items():
        rs.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in rs] == list(range(1, len(rs) + 1))
        cum = 0
        srcs = Counter()
        for r in rs:
            cum += r["n_tokens"]
            assert r["cum_tokens"] == cum
            srcs[r["source"]] += 1
        assert cum <= L._L85_BUDGET
        assert max(srcs.values()) <= L._L85_SOURCE_CAP


def test_l86_dataset_card_invariants(spark, sf_dir):
    """Card sanity: every source appears once, totals are positive and
    consistent (dup count bounded by doc count, ppm formula replays),
    and the corpus-wide dup flag is symmetric — summing per-source dup
    docs equals the number of docs in >1-sized normalized-text groups."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops as L
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = L.QUERIES["l86_dataset_card"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.select("source").distinct().count()
    total_dup = (
        docs.groupBy(
            F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
        )
        .count()
        .where(F.col("count") > 1)
        .agg(F.sum("count"))
        .collect()[0][0]
        or 0
    )
    assert sum(r["n_dup_docs"] for r in rows) == total_dup
    for r in rows:
        assert 0 <= r["n_dup_docs"] <= r["n_docs"]
        assert r["dup_ppm"] == (1000000 * r["n_dup_docs"]) // r["n_docs"]
        assert 1 <= r["n_langs"]
        assert r["n_chars"] >= r["n_tokens"] >= 0


def test_l87_overlap_matrix_invariants(spark, sf_dir):
    """Provenance-matrix sanity: pairs are canonically unordered
    (src_a < src_b), participant counts are bounded by the pair count
    and by each side's corpus, ppm formulas replay, and summing
    n_pairs over the matrix equals the number of cross-source edges in
    the pair graph."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops as L
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = L.QUERIES["l87_source_overlap_matrix"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    sizes = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    pairs = L._dup_pairs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    cross = (
        pairs.join(src.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("source", "sa"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("source", "sb"), "id_b")
        .where(F.col("sa") != F.col("sb"))
        .count()
    )
    assert sum(r["n_pairs"] for r in rows) == cross
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert 1 <= r["docs_a"] <= min(r["n_pairs"], sizes[r["src_a"]])
        assert 1 <= r["docs_b"] <= min(r["n_pairs"], sizes[r["src_b"]])
        assert r["overlap_a_ppm"] == (1000000 * r["docs_a"]) // sizes[r["src_a"]]
        assert r["overlap_b_ppm"] == (1000000 * r["docs_b"]) // sizes[r["src_b"]]


def test_tile_means_exact_quadrants():
    """tile_means on a hand-built 5x3 plane: odd width/height put the
    extra column/row in the RIGHT/BOTTOM tiles (left/top take the floor
    half), and every mean is a floor division."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        tile_means,
    )

    w, h = 5, 3
    vals = list(range(15))  # row-major 0..14
    ma, tl, tr, bl, br = tile_means(w, h, vals)
    # tl: x<2, y<1 -> {0,1}; tr: x>=2, y<1 -> {2,3,4}
    # bl: x<2, y>=1 -> {5,6,10,11}; br: x>=2,y>=1 -> {7,8,9,12,13,14}
    assert tl == (0 + 1) // 2
    assert tr == (2 + 3 + 4) // 3
    assert bl == (5 + 6 + 10 + 11) // 4
    assert br == (7 + 8 + 9 + 12 + 13 + 14) // 6
    assert ma == sum(vals) // 15


def test_bmp_tile_features_roundtrip(spark):
    """The mapInPandas tile extractor agrees with decoding + pooling by
    hand for a couple of documents."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import (
        multimodal as MM,
    )

    docs = spark.createDataFrame(
        [(7, 11), (123, 200)], "doc_id LONG, n_chars LONG"
    )
    got = {r.doc_id: r for r in MM.bmp_tile_features(docs).collect()}
    for doc_id, n_chars in ((7, 11), (123, 200)):
        w, h, vals = MM.decode_bmp_pixels(MM.encode_bmp(doc_id, n_chars))
        ma, tl, tr, bl, br = MM.tile_means(w, h, vals)
        r = got[doc_id]
        assert (r.width, r.height) == (w, h)
        assert (r.mean_all, r.mean_tl, r.mean_tr, r.mean_bl, r.mean_br) == (
            ma, tl, tr, bl, br,
        )


def test_decimate_wav_exact_pairs():
    """Hand-check the decimator on a tiny synthetic WAV: pair averages
    in the unsigned code domain, odd tail passthrough, half rate."""
    import io
    import struct
    import wave

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.multimodal import (
        decimate_wav,
        decode_wav,
    )

    samples = [-32768, 32767, 5, -6, 100]  # odd count
    frames = b"".join(struct.pack("<h", s) for s in samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(frames)
    n, rate, _, ssum = decode_wav(decimate_wav(buf.getvalue()))
    # pairs: (0 + 65535)//2 - 32768 = -1; (32773 + 32762)//2 - 32768 = -1
    # tail: 100
    assert (n, rate) == (3, 4000)
    assert ssum == -1 + -1 + 100


def test_l93_packed_windows_invariants(spark, sf_dir):
    """Conservation laws of the packed stream: full windows hold exactly
    W tokens, the fills sum to the whole token stream (every doc's
    tokens + its EOS), and every document starts in exactly one
    window."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops as L

    rows = L.QUERIES["l93_packed_windows"](spark, sf_dir).collect()
    W = L._L93_W
    last = max(r.window_id for r in rows)
    assert sorted(r.window_id for r in rows) == list(range(last + 1))
    for r in rows:
        if r.window_id < last:
            assert r.n_tokens == W, r
        # a window wholly inside one straddling document has 0 starts
        assert 0 <= r.n_starts <= r.n_docs
        assert r.first_doc <= r.last_doc

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    t = F.trim(F.coalesce(F.col("text"), F.lit("")))
    docs = load_table(spark, sf_dir, "documents")
    total = docs.select(
        (
            F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
            + 1
        ).alias("sz")
    ).agg(F.sum("sz")).collect()[0][0]
    assert sum(r.n_tokens for r in rows) == total
    assert sum(r.n_starts for r in rows) == docs.count()


def test_l92_fim_is_a_permutation(spark):
    """The PSM reassembly must contain every original character exactly
    once (piece lengths partition n) and hash as the documented
    <PRE>p<SUF>s<MID>m serialization."""
    import hashlib

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops as L

    txt = "abcdefghij"  # n=10 -> a=3, b=6
    docs = spark.createDataFrame(
        [(1, txt, len(txt)), (2, "xy", 2)],
        "doc_id LONG, text STRING, n_chars LONG",
    )
    import tempfile

    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r.doc_id: r for r in L.QUERIES["l92_fim_transform"](spark, d).collect()}
    r1 = rows[1]
    assert (r1.split_a, r1.split_b, r1.mode) == (3, 6, "psm")
    want = "<PRE>abc<SUF>ghij<MID>def"
    assert r1.fim_md5 == hashlib.md5(want.encode()).hexdigest()
    r2 = rows[2]
    assert r2.mode == "raw"
    assert r2.fim_md5 == hashlib.md5(b"xy").hexdigest()


def test_l94_zipf_slope_matches_numpy(spark):
    """The shared-expression regression vs numpy lstsq on a tiny corpus
    with a known vocabulary — agreement within 1 micro plus the
    quantization error of the micro-rounded ln inputs."""
    import math
    import tempfile

    import numpy as np

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import llmops as L

    docs = [
        (1, "alpha alpha alpha beta beta gamma", 1),
        (2, "alpha beta delta delta", 1),
        (3, "alpha epsilon", 1),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        docs, "doc_id LONG, text STRING, n_chars LONG"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    row = L.QUERIES["l94_zipf_slope"](spark, d).collect()[0]
    # freqs: alpha 5, beta 3, delta 2, gamma 1, epsilon 1 (ties by name)
    freqs = [5, 3, 2, 1, 1]
    x = [round(math.log(r) * 1e6) for r in range(1, 6)]
    y = [round(math.log(f) * 1e6) for f in freqs]
    A = np.vstack([x, np.ones(len(x))]).T
    slope, intercept = np.linalg.lstsq(A, np.array(y, dtype=float), rcond=None)[0]
    assert row.n_types == 5
    assert abs(row.slope_micro - slope * 1e6) <= 2
    assert abs(row.intercept_micro - intercept) <= 2


# ---------------------------------------------------------------------------
# l98-l100 quality filters: pure-Python closures over the raw text.
# ---------------------------------------------------------------------------


def _doc_texts(spark, sf_dir):
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    return [
        (r.doc_id, r.lang, r.source, r.text)
        for r in load_table(spark, sf_dir, "documents").collect()
    ]


def test_l98_gopher_rules_brute(spark, sf_dir):
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _L98_STOPWORDS,
    )

    docs = _doc_texts(spark, sf_dir)
    import collections

    agg = collections.defaultdict(lambda: [0, 0, 0, 0, 0])
    for _, lang, source, text in docs:
        ws = text.split(" ")
        nw = len(ws)
        ok_nw = 50 <= nw <= 100000
        ok_wl = 3.0 <= sum(len(w) for w in ws) / nw <= 10.0
        ok_stop = len(set(ws) & set(_L98_STOPWORDS)) >= 2
        a = agg[(lang, source)]
        a[0] += 1
        a[1] += not ok_nw
        a[2] += not ok_wl
        a[3] += not ok_stop
        a[4] += ok_nw and ok_wl and ok_stop
    got = {
        (r.lang, r.source): [
            r.n_docs, r.fail_wordcount, r.fail_wordlen, r.fail_stopwords, r.n_pass
        ]
        for r in llmops.QUERIES["l98_gopher_quality_rules"](spark, sf_dir).collect()
    }
    assert got == {k: list(v) for k, v in agg.items()}


def test_l99_and_l100_brute(spark, sf_dir):
    import collections

    docs = _doc_texts(spark, sf_dir)
    l99 = {
        r.doc_id: r
        for r in llmops.QUERIES["l99_lexical_diversity"](spark, sf_dir).collect()
    }
    l100 = {
        r.doc_id: r
        for r in llmops.QUERIES["l100_dup_bigram_rate"](spark, sf_dir).collect()
    }
    for doc_id, _, _, text in docs:
        ws = text.split(" ")
        cnt = collections.Counter(ws)
        r = l99[doc_id]
        assert (r.n_words, r.n_types, r.n_hapax) == (
            len(ws),
            len(cnt),
            sum(1 for c in cnt.values() if c == 1),
        )
        assert abs(r.ttr - len(cnt) / len(ws)) < 1e-12
        grams = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        g = l100[doc_id]
        assert (g.n_grams, g.n_distinct) == (len(grams), len(set(grams)))
        assert abs(g.dup_rate - (1 - len(set(grams)) / len(grams))) < 1e-12


def test_l101_overlap_pairs_brute(spark, sf_dir):
    docs = _doc_texts(spark, sf_dir)
    sets = {}
    for doc_id, _, _, text in docs:
        ws = text.split(" ")
        sets[doc_id] = {
            f"{a} {b} {c}" for a, b, c in zip(ws, ws[1:], ws[2:])
        }
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            common = len(sets[a] & sets[b])
            mn = min(len(sets[a]), len(sets[b]))
            if 1000000 * common >= 500000 * mn:
                want[(a, b)] = (common, len(sets[a]), len(sets[b]),
                                1000000 * common // mn)
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b, r.overlap_ppm)
        for r in llmops.QUERIES["l101_overlap_coefficient_pairs"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_l102_pca_matches_numpy(spark, sf_dir):
    import numpy as np

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    G = (X - X.mean(axis=0)).T @ (X - X.mean(axis=0))
    v = np.zeros(X.shape[1])
    v[0] = 1.0
    for _ in range(3):
        w = G @ v
        v = w / np.sqrt((w * w).sum())
    lam = v @ G @ v
    got = sorted(
        llmops.QUERIES["l102_pca_power_iteration"](spark, sf_dir).collect(),
        key=lambda r: r.dim,
    )
    assert [r.dim for r in got] == list(range(1, X.shape[1] + 1))
    for r in got:
        # outputs are exact-integer quantized (nano components / micro
        # Rayleigh — the house cross-engine hash recipe)
        assert abs(r.component_nanos / 1e9 - v[r.dim - 1]) < 1e-8, (
            r.dim, r.component_nanos, v[r.dim - 1],
        )
        assert abs(r.rayleigh_micros / 1e6 - lam) < 1e-6 * abs(lam)
    # and the step sequence climbs toward the true top eigenvalue
    top = np.linalg.eigvalsh(G)[-1]
    assert lam <= top + 1e-9


def test_l103_report_composes_member_rules(spark, sf_dir):
    """The curation report must equal a Python recomposition of the
    registered member signals (l01-style survivorship, l101 pairs,
    l98 rules)."""
    import collections
    import re

    docs = _doc_texts(spark, sf_dir)
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        _L98_STOPWORDS,
    )

    keep = {}
    for doc_id, _, _, text in sorted(docs):
        nt = re.sub(r"\s+", " ", text.strip().lower())
        keep.setdefault(nt, doc_id)
    flagged = set()
    for r in llmops.QUERIES["l101_overlap_coefficient_pairs"](spark, sf_dir).collect():
        flagged.add(r.doc_a)
        flagged.add(r.doc_b)
    agg = collections.defaultdict(lambda: [0, 0, 0, 0, 0])
    for doc_id, _, source, text in docs:
        nt = re.sub(r"\s+", " ", text.strip().lower())
        removed = keep[nt] != doc_id
        contained = doc_id in flagged
        ws = text.split(" ")
        ok = (
            50 <= len(ws) <= 100000
            and 3.0 <= sum(len(w) for w in ws) / len(ws) <= 10.0
            and len(set(ws) & set(_L98_STOPWORDS)) >= 2
        )
        a = agg[source]
        a[0] += 1
        a[1] += removed
        a[2] += contained
        a[3] += ok
        a[4] += (not removed) and (not contained) and ok
    got = {
        r.source: [r.n_docs, r.n_exact_removed, r.n_containment_flagged,
                   r.n_gopher_pass, r.n_clean]
        for r in llmops.QUERIES["l103_curation_report"](spark, sf_dir).collect()
    }
    assert got == {k: list(v) for k, v in agg.items()}


def test_s63_moment_partials_merge_invariant(spark, sf_dir):
    """(i, j, s)/(i, sv, n) moment partials from arbitrary 3-way vector
    splits must merge to exactly l102's component — the s63 twin's
    soundness argument (Gram matrices are sums of outer products)."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.llmops import (
        pca_from_moment_partials,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "vec_id", (F.col("i0") + 1).alias("i"), F.col("x").cast("double").alias("v")
    )
    sparts, mparts = [], []
    for p in range(3):
        sub = el.where(F.col("vec_id") % 3 == p)
        a = sub.select("vec_id", F.col("i").alias("ia"), F.col("v").alias("va"))
        b = sub.select("vec_id", F.col("i").alias("jb"), F.col("v").alias("vb"))
        sparts.append(
            a.join(b, "vec_id")
            .groupBy(F.col("ia").alias("i"), F.col("jb").alias("j"))
            .agg(F.sum(F.col("va") * F.col("vb")).alias("s"))
        )
        mparts.append(
            sub.groupBy("i").agg(F.sum("v").alias("sv"), F.count("*").alias("n"))
        )
    s = sparts[0].unionAll(sparts[1]).unionAll(sparts[2])
    mu = mparts[0].unionAll(mparts[1]).unionAll(mparts[2])
    got = {
        r.dim: (round(r.component_nanos / 1e9, 6), round(r.rayleigh_micros / 1e6, 4))
        for r in pca_from_moment_partials(s, mu).collect()
    }
    want = {
        r.dim: (round(r.component_nanos / 1e9, 6), round(r.rayleigh_micros / 1e6, 4))
        for r in llmops.QUERIES["l102_pca_power_iteration"](spark, sf_dir).collect()
    }
    assert got == want


def test_l104_span_corruption_brute(spark, sf_dir):
    """Mask geometry + corrupted md5 vs a pure-Python replay of the
    md5-coin span walk."""
    import hashlib

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    docs = {
        r.doc_id: (r.text or "")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {
        r.doc_id: (r.n_words, r.n_masked, r.n_spans, r.corrupted_md5)
        for r in llmops.QUERIES["l104_span_corruption"](spark, sf_dir).collect()
    }
    for doc_id, text in docs.items():
        toks = text.split(" ")
        n = len(toks)
        starts = [
            int(hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:15], 16) % 20 == 0
            for i in range(1, n + 1)
        ]
        masked = [
            starts[i]
            or (i >= 1 and starts[i - 1])
            or (i >= 2 and starts[i - 2])
            for i in range(n)
        ]
        out = []
        for i in range(n):
            if not masked[i]:
                out.append(toks[i])
            elif i == 0 or not masked[i - 1]:
                out.append("<X>")
        n_spans = sum(
            1 for i in range(n) if masked[i] and (i == 0 or not masked[i - 1])
        )
        md5 = hashlib.md5(" ".join(out).encode()).hexdigest()
        assert got[doc_id] == (n, sum(masked), n_spans, md5), doc_id


def test_l105_pmi_brute(spark, sf_dir):
    """Top-20 PMI pairs vs a Counter walk with micro rounding."""
    import collections
    import decimal
    import math

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    texts = [
        (r.text or "")
        for r in load_table(spark, sf_dir, "documents").collect()
    ]
    uni = collections.Counter()
    big = collections.Counter()
    nb = 0
    for t in texts:
        toks = t.split(" ")
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
        nb += max(len(toks) - 1, 0)
    nw = sum(uni.values())
    scored = []
    for (x, y), cxy in big.items():
        if cxy < 5:
            continue
        pmi = int(
            decimal.Decimal(
                math.log(cxy * nw * nw / (nb * uni[x] * uni[y])) * 1e6
            ).quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
        )
        scored.append((-pmi, x, y, cxy, uni[x], uni[y]))
    scored.sort()
    want = [
        (x, y, cxy, cx, cy, -negpmi)
        for negpmi, x, y, cxy, cx, cy in scored[:20]
    ]
    got = [
        (r.x, r.y, r.cxy, r.cx, r.cy, r.pmi_micro)
        for r in llmops.QUERIES["l105_pmi_collocations"](spark, sf_dir).collect()
    ]
    assert got == want


def test_l106_distinctive_terms_brute(spark, sf_dir):
    """Top-5 per source vs a Counter walk of the Monroe log-odds z
    with micro rounding."""
    import collections
    import decimal
    import math

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    rows = [
        (r.source, (r.text or "").split(" "))
        for r in load_table(spark, sf_dir, "documents").collect()
    ]
    sw = collections.Counter()
    cw = collections.Counter()
    st = collections.Counter()
    for src, toks in rows:
        for t in toks:
            sw[(src, t)] += 1
            cw[t] += 1
            st[src] += 1
    n = sum(cw.values())
    per_source = collections.defaultdict(list)
    for (src, t), y in sw.items():
        aw = cw[t] / n
        a0r = (n - cw[t]) / n
        delta = math.log((y + aw) / (st[src] - y + a0r)) - math.log(
            (cw[t] - y + aw) / ((n - st[src]) - (cw[t] - y) + a0r)
        )
        var = 1 / (y + aw) + 1 / (cw[t] - y + aw)
        zm = int(
            decimal.Decimal(delta / math.sqrt(var) * 1e6).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )
        per_source[src].append((-zm, t, y))
    want = {}
    for src, lst in per_source.items():
        lst.sort()
        want[src] = [(t, y, -negz, i + 1) for i, (negz, t, y) in enumerate(lst[:5])]
    got = collections.defaultdict(list)
    for r in llmops.QUERIES["l106_distinctive_terms"](spark, sf_dir).collect():
        got[r.source].append((r.term, r.n_in_source, r.z_micro, r.rn))
    for src in want:
        assert sorted(got[src]) == sorted(want[src]), src


def test_l107_dp_brute(spark, sf_dir):
    """DP vs the textbook full-source sum (including zero cells)."""
    import collections

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    rows = [
        (r.source, (r.text or "").split(" "))
        for r in load_table(spark, sf_dir, "documents").collect()
    ]
    sw = collections.Counter()
    st = collections.Counter()
    cw = collections.Counter()
    for src, toks in rows:
        for t in toks:
            sw[(src, t)] += 1
            st[src] += 1
            cw[t] += 1
    n = sum(st.values())
    top = sorted(cw, key=lambda t: (-cw[t], t))[:30]
    got = {
        r.term: (r.total_count, r.dp_num, round(r.dp, 12))
        for r in llmops.QUERIES["l107_dispersion_dp"](spark, sf_dir).collect()
    }
    assert set(got) == set(top)
    for t in top:
        num = sum(
            abs(sw.get((s, t), 0) * n - st[s] * cw[t]) for s in st
        )
        dp = num / (2 * cw[t] * n)
        assert got[t] == (cw[t], num, round(dp, 12)), t
