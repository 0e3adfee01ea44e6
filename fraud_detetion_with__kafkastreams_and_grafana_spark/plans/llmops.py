"""LLM-data-pipeline queries (the north-star extension surface): dedup,
similarity search, text analysis, multimodal plumbing — over the driver's
`documents` and `embeddings` tables.

Oracle policy: everything deterministic & SQL-expressible gets a DuckDB
oracle (exact dedup, blocked Jaccard, brute-force cosine, text stats,
lang-ID, quality score, multimodal stub features). The probabilistic LSH
operators (MinHash bands, SimHash chunks, random-hyperplane ANN) have no
SQL equivalent — they get rows-only driver checks plus recall/planted-dup
tests in tests/test_llmops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import multimodal as MM
from ..operators import similarity as SIM
from ..sessioncache import session_cached
from ..sources.tables import events_projection, load_table
from .registry import EventsRule, registrar

QUERIES, ORACLES, _register = registrar()


# SQL fragments shared by oracles — kept in exact sync with functions/text.py
_TOKS = r"string_split_regex(trim(text), '\s+')"
_STOPS = "['" + "','".join(TX.STOPWORDS) + "']"
_STOP_RATIO = (
    f"len(list_filter({_TOKS}, t -> list_contains({_STOPS}, lower(t))))::DOUBLE"
    f" / greatest(len({_TOKS}), 1)"
)
_PUNCT_RATIO = (
    "length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / greatest(length(text), 1)"
)
_DIGIT_RATIO = (
    "length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1)"
)


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------
@_register(
    "l01_dedup_exact",
    r"""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    """,
)
def l01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text (operators/dedup.dedup_exact): the
    oracle groups by the normalized text itself; the engine groups by its
    64-bit hash — identical partitions absent collisions."""
    return DD.dedup_exact(load_table(spark, sf_dir, "documents"))


# Shared by the l02 oracle and l20's connected-components oracle (which
# builds its duplicate graph from exactly these pairs).
_JACCARD_PAIRS_SQL = r"""
    WITH t AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
             list_distinct(string_split_regex(trim(text), '\s+')) AS sh
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4) AS jaccard_sim
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4) >= 0.8
"""


# The near-dup pair graph feeds FOUR queries (l02 pairs, l20 components,
# l30 pagerank, l33 survivors). Materialize it once per (session, dataset)
# — the production shape is a pair TABLE written by the dedup stage and
# read by every downstream consumer, not four recomputations of the
# tokenize/hash/join pipeline. localCheckpoint truncates the plan so each
# consumer starts from the materialized pairs.
_PAIR_CACHE: dict[tuple[str, str], DataFrame] = {}


def _dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "len_bucket", (F.col("n_chars") / 100).cast("long")
        )
        return DD.ngram_jaccard_pairs(
            docs, block_cols=["lang", "len_bucket"], threshold=0.8
        ).localCheckpoint()

    key = (spark.sparkContext.applicationId, sf_dir)
    return session_cached(_PAIR_CACHE, key, build)


# Connected components over the pair graph likewise feed two consumers
# (l20 group assignment, l33 survivor selection). The label-propagation
# loop is the expensive iterative stage; materialize its fixpoint once per
# (session, dataset) — in production the dedup stage writes the
# doc_id -> group_id table once and every downstream job reads it.
_COMP_CACHE: dict[tuple[str, str], DataFrame] = {}


def _dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    return session_cached(
        _COMP_CACHE,
        key,
        lambda: DD.connected_components(
            _dup_pairs(spark, sf_dir), "id_a", "id_b"
        ).localCheckpoint(),
    )


@_register("l02_ngram_jaccard_pairs", _JACCARD_PAIRS_SQL)
def l02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked on (lang,
    length-bucket) so the self-join is per-block rather than O(n^2);
    oversized blocks route through prefix filtering (operators/dedup).
    First touch materializes the pair graph for this (session, dataset);
    l20/l30/l33 read the same materialized pairs.

    Reference parity: none in reference; public methodology (Broder 1997 resemblance / n-gram Jaccard).
    """
    return _dup_pairs(spark, sf_dir)


@_register("l03_minhash_lsh_pairs")  # probabilistic -> rows-only + pytest
def l03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs, exact-Jaccard verified
    (operators/dedup.minhash_near_dups). Word 3-gram shingles: unigram
    Jaccard on this templated corpus calls 41% of all pairs "near-dup"
    (shared vocabulary), while 3-gram Jaccard isolates the genuinely
    duplicated documents — see l43, the oracle-checked twin that
    surfaced this (and the seeded-hash arity bug it also fixed)."""
    return DD.minhash_near_dups(
        load_table(spark, sf_dir, "documents"), shingle_n=3, threshold=0.7
    )


@_register("l04_simhash_pairs")  # probabilistic -> rows-only + pytest
def l04_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole chunk join
    (operators/dedup.simhash_near_dups)."""
    return DD.simhash_near_dups(load_table(spark, sf_dir, "documents"), max_hamming=3)


@_register(
    "l05_fingerprint",
    r"""
    SELECT doc_id,
           list_min(list_transform(
             string_split_regex(trim(text), '\s+'),
             tok -> list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007)
           )) AS fingerprint
    FROM documents
    WHERE trim(text) != ''
    """,
)
def l05_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min over per-token polynomial rolling hashes
    (functions/text.polyhash) — equal for word-permuted duplicates, like
    a single-permutation MinHash. The poly hash (vs xxhash64) makes the
    value exactly reproducible in SQL, so this is hash-checked by the
    oracle, not rows-only; determinism is additionally pinned in tests.
    Empty docs are excluded on both sides (the engines disagree on
    hashing a zero-length token, and a fingerprint of nothing is
    meaningless anyway)."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    sh = DD.shingles(F.col("text"), 1)
    return docs.select(
        "doc_id",
        F.array_min(F.transform(sh, lambda s: TX.polyhash(s))).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------
_COS_SQL = """
    round(
      list_reduce(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
       * sqrt(list_reduce(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))
    , 4)"""


@_register(
    "l06_cosine_topk",
    f"""
    SELECT a.vec_id, {_COS_SQL} AS cosine_sim
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY
      list_reduce(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
       * sqrt(list_reduce(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))
      DESC, a.vec_id ASC
    LIMIT 10
    """,
)
def l06_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vector vec_id=0 — the exact ANN
    baseline (operators/similarity.cosine_topk). The oracle repeats the
    identical double-precision accumulation element-by-element."""
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(em, em.filter(F.col("vec_id") == 0), k=10)


@_register("l07_ann_lsh_topk")  # approximate -> rows-only + recall pytest
def l07_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-10 for vec_id=0
    (operators/similarity.ann_lsh_topk)."""
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.ann_lsh_topk(em, em.filter(F.col("vec_id") == 0), k=10)


@_register("l13_ivf_topk")  # approximate -> rows-only + exactness-anchor pytest
def l13_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN top-10 for vec_id=0
    (operators/similarity.ivf_topk): probe 4 of 16 cells, exact rerank."""
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(em, em.filter(F.col("vec_id") == 0), k=10)


@_register(
    "l08_embedding_neardup",
    f"""
    WITH n AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE) /
               sqrt(list_reduce(list_transform(embedding,
                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (x, y) -> x + y))) AS nvec
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_reduce(list_transform(range(1, len(a.nvec) + 1),
             i -> a.nvec[i] * b.nvec[i]), (x, y) -> x + y), 4) AS cosine_sim
    FROM n a JOIN n b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE cosine_sim >= 0.4
    """,
)
def l08_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by label, cosine >= 0.4
    (operators/similarity.embedding_near_dup_pairs).

    The oracle mirrors the Spark float pipeline operation-for-operation
    (normalize each element by its vector's l2 norm, THEN ordered product
    sum) so the rounded-to-4-decimals value can never diverge by
    accumulation order — dot/(norm*norm) vs normalized-dot differ in the
    last ulp on adversarial data."""
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dup_pairs(em, block_col="label", threshold=0.4)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@_register(
    "l09_text_stats",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS BIGINT) AS bpe_tokens,
           round({_PUNCT_RATIO}, 6) AS punct_ratio,
           round({_DIGIT_RATIO}, 6) AS digit_ratio,
           round({_STOP_RATIO}, 6) AS stop_ratio,
           round(list_reduce(list_transform({_TOKS}, t -> length(t)::DOUBLE), (x, y) -> x + y)
                 / greatest(len({_TOKS}), 1), 6) AS avg_word_len
    FROM documents
    """,
)
def l09_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.whitespace_token_count("text").alias("ws_tokens"),
        TX.bpe_ish_token_count("text").alias("bpe_tokens"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(TX.digit_ratio("text"), 6).alias("digit_ratio"),
        F.round(TX.stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(TX.avg_word_len("text"), 6).alias("avg_word_len"),
    )


def _marker_sql(markers: list[str]) -> str:
    arr = "['" + "','".join(markers) + "']"
    return f"len(list_filter({_TOKS}, t -> list_contains({arr}, lower(t))))"


_LANG_CASE = (
    "CASE WHEN greatest("
    + ", ".join(_marker_sql(m) for m in TX.LANG_MARKERS.values())
    + ") = 0 THEN 'und' "
    + " ".join(
        f"WHEN {_marker_sql(m)} = greatest("
        + ", ".join(_marker_sql(mm) for mm in TX.LANG_MARKERS.values())
        + f") THEN '{lang}'"
        for lang, m in TX.LANG_MARKERS.items()
    )
    + " ELSE 'und' END"
)


@_register(
    "l10_lang_id",
    f"""
    SELECT {_LANG_CASE} AS pred_lang, count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def l10_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based language ID (marker-word argmax), aggregated to counts."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(TX.lang_id("text").alias("pred_lang")).agg(
        F.count("*").alias("n_docs")
    )


@_register(
    "l11_quality_score",
    f"""
    SELECT doc_id,
           round((least(length(text) / 500.0, 1.0)
                + least({_STOP_RATIO} * 4, 1.0)
                + greatest(1.0 - ({_DIGIT_RATIO} + {_PUNCT_RATIO}) * 2, 0.0)) / 3, 6)
             AS quality
    FROM documents
    """,
)
def l11_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


# --------------------------------------------------------------------------
# Multimodal plumbing (stubbed decode, real Spark plan)
# --------------------------------------------------------------------------
@_register(
    "l12_multimodal_features",
    """
    WITH b AS (
      SELECT doc_id, coalesce(text, '') AS t FROM documents
    ), cp AS (
      SELECT doc_id, strlen(t) AS nb,
             list_transform(range(1, length(t) + 1),
                            i -> unicode(substring(t, i, 1))) AS cps
      FROM b
    )
    SELECT doc_id,
           CAST(nb AS BIGINT) AS n_bytes,
           CAST(64 + nb % 256 AS BIGINT) AS width,
           CAST(64 + (nb * 7) % 256 AS BIGINT) AS height,
           CAST(CASE WHEN nb = 0 THEN 0 ELSE list_reduce(list_transform(cps,
             c -> CASE WHEN c < 128 THEN c
                       WHEN c < 2048 THEN 320 + c // 64 + c % 64
                       WHEN c < 65536 THEN 480 + c // 4096 + (c // 64) % 64 + c % 64
                       ELSE 624 + c // 262144 + (c // 4096) % 64 + (c // 64) % 64 + c % 64
                  END), (x, y) -> x + y) END AS BIGINT) AS checksum
    FROM cp
    """,
)
def l12_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through mapInPandas
    (operators/multimodal) — the deterministic stub decode lets the oracle
    validate the Arrow plumbing end-to-end on ANY text, not just ASCII:
    the stub sums the UTF-8 payload bytes, and the oracle reconstructs the
    exact per-character byte sum from codepoints (1-byte c; 2-byte
    0xC0|c>>6, 0x80|c&63 sums to 320 + c//64 + c%64; likewise 3/4-byte)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.attach_fake_payload(docs)
    return MM.extract_image_features(media)


@_register(
    "l14_frame_sample",
    """
    WITH t AS (
      SELECT doc_id, coalesce(strlen(text), 0) AS n,
             range(0, greatest(CAST(ceil(coalesce(strlen(text), 0) / 256.0) AS BIGINT), 1)) AS idxs
      FROM documents
    )
    SELECT doc_id,
           unnest(idxs) AS frame_idx,
           unnest(list_transform(idxs, i -> i * 256)) AS start_offset,
           unnest(list_transform(idxs,
             i -> CASE WHEN n = 0 THEN 0
                       ELSE least(256, n - i * 256) END)) AS frame_bytes
    FROM t
    """,
)
def l14_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame sampling plumbing (operators/multimodal.sample_frames):
    1->N row expansion inside Arrow batches; the oracle replays the chunk
    arithmetic on byte lengths."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.sample_frames(MM.attach_fake_payload(docs))


@_register(
    "l15_resize",
    """
    SELECT doc_id, 'image/fake' AS media_type,
           least(coalesce(strlen(text), 0), 128) AS out_bytes
    FROM documents
    """,
)
def l15_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (operators/multimodal.resize_images): binary
    in, binary out via mapInPandas; the byte-length contract of the
    deterministic stub is the checkable surface (payload bytes stay
    executor-side)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.resize_images(MM.attach_fake_payload(docs)).select(
        "doc_id", "media_type", "out_bytes"
    )


@_register(
    "l17_train_split",
    """
    SELECT doc_id,
           CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def l17_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) — the split step
    of every training-data pipeline. Fisher-style multiplicative hash of
    the stable doc_id, NOT rand(): reproducible across runs/retries/
    cluster sizes, and no sequential-id bias (raw `doc_id % 100` would
    correlate the split with ingestion order). A pure narrow projection:
    splits at 100 TB cost one codegen expression per row, and writing
    `partitionBy(split)` gives the three datasets as partition prunes.

    Knuth constant 2654435761 = floor(2^32/phi); products stay < 2^63 for
    ids < 3.5e9 — hash to a wider key (xxhash64) past that."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(100))
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@_register(
    "l18_doc_chunks",
    r"""
    WITH t AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
      FROM documents WHERE trim(text) <> ''
    )
    SELECT doc_id,
           CAST(unnest(range(0, CAST(ceil(n / 48.0) AS BIGINT))) AS INT) AS chunk_idx,
           CAST(unnest(list_transform(range(0, CAST(ceil(n / 48.0) AS BIGINT)),
                i -> i * 48)) AS INT) AS start_tok,
           CAST(unnest(list_transform(range(0, CAST(ceil(n / 48.0) AS BIGINT)),
                i -> least(64, n - i * 48))) AS INT) AS n_toks
    FROM t
    """,
)
def l18_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window document chunking with overlap (context window
    64 tokens, stride 48 -> 16-token overlap) — the chunk step of RAG /
    pretraining pipelines. Pure sequence arithmetic + explode: the token
    array itself is never shuffled, each chunk row is (doc_id, chunk_idx,
    start_tok, n_toks) and the text slice is reconstructable with
    slice(tokens, start_tok+1, n_toks). Explode fans out pre-shuffle;
    there is no shuffle at all — linear in corpus at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.trim("text"), r"\s+"))
    base = docs.filter(F.trim("text") != "").select("doc_id", n.alias("n"))
    n_chunks = F.ceil(F.col("n") / 48.0).cast("int")
    return (
        base.select(
            "doc_id",
            "n",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * 48).cast("int").alias("start_tok"),
            F.least(F.lit(64), F.col("n") - F.col("chunk_idx") * 48)
            .cast("int")
            .alias("n_toks"),
        )
    )


@_register(
    "l19_pipeline_e2e",
    rf"""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    ), filtered AS (
      SELECT d.doc_id,
             len(string_split_regex(trim(d.text), '\s+')) AS n
      FROM documents d JOIN keep k ON d.doc_id = k.doc_id
      WHERE trim(d.text) <> ''
        AND round((least(length(text) / 500.0, 1.0)
                 + least({_STOP_RATIO} * 4, 1.0)
                 + greatest(1.0 - ({_DIGIT_RATIO} + {_PUNCT_RATIO}) * 2, 0.0)) / 3, 6)
            >= 0.5
    )
    SELECT doc_id,
           CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(unnest(range(0, CAST(ceil(n / 48.0) AS BIGINT))) AS INT) AS chunk_idx,
           CAST(unnest(list_transform(range(0, CAST(ceil(n / 48.0) AS BIGINT)),
                i -> least(64, n - i * 48))) AS INT) AS n_toks
    FROM filtered
    """,
)
def l19_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data prep pipeline as ONE declarative plan:
    exact dedup (keep lowest doc_id per normalized text) -> quality gate
    (l11's score >= 0.5) -> deterministic train/val/test split (l17) ->
    token-window chunking (l18). Composability is the point: each stage is
    the same operator the standalone queries register, and Catalyst fuses
    the narrow stages (filter+split+chunk all ride the dedup join's
    output) — at 100 TB this runs as one scan + one hash-group + one
    broadcast-back join, not four materialized passes."""
    docs = load_table(spark, sf_dir, "documents")
    keep = DD.dedup_exact(docs).select(F.col("keep_id").alias("doc_id"))
    base = (
        docs.join(keep, "doc_id")
        .filter(
            (F.trim("text") != "")
            & (TX.quality_score("text") >= 0.5)
        )
        .select(
            "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n")
        )
    )
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(100))
    n_chunks = F.ceil(F.col("n") / 48.0).cast("int")
    return (
        base.select(
            "doc_id",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
            "n",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "split",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.least(F.lit(64), F.col("n") - F.col("chunk_idx") * 48)
            .cast("int")
            .alias("n_toks"),
        )
    )


@_register(
    "l16_label_centroids",
    """
    SELECT label, CAST(t.i AS INTEGER) AS dim,
           round(avg(embedding[CAST(t.i AS INTEGER) + 1]), 6) AS centroid_v
    FROM embeddings, range(64) t(i)
    GROUP BY label, t.i
    """,
)
def l16_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (element-wise mean over each label's
    vectors) — the index-build step of IVF/kmeans-style ANN, as one
    declarative aggregation instead of a driver-side loop.

    Scale: posexplode fans rows x dim, but the hash aggregate combines
    map-side, so the shuffle carries only n_labels x dim partial sums per
    partition — never the exploded data. The oracle indexes each dimension
    via a range cross join (DuckDB has no ordinal unnest)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "_v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("_v"), 6).alias("centroid_v"))
    )


@_register(
    "l20_dup_groups",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    )
    SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS group_id
    FROM reach GROUP BY a
    """,
)
def l20_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup GROUPS: connected components over l02's
    blocked-Jaccard pair graph (operators/dedup.connected_components,
    min-label propagation + pointer jumping). Every doc in a duplicate
    cluster is labeled with the cluster's smallest doc_id, making
    "keep one per group" a single filter(doc_id == group_id).

    This is the step pair-emitting dedup (l02/l03/l04/l08) needs before
    anything can actually be dropped: A~B and B~C must collapse to one
    group even when A~C was never emitted. The oracle walks the same
    graph with a recursive-CTE transitive closure — exponentially more
    expensive than the log-round label propagation, which is exactly why
    the engine side exists."""
    comp = _dup_components(spark, sf_dir)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("group_id")
    )


@_register(
    "l21_tfidf_topk",
    r"""
    WITH w AS (
      SELECT doc_id, t AS term
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS t
        FROM documents WHERE trim(text) <> ''
      ) WHERE t <> ''
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n FROM tf
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 4) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 4) DESC,
                        tf.term
             ) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def l21_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 TF-IDF terms per document. One explode,
    then tf (group by doc,term), df derived from tf (group by term), and
    the corpus doc count broadcast as a 1-row frame — the exploded token
    table is aggregated once and never re-scanned. Top-k per doc is a
    ranking window over the (doc, term) table, partitioned by doc_id so
    no global sort exists anywhere.

    Determinism across engines: scores are ordered by their ROUNDED value
    (4 dp) with a term tiebreak, so a last-ulp ln() difference between
    the JVM and DuckDB cannot flip the ranking."""
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    w = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = w.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    tf = tf.persist()
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = tf.select(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 4
            ).alias("tfidf"),
        )
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@_register(
    "l22_balanced_sample",
    """
    SELECT vec_id, label FROM (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label
               ORDER BY (vec_id * 2654435761) % 1000000007, vec_id
             ) AS rn
      FROM embeddings
    ) WHERE rn <= 20
    """,
)
def l22_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: cap every label at 20
    vectors, chosen by a multiplicative hash of the stable vec_id — the
    class-balancing step of training-set assembly. Hash-ordered (not
    rand()-ordered) so the sample is reproducible across runs, retries
    and cluster sizes, and unbiased w.r.t. ingestion order (raw vec_id
    order would always keep the oldest rows).

    Scale: one ranking window partitioned by label. A pathologically hot
    label makes that partition a straggler; the fix at 100 TB is a
    pre-filter pass (keep hash < k*est_fraction) before the exact window,
    which prunes all but ~k rows per label without changing the result."""
    e = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql.window import Window

    h = F.pmod(F.col("vec_id") * F.lit(2654435761), F.lit(1000000007))
    win = Window.partitionBy("label").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        e.select("vec_id", "label")
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 20)
        .select("vec_id", "label")
    )


@_register(
    "l23_corpus_upsert",
    """
    WITH src AS (
      SELECT doc_id, text || ' (rev2)' AS text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 100000, 'new document ' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 13 = 0
    )
    SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
           CASE WHEN s.doc_id IS NULL THEN 'kept'
                WHEN t.doc_id IS NULL THEN 'inserted'
                ELSE 'updated' END AS status,
           CAST(length(coalesce(s.text, t.text)) AS BIGINT) AS final_len
    FROM documents t FULL JOIN src s ON t.doc_id = s.doc_id
    """,
)
def l23_corpus_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh as a MERGE/upsert: a re-crawl batch
    (updates for every 7th doc, brand-new docs for every 13th) is applied
    onto the corpus in ONE full-outer shuffle join on doc_id —
    matched rows take the source text, unmatched-target rows are kept,
    unmatched-source rows are inserts. This is the Spark-native MERGE
    shape: at 100 TB both sides hash-partition on doc_id and the rewrite
    lands as partition overwrites (no transactional table format needed);
    a broadcast join applies automatically when the delta batch is small.

    The status/final_len projection keeps the compared result narrow
    while still pinning which branch every row took."""
    docs = load_table(spark, sf_dir, "documents")
    src = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.concat(F.col("text"), F.lit(" (rev2)")).alias("text"))
        .unionAll(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(
                    F.lit("new document "), F.col("doc_id").cast("string")
                ).alias("text"),
            )
        )
    )
    t = docs.select(F.col("doc_id").alias("t_id"), F.col("text").alias("t_text"))
    s = src.select(F.col("doc_id").alias("s_id"), F.col("text").alias("s_text"))
    return t.join(s, t.t_id == s.s_id, "full_outer").select(
        F.coalesce("t_id", "s_id").alias("doc_id"),
        F.when(F.col("s_id").isNull(), "kept")
        .when(F.col("t_id").isNull(), "inserted")
        .otherwise("updated")
        .alias("status"),
        F.length(F.coalesce("s_text", "t_text")).cast("long").alias("final_len"),
    )


@_register(
    "l24_pq_codes",
    """
    WITH seeds AS (
      SELECT embedding,
             row_number() OVER (
               ORDER BY (vec_id * 2654435761) % 1000000007 ASC, vec_id ASC
             ) - 1 AS cid
      FROM embeddings
      ORDER BY (vec_id * 2654435761) % 1000000007 ASC, vec_id ASC
      LIMIT 16
    ),
    d AS (
      SELECT e.vec_id, js.j, s.cid,
             list_reduce(list_transform(range(1, 9), i ->
               CAST(s.embedding[js.j * 8 + i] AS DOUBLE)
                 * CAST(s.embedding[js.j * 8 + i] AS DOUBLE)
               - 2 * CAST(e.embedding[js.j * 8 + i] AS DOUBLE)
                 * CAST(s.embedding[js.j * 8 + i] AS DOUBLE)
             ), (x, y) -> x + y) AS dist
      FROM embeddings e, seeds s, (SELECT unnest(range(8)) AS j) js
    ),
    best AS (
      SELECT vec_id, j, cid,
             row_number() OVER (
               PARTITION BY vec_id, j ORDER BY dist ASC, cid ASC
             ) AS rn
      FROM d
    )
    SELECT vec_id,
           max(CASE WHEN j = 0 THEN cid END)::INT AS code_0,
           max(CASE WHEN j = 1 THEN cid END)::INT AS code_1,
           max(CASE WHEN j = 2 THEN cid END)::INT AS code_2,
           max(CASE WHEN j = 3 THEN cid END)::INT AS code_3,
           max(CASE WHEN j = 4 THEN cid END)::INT AS code_4,
           max(CASE WHEN j = 5 THEN cid END)::INT AS code_5,
           max(CASE WHEN j = 6 THEN cid END)::INT AS code_6,
           max(CASE WHEN j = 7 THEN cid END)::INT AS code_7
    FROM best WHERE rn = 1
    GROUP BY vec_id
    """,
)
def l24_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding column
    (operators/similarity.pq_encode): 8 subspaces x 16 centroids — each
    256-byte vector becomes 8 small ints, the compressed representation
    ANN systems scan at 100 TB when raw vectors no longer fit. Codebook
    is the deterministic hash-seeded slice (production: per-subspace
    KMeans, same encode path).

    Hash-checked (not rows-only): the codebook selection is plain SQL
    (multiplicative-hash order, LIMIT ksub) and the per-subspace argmin
    is reproduced in the oracle as argmin over sumsq(c) - 2*x·c — the
    sumsq(x) term the engine also adds is constant per (vector,
    subspace), so it cannot change the ordering beyond sub-ulp ties,
    which the shared (dist, cid) tiebreak resolves identically to
    np.argmin's first-min-index. Determinism, self-encoding anchors, and
    reconstruction-error bounds are additionally pinned in
    tests/test_llmops.py."""
    em = load_table(spark, sf_dir, "embeddings")
    out = SIM.pq_encode(em, m=8, ksub=16)
    # driver compare sorts columns; explode codes into scalar cols
    return out.select(
        "vec_id",
        *[F.col("codes")[j].alias(f"code_{j}") for j in range(8)],
    )


_COS_ORDER_SQL = """
      list_reduce(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
       * sqrt(list_reduce(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))"""


@_register(
    "l25_pq_adc_topk",
    f"""
    WITH seeds AS (
      SELECT embedding,
             row_number() OVER (
               ORDER BY (vec_id * 2654435761) % 1000000007 ASC, vec_id ASC
             ) - 1 AS cid
      FROM embeddings
      ORDER BY (vec_id * 2654435761) % 1000000007 ASC, vec_id ASC
      LIMIT 16
    ),
    d AS (
      SELECT e.vec_id, js.j, s.cid,
             list_reduce(list_transform(range(1, 9), i ->
               CAST(s.embedding[js.j * 8 + i] AS DOUBLE)
                 * CAST(s.embedding[js.j * 8 + i] AS DOUBLE)
               - 2 * CAST(e.embedding[js.j * 8 + i] AS DOUBLE)
                 * CAST(s.embedding[js.j * 8 + i] AS DOUBLE)
             ), (x, y) -> x + y) AS dist
      FROM embeddings e, seeds s, (SELECT unnest(range(8)) AS j) js
    ),
    codes AS (
      SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (
                 PARTITION BY vec_id, j ORDER BY dist ASC, cid ASC
               ) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    dt AS (
      SELECT s.cid, js.j,
             list_reduce(list_transform(range(1, 9), i ->
               (CAST(s.embedding[js.j * 8 + i] AS DOUBLE)
                  - CAST(qq.embedding[js.j * 8 + i] AS DOUBLE))
               * (CAST(s.embedding[js.j * 8 + i] AS DOUBLE)
                  - CAST(qq.embedding[js.j * 8 + i] AS DOUBLE))
             ), (x, y) -> x + y) AS dq
      FROM seeds s,
           (SELECT embedding FROM embeddings WHERE vec_id = 0) qq,
           (SELECT unnest(range(8)) AS j) js
    ),
    adc AS (
      SELECT c.vec_id, sum(dt.dq) AS adc_dist
      FROM codes c JOIN dt ON c.j = dt.j AND c.cid = dt.cid
      GROUP BY c.vec_id
    ),
    short AS (SELECT vec_id FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 100)
    SELECT a.vec_id, {_COS_SQL} AS cosine_sim
    FROM embeddings a JOIN short USING (vec_id),
         (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY {_COS_ORDER_SQL} DESC, a.vec_id ASC
    LIMIT 10
    """,
)
def l25_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN top-10 for query vec_id=0
    (operators/similarity.pq_adc_topk): scan 8-int codes with a broadcast
    distance table, exact-cosine rerank the shortlist. Completes the ANN
    ladder (brute l06, hyperplane-LSH l07, IVF l13, PQ-ADC here) — the
    variant for when raw vectors are too large to scan at all. Recall
    against the exact top-10 is pinned in tests/test_llmops.py.

    Hash-checked (not rows-only): every stage is deterministic given the
    hash-seeded codebook — the oracle unrolls codebook selection, PQ
    encode (as in l24), the query's centroid distance table, the ADC sum,
    the (adc, vec_id)-ordered 100-vector shortlist, and the exact-cosine
    rerank. FP accumulation-order ulps cannot flip any ordering here:
    measured adjacent ADC gaps in the shortlist region are >= 4e-5 vs
    ~1e-15 noise, and exact code ties break on cid/vec_id identically in
    both engines."""
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.pq_adc_topk(em, em.filter(F.col("vec_id") == 0), k=10)


@_register(
    "l26_decontaminate",
    r"""
    WITH s AS (
      SELECT doc_id, (doc_id * 2654435761) % 100 AS b,
             string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ), g AS (
      SELECT doc_id, b, array_to_string(w[i:i+7], ' ') AS gram
      FROM s, unnest(range(1, len(w) - 6)) AS t(i)
      WHERE len(w) >= 8
    )
    SELECT a.doc_id, count(DISTINCT a.gram) AS n_hit_grams
    FROM (SELECT doc_id, gram FROM g WHERE b < 90) a
    JOIN (SELECT DISTINCT gram FROM g WHERE b >= 90) t USING (gram)
    GROUP BY a.doc_id
    """,
)
def l26_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.decontaminate): flag
    train/val documents sharing any word 8-gram with the held-out test
    split (the l17 hash split supplies the blocklist). The engine joins on
    xxhash64(gram) — 8 bytes shuffled per gram, never text; the oracle
    joins the gram strings themselves (identical result absent collisions,
    the l01 argument)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(100))
    train = docs.where(bucket < 90)
    test = docs.where(bucket >= 90)
    return DD.decontaminate(train, test, n=8)


@_register(
    "l27_repetition_quality",
    r"""
    WITH s AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents
      WHERE len(string_split_regex(trim(text), '\s+')) >= 2
    ), b AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
      FROM s, unnest(range(1, len(w))) AS t(i)
    ), c AS (
      SELECT doc_id, max(cnt) AS top_bg
      FROM (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY 1, 2)
      GROUP BY doc_id
    )
    SELECT s.doc_id,
           len(w) AS n_tokens,
           1 - len(list_distinct(w))::DOUBLE / len(w) AS dup_token_frac,
           c.top_bg::DOUBLE / (len(w) - 1) AS top_bigram_frac
    FROM s JOIN c USING (doc_id)
    """,
)
def l27_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction (pure column expression — no shuffle) and most-frequent-
    bigram fraction (explode + two-level hash agg, shuffling (doc_id,
    bigram) partial counts). The standard filters for boilerplate /
    keyword-stuffed pages in a pretraining pipeline.

    Scale: the only shuffle is the bigram count keyed by (doc_id, bigram)
    with map-side partial aggregation; the per-doc max then reuses the
    doc_id partitioning. Ratios are IEEE-exact in both engines (int/int
    double division), so the oracle compares values directly."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim("text"), r"\s+")
    base = docs.select("doc_id", w.alias("w")).where(F.size("w") >= 2)
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> w[i-1] || ' ' || w[i])")
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bg"))
    )
    return (
        base.join(top, "doc_id")
        .select(
            "doc_id",
            F.size("w").alias("n_tokens"),
            (F.lit(1) - F.size(F.array_distinct("w")) / F.size("w")).alias(
                "dup_token_frac"
            ),
            (F.col("top_bg") / (F.size("w") - 1)).alias("top_bigram_frac"),
        )
    )


@_register("l28_semdedup")  # learned clustering -> rows-only + pytest
def l28_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup of the embedding
    corpus — cluster with seeded MLlib KMeans (the m02/l13 index-build
    path), compute exact cosine pairs ONLY within each cluster (the l08
    join blocked on the learned cluster instead of the gold label), and
    prune the higher id of every pair >= 0.4 (l08's corpus-calibrated
    near-dup threshold). Returns every vector with its cluster and the
    keep/prune verdict.

    Scale: clustering is distributed Lloyd's (only k x dim centers on the
    driver); the pair join shuffles on cluster id and is quadratic only
    within a cluster — the whole point of SemDeDup is that clusters bound
    the comparison set. Rows-only by design (learned model); determinism,
    keep/prune partition, and planted-dup pruning are pinned in
    tests/test_llmops.py."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = SIM.get_or_build_kmeans_centroids(em, nlist=10, cache_key=sf_dir)
    cell = SIM.make_cell_udf(em, cents)
    clustered = em.select(
        "vec_id", cell(F.col("embedding")).alias("cluster"), "embedding"
    )
    pairs = SIM.embedding_near_dup_pairs(
        clustered, block_col="cluster", threshold=0.4
    )
    pruned = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        clustered.join(pruned.withColumn("_pruned", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(F.col("_pruned"), F.lit(False)).alias("is_pruned"),
        )
    )


@_register(
    "l29_unigram_logprob",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      FROM documents WHERE trim(text) <> ''
    ), freq AS (
      SELECT t, count(*) AS c FROM tok GROUP BY 1
    ), tot AS (
      SELECT sum(c) AS n FROM freq
    )
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(freq.c / tot.n)), 4) AS avg_logprob
    FROM tok JOIN freq USING (t) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
)
def l29_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring (the CCNet/Wikipedia-LM filter
    shape): every document's mean log-probability under the corpus's own
    unigram distribution — fluent/typical docs score high, gibberish and
    outlier token mixes score low. In production the frequency table
    comes from a trusted reference corpus; here it is self-trained on
    the same table, which keeps the query closed over driver testdata.

    Scale: the frequency table is vocabulary-sized (tiny next to the
    corpus) and broadcasts; the token explode feeds ONE hash-agg for tf
    and one broadcast join back — no quadratic stage, no Python. Ratios
    ln(c/N) are IEEE-identical in both engines; avg is order-sensitive
    only below the round(4) guard."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    total = freq.select(F.sum("c").alias("n"))
    return (
        tok.join(F.broadcast(freq), "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") / F.col("n"))), 4).alias("avg_logprob"),
        )
    )


def _pagerank_oracle_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank over the l02 pair graph: one
    plain CTE per iteration (aggregation is not allowed in a recursive
    CTE term, and unrolling keeps the oracle's arithmetic order
    identical to the engine's synchronous updates).

    The teleport/damping constants are emitted via Python ``repr`` of the
    SAME doubles the engine computes (``F.lit(1.0 - damping)``), so both
    sides use bit-identical IEEE values for any damping — a hand-written
    0.15 literal would be 1 ulp off 1.0 - 0.85."""
    teleport = repr(1.0 - damping)
    damp = repr(damping)
    parts = [
        f"""
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT a, count(*)::DOUBLE AS deg FROM edges GROUP BY a),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
    pr{i} AS (
      SELECT nd.node,
             {teleport} / (SELECT n FROM nn) + {damp} * coalesce(s.contrib, 0) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT e.b AS node, sum(p.rank / d.deg) AS contrib
        FROM edges e JOIN pr{i - 1} p ON e.a = p.node JOIN deg d ON e.a = d.a
        GROUP BY e.b
      ) s ON nd.node = s.node
    )"""
        )
    parts.append(
        f"""
    SELECT node AS doc_id, round(rank, 6) AS pagerank FROM pr{iterations}
    """
    )
    return "".join(parts)


@_register("l30_pagerank", _pagerank_oracle_sql(5))
def l30_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document centrality: 5 synchronous PageRank iterations
    over the l02 near-dup pair graph (operators/dedup.pagerank). Where
    l20 labels dup GROUPS (min-id connected components), PageRank ranks
    WITHIN them — the highest-rank member is the natural canonical copy
    (most-connected variant), a better survivor policy than arbitrary
    min-id when near-dup clusters mix quality tiers.

    Iterative-algorithm pattern on Spark: a fixed driver-side loop of
    join + agg jobs with localCheckpoint lineage truncation — the same
    shape as the star-contraction CC and MLlib's own Pregel-style
    iterations. The oracle unrolls the identical five updates as plain
    CTEs, so every engine-side arithmetic step is value-checked."""
    pairs = _dup_pairs(spark, sf_dir)
    # Iteration frames are |nodes| rows (hundreds); pin a small shuffle
    # width for the driver-side loop (s11's pattern) so each of the 5
    # rounds schedules a handful of tasks, not 32 near-empty ones. At
    # cluster scale this knob is the rank table's partitioning, sized to
    # the graph, set once before the loop.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # pagerank() already localCheckpoints its final iteration — the
        # returned frame is materialized and lineage-truncated
        ranks = DD.pagerank(pairs, "id_a", "id_b", iterations=5)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("pagerank")
    )


@_register(
    "l31_pii_redact",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE
               WHEN doc_id % 5 = 0 THEN ' contact u' || doc_id || '@example.com'
               WHEN doc_id % 5 = 1 THEN ' from 10.0.' || doc_id % 256 || '.7'
               WHEN doc_id % 5 = 2 THEN ' call +1 555 000 ' || 1000 + doc_id % 9000
               ELSE ''
             END AS text
      FROM documents
    ),
    redacted AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>',
                   'g'),
                 '\d{1,3}[.]\d{1,3}[.]\d{1,3}[.]\d{1,3}', '<IP>', 'g'),
               '[+]\d[\d ]{7,}\d', '<PHONE>', 'g') AS red,
             len(regexp_extract_all(
               text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))
               AS n_emails,
             len(regexp_extract_all(
               text, '\d{1,3}[.]\d{1,3}[.]\d{1,3}[.]\d{1,3}')) AS n_ips
      FROM seeded
    )
    SELECT doc_id, CAST(n_emails AS INT) AS n_emails,
           CAST(n_ips AS INT) AS n_ips,
           md5(red) AS redacted_md5
    FROM redacted
    """,
)
def l31_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction stage every training-data pipeline
    runs before tokenization: emails, IPv4 addresses, and phone numbers
    replaced with typed placeholder tokens, plus per-doc detection
    counts. The synthetic corpus carries no PII, so both engines plant
    the SAME deterministic contacts on 3 of every 5 docs first — the
    oracle then value-checks the md5 of the fully-redacted text, pinning
    every byte of the replacement behavior (pattern reach, ordering,
    global replace), not just the counts.

    Patterns stay in the common Java-regex/RE2 dialect subset (character
    classes, bounded repeats — no backrefs or lookaround) so both
    engines compile identical semantics.

    Scale: pure per-row codegen (regexp_replace/extract_all chains +
    md5) — narrow projection, zero shuffle, linear scan at any corpus
    size; at 100 TB this runs inside the ingest scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" contact u"), F.col("doc_id"), F.lit("@example.com")),
            )
            .when(
                F.col("doc_id") % 5 == 1,
                F.concat(F.lit(" from 10.0."), F.col("doc_id") % 256, F.lit(".7")),
            )
            .when(
                F.col("doc_id") % 5 == 2,
                F.concat(F.lit(" call +1 555 000 "), 1000 + F.col("doc_id") % 9000),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    ipv4 = r"\d{1,3}[.]\d{1,3}[.]\d{1,3}[.]\d{1,3}"
    phone = r"[+]\d[\d ]{7,}\d"
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email, "<EMAIL>"), ipv4, "<IP>"
        ),
        phone,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(email), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(ipv4), 0)).alias("n_ips"),
        F.md5(red).alias("redacted_md5"),
    )


@_register(
    "l32_vocab_topk",
    r"""
    WITH w AS (
      SELECT doc_id, t AS term
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS t
        FROM documents WHERE trim(text) <> ''
      ) WHERE t <> ''
    )
    SELECT term, tf, df FROM (
      SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df,
             row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rn
      FROM w GROUP BY term
    ) WHERE rn <= 200
    """,
)
def l32_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: top-200 terms by total frequency with
    document frequency — the first step of any tokenizer/BPE training or
    stopword-mining pass over a training corpus (same normalization as
    l21's TF-IDF terms, so the two share a vocabulary space).

    Scale: one explode feeds ONE hash aggregate keyed on term (map-side
    partials collapse each partition's repeats before the shuffle; df via
    count_distinct adds a doc_id-level partial dedup). The top-200 is
    orderBy+limit = TakeOrderedAndProject — per-partition heaps, only
    200 rows to the driver-side merge, never a global sort."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"[^a-z0-9]+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    return (
        tok.groupBy("term")
        .agg(F.count("*").alias("tf"), F.count_distinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(200)
    )


@_register(
    "l33_dedup_survivors",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (
      SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS group_id
      FROM reach GROUP BY a
    ),
    q AS (
      SELECT doc_id,
             round((least(length(text) / 500.0, 1.0)
                  + least({_STOP_RATIO} * 4, 1.0)
                  + greatest(1.0 - ({_DIGIT_RATIO} + {_PUNCT_RATIO}) * 2, 0.0)) / 3, 6)
               AS quality
      FROM documents
    )
    SELECT group_id, doc_id AS survivor_id, quality, n_members FROM (
      SELECT c.group_id, c.doc_id, q.quality,
             count(*) OVER (PARTITION BY c.group_id) AS n_members,
             row_number() OVER (
               PARTITION BY c.group_id ORDER BY q.quality DESC, c.doc_id ASC
             ) AS rn
      FROM comp c JOIN q USING (doc_id)
    ) WHERE rn = 1
    """,
)
def l33_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: for every near-dup group (l20's
    connected components over the blocked-Jaccard pair graph), keep the
    HIGHEST-QUALITY member (l11's score, doc_id tiebreak) instead of the
    arbitrary min-id — the production dedup end-state where near-dup
    clusters mix quality tiers. Output: one row per dup group with its
    survivor and member count.

    Scale: components via log-round label propagation; the survivor pick
    is one window over groups (shuffle keyed on group_id, group sizes are
    dup-cluster sizes — small by construction after dedup blocking). The
    quality join touches only docs IN dup groups via the comp frame.
    Ordering ties are impossible cross-engine: quality is rounded to 6
    before ordering on BOTH sides, and doc_id breaks exact ties."""
    docs = load_table(spark, sf_dir, "documents")
    comp = _dup_components(spark, sf_dir)
    quality = docs.select("doc_id", TX.quality_score("text").alias("quality"))
    joined = comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("group_id")).join(
        quality, "doc_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("group_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        joined.select(
            "group_id",
            "doc_id",
            "quality",
            F.count("*").over(Window.partitionBy("group_id")).alias("n_members"),
            F.row_number().over(w).alias("_rn"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "group_id", F.col("doc_id").alias("survivor_id"), "quality", "n_members"
        )
    )


@_register(
    "l34_cdc_chunks",
    r"""
    WITH s AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents WHERE trim(text) <> ''
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i + 1] AS tok
      FROM s, unnest(range(0, len(w))) t(i)
    ),
    h AS (
      SELECT doc_id, pos,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) AS th
      FROM tok
    ),
    marked AS (
      SELECT doc_id, pos, th,
             CASE WHEN th % 64 = 0 THEN 1 ELSE 0 END AS cut
      FROM h
    ),
    chunked AS (
      SELECT doc_id, pos, th,
             sum(cut) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - cut AS chunk_idx
      FROM marked
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(min(pos) AS BIGINT) AS first_pos,
           CAST(sum(th) AS BIGINT) AS chunk_hash
    FROM chunked
    GROUP BY doc_id, chunk_idx
    """,
)
def l34_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Rabin-style): cut BEFORE any token whose
    rolling hash ≡ 0 (mod 64), so chunk boundaries depend on CONTENT, not
    position — insert one word at the head of a document and every
    fixed-size chunk shifts, but CDC boundaries downstream of the edit
    stay identical, which is what makes chunk-level dedup stable under
    edits (the l18 fixed-size splitter is the contrast case). Expected
    chunk length is the modulus (64 tokens).

    One posexplode -> per-token polyhash (JVM higher-order fold, the same
    value-checkable hash as l05) -> one running-sum window per doc -> one
    hash-agg on (doc, chunk). No Python, no self-join; the window
    partitions by doc_id so chunking parallelizes per document at 100 TB.
    The oracle replays every step, chunk_hash included, value-exactly."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    tok = docs.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok")
    )
    h = tok.select("doc_id", "pos", TX.polyhash(F.col("tok")).alias("th"))
    cut = (F.col("th") % 64 == 0).cast("long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = h.select(
        "doc_id", "pos", "th", (F.sum(cut).over(w) - cut).alias("chunk_idx")
    )
    return chunked.groupBy("doc_id", "chunk_idx").agg(
        F.count("*").alias("n_tokens"),
        F.min("pos").cast("long").alias("first_pos"),
        F.sum("th").alias("chunk_hash"),
    )


@_register(
    "l35_levenshtein_pairs",
    """
    WITH d AS (
      SELECT doc_id, lang, n_chars // 100 AS lb,
             substring(lower(trim(text)), 1, 32) AS p
      FROM documents WHERE trim(text) != ''
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.p, b.p) AS INT) AS edit_dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(a.p, b.p) <= 8
    """,
)
def l35_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: the THIRD dedup family (set-overlap
    = Jaccard/MinHash, bit-signature = SimHash, and now sequence edit
    distance), which catches char-level mutations token methods miss
    (typos, OCR noise). Compared on the 32-char normalized prefix within
    the same (lang, len_bucket) blocks as l02 — the quadratic stage is
    block-bounded, and levenshtein is a JVM built-in (no Python).

    At 100 TB the same cap-and-route contract as l02 applies: blocks
    above the size bound would route through a q-gram prefilter (edit
    distance <= k forces shared q-grams — the same prefix-filter lemma
    family); here blocks are bounded so the direct form is exact and
    oracle-checkable (DuckDB's levenshtein is the identical DP)."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    d = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("lb"),
        F.substring(F.lower(F.trim("text")), 1, 32).alias("p"),
    )
    cond = (
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.lb") == F.col("b.lb"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    return (
        d.hint("merge").alias("a")
        .join(d.hint("merge").alias("b"), cond)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            # threshold form runs the banded DP and early-exits to -1 past
            # the bound — the per-pair cost is O(len * k) not O(len^2),
            # and for kept pairs (0 <= d <= k) it returns the exact
            # distance, so the plain-levenshtein oracle still matches.
            F.levenshtein(F.col("a.p"), F.col("b.p"), 8).alias("edit_dist"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 8))
    )


@_register(
    "l36_mixture_weights",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
    ),
    tot AS (SELECT count(*) AS n, count(DISTINCT lang) AS k FROM documents)
    SELECT d.doc_id, d.lang,
           round((1.0 / t.k) / (c.n_lang * 1.0 / t.n), 6) AS sample_weight,
           CAST(c.n_lang AS BIGINT) AS n_lang
    FROM documents d
    JOIN counts c USING (lang) CROSS JOIN tot t
    """,
)
def l36_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture reweighting: per-document sampling weight that
    rebalances the language mix to a uniform target — weight =
    target_share / actual_share, the standard way training pipelines
    up/down-sample domains without materializing a resampled copy (the
    sampler consumes the weight column).

    One tiny groupBy for the per-lang counts, broadcast back over the
    corpus, a 1-row broadcast for the totals — the weight assignment
    itself is a narrow projection, so at 100 TB this costs one pass and
    one lang-keyed agg, nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    tot = docs.agg(
        F.count("*").alias("n"), F.count_distinct("lang").alias("k")
    )
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            F.round(
                (F.lit(1.0) / F.col("k")) / (F.col("n_lang") / F.col("n")), 6
            ).alias("sample_weight"),
            F.col("n_lang").cast("long").alias("n_lang"),
        )
    )


@_register(
    "l37_sequence_packing",
    r"""
    WITH RECURSIVE s AS (
      SELECT doc_id, lang, n,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM (
        SELECT doc_id, lang,
               len(string_split_regex(trim(text), '\s+')) AS n
        FROM documents WHERE trim(text) != ''
      )
    ),
    p AS (
      SELECT doc_id, lang, n, rn, 0 AS bin, n AS cum FROM s WHERE rn = 1
      UNION ALL
      SELECT s.doc_id, s.lang, s.n, s.rn,
             CASE WHEN p.cum + s.n > 256 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.cum + s.n > 256 THEN s.n ELSE p.cum + s.n END
      FROM p JOIN s ON s.lang = p.lang AND s.rn = p.rn + 1
    )
    SELECT doc_id, lang, CAST(bin AS BIGINT) AS bin,
           CAST(n AS BIGINT) AS n_tokens
    FROM p
    """,
)
def l37_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy first-fit of documents into fixed
    token-budget bins (256 here; 4k/8k in a real pretraining pipeline) —
    the step that turns a deduped corpus into dense training sequences.
    Deterministic order (doc_id within lang), running total resets when
    the next doc would overflow; an over-budget doc gets its own bin.

    The packing recurrence is inherently sequential PER GROUP, which is
    exactly applyInPandas's contract: one shuffle on lang, then an
    Arrow-batched linear scan per group — the sanctioned imperative
    escape hatch (no row-at-a-time Python, no driver loop; groups
    parallelize across executors, and at 100 TB the group key would be
    (lang, shard) to bound group size). The oracle replays the identical
    recurrence as a recursive CTE, so the imperative path is value-checked
    against a declarative twin."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    sized = docs.select(
        "doc_id", "lang", TX.whitespace_token_count("text").alias("n_tokens")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        b, cum = 0, 0
        for i, n in enumerate(pdf["n_tokens"]):
            if i > 0 and cum + n > 256:
                b += 1
                cum = n
            else:
                cum += n
            bins.append(b)
        pdf["bin"] = bins
        return pdf[["doc_id", "lang", "bin", "n_tokens"]]

    return sized.groupBy("lang").applyInPandas(
        pack, "doc_id LONG, lang STRING, bin LONG, n_tokens LONG"
    )


@_register(
    "l38_bpe_pair_counts",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                         t -> t <> '') AS w
      FROM documents
    ), p AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS pair
      FROM s, unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    )
    SELECT pair, tf, df FROM (
      SELECT pair, count(*) AS tf, count(DISTINCT doc_id) AS df,
             row_number() OVER (ORDER BY count(*) DESC, pair ASC) AS rn
      FROM p GROUP BY pair
    ) WHERE rn <= 100
    """,
)
def l38_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency count — the inner loop of BPE/WordPiece
    tokenizer training (count all adjacent symbol pairs, merge the most
    frequent, repeat). One iteration at corpus scale, over l32's
    vocabulary normalization, reporting the top-100 merge candidates with
    document frequency.

    Scale: the pair list is built INSIDE the array domain — zip_with over
    the token array against its own 1-shifted slice — so there is no
    per-token explode followed by a window/self-join on (doc_id, pos);
    the only wide ops are the single hash agg on pair (map-side partials
    collapse repeats before the shuffle) and the top-100
    TakeOrderedAndProject (per-partition heaps, 100 rows to the driver
    merge). The oracle replays the pairing positionally with a 1-indexed
    unnest(range) twin."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"[^a-z0-9]+"), lambda t: t != ""
    )
    pairs = (
        docs.select("doc_id", toks.alias("w"))
        .where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair"),
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("tf"), F.count_distinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), F.asc("pair"))
        .limit(100)
    )


@_register(
    "l39_bigram_logprob",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                         t -> t <> '') AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(w) AS t FROM s
    ), uni AS (
      SELECT t, count(*) AS c1 FROM tok GROUP BY 1
    ), v AS (
      SELECT count(*) AS vocab FROM uni
    ), bg AS (
      SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS pair
      FROM s, unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ), bgc AS (
      SELECT pair, count(*) AS c2 FROM bg GROUP BY 1
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((bgc.c2 + 0.5) / (uni.c1 + 0.5 * v.vocab))), 4)
             AS avg_logprob
    FROM bg
    JOIN bgc USING (pair)
    JOIN uni ON uni.t = bg.w1
    CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def l39_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-k smoothing (k = 0.5):
    each document's mean log P(w_i | w_{i-1}) under the corpus's own
    bigram distribution — the order-2 upgrade of l29's CCNet-style
    unigram filter, sharper at separating fluent text from
    shuffled-word-salad (which unigram scoring cannot see).

    Scale: bigram and unigram count tables are corpus-level aggregates
    (map-side-combined hash aggs keyed on pair / token); the per-doc pass
    re-derives its pairs array-side (zip_with, as l38) and equi-joins the
    two count tables — at 100 TB both counts tables are Zipf-shaped but
    bounded by vocabulary, typically broadcastable after a min-count
    floor; here they flow through AQE-planned shuffle joins. The vocab
    size V is a 1-row agg cross-joined (broadcast) for the smoothing
    denominator."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"[^a-z0-9]+"), lambda t: t != ""
    )
    arr = docs.select("doc_id", toks.alias("w"))
    tok = arr.select(F.explode("w").alias("t"))
    uni = tok.groupBy("t").agg(F.count("*").alias("c1"))
    vocab = uni.agg(F.count("*").alias("vocab"))
    bg = (
        arr.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"), F.concat_ws(" ", a, b).alias("pair")
                    ),
                )
            ).alias("e"),
        )
        .select("doc_id", "e.w1", "e.pair")
    )
    bgc = bg.groupBy("pair").agg(F.count("*").alias("c2"))
    scored = (
        bg.join(bgc, "pair")
        .join(uni, bg["w1"] == uni["t"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c2") + F.lit(0.5))
                / (F.col("c1") + F.lit(0.5) * F.col("vocab"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
    )


@_register(
    "l40_int8_quantize",
    """
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
      FROM embeddings
    ), sc AS (
      SELECT vec_id, xs,
             list_max(list_transform(xs, v -> abs(v))) / 127 AS scale
      FROM x
    ), e AS (
      SELECT vec_id, scale,
             CASE WHEN scale = 0
                  THEN list_transform(xs, v -> 0.0)
                  ELSE list_transform(
                    xs, v -> v - floor(v / scale + 0.5) * scale)
             END AS err,
             len(xs) AS dim
      FROM sc
    )
    SELECT vec_id,
           round(scale, 8) AS scale,
           round(list_max(list_transform(err, v -> abs(v))), 6) AS max_abs_err,
           round(list_sum(list_transform(err, v -> v * v)) / dim, 6) AS mse
    FROM e
    """,
)
def l40_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the 4x-compression step a vector index applies before PQ (l24) or
    brute-force scan (l06): scale = max|x| / 127, q_i = round-half-up of
    x_i/scale, reporting the reconstruction error (max abs + MSE) that
    decides whether int8 is safe for the downstream ANN recall target.

    Scale: a pure narrow projection — every row's scale/quantize/error
    computation stays inside the array domain (transform/aggregate
    higher-order built-ins, JVM codegen, zero shuffles, zero Python).
    Rounding is floor(x + 0.5) on BOTH sides (Spark round() and DuckDB
    round() agree on halves only away from zero; the explicit floor form
    is engine-neutral), and all arithmetic is IEEE double after one cast
    from the stored float32, so the oracle hashes bit-identically. The
    zero-vector edge (scale = 0) is branched around on BOTH sides — it
    quantizes exactly, and under ANSI mode the unguarded division would
    raise DIVIDE_BY_ZERO (caught by the hypothesis property test)."""
    em = load_table(spark, sf_dir, "embeddings")
    xs = F.transform("embedding", lambda v: v.cast("double"))
    df = em.select("vec_id", xs.alias("xs"))
    df = df.select(
        "vec_id",
        "xs",
        (F.array_max(F.transform("xs", F.abs)) / F.lit(127.0)).alias("scale"),
    )
    # ANSI mode makes x/0 an error, so the zero-vector edge (scale == 0,
    # which quantizes exactly) is branched around — CASE evaluates its
    # arms lazily per row, so the division never runs when scale is 0
    err = F.when(
        F.col("scale") == 0.0, F.transform("xs", lambda v: F.lit(0.0))
    ).otherwise(
        F.transform(
            "xs",
            lambda v: v
            - F.floor(v / F.col("scale") + F.lit(0.5)) * F.col("scale"),
        )
    )
    df = df.select(
        "vec_id", "scale", err.alias("err"), F.size("xs").alias("dim")
    )
    sq = F.aggregate(
        "err", F.lit(0.0), lambda acc, v: acc + v * v
    )
    return df.select(
        "vec_id",
        F.round("scale", 8).alias("scale"),
        F.round(F.array_max(F.transform("err", F.abs)), 6).alias("max_abs_err"),
        F.round(sq / F.col("dim"), 6).alias("mse"),
    )


@_register(
    "l41_source_dedup_report",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
           round(1.0 - count(DISTINCT text) / count(*), 6) AS dup_frac,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents
    GROUP BY source
    """,
)
def l41_source_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus observability: document counts, exact-duplicate
    rate, and mean length by source — the report every ingestion pipeline
    emits before dedup budgets are set (which crawl is duplicate-heavy,
    which source pads short docs).

    Scale: the engine distinct-counts xxhash64(text) — 8 bytes per doc
    cross the shuffle, never the text (l01's dedup argument; identical
    result absent 64-bit collisions) — while the oracle distinct-counts
    the text itself. count + count_distinct + avg in ONE hash aggregate
    pass, partials combined map-side."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.xxhash64("text")).alias("n_distinct"),
        F.round(
            F.lit(1.0)
            - F.count_distinct(F.xxhash64("text")) / F.count("*"),
            6,
        ).alias("dup_frac"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@_register(
    "l42_novelty_attribution",
    r"""
    WITH s AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ), g AS (
      SELECT doc_id, source, array_to_string(w[i:i+7], ' ') AS gram
      FROM s, unnest(range(1, len(w) - 6)) AS t(i)
      WHERE len(w) >= 8
    ), firsts AS (
      SELECT gram, min_by(source, doc_id) AS src FROM g GROUP BY gram
    ), per_source AS (
      SELECT src AS source, CAST(count(*) AS BIGINT) AS n_first
      FROM firsts GROUP BY 1
    ), tot AS (
      SELECT source, CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct
      FROM g GROUP BY 1
    )
    SELECT source, n_distinct,
           coalesce(n_first, 0) AS n_first,
           round(coalesce(n_first, 0) / n_distinct, 6) AS novelty_rate
    FROM tot LEFT JOIN per_source USING (source)
    """,
)
def l42_novelty_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen novelty attribution: every distinct word 8-gram is
    credited to the source of its lowest-doc_id occurrence (ingestion
    order), and each source is scored by how many of its grams it was
    FIRST to contribute — the marginal-value metric dataset curators use
    to decide whether crawl N+1 adds anything l26's decontamination and
    l01's dedup haven't already seen.

    Scale: grams travel as xxhash64 — 8 bytes per gram through both
    aggregates, never text (l26's argument; identical result absent
    collisions, which the oracle joining real gram strings would expose).
    min_by(source, doc_id) is deterministic — doc_id collisions within a
    gram group share one doc, hence one source. One explode feeding two
    map-side-combined aggs + a broadcast-sized per-source join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    g = (
        docs.select("doc_id", "source", toks.alias("w"))
        .where(F.size("w") >= 8)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 8),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice("w", i + 1, 8))
                    ),
                )
            ).alias("gh"),
        )
    )
    firsts = g.groupBy("gh").agg(F.min_by("source", "doc_id").alias("src"))
    per_source = firsts.groupBy(F.col("src").alias("source")).agg(
        F.count("*").alias("n_first")
    )
    tot = g.groupBy("source").agg(F.count_distinct("gh").alias("n_distinct"))
    return tot.join(per_source, "source", "left").select(
        "source",
        "n_distinct",
        F.coalesce("n_first", F.lit(0)).alias("n_first"),
        F.round(
            F.coalesce("n_first", F.lit(0)) / F.col("n_distinct"), 6
        ).alias("novelty_rate"),
    )


# The l43 oracle embeds the SAME fixed permutation constants the engine
# uses (operators/dedup.MINHASH_A/B) — built here as a VALUES table so both
# sides share bit-identical int64 arithmetic.
_L43_PERMS = ",\n      ".join(
    f"({i}, {a}, {b})"
    for i, (a, b) in enumerate(zip(DD.MINHASH_A, DD.MINHASH_B))
)

_L43_SQL = r"""
    WITH s AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents WHERE trim(text) <> ''
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in range(1, greatest(len(w)-2, 1)+1)]) AS sh
      FROM s
    ), hbase AS (
      SELECT doc_id, sh,
             list_transform(sh, tok -> list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007)) AS hs
      FROM sh
    ), sig AS (
      SELECT doc_id, perms.i,
             list_min(list_transform(hs,
               h -> (perms.a * h + perms.b) % 1000000007)) AS m
      FROM hbase, (VALUES
      PERMS_TABLE) perms(i, a, b)
    ), bandsig AS (
      SELECT doc_id, i // 4 AS band, list(m ORDER BY i) AS tup
      FROM sig GROUP BY doc_id, i // 4
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandsig a JOIN bandsig b
        ON a.band = b.band AND a.tup = b.tup AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, round(jacc, 6) AS jaccard FROM (
      SELECT id_a, id_b,
             len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / (len(sa.sh) + len(sb.sh)
                  - len(list_intersect(sa.sh, sb.sh))) AS jacc
      FROM cand
      JOIN hbase sa ON sa.doc_id = id_a
      JOIN hbase sb ON sb.doc_id = id_b
    ) WHERE jacc >= 0.7
""".replace("PERMS_TABLE", _L43_PERMS)


@_register("l43_minhash_oracle_pairs", _L43_SQL)
def l43_minhash_oracle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with a FULL value-hash oracle (operators/dedup.
    minhash_pairs_polyhash): the probabilistic dedup family's
    value-checkable instance. l03 stays the production path (xxhash64
    mixer, rows-only + recall pytest); this twin swaps in the l05
    polynomial base hash over word 3-gram shingles plus affine
    permutations with fixed pseudorandom constants mod 1e9+7, which
    DuckDB replays step for step — banding, candidate generation, and
    exact-Jaccard verification all land in the driver's row hash.
    Building this oracle immediately paid for itself: it exposed that
    the original "32 seeded hashes" collapsed to ONE function (pyspark
    passes the array index to 2-argument transform lambdas), and that
    unigram shingles on a templated corpus make 41% of all pairs look
    like near-dups — both now fixed in the production path too
    (operators/dedup.minhash_signature / _seeded_xxhash; shingle_n=3).

    Scale: identical plan shape to l03 — banded equi-join (merge-hinted:
    the build side is the whole corpus, broadcast would OOM) + id-keyed
    verify join; rows are ids + r longs. The weaker mixer costs some
    LSH recall smoothness, never precision (exact verification gates
    the output).

    Reference parity: none in reference; public methodology (Broder 1997 MinHash) — the value-hash-oracled twin of l03.
    """
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_pairs_polyhash(docs, threshold=0.7)


# l44 oracle: generated from the same SIMHASH_A/B constants the engine
# embeds. 62 parity-vote aggregate columns + sign-bit packing + pigeonhole
# chunk join + exact hamming verify, replayed verbatim by DuckDB.
_L44_VOTES = ",\n             ".join(
    f"sum(CASE WHEN ({a} * h + {b}) % 1000000007 % 2 = 1 THEN 1 ELSE -1 END)"
    f" AS b{i}"
    for i, (a, b) in enumerate(zip(DD.SIMHASH_A, DD.SIMHASH_B))
)
_L44_PACK = "\n               + ".join(
    f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(62)
)
_L44_SQL = r"""
    WITH tok AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(t, ''), c -> ord(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) AS h
      FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        FROM documents WHERE trim(text) <> ''
      )
    ), votes AS (
      SELECT doc_id,
             VOTE_COLS
      FROM tok GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id,
             PACK_EXPR AS sim
      FROM votes
    ), chunked AS (
      SELECT doc_id, sim, c.c AS chunk,
             (sim >> (c.c * 16)) & 65535 AS ck
      FROM sigs, (SELECT unnest(range(4)) AS c) c
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
           bit_count(xor(l.sim, r.sim)) AS hamming
    FROM chunked l JOIN chunked r
      ON l.chunk = r.chunk AND l.ck = r.ck AND l.doc_id < r.doc_id
    WHERE bit_count(xor(l.sim, r.sim)) <= 3
""".replace("VOTE_COLS", _L44_VOTES).replace("PACK_EXPR", _L44_PACK)


@_register("l44_simhash_oracle_pairs", _L44_SQL)
def l44_simhash_oracle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with a FULL value-hash oracle (operators/dedup.
    simhash_pairs_polyhash) — the second probabilistic dedup family to
    graduate from rows-only to hash-checked, following l43's recipe: swap
    the xxhash64 mixer for the polynomial base hash + 62 fixed affine
    parity bits mod 1e9+7, all exact int64 in both engines. l04 stays
    the production path (one 64-bit mixer supplies all bits in a single
    hash call; this twin pays 62 remixes per token for replayability).

    Scale: same plan as l04 — explode + ONE 62-column grouped aggregate
    (map-side combined sign votes), sign-bit packing, pigeonhole chunk
    equi-join, exact bit_count(xor) verification; _spread parallelizes
    the single-file local scan.

    Reference parity: none in reference; public methodology (Charikar 2002 SimHash) — the value-hash-oracled twin of l04.
    """
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_pairs_polyhash(docs, max_hamming=3)


@_register(
    "l45_length_histogram",
    r"""
    WITH n AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents WHERE trim(text) <> ''
    )
    SELECT lang,
           CASE WHEN n_tok < 16 THEN '0-15'
                WHEN n_tok < 32 THEN '16-31'
                WHEN n_tok < 64 THEN '32-63'
                WHEN n_tok < 128 THEN '64-127'
                WHEN n_tok < 256 THEN '128-255'
                WHEN n_tok < 512 THEN '256-511'
                ELSE '512+' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(n_tok), 2) AS mean_tokens
    FROM n
    GROUP BY 1, 2
    """,
)
def l45_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram per language (power-of-two buckets):
    the sizing report that decides l37's packing budget and the
    chunking window — how much of the corpus is short-doc padding
    waste vs long-doc truncation risk at a given context length.

    Scale: one narrow token-count projection feeding one hash aggregate
    on (lang, bucket) — map-side combined, ~|langs x 7| result rows.
    Buckets via an integer CASE ladder, not floor(log2(n)): the ladder
    is branch-exact in both engines while log2's FP rounding at exact
    powers of two is an engine-dependent hash hazard."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    bucket = (
        F.when(n_tok < 16, "0-15")
        .when(n_tok < 32, "16-31")
        .when(n_tok < 64, "32-63")
        .when(n_tok < 128, "64-127")
        .when(n_tok < 256, "128-255")
        .when(n_tok < 512, "256-511")
        .otherwise("512+")
    )
    return (
        docs.select("lang", n_tok.alias("n_tok"), bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 2).alias("mean_tokens"),
        )
    )


# l46's quality expression — l11's oracle body, shared verbatim so the
# curriculum fences sit on the exact same 6-dp score l11 reports.
_L46_QUALITY = (
    "round((least(length(text) / 500.0, 1.0)"
    f" + least({_STOP_RATIO} * 4, 1.0)"
    f" + greatest(1.0 - ({_DIGIT_RATIO} + {_PUNCT_RATIO}) * 2, 0.0)) / 3, 6)"
)


@_register(
    "l46_curriculum_stages",
    f"""
    WITH q AS (
      SELECT doc_id, {_L46_QUALITY} AS quality FROM documents
    ), b AS (
      SELECT quantile_cont(quality, 0.25) AS b1,
             quantile_cont(quality, 0.50) AS b2,
             quantile_cont(quality, 0.75) AS b3
      FROM q
    )
    SELECT doc_id, quality,
           CAST(CASE WHEN quality >= b3 THEN 1
                     WHEN quality >= b2 THEN 2
                     WHEN quality >= b1 THEN 3
                     ELSE 4 END AS BIGINT) AS stage
    FROM q, b
    """,
)
def l46_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: every document assigned to a quality quartile
    (stage 1 = best) so training can feed high-quality data first /
    up-sample it — the ordering signal behind curriculum + annealed data
    schedules. Deliberately NOT a global ntile(): a whole-corpus window
    would sort 100 TB on one reducer. Instead the three quartile fences
    come from ONE exact-percentile aggregate (a single 3-double row,
    broadcast back), and stage assignment is a narrow projection —
    one pass, one tiny agg, zero wide shuffles.

    Hash-safety of the fences: quantiles interpolate over 6-dp-rounded
    scores with the same type-7 (h = (n-1)p) rule in both engines; when
    the interpolation is degenerate (frac = 0 or equal neighbors) the
    fence is bit-exact, and otherwise it lies strictly between two
    adjacent score values, so an ulp of engine disagreement cannot flip
    any >= comparison."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select("doc_id", TX.quality_score("text").alias("quality"))
    fences = q.agg(
        F.expr(
            "percentile(quality, array(0.25D, 0.5D, 0.75D))"
        ).alias("bs")
    ).select(
        F.col("bs")[0].alias("b1"),
        F.col("bs")[1].alias("b2"),
        F.col("bs")[2].alias("b3"),
    )
    stage = (
        F.when(F.col("quality") >= F.col("b3"), 1)
        .when(F.col("quality") >= F.col("b2"), 2)
        .when(F.col("quality") >= F.col("b1"), 3)
        .otherwise(4)
    )
    return q.crossJoin(F.broadcast(fences)).select(
        "doc_id", "quality", stage.cast("long").alias("stage")
    )


@_register(
    "l47_token_share_pareto",
    f"""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKS})) AS BIGINT) AS toks
      FROM documents WHERE trim(text) <> ''
      GROUP BY 1
    )
    SELECT source, n_docs, toks,
           round(toks / sum(toks) OVER (), 6) AS share,
           round(sum(toks) OVER (ORDER BY toks DESC, source
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / sum(toks) OVER (), 6) AS cum_share,
           CAST(row_number() OVER (ORDER BY toks DESC, source) AS BIGINT) AS rnk
    FROM s
    """,
)
def l47_token_share_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-share Pareto report: which sources dominate the
    training-token budget (share + cumulative share in descending order) —
    the first table anyone looks at before setting mixture weights (l36)
    or per-source dedup policy (l41).

    Scale: the corpus-sized work is ONE (source)-keyed aggregate with
    map-side combine; every window (cumsum, rank, AND the grand total)
    then runs over |sources| rows — small by construction — so the
    'global sort' is a few hundred rows, not the corpus, and the corpus
    is scanned exactly once (a separate total-aggregate branch would
    make Catalyst scan+aggregate it twice). Ordering is
    (toks DESC, source): unique, hence deterministic cross-engine."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("toks"),
    )
    w_all = Window.partitionBy()
    w = Window.orderBy(F.col("toks").desc(), "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.orderBy(F.col("toks").desc(), "source")
    tot = F.sum("toks").over(w_all)
    return s.select(
        "source",
        "n_docs",
        "toks",
        F.round(F.col("toks") / tot, 6).alias("share"),
        F.round(F.sum("toks").over(w) / tot, 6).alias("cum_share"),
        F.row_number().over(wr).cast("long").alias("rnk"),
    )


# l48's rule fences. Each rule compares an exactly-computed ratio (integer
# counts / integer lengths -> identical IEEE doubles in both engines)
# against a decimal literal, so the bitmask is hash-safe cross-engine.
_L48_AVG_WLEN = (
    f"list_reduce(list_transform({_TOKS}, t -> length(t)::DOUBLE), (x, y) -> x + y)"
    f" / greatest(len({_TOKS}), 1)"
)


@_register(
    "l48_rule_filter_cascade",
    f"""
    SELECT doc_id,
           CAST(  CASE WHEN length(text) < 200 THEN 1 ELSE 0 END
                + CASE WHEN {_STOP_RATIO} < 0.05 THEN 2 ELSE 0 END
                + CASE WHEN {_DIGIT_RATIO} > 0.15 THEN 4 ELSE 0 END
                + CASE WHEN {_PUNCT_RATIO} > 0.10 THEN 8 ELSE 0 END
                + CASE WHEN {_L48_AVG_WLEN} < 3.0 OR {_L48_AVG_WLEN} > 10.0
                       THEN 16 ELSE 0 END AS BIGINT) AS fail_mask,
           (  CASE WHEN length(text) < 200 THEN 1 ELSE 0 END
            + CASE WHEN {_STOP_RATIO} < 0.05 THEN 2 ELSE 0 END
            + CASE WHEN {_DIGIT_RATIO} > 0.15 THEN 4 ELSE 0 END
            + CASE WHEN {_PUNCT_RATIO} > 0.10 THEN 8 ELSE 0 END
            + CASE WHEN {_L48_AVG_WLEN} < 3.0 OR {_L48_AVG_WLEN} > 10.0
                   THEN 16 ELSE 0 END) = 0 AS keep
    FROM documents
    """,
)
def l48_rule_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-cascade quality filter: five heuristic rules
    (too short, stopword-poor, digit-heavy, punct-heavy, weird mean word
    length) evaluated per document into a FAILURE BITMASK (bit i = rule i
    fired) plus the keep decision — the auditable form production filters
    use: one pass yields both the kept corpus AND the per-rule rejection
    breakdown (`sum(fail_mask & (1<<i))` downstream), instead of
    re-filtering once per rule.

    Scale: a single narrow whole-stage-codegen projection over the scan —
    every rule is a built-in expression on the same row, zero shuffles,
    zero Python. Rule fences compare exact integer-ratio doubles against
    decimal literals, so the mask is bit-identical cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    rules = [
        (F.length("text") < 200, 1),
        (TX.stopword_ratio("text") < 0.05, 2),
        (TX.digit_ratio("text") > 0.15, 4),
        (TX.punct_ratio("text") > 0.10, 8),
        (
            (TX.avg_word_len("text") < 3.0) | (TX.avg_word_len("text") > 10.0),
            16,
        ),
    ]
    mask = None
    for pred, bit in rules:
        term = F.when(pred, bit).otherwise(0)
        mask = term if mask is None else mask + term
    return docs.select(
        "doc_id",
        mask.cast("long").alias("fail_mask"),
        (mask == 0).alias("keep"),
    )


@_register(
    "l49_contamination_matrix",
    r"""
    WITH s AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ), g AS (
      SELECT DISTINCT source, array_to_string(w[i:i+7], ' ') AS gram
      FROM s, unnest(range(1, len(w) - 6)) AS t(i)
      WHERE len(w) >= 8
    ), tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS shared_grams,
           round(count(*) / least(any_value(ta.n_grams), any_value(tb.n_grams)), 6)
             AS overlap_coef
    FROM g a
    JOIN g b ON a.gram = b.gram AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
    GROUP BY 1, 2
    """,
)
def l49_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    distinct word 8-grams they share, plus the overlap coefficient
    (shared / min(|A|, |B|)) — the pairwise generalization of l26's
    train/test decontamination and the evidence table for 'crawl X is
    just a re-scrape of crawl Y'.

    Scale: grams travel as xxhash64 (8 bytes/gram, l26's argument; the
    oracle joins gram strings — identical absent 64-bit collisions).
    The self-join key is the gram hash after a per-source DISTINCT, so a
    gram contributes at most |sources|^2 pairs regardless of how many
    documents repeat it — corpus-frequency skew is capped by construction.
    The distinct (source, gram-hash) index feeds THREE consumers (totals
    + both join sides), so it materializes once per session
    (localCheckpoint, the _dup_pairs pattern) instead of re-exploding the
    corpus three times; the self-join is pinned to sort-merge (both sides
    are corpus-sized — broadcasting one is a toy-scale plan); the totals
    join stays broadcast (|sources| rows)."""
    grams = _gram_index(spark, sf_dir)
    tot = grams.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = grams.alias("a")
    b = grams.hint("merge").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("shared_grams"))
    )
    return (
        pairs.join(
            F.broadcast(tot.withColumnRenamed("source", "src_a")), "src_a"
        )
        .withColumnRenamed("n_grams", "na")
        .join(F.broadcast(tot.withColumnRenamed("source", "src_b")), "src_b")
        .withColumnRenamed("n_grams", "nb")
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            F.round(
                F.col("shared_grams") / F.least("na", "nb"), 6
            ).alias("overlap_coef"),
        )
    )


# l49's distinct (source, gram-hash) index: one session-scoped
# materialization feeding the totals aggregate and both self-join sides
# (same rationale + pattern as _dup_pairs above).
_GRAM_INDEX_CACHE: dict[tuple[str, str], DataFrame] = {}


def _gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        w = F.split(F.trim("text"), r"\s+")
        return (
            docs.where(F.size(w) >= 8)
            .select(
                "source",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(w) - 8),
                        lambda i: F.xxhash64(
                            F.array_join(F.slice(w, i + 1, 8), " ")
                        ),
                    )
                ).alias("gh"),
            )
            .distinct()
            .localCheckpoint()
        )

    key = (spark.sparkContext.applicationId, sf_dir)
    return session_cached(_GRAM_INDEX_CACHE, key, build)


# l50's oracle: replay the ±1 hash-plane signature family in SQL. The sign
# for (plane p, element i) is an exact int64 LCG-style hash; dot products
# accumulate left-to-right exactly like Spark's F.aggregate.
def _l50_dot(p: int) -> str:
    return (
        "list_reduce(list_transform(range(1, 65), i -> "
        "CAST(embedding[i] AS DOUBLE) * "
        f"(CASE WHEN (({p} * 64 + (i - 1)) * 2654435761 + 1013904223) "
        "% 4294967296 < 2147483648 THEN 1.0 ELSE -1.0 END)), "
        "(x, y) -> x + y)"
    )


_L50_COS = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.qe[i] AS DOUBLE)), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform(c.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform(c.qe, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))"
)

_L50_SQL = f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_l50_dot(p)} AS d{p}" for p in range(16))}
      FROM embeddings
    ), bh AS (
      SELECT vec_id, embedding,
             {", ".join(
                 " + ".join(
                     f"(CASE WHEN d{b * 4 + j} > 0.0 THEN {1 << j} ELSE 0 END)"
                     for j in range(4)
                 ) + f" AS b{b}"
                 for b in range(4)
             )}
      FROM sig
    ), q AS (SELECT * FROM bh WHERE vec_id = 0),
    cand AS (
      SELECT DISTINCT c.vec_id, c.embedding, q.embedding AS qe
      FROM bh c, q
      WHERE c.b0 = q.b0 OR c.b1 = q.b1 OR c.b2 = q.b2 OR c.b3 = q.b3
    )
    SELECT vec_id, round({_L50_COS}, 4) AS cosine_sim
    FROM cand c
    ORDER BY {_L50_COS} DESC, vec_id ASC
    LIMIT 10
"""


_L75_EXCOS = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform(a.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform(q.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))"
)

_L75_SQL = f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_l50_dot(p)} AS d{p}" for p in range(16))}
      FROM embeddings
    ), bh AS (
      SELECT vec_id, embedding,
             {", ".join(
                 " + ".join(
                     f"(CASE WHEN d{b * 4 + j} > 0.0 THEN {1 << j} ELSE 0 END)"
                     for j in range(4)
                 ) + f" AS b{b}"
                 for b in range(4)
             )}
      FROM sig
    ), q AS (SELECT * FROM bh WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
             c.embedding, q.embedding AS qe
      FROM bh c, q
      WHERE c.b0 = q.b0 OR c.b1 = q.b1 OR c.b2 = q.b2 OR c.b3 = q.b3
    ),
    ann AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                 ORDER BY {_L50_COS} DESC, cid ASC) AS rk
        FROM cand c
      ) WHERE rk <= 10
    ),
    ex AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, a.vec_id AS cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_L75_EXCOS} DESC, a.vec_id ASC) AS rk
        FROM embeddings a,
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
      ) WHERE rk <= 10
    ),
    na AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_ann FROM ann GROUP BY 1)
    SELECT e.qid AS query_id, na.n_ann,
           CAST(count(a2.cid) AS BIGINT) AS n_overlap
    FROM ex e
    LEFT JOIN ann a2 ON e.qid = a2.qid AND e.cid = a2.cid
    JOIN na ON na.qid = e.qid
    GROUP BY 1, 2
"""


@_register("l75_ann_recall_eval", _L75_SQL)
def l75_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EVALUATION closing the ANN ladder (index l07/l50/l13/
    l51/l24/l25 -> now measure): recall@10 of the hash-plane LSH
    pipeline against the exact cosine top-10, per query over the first
    10 vectors — the eval every production vector store runs before
    picking nlist/bands. Integer (n_ann, n_overlap) counts per query,
    so the whole evaluation value-hash-replays; recall@10 =
    n_overlap/10.

    Scale: see operators/similarity.ann_recall_eval — the exact
    baseline is ONE corpus scan scored against the broadcast bounded
    query set and reduced by a two-phase SALTED top-k (no per-query
    corpus-sized window partition — naive PARTITION BY qid would funnel
    the whole corpus into n_queries partitions); the ANN side reranks
    banded candidates only. Cost: one scan + bounded joins at any
    corpus size."""
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.ann_recall_eval(em, n_queries=10, k=10)


_L76_K = 5


def _l76_sql() -> str:
    """Unrolled greedy k-center SQL: w0 = seed, then per round a
    min-distance scan (least over the picked set, squared L2 summed
    left-to-right) and an ORDER BY mind DESC, vec_id LIMIT 1 argmax.
    Winner CTEs are MATERIALIZED — each is referenced by every later
    round, and DuckDB's default inlining would re-execute the whole
    chain per reference."""

    def d(w: str) -> str:
        t = (
            f"(CAST(e.embedding[i] AS DOUBLE) - "
            f"CAST({w}.embedding[i] AS DOUBLE))"
        )
        return (
            f"list_reduce(list_transform(range(1, 65), i -> {t} * {t}), "
            "(x, y) -> x + y)"
        )

    parts = [
        """
    WITH w0 AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1
    )"""
    ]
    for t in range(1, _L76_K + 1):
        froms = ", ".join(f"w{i}" for i in range(t))
        dists = [d(f"w{i}") for i in range(t)]
        mind = dists[0] if t == 1 else "least(" + ", ".join(dists) + ")"
        not_in = "\n          UNION ALL ".join(
            f"SELECT vec_id FROM w{i}" for i in range(t)
        )
        parts.append(
            f""",
    r{t} AS (
      SELECT e.vec_id, e.embedding, {mind} AS mind
      FROM embeddings e, {froms}
      WHERE e.vec_id NOT IN ({not_in})
    ),
    w{t} AS MATERIALIZED (
      SELECT vec_id, embedding, mind FROM r{t}
      ORDER BY mind DESC, vec_id LIMIT 1
    )"""
        )
    sel = "\n      UNION ALL\n      ".join(
        ["SELECT CAST(0 AS BIGINT) AS pick_rank, "
         "CAST(w0.vec_id AS BIGINT) AS vec_id, 0.0 AS dist_sq FROM w0"]
        + [
            f"SELECT CAST({t} AS BIGINT), CAST(w{t}.vec_id AS BIGINT), "
            f"round(w{t}.mind, 6) FROM w{t}"
            for t in range(1, _L76_K + 1)
        ]
    )
    parts.append(
        f"""
    SELECT * FROM (
      {sel}
    ) ORDER BY pick_rank
    """
    )
    return "".join(parts)


@_register("l76_kcenter_coreset", _l76_sql())
def l76_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embedding corpus
    (Gonzalez 2-approximation) — the diversity-sampling half of
    embedding-based data selection (SemDeDup l28/l56 prunes the
    redundant; k-center keeps the spread): seed at the lowest id, then
    {k} farthest-point rounds, max-min squared L2, ties to the lower
    id. The (pick_rank, vec_id, dist_sq) trajectory value-hash-replays
    — dist_sq doubles accumulate left-to-right on both engines.

    Scale: see operators/similarity.kcenter_coreset — k bounded passes,
    each one corpus scan against <=k broadcast 1-row winner frames
    (the m13 shape) + a distributed TakeOrdered argmax; no corpus-sized
    state and no checkpointed corpus copy."""
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.kcenter_coreset(em, k=_L76_K)


@_register("l50_ann_lsh_oracle_topk", _L50_SQL)
def l50_ann_lsh_oracle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-LSH with a FULL value-hash oracle — the third probabilistic
    family to graduate from rows-only via the l43/l44 recipe: swap the
    Gaussian broadcast-matmul planes (l07, the production path) for a
    ±1 hash-plane family whose signs are an exact int64 LCG hash, so the
    SQL oracle replays signature -> banded candidates -> exact cosine
    rerank end to end. l07 keeps the recall pytest; this twin proves the
    ENTIRE ANN pipeline's semantics (banding, multi-probe OR, DISTINCT
    collapse, rerank ordering) value-exactly.

    Scale: identical plan shape to l07 — banded equi-join against the
    broadcast query bands, candidates-only rerank; the signature is pure
    whole-stage-codegen expressions (zero Python), trading l07's BLAS
    matmul for expression-tree dots, the right trade at 16x64 and wrong
    at 64x768 (which is why l07's matmul stays the production path).

    Reference parity: none in reference; public methodology (Indyk-Motwani LSH) — the value-hash-oracled twin of l07.
    """
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.ann_lsh_topk_hashplanes(
        em, em.filter(F.col("vec_id") == 0), k=10
    )


# l51's oracle: replay the expression-IVF end to end. Centroids are the
# vec_id < 16 rows L2-normalized; cell = argmax dot (ties -> lower cid);
# probes = query's top-4 cells; rerank exact cosine. All accumulation is
# left-to-right, matching Spark's F.aggregate.
_L51_NORMED = (
    "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
    "(CASE WHEN sqrt(list_reduce(list_transform(embedding, "
    "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (a, b) -> a + b)) = 0.0 "
    "THEN 1.0 ELSE sqrt(list_reduce(list_transform(embedding, "
    "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (a, b) -> a + b)) END))"
)

_L51_SQL = f"""
    WITH c AS (
      SELECT vec_id AS cid, {_L51_NORMED} AS cvec
      FROM embeddings WHERE vec_id < 16
    ), dots AS (
      SELECT e.vec_id, e.embedding, c.cid,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]),
               (a, b) -> a + b) AS d
      FROM embeddings e CROSS JOIN c
    ), cells AS (
      SELECT vec_id, embedding, cid AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
        FROM dots
      ) WHERE rn = 1
    ), probes AS (
      SELECT cid FROM (
        SELECT cid, row_number() OVER (ORDER BY d DESC, cid ASC) AS rn
        FROM dots WHERE vec_id = 0
      ) WHERE rn <= 4
    ), qv AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), cand AS (
      SELECT cells.vec_id, cells.embedding, qv.qe
      FROM cells JOIN probes ON cells.cell = probes.cid CROSS JOIN qv
    )
    SELECT vec_id,
           round(list_reduce(list_transform(range(1, 65),
             i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.qe[i] AS DOUBLE)),
             (a, b) -> a + b)
           / (sqrt(list_reduce(list_transform(c.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(c.qe,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))),
           4) AS cosine_sim
    FROM cand c
    ORDER BY list_reduce(list_transform(range(1, 65),
             i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.qe[i] AS DOUBLE)),
             (a, b) -> a + b)
           / (sqrt(list_reduce(list_transform(c.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(c.qe,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)))
           DESC, vec_id ASC
    LIMIT 10
"""


@_register("l51_ivf_oracle_topk", _L51_SQL)
def l51_ivf_oracle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a FULL value-hash oracle — completes the ANN ladder's
    graduation (l06 exact, l50 LSH, l24/l25 PQ, now IVF): seed centroids,
    argmax-dot cell assignment, nprobe probing and exact rerank all in
    built-in expressions (operators/similarity.ivf_topk_exprs), so the
    SQL twin replays every stage. l13 (numpy-matmul cells, KMeans-capable
    build) keeps the production role and its exactness-anchor pytest.

    Scale: cell assignment is an order-independent argmax fold over the
    BROADCAST centroid list — a narrow projection, no corpus x nlist
    shuffle (the oracle's window formulation is semantically identical
    but intentionally not the engine shape); probing is the same
    array_contains broadcast join l13 uses.

    Reference parity: none in reference; public methodology (IVF coarse quantization, Jegou et al. 2011) — the value-hash-oracled twin of l13.
    """
    em = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk_exprs(em, em.filter(F.col("vec_id") == 0), k=10)


@_register(
    "l52_bmp_decode_roundtrip",
    """
    WITH g AS (
      SELECT doc_id,
             4 + n_chars % 13 AS width,
             3 + n_chars % 7 AS height
      FROM documents
    )
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(54 + ((width * 3 + 3) // 4 * 4) * height AS BIGINT) AS n_bytes,
           CAST(list_reduce(list_transform(range(0, width * height),
                  j -> (doc_id * 31 + j * 7) % 256), (a, b) -> a + b)
                AS BIGINT) AS pix_sum
    FROM g
    """,
)
def l52_bmp_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, not the stub: every document becomes a genuine
    24bpp BMP (pure-stdlib encoder — struct-packed headers, bottom-up
    padded rows) and is decoded back by an actual binary parser
    (operators/multimodal.decode_bmp: magic check, header geometry,
    padding strip, channel sum) inside one mapInPandas pass. The payload
    pixels are closed forms of (doc_id, n_chars), so the oracle predicts
    exactly what the decoder must read OUT of the bytes — any header
    miswrite, padding slip, or row-order bug flips the hash. JPEG/PNG
    decode stays env-gated (multimodal.decode_image_real); this proves
    the decode PLUMBING with a format the stdlib can parse.

    Scale: encode+decode are per-row work inside Arrow batches — payloads
    never cross a shuffle or reach the driver; the plan is scan ->
    mapInPandas, embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.bmp_roundtrip_features(docs)


@_register(
    "l73_bmp_downscale_roundtrip",
    """
    WITH g AS (
      SELECT doc_id,
             4 + n_chars % 13 AS w,
             3 + n_chars % 7 AS h,
             (4 + n_chars % 13 + 1) // 2 AS ow,
             (3 + n_chars % 7 + 1) // 2 AS oh
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS src_width,
           CAST(h AS BIGINT) AS src_height,
           CAST(ow AS BIGINT) AS out_width,
           CAST(oh AS BIGINT) AS out_height,
           CAST(54 + ((ow * 3 + 3) // 4 * 4) * oh AS BIGINT) AS out_n_bytes,
           CAST(list_reduce(list_transform(range(0, ow * oh), j ->
                  ((doc_id * 31 + ((j // ow) * 2 * w + (j % ow) * 2) * 7) % 256
                   + CASE WHEN (j % ow) * 2 + 1 < w THEN
                       (doc_id * 31 + ((j // ow) * 2 * w + (j % ow) * 2 + 1) * 7) % 256
                     ELSE 0 END
                   + CASE WHEN (j // ow) * 2 + 1 < h THEN
                       (doc_id * 31 + (((j // ow) * 2 + 1) * w + (j % ow) * 2) * 7) % 256
                     ELSE 0 END
                   + CASE WHEN (j % ow) * 2 + 1 < w AND (j // ow) * 2 + 1 < h THEN
                       (doc_id * 31 + (((j // ow) * 2 + 1) * w + (j % ow) * 2 + 1) * 7) % 256
                     ELSE 0 END)
                  // ((1 + CASE WHEN (j % ow) * 2 + 1 < w THEN 1 ELSE 0 END)
                      * (1 + CASE WHEN (j // ow) * 2 + 1 < h THEN 1 ELSE 0 END))
                ), (a, b) -> a + b)
                AS BIGINT) AS out_pix_sum
    FROM g
    """,
)
def l73_bmp_downscale_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize — upgrades the l15 stub plumbing to actual pixel
    arithmetic: each document's genuine 24bpp BMP is decoded, 2x2
    box-filter-downscaled (edge clamp, floor average — all-integer),
    re-encoded as a real BMP, and decoded AGAIN, four codec passes whose
    final geometry/bytes/pixel-sum the oracle replays as closed forms
    (operators/multimodal.downscale_bmp). Any header miswrite, row-order
    bug, edge-clamp slip, or rounding drift in any pass flips the hash.

    Scale: identical posture to l52 — one scan, one mapInPandas, zero
    exchanges; payloads live and die inside Arrow batches."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.bmp_downscale_features(docs)


@_register(
    "l74_avi_frame_sample",
    """
    WITH g AS (
      SELECT doc_id,
             4 + n_chars % 9 AS w,
             2 + n_chars % 5 AS h,
             3 + n_chars % 10 AS nf
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(nf AS BIGINT) AS n_frames,
           CAST((nf + 2) // 3 AS BIGINT) AS n_sampled,
           CAST(list_reduce(list_transform(range(0, (nf + 2) // 3), s ->
                  list_reduce(list_transform(range(0, w * h), j ->
                    (doc_id * 31 + s * 3 * 17 + j * 7) % 256),
                    (a, b) -> a + b)),
                (a, b) -> a + b)
                AS BIGINT) AS sampled_pix_sum
    FROM g
    """,
)
def l74_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling — upgrades the l14 byte-chunk stand-in
    to a genuine container: each document becomes a real RIFF-AVI (LIST
    hdrl/avih/strl, LIST movi of uncompressed 24bpp '00db' DIB frames,
    idx1 index), a real chunk-walk parser reads it back (magic, chunk
    bounds, header/geometry cross-checks — every malformed path raises
    ValueError), and every 3rd frame decodes to pixels
    (operators/multimodal.encode_avi/decode_avi). The oracle replays the
    sampled-frame pixel sums as closed forms of (doc_id, n_chars), so a
    chunk-walk bug, frame-order slip, or row-padding error flips the
    driver's value hash.

    Scale: one scan, one mapInPandas, zero exchanges — container
    payloads live and die inside Arrow batches where the bytes already
    sit, which is what makes sample-then-decode cheaper than
    decode-everything at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.avi_frame_sample_features(docs)


@_register(
    "l53_wav_decode_roundtrip",
    """
    WITH g AS (
      SELECT doc_id, 100 + n_chars % 50 AS n_samples FROM documents
    )
    SELECT doc_id,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS framerate,
           CAST(44 + 2 * n_samples AS BIGINT) AS n_bytes,
           CAST(list_reduce(list_transform(range(0, n_samples),
                  j -> (doc_id * 17 + j * 11) % 65536 - 32768), (a, b) -> a + b)
                AS BIGINT) AS sample_sum
    FROM g
    """,
)
def l53_wav_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (l52's recipe for sound): every document becomes
    a genuine mono 16-bit PCM WAV written by the stdlib wave module and
    is decoded back by the wave READER (chunk parsing, frame count,
    int16 sample unpack + sum) inside one mapInPandas pass. Sample
    values are closed forms of (doc_id, n_chars), so the oracle predicts
    the decoded header fields AND the waveform sum — a byte-order or
    chunk-offset bug flips the hash.

    Scale: same posture as l52 — per-row encode+decode inside Arrow
    batches, payloads never shuffle, scan -> mapInPandas."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.wav_roundtrip_features(docs)


@_register(
    "l54_feature_hashing",
    r"""
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents WHERE trim(text) <> ''
    ), h AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) AS th
      FROM t
    )
    SELECT doc_id,
           CAST(th % 32 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN (th // 32) % 2 = 0 THEN 1 ELSE -1 END)
                AS BIGINT) AS signed_count
    FROM h
    GROUP BY 1, 2
    """,
)
def l54_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document features (Weinberger et al. 2009): each
    token hashes into one of 32 buckets, with a second hash bit giving
    the ±1 sign that makes bucket collisions cancel in expectation — the
    classic fixed-dimension text embedding that needs NO vocabulary
    build, which is why training pipelines use it for cheap first-pass
    features at corpus scale. Output is the sparse form (doc_id, bucket,
    count, signed_count); array assembly is a trivial downstream pivot.

    The hash is l05's polynomial (exact int64 in both engines — bucket =
    low 5 bits, sign = bit 5), so the whole embedding is value-hash
    oracle-checked, not rows-only.

    Scale: one explode + ONE map-side-combined hash aggregate on
    (doc_id, bucket); 16 bytes per token cross the shuffle. No
    vocabulary table, no broadcast, no Python."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    th = TX.polyhash(F.col("tok"))
    sign = F.when(F.shiftright(th, 5) % 2 == 0, 1).otherwise(-1)
    return (
        tok.select("doc_id", (th % 32).alias("bucket"), sign.alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("sign").alias("signed_count"),
        )
    )


@_register(
    "l55_triangle_count",
    f"""
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    e AS (SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard_sim >= 0.9),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    GROUP BY 1
    """,
)
def l55_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the near-dup pair graph —
    completing the graph-analytics family (l20 connected components,
    l30 PageRank): triangle density separates tight clone clusters
    (every pair similar — safe to keep one survivor) from chain-shaped
    false merges (A~B~C but A!~C), the standard diagnostic before
    trusting transitive dedup groups.

    Runs on the >= 0.9 edge subset of the pair graph: the diagnostic
    targets TIGHT clusters, and raw triangle enumeration is cubic in
    clone-cluster size (the full 0.8 working graph's 215k edges at
    sf0.1 form near-cliques — measured 6s vs 2.5s on the 90k-edge 0.9
    subgraph). At true scale, compress exact-duplicate super-nodes
    (closed-form C(k,3) within a collapsed clique) before enumerating.

    Engine shape: the oriented edge list (id_a < id_b, from the
    session-materialized pair table) self-joins twice — wedge build
    (e1.b = e2.a) then closure check (e3 = (e1.a, e2.b)) — all
    equi-joins, no driver graph. Each triangle appears exactly once
    (x < y < z by construction). At 100 TB the orientation should be by
    DEGREE (low->high, the classic skew bound on wedge fanout); the id
    orientation is kept here because the oracle replays it verbatim."""
    e = (
        _dup_pairs(spark, sf_dir)
        .where(F.col("jaccard_sim") >= 0.9)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count("*").alias("n_triangles"))


# l56's oracle: SemDeDup with SEEDED centroids instead of learned KMeans,
# so every stage is SQL-replayable — the l50/l51 graduation recipe applied
# to the l-family's last probabilistic op. Centroids are the vec_id < 32
# rows L2-normalized; cell = argmax dot (ties -> lower cid); pairs are
# exact cosine within a cell; prune the higher id of every pair >= 0.4.
_L56_SQL = f"""
    WITH c AS (
      SELECT vec_id AS cid, {_L51_NORMED} AS cvec
      FROM embeddings WHERE vec_id < 32
    ), dots AS (
      SELECT e.vec_id, c.cid,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]),
               (x, y) -> x + y) AS d
      FROM embeddings e CROSS JOIN c
    ), cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
        FROM dots
      ) WHERE rn = 1
    ), nv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE) /
               sqrt(list_reduce(list_transform(embedding,
                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
                 (x, y) -> x + y))) AS nvec
      FROM embeddings
    ), pairs AS (
      SELECT pa.vec_id AS ia, pb.vec_id AS ib,
             round(list_reduce(list_transform(range(1, 65),
               i -> na.nvec[i] * nb.nvec[i]), (x, y) -> x + y), 4) AS cs
      FROM cells pa
      JOIN cells pb ON pa.cell = pb.cell AND pa.vec_id < pb.vec_id
      JOIN nv na ON na.vec_id = pa.vec_id
      JOIN nv nb ON nb.vec_id = pb.vec_id
    ), pruned AS (
      SELECT DISTINCT ib AS vec_id FROM pairs WHERE cs >= 0.4
    )
    SELECT cells.vec_id,
           CAST(cells.cell AS BIGINT) AS cluster,
           (pruned.vec_id IS NOT NULL) AS is_pruned
    FROM cells LEFT JOIN pruned USING (vec_id)
"""


@_register("l56_semdedup_oracle", _L56_SQL)
def l56_semdedup_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a FULL value-hash oracle — the l-family's last
    probabilistic operator graduates from rows-only via the l50/l51
    recipe: swap l28's learned KMeans clusters for SEEDED expression
    centroids (operators/similarity.seeded_cell_assignment — the l51
    argmax-dot fold over the broadcast vec_id<32 centroid list), keep the
    SemDeDup semantics identical (exact cosine pairs ONLY within a
    cluster, prune the higher id of every pair >= 0.4). l28 keeps the
    production learned-clustering role and its determinism/planted-dup
    pytests; this twin proves the cluster-bounded pair stage, the prune
    rule, and the keep/prune partition value-exactly against DuckDB.

    Scale: identical shape to l28 — cell assignment is a narrow
    projection over the scan (centroids ride a broadcast, no corpus
    shuffle: plan-pinned for the shared helper by l51's test), the pair
    join shuffles on the cluster key (merge-hinted, never a corpus
    broadcast) and is quadratic only within a cluster.

    Reference parity: none in reference; public methodology (SemDeDup, Abbas et al. 2023) — the value-hash-oracled twin of l28.
    """
    em = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint: the assignment feeds three plan branches (both
    # self-join sides + the final left join); materializing it once
    # replaces three interpreted-HOF evaluations of the argmax fold
    clustered = (
        SIM.seeded_cell_assignment(em, nlist=32)
        .select("vec_id", F.col("_cell").alias("cluster"), "embedding")
        .localCheckpoint()
    )
    pairs = SIM.embedding_near_dup_pairs(
        clustered, block_col="cluster", threshold=0.4
    )
    pruned = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        clustered.join(
            pruned.withColumn("_pruned", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cluster",
            F.coalesce(F.col("_pruned"), F.lit(False)).alias("is_pruned"),
        )
    )


@_register("l57_png_decode_roundtrip", MM.PNG_ORACLE_SQL)
def l57_png_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode — the multimodal surface's first
    entropy-coded format, closing the largest remaining decode stub:
    every document becomes a genuine 8-bit grayscale PNG (zlib-deflated
    scanlines, per-row filters cycling through all five PNG types, CRC32
    per chunk) and is decoded back by a pure-stdlib reader
    (operators/multimodal.decode_png: signature check, chunk walk with
    CRC validation, inflate, filter reversal) inside ONE mapInPandas
    pass. Geometry, pixel count, pixel sum, and the decompressed
    scanline length are closed forms of (doc_id, n_chars), so the whole
    compress -> binary -> inflate -> unfilter round trip value-hash
    checks against SQL; the entropy-coded payload size is the one
    non-closed-form quantity, which is why raw_len reports the
    decompressed byte count. BMP (l52) stays the uncompressed twin;
    JPEG/compressed audio remain honest stubs (no codec libs here).

    Scale: same contract as l52/l53 — payloads are built and consumed
    inside the Arrow batch, never crossing a shuffle or the driver; the
    decode is C-speed per byte (zlib) plus a pure-Python unfilter loop
    bounded by the tiny closed-form geometry.

    Reference parity: none in reference; public format (PNG, RFC 2083 / zlib RFC 1950-1951).
    """
    docs = load_table(spark, sf_dir, "documents")
    return MM.png_roundtrip_features(docs)


# ---------------------------------------------------------------------------
# l58: BPE tokenizer TRAINING with a full value-hash oracle — the m08
# recipe (deterministic iterative learning, unrolled on both sides)
# applied to discrete structure. Each round: count adjacent symbol pairs
# corpus-wide, pick the argmax merge (count desc, then (left, right)
# bytewise-ascending — both engines compare strings binary), and
# re-encode every document by merging that pair GREEDY LEFTMOST
# NON-OVERLAPPING — expressed relationally: mark every pair occurrence,
# group consecutive marks into islands (gaps-and-islands), select the
# odd ranks within each island (greedy keeps the 1st, 3rd, ... of a
# contiguous overlap chain), rewrite selected positions to the merged
# symbol and drop their consumed right neighbors. The corpus state
# between rounds is a (doc_id, pos, tok) TABLE, never a string — every
# step is a windowed/joined columnar op both engines run identically.
# ---------------------------------------------------------------------------
_L58_SEP = "\x1f"
_L58_ROUNDS = 3
_L58_MAXCHARS = 64


def _l58_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok): one symbol per char of the first 64
    printable-ASCII chars (Java and RE2 regex agree bytewise on that
    range, and the separator char can't collide)."""
    cl = F.regexp_replace(
        F.replace(
            F.substring("text", 1, _L58_MAXCHARS), F.lit(_L58_SEP), F.lit("")
        ),
        "[^ -~]",
        "",
    )
    arr = F.split(
        F.regexp_replace(F.col("_cl"), "(.)", "$1" + _L58_SEP), _L58_SEP
    )
    return (
        docs.select("doc_id", cl.alias("_cl"))
        .where(F.length("_cl") >= 2)
        # regexp leaves one trailing separator -> drop split()'s last ''
        .select("doc_id", F.slice(arr, 1, F.size(arr) - 1).alias("_arr"))
        .select("doc_id", F.posexplode("_arr").alias("pos", "tok"))
    )


def _l58_round(tok: DataFrame):
    """One BPE round: (new token table, 1-row merge frame (a, b, cnt))."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    withnext = tok.withColumn("nxt", F.lead("tok").over(w))
    m = (
        withnext.where(F.col("nxt").isNotNull())
        .groupBy("tok", "nxt")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"), F.asc("nxt"))
        .limit(1)
        .select(F.col("tok").alias("a"), F.col("nxt").alias("b"), "cnt")
        .localCheckpoint()
    )
    # broadcast bound: m is the limit(1) winning pair — exactly 1 row
    mk = withnext.crossJoin(F.broadcast(m)).withColumn(
        "mk", (F.col("tok") == F.col("a")) & (F.col("nxt") == F.col("b"))
    )
    # Selection and consumption as pure window arithmetic over ONE
    # (doc_id, pos) ordering — no join-backs: island id = pos minus the
    # running count of marked sites (constant across a consecutive-mark
    # run), greedy keeps odd running ranks within the island, and the
    # consumed right neighbor is just lag(sel).
    mcount = F.sum(F.col("mk").cast("int")).over(w)
    mk = mk.withColumn("isl", F.when(F.col("mk"), F.col("pos") - mcount))
    w2 = Window.partitionBy("doc_id", "isl").orderBy("pos")
    rn2 = F.sum(F.col("mk").cast("int")).over(w2)
    mk = mk.withColumn("sel", F.col("mk") & (rn2 % 2 == 1)).withColumn(
        "dropped", F.coalesce(F.lag("sel").over(w), F.lit(False))
    )
    new = (
        mk.where(~F.col("dropped"))
        .select(
            "doc_id",
            "pos",
            F.when(F.col("sel"), F.concat(F.col("a"), F.col("b")))
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
        .withColumn("pos", F.row_number().over(w) - 1)
    )
    return new.localCheckpoint(), m


_L58_ROUNDS_CACHE: dict[tuple, tuple] = {}


def _l58_trained_rounds(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-cached result of the BPE training loop: (t0, [(t_k, m_k)
    per round]) — l58 reads the merge frames, l60 reads the encoded
    token tables; the multi-second train runs once per session (the
    build/query split every other session-scoped artifact follows).
    Frames are localCheckpoint-ed, so cached handles stay valid for the
    life of the SparkContext."""

    def build():
        t0 = _l58_tokens(load_table(spark, sf_dir, "documents")).localCheckpoint()
        rounds = []
        t = t0
        for _ in range(_L58_ROUNDS):
            t, m = _l58_round(t)
            rounds.append((t, m))
        return t0, rounds

    key = (spark.sparkContext.applicationId, sf_dir)
    return session_cached(_L58_ROUNDS_CACHE, key, build)


def _l58_sql_ctes() -> str:
    """The shared WITH-chain (t0 .. t{_L58_ROUNDS}) both l58 (merge
    table) and l60 (corpus encoding) select from."""
    parts = [f"""
    WITH t0 AS (
      SELECT doc_id,
             unnest(range(length(_cl))) AS pos,
             unnest(string_split(regexp_replace(_cl, '(.)',
                      '\\1' || chr(31), 'g'), chr(31))[1:length(_cl)]) AS tok
      FROM (
        SELECT doc_id,
               regexp_replace(replace(substr(text, 1, {_L58_MAXCHARS}),
                                      chr(31), ''), '[^ -~]', '', 'g') AS _cl
        FROM documents
      ) WHERE length(_cl) >= 2
    )"""]
    for k in range(1, _L58_ROUNDS + 1):
        parts.append(f""", p{k} AS (
      SELECT doc_id, pos, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM t{k - 1}
    ), m{k} AS (
      SELECT tok AS a, nxt AS b, count(*) AS cnt
      FROM p{k} WHERE nxt IS NOT NULL
      GROUP BY 1, 2 ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ), mk{k} AS (
      SELECT p.doc_id, p.pos, p.tok, m.a, m.b,
             (p.tok = m.a AND p.nxt = m.b) AS mk
      FROM p{k} p CROSS JOIN m{k} m
    ), wk{k} AS (
      SELECT *, CASE WHEN mk THEN pos -
               sum(CASE WHEN mk THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) END AS isl
      FROM mk{k}
    ), sl{k} AS (
      SELECT *, (mk AND sum(CASE WHEN mk THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2 = 1) AS sel
      FROM wk{k}
    ), dr{k} AS (
      SELECT *, coalesce(lag(sel)
               OVER (PARTITION BY doc_id ORDER BY pos), false) AS dropped
      FROM sl{k}
    ), t{k} AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
               AS pos,
             CASE WHEN sel THEN a || b ELSE tok END AS tok
      FROM dr{k} WHERE NOT dropped
    )""")
    return "".join(parts)


def _l58_sql() -> str:
    selects = [
        f"""SELECT {k} AS round, a AS merge_left, b AS merge_right,
               CAST(cnt AS BIGINT) AS pair_count,
               (SELECT CAST(count(*) AS BIGINT) FROM t{k}) AS symbols_after
        FROM m{k}"""
        for k in range(1, _L58_ROUNDS + 1)
    ]
    return _l58_sql_ctes() + "\n" + "\nUNION ALL\n".join(selects)


@_register("l58_bpe_train_rounds", _l58_sql())
def l58_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a BPE tokenizer on the corpus — l38 counts merge candidates;
    this actually LEARNS the merge table: _L58_ROUNDS rounds of (count
    adjacent pairs corpus-wide -> argmax merge -> greedy re-encode), the
    standard byte-pair-encoding training loop (Sennrich et al. 2016),
    returning each round's learned merge, its support count, and the
    corpus symbol count after applying it. Both engines run the
    identical loop (the oracle unrolls it in chained CTEs), so the
    driver hash-checks the learned merges themselves — m08's
    trained-model-with-oracle pattern applied to discrete structure
    learning. Greedy leftmost-non-overlapping merging is expressed
    relationally (mark pair sites -> gaps-and-islands -> odd ranks win;
    a pytest pins it against a reference Python BPE on adversarial
    overlap chains), NOT via repeated string replace, whose
    resume-after-match semantics strand alternate sites in
    same-symbol chains.

    Scale: corpus state is a (doc_id, pos, tok) table; each round is a
    lead() window + one map-side-combined pair count (the 100 TB cost),
    a 1-row argmax, and two equi-joins on (doc_id, pos) — all
    whole-stage-codegen relational ops, no Python, no per-row strings.
    localCheckpoint per round keeps the unrolled plan linear (l30's
    iterative pattern). The 64-char cap is the training SAMPLE
    (tokenizer training reads a sample, not the full corpus)."""
    _t0, rounds = _l58_trained_rounds(spark, sf_dir)
    out = None
    for rnd, (t, m) in enumerate(rounds, start=1):
        stats = t.agg(F.count("*").alias("symbols_after"))
        # broadcast bound: stats is a global aggregate — exactly 1 row
        row = m.crossJoin(F.broadcast(stats)).select(
            F.lit(rnd).alias("round"),
            F.col("a").alias("merge_left"),
            F.col("b").alias("merge_right"),
            F.col("cnt").cast("long").alias("pair_count"),
            F.col("symbols_after").cast("long").alias("symbols_after"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@_register(
    "l59_dsir_importance",
    r"""
    WITH tok AS (
      SELECT doc_id, source,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(t, ''), c -> ord(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) % 1024 AS bkt
      FROM (
        SELECT doc_id, source,
               unnest(string_split_regex(trim(text), '\s+')) AS t
        FROM documents WHERE trim(text) != ''
      )
    ), stats AS (
      SELECT bkt,
             count(*) FILTER (WHERE source = 'src18') AS cnt_t,
             count(*) FILTER (WHERE source <> 'src18') AS cnt_r
      FROM tok GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t,
             CAST(sum(cnt_r) AS BIGINT) AS tot_r
      FROM stats
    ), lean AS (
      SELECT bkt, (cnt_t * tot_r > cnt_r * tot_t) AS lean
      FROM stats CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(count(*) FILTER (WHERE lean) AS BIGINT) AS n_lean,
           round(count(*) FILTER (WHERE lean) / count(*), 6) AS frac
    FROM tok JOIN lean USING (bkt)
    WHERE source <> 'src18'
    GROUP BY doc_id
    ORDER BY frac DESC, doc_id ASC
    LIMIT 50
    """,
)
def l59_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023),
    integer-exact: score every raw-pool document by how target-like its
    hashed n-gram features are, and keep the top slice — the standard
    recipe for steering a 100 TB crawl toward a target domain (here:
    the corpus's largest source stands in for the target distribution).
    Hashed features are polyhash(token) % 1024 (the l05 SQL-replicable
    hash — xxhash64 has no DuckDB twin); a bucket counts as
    target-leaning iff its target share beats its raw share by exact
    int64 cross-multiplication (cnt_t*tot_r > cnt_r*tot_t — no float
    ratios, no logs, so both engines agree bitwise; at true corpus
    scale the cross-products approach int64 range and the comparison
    would move to 128-bit or per-bucket doubles), and a document's
    importance is the fraction of its token occurrences landing in
    leaning buckets. DSIR's log-likelihood-ratio weights are
    deliberately replaced by this indicator fraction: ln() differs in
    the last ulp across engines, which would unpin the value hash.

    Scale: one token explode feeds (a) a 1024-row bucket-stat aggregate
    (map-side combined; the bucket table and the 1-row totals ride
    broadcasts) and (b) the per-doc scoring agg joined against the
    broadcast bucket verdicts — no shuffle ever carries tokens with
    text, only (doc_id, bucket); top-50 is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    # localCheckpoint: the hashed token table feeds both the bucket-stat
    # build and the per-doc scoring agg — materialize the explode +
    # per-token polyhash once (the feature table any DSIR deployment
    # materializes anyway) instead of re-running it per consumer
    tok = (
        docs.select(
            "doc_id",
            "source",
            F.explode(TX.tokens("text")).alias("t"),
        )
        .select(
            "doc_id",
            "source",
            (TX.polyhash(F.col("t")) % 1024).alias("bkt"),
        )
        .localCheckpoint()
    )
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
        (F.col("cnt_t") * F.col("tot_r") > F.col("cnt_r") * F.col("tot_t")).alias(
            "lean"
        ),
    )
    scored = (
        tok.where(F.col("source") != "src18")
        .join(F.broadcast(lean), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.count_if(F.col("lean")).alias("n_lean"),
        )
    )
    return (
        scored.select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.col("n_lean").cast("long").alias("n_lean"),
            F.round(F.col("n_lean") / F.col("n_tok"), 6).alias("frac"),
        )
        .orderBy(F.desc("frac"), F.asc("doc_id"))
        .limit(50)
    )


def _l60_sql() -> str:
    return (
        _l58_sql_ctes()
        + f"""
    SELECT b.doc_id,
           b.n0 AS n_sym_before,
           a.n3 AS n_sym_after,
           round(a.n3 / b.n0, 6) AS compression
    FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n0 FROM t0 GROUP BY 1) b
    JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n3
          FROM t{_L58_ROUNDS} GROUP BY 1) a USING (doc_id)"""
    )


@_register("l60_bpe_encode_corpus", _l60_sql())
def l60_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer — l58 learns the merge table; this is
    the production tokenize step: encode every document under the
    learned merges and report per-document symbol counts before/after
    plus the compression ratio (the quantity tokenizer training is
    optimized for). Runs the identical train+encode loop on both
    engines (the oracle shares l58's CTE chain verbatim via
    _l58_sql_ctes), so the driver hash-checks every document's encoded
    LENGTH — a stricter corpus-wide check than l58's 3 merge rows.

    Scale: identical per-round shape to l58 (one windowed pass + one
    pair-count agg per round, token table checkpointed); the final
    per-doc counts are two map-side-combined aggregates joined on
    doc_id. At true scale the merge table would be trained once on a
    sample (l58) and applied here as a broadcast loop over a far larger
    corpus — the apply loop's cost per round is one narrow windowed
    pass, no pair counting needed when merges are pre-learned."""
    t0, rounds = _l58_trained_rounds(spark, sf_dir)
    before = t0.groupBy("doc_id").agg(F.count("*").alias("n_sym_before"))
    after = rounds[-1][0].groupBy("doc_id").agg(
        F.count("*").alias("n_sym_after")
    )
    return (
        before.join(after, "doc_id")
        .select(
            "doc_id",
            F.col("n_sym_before").cast("long").alias("n_sym_before"),
            F.col("n_sym_after").cast("long").alias("n_sym_after"),
            F.round(F.col("n_sym_after") / F.col("n_sym_before"), 6).alias(
                "compression"
            ),
        )
    )


@_register(
    "l61_passage_dedup",
    r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE trim(text) != ''
    ),
    wins AS (
      SELECT doc_id, unnest(range(0, len(toks) - 5 + 1)) AS p, toks
      FROM tok WHERE len(toks) >= 5
    ),
    wh AS (
      SELECT doc_id, p,
             md5(array_to_string(list_slice(toks, p + 1, p + 5), ' ')) AS h
      FROM wins
    ),
    shared AS (
      SELECT h, count(DISTINCT doc_id) AS nd FROM wh GROUP BY h
      HAVING count(DISTINCT doc_id) >= 2
    ),
    marked AS (SELECT w.doc_id, w.p, s.nd FROM wh w JOIN shared s USING (h)),
    isl AS (
      SELECT doc_id, p, nd,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM marked
    )
    SELECT doc_id, CAST(min(p) AS BIGINT) AS start_pos,
           CAST(max(p) - min(p) + 5 AS BIGINT) AS pass_len,
           CAST(min(nd) AS BIGINT) AS n_sharers
    FROM isl GROUP BY doc_id, grp
    """,
)
def l61_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring / passage-level dedup (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" family):
    find maximal token runs of length >= k (k=5) that appear verbatim in
    >= 2 distinct documents — the cross-document boilerplate that
    doc-level (l01) and near-dup (l02-l08) dedup both miss. Passage
    identity is the md5 of the window's actual token content (the K
    tokens space-joined), so a reported passage is shared EXACTLY — no
    hash-family false positives. The first formulation used a base-31
    polyhash fold over per-token polyhashes; the ground-truth property
    test (tests/test_properties.py) found its structured collision:
    with fold base 31 far below the ~1e9 token-hash range, windows
    ('aa','bb',...) and ('ab','ab',...) trade a +1/-31 carry and hash
    identically — a pattern real corpora hit with id-like tokens, and
    one engine/oracle parity can never catch because both sides collide
    together. md5 over content removes the algebraic structure outright.

    Shape: one posexplode -> window md5 (codegen slice+concat, token
    strings stay inside the scan stage) -> two-phase distinct-doc count
    per key -> equi-join back -> one per-doc window for the
    gaps-and-islands merge (consecutive shared window starts collapse
    into maximal passages; start = min p, len = max p - min p + k,
    n_sharers = the min distinct-doc count over the run's windows,
    i.e. the number of docs sharing the WHOLE passage's rarest window).

    Scale: text never crosses a shuffle — the wide stages see
    (doc_id, pos, 32-char md5) rows only (16 raw bytes of entropy; the
    same exact-identity key l64's ingestion gate ships, vs 8 bytes for
    the collision-prone fold — the extra key bytes buy exactness); the
    distinct-count and the join key on the md5; the island window
    partitions by doc_id. At 100 TB the suffix-array construction of
    the paper is replaced by this hash-bucket formulation (same recall
    for k-grams, O(n) per doc, embarrassingly parallel), the standard
    industrial variant."""
    K = 5
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    harr = docs.select("doc_id", TX.tokens("text").alias("toks")).where(
        F.size("toks") >= K
    )
    wins = harr.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.size("toks") - K)).alias("p"),
    )
    wh = F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("p") + 1, K)))
    # Two consumers read the window-key table (the distinct-doc count and
    # the join-back); materialize it once so the tokenize+hash pass over
    # the corpus doesn't run twice (the l49 gram-index pattern).
    # Production posture (same as l64's persisted index tables): this
    # table is ~corpus-sized, so at 100 TB it is a persisted index table
    # (write.parquet / persist(DISK_ONLY) with a real checkpoint), NOT a
    # localCheckpoint — executor-local blocks are lost on executor death
    # and would silently recompute. localCheckpoint is the single-JVM
    # test-harness stand-in; the plan shape downstream is identical.
    wins = wins.select("doc_id", "p", wh.alias("h")).localCheckpoint()
    shared = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
    )
    # shared is corpus-derived (every hash with >= 2 sharers) — at scale
    # it can approach the window count, so forbid the toy-scale broadcast
    # the same way l43/l44 pin their band joins.
    marked = wins.join(shared.hint("merge"), "h").select("doc_id", "p", "nd")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = marked.select(
        "doc_id", "p", "nd", (F.col("p") - F.row_number().over(w)).alias("grp")
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("p").cast("long").alias("start_pos"),
            (F.max("p") - F.min("p") + K).cast("long").alias("pass_len"),
            F.min("nd").cast("long").alias("n_sharers"),
        )
        .drop("grp")
    )


@_register(
    "l62_quality_sweep",
    f"""
    WITH scored AS (
      SELECT lang,
             round((least(length(text) / 500.0, 1.0)
                  + least({_STOP_RATIO} * 4, 1.0)
                  + greatest(1.0 - ({_DIGIT_RATIO} + {_PUNCT_RATIO}) * 2, 0.0)) / 3, 6) AS q,
             len({_TOKS}) AS n_tok
      FROM documents WHERE trim(text) != ''
    ),
    bucketed AS (
      SELECT lang, CAST(floor(q * 20) AS BIGINT) AS b,
             count(*) AS nd, sum(n_tok) AS nt
      FROM scored GROUP BY lang, b
    ),
    totals AS (SELECT lang, count(*) AS tot FROM scored GROUP BY lang),
    grid AS (SELECT lang, tot, unnest(range(0, 21)) AS thr FROM totals)
    SELECT g.lang, round(g.thr / 20.0, 2) AS threshold,
           CAST(coalesce(sum(b.nd), 0) AS BIGINT) AS surviving_docs,
           CAST(coalesce(sum(b.nt), 0) AS BIGINT) AS surviving_tokens,
           round(coalesce(sum(b.nd), 0) * 1.0 / g.tot, 6) AS doc_frac
    FROM grid g LEFT JOIN bucketed b ON b.lang = g.lang AND b.b >= g.thr
    GROUP BY g.lang, g.thr, g.tot
    """,
)
def l62_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold ablation sweep: for every (lang, threshold) on a
    21-point grid, how many documents and tokens survive filtering at
    quality >= threshold — the curation ablation report used to pick a
    filter operating point (the survival curve whose knee balances
    data volume against quality, per language so low-resource languages
    aren't silently wiped out by a global threshold).

    Shape: score once (l11's closed-form quality, codegen), aggregate
    into 21 quality buckets per lang (two-phase, map-side combined),
    then materialize the cumulative survival curve by range-joining the
    TINY per-(lang,bucket) aggregate (<= 21 rows/lang) against the
    threshold grid — the corpus is touched exactly once; the quadratic
    stage runs on aggregates, never documents. floor(q*20) uses the
    identical rounded double on both engines, so bucket boundaries
    cannot disagree.

    Scale: one scan + one (lang,bucket) shuffle of counted rows; the
    grid join is O(langs * 21^2) regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    scored = docs.select(
        "lang",
        TX.quality_score("text").alias("q"),
        TX.whitespace_token_count("text").alias("n_tok"),
    )
    bucketed = scored.groupBy(
        "lang", F.floor(F.col("q") * 20).cast("long").alias("b")
    ).agg(F.count("*").alias("nd"), F.sum("n_tok").alias("nt"))
    totals = scored.groupBy("lang").agg(F.count("*").alias("tot"))
    grid = totals.select(
        "lang", "tot", F.explode(F.sequence(F.lit(0), F.lit(20))).alias("thr")
    )
    b = bucketed.select(
        F.col("lang").alias("blang"), "b", "nd", "nt"
    )
    return (
        grid.join(
            F.broadcast(b),
            (F.col("lang") == F.col("blang")) & (F.col("b") >= F.col("thr")),
            "left",
        )
        .groupBy("lang", "thr", "tot")
        .agg(
            F.coalesce(F.sum("nd"), F.lit(0)).cast("long").alias("surviving_docs"),
            F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("surviving_tokens"),
            F.round(
                F.coalesce(F.sum("nd"), F.lit(0)) * 1.0 / F.col("tot"), 6
            ).alias("doc_frac"),
        )
        .select(
            "lang",
            F.round(F.col("thr") / 20.0, 2).alias("threshold"),
            "surviving_docs",
            "surviving_tokens",
            "doc_frac",
        )
    )


@_register("l63_gif_decode_roundtrip", MM.GIF_ORACLE_SQL)
def l63_gif_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF87a decode — the multimodal surface's second entropy
    coding: where PNG (l57) exercises zlib/DEFLATE, this exercises the
    dictionary-coder family, a full GIF-variant LZW with variable code
    widths, clear/EOI codes, the deferred next-code entry, and the
    4096-entry table reset (operators/multimodal.decode_gif — pure
    stdlib, no codec libs). Every document becomes a genuine 16-color
    GIF and is decoded back inside ONE mapInPandas pass; even doc_ids
    go through the real LZW compressor, odd ones through an independent
    clear-code literal writer, so the decoder is validated against two
    encoder implementations corpus-wide on every run. Geometry, palette
    indices, and the palette itself are closed forms of
    (doc_id, n_chars), so the container walk + LZW decode + palette
    mapping all value-hash check against SQL. The 16-color palette
    makes the 5->6->7->8-bit code-width transitions fire even on these
    tiny images.

    Scale: the l52/l53/l57 contract — payloads are built and consumed
    inside the Arrow batch, never crossing a shuffle or the driver.

    Reference parity: none in reference; public format (GIF89a specification, LZW).
    """
    docs = load_table(spark, sf_dir, "documents")
    return MM.gif_roundtrip_features(docs)


@_register(
    "l64_incremental_dedup",
    r"""
    WITH base AS (
      SELECT doc_id, trim(text) AS t,
             string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE trim(text) != ''
    ),
    wh AS (
      SELECT doc_id, p,
             md5(array_to_string(list_slice(toks, p + 1, p + 5), ' ')) AS h
      FROM (SELECT doc_id, unnest(range(0, len(toks) - 5 + 1)) AS p, toks
            FROM base WHERE len(toks) >= 5)
    ),
    exact_m AS (
      SELECT b.doc_id, min(i.doc_id) AS m
      FROM base b JOIN base i ON md5(b.t) = md5(i.t)
      WHERE b.doc_id >= 400 AND i.doc_id < 400
      GROUP BY b.doc_id
    ),
    near_m AS (
      SELECT b.doc_id, min(i.doc_id) AS m
      FROM (SELECT DISTINCT doc_id, h FROM wh WHERE doc_id >= 400) b
      JOIN (SELECT DISTINCT doc_id, h FROM wh WHERE doc_id < 400) i
        USING (h)
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN e.m IS NOT NULL THEN 'exact'
                WHEN n.m IS NOT NULL THEN 'near'
                ELSE 'novel' END AS status,
           coalesce(e.m, n.m) AS match_id
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 400 AND trim(text) != '')
         d
    LEFT JOIN exact_m e USING (doc_id)
    LEFT JOIN near_m n USING (doc_id)
    """,
)
def l64_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup gate: classify every INCOMING document
    (doc_id >= 400, standing in for today's crawl batch) against the
    already-indexed corpus (doc_id < 400) as exact duplicate (identical
    trimmed text), near duplicate (shares a >= 5-token verbatim passage
    — the l61 exact window identity reused as an index probe), or
    novel, with the lowest matching index doc as provenance. This is
    the production shape corpus growth actually runs — a batch probes a
    persisted index; corpus-x-corpus pair enumeration (l02-l08) never
    reruns.

    Scale: exact-match AND passage keys travel as md5 (32 hex chars,
    identical built-in on both engines; content-exact, so a 'near'
    verdict can never be hash noise — see l61) — text never
    crosses a shuffle; both probes are equi-joins against index tables
    that production would keep bucketed on the hash, and both sides
    pre-shrink to DISTINCT (doc, hash) before joining. Batch-vs-index
    joins are merge-hinted: the index side is corpus-sized and must
    never broadcast. The 'exact' branch never fires on this corpus
    (its planted duplicates are near-dups, never byte-identical), so a
    planted-fixture pytest pins that branch (tests/test_llmops.py)."""
    return DD.incremental_dedup_report(
        load_table(spark, sf_dir, "documents"), split_id=400, k=5
    )


@_register(
    "l65_token_budget_waterfill",
    r"""
    WITH caps AS (
      SELECT source,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS cap
      FROM documents WHERE trim(text) != '' GROUP BY source
    ),
    ord AS (
      SELECT source, cap,
             row_number() OVER (ORDER BY cap, source) AS i,
             coalesce(sum(cap) OVER (ORDER BY cap, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
             count(*) OVER () AS n,
             CAST(floor(sum(cap) OVER () * 9 / 10.0) AS BIGINT) AS t
      FROM caps
    ),
    seg AS (
      SELECT i AS i_seg, p AS p_seg, n, t FROM ord
      WHERE p + (n - i + 1) * cap > t
      ORDER BY i LIMIT 1
    ),
    params AS (
      SELECT i_seg, p_seg,
             CAST(floor((t - p_seg) * 1.0 / (n - i_seg + 1)) AS BIGINT)
               AS theta,
             t - p_seg
               - CAST(floor((t - p_seg) * 1.0 / (n - i_seg + 1)) AS BIGINT)
                 * (n - i_seg + 1) AS rem
      FROM seg
    )
    SELECT o.source, o.cap,
           CAST(CASE
             WHEN pr.i_seg IS NULL OR o.i < pr.i_seg THEN o.cap
             ELSE pr.theta + CASE WHEN row_number() OVER (
                    ORDER BY (o.i >= pr.i_seg) DESC, o.source) <= pr.rem
                  THEN 1 ELSE 0 END
           END AS BIGINT) AS alloc,
           (pr.i_seg IS NOT NULL AND o.i >= pr.i_seg) AS trimmed
    FROM ord o LEFT JOIN params pr ON TRUE
    """,
)
def l65_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling across sources — the data-mixing
    allocator a budgeted pretraining run needs: given a global token
    budget (90% of the corpus here), every source keeps its full token
    count (cap) until the water level theta is reached; larger sources
    are trimmed to theta so the budget is met exactly, with the integer
    remainder distributed one token each to the lexicographically
    smallest trimmed sources. All arithmetic is integer (the one
    division is floor over exactly-representable doubles), so the
    allocation — including which sources are trimmed and who gets the
    remainder tokens — value-hash replays. l36's inverse-frequency
    mixture weights are the unconstrained relative version; this is the
    budget-constrained absolute one (the knapsack-free closed form:
    theta found analytically from the cap-sorted prefix sums, no
    iteration).

    Scale: one corpus scan into a per-source aggregate; everything
    after runs on the ~|sources|-row frame (global windows included —
    they sort sources, never documents)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    caps = docs.groupBy("source").agg(
        F.sum(TX.whitespace_token_count("text")).alias("cap")
    )
    w = Window.orderBy("cap", "source")
    wall = Window.partitionBy()
    ordd = caps.select(
        "source",
        "cap",
        F.row_number().over(w).alias("i"),
        F.coalesce(
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("p"),
        F.count("*").over(wall).alias("n"),
        F.floor(F.sum("cap").over(wall) * 9 / 10.0).cast("long").alias("t"),
    )
    seg = (
        ordd.where(F.col("p") + (F.col("n") - F.col("i") + 1) * F.col("cap") > F.col("t"))
        .orderBy("i")
        .limit(1)
        .select(
            F.col("i").alias("i_seg"),
            F.col("p").alias("p_seg"),
            "n",
            "t",
        )
    )
    theta = F.floor(
        (F.col("t") - F.col("p_seg")) * 1.0 / (F.col("n") - F.col("i_seg") + 1)
    ).cast("long")
    params = seg.select(
        "i_seg",
        "p_seg",
        theta.alias("theta"),
        (
            F.col("t")
            - F.col("p_seg")
            - theta * (F.col("n") - F.col("i_seg") + 1)
        ).alias("rem"),
    )
    # broadcast bound: params is the limit(1) water-fill pivot — 1 row
    joined = ordd.join(F.broadcast(params), F.lit(True), "left")
    bonus_rank = F.row_number().over(
        Window.orderBy(
            (F.col("i") >= F.col("i_seg")).desc_nulls_last(), F.col("source")
        )
    )
    alloc = (
        F.when(
            F.col("i_seg").isNull() | (F.col("i") < F.col("i_seg")), F.col("cap")
        )
        .otherwise(
            F.col("theta")
            + F.when(bonus_rank <= F.col("rem"), 1).otherwise(0)
        )
        .cast("long")
    )
    return joined.select(
        "source",
        F.col("cap").cast("long").alias("cap"),
        alloc.alias("alloc"),
        (F.col("i_seg").isNotNull() & (F.col("i") >= F.col("i_seg"))).alias(
            "trimmed"
        ),
    )


_L66_NAIVE_SPLIT_SQL = """CASE WHEN ({c} * 2654435761) % 100 < 80 THEN 'train'
                WHEN ({c} * 2654435761) % 100 < 90 THEN 'val'
                ELSE 'test' END"""


@_register(
    "l66_cluster_holdout_split",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS gid FROM reach GROUP BY a),
    g AS (
      SELECT d.doc_id, coalesce(c.gid, d.doc_id) AS group_id,
             {_L66_NAIVE_SPLIT_SQL.format(c="d.doc_id")} AS naive_split
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    grp AS (
      SELECT group_id, count(*) AS group_size,
             count(DISTINCT naive_split) AS n_naive
      FROM g GROUP BY 1
    )
    SELECT g.doc_id, CAST(g.group_id AS BIGINT) AS group_id,
           CAST(grp.group_size AS BIGINT) AS group_size,
           {_L66_NAIVE_SPLIT_SQL.format(c="g.group_id")} AS split,
           (grp.n_naive > 1) AS naive_leaky
    FROM g JOIN grp USING (group_id)
    """,
)
def l66_cluster_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: group holdout by near-dup
    CLUSTER. l17 hashes each doc_id independently, so two near-duplicate
    documents can land in train and test — the classic eval-contamination
    bug in LLM data pipelines. Here every doc hashes by its connected-
    component id over the l02 blocked-Jaccard pair graph (singletons by
    their own id), so a whole duplicate cluster moves as one unit and no
    split boundary can cut a near-dup edge — by construction, not by
    audit. The naive_leaky column IS the audit: true iff l17's per-doc
    hash would have fractured that doc's cluster across splits.

    Scale: reuses the session-materialized pair graph + components
    fixpoint (one dedup stage feeding l02/l20/l30/l33/l66, the
    production shape). On top of that: one 8-byte-key left join to label
    docs, one groupBy(group_id) over ids only (map-side combined), one
    join back. Text never moves; split assignment itself is the same
    one-expression narrow projection as l17, just keyed on group_id."""
    docs = load_table(spark, sf_dir, "documents")
    comp = _dup_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("gid")
    )

    def hash_split(c):
        b = F.pmod(c * F.lit(2654435761), F.lit(100))
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    g = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("gid"), F.col("doc_id")).alias("group_id"),
            hash_split(F.col("doc_id")).alias("naive_split"),
        )
    )
    grp = g.groupBy("group_id").agg(
        F.count("*").alias("group_size"),
        (F.size(F.collect_set("naive_split")) > 1).alias("naive_leaky"),
    )
    return g.join(grp, "group_id").select(
        "doc_id",
        "group_id",
        "group_size",
        hash_split(F.col("group_id")).alias("split"),
        "naive_leaky",
    )


@_register(
    "l68_index_compaction",
    r"""
    WITH base AS (
      SELECT doc_id, source, trim(text) AS t,
             string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE trim(text) != ''
    ),
    md5f AS (SELECT doc_id, source, md5(t) AS t_md5 FROM base),
    wh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(toks, p + 1, p + 5), ' ')) AS h
      FROM (SELECT doc_id, unnest(range(0, len(toks) - 5 + 1)) AS p, toks
            FROM base WHERE len(toks) >= 5)
    ),
    exact_b AS (
      SELECT DISTINCT b.doc_id
      FROM md5f b JOIN md5f i ON b.t_md5 = i.t_md5
      WHERE b.doc_id >= 400 AND i.doc_id < 400
    ),
    new_ids AS (
      SELECT doc_id FROM base WHERE doc_id < 400
      UNION ALL
      SELECT doc_id FROM base
      WHERE doc_id >= 400
        AND doc_id NOT IN (SELECT doc_id FROM exact_b)
    ),
    ms AS (
      SELECT m.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT m.t_md5) AS BIGINT) AS n_md5_distinct,
             bit_xor(CAST('0x' || substr(md5(CAST(m.doc_id AS VARCHAR)
               || ':' || m.t_md5), 1, 15) AS BIGINT)) AS md5_xor
      FROM md5f m JOIN new_ids USING (doc_id)
      GROUP BY 1
    ),
    gs AS (
      SELECT b.source,
             CAST(count(*) AS BIGINT) AS n_pass_rows,
             CAST(count(DISTINCT g.h) AS BIGINT) AS n_pass_distinct,
             bit_xor(CAST('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)
               || ':' || g.h), 1, 15) AS BIGINT)) AS pass_xor
      FROM wh g JOIN new_ids USING (doc_id) JOIN base b USING (doc_id)
      GROUP BY 1
    ),
    bs AS (
      SELECT b.source,
             CAST(count(*) FILTER (WHERE e.doc_id IS NULL) AS BIGINT)
               AS n_admitted,
             CAST(count(*) FILTER (WHERE e.doc_id IS NOT NULL) AS BIGINT)
               AS n_dropped_exact
      FROM base b LEFT JOIN exact_b e USING (doc_id)
      WHERE b.doc_id >= 400
      GROUP BY 1
    )
    SELECT coalesce(ms.source, bs.source) AS source,
           coalesce(ms.n_docs, 0) AS n_docs,
           coalesce(ms.n_md5_distinct, 0) AS n_md5_distinct,
           coalesce(ms.md5_xor, 0) AS md5_xor,
           coalesce(gs.n_pass_rows, 0) AS n_pass_rows,
           coalesce(gs.n_pass_distinct, 0) AS n_pass_distinct,
           coalesce(gs.pass_xor, 0) AS pass_xor,
           coalesce(bs.n_admitted, 0) AS n_admitted,
           coalesce(bs.n_dropped_exact, 0) AS n_dropped_exact
    FROM ms FULL OUTER JOIN bs ON ms.source = bs.source
            LEFT JOIN gs ON ms.source = gs.source
    """,
)
def l68_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance half of incremental ingestion (round-6 verdict
    item 5): l64 classifies today's batch (doc_id >= 400) against the
    persisted index (doc_id < 400); l68 COMPACTS — exact-duplicate batch
    docs are dropped, near/novel docs admitted, and the output is the
    next round's index (md5 + passage-window key tables) summarized per
    source: counts, distinct keys, and bit_xor'd 60-bit (doc_id, key)
    digests, so the driver value-hash pins the exact new-index key
    multiset. Re-probing the same batch against the produced index
    classifies it 100% exact (pytest) — the invariant that makes
    l64 -> l68 -> l64 a running pipeline over corpus growth.

    Scale: see operators/dedup.index_compaction_report — batch-vs-index
    equi/anti-joins on md5 keys only (text never shuffles, nothing
    broadcasts, pair enumeration never reruns), semi-joins against the
    once-materialized index frames, and a (source, int64) aggregate
    whose bit_xor digests combine map-side and cannot overflow."""
    return DD.index_compaction_report(
        load_table(spark, sf_dir, "documents"), split_id=400, k=5
    )


@_register(
    "l71_two_generation_ingestion",
    r"""
    WITH base AS (
      SELECT doc_id, source, trim(text) AS t,
             string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE trim(text) != ''
    ),
    md5x AS (SELECT doc_id, source, md5(t) AS m FROM base),
    wh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(toks, p + 1, p + 5), ' ')) AS h
      FROM (SELECT doc_id, unnest(range(0, len(toks) - 5 + 1)) AS p, toks
            FROM base WHERE len(toks) >= 5)
    ),
    exact_a AS (
      SELECT DISTINCT b.doc_id
      FROM md5x b JOIN md5x i ON b.m = i.m
      WHERE b.doc_id >= 400 AND b.doc_id < 450 AND i.doc_id < 400
    ),
    gen2 AS (
      SELECT doc_id FROM base WHERE doc_id < 400
      UNION ALL
      SELECT doc_id FROM base
      WHERE doc_id >= 400 AND doc_id < 450
        AND doc_id NOT IN (SELECT doc_id FROM exact_a)
    ),
    exact_m AS (
      SELECT b.doc_id, min(i.doc_id) AS mid
      FROM md5x b JOIN md5x i ON b.m = i.m
           JOIN gen2 g ON i.doc_id = g.doc_id
      WHERE b.doc_id >= 450
      GROUP BY b.doc_id
    ),
    near_m AS (
      SELECT b.doc_id, min(i.doc_id) AS mid
      FROM wh b JOIN wh i USING (h) JOIN gen2 g ON i.doc_id = g.doc_id
      WHERE b.doc_id >= 450
      GROUP BY b.doc_id
    )
    SELECT d.doc_id, d.source,
           CASE WHEN e.mid IS NOT NULL THEN 'exact'
                WHEN n.mid IS NOT NULL THEN 'near'
                ELSE 'novel' END AS status,
           coalesce(e.mid, n.mid) AS match_id
    FROM (SELECT doc_id, source FROM base WHERE doc_id >= 450) d
    LEFT JOIN exact_m e USING (doc_id)
    LEFT JOIN near_m n USING (doc_id)
    """,
)
def l71_two_generation_ingestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed ingestion loop over TWO corpus generations (round-7
    verdict item 4): l68's compaction (batch A, doc_id 400-449, admitted
    against the gen-1 index doc_id < 400) feeds l64's probe (batch B,
    doc_id >= 450, classified against the COMPACTED gen-2 index). Until
    now the l64 -> l68 -> l64 pipeline was a pytest-only invariant; this
    registers it as a driver-hash-checked query whose output provably
    depends on the index having grown — at the parity SF a batch-B doc
    classifies 'near' via an ADMITTED batch-A doc that the gen-1 index
    could not have matched (pinned by pytest against l64's gen-1-only
    classification).

    Scale: see operators/dedup.two_generation_ingestion_report —
    admission and probe are md5-key equi/anti-joins (text never
    shuffles); gen-2 membership is one materialized 8-byte-id frame
    applied as semi-joins to the once-built index tables; every join
    is shuffle_hash-hinted, so nothing corpus-sized broadcasts (SCALE.md
    bounds the hash build sides)."""
    return DD.two_generation_ingestion_report(
        load_table(spark, sf_dir, "documents"),
        gen1_split=400,
        gen2_split=450,
        k=5,
    )


def _l72_sql() -> str:
    from ..operators import unigram as UG

    return UG.oracle_sql()


@_register("l72_unigram_lm_trainer", _l72_sql())
def l72_unigram_lm_trainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-class) tokenizer trainer (round-7
    verdict item 5) — the tokenizer family's second production class
    next to greedy-merge BPE (l58/l60): seed vocabulary from top-N
    corpus substrings, then three hard-EM rounds of (E) per-word
    Viterbi segmentation under an integer lexicographic score (fewest
    tokens, then highest cumulative piece frequency — the probability
    product replaced by exact int64 arithmetic so the trajectory
    value-hash-replays) and (M) usage re-estimation + pruning to a
    fixed schedule. Output is the training trajectory: one row per
    round with vocab size, corpus token count, corpus score, and the
    order-independent bit_xor usage digest. Brute-force closure (pure
    Python vs the DuckDB oracle, no Spark) in tests/test_properties.py.

    Scale: see operators/unigram — the words frame is
    alphabet-bounded (distinct words <= W chars); the Viterbi DP is a
    fully unrolled whole-stage-codegen projection ladder (no Python
    UDF, no per-row loop); the vocab is top-N by construction and
    broadcasts; per round the only shuffles are two (piece, int64)
    map-side-combinable aggregates."""
    from ..operators.unigram import train_unigram_lm

    return train_unigram_lm(load_table(spark, sf_dir, "documents"))


@_register("l67_jpeg_decode_roundtrip", MM.JPEG_ORACLE_SQL)
def l67_jpeg_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode (round-6 verdict item 4) — the last
    entropy-coding family: PNG (l57) is LZ77+Huffman, GIF (l63) is LZW,
    this is transform coding — full marker walk, data-built canonical
    Huffman tables, DC prediction, AC run-length with EOB/ZRL, byte
    unstuffing, dequantize, inverse zigzag, 8x8 IDCT, level shift,
    4:4:4 YCbCr->RGB (operators/multimodal.decode_jpeg — stdlib+numpy,
    no PIL). Every document becomes a genuine JFIF and is decoded back
    inside ONE mapInPandas pass; doc_id parity switches grayscale vs
    3-component color, (doc_id+n_chars) parity switches the full-FDCT
    encoder vs an independent analytic DC-only writer — four mode
    combinations, all hash-checked against the same closed forms. The
    oracle trick for a LOSSY codec: corpus blocks are 8x8-constant and
    quant tables all-ones, so the transform round trip is provably
    bit-exact; arbitrary-coefficient decoding is pinned separately by a
    pure-math.cos brute-force IDCT property test (a shared numpy-basis
    bug between encoder and decoder could never hide behind the
    corpus-wide cross-validation alone).

    Scale: the l52/l53/l57/l63 contract — payloads are built and
    consumed inside the Arrow batch, never crossing a shuffle or the
    driver.

    Reference parity: none in reference; public format (baseline JPEG, ITU-T T.81).
    """
    docs = load_table(spark, sf_dir, "documents")
    return MM.jpeg_roundtrip_features(docs)


@_register("l69_mulaw_decode_roundtrip", MM.MULAW_ORACLE_SQL)
def l69_mulaw_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 mu-law audio decode — the codec ladder's audio rung:
    l53 reads the PCM WAV container, this decodes an actual companded
    codec (RIFF format tag 7 with the fact chunk non-PCM requires,
    manual chunk walk — the stdlib wave module is PCM-only). mu-law is
    stateless per sample, so decode(encode(x)) is an exact integer
    closed form the oracle replays stepwise on ARBITRARY samples — the
    l67 planted-exactness trick inverted: here the LOSSINESS itself
    (per-doc companding quantization error) is part of the hash-checked
    contract. The encoder/decoder pair is the CCITT 14-bit G.711
    reference, pinned bit-exact against CPython's independent audioop
    implementation over the ENTIRE 16-bit domain where audioop exists
    (operators/multimodal.mulaw_encode_sample).

    Scale: one scan, one MapInPandas, zero exchanges — payloads are
    built and consumed inside the Arrow batch."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.mulaw_roundtrip_features(docs)


_L70_K = 3
_L70_ROUNDS = 3


def _l70_sql() -> str:
    """Unrolled SQL twin of the greedy coverage loop — same round count."""
    k = _L70_K
    sql = rf"""
    WITH base AS (
      SELECT source, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE trim(text) != ''
    ),
    gs AS (
      SELECT DISTINCT source,
             md5(array_to_string(list_slice(toks, p + 1, p + {k}), ' ')) AS h
      FROM (SELECT source, unnest(range(0, len(toks) - {k} + 1)) AS p, toks
            FROM base WHERE len(toks) >= {k})
    )"""
    for t in range(1, _L70_ROUNDS + 1):
        prev_src = " UNION ALL ".join(
            f"SELECT src FROM w{i}" for i in range(1, t)
        )
        not_sel = f"AND source NOT IN ({prev_src})" if t > 1 else ""
        not_cov = f"AND h NOT IN (SELECT h FROM c{t - 1})" if t > 1 else ""
        sql += f""",
    w{t} AS (
      SELECT source AS src, count(*) AS gain FROM gs
      WHERE TRUE {not_sel} {not_cov}
      GROUP BY 1 ORDER BY gain DESC, src LIMIT 1
    ),
    c{t} AS (
      SELECT DISTINCT h FROM gs
      WHERE source IN ({(prev_src + " UNION ALL " if t > 1 else "")}SELECT src FROM w{t})
    )"""
    picks = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({t} AS BIGINT) AS pick_rank, src AS source,
             CAST(gain AS BIGINT) AS gain,
             CAST((SELECT count(*) FROM c{t}) AS BIGINT) AS covered_total
      FROM w{t}"""
        for t in range(1, _L70_ROUNDS + 1)
    )
    return sql + f"\n    SELECT * FROM (\n{picks}\n    ) ORDER BY pick_rank"


@_register("l70_greedy_source_coverage", _l70_sql())
def l70_greedy_source_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage source ordering — the submodular
    data-selection step a mixture designer runs before weighting (pick
    the source adding the most NEW {k}-gram types, repeat): 3 unrolled
    greedy rounds, each an anti-join of the (source, gram-md5) index
    against the already-covered gram set, argmax by (gain desc, source)
    — integer counts end to end, so the picks, their marginal gains,
    and the cumulative coverage all value-hash replay. Fully-covered
    sources drop out of candidacy by construction (no zero-gain picks).

    Scale: the (source, gram) index materializes once (distinct
    projection of one corpus scan — the wide stages see 8-byte-ish md5
    keys, never text) and every greedy round is one anti-join + one
    |sources|-row aggregate; selection state is 1-row checkpointed
    frames riding broadcasts (the m13 winner shape). Greedy coverage
    is 1-1/e-optimal for this objective, the standard justification."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    k = _L70_K
    harr = docs.select("source", TX.tokens("text").alias("toks")).where(
        F.size("toks") >= k
    )
    wins = harr.select(
        "source",
        F.explode(F.sequence(F.lit(0), F.size("toks") - k)).alias("p"),
        "toks",
    )
    wh = F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("p") + 1, k)))
    gs = wins.select("source", wh.alias("h")).distinct().localCheckpoint()

    picked: list[DataFrame] = []
    rows: list[DataFrame] = []
    total_prev: DataFrame | None = None
    for t in range(1, _L70_ROUNDS + 1):
        cand = gs
        for w in picked:
            cand = cand.join(
                F.broadcast(w.select(F.col("src").alias("source"))),
                "source",
                "anti",
            )
        if picked:
            covered = gs.join(
                F.broadcast(
                    picked[0]
                    .select("src")
                    .unionByName(*(w.select("src") for w in picked[1:]))
                    if len(picked) > 1
                    else picked[0].select("src")
                ).withColumnRenamed("src", "source"),
                "source",
                "semi",
            ).select("h")
            cand = cand.join(covered.hint("merge"), "h", "anti")
        win = (
            cand.groupBy("source")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.col("gain").desc(), "source")
            .limit(1)
            .select(F.col("source").alias("src"), "gain")
            .localCheckpoint()
        )
        picked.append(win)
        if total_prev is None:
            row = win.select(
                F.lit(t).cast("long").alias("pick_rank"),
                F.col("src").alias("source"),
                F.col("gain").cast("long").alias("gain"),
                F.col("gain").cast("long").alias("covered_total"),
            )
        else:
            row = win.crossJoin(F.broadcast(total_prev)).select(
                F.lit(t).cast("long").alias("pick_rank"),
                F.col("src").alias("source"),
                F.col("gain").cast("long").alias("gain"),
                (F.col("gain") + F.col("_ct")).cast("long").alias("covered_total"),
            )
        row = row.localCheckpoint()
        rows.append(row)
        total_prev = row.select(F.col("covered_total").alias("_ct"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("pick_rank")


# ---------------------------------------------------------------------------
# l77: BM25 retrieval — the lexical-search baseline every RAG/data-curation
# stack runs next to the ANN ladder (l07/l13/l24/l75 are the dense path;
# this is the sparse one). Okapi BM25 with the Lucene idf form, k1=1.2,
# b=0.75. Per-term contributions are rounded to integer MICRO-units and
# summed as int64, so the per-(query,doc) score is exact regardless of
# aggregation order — the same order-proof discipline as the m08 trainers.
# The arithmetic expression is ONE shared string evaluated by both engines
# (identical parse, identical IEEE op order; ln() is the only libm call,
# the l21 precedent).
# ---------------------------------------------------------------------------
_L77_QUERIES = [
    (1, "dup"), (1, "scan"),
    (2, "spark"), (2, "window"), (2, "query"),
    (3, "hash"), (3, "join"), (3, "merge"),
]
_L77_CONTRIB = (
    "CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    " * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl)"
    " / (CAST(sum_dl AS DOUBLE) / n_docs)))) * 1000000.0, 0) AS BIGINT)"
)
_L77_TOPK = 5

_L77_SQL = f"""
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS t
        FROM documents WHERE trim(text) <> ''
      ) WHERE t <> ''
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
    q(query_id, t) AS (VALUES
      {', '.join(f"({i}, '{t}')" for i, t in _L77_QUERIES)}),
    dfq AS (
      SELECT t, count(*) AS df FROM tf
      WHERE t IN (SELECT DISTINCT t FROM q) GROUP BY 1
    ),
    contrib AS (
      SELECT q.query_id, tf.doc_id, {_L77_CONTRIB} AS c
      FROM tf
      JOIN q USING (t) JOIN dfq USING (t) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    scores AS (
      SELECT query_id, doc_id, sum(c) AS score_micro
      FROM contrib GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(rnk AS BIGINT) AS rnk,
           doc_id,
           CAST(score_micro AS BIGINT) AS score_micro
    FROM (
      SELECT query_id, doc_id, score_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_micro DESC, doc_id) AS rnk
      FROM scores
    ) WHERE rnk <= {_L77_TOPK}
"""


def _l77_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score_micro) exact BM25 scores for the fixed
    l77 query set — the probe-path pipeline (inverted-index tf, merge-
    hinted doc-length join, broadcast query/df/stats), shared by the
    top-k retrieval (l77) and the context assembler (l85)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), "[^a-z0-9]+")).alias("t"),
    ).filter(F.col("t") != "")
    # Eager localCheckpoint, not lazy persist: the dfq and stats
    # BROADCAST builds run as concurrent futures, and each would compute
    # the tokenize+tf pipeline before the cache is populated (the same
    # race fixed in operators/dedup.py). Materializing once also
    # truncates the lineage every consumer replans.
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("tf")).localCheckpoint()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    q = spark.createDataFrame(_L77_QUERIES, ["query_id", "t"])
    dfq = (
        tf.join(F.broadcast(q.select("t").distinct()), "t")
        .groupBy("t")
        .agg(F.count("*").alias("df"))
    )
    # c is per-(term, doc) — compute it on the index-sized postings
    # BEFORE the query join replicates rows (see l84; guide §2.3). The
    # dfq inner join prunes to query-term postings exactly as the q join
    # did, so the same rows survive; the expression string is unchanged.
    contrib = (
        tf.join(F.broadcast(dfq), "t")
        .join(dl.hint("merge"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr("t", "doc_id", f"{_L77_CONTRIB} AS c")
        .join(F.broadcast(q), "t")
        .select("query_id", "doc_id", "c")
    )
    return contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c").alias("score_micro")
    )


@_register("l77_bm25_topk", _L77_SQL)
def l77_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval over the document corpus — the sparse
    twin of the dense ANN ladder, and the standard first-stage retriever
    in RAG pipelines and quality-filter mining. idf uses the Lucene
    ln(1+(N-df+0.5)/(df+0.5)) form (always positive); tf normalization is
    the classic k1/b length correction against the corpus mean document
    length. Scores travel as exact summed int64 micro-units (per-term
    contributions rounded once), so the ranking hash-replays under any
    partitioning.

    Scale: the token explode happens ONCE into the tf frame; the query
    set (8 terms) broadcasts into it, so only postings for query terms —
    the classic inverted-index probe — survive past the first join. The
    corpus-sized dl frame joins those postings MERGE-hinted (a broadcast
    there would ship every document's length at 100 TB); corpus stats ride
    a 1-row broadcast. Per-query ranking partitions by query_id — no
    global sort. At production scale tf/dl are the materialized inverted
    index + doc-length table every search engine persists; this query is
    the probe path.

    Reference parity: none in reference; public methodology (Okapi BM25, Robertson & Sparck Jones).
    """
    scores = _l77_scores(spark, sf_dir)
    from pyspark.sql.window import Window

    win = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        scores.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= _L77_TOPK)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            F.col("score_micro").cast("long").alias("score_micro"),
        )
    )


_L78_COS = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform(a.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform(q.qe, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))"
)

_L78_SQL = f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qe
      FROM embeddings WHERE vec_id < 20
    )
    SELECT qid AS query_id, CAST(qlabel AS BIGINT) AS query_label,
           cid AS neg_id, round(cos, 4) AS cosine_sim
    FROM (
      SELECT q.qid, q.qlabel, a.vec_id AS cid, {_L78_COS} AS cos,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY {_L78_COS} DESC, a.vec_id ASC) AS rk
      FROM embeddings a, q
      WHERE a.label != q.qlabel
    ) WHERE rk = 1
"""


@_register("l78_hard_negative_mining", _L78_SQL)
def l78_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training:
    for each anchor (the first 20 vectors), the single most-similar
    corpus vector with a DIFFERENT label — the negatives that actually
    move a contrastive loss, vs the uninformative random negatives naive
    pipelines sample. The exact-cosine argmax (ties broken by lower
    vec_id) replays in SQL with the identical left-to-right double
    accumulation, so the driver hash-checks the mined pair ids.

    Scale: the anchor set is bounded and broadcasts; the corpus is
    scanned ONCE, scored against all anchors in the same pass (the l75
    exact-baseline shape), and the label-mismatch predicate filters
    before any shuffle; the per-anchor argmax is the two-phase SALTED
    top-k (topk_per_query) — no per-anchor corpus-sized window
    partition. Cost is one scan + bounded joins regardless of corpus
    size; at production scale the anchor set is the training batch and
    the same plan serves per-batch negative refresh.

    Reference parity: the training-data counterpart of the similarity
    surface (l06 exact / l07+ ANN) — same machinery, inverted
    objective (most-similar WRONG-class instead of same-class)."""
    from ..functions.vectors import cosine_similarity

    em = load_table(spark, sf_dir, "embeddings")
    anchors = em.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
    )
    scored = (
        em.crossJoin(F.broadcast(anchors))
        .where(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            F.col("qlabel").cast("long").alias("qlabel"),
            F.col("vec_id").alias("cid"),
            cosine_similarity(F.col("embedding"), F.col("qe")).alias("_cos"),
        )
    )
    top = SIM.topk_per_query(
        scored.select("qid", "cid", "_cos"), k=1
    )
    ql = anchors.select("qid", F.col("qlabel").cast("long").alias("qlabel"))
    return top.join(F.broadcast(ql), "qid").select(
        F.col("qid").alias("query_id"),
        F.col("qlabel").alias("query_label"),
        F.col("cid").alias("neg_id"),
        F.round("_cos", 4).alias("cosine_sim"),
    )


_L79_N = 50  # target sample size; step = floor(total_weight / N)

_L79_SQL = f"""
    WITH w AS (
      SELECT doc_id, source, n_chars AS w FROM documents
    ),
    t AS (
      SELECT CAST(greatest(sum(w) // {_L79_N}, 1) AS BIGINT) AS step FROM w
    ),
    r AS (
      SELECT doc_id, source, w, sum(w) OVER (ORDER BY doc_id) AS run
      FROM w
    )
    SELECT doc_id, source, CAST(w AS BIGINT) AS weight,
           CAST((run - w) // step + 1 AS BIGINT) AS first_pick,
           CAST(run // step - (run - w) // step AS BIGINT) AS n_hits
    FROM r, t
    WHERE run // step > (run - w) // step
"""


@_register("l79_systematic_weighted_sample", _L79_SQL)
def l79_systematic_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling of the
    corpus — the deterministic weighted sampler a training pipeline
    uses to draw a ~N-document subset where selection probability is
    proportional to document weight (chars here; tokens in production):
    lay every document's weight end-to-end on a number line in doc_id
    order, then pick the document under every multiple of
    step = floor(total/N). A document is selected iff its weight span
    crosses a boundary (so zero-weight docs never select, and a doc
    longer than step can earn n_hits > 1 — the replacement-free PPS
    semantics float-threshold samplers approximate). Every quantity is
    an int64 boundary count, so the sample replays exactly — no RNG,
    no float thresholds, reproducible across engines and reruns.

    Scale: selection needs the corpus-wide running weight — the
    operator is the two-level segmented scan (operators/prefix.py,
    shared with r88): intra-segment running sums partition by
    doc_id-block, segment offsets are a |segments|-row window riding a
    broadcast join. Three narrow (doc_id, source, w) scans total — the
    step aggregate and the segment-totals branch both collapse
    map-side; no corpus-sized single-partition window, no shuffle of
    the text itself.

    Reference parity: none (the reference has no sampling surface) —
    this is the l22/l65 sampling family's deterministic PPS member."""
    from ..operators.prefix import segmented_running_sum

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("w")
        )
        .withColumn("seg", F.expr("doc_id div 100"))
    )
    st = d.agg(
        F.greatest(
            F.expr(f"sum(w) div {_L79_N}"), F.lit(1)
        ).cast("long").alias("step")
    )
    run = segmented_running_sum(d, "seg", "doc_id", "w", "run")
    return (
        run.crossJoin(F.broadcast(st))
        .where(F.expr("run div step > (run - w) div step"))
        .selectExpr(
            "doc_id",
            "source",
            "CAST(w AS BIGINT) AS weight",
            "CAST((run - w) div step + 1 AS BIGINT) AS first_pick",
            "CAST(run div step - (run - w) div step AS BIGINT) AS n_hits",
        )
    )


_L80_K = 5  # k-anonymity threshold

_L80_SQL = f"""
    WITH leaf AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2, 3
    ),
    parent AS (
      SELECT nation, segment, CAST(sum(n) AS BIGINT) AS parent_n
      FROM leaf GROUP BY 1, 2
    )
    SELECT l.nation, l.segment, l.band, l.n, p.parent_n,
           CAST(CASE WHEN l.n < {_L80_K} THEN 1 ELSE 0 END AS BIGINT)
             AS at_risk,
           CAST(CASE WHEN l.n < {_L80_K} AND p.parent_n >= {_L80_K}
                THEN 1 ELSE 0 END AS BIGINT) AS parent_fixes
    FROM leaf l JOIN parent p USING (nation, segment)
"""


@_register("l80_k_anonymity", _L80_SQL)
def l80_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation,
    market segment, account-balance band) — the privacy gate a
    training-data release runs before shipping records containing
    person-level attributes: every equivalence class of size < k is a
    re-identification risk. The report also answers the FIX question
    via one generalization step: would suppressing the finest
    quasi-identifier (the balance band) lift the class above k?
    (`parent_fixes` — the first rung of the Samarati generalization
    ladder; classes where even the parent is small need suppression.)

    Scale: ONE corpus scan into a map-side-combined hash aggregate
    whose output is bounded by the quasi-identifier domain product,
    not the corpus; the parent level re-aggregates the LEAF table (no
    second scan — generalization-ladder levels are progressively
    smaller rollups of the same counts), and the leaf-parent join is
    bounded x bounded. The same plan audits any k and any ladder depth
    by re-rolling the leaf frame.

    Reference parity: none (the reference has no privacy surface);
    k-anonymity per Sweeney 2002, ladder per Samarati 2001."""
    cu = load_table(spark, sf_dir, "customer")
    leaf = (
        cu.groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("band"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint()  # bounded by the QI domain; feeds both levels
    )
    parent = leaf.groupBy("nation", "segment").agg(
        F.sum("n").cast("long").alias("parent_n")
    )
    return leaf.join(F.broadcast(parent), ["nation", "segment"]).select(
        "nation",
        "segment",
        "band",
        "n",
        "parent_n",
        (F.col("n") < _L80_K).cast("long").alias("at_risk"),
        ((F.col("n") < _L80_K) & (F.col("parent_n") >= _L80_K))
        .cast("long")
        .alias("parent_fixes"),
    )


_L81_B = 32  # documents per training micro-batch

_L81_SQL = f"""
    WITH h AS (
      SELECT doc_id, source,
             CAST('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, h,
             row_number() OVER (ORDER BY h, doc_id) AS rk
      FROM h
    )
    SELECT CAST((rk - 1) // {_L81_B} AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(bit_xor(h) AS BIGINT) AS member_digest
    FROM r GROUP BY 1
"""


@_register("l81_epoch_shuffle", _L81_SQL)
def l81_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle + micro-batch assignment:
    every document gets a seeded 60-bit shuffle key (md5 of
    'epoch1:'||doc_id — change the epoch tag, get an independent
    permutation), the corpus is ranked under (key, doc_id), and rank
    div B is the training batch. The report is one row per batch with
    its size, source diversity, and an order-free membership digest
    (bit_xor of member keys — the l68 recipe), so the driver hash
    pins the EXACT batch assignment, not just the counts. This is the
    data-ordering op every trainer runs per epoch; hash-seeded means
    resumable and reproducible with zero stored state.

    Scale: a global rank is the trap (row_number with no partition =
    one-partition corpus sort). Here the shuffle key's HIGH BITS are
    the segment (order-preserving prefix), so ranking is the
    count-offset segmented scan (operators/prefix.segmented_rank,
    sharing r88/l79's two-level shape): intra-segment row_numbers in
    parallel + a |segments|-row count-offset window riding a
    broadcast. Hash keys are uniform, so segments are balanced by
    construction — no skew salt needed. Two narrow corpus scans (rank
    + offsets), one bounded aggregate.

    Reference parity: none (the reference has no training surface);
    the batch-diversity report generalizes its per-key dashboards."""
    from ..operators.prefix import segmented_rank

    d = (
        load_table(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "source",
            "CAST(conv(substr(md5(concat('epoch1:', CAST(doc_id AS STRING))),"
            " 1, 15), 16, 10) AS BIGINT) AS h",
        )
        .withColumn("seg", F.expr(f"h div {1 << 54}"))
    )
    ranked = segmented_rank(d, "seg", ["h", "doc_id"], "rk")
    return (
        ranked.withColumn("batch_id", F.expr(f"(rk - 1) div {_L81_B}"))
        .groupBy("batch_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.expr("bit_xor(h)").cast("long").alias("member_digest"),
        )
    )


@_register(
    "l82_contamination_radius",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    seeds AS (
      SELECT doc_id FROM documents
      WHERE (doc_id * 2654435761) % 100 >= 90
    ),
    walk(node, dist) AS (
      SELECT doc_id, 0 FROM seeds
      UNION
      SELECT e.b, w.dist + 1
      FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.dist < 3
    )
    SELECT node AS doc_id, CAST(min(dist) AS BIGINT) AS hop_dist
    FROM walk GROUP BY node
    """,
)
def l82_contamination_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive decontamination radius: BFS hop distance (capped at 3)
    from the held-out test split (l17/l26's hash rule, bucket >= 90)
    through the near-dup pair graph. Direct 8-gram overlap (l26) only
    catches documents that share text with the test set VERBATIM; a
    near-duplicate OF a near-duplicate of a test document still leaks
    evaluation signal, so production decontamination drops everything
    within a small graph radius of the held-out set — hop_dist 0 = the
    test docs themselves, 1 = l26-class direct near-dups, 2-3 = the
    transitive closure actually removed. Completes the graph-analytics
    family: components (l20) answer "same cluster?", PageRank (l30)
    "which copy is canonical?", triangles (l55) "is the cluster tight?",
    BFS (l82) "how FAR does influence spread?".

    Engine shape: frontier BFS (operators/dedup.bfs_hops) as a fixed
    driver-side loop — per round ONE equi-join of the previous round's
    frontier against the session-materialized pair table (8-byte ids
    both sides) and one min-distance groupBy; the dist frame is
    localCheckpointed per round because the union references it twice
    (the m08/l30 lineage rule). At 100 TB the frontier frame is
    |reached docs| rows — orders of magnitude under the corpus — and
    the edge side stays partitioned; nothing corpus-sized ever
    broadcasts. The oracle walks the same graph with a recursive CTE
    and takes min(dist), exponentially more path enumeration than the
    frontier loop — which is why the engine side exists."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(100))
    seeds = docs.where(bucket >= 90).select("doc_id")
    dist = DD.bfs_hops(_dup_pairs(spark, sf_dir), seeds, max_hops=3)
    return dist.select(
        F.col("node").alias("doc_id"), F.col("dist").cast("long").alias("hop_dist")
    )


def _l83_sql() -> str:
    r = _L58_ROUNDS
    return _l58_sql_ctes() + f""",
    c0 AS (SELECT doc_id, count(*) AS n_sym FROM t0 GROUP BY 1),
    cf AS (SELECT doc_id, count(*) AS n_bpe FROM t{r} GROUP BY 1)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_sym) AS BIGINT) AS n_sym,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
           CAST((1000000 * sum(n_sym)) // sum(n_bpe) AS BIGINT)
             AS chars_per_tok_ppm,
           CAST((1000000 * (sum(n_sym) - sum(n_bpe))) // sum(n_sym)
                AS BIGINT) AS savings_ppm
    FROM c0 JOIN cf USING (doc_id) JOIN documents USING (doc_id)
    GROUP BY lang
    """


@_register("l83_tokenizer_fertility", _l83_sql())
def l83_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility evaluation per language — the measurement
    that closes the tokenizer family exactly as l75 closed the ANN
    ladder: train (l58) and encode (l60) say WHAT the tokenizer does;
    fertility says whether it serves every language fairly. For each
    lang: document count, total symbols before merging (one per char,
    the l58 t0 table), total tokens after the learned merges, exact
    chars-per-token (x1e6, floor-div) and compression savings ppm. A
    merge table trained on a mixed corpus compresses under-represented
    languages worse — THE standard fairness audit (fertility skew)
    before freezing a production vocabulary, since fertility is
    inference cost per character.

    Scale: reuses the session-cached training artifacts (the
    build/query split — in production the encoded corpus is a table the
    trainer wrote); the eval itself is two per-doc count aggregates
    over (doc_id, pos, tok) frames and an 8-byte equi-join with the
    documents table, map-side combined to |langs| rows. Nothing beyond
    the already-materialized token tables is scanned.

    Reference parity: no reference equivalent (the reference has no
    text pipeline); public methodology (SentencePiece/tokenizer
    fairness literature)."""
    t0, rounds = _l58_trained_rounds(spark, sf_dir)
    t_final = rounds[-1][0]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    c0 = t0.groupBy("doc_id").agg(F.count("*").alias("n_sym"))
    cf = t_final.groupBy("doc_id").agg(F.count("*").alias("n_bpe"))
    return (
        c0.join(cf, "doc_id")
        .join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_sym").cast("long").alias("n_sym"),
            F.sum("n_bpe").cast("long").alias("n_bpe"),
            F.expr(
                "CAST((1000000 * sum(n_sym)) div sum(n_bpe) AS BIGINT)"
            ).alias("chars_per_tok_ppm"),
            F.expr(
                "CAST((1000000 * (sum(n_sym) - sum(n_bpe)))"
                " div sum(n_sym) AS BIGINT)"
            ).alias("savings_ppm"),
        )
    )


_L84_TOPK = 10
_L84_BUCKET = "(doc_id * 2654435761) % 100"

_L84_SQL = f"""
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    tr AS (
      SELECT doc_id, text FROM documents
      WHERE {_L84_BUCKET} < 90 AND trim(text) <> ''
    ),
    te AS (
      SELECT doc_id, text FROM documents
      WHERE {_L84_BUCKET} >= 90 AND trim(text) <> ''
    ),
    tok AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS t
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)),
                           '[^a-z0-9]+'), x -> x <> '') AS ws
        FROM tr
      ), unnest(range(1, len(ws))) AS u(i)
      WHERE len(ws) >= 2
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
    qtok AS (
      SELECT DISTINCT doc_id AS query_id, ws[i] || ' ' || ws[i + 1] AS t
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)),
                           '[^a-z0-9]+'), x -> x <> '') AS ws
        FROM te
      ), unnest(range(1, len(ws))) AS u(i)
      WHERE len(ws) >= 2
    ),
    dfq AS (
      SELECT t, count(*) AS df FROM tf
      WHERE t IN (SELECT DISTINCT t FROM qtok) GROUP BY 1
    ),
    contrib AS (
      SELECT qtok.query_id, tf.doc_id, {_L77_CONTRIB} AS c
      FROM tf
      JOIN qtok USING (t) JOIN dfq USING (t) JOIN dl USING (doc_id)
      CROSS JOIN stats
      WHERE 5 * dfq.df <= stats.n_docs
    ),
    ranked AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sum(c) DESC, doc_id) AS rnk
        FROM contrib GROUP BY query_id, doc_id
      ) WHERE rnk <= {_L84_TOPK}
    ),
    rel AS (
      SELECT id_a AS query_id, id_b AS rel_id FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    relq AS (
      SELECT r.query_id, r.rel_id
      FROM rel r
      JOIN te ON te.doc_id = r.query_id
      JOIN tr ON tr.doc_id = r.rel_id
    ),
    nrel AS (SELECT query_id, count(*) AS n_rel FROM relq GROUP BY 1),
    hits AS (
      SELECT ranked.query_id, min(rnk) AS first_rank,
             count(*) AS hits_at_k
      FROM ranked JOIN relq
        ON ranked.query_id = relq.query_id AND ranked.doc_id = relq.rel_id
      GROUP BY 1
    )
    SELECT nrel.query_id,
           CAST(n_rel AS BIGINT) AS n_rel,
           CAST(coalesce(first_rank, 0) AS BIGINT) AS first_rank,
           CAST(CASE WHEN first_rank IS NULL THEN 0
                     ELSE 1000000 // first_rank END AS BIGINT) AS rr_ppm,
           CAST(coalesce(hits_at_k, 0) AS BIGINT) AS hits_at_k
    FROM nrel LEFT JOIN hits USING (query_id)
"""


@_register("l84_retrieval_eval", _L84_SQL)
def l84_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation for the sparse path — the l75
    measurement story applied to BM25 (l77): every held-out test
    document (the l17/l26/l82 hash split) queries the train-split
    corpus with its distinct word BIGRAMS, and the exact
    blocked-Jaccard near-dup pairs (l02) serve as relevance ground
    truth. Bigram terms, not unigrams: this corpus's unigram
    vocabulary is ~31 words, every one in 75-80% of documents — at
    that df a unigram index is all stopwords (no signal AND the
    postings join is |queries| x |corpus|); bigrams are the smallest
    discriminative unit on templated text, the same reason the dedup
    ground truth itself is n-gram-based. A stop-term cut (df > 20% of
    docs) guards the postings join either way. Per query doc
    with at least one train-side near-dup partner: the partner count,
    the rank of the first partner inside the BM25 top-10 (0 = missed),
    reciprocal rank in exact ppm (1e6 // rank — integer by definition),
    and hits@10. Sparse retrieval SHOULD reconstruct the near-dup
    structure (shared tokens drive both signals); a query row with
    first_rank = 0 is exactly the recall gap LSH-style dedup (l03)
    exists to close.

    Scale: the inverted index (tf) and doc-length table (dl) are the
    l77 probe-path artifacts built over the train split only; only the
    term-TYPE frames (distinct query vocabulary, df table) broadcast —
    the (query_id, term) frame is corpus-proportional (the whole test
    split) and shuffle-joins the postings on t, so nothing
    corpus-sized rides a broadcast; per-query ranking partitions by query_id
    (bounded by the 10% test split); the relevance join is an 8-byte
    equi-join against the session-materialized pair table. Identical
    posture to l77 + l82's consumers — nothing corpus-sized moves that
    the index build didn't already move.

    Reference parity: no reference equivalent; public IR evaluation
    methodology (MRR / hits@k)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(100))
    tr = docs.where(bucket < 90)
    te = docs.where(bucket >= 90)

    def toks(d: DataFrame) -> DataFrame:
        # word BIGRAMS: this corpus's unigram vocabulary is ~31 terms,
        # every one a stopword (df ~75-80%); bigrams are the smallest
        # discriminative unit on templated text — the same reason the
        # dedup ground truth itself is n-gram based
        w = F.expr(
            "filter(split(lower(trim(text)), '[^a-z0-9]+'), x -> x <> '')"
        )
        return (
            d.select("doc_id", w.alias("w"))
            .where(F.size("w") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(w) - 1),"
                        " i -> w[i-1] || ' ' || w[i])"
                    )
                ).alias("t"),
            )
        )

    tf = toks(tr).groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    tf = tf.localCheckpoint()  # feeds dl, dfq, contrib
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    qtok = (
        toks(te)
        .select(F.col("doc_id").alias("query_id"), "t")
        .distinct()
        .localCheckpoint()
    )
    # stop-term pruning (5*df <= n_docs): terms present in over a fifth
    # of the corpus carry near-zero idf but dominate the postings join
    # (every query x every doc) — dropping them up front is the
    # standard WAND-class economy and part of the operator's contract
    # (the oracle applies the identical cut)
    # Broadcast bounds: the two hinted frames here are TERM-TYPE sized
    # (distinct bigram vocabulary — Heaps-law sublinear, never per-row),
    # and `stats` is 1 row. qtok itself (query_id x term rows) is
    # corpus-proportional — 10% of documents times their distinct
    # bigrams — so it must NOT broadcast: at 100x scale that frame is
    # the size of the index itself. It shuffle-joins on t instead
    # (merge-hinted, same posture as the dl join below); the equi-join
    # prunes non-query-term postings identically with or without a
    # broadcast.
    dfq = (
        tf.join(F.broadcast(qtok.select("t").distinct()), "t")
        .groupBy("t")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .where(5 * F.col("df") <= F.col("n_docs"))
    )
    # Per-term-per-doc BM25 contribution c depends only on
    # (tf, df, dl, corpus stats) — never on query_id — so it is computed
    # ONCE per surviving POSTING (index-sized) and only then replicated
    # by the query join (guide §2.3: project before the exchange; §1.2:
    # fix the algorithm before the per-row code). Before, the identical
    # expression (decimal-promoted literals -> BigDecimal per row) ran on
    # the EXPLODED (query x posting) frame, which additionally paid an
    # Exchange+Sort by doc_id for the dl merge join — measured 178 of
    # l84's 184 executor-CPU seconds in that single stage. The dl join
    # now rides the index-sized frame, the exploded join output goes
    # straight into the map-side partial aggregate, and one corpus-sized
    # Exchange disappears. Same expression string, same per-(t,doc)
    # values, same sums — bit-identical output.
    contrib = (
        # broadcast bound: dfq is term-TYPE rows (post-cut vocabulary)
        tf.join(F.broadcast(dfq), "t")
        .join(dl.hint("shuffle_hash"), "doc_id")
        .selectExpr("t", "doc_id", f"{_L77_CONTRIB} AS c")
        .join(qtok.hint("shuffle_hash"), "t")
        .select("query_id", "doc_id", "c")
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    ranked = (
        contrib.groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score_micro"))
        .withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= _L84_TOPK)
        .select("query_id", "doc_id", "rnk")
    )
    pairs = _dup_pairs(spark, sf_dir)
    rel = pairs.select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("rel_id")
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("query_id"), F.col("id_a").alias("rel_id")
        )
    )
    relq = (
        rel.join(
            te.select(F.col("doc_id").alias("query_id")), "query_id"
        ).join(tr.select(F.col("doc_id").alias("rel_id")), "rel_id")
    ).localCheckpoint()
    nrel = relq.groupBy("query_id").agg(F.count("*").alias("n_rel"))
    hits = (
        ranked.join(
            relq,
            ["query_id"],
        )
        .where(F.col("doc_id") == F.col("rel_id"))
        .groupBy("query_id")
        .agg(
            F.min("rnk").alias("first_rank"),
            F.count("*").alias("hits_at_k"),
        )
    )
    return nrel.join(hits, "query_id", "left").select(
        "query_id",
        F.col("n_rel").cast("long").alias("n_rel"),
        F.coalesce("first_rank", F.lit(0)).cast("long").alias("first_rank"),
        F.when(F.col("first_rank").isNull(), F.lit(0))
        .otherwise(F.expr("CAST(1000000 div first_rank AS BIGINT)"))
        .cast("long")
        .alias("rr_ppm"),
        F.coalesce("hits_at_k", F.lit(0)).cast("long").alias("hits_at_k"),
    )


_L85_BUDGET = 300
_L85_SOURCE_CAP = 2
_L85_CUT = 50

# The l77 score pipeline ends at the `scores` CTE; reuse it verbatim.
_L85_SQL = _L77_SQL[: _L77_SQL.index("    SELECT CAST(query_id")] + f"""
    , cand AS (
      SELECT s.query_id, s.doc_id, s.score_micro, d.source,
             len(string_split_regex(trim(d.text), '\\s+')) AS n_tokens,
             row_number() OVER (PARTITION BY s.query_id
                                ORDER BY s.score_micro DESC, s.doc_id)
               AS rnk
      FROM scores s JOIN documents d USING (doc_id)
    ),
    div AS (
      SELECT *, row_number() OVER (PARTITION BY query_id, source
                                   ORDER BY rnk) AS sr
      FROM cand WHERE rnk <= {_L85_CUT}
    ),
    ctx AS (
      SELECT query_id, doc_id, source, n_tokens,
             row_number() OVER (PARTITION BY query_id ORDER BY rnk) AS pos,
             sum(n_tokens) OVER (PARTITION BY query_id ORDER BY rnk)
               AS cum_tokens
      FROM div WHERE sr <= {_L85_SOURCE_CAP}
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(pos AS BIGINT) AS pos,
           doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ctx WHERE cum_tokens <= {_L85_BUDGET}
"""


@_register("l85_context_assembly", _L85_SQL)
def l85_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly — the serving-path step between retrieval
    (l77) and the model call: per query, take the BM25 ranking, cut to
    the top-50 candidates, enforce a diversity cap (at most 2 docs
    per source — near-identical boilerplate from one crawl source
    crowds out everything else), then pack the survivors in rank order
    under a 300-token context budget (prefix rule: a document enters
    iff the running token total stays within budget). Emits the
    assembled context rows (position, doc, source, token cost,
    cumulative) — exactly what gets concatenated into the prompt.

    Scale: scores come from the shared l77 probe pipeline (inverted
    index + broadcast queries); everything after the rank cutoff runs
    on <= |queries| x 50 rows — three windows partitioned by query_id
    over a frame whose size the CUTOFF (not the corpus) bounds. The
    cutoff-then-assemble order is the production shape: assembly rules
    never touch the full posting lists.

    Reference parity: no reference equivalent; public RAG-pipeline
    methodology (diversity caps + token budgeting)."""
    from pyspark.sql.window import Window

    scores = _l77_scores(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    cand = (
        scores.join(docs, "doc_id")
        .withColumn("rnk", F.row_number().over(wq))
        .where(F.col("rnk") <= _L85_CUT)
    )
    ws = Window.partitionBy("query_id", "source").orderBy("rnk")
    kept = cand.withColumn("sr", F.row_number().over(ws)).where(
        F.col("sr") <= _L85_SOURCE_CAP
    )
    wk = Window.partitionBy("query_id").orderBy("rnk")
    ctx = kept.select(
        "query_id",
        "doc_id",
        "source",
        "n_tokens",
        F.row_number().over(wk).alias("pos"),
        F.sum("n_tokens")
        .over(wk.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_tokens"),
    )
    return ctx.where(F.col("cum_tokens") <= _L85_BUDGET).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("pos").cast("long").alias("pos"),
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


_L86_SQL = r"""
    WITH d AS (
      SELECT doc_id, source, lang,
             length(text) AS chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
               AS toks,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM documents
    ),
    hc AS (SELECT h, count(*) AS c FROM d GROUP BY 1),
    flagged AS (
      SELECT d.*, (hc.c > 1) AS is_dup FROM d JOIN hc USING (h)
    ),
    lc AS (
      SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2
    ),
    top AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang ASC) AS rk
        FROM lc
      ) WHERE rk = 1
    )
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS n_chars,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           max(t.top_lang) AS top_lang,
           CAST(count(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dup_docs,
           CAST((1000000 * count(*) FILTER (WHERE is_dup)) // count(*)
                AS BIGINT) AS dup_ppm
    FROM flagged f JOIN top t USING (source)
    GROUP BY f.source
"""


@_register("l86_dataset_card", _L86_SQL)
def l86_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card generator — the per-source documentation row the
    'Datasheets for Datasets' practice requires before a corpus ships:
    document / character / whitespace-token totals, language coverage
    (distinct langs + dominant lang, ties to the alphabetically first),
    and the corpus-wide exact-duplicate exposure (documents whose l01
    normalized text appears more than once ANYWHERE — cross-source
    duplication counts against every source holding a copy) with its
    ppm rate. One row per source; the judge of whether a source earns
    its storage.

    Scale: ONE corpus scan produces the per-doc stat row + normalized
    md5; the duplicate flag is a self-equi-join on that 16-byte hash
    (group counts map-side combined, bounded by distinct texts); the
    language and final aggregates collapse to |sources| x |langs| rows.
    No text column ever crosses a shuffle — only hashes and int stats.

    Reference parity: no reference equivalent; public dataset-
    documentation methodology (Gebru et al., Datasheets for
    Datasets)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "lang",
        F.length("text").alias("chars"),
        F.when(F.trim("text") == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
        .alias("toks"),
        F.md5(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
        ).alias("h"),
    ).localCheckpoint()  # feeds the dup join, lang counts AND the card
    hc = d.groupBy("h").agg(F.count("*").alias("c"))
    flagged = d.join(hc, "h").withColumn("is_dup", F.col("c") > 1)
    lc = d.groupBy("source", "lang").agg(F.count("*").alias("c"))
    top = (
        lc.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.desc("c"), F.asc("lang")
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        flagged.join(F.broadcast(top), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("n_chars"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.max("top_lang").alias("top_lang"),
            F.expr("count_if(is_dup)").cast("long").alias("n_dup_docs"),
            F.expr(
                "CAST((1000000 * count_if(is_dup)) div count(*) AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


_L87_SQL = f"""
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    src AS (SELECT doc_id, source FROM documents),
    szs AS (SELECT source, count(*) AS n_docs FROM src GROUP BY 1),
    x AS (
      SELECT least(a.source, b.source) AS src_a,
             greatest(a.source, b.source) AS src_b,
             count(*) AS n_pairs,
             count(DISTINCT CASE WHEN a.source <= b.source
                                 THEN p.id_a ELSE p.id_b END) AS docs_a,
             count(DISTINCT CASE WHEN a.source <= b.source
                                 THEN p.id_b ELSE p.id_a END) AS docs_b
      FROM pairs p
      JOIN src a ON a.doc_id = p.id_a
      JOIN src b ON b.doc_id = p.id_b
      WHERE a.source <> b.source
      GROUP BY 1, 2
    )
    SELECT x.src_a, x.src_b,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(docs_a AS BIGINT) AS docs_a,
           CAST(docs_b AS BIGINT) AS docs_b,
           CAST((1000000 * docs_a) // sa.n_docs AS BIGINT)
             AS overlap_a_ppm,
           CAST((1000000 * docs_b) // sb.n_docs AS BIGINT)
             AS overlap_b_ppm
    FROM x
    JOIN szs sa ON sa.source = x.src_a
    JOIN szs sb ON sb.source = x.src_b
"""


@_register("l87_source_overlap_matrix", _L87_SQL)
def l87_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source provenance overlap: for every unordered source pair
    with at least one cross-source near-duplicate (the exact l02 pair
    graph), the pair count, how many DISTINCT documents of each side
    participate, and each side's exposure as a ppm of its corpus — the
    'is source B just a re-crawl of source A?' audit that decides
    which source to drop before paying for both. Complements l49
    (train/test contamination — split axis) and l86 (per-source dup
    totals — no counterparty): this names WHO overlaps WHOM.

    Scale: two 8-byte equi-joins of the session-materialized pair
    table against the (doc_id, source) projection, then a hash
    aggregate bounded by |source pairs|; the distinct-doc counts use
    the standard two-phase count-distinct rewrite on the same bounded
    key space. least/greatest canonicalize the unordered pair so both
    engines aggregate identical keys.

    Reference parity: no reference equivalent; public data-governance
    methodology."""
    pairs = _dup_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    szs = src.groupBy("source").agg(F.count("*").alias("n_docs"))
    a = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_of_a")
    )
    b = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_of_b")
    )
    joined = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .where(F.col("src_of_a") != F.col("src_of_b"))
        .select(
            F.least("src_of_a", "src_of_b").alias("src_a"),
            F.greatest("src_of_a", "src_of_b").alias("src_b"),
            F.when(
                F.col("src_of_a") <= F.col("src_of_b"), F.col("id_a")
            )
            .otherwise(F.col("id_b"))
            .alias("doc_of_a"),
            F.when(
                F.col("src_of_a") <= F.col("src_of_b"), F.col("id_b")
            )
            .otherwise(F.col("id_a"))
            .alias("doc_of_b"),
        )
    )
    x = joined.groupBy("src_a", "src_b").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_of_a").alias("docs_a"),
        F.countDistinct("doc_of_b").alias("docs_b"),
    )
    sa = szs.select(
        F.col("source").alias("src_a"), F.col("n_docs").alias("na")
    )
    sb = szs.select(
        F.col("source").alias("src_b"), F.col("n_docs").alias("nb")
    )
    return (
        x.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("docs_a").cast("long").alias("docs_a"),
            F.col("docs_b").cast("long").alias("docs_b"),
            F.expr("CAST((1000000 * docs_a) div na AS BIGINT)").alias(
                "overlap_a_ppm"
            ),
            F.expr("CAST((1000000 * docs_b) div nb AS BIGINT)").alias(
                "overlap_b_ppm"
            ),
        )
    )


_L88_BATCH = 50

_L88_SQL = f"""
    WITH tok AS (
      SELECT doc_id // {_L88_BATCH} AS b, t
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS t
        FROM documents WHERE trim(text) <> ''
      ) WHERE t <> ''
    ),
    totals AS (
      SELECT b, count(*) AS n_tokens FROM tok GROUP BY 1
    ),
    first_seen AS (
      SELECT t, min(b) AS fb FROM tok GROUP BY 1
    ),
    news AS (
      SELECT fb AS b, count(*) AS new_types FROM first_seen GROUP BY 1
    )
    SELECT CAST(t.b AS BIGINT) AS batch_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(sum(t.n_tokens) OVER (ORDER BY t.b) AS BIGINT)
             AS cum_tokens,
           CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
           CAST(sum(coalesce(n.new_types, 0)) OVER (ORDER BY t.b)
                AS BIGINT) AS vocab_size
    FROM totals t LEFT JOIN news n ON n.b = t.b
"""


@_register("l88_vocab_growth", _L88_SQL)
def l88_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: the corpus in doc-id batches
    of 50, each reporting its token volume, the cumulative token count,
    how many NEVER-BEFORE-SEEN word types it introduced, and the
    running vocabulary size — the curve that sizes a tokenizer
    vocabulary (where does new-type yield flatten?) and flags corpus
    anomalies (a batch minting too many new types is boilerplate or
    encoding garbage). First-seen attribution is exact: a type belongs
    to the min batch containing it.

    Scale: ONE corpus scan into (batch, token) pairs; the first-seen
    table is a min-groupBy keyed by token (map-side combined, bounded
    by vocabulary); everything after runs on the |batches|-row frame
    (the r88/m28 bounded-series posture for the cumulative windows).
    Token text crosses the shuffle once as the grouping key of the
    first-seen aggregate — at 100 TB swap the key for xxhash64(token)
    exactly as l41 does (kept textual here because the oracle groups
    the same strings).

    Reference parity: no reference equivalent; public corpus-statistics
    methodology (Heaps' law)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    tok = docs.select(
        (F.col("doc_id") / _L88_BATCH).cast("long").alias("b"),
        F.explode(
            F.split(F.lower(F.trim("text")), "[^a-z0-9]+")
        ).alias("t"),
    ).filter(F.col("t") != "")
    totals = tok.groupBy("b").agg(F.count("*").alias("n_tokens"))
    news = (
        tok.groupBy("t")
        .agg(F.min("b").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("new_types"))
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        totals.join(news, "b", "left")
        .select(
            "b",
            "n_tokens",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .select(
            F.col("b").cast("long").alias("batch_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.col("new_types").cast("long").alias("new_types"),
            F.sum("new_types").over(w).cast("long").alias("vocab_size"),
        )
        .select(
            "batch_id", "n_tokens", "cum_tokens", "new_types", "vocab_size"
        )
    )


_L89_SQL = r"""
    WITH s AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents WHERE trim(text) <> ''
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
      FROM s, unnest(range(1, len(w) - 6)) AS t(i)
      WHERE len(w) >= 8
    ),
    df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE df >= 2) AS BIGINT) AS n_shared,
           CAST((1000000 * count(*) FILTER (WHERE df >= 2)) // count(*)
                AS BIGINT) AS shared_ppm
    FROM g JOIN df USING (gram)
    GROUP BY doc_id
"""


@_register("l89_memorization_profile", _L89_SQL)
def l89_memorization_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate/memorization profile: for every document
    with at least one word 8-gram, how many of its DISTINCT 8-grams
    also appear in at least one other document, and that fraction in
    exact ppm — the per-document form of the corpus-level signals
    (l61 finds the shared passages, l26 flags test overlap; this
    scores each document's exposure). The training-data reading: a
    document that is mostly shared 8-grams contributes almost nothing
    novel and is the first candidate for down-weighting; the
    memorization reading: these are exactly the spans a model can
    emit verbatim from multiple sources.

    Scale: one scan explodes to DISTINCT (doc, gram-hash) pairs
    (engine side shuffles xxhash64 of the gram, never text — the l26
    argument; the oracle groups the gram strings, identical absent
    collisions); gram doc-frequency is a map-side-combined count on
    the 8-byte key; the join back is the same equi-key. Bounded by
    total distinct (doc, gram) pairs — the same frame l61/l64 already
    materialize in production as the passage index.

    Reference parity: no reference equivalent; public dedup/memorization
    methodology (Lee et al. 2022, Carlini et al. 2022)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    w = F.split(F.trim("text"), r"\s+")
    g = (
        docs.select("doc_id", w.alias("w"))
        .where(F.size("w") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 7),"
                    " i -> xxhash64(concat_ws(' ', slice(w, i, 8))))"
                )
            ).alias("gh"),
        )
        .distinct()
        .localCheckpoint()  # feeds df AND the join back
    )
    df = g.groupBy("gh").agg(F.count("*").alias("df"))
    return (
        g.join(df, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.expr("count_if(df >= 2)").cast("long").alias("n_shared"),
            F.expr(
                "CAST((1000000 * count_if(df >= 2)) div count(*) AS BIGINT)"
            ).alias("shared_ppm"),
        )
    )


# quadrant pixel-sum closed form: sum over the tile's (x, y) box of
# (doc_id*31 + (y*w + x)*7) % 256, floor-divided by the tile area
_L90_TILE = (
    "list_reduce(list_transform("
    "list_filter(range(0, w * h),"
    " j -> (j % w) {xc} w // 2 AND (j // w) {yc} h // 2),"
    " j -> (doc_id * 31 + j * 7) % 256), (a, b) -> a + b)"
)


def _l90_tile_sql(xc: str, yc: str, area: str) -> str:
    return (
        "CAST("
        + _L90_TILE.format(xc=xc, yc=yc)
        + f" // ({area}) AS BIGINT)"
    )


_L90_SQL = f"""
    WITH g AS (
      SELECT doc_id,
             4 + n_chars % 13 AS w,
             3 + n_chars % 7 AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(list_reduce(list_transform(range(0, w * h),
                  j -> (doc_id * 31 + j * 7) % 256), (a, b) -> a + b)
                // (w * h) AS BIGINT) AS mean_all,
           {_l90_tile_sql('<', '<', '(w // 2) * (h // 2)')} AS mean_tl,
           {_l90_tile_sql('>=', '<', '(w - w // 2) * (h // 2)')} AS mean_tr,
           {_l90_tile_sql('<', '>=', '(w // 2) * (h - h // 2)')} AS mean_bl,
           {_l90_tile_sql('>=', '>=', '(w - w // 2) * (h - h // 2)')} AS mean_br
    FROM g
"""


@_register("l90_image_tile_features", _L90_SQL)
def l90_image_tile_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image feature extraction — the decode-then-pool step between
    the codecs (l52/l73) and the similarity surface: each document's
    genuine 24bpp BMP decodes to its full pixel plane, which pools to
    the 2x2 tile-mean vector (overall + per-quadrant integer means,
    floor division) — the coarse spatial signature multimodal pipelines
    bucket or embed before any learned model. The oracle replays every
    tile mean as a closed form of (doc_id, n_chars), so a row-order
    bug, a quadrant-boundary slip (left/top tiles take the floor half),
    or an area miscount flips the driver's value hash.

    Scale: identical posture to l52/l73 — one scan, one mapInPandas,
    zero exchanges; pixels live and die inside Arrow batches, and only
    the 5-int feature vector ever leaves the executor. That reduction
    (payload -> fixed-width features at the scan) is exactly what makes
    downstream image dedup joinable at 100 TB.

    Reference parity: no reference equivalent; public multimodal
    feature-extraction methodology."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.bmp_tile_features(docs)


_L91_SQL = """
    WITH g AS (
      SELECT doc_id, 100 + n_chars % 50 AS n FROM documents
    )
    SELECT doc_id,
           CAST((n + 1) // 2 AS BIGINT) AS n_samples,
           CAST(4000 AS BIGINT) AS framerate,
           CAST(44 + 2 * ((n + 1) // 2) AS BIGINT) AS n_bytes,
           CAST(list_reduce(list_transform(range(0, n // 2),
                  k -> ((doc_id * 17 + (2 * k) * 11) % 65536
                        + (doc_id * 17 + (2 * k + 1) * 11) % 65536) // 2
                       - 32768),
                  (a, b) -> a + b)
                + CASE WHEN n % 2 = 1
                       THEN (doc_id * 17 + (n - 1) * 11) % 65536 - 32768
                       ELSE 0 END
                AS BIGINT) AS sample_sum
    FROM g
"""


@_register("l91_wav_decimate_roundtrip", _L91_SQL)
def l91_wav_decimate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resampling — l73's four-pass recipe for sound: each
    document's genuine mono 16-bit PCM WAV decodes, 2:1-decimates
    (consecutive pairs average in the unsigned code domain — floor on
    nonnegative operands, so Python, Spark, and DuckDB agree sample for
    sample; an odd tail passes through), re-encodes as a real WAV at
    half the frame rate, and decodes AGAIN. The oracle replays the
    output length, rate, byte size, and exact sample sum as closed
    forms of (doc_id, n_chars), so a header slip, a pair-boundary bug,
    or a signed-floor mismatch flips the driver's value hash.

    Scale: one scan, one mapInPandas, zero exchanges — audio frames
    live and die inside Arrow batches (the l52/l73 posture); only the
    4-int summary leaves the executor.

    Reference parity: no reference equivalent; public audio-pipeline
    resampling methodology."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.wav_decimate_features(docs)


_L92_SQL = r"""
    WITH b AS (
      SELECT doc_id, coalesce(text, '') AS t,
             length(coalesce(text, '')) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, t, n, n // 3 AS a, (2 * n) // 3 AS b_
      FROM b
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars_exact,
           CAST(CASE WHEN n >= 3 THEN a ELSE 0 END AS BIGINT) AS split_a,
           CAST(CASE WHEN n >= 3 THEN b_ ELSE 0 END AS BIGINT) AS split_b,
           CASE WHEN n >= 3 THEN 'psm' ELSE 'raw' END AS mode,
           CASE WHEN n >= 3 THEN
             md5('<PRE>' || substring(t, 1, a)
                 || '<SUF>' || substring(t, b_ + 1, n - b_)
                 || '<MID>' || substring(t, a + 1, b_ - a))
           ELSE md5(t) END AS fim_md5
    FROM s
"""


@_register("l92_fim_transform", _L92_SQL)
def l92_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022, the
    PSM — prefix/suffix/middle — reordering): every document splits at
    the deterministic character thirds (a = n//3, b = 2n//3) and
    re-serializes as <PRE>prefix<SUF>suffix<MID>middle, teaching an
    autoregressive model to infill; documents under 3 characters pass
    through as mode='raw'. The driver hash checks the md5 of each
    transformed document, pinning the exact split arithmetic and
    reassembly order on BOTH engines (substring is 1-based and
    character-counted on each, so multi-byte text splits identically).

    Scale: embarrassingly parallel row-local string arithmetic in
    whole-stage codegen — one scan, no shuffle, no Python; only the
    16-byte digest and split geometry leave the scan.

    Reference parity: no reference equivalent; public FIM-objective
    data-prep methodology."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    b = docs.select(
        "doc_id", t.alias("t"), F.length(t).alias("n")
    ).withColumn("a", F.expr("n div 3")).withColumn(
        "b_", F.expr("(2 * n) div 3")
    )
    is_psm = F.col("n") >= 3
    fim = F.concat(
        F.lit("<PRE>"),
        F.expr("substring(t, 1, a)"),
        F.lit("<SUF>"),
        F.expr("substring(t, b_ + 1, n - b_)"),
        F.lit("<MID>"),
        F.expr("substring(t, a + 1, b_ - a)"),
    )
    return b.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars_exact"),
        F.when(is_psm, F.col("a")).otherwise(F.lit(0))
        .cast("long")
        .alias("split_a"),
        F.when(is_psm, F.col("b_")).otherwise(F.lit(0))
        .cast("long")
        .alias("split_b"),
        F.when(is_psm, F.lit("psm")).otherwise(F.lit("raw")).alias("mode"),
        F.when(is_psm, F.md5(fim)).otherwise(F.md5("t")).alias("fim_md5"),
    )


_L93_W = 128  # pretraining context window, in whitespace tokens (+1 EOS)

_L93_SQL = rf"""
    WITH tc AS (
      SELECT doc_id,
             CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
               + 1 AS sz
      FROM documents
    ),
    o AS (
      SELECT doc_id, sz,
             CAST(sum(sz) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - sz AS BIGINT) AS st
      FROM tc
    ),
    spans AS (
      SELECT doc_id, sz, st,
             unnest(range(st // {_L93_W}, (st + sz - 1) // {_L93_W} + 1))
               AS w
      FROM o
    )
    SELECT CAST(w AS BIGINT) AS window_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(st + sz, (w + 1) * {_L93_W})
                    - greatest(st, w * {_L93_W})) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE st >= w * {_L93_W}) AS BIGINT)
             AS n_starts,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM spans
    GROUP BY w
"""


@_register("l93_packed_windows", _L93_SQL)
def l93_packed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document packed pretraining windows — the OTHER packing
    (l37 bins whole documents first-fit; pretraining actually
    CONCATENATES the corpus with an EOS after every document and slices
    fixed windows, letting documents straddle boundaries): documents in
    doc_id order form one token stream (whitespace tokens + 1 EOS
    each); each 128-token window reports how many documents it touches,
    its token fill (128 everywhere but the tail), how many documents
    START inside it, and its first/last doc — the attention-mask /
    document-boundary bookkeeping a packed-pretraining loader needs per
    window.

    Scale: the global token offsets are the two-level segmented scan
    (operators/prefix, seg = doc_id div 64 high bits — NO unpartitioned
    corpus window); each document explodes to only the windows it
    touches (size/W + 1 rows), and the per-window aggregate map-side
    combines. The oracle keeps DuckDB's single cumulative window (fine
    single-node; the lowering is the distributed form of the same
    arithmetic).

    Reference parity: no reference equivalent; public packed-
    pretraining data-loader methodology."""
    from ..operators.prefix import segmented_running_sum

    docs = load_table(spark, sf_dir, "documents")
    t = F.trim(F.coalesce(F.col("text"), F.lit("")))
    tc = docs.select(
        "doc_id",
        (
            F.when(t == "", F.lit(0)).otherwise(
                F.size(F.split(t, r"\s+"))
            )
            + 1
        ).alias("sz"),
    )
    seg = tc.withColumn("_seg", F.expr("doc_id div 64"))
    o = segmented_running_sum(seg, "_seg", "doc_id", "sz", "run")
    o = o.withColumn("st", F.col("run") - F.col("sz"))
    w = _L93_W
    spans = o.select(
        "doc_id",
        "sz",
        "st",
        F.explode(
            F.sequence(
                F.expr(f"st div {w}"), F.expr(f"(st + sz - 1) div {w}")
            )
        ).alias("w"),
    )
    return spans.groupBy("w").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.least(F.col("st") + F.col("sz"), (F.col("w") + 1) * w)
            - F.greatest(F.col("st"), F.col("w") * w)
        )
        .cast("long")
        .alias("n_tokens"),
        F.expr(f"count_if(st >= w * {w})").cast("long").alias("n_starts"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    ).select(
        F.col("w").cast("long").alias("window_id"),
        "n_docs",
        "n_tokens",
        "n_starts",
        "first_doc",
        "last_doc",
    )


# ln(rank)/ln(freq) in micro — ONE shared float-op sequence per vocab row
# (the m23 cell discipline), so the regression inputs are exact BIGINTs
_L94_X = "CAST(round(ln(rank * 1.0) * 1000000.0, 0) AS BIGINT)"
_L94_Y = "CAST(round(ln(freq * 1.0) * 1000000.0, 0) AS BIGINT)"
# slope/intercept from exact moment sums — one shared expression each
# every moment converts to DOUBLE up front (CAST is textual on both
# engines, so decimal-vs-hugeint sums land on the identical double) and
# the whole formula is one shared IEEE sequence; y is ALREADY micro, so
# the intercept needs no further scaling
_L94_D = (
    "CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,"
    " CAST(sy AS DOUBLE) AS dsy, CAST(sxx AS DOUBLE) AS dsxx,"
    " CAST(sxy AS DOUBLE) AS dsxy"
)
_L94_SLOPE = (
    "CAST(round((dn * dsxy - dsx * dsy) * 1000000.0"
    " / (dn * dsxx - dsx * dsx), 0) AS BIGINT)"
)
_L94_INTERCEPT = (
    "CAST(round((dsy - ((dn * dsxy - dsx * dsy)"
    " / (dn * dsxx - dsx * dsx)) * dsx) / dn, 0) AS BIGINT)"
)

_L94_SQL = rf"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
                    '[^a-z0-9]+'), x -> x <> '')) AS t
      FROM documents WHERE trim(coalesce(text, '')) <> ''
    ),
    vocab AS (SELECT t, count(*) AS freq FROM tok GROUP BY 1),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, t ASC) AS rank
      FROM vocab
    ),
    xy AS (
      SELECT {_L94_X} AS x, {_L94_Y} AS y FROM ranked
    ),
    mom AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM xy
    ),
    d AS (SELECT n, {_L94_D} FROM mom)
    SELECT CAST(n AS BIGINT) AS n_types,
           {_L94_SLOPE} AS slope_micro,
           {_L94_INTERCEPT} AS intercept_micro
    FROM d
"""


@_register("l94_zipf_slope", _L94_SQL)
def l94_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope and intercept
    of ln(frequency) against ln(rank) over the full rank-frequency
    table — the companion diagnostic to the Heaps curve (l88): natural
    text sits near slope -1; templated or machine-generated corpora
    (like this one) flatten, and a corpus whose slope MOVES between
    ingests has changed character. Each vocab row's (ln rank, ln freq)
    is one shared float-op sequence rounded once to micro (the m23
    cell discipline); the moments accumulate as exact integers
    (DECIMAL(38) on Spark — micro squares times vocab size pass int64),
    and slope/intercept are one shared expression each over those
    moments, so the driver hash pins the whole regression.

    Scale: one corpus scan map-side combines to the vocabulary; the
    rank window runs over that vocabulary-bounded frame (Heaps-law
    sublinear — the same bound l88/l32 already rely on), and the
    regression is a single moment aggregate over it.

    Reference parity: no reference equivalent; public quantitative-
    linguistics methodology (Zipf 1949)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    t = F.trim(F.coalesce(F.col("text"), F.lit("")))
    tok = (
        docs.where(t != "")
        .select(
            F.explode(
                F.expr(
                    "filter(split(lower(trim(text)), '[^a-z0-9]+'),"
                    " x -> x <> '')"
                )
            ).alias("t")
        )
    )
    vocab = tok.groupBy("t").agg(F.count("*").alias("freq"))
    # rank window over the vocabulary-bounded frame
    ranked = vocab.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("t"))),
    )
    xy = ranked.selectExpr(f"{_L94_X} AS x", f"{_L94_Y} AS y")
    mom = xy.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
        ).alias("sxx"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * F.col("y").cast("decimal(38,0)")
        ).alias("sxy"),
    )
    d = mom.selectExpr("n", *_L94_D.split(", "))
    return d.selectExpr(
        "CAST(n AS BIGINT) AS n_types",
        f"{_L94_SLOPE} AS slope_micro",
        f"{_L94_INTERCEPT} AS intercept_micro",
    )


_L95_SHARDS = 16

_L95_SQL = f"""
    WITH a AS (
      SELECT doc_id, source,
             CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_L95_SHARDS} AS shard
      FROM documents
    ),
    per AS (
      SELECT shard, count(*) AS n_docs, sum(n_bytes) AS bytes,
             count(DISTINCT source) AS n_sources
      FROM a GROUP BY 1
    ),
    tot AS (SELECT sum(bytes) AS tb, count(*) AS ns FROM per)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(bytes AS BIGINT) AS n_bytes,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST((1000000 * bytes * ns) // tb AS BIGINT) AS load_ppm
    FROM per CROSS JOIN tot
"""


@_register("l95_shard_plan", _L95_SQL)
def l95_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance audit: every
    document routes to one of 16 shards by the first 60 bits of
    md5(doc_id) (content-independent, so re-ingesting the same corpus
    reproduces the same shards — the property resumable data loaders
    need), and the report grades the plan: per-shard doc/byte totals,
    source coverage, and load in ppm of the perfectly balanced share
    (1e6 = exactly even; the max row is the straggler a data-loader
    epoch waits for).

    Scale: one scan map-side combines to 16 shard rows; the audit
    arithmetic runs on those. The md5-prefix trick is the engine's
    standard portable hash (l17's split recipe), so shard routing
    matches on any engine that can md5 — including the DuckDB oracle,
    byte for byte.

    Reference parity: no reference equivalent; public dataset-sharding
    practice."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.selectExpr(
        "doc_id",
        "source",
        # octet_length == DuckDB strlen (BYTES; Spark length() counts
        # characters and would diverge on multi-byte text)
        "CAST(octet_length(coalesce(text, '')) AS BIGINT) AS n_bytes",
        f"conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        f" % {_L95_SHARDS} AS shard",
    )
    per = a.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("bytes"),
        F.countDistinct("source").alias("n_sources"),
    )
    per = per.localCheckpoint()  # 16 rows
    tot = per.agg(F.sum("bytes").alias("tb"), F.count("*").alias("ns"))
    # broadcast bound: tot is 1 row
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("bytes").cast("long").alias("n_bytes"),
        F.col("n_sources").cast("long").alias("n_sources"),
        F.expr(
            "CAST((1000000 * bytes * ns) div tb AS BIGINT)"
        ).alias("load_ppm"),
    )


_L96_MOD = 20  # deterministic ~5% evaluation sample: the truth
# side is all-pairs BY DEFINITION, so the sample bounds its cost
# (~250 docs -> ~31k pairs at sf0.1; 20% measured 24.6 s in bench)

# the l43 pipeline scoped to the evaluation sample: banding is per-doc,
# so pairs with BOTH ends in the sample are generated identically whether
# the rest of the corpus is banded or not — and not banding it makes the
# eval sample-bounded end to end
_L43_SAMPLED_SQL = _L43_SQL.replace(
    "FROM documents WHERE trim(text) <> ''",
    "FROM documents WHERE trim(text) <> ''"
    " AND CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
    "      AS BIGINT) % 20 = 0",
)

_L96_SQL = rf"""
    WITH docs_s AS (
      SELECT doc_id, trim(text) AS t FROM documents
      WHERE trim(coalesce(text, '')) <> ''
        AND CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % {_L96_MOD} = 0
    ),
    shs AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in range(1, greatest(len(w)-2, 1)+1)])
               AS sh
      FROM (SELECT doc_id, string_split_regex(t, '\s+') AS w FROM docs_s)
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM shs a JOIN shs b ON a.doc_id < b.doc_id
      WHERE 10 * len(list_intersect(a.sh, b.sh))
            >= 7 * (len(a.sh) + len(b.sh)
                    - len(list_intersect(a.sh, b.sh)))
    ),
    lsh AS (
      SELECT id_a, id_b FROM ({_L43_SAMPLED_SQL})
    ),
    hit AS (
      SELECT count(*) AS n_hit FROM lsh JOIN truth USING (id_a, id_b)
    )
    SELECT CAST((SELECT count(*) FROM docs_s) AS BIGINT) AS sample_docs,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(CASE WHEN (SELECT count(*) FROM truth) > 0
                THEN (1000000 * n_hit) // (SELECT count(*) FROM truth) END
                AS BIGINT) AS recall_ppm,
           CAST(CASE WHEN (SELECT count(*) FROM lsh) > 0
                THEN (1000000 * n_hit) // (SELECT count(*) FROM lsh) END
                AS BIGINT) AS precision_ppm
    FROM hit
"""


@_register("l96_lsh_dedup_eval", _L96_SQL)
def l96_lsh_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation — l75's measurement story applied to the
    near-dup pipeline itself: on a deterministic ~5% document sample
    (md5 split, the l17 recipe), compute the EXHAUSTIVE all-pairs
    3-gram-Jaccard >= 0.7 ground truth (multiply-first integer
    comparison, no float threshold), intersect it with what the
    SQL-replayable MinHash-LSH family (l43) recovered, and report
    recall and precision in ppm. Recall < 1e6 quantifies exactly the
    banding misses LSH trades for its sub-quadratic cost; precision
    stays ~1e6 because candidate verification is exact. This is the
    number a data team checks before trusting l03/l43's output as the
    dedup ground truth for anything else.

    Scale: ground truth is quadratic BY DEFINITION (that's why it runs
    on a bounded sample — fixed-size at any corpus scale, the l75/AQP
    posture); the sample's pair join broadcasts the sampled shingle
    frame. The LSH side reuses the production banded pipeline and two
    semi-joins restrict it to the sample.

    Reference parity: no reference equivalent; public LSH-evaluation
    methodology (recall under banding)."""
    from ..operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents")
    t = F.trim(F.coalesce(F.col("text"), F.lit("")))
    sample = docs.where(
        (t != "")
        & (
            F.expr(
                "conv(substring(md5(CAST(doc_id AS STRING)), 1, 15),"
                f" 16, 10) % {_L96_MOD}"
            )
            == 0
        )
    ).select("doc_id", "text")
    shs = sample.select(
        "doc_id", DD.shingles(F.col("text"), 3).alias("sh")
    ).localCheckpoint()  # sample-bounded; feeds both sides of the pair join
    a = shs.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sha")
    )
    b = shs.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("shb")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    # broadcast bound: b is the fixed-size evaluation sample
    truth = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .where(10 * inter >= 7 * union)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    # band only the sample: per-doc signatures mean sample-internal
    # candidate pairs are identical with or without the rest of the
    # corpus in the index — the whole eval stays sample-bounded
    lsh = (
        DD.minhash_pairs_polyhash(sample, threshold=0.7)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    hit = lsh.join(truth, ["id_a", "id_b"]).agg(
        F.count("*").alias("n_hit")
    )
    counts = (
        sample.agg(F.count("*").alias("sample_docs"))
        .crossJoin(F.broadcast(truth.agg(F.count("*").alias("n_true"))))
        .crossJoin(F.broadcast(lsh.agg(F.count("*").alias("n_lsh"))))
        .crossJoin(F.broadcast(hit))
    )
    return counts.selectExpr(
        "CAST(sample_docs AS BIGINT) AS sample_docs",
        "CAST(n_true AS BIGINT) AS n_true",
        "CAST(n_lsh AS BIGINT) AS n_lsh",
        "CAST(n_hit AS BIGINT) AS n_hit",
        "CAST(CASE WHEN n_true > 0 THEN (1000000 * n_hit) div n_true END"
        " AS BIGINT) AS recall_ppm",
        "CAST(CASE WHEN n_lsh > 0 THEN (1000000 * n_hit) div n_lsh END"
        " AS BIGINT) AS precision_ppm",
    )


# reconstructed-int8 cosine, the l40 quantization rule applied inside the
# l75 ranking recipe; rc = reconstructed array column name on each side
def _l97_cos(a: str, q: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, 65), "
        f"i -> {a}[i] * {q}[i]), (x, y) -> x + y)"
        f" / (sqrt(list_reduce(list_transform({a}, "
        f"x -> x * x), (x, y) -> x + y))"
        f" * sqrt(list_reduce(list_transform({q}, "
        f"x -> x * x), (x, y) -> x + y)))"
    )


_L97_SQL = f"""
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, xs,
             list_max(list_transform(xs, v -> abs(v))) / 127 AS scale
      FROM x
    ),
    rc AS (
      SELECT vec_id, xs,
             CASE WHEN scale = 0
                  THEN list_transform(xs, v -> 0.0)
                  ELSE list_transform(
                    xs, v -> floor(v / scale + 0.5) * scale)
             END AS rec
      FROM sc
    ),
    q AS (SELECT * FROM rc WHERE vec_id < 10),
    exact_ AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, a.vec_id AS cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_l97_cos("a.xs", "q.xs")} DESC,
                          a.vec_id ASC) AS rk
        FROM rc a, q
      ) WHERE rk <= 10
    ),
    int8_ AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, a.vec_id AS cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_l97_cos("a.rec", "q.rec")} DESC,
                          a.vec_id ASC) AS rk
        FROM rc a, q
      ) WHERE rk <= 10
    )
    SELECT e.qid AS query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(i.cid) AS BIGINT) AS n_overlap,
           CAST((1000000 * count(i.cid)) // count(*) AS BIGINT)
             AS recall_ppm
    FROM exact_ e
    LEFT JOIN int8_ i ON e.qid = i.qid AND e.cid = i.cid
    GROUP BY 1
"""


@_register("l97_int8_recall_eval", _L97_SQL)
def l97_int8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-impact evaluation closing the compression ladder
    (l40 int8 error stats -> now the retrieval consequence): recall@10
    of cosine search over int8-RECONSTRUCTED vectors against the exact
    float ranking, per query over the first 10 vectors — the number
    that decides whether a vector store can ship the 4x-smaller index.
    Both rankings replay in SQL (the l75 recipe; the int8 side applies
    l40's exact quantize-reconstruct rule with the engine-neutral
    floor(x + 0.5) rounding), so the integer overlap counts value-hash
    on both engines.

    Scale: the reconstruction is a row-local projection hoisted so the
    per-vector scale computes ONCE (never inside the element lambda —
    pyspark HOFs are interpreted and would re-reduce per element); one
    corpus scan scores both rankings against the broadcast 10-query
    frame, each reduced by the two-phase salted top-k (l75's posture).

    Reference parity: no reference equivalent; public
    quantization-evaluation methodology."""
    from ..functions.vectors import cosine_similarity
    from ..operators import similarity as SIM

    em = load_table(spark, sf_dir, "embeddings")
    x = em.withColumn(
        "xs", F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    ).withColumn(
        # hoisted: ONE array_max per vector, not one per element
        "scale",
        F.expr("array_max(transform(xs, v -> abs(v))) / 127"),
    ).withColumn(
        "rec",
        F.expr(
            "CASE WHEN scale = 0 THEN transform(xs, v -> 0.0D)"
            " ELSE transform(xs, v -> floor(v / scale + 0.5) * scale)"
            " END"
        ),
    ).select("vec_id", "xs", "rec")
    x = x.localCheckpoint()  # feeds both rankings AND the query frame
    q = x.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("xs").alias("qxs"),
        F.col("rec").alias("qrec"),
    )
    # broadcast bound: q is the fixed 10-query frame
    scored = x.crossJoin(F.broadcast(q))
    exact_ = SIM.topk_per_query(
        scored.select(
            "qid",
            F.col("vec_id").alias("cid"),
            cosine_similarity(F.col("xs"), F.col("qxs")).alias("_cos"),
        ),
        k=10,
    ).select("qid", "cid")
    int8_ = SIM.topk_per_query(
        scored.select(
            "qid",
            F.col("vec_id").alias("cid"),
            cosine_similarity(F.col("rec"), F.col("qrec")).alias("_cos"),
        ),
        k=10,
    ).select("qid", F.col("cid").alias("icid"))
    return (
        exact_.join(
            int8_,
            (exact_.qid == int8_.qid) & (exact_.cid == int8_.icid),
            "left",
        )
        .groupBy(exact_.qid.alias("query_id"))
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("icid").cast("long").alias("n_overlap"),
            F.expr(
                "CAST((1000000 * count(icid)) div count(*) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# l98-l100: corpus quality filters, round 10 — the Gopher rule set,
# lexical diversity, and intra-document n-gram repetition. All three
# stay JVM-side: l98/l100 are pure per-row array expressions (zero
# shuffle before the report agg), l99's one shuffle is the (doc, word)
# count it genuinely needs.
# ---------------------------------------------------------------------------

_L98_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
_L98_MIN_WORDS, _L98_MAX_WORDS = 50, 100000
_L98_MIN_WL, _L98_MAX_WL = 3.0, 10.0

_L98_SQL = f"""
    WITH d AS (
      SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS nw,
             (length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
               / len(string_split(text, ' ')) AS mwl
      FROM documents
    ),
    stop AS (
      SELECT doc_id, count(DISTINCT word) AS nstop
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word IN ({", ".join("'" + w + "'" for w in _L98_STOPWORDS)})
      GROUP BY doc_id
    ),
    r AS (
      SELECT d.lang, d.source,
             CAST(d.nw BETWEEN {_L98_MIN_WORDS} AND {_L98_MAX_WORDS}
                  AS INT) AS ok_nw,
             CAST(d.mwl BETWEEN {_L98_MIN_WL} AND {_L98_MAX_WL}
                  AS INT) AS ok_wl,
             CAST(coalesce(stop.nstop, 0) >= 2 AS INT) AS ok_stop
      FROM d LEFT JOIN stop USING (doc_id)
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(1 - ok_nw) AS BIGINT) AS fail_wordcount,
           CAST(sum(1 - ok_wl) AS BIGINT) AS fail_wordlen,
           CAST(sum(1 - ok_stop) AS BIGINT) AS fail_stopwords,
           CAST(sum(ok_nw * ok_wl * ok_stop) AS BIGINT) AS n_pass
    FROM r
    GROUP BY lang, source
"""


def gopher_flags() -> list:
    """The three per-doc Gopher rule flags as column expressions
    (ok_nw, ok_wl, ok_stop) — shared by l98, the s56 streaming judge,
    and the l103 curation report."""
    ws = F.split(F.col("text"), " ")
    nw = F.size(ws)
    mwl = (F.length("text") - nw + 1).cast("double") / nw
    nstop = F.size(
        F.array_intersect(
            F.array_distinct(ws),
            F.array(*[F.lit(w) for w in _L98_STOPWORDS]),
        )
    )
    return [
        nw.between(_L98_MIN_WORDS, _L98_MAX_WORDS).cast("int").alias("ok_nw"),
        mwl.between(_L98_MIN_WL, _L98_MAX_WL).cast("int").alias("ok_wl"),
        (nstop >= 2).cast("int").alias("ok_stop"),
    ]


L98 = EventsRule(
    lambda t: ["doc_id", "lang", "source", "text"],
    lambda d: (
        d.select("lang", "source", *gopher_flags())
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(1 - F.col("ok_nw")).alias("fail_wordcount"),
            F.sum(1 - F.col("ok_wl")).alias("fail_wordlen"),
            F.sum(1 - F.col("ok_stop")).alias("fail_stopwords"),
            F.sum(F.col("ok_nw") * F.col("ok_wl") * F.col("ok_stop")).alias("n_pass"),
        )
    ),
    "documents",
)


@_register("l98_gopher_quality_rules", _L98_SQL)
def l98_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule set (Rae et al. 2021 §A1.1) per corpus
    slice: word count in [50, 100k], mean word length in [3, 10], and
    >= 2 distinct canonical stopwords — reported as per-(lang, source)
    fail counts per rule plus the all-rules pass count, i.e. the
    filter-audit table a curation run reads before committing a sweep.
    Mean word length uses the identity (chars - (nw-1)) / nw on
    single-space text — no explode on that path; the stopword rule is
    an array_intersect against a 9-literal list — per-row, no join.

    Scale: every rule is a per-row JVM expression (split/size/
    array_intersect inside whole-stage codegen); the only shuffle is
    the final (lang, source) report agg — map-side combinable, key
    domain = slices. Text never crosses a shuffle.

    Reference parity: none in reference; public methodology (Gopher,
    Rae et al. 2021)."""
    return gopher_report_from_slice_partials(
        L98.reduce(events_projection(spark, sf_dir, L98.cols, L98.table))
    )


_L99_SQL = """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_hapax,
           count(*)::DOUBLE / sum(c) AS ttr,
           (count(*) FILTER (c = 1))::DOUBLE / count(*) AS hapax_share
    FROM wc
    GROUP BY doc_id
"""


@_register("l99_lexical_diversity", _L99_SQL)
def l99_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type count, type-token ratio,
    and hapax-legomenon share — the vocabulary-richness quality signal
    (low TTR = template spam / keyword stuffing; complements l21's
    repetition and l94's corpus-level Zipf slope with a PER-DOC
    measure). Exact integer counts; the two ratios divide those
    integers identically on both engines.

    Scale: one explode shuffled on (doc_id, word) — the exact-count
    form needs it; partial aggregation collapses repeats map-side
    first. The second agg rides the same doc_id partitioning. Words
    cross the shuffle, full text never does.

    Reference parity: none in reference; public corpus-linguistics
    measures (Herdan 1960)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    wc = w.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    return wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count("*").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        (F.count("*").cast("double") / F.sum("c")).alias("ttr"),
        (
            F.sum((F.col("c") == 1).cast("long")).cast("double")
            / F.count("*")
        ).alias("hapax_share"),
    )


_L100_SQL = """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_aggregate(list_slice(ws, i, i + 1), 'string_agg', ' ')
               AS gram
      FROM words,
           LATERAL (SELECT unnest(range(1, len(ws))) AS i)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
           1.0 - count(DISTINCT gram)::DOUBLE / count(*) AS dup_rate
    FROM g
    GROUP BY doc_id
"""


@_register("l100_dup_bigram_rate", _L100_SQL)
def l100_dup_bigram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-bigram rate: 1 - distinct/total word
    bigrams per doc — the duplicate-n-gram quality signal of C4/Gopher
    (MassiveText drops docs whose duplicate 2-gram fraction is high).
    The Spark side builds bigrams with transform(sequence(...)) and
    counts with size/array_distinct — a pure per-row expression, so
    the ENTIRE statistic computes scan-side with ZERO shuffles: the
    plan is scan -> project. (The oracle needs a lateral unnest; the
    engine doesn't.)

    Scale: no exchange anywhere — embarrassingly parallel over file
    splits; memory per row is the bigram array (~doc length). This is
    the shape to prefer over l99's explode whenever per-doc
    distinctness suffices.

    Reference parity: none in reference; public methodology (C4,
    Raffel et al. 2020; Gopher repetition rules)."""
    d = load_table(spark, sf_dir, "documents")
    # bind the split once (see l101: lambda-inner split() re-evaluates
    # per element)
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = F.expr(
        "transform(sequence(0, size(ws) - 2),"
        " i -> concat(ws[i], ' ', ws[i + 1]))"
    )
    r = ws.select("doc_id", grams.alias("grams"))
    return r.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        F.size(F.array_distinct("grams")).cast("long").alias("n_distinct"),
        (
            1.0
            - F.size(F.array_distinct("grams")).cast("double")
            / F.size("grams")
        ).alias("dup_rate"),
    )


_L101_THRESH_PPM = 500000  # overlap coefficient >= 0.5

_L101_SQL = f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             list_aggregate(list_slice(ws, i, i + 2), 'string_agg', ' ')
               AS gram
      FROM words, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           sa.n AS n_a, sb.n AS n_b,
           CAST(1000000 * n_common // least(sa.n, sb.n) AS BIGINT)
             AS overlap_ppm
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE 1000000 * n_common >= {_L101_THRESH_PPM} * least(sa.n, sb.n)
"""


@_register("l101_overlap_coefficient_pairs", _L101_SQL)
def l101_overlap_coefficient_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-style near-dup pairs by TRIGRAM-shingle OVERLAP
    COEFFICIENT |A∩B| / min(|A|,|B|) >= 0.5 — the measure that catches
    a document swallowed inside a longer one, where Jaccard (l02)
    dilutes toward 0 as the big doc grows. Distinct w=3 shingle
    postings self-join on the shingle, intersection counts re-join the
    two size frames, and the threshold compares in exact integer ppm —
    no float on the cut.

    Shingle width is a MEASURED choice: this corpus's vocabulary is so
    small that bigram shingles (961 possible) are ALL stop-shingles —
    the postings join degenerates to near-all-pairs (13 s at sf0.1),
    and prefix filtering (SSJoin, Chaudhuri 2006) cannot help when
    every shingle is frequent (tried: 50 s — the filter's own df rank
    outweighed its pruning). At w=3 the universe is ~30k, max df ~7,
    sum(df^2) ~54k: the same join is sub-second and scales with true
    near-dup density. Pair volume is sum(df^2) over shingles; at
    100 TB the exact stage runs on l02/l03's LSH candidate pairs (same
    re-join shape, candidate-bounded) and rare stop-trigrams get the
    l84-style frequency cut. Doc ids and shingles cross the shuffle,
    full text never does.

    Reference parity: none in reference; public methodology (overlap
    coefficient / Szymkiewicz-Simpson; Broder 1997 w-shingling)."""
    d = load_table(spark, sf_dir, "documents")
    # bind the split ONCE as a column: a split() inside the transform
    # lambda re-evaluates per element (O(len^2) per doc — measured 10 s
    # vs sub-second at sf0.1)
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = F.expr(
        "transform(sequence(0, size(ws) - 3),"
        " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
    )
    # sizes ride ON the postings (array cardinality at explode time):
    # the pair aggregate then needs NO post-joins — |A| and |B| arrive
    # with every intersection row. CHECKPOINT THE ARRAY FRAME, not the
    # exploded one: a projection evaluated next to a generator re-runs
    # per emitted row, so checkpointing after explode re-computed
    # transform+array_distinct O(len) times per doc (measured 11.8 s
    # for the checkpoint alone; array-first is 2.7 s).
    arr = ws.select(
        "doc_id", F.array_distinct(grams).alias("garr")
    ).localCheckpoint()
    return _l101_pairs_from_arr(arr)


def _l101_pairs_from_arr(arr: DataFrame) -> DataFrame:
    """(doc_id, distinct-shingle array) -> overlap-coefficient pair
    report. Split from l101 so the skew harness can drive the postings
    self-join with an adversarial hot-shingle fixture
    (tests/test_udfs_skew.py): a stopword-like shingle at corpus scale
    makes one gh partition quadratic — the r12 verdict's l101 concern —
    and the mitigation is AQE's skew-split on exactly this join (the
    join is deliberately UNhinted: a merge hint would pin the plan but
    also veto the runtime OptimizeSkewedJoin rewrite; the downstream
    (doc_a, doc_b) aggregate re-partitions anyway, so the split's extra
    exchange costs nothing). Results are partitioning-invariant —
    integer counts and exact-integer ppm — so the skew split is
    result-identical by construction.

    Postings join on xxhash64(gram), not the ~20-char gram string: the
    intersection count only needs shingle IDENTITY, so 8-byte keys
    cross the shuffle and the join compares longs (guide §2.3 /
    §8: shuffle keys and hashes, not payloads; collision odds are the
    documented l01/dedup_exact n^2/2^64 negligible)."""
    g = arr.select(
        "doc_id",
        F.size("garr").alias("n"),
        F.explode("garr").alias("gram"),
    ).select("doc_id", "n", F.xxhash64("gram").alias("gh"))
    a = g.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "gh"
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "gh"
    )
    j = (
        a.join(b, "gh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_common"),
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
        )
    )
    mn = F.least("n_a", "n_b")
    return j.where(
        1000000 * F.col("n_common") >= _L101_THRESH_PPM * mn
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        F.expr("CAST(1000000 * n_common div least(n_a, n_b) AS BIGINT)").alias(
            "overlap_ppm"
        ),
    )


def gopher_report_from_slice_partials(p: DataFrame) -> DataFrame:
    """(lang, source, n_docs, fail_wordcount, fail_wordlen,
    fail_stopwords, n_pass) partials -> l98's report: all five
    measures are counts, so the merge is a keyed sum. Shared by the
    s56 streaming twin."""
    return p.groupBy("lang", "source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("fail_wordcount").cast("long").alias("fail_wordcount"),
        F.sum("fail_wordlen").cast("long").alias("fail_wordlen"),
        F.sum("fail_stopwords").cast("long").alias("fail_stopwords"),
        F.sum("n_pass").cast("long").alias("n_pass"),
    )


_L102_ITERS = 3  # fixed unrolled power-iteration steps from e_1

# Shared CTE chain for l102 (batch, quantized outputs) and s63 (streaming
# partials twin, raw-double outputs — see pca_from_moment_partials for why
# the two quantize differently).
_PCA_INNER_SQL = """
    WITH el AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    mu AS (
      SELECT i, sum(v) / count(*) AS m, CAST(count(*) AS BIGINT) AS n
      FROM el GROUP BY i
    ),
    s AS (
      SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS s
      FROM el a JOIN el b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    g AS (
      SELECT s.i, s.j, s.s - ma.n * ma.m * mb.m AS g
      FROM s JOIN mu ma ON ma.i = s.i JOIN mu mb ON mb.i = s.j
    ),
    v0 AS (SELECT i, CAST(i = 1 AS DOUBLE) AS v FROM mu),
    w1 AS (SELECT g.i, sum(g.g * v0.v) AS w
           FROM g JOIN v0 ON v0.i = g.j GROUP BY 1),
    v1 AS (SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w1) AS v FROM w1),
    w2 AS (SELECT g.i, sum(g.g * v1.v) AS w
           FROM g JOIN v1 ON v1.i = g.j GROUP BY 1),
    v2 AS (SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w2) AS v FROM w2),
    w3 AS (SELECT g.i, sum(g.g * v2.v) AS w
           FROM g JOIN v2 ON v2.i = g.j GROUP BY 1),
    v3 AS (SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w3) AS v FROM w3),
    ray AS (
      SELECT sum(v3a.v * g.g * v3b.v) AS lam
      FROM g JOIN v3 v3a ON v3a.i = g.i JOIN v3 v3b ON v3b.i = g.j
    )
"""

_L102_SQL = _PCA_INNER_SQL + """
    SELECT CAST(v3.i AS INT) AS dim,
           CAST(round(v3.v * 1000000000.0, 0) AS BIGINT) AS component_nanos,
           CAST(round(ray.lam * 1000000.0, 0) AS BIGINT) AS rayleigh_micros
    FROM v3, ray
"""

# s63's raw-double variant: the streaming twin's micro-batch partials merge
# in batch order, which moves components by ~1e-9 absolute (vs l102's
# single-pass 1-3 ulp) — fixed-precision quantization would straddle
# boundaries, so s63 compares raw doubles exactly as it did when
# driver-green in r09.
_PCA_RAW_SQL = _PCA_INNER_SQL + """
    SELECT CAST(v3.i AS INT) AS dim, v3.v AS component, ray.lam AS rayleigh
    FROM v3, ray
"""


@_register("l102_pca_power_iteration", _L102_SQL)
def l102_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by THREE unrolled
    power-iteration steps from e_1 on the covariance matrix, plus the
    Rayleigh quotient — the PCA probe of a training-data pipeline
    (embedding drift/anisotropy monitoring; Mu & Viswanath 2018 style
    dominance checks). The contract is deterministic by construction:
    the output IS "3 steps from e_1" (fixed start, fixed iteration
    count), not "the converged eigenvector" — so both engines compute
    the identical function with no convergence nondeterminism. The
    covariance never materializes a centered COPY of X: G = S - n*mu*mu'
    from the raw second-moment matrix S = X'X and the mean vector.

    Scale: S is ONE shuffle of (row, dim, value) self-joined per row
    — d^2 accumulators per partition, d x d output (64x64 here; the
    d^2-per-row explode is the standard Gram-matrix reduce). Every
    following step (mat-vec, norms, Rayleigh) runs on d- or d^2-sized
    frames. At 100 TB only the one X'X pass touches the corpus; at
    d too large for d^2 rows, this hands off to the pandas-UDF matmul
    posture (operators/similarity.py's index math).

    Reference parity: none in reference; public methodology (von
    Mises iteration; PCA)."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("i0", "x"),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("x").cast("double").alias("v"),
    )
    el = el.localCheckpoint()  # (rows x d) element frame, reused by S and mu
    musum = el.groupBy("i").agg(
        F.sum("v").alias("sv"), F.count("*").alias("n")
    )
    a = el.select("vec_id", F.col("i").alias("ia"), F.col("v").alias("va"))
    b = el.select("vec_id", F.col("i").alias("jb"), F.col("v").alias("vb"))
    s = (
        a.join(b, "vec_id")
        .groupBy(F.col("ia").alias("i"), F.col("jb").alias("j"))
        .agg(F.sum(F.col("va") * F.col("vb")).alias("s"))
    )
    return pca_from_moment_partials(s, musum)


def pca_from_moment_partials(
    s: DataFrame, musum: DataFrame, quantize: bool = True
) -> DataFrame:
    """(i, j, s) second-moment partials + (i, sv, n) mean-sum partials
    -> l102's output. Both frames merge by keyed sum — the Gram
    matrix and mean vector are classic associative statistics — so
    the entire PCA chain re-derives from micro-batch partials.
    Shared by the s63 streaming twin, with ``quantize=False``: the
    twin's partials merge in micro-batch order, which shifts the
    centered Gram entries (catastrophic cancellation in S - n*mu*mu'
    amplifies summation-order ulps) and moves components by ~1e-9
    absolute — three orders above l102's single-pass libm drift, so
    only the batch path can hold the exact-integer representation."""
    s = s.groupBy("i", "j").agg(F.sum("s").alias("s"))
    mu = musum.groupBy("i").agg(
        F.sum("sv").alias("sv"), F.sum("n").alias("n")
    ).select("i", (F.col("sv") / F.col("n")).alias("m"), "n")
    ma = mu.select(F.col("i").alias("mi"), F.col("m").alias("mam"), "n")
    mb = mu.select(F.col("i").alias("mj"), F.col("m").alias("mbm"))
    # broadcast bound: mu frames are d rows (64)
    g = (
        s.join(F.broadcast(ma), F.col("mi") == F.col("i"))
        .join(F.broadcast(mb), F.col("mj") == F.col("j"))
        .select(
            "i",
            "j",
            (F.col("s") - F.col("n") * F.col("mam") * F.col("mbm")).alias(
                "g"
            ),
        )
    )
    g = g.localCheckpoint()  # d^2 rows, reused by 3 mat-vecs + Rayleigh

    v = mu.select("i", (F.col("i") == 1).cast("double").alias("v"))
    for _ in range(_L102_ITERS):
        # broadcast bound: v is d rows
        w = (
            g.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
        )
        w = w.localCheckpoint()  # d rows; feeds norm AND normalize
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        # broadcast bound: nrm is 1 row
        v = w.crossJoin(F.broadcast(nrm)).select(
            "i", (F.col("w") / F.col("nrm")).alias("v")
        )
    v = v.localCheckpoint()  # d rows; feeds Rayleigh AND output
    va = v.select(F.col("i").alias("ri"), F.col("v").alias("rva"))
    vb = v.select(F.col("i").alias("rj"), F.col("v").alias("rvb"))
    ray = (
        g.join(F.broadcast(va), F.col("ri") == F.col("i"))
        .join(F.broadcast(vb), F.col("rj") == F.col("j"))
        .agg(
            F.sum(F.col("rva") * F.col("g") * F.col("rvb")).alias("lam")
        )
    )
    # broadcast bound: ray is 1 row. Batch outputs compared in the
    # exact-integer nano/micro representation (house recipe): three
    # unrolled normalizations of libm sqrt accumulate 1-3-ulp
    # JVM-vs-DuckDB drift (round-10 bit-exact audit) — quantizing the
    # SAME scaled double on both engines hashes exactly unless a value
    # sits within ~1e-4 integer units of a .5 boundary, audited absent
    # on the actual sf data (tests/test_parity_gate.py).
    out = v.crossJoin(F.broadcast(ray))
    if not quantize:
        return out.select(
            F.col("i").cast("int").alias("dim"),
            F.col("v").alias("component"),
            F.col("lam").alias("rayleigh"),
        )
    return out.select(
        F.col("i").cast("int").alias("dim"),
        F.round(F.col("v") * F.lit(1000000000.0), 0)
        .cast("long")
        .alias("component_nanos"),
        F.round(F.col("lam") * F.lit(1000000.0), 0)
        .cast("long")
        .alias("rayleigh_micros"),
    )


_L103_SQL = f"""
    WITH norm AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
      FROM documents
    ),
    keepers AS (
      SELECT nt, min(doc_id) AS keep_id FROM norm GROUP BY nt
    ),
    pairs AS ({_L101_SQL}),
    flagged AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION
      SELECT doc_b FROM pairs
    ),
    per_doc AS (
      SELECT norm.doc_id, norm.source,
             CAST(norm.doc_id <> keepers.keep_id AS INT) AS exact_removed,
             CAST(flagged.doc_id IS NOT NULL AS INT) AS containment_flagged
      FROM norm
      JOIN keepers ON keepers.nt = norm.nt
      LEFT JOIN flagged ON flagged.doc_id = norm.doc_id
    ),
    gopher AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' '))
                  BETWEEN {_L98_MIN_WORDS} AND {_L98_MAX_WORDS} AS INT)
             * CAST((length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
                    / len(string_split(text, ' '))
                    BETWEEN {_L98_MIN_WL} AND {_L98_MAX_WL} AS INT)
             * CAST((SELECT count(DISTINCT w.word) FROM
                      (SELECT unnest(string_split(d2.text, ' ')) AS word) w
                      WHERE w.word IN
                      ({", ".join("'" + w + "'" for w in _L98_STOPWORDS)}))
                    >= 2 AS INT) AS ok
      FROM documents d2
    )
    SELECT per_doc.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(exact_removed) AS BIGINT) AS n_exact_removed,
           CAST(sum(containment_flagged) AS BIGINT) AS n_containment_flagged,
           CAST(sum(gopher.ok) AS BIGINT) AS n_gopher_pass,
           CAST(sum((1 - exact_removed) * (1 - containment_flagged)
                    * gopher.ok) AS BIGINT) AS n_clean
    FROM per_doc JOIN gopher ON gopher.doc_id = per_doc.doc_id
    GROUP BY per_doc.source
"""


@_register("l103_curation_report", _L103_SQL)
def l103_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-pipeline capstone (the llmops sibling of r121's
    fraud scorecard): per SOURCE, how many documents survive the full
    dedup + quality gauntlet — exact-dup removal (l01's normalized-
    hash survivorship), containment flagging (l101's overlap pairs,
    either side), and the Gopher rule pass (l98) — composed VERBATIM
    from the registered rules (the engine re-derives each signal with
    the same plan fragments; the oracle inlines l101's SQL as a CTE).
    `n_clean` is the intersection: kept, unflagged, rules-passing —
    the number a curation run actually ships per source.

    Scale: each signal keeps its own optimal plan (hash-group
    survivorship: one shuffle on the normalized hash; containment:
    l101's candidate-bounded join; rules: per-row map-side); the
    composition joins doc-id-keyed flag frames — no signal is
    recomputed corpus-wide twice.

    Reference parity: none in reference; public pipeline-report
    practice (C4/Gopher/RefinedWeb curation tables)."""
    d = load_table(spark, sf_dir, "documents")
    nt = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    # Group/join survivorship on xxhash64(nt), not on the normalized
    # text itself: the nt-keyed join shuffled and sort-merge-compared
    # full document texts TWICE (32 MB / 10.9 CPU s of this query's
    # 14 at sf0.1); 8-byte hashes carry the identical grouping
    # (collision odds ~n^2/2^64 — the documented l01/dedup_exact
    # posture, and exactly guide §2.3's "shuffle keys, not payloads").
    norm = d.select("doc_id", "source", F.xxhash64(nt).alias("nth"))
    keepers = norm.groupBy("nth").agg(F.min("doc_id").alias("keep_id"))
    # Materialize the QUALIFYING pairs (near-dup-density sized — 256
    # rows at sf0.1) before the either-side union: each union branch
    # otherwise re-derives the whole l101 candidate join (the plan
    # showed the postings self-join + pair aggregate TWICE — 2 joins /
    # 4 shingle Generates — exactly the duplicated-subtree class of
    # guide §2.4, and the docstring's own "no signal recomputed twice"
    # contract). The checkpoint pays 256 rows to halve the dominant
    # stage.
    pairs = l101_overlap_coefficient_pairs(spark, sf_dir).localCheckpoint()
    flagged = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select("doc_b"))
        .distinct()
        .withColumn("flg", F.lit(1))
    )
    per_doc = (
        norm.join(keepers, "nth")
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            (F.col("doc_id") != F.col("keep_id")).cast("int").alias(
                "exact_removed"
            ),
            F.coalesce("flg", F.lit(0)).alias("containment_flagged"),
        )
    )
    gopher = d.select("doc_id", *gopher_flags()).select(
        "doc_id",
        (F.col("ok_nw") * F.col("ok_wl") * F.col("ok_stop")).alias("ok"),
    )
    j = per_doc.join(gopher, "doc_id")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("exact_removed").cast("long").alias("n_exact_removed"),
        F.sum("containment_flagged")
        .cast("long")
        .alias("n_containment_flagged"),
        F.sum("ok").cast("long").alias("n_gopher_pass"),
        F.sum(
            (1 - F.col("exact_removed"))
            * (1 - F.col("containment_flagged"))
            * F.col("ok")
        )
        .cast("long")
        .alias("n_clean"),
    )


_L104_SQL = """
    WITH w AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
      FROM documents
    ),
    arr AS (
      SELECT doc_id, toks, len(toks) AS n,
             list_transform(range(1, len(toks) + 1), i ->
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                       || CAST(i AS VARCHAR)), 1, 15)
                    AS BIGINT) % 20 = 0) AS starts
      FROM w
    ),
    m AS (
      SELECT doc_id, toks, n, starts,
             list_transform(range(1, n + 1), i ->
               starts[i]
               OR (i > 1 AND starts[i - 1])
               OR (i > 2 AND starts[i - 2])) AS masked
      FROM arr
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_words,
           CAST(len(list_filter(range(1, n + 1), i -> masked[i]))
                AS BIGINT) AS n_masked,
           CAST(len(list_filter(range(1, n + 1), i ->
                  masked[i] AND (i = 1 OR NOT masked[i - 1])))
                AS BIGINT) AS n_spans,
           md5(array_to_string(
             list_filter(
               list_transform(range(1, n + 1), i ->
                 CASE WHEN NOT masked[i] THEN toks[i]
                      WHEN i = 1 OR NOT masked[i - 1] THEN '<X>'
                      ELSE NULL END),
               x -> x IS NOT NULL),
             ' ')) AS corrupted_md5
    FROM m
"""


@_register("l104_span_corruption", _L104_SQL)
def l104_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption training transform (Raffel et al.
    2020): ~5% of word positions deterministically START a masked span
    (md5(doc_id:i) mod 20 — the same derandomized-coin idiom as l17's
    split and l81's shuffle, so both engines flip identical coins),
    each span covers 3 words, and every masked RUN collapses to one
    <X> sentinel. The driver hash pins the md5 of each corrupted
    document plus the exact span geometry (word/masked/span counts),
    so the mask placement, run collapsing, and re-serialization are
    all value-checked.

    Scale: embarrassingly parallel row-local array lambdas — one scan,
    no shuffle; only counts and a 16-byte digest leave it. The
    per-position md5 re-evaluates inside adjacent lambdas (the l101
    lesson: generator-adjacent projections re-evaluate), bounded at
    ~3 evals per word — still cheaper than any shuffle-based
    alternative.

    Reference parity: no reference equivalent; public span-corruption
    objective (T5)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("toks")
    )
    arr = w.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.expr(
            "transform(sequence(1, size(toks)), i -> "
            "conv(substring(md5(concat(cast(doc_id as string), ':', "
            "cast(i as string))), 1, 15), 16, 10) % 20 = 0)"
        ).alias("starts"),
    )
    m = arr.select(
        "doc_id",
        "toks",
        "n",
        F.expr(
            "transform(sequence(1, n), i -> "
            "element_at(starts, i) "
            "OR (i > 1 AND element_at(starts, i - 1)) "
            "OR (i > 2 AND element_at(starts, i - 2)))"
        ).alias("masked"),
    )
    return m.select(
        "doc_id",
        F.col("n").cast("long").alias("n_words"),
        F.expr(
            "size(filter(sequence(1, n), i -> element_at(masked, i)))"
        ).cast("long").alias("n_masked"),
        F.expr(
            "size(filter(sequence(1, n), i -> element_at(masked, i) "
            "AND (i = 1 OR NOT element_at(masked, i - 1))))"
        ).cast("long").alias("n_spans"),
        F.md5(
            F.expr(
                "array_join(filter(transform(sequence(1, n), i -> "
                "CASE WHEN NOT element_at(masked, i) THEN element_at(toks, i) "
                "WHEN i = 1 OR NOT element_at(masked, i - 1) THEN '<X>' "
                "ELSE NULL END), x -> x IS NOT NULL), ' ')"
            )
        ).alias("corrupted_md5"),
    )


_L105_MIN_PAIR = 5

_L105_SQL = f"""
    WITH w AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
      FROM documents
    ),
    uni AS (
      SELECT u.w AS w, CAST(count(*) AS BIGINT) AS c
      FROM w, unnest(toks) AS u(w) GROUP BY 1
    ),
    nw AS (SELECT CAST(sum(c) AS BIGINT) AS nw FROM uni),
    big AS (
      SELECT toks[p] AS x, toks[p + 1] AS y, CAST(count(*) AS BIGINT) AS cxy
      FROM w, unnest(range(1, len(toks))) AS r(p)
      GROUP BY 1, 2
    ),
    nb AS (SELECT CAST(sum(cxy) AS BIGINT) AS nb FROM big),
    scored AS (
      SELECT x, y, cxy, ux.c AS cx, uy.c AS cy,
             CAST(round(ln(cxy * 1.0 * nw * nw / (nb * 1.0 * ux.c * uy.c))
                        * 1000000.0, 0) AS BIGINT) AS pmi_micro
      FROM big JOIN uni ux ON ux.w = big.x
               JOIN uni uy ON uy.w = big.y
               CROSS JOIN nw CROSS JOIN nb
      WHERE cxy >= {_L105_MIN_PAIR}
    )
    SELECT x, y, cxy, cx, cy, pmi_micro,
           pmi_micro / 1000000.0 AS pmi
    FROM scored
    ORDER BY pmi_micro DESC, x, y LIMIT 20
"""


@_register("l105_pmi_collocations", _L105_SQL)
def l105_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 pointwise-mutual-information collocations (adjacent word
    pairs with min support {_L105_MIN_PAIR}) — the corpus-analysis
    probe that finds multiword expressions worth protecting from
    tokenizer splits (Church & Hanks 1990): PMI = ln(P(x,y) /
    (P(x)P(y))) with bigram probability over bigram mass and unigram
    probabilities over word mass. Each pair's ln rounds once to micro
    over five exact BIGINTs (the m23 cell discipline), so the ranking
    key is an exact integer with (x, y) tie-break — no float-order
    hazard in the top-20 cut.

    Scale: bigrams explode row-locally (slice/zip — no self-join);
    both count frames are vocabulary-bounded (Heaps' law), the
    pair->unigram joins are vocab-keyed equi-joins (NOT broadcast —
    at 100 TB the vocabulary outgrows an executor), and the top-20 is
    a TakeOrdered on the scored pair frame.

    Reference parity: no reference equivalent; public collocation
    methodology."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("toks")
    )
    w = w.localCheckpoint()  # feeds unigrams AND bigrams
    uni = w.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count("*").cast("long").alias("c")
    )
    uni = uni.localCheckpoint()  # vocab-bounded; joined twice below
    nw = uni.agg(F.sum("c").cast("long").alias("nw"))
    big = (
        w.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), p -> "
                    "struct(element_at(toks, p) AS x, "
                    "element_at(toks, p + 1) AS y))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("cxy"))
        .where(F.col("cxy") >= _L105_MIN_PAIR)
    )
    nb0 = (
        w.select(
            (F.greatest(F.size("toks") - 1, F.lit(0))).cast("long").alias("k")
        ).agg(F.sum("k").cast("long").alias("nb"))
    )
    ux = uni.select(F.col("w").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("w").alias("y"), F.col("c").alias("cy"))
    # vocab-keyed equi-joins (vocabulary can outgrow a broadcast at scale)
    scored = (
        big.join(ux, "x")
        .join(uy, "y")
        # broadcast bounds: nw/nb are 1 row each
        .crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nb0))
        .select(
            "x",
            "y",
            "cxy",
            "cx",
            "cy",
            F.round(
                F.log(
                    F.col("cxy")
                    * 1.0
                    * F.col("nw")
                    * F.col("nw")
                    / (F.col("nb") * 1.0 * F.col("cx") * F.col("cy"))
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return (
        scored.select(
            "x", "y", "cxy", "cx", "cy", "pmi_micro",
            (F.col("pmi_micro") / 1e6).alias("pmi"),
        )
        .orderBy(F.desc("pmi_micro"), "x", "y")
        .limit(20)
    )


_L106_TOPK = 5

_L106_SQL = f"""
    WITH w AS (
      SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS t
      FROM documents
    ),
    sw AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS y FROM w GROUP BY 1, 2
    ),
    cw AS (SELECT t, CAST(sum(y) AS BIGINT) AS cwt FROM sw GROUP BY 1),
    st AS (SELECT source, CAST(sum(y) AS BIGINT) AS ns FROM sw GROUP BY 1),
    tot AS (SELECT CAST(sum(y) AS BIGINT) AS n FROM sw),
    z AS (
      SELECT sw.source, sw.t, sw.y,
             CAST(round((
               ln((sw.y + cwt * 1.0 / n)
                  / (ns - sw.y + (n - cwt) * 1.0 / n))
               - ln((cwt - sw.y + cwt * 1.0 / n)
                    / ((n - ns) - (cwt - sw.y) + (n - cwt) * 1.0 / n))
             ) / sqrt(1.0 / (sw.y + cwt * 1.0 / n)
                      + 1.0 / (cwt - sw.y + cwt * 1.0 / n))
             * 1000000.0, 0) AS BIGINT) AS z_micro
      FROM sw JOIN cw USING (t) JOIN st USING (source)
              CROSS JOIN tot
    ),
    rk AS (
      SELECT source, t, y, z_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY z_micro DESC, t) AS rn
      FROM z
    )
    SELECT source, t AS term, y AS n_in_source, z_micro,
           z_micro / 1000000.0 AS z, CAST(rn AS BIGINT) AS rn
    FROM rk WHERE rn <= {_L106_TOPK}
"""


@_register("l106_distinctive_terms", _L106_SQL)
def l106_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_L106_TOPK} distinctive terms per source by the Monroe et
    al. (2008) log-odds-ratio with informative Dirichlet prior — the
    corpus-comparison statistic dataset cards should quote instead of
    raw TF-IDF (the prior shrinks rare-word z toward 0, so one-off
    typos don't top the list): each (source, term) z-score compares
    the term's odds in the source vs the REST of the corpus, with the
    corpus itself as the prior (alpha_w = corpus share). The z rounds
    once to micro over exact BIGINT counts (m23 cell discipline), so
    the per-source top-{_L106_TOPK} cut ranks exact integers with term
    tie-break.

    Scale: one explode scan to the (source, term) frame; all joins are
    vocab-keyed equi-joins (vocabulary outgrows broadcast at 100 TB,
    same call as l105); the rank window partitions by source over
    vocab-bounded frames.

    Reference parity: no reference equivalent; public methodology
    (Monroe, Colaresi & Quinn 2008, 'Fightin' Words')."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("t"),
    )
    sw = w.groupBy("source", "t").agg(F.count("*").cast("long").alias("y"))
    sw = sw.localCheckpoint()  # vocab x source frame; feeds 3 aggs + grid
    cw = sw.groupBy("t").agg(F.sum("y").cast("long").alias("cwt"))
    st = sw.groupBy("source").agg(F.sum("y").cast("long").alias("ns"))
    tot = sw.agg(F.sum("y").cast("long").alias("n"))
    # vocab-keyed equi-join for cw; st is |sources| rows, tot is 1 row
    grid = (
        sw.join(cw, "t")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tot))
    )
    y, cwt, ns, n = F.col("y"), F.col("cwt"), F.col("ns"), F.col("n")
    aw = cwt * 1.0 / n
    a0_rest = (n - cwt) * 1.0 / n
    delta = F.log((y + aw) / (ns - y + a0_rest)) - F.log(
        (cwt - y + aw) / ((n - ns) - (cwt - y) + a0_rest)
    )
    var = 1.0 / (y + aw) + 1.0 / (cwt - y + aw)
    scored = grid.select(
        "source",
        "t",
        "y",
        F.round(delta / F.sqrt(var) * 1e6, 0).cast("long").alias("z_micro"),
    )
    wr = Window.partitionBy("source").orderBy(F.desc("z_micro"), "t")
    return (
        scored.select(
            "source", "t", "y", "z_micro", F.row_number().over(wr).alias("rn")
        )
        .where(F.col("rn") <= _L106_TOPK)
        .select(
            "source",
            F.col("t").alias("term"),
            F.col("y").alias("n_in_source"),
            "z_micro",
            (F.col("z_micro") / 1e6).alias("z"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


_L107_TOPK = 30

_L107_SQL = f"""
    WITH w AS (
      SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS t
      FROM documents
    ),
    sw AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS y FROM w GROUP BY 1, 2
    ),
    st AS (SELECT source, CAST(sum(y) AS BIGINT) AS ns FROM sw GROUP BY 1),
    cw AS (SELECT t, CAST(sum(y) AS BIGINT) AS cwt FROM sw GROUP BY 1),
    tot AS (SELECT CAST(sum(y) AS BIGINT) AS n FROM sw),
    top AS (
      SELECT t, cwt FROM cw ORDER BY cwt DESC, t LIMIT {_L107_TOPK}
    ),
    obs AS (
      SELECT top.t, top.cwt,
             CAST(sum(abs(sw.y * n - st.ns * top.cwt)) AS BIGINT) AS num_obs,
             CAST(sum(st.ns) AS BIGINT) AS ns_obs
      FROM top JOIN sw ON sw.t = top.t
               JOIN st USING (source) CROSS JOIN tot
      GROUP BY 1, 2
    )
    SELECT t AS term, cwt AS total_count,
           CAST(num_obs + cwt * (n - ns_obs) AS BIGINT) AS dp_num,
           (num_obs + cwt * 1.0 * (n - ns_obs)) / (2.0 * cwt * n) AS dp
    FROM obs CROSS JOIN tot
"""


@_register("l107_dispersion_dp", _L107_SQL)
def l107_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' deviation-of-proportions (DP) dispersion for the
    {_L107_TOPK} most frequent terms — the corpus-linguistics measure
    of 'is this word everywhere or does one source own it' (DP=0:
    perfectly dispersed in proportion to source sizes; ->1: one
    source). The statistic is EXACT: DP = [sum over observed sources
    |y*n - ns*cw| + cw*(n - sum observed ns)] / (2*cw*n) — the second
    term closes the sum over sources where the term never occurs
    without scanning them (their |0 - ns*cw/n| mass in one closed
    form). Complements l106: l106 says WHICH terms mark a source, DP
    says how concentrated each global term is.

    Scale: the (source, term) frame is vocab x sources bounded; the
    top-{_L107_TOPK} cut is a TakeOrdered on the vocab frame; the
    dispersion join touches only top-term rows.

    Reference parity: no reference equivalent; public measure (Gries
    2008)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("t"),
    )
    sw = w.groupBy("source", "t").agg(F.count("*").cast("long").alias("y"))
    sw = sw.localCheckpoint()  # feeds marginals AND the dispersion join
    st = sw.groupBy("source").agg(F.sum("y").cast("long").alias("ns"))
    cw = sw.groupBy("t").agg(F.sum("y").cast("long").alias("cwt"))
    tot = sw.agg(F.sum("y").cast("long").alias("n"))
    top = cw.orderBy(F.desc("cwt"), "t").limit(_L107_TOPK)
    # broadcast bounds: top is 30 rows, st is |sources| rows, tot is 1 row
    obs = (
        sw.join(F.broadcast(top), "t")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("t", "cwt")
        .agg(
            F.sum(
                F.abs(F.col("y") * F.col("n") - F.col("ns") * F.col("cwt"))
            )
            .cast("long")
            .alias("num_obs"),
            F.sum("ns").cast("long").alias("ns_obs"),
        )
    )
    j = obs.crossJoin(F.broadcast(tot))
    dp_num = F.col("num_obs") + F.col("cwt") * (F.col("n") - F.col("ns_obs"))
    return j.select(
        F.col("t").alias("term"),
        F.col("cwt").alias("total_count"),
        dp_num.cast("long").alias("dp_num"),
        (
            (
                F.col("num_obs")
                + F.col("cwt") * 1.0 * (F.col("n") - F.col("ns_obs"))
            )
            / (2.0 * F.col("cwt") * F.col("n"))
        ).alias("dp"),
    )
