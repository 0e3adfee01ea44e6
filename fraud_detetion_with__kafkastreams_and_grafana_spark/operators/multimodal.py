"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas iterators
(mapInPandas).

The compressed-audio decode step is STUBBED (no audio libraries in
this container): `_fake_decode` produces deterministic fake features
derived from the bytes, clearly marked. Five formats decode for REAL
— BMP (`decode_bmp`: struct parsing — magic, header geometry, row
padding, channel sums), PCM WAV (`decode_wav`: the stdlib wave reader
— chunk headers, frame counts, int16 sample sums), PNG (`decode_png`:
zlib inflate, chunk-CRC validation, all five scanline filter
reversals), GIF87a (`decode_gif`: full variable-width LZW), and
baseline JPEG (`decode_jpeg`: Huffman + DCT, stdlib + numpy) — each
exercised end-to-end with value-hash oracles by l52/l53/l57/l63/l67,
covering all three entropy-coding families (LZ77, LZW, transform
coding). The Spark-side plumbing is real everywhere — schema handling,
mapInPandas batch iteration, partition-preserving flow. Swapping the
audio stub for a richer decoder (torchaudio / pyav) changes only
`_fake_decode`, nothing in the plan shape.

Scale notes: mapInPandas streams Arrow batches — the full binary column
never materializes on the driver; per-batch memory is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch. Binary payloads ride the
shuffle only if a repartition happens after attach — do metadata joins on
ids, not on rows carrying the payload.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

def _spread_deficient_scan(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Scale-adaptive parallelism floor for a Python-heavy map stage
    (guide §2.5: repartition a deficient-parallelism input right after
    the read). The local test fixture is ONE parquet split, so a
    per-document codec pass ran on a single Python worker (l67 measured
    3.8 s task run time at ~0 JVM CPU — all of it single-threaded
    Python). When the scan's parallelism is below the session default,
    spread the tiny (id, metadata) rows by id; at production scale the
    scan is already wider than defaultParallelism and this is a no-op —
    no constant tuned to either environment."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, F.col(id_col))
    return df


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def attach_fake_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Make an opaque binary 'media' column from text bytes — stands in for
    real image/audio payloads so the plumbing is testable here."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit("image/fake").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, int]:
    """STUB decoder — deterministic fake dimensions/checksum from bytes.

    A real deployment replaces this body with e.g. PIL.Image.open; the
    signature and everything calling it stays identical.
    """
    n = len(payload)
    # whole-payload byte sum: O(n) like any real decode, C-speed over bytes
    checksum = sum(payload)
    return n, 64 + n % 256, 64 + (n * 7) % 256, checksum


def extract_image_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, schema-declared."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL payload (e.g. null source text) decodes as empty bytes
            feats = [_fake_decode(p if p is not None else b"") for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": [f[0] for f in feats],
                    "width": [f[1] for f in feats],
                    "height": [f[2] for f in feats],
                    "checksum": [f[3] for f in feats],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("out_bytes", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_images(media: DataFrame, max_bytes: int = 128) -> DataFrame:
    """Binary -> binary resize plumbing (mapInPandas): the STUB 'resize'
    truncates the payload to `max_bytes` (deterministic, so the byte-length
    contract is oracle-checkable); a real deployment decodes, resamples,
    re-encodes inside the same batch loop. Payload stays executor-side in
    Arrow batches end-to-end."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                bytes(p[:max_bytes]) if p is not None else b""
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "media_type": pdf["media_type"].values,
                    "out_bytes": [len(o) for o in out],
                    "payload": out,
                }
            )

    return media.mapInPandas(batches, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("start_offset", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
    ]
)


def sample_frames(media: DataFrame, frame_size: int = 256) -> DataFrame:
    """Frame sampling plumbing: one output row per `frame_size`-byte chunk
    of the payload (the stand-in for per-frame video decode — a real
    deployment yields decoded frames from pyav here). mapInPandas is the
    right shape for 1->N row expansion with binary inputs: the expansion
    happens inside the Arrow batch, no explode of a materialized array."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, offs, sizes = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                n = len(p) if p is not None else 0
                for i in range(0, max(1, (n + frame_size - 1) // frame_size)):
                    ids.append(doc_id)
                    idxs.append(i)
                    offs.append(i * frame_size)
                    sizes.append(min(frame_size, n - i * frame_size) if n else 0)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "start_offset": offs,
                    "frame_bytes": sizes,
                }
            )

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


def decode_image_real(payload: bytes):  # pragma: no cover - documented stub
    """Placeholder for a real decoder; raises until a library is wired in."""
    raise NotImplementedError(
        "image decoding requires PIL/opencv, not available in this environment; "
        "replace _fake_decode with a real decoder to enable"
    )


# ---------------------------------------------------------------------------
# REAL decode path: BMP (pure stdlib — no image library needed). The fake
# payloads above stand in for formats whose decoders aren't in this
# container; BMP needs only struct, so this half of the multimodal surface
# runs a genuine encode -> binary -> parse round trip.
# ---------------------------------------------------------------------------
def encode_bmp(doc_id: int, n_chars: int) -> bytes:
    """A real 24bpp bottom-up BMP whose dimensions and pixels are closed
    forms of (doc_id, n_chars) — so a SQL oracle can predict what the
    decoder must read back out of the binary:
      width  = 4 + n_chars % 13, height = 3 + n_chars % 7
      pixel j (row-major, top-down) has B=G=R = (doc_id*31 + j*7) % 256.
    """
    w = 4 + n_chars % 13
    h = 3 + n_chars % 7
    return _bmp_write(
        w, h, [(doc_id * 31 + j * 7) % 256 for j in range(w * h)]
    )


def decode_bmp(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a 24bpp BMP: validate magic, read header geometry, strip row
    padding, reassemble top-down pixel order, sum the blue channel.
    Returns (width, height, n_bytes, pix_sum). This is an actual binary
    decoder (struct.unpack over the payload), not a stub."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    if bpp != 24:
        raise ValueError(f"expected 24bpp, got {bpp}")
    if w <= 0 or h <= 0:  # negative h = top-down BMP, unsupported here
        raise ValueError(f"unsupported BMP geometry {w}x{h}")
    row_size = (w * 3 + 3) // 4 * 4
    # Don't trust the header: a truncated/lying payload would otherwise
    # silently short-slice rows and produce a wrong pix_sum.
    if len(payload) < data_off + row_size * h:
        raise ValueError("truncated BMP: pixel array exceeds payload")
    # Real-world writers often put 0 or a padded value in the header
    # file_size field, so it is ignored — the pixel-array bounds check
    # above is the one protecting pix_sum; n_bytes reports the actual
    # payload length (identical for our fixtures, which write the field
    # correctly).
    pix_sum = 0
    for y in range(h):
        off = data_off + (h - 1 - y) * row_size  # undo bottom-up
        row = payload[off : off + w * 3]
        pix_sum += sum(row[0::3])  # blue channel
    return w, h, len(payload), pix_sum


BMP_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
    ]
)


def bmp_roundtrip_features(docs: DataFrame) -> DataFrame:
    """Encode a real BMP per document and decode it back, all inside ONE
    mapInPandas pass (payloads never leave the executor or cross a
    shuffle). The decoded geometry/byte-size/pixel-sum are closed forms
    of (doc_id, n_chars), so the whole binary round trip value-hash
    checks against SQL."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "width": [], "height": [], "n_bytes": [], "pix_sum": []}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w, h, nb, ps = decode_bmp(encode_bmp(int(doc_id), int(n_chars)))
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["n_bytes"].append(nb)
                out["pix_sum"].append(ps)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=BMP_FEATURE_SCHEMA
    )


def decode_bmp_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """Like decode_bmp but returns the full gray plane (blue channel,
    top-down row-major) for transforms that need pixels, not just
    aggregates."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    if bpp != 24:
        raise ValueError(f"expected 24bpp, got {bpp}")
    if w <= 0 or h <= 0:
        raise ValueError(f"unsupported BMP geometry {w}x{h}")
    row_size = (w * 3 + 3) // 4 * 4
    if len(payload) < data_off + row_size * h:
        raise ValueError("truncated BMP: pixel array exceeds payload")
    vals: list[int] = []
    for y in range(h):
        off = data_off + (h - 1 - y) * row_size
        vals.extend(payload[off : off + w * 3 : 3])
    return w, h, vals


def _bmp_write(w: int, h: int, vals: list[int]) -> bytes:
    """Serialize a gray plane (top-down row-major) as a real 24bpp
    bottom-up BMP — the encoder half shared by encode_bmp's synthetic
    fixtures and the downscale transform's re-encode."""
    row_size = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (row_size - w * 3)
    rows = []
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            v = vals[y * w + x]
            row += bytes((v, v, v))
        rows.append(bytes(row) + pad)
    pixels = b"".join(rows)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + pixels


def downscale_bmp(payload: bytes) -> bytes:
    """REAL image resize, not the l15 stub: 2x2 box-filter downscale of a
    24bpp BMP with edge clamp (odd trailing row/column averages over the
    pixels that exist) and floor division — all-integer, so the result
    is bit-deterministic and a SQL oracle can replay the whole
    decode -> filter -> re-encode chain. Output dims are ceil(w/2) x
    ceil(h/2), re-serialized as a genuine BMP."""
    w, h, vals = decode_bmp_pixels(payload)
    ow, oh = (w + 1) // 2, (h + 1) // 2
    out: list[int] = []
    for y2 in range(oh):
        for x2 in range(ow):
            s = cnt = 0
            for dy in (0, 1):
                for dx in (0, 1):
                    x, y = 2 * x2 + dx, 2 * y2 + dy
                    if x < w and y < h:
                        s += vals[y * w + x]
                        cnt += 1
            out.append(s // cnt)
    return _bmp_write(ow, oh, out)


BMP_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_width", T.LongType()),
        T.StructField("src_height", T.LongType()),
        T.StructField("out_width", T.LongType()),
        T.StructField("out_height", T.LongType()),
        T.StructField("out_n_bytes", T.LongType()),
        T.StructField("out_pix_sum", T.LongType()),
    ]
)


def bmp_downscale_features(docs: DataFrame) -> DataFrame:
    """Encode a real BMP per document, box-filter-downscale it (real
    pixel arithmetic on decoded bytes), re-encode, and decode the RESULT
    back — four genuine codec passes in ONE mapInPandas stage (payloads
    never cross a shuffle or reach the driver). Every output value is a
    closed form of (doc_id, n_chars), so a header miswrite, row-order
    bug, edge-clamp slip, or rounding drift in any of the four passes
    flips the driver's value hash."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k.name: [] for k in BMP_RESIZE_SCHEMA.fields}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                src = encode_bmp(int(doc_id), int(n_chars))
                sw, sh, _, _ = decode_bmp(src)
                ow, oh, nb, ps = decode_bmp(downscale_bmp(src))
                out["doc_id"].append(int(doc_id))
                out["src_width"].append(sw)
                out["src_height"].append(sh)
                out["out_width"].append(ow)
                out["out_height"].append(oh)
                out["out_n_bytes"].append(nb)
                out["out_pix_sum"].append(ps)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=BMP_RESIZE_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL video container path: RIFF/AVI with uncompressed 24bpp DIB frames.
# The frame-sampling analog of l52/l73's image work — a genuine chunk-walk
# parser over a genuine container, not the l14 byte-chunk stand-in.
# ---------------------------------------------------------------------------
def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    if len(body) % 2:  # RIFF chunks are word-aligned
        body += b"\x00"
    return tag + struct.pack("<I", len(body)) + body


def _riff_list(kind: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", kind + body)


def _avi_frame_pixels(doc_id: int, f: int, w: int, h: int) -> list[int]:
    return [(doc_id * 31 + f * 17 + j * 7) % 256 for j in range(w * h)]


def encode_avi(doc_id: int, n_chars: int) -> bytes:
    """A real (minimal) RIFF-AVI: LIST hdrl with an avih main header and
    one strl (strh 'vids'/'DIB ' + strf BITMAPINFOHEADER), LIST movi
    with one uncompressed bottom-up 24bpp '00db' chunk per frame, and an
    idx1 index. Geometry and pixels are closed forms of
    (doc_id, n_chars):
      width = 4 + n_chars % 9, height = 2 + n_chars % 5,
      n_frames = 3 + n_chars % 10,
      frame f, pixel j (top-down row-major): (doc_id*31 + f*17 + j*7) % 256.
    """
    w = 4 + n_chars % 9
    h = 2 + n_chars % 5
    nf = 3 + n_chars % 10
    row_size = (w * 3 + 3) // 4 * 4
    frame_bytes = row_size * h

    def dib(f: int) -> bytes:
        vals = _avi_frame_pixels(doc_id, f, w, h)
        pad = b"\x00" * (row_size - w * 3)
        rows = []
        for y in range(h - 1, -1, -1):  # bottom-up like BMP
            row = bytearray()
            for x in range(w):
                v = vals[y * w + x]
                row += bytes((v, v, v))
            rows.append(bytes(row) + pad)
        return b"".join(rows)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        40_000,  # us per frame (25 fps)
        frame_bytes * 25,
        0,
        0x10,  # AVIF_HASINDEX
        nf,
        0,
        1,  # one stream
        frame_bytes,
        w,
        h,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, 25, 0, nf, frame_bytes, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 2835, 2835, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    frames = [_riff_chunk(b"00db", dib(f)) for f in range(nf)]
    movi = _riff_list(b"movi", b"".join(frames))
    # idx1: one entry per frame, offsets relative to the start of 'movi'
    idx_entries = []
    off = 4  # past the 'movi' fourcc
    for f in range(nf):
        idx_entries.append(
            struct.pack("<4sIII", b"00db", 0x10, off, frame_bytes)
        )
        off += 8 + frame_bytes + (frame_bytes % 2)
    idx1 = _riff_chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_walk(payload: bytes, start: int, end: int):
    """Yield (tag, body_start, body_len) for each chunk in
    payload[start:end), validating structure; raises ValueError on any
    truncation or misalignment."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated RIFF chunk header")
        tag = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if body + ln > end:
            raise ValueError("RIFF chunk exceeds container")
        yield tag, body, ln
        pos = body + ln + (ln % 2)


def decode_avi(payload: bytes) -> tuple[int, int, int, list[list[int]]]:
    """Parse the AVI for real: RIFF/'AVI ' magic, chunk walk to LIST
    hdrl -> avih (frame count + geometry, cross-checked against strf),
    LIST movi -> one decoded pixel plane per '00db' frame (bottom-up
    padded rows, blue channel). Raises ValueError on every malformed
    path: bad magic, truncated chunks, missing headers, geometry
    mismatch, or a frame count that disagrees with avih."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (riff_len,) = struct.unpack_from("<I", payload, 4)
    if 8 + riff_len > len(payload):
        raise ValueError("truncated RIFF container")
    end = 8 + riff_len
    avih = None
    frames: list[list[int]] = []
    w = h = nf = None
    for tag, body, ln in _riff_walk(payload, 12, end):
        if tag != b"LIST":
            continue
        kind = payload[body : body + 4]
        if kind == b"hdrl":
            for t2, b2, l2 in _riff_walk(payload, body + 4, body + ln):
                if t2 == b"avih":
                    if l2 < 40:
                        raise ValueError("short avih header")
                    avih = struct.unpack_from("<10I", payload, b2)
                    nf, w, h = avih[4], avih[8], avih[9]
        elif kind == b"movi":
            if w is None or h is None:
                raise ValueError("movi before avih")
            row_size = (w * 3 + 3) // 4 * 4
            for t2, b2, l2 in _riff_walk(payload, body + 4, body + ln):
                if t2 != b"00db":
                    continue
                if l2 != row_size * h:
                    raise ValueError("frame size disagrees with geometry")
                vals: list[int] = []
                for y in range(h):
                    off = b2 + (h - 1 - y) * row_size
                    vals.extend(payload[off : off + w * 3 : 3])
                frames.append(vals)
    if avih is None:
        raise ValueError("missing avih header")
    if len(frames) != nf:
        raise ValueError("frame count disagrees with avih")
    return w, h, nf, frames


AVI_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_sampled", T.LongType()),
        T.StructField("sampled_pix_sum", T.LongType()),
    ]
)


def avi_frame_sample_features(docs: DataFrame, every: int = 3) -> DataFrame:
    """REAL video frame sampling — upgrades the l14 byte-chunk stand-in:
    each document becomes a genuine RIFF-AVI (real chunk tree, real
    index), the parser walks it back, and every `every`-th frame is
    decoded to pixels and summed. One mapInPandas pass; payloads never
    cross a shuffle — at 100 TB the sampling runs where the bytes
    already sit, the property that makes container-side sampling
    cheaper than decode-everything."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k.name: [] for k in AVI_SAMPLE_SCHEMA.fields}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w, h, nf, frames = decode_avi(
                    encode_avi(int(doc_id), int(n_chars))
                )
                sampled = frames[::every]
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["n_sampled"].append(len(sampled))
                out["sampled_pix_sum"].append(sum(sum(f) for f in sampled))
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=AVI_SAMPLE_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL audio decode path: PCM WAV via the stdlib `wave` module — the audio
# analog of the BMP round trip above.
# ---------------------------------------------------------------------------
def encode_wav(doc_id: int, n_chars: int, framerate: int = 8000) -> bytes:
    """A real mono 16-bit PCM WAV whose length and samples are closed
    forms of (doc_id, n_chars):
      n_samples = 100 + n_chars % 50
      sample j  = ((doc_id*17 + j*11) % 65536) - 32768   (int16)
    Written by the stdlib wave module (RIFF/fmt/data chunks)."""
    n_samples = 100 + n_chars % 50
    frames = b"".join(
        struct.pack("<h", ((doc_id * 17 + j * 11) % 65536) - 32768)
        for j in range(n_samples)
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(frames)
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a WAV with the stdlib wave reader: channel/width/rate checks,
    frame count from the header, then unpack the int16 samples and sum
    them. Returns (n_samples, framerate, n_bytes, sample_sum)."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("expected mono 16-bit PCM")
        n = w.getnframes()
        rate = w.getframerate()
        samples = struct.unpack(f"<{n}h", w.readframes(n))
    return n, rate, len(payload), sum(samples)


WAV_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("framerate", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sample_sum", T.LongType()),
    ]
)


def wav_roundtrip_features(docs: DataFrame) -> DataFrame:
    """Encode a real WAV per document and decode it back inside one
    mapInPandas pass (see bmp_roundtrip_features — same contract: the
    payload never crosses a shuffle, and every decoded value is a closed
    form the SQL oracle predicts)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "doc_id": [], "n_samples": [], "framerate": [],
                "n_bytes": [], "sample_sum": [],
            }
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n, rate, nb, ssum = decode_wav(
                    encode_wav(int(doc_id), int(n_chars))
                )
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(n)
                out["framerate"].append(rate)
                out["n_bytes"].append(nb)
                out["sample_sum"].append(ssum)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=WAV_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL compressed-image decode path: PNG in pure stdlib (zlib inflate +
# per-row unfilter + chunk CRC validation). This closes the "compressed
# format" gap the BMP/WAV round trips left: the payload is genuinely
# entropy-coded, so the decoder exercises inflate, scanline filter
# reversal (all five PNG filter types), and CRC32 integrity — everything a
# real PNG reader does short of palette/interlace support.
# ---------------------------------------------------------------------------
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def encode_png(doc_id: int, n_chars: int) -> bytes:
    """A real 8-bit grayscale PNG whose geometry and pixels are closed
    forms of (doc_id, n_chars):
      width  = 4 + n_chars % 13, height = 3 + n_chars % 7
      pixel j (row-major) = (doc_id*13 + j*5) % 256.
    Row y is written with PNG filter type y % 5 — None/Sub/Up/Average/
    Paeth all get exercised (height >= 5 hits every type) — then the
    filtered scanlines are zlib-deflated into one IDAT chunk."""
    w = 4 + n_chars % 13
    h = 3 + n_chars % 7
    pix = [[(doc_id * 13 + (y * w + x) * 5) % 256 for x in range(w)] for y in range(h)]
    raw = bytearray()
    for y in range(h):
        ft = y % 5
        raw.append(ft)
        prior = pix[y - 1] if y else [0] * w
        row = pix[y]
        for x in range(w):
            a = row[x - 1] if x else 0  # left
            b = prior[x]  # up
            c = prior[x - 1] if x else 0  # up-left
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            raw.append((row[x] - pred) % 256)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, int, int]:
    """Parse an 8-bit grayscale PNG: signature check, chunk walk with
    CRC32 validation, IHDR geometry, zlib-inflate the concatenated IDAT
    stream, reverse the per-row filter (all five types), and sum the
    reconstructed pixels. Returns (width, height, n_pix, pix_sum,
    raw_len) where raw_len is the decompressed scanline byte count
    h*(1+w) — a closed form, unlike the entropy-coded payload size."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(payload):
        # 12 = 4-byte length + 4-byte tag + 4-byte CRC: anything shorter
        # would make the unpacks below raise struct.error instead of the
        # ValueError this parser contracts to raise on malformed input
        if pos + 12 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(tag + body):
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype != 0 or comp or filt or ilace:
                raise ValueError("only 8-bit non-interlaced grayscale supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (1 + w):
        raise ValueError("decompressed scanline size mismatch")
    pix_sum = 0
    prior = [0] * w
    for y in range(h):
        ft = raw[y * (1 + w)]
        if ft > 4:
            raise ValueError(f"bad filter type {ft}")
        line = raw[y * (1 + w) + 1 : (y + 1) * (1 + w)]
        row = []
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
            row.append((line[x] + pred) % 256)
        pix_sum += sum(row)
        prior = row
    return w, h, w * h, pix_sum, len(raw)


PNG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pix", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("raw_len", T.LongType()),
    ]
)


def png_roundtrip_features(docs: DataFrame) -> DataFrame:
    """Encode a real PNG per document and decode it back inside one
    mapInPandas pass (the bmp/wav round-trip contract: payloads never
    cross a shuffle; every decoded value is a closed form the SQL oracle
    predicts — except the entropy-coded byte size, which is why raw_len
    reports the decompressed scanline count instead)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "doc_id": [], "width": [], "height": [],
                "n_pix": [], "pix_sum": [], "raw_len": [],
            }
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w, h, np_, ps, rl = decode_png(
                    encode_png(int(doc_id), int(n_chars))
                )
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["n_pix"].append(np_)
                out["pix_sum"].append(ps)
                out["raw_len"].append(rl)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=PNG_FEATURE_SCHEMA
    )


# Shared by l57 (parquet-columns path) and r78 (binaryFile path): the
# closed forms a decoded encode_png(doc_id, n_chars) payload must yield.
# ONE copy — if the encoder's formulas change, every consumer's oracle
# moves with them.
PNG_ORACLE_SQL = """
    WITH g AS (
      SELECT doc_id,
             4 + n_chars % 13 AS width,
             3 + n_chars % 7 AS height
      FROM documents
    )
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(width * height AS BIGINT) AS n_pix,
           CAST(list_reduce(list_transform(range(0, width * height),
                  j -> (doc_id * 13 + j * 5) % 256), (a, b) -> a + b)
                AS BIGINT) AS pix_sum,
           CAST(height * (1 + width) AS BIGINT) AS raw_len
    FROM g
    """


def png_payload_features(
    df: DataFrame, payload_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Decode a PNG payload column with decode_png inside one mapInPandas
    pass — the consume half of the round trip, shared by whatever source
    produced the bytes (encode-on-the-fly in l57, binaryFile scan in
    r78). Payloads stay in Arrow batches; nothing crosses a shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in PNG_FEATURE_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, np_, ps, rl = decode_png(bytes(payload))
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["n_pix"].append(np_)
                out["pix_sum"].append(ps)
                out["raw_len"].append(rl)
            yield pd.DataFrame(out)

    return df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).mapInPandas(batches, schema=PNG_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# GIF87a: the multimodal surface's second REAL entropy coding — LZW with
# variable code widths (PNG/l57 covers zlib/DEFLATE; this covers the
# dictionary-coder family). Pure stdlib on both ends.
# ---------------------------------------------------------------------------
_GIF_PALETTE_BITS = 4  # 16-color palette -> min LZW code size 4, so the
# 5->6->7->8-bit code-width transitions are exercised even on tiny images


def _gif_palette() -> list[tuple[int, int, int]]:
    return [(i * 3 % 256, i * 7 % 256, i * 11 % 256) for i in range(16)]


class _BitWriter:
    """LSB-first bit packer (GIF's LZW bit order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(indices: list[int], mcs: int) -> bytes:
    """GIF-variant LZW: clear/EOI codes, code width grows when the next
    dictionary slot would not fit, table reset at 4096."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    bw = _BitWriter()
    width = mcs + 1
    bw.write(clear, width)
    table: dict[bytes, int] = {bytes([i]): i for i in range(1 << mcs)}
    next_code = eoi + 1
    buf = b""
    for idx in indices:
        nxt = buf + bytes([idx])
        if nxt in table:
            buf = nxt
            continue
        bw.write(table[buf], width)
        table[nxt] = next_code
        next_code += 1
        # The decoder learns this entry only after reading the NEXT code,
        # and bumps its read width when its next_code hits 1<<width — so
        # the encoder bumps one step later than the table size suggests.
        if next_code == (1 << width) + 1:
            if width < 12:
                width += 1
            else:  # table full: reset, like real writers do
                bw.write(clear, 12)
                table = {bytes([i]): i for i in range(1 << mcs)}
                next_code = eoi + 1
                width = mcs + 1
        buf = bytes([idx])
    if buf:
        bw.write(table[buf], width)
    bw.write(eoi, width)
    return bw.flush()


def _lzw_encode_uncompressed(indices: list[int], mcs: int) -> bytes:
    """The classic 'LZW-free GIF writer' trick: emit every pixel as a
    literal code and a clear code often enough that the width never
    grows. Trivially auditable — exists so decode_gif is validated
    against an INDEPENDENT second encoder, not just its own mirror."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    bw = _BitWriter()
    bw.write(clear, width)
    # after a clear the decoder's next_code is eoi+1; it adds one entry
    # per literal after the first, so (1<<width) - eoi - 2 literals are
    # safe before the width would change
    budget = (1 << width) - eoi - 2
    n = 0
    for idx in indices:
        if n >= budget:
            bw.write(clear, width)
            n = 0
        bw.write(idx, width)
        n += 1
    bw.write(eoi, width)
    return bw.flush()


def _gif_container(w: int, h: int, lzw_data: bytes) -> bytes:
    pal = b"".join(bytes(c) for c in _gif_palette())
    # logical screen descriptor: global color table, 4 bits/entry
    lsd = struct.pack("<HHBBB", w, h, 0x80 | ((_GIF_PALETTE_BITS - 1) << 4)
                      | (_GIF_PALETTE_BITS - 1), 0, 0)
    img = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    blocks = bytearray([_GIF_PALETTE_BITS])  # min LZW code size
    for i in range(0, len(lzw_data), 255):
        chunk = lzw_data[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"  # block terminator
    return b"GIF87a" + lsd + pal + img + bytes(blocks) + b"\x3b"


def _gif_indices(doc_id: int, n_pix: int) -> list[int]:
    return [(doc_id * 17 + j * 3) % 16 for j in range(n_pix)]


def encode_gif(doc_id: int, n_chars: int, compressed: bool = True) -> bytes:
    """A real GIF87a whose geometry and palette indices are closed forms
    of (doc_id, n_chars): width = 5 + n_chars % 11, height = 4 +
    n_chars % 6, palette index j = (doc_id*17 + j*3) % 16, palette
    entry i = (3i, 7i, 11i) mod 256. compressed=False writes the same
    image through the independent clear-code literal encoder."""
    w, h = 5 + n_chars % 11, 4 + n_chars % 6
    idx = _gif_indices(doc_id, w * h)
    enc = _lzw_encode if compressed else _lzw_encode_uncompressed
    return _gif_container(w, h, enc(idx, _GIF_PALETTE_BITS))


def decode_gif(payload: bytes) -> tuple[int, int, int, int, int]:
    """Parse a GIF87a/89a: header, logical screen descriptor, global
    color table, image descriptor, sub-block walk, then a full GIF-LZW
    decode (variable code width, clear/EOI handling, the deferred
    next-code entry). Returns (width, height, n_pix, idx_sum, rgb_sum)
    where idx_sum sums palette indices and rgb_sum sums the r+g+b of
    each pixel through the palette."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not flags & 0x80:
        raise ValueError("missing global color table")
    gct_n = 2 << (flags & 0x07)
    pal = [tuple(payload[pos + 3 * i : pos + 3 * i + 3]) for i in range(gct_n)]
    pos += 3 * gct_n
    while pos < len(payload) and payload[pos] == 0x21:  # extension blocks
        pos += 2
        while pos < len(payload) and payload[pos]:
            pos += 1 + payload[pos]
        if pos >= len(payload):
            raise ValueError("truncated GIF extension block")
        pos += 1
    if pos >= len(payload) or payload[pos] != 0x2C:
        raise ValueError("missing image descriptor")
    _, _, _, w, h, iflags = struct.unpack_from("<BHHHHB", payload, pos)
    pos += 10
    if iflags & 0xC0:
        raise ValueError("local color tables / interlace unsupported")
    mcs = payload[pos]
    pos += 1
    data = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF sub-block stream")
        blen = payload[pos]
        pos += 1
        if blen == 0:
            break
        if pos + blen > len(payload):
            raise ValueError("truncated GIF sub-block payload")
        data += payload[pos : pos + blen]
        pos += blen
    if pos >= len(payload) or payload[pos] != 0x3B:
        raise ValueError("missing GIF trailer")

    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    acc = nbits = bitpos = 0
    out = bytearray()
    prev: bytes | None = None
    while True:
        while nbits < width:
            if bitpos >= len(data):
                raise ValueError("LZW stream ended without EOI")
            acc |= data[bitpos] << nbits
            bitpos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    if len(out) != w * h:
        raise ValueError("decoded pixel count disagrees with geometry")
    if any(i >= len(pal) for i in out):
        raise ValueError("palette index out of range")
    idx_sum = sum(out)
    rgb_sum = sum(sum(pal[i]) for i in out)
    return w, h, w * h, idx_sum, rgb_sum


GIF_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pix", T.LongType()),
        T.StructField("idx_sum", T.LongType()),
        T.StructField("rgb_sum", T.LongType()),
    ]
)


def gif_roundtrip_features(docs: DataFrame) -> DataFrame:
    """Encode a real GIF per document and decode it back inside one
    mapInPandas pass (the l52/l53/l57 contract: payloads never cross a
    shuffle or the driver; every decoded value is a closed form of
    (doc_id, n_chars) the SQL oracle predicts). Odd doc_ids go through
    the independent uncompressed writer, so BOTH encoder paths are
    exercised corpus-wide on every run."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in GIF_FEATURE_SCHEMA.fields}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                payload = encode_gif(
                    int(doc_id), int(n_chars), compressed=doc_id % 2 == 0
                )
                w, h, np_, isum, rsum = decode_gif(payload)
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["n_pix"].append(np_)
                out["idx_sum"].append(isum)
                out["rgb_sum"].append(rsum)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=GIF_FEATURE_SCHEMA
    )


# The closed forms a decoded encode_gif(doc_id, n_chars) payload must
# yield — palette entry i = (3i, 7i, 11i) mod 256, index j =
# (doc_id*17 + j*3) % 16.
GIF_ORACLE_SQL = """
    WITH g AS (
      SELECT doc_id,
             5 + n_chars % 11 AS width,
             4 + n_chars % 6 AS height
      FROM documents
    )
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(width * height AS BIGINT) AS n_pix,
           CAST(list_reduce(list_transform(range(0, width * height),
                  j -> (doc_id * 17 + j * 3) % 16), (a, b) -> a + b)
                AS BIGINT) AS idx_sum,
           CAST(list_reduce(list_transform(range(0, width * height),
                  j -> (((doc_id * 17 + j * 3) % 16) * 3) % 256
                     + (((doc_id * 17 + j * 3) % 16) * 7) % 256
                     + (((doc_id * 17 + j * 3) % 16) * 11) % 256),
                  (a, b) -> a + b) AS BIGINT) AS rgb_sum
    FROM g
    """


# ---------------------------------------------------------------------------
# Baseline sequential JPEG (l67): the third REAL entropy-coding rung —
# PNG/l57 covers zlib/DEFLATE (LZ77 + canonical Huffman over bytes),
# GIF/l63 covers the dictionary-coder family (LZW), JPEG completes the set
# with transform coding: Huffman-coded DCT coefficients, DC prediction,
# run-length AC, byte stuffing, multi-segment marker structure. stdlib +
# numpy only (no PIL in this container — the FDCT/IDCT are 8x8 orthonormal
# DCT-II matrix products, which IS the JPEG Annex A transform).
# Corpus images are 8x8-block-constant by construction, so with all-ones
# quant tables the lossy pipeline becomes EXACTLY invertible (a constant
# block has only a DC coefficient, and IDCT(DC)/8 reproduces the constant
# bit-exactly after rounding) — that's what makes a value-hash oracle
# possible for a lossy codec. The decoder itself is a general baseline
# decoder (any coefficients, 1- or 3-component 4:4:4, restart markers,
# arbitrary Huffman/quant tables); property tests drive it with arbitrary
# coefficient blocks against a pure-math.cos brute-force IDCT so a shared
# numpy-basis bug between encoder and decoder cannot hide (the l61
# shared-collision lesson applied to transforms).
# ---------------------------------------------------------------------------


def _jpeg_zigzag() -> list[tuple[int, int]]:
    """The spec's zigzag scan as (row, col) pairs, generated not typed:
    diagonal s holds cells row+col == s; odd diagonals walk row-ascending,
    even ones row-descending."""
    out = []
    for s in range(15):
        rows = range(max(0, s - 7), min(s, 7) + 1)
        cells = [(i, s - i) for i in rows]
        out += cells if s % 2 else cells[::-1]
    return out


_JPEG_ZZ = _jpeg_zigzag()
_JPEG_QUANT = [1] * 64  # all-ones: quantization is exact rounding only


def _jpeg_dct_matrix():
    """Orthonormal 8x8 DCT-II basis T: (T @ f @ T.T) equals the JPEG
    Annex-A FDCT (the 1/4 C(u)C(v) scaling folds into the row norms);
    the IDCT is the transpose sandwich."""
    import math

    import numpy as np

    t = np.empty((8, 8))
    for u in range(8):
        c = math.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            t[u, x] = c * math.cos((2 * x + 1) * u * math.pi / 16)
    return t


def _jpeg_size_cat(v: int) -> int:
    return abs(v).bit_length()


def _jpeg_amp_bits(v: int, s: int) -> int:
    return v if v >= 0 else v + (1 << s) - 1


def _jpeg_extend(v: int, s: int) -> int:
    return v - ((1 << s) - 1) if v < (1 << (s - 1)) else v


def _jpeg_huff_spec(symbols) -> tuple[list[int], list[int], dict]:
    """A valid (suboptimal) one-length canonical Huffman table over the
    symbol set: every symbol gets width L = bit_length(n), so the
    all-ones code of any length stays unused (the padding-byte rule).
    Returns (BITS[16], HUFFVAL, {sym: (code, L)}) — the decoder rebuilds
    the identical canonical assignment from BITS/HUFFVAL alone."""
    vals = sorted(set(symbols))
    n = len(vals)
    length = max(1, n.bit_length())
    bits = [0] * 16
    bits[length - 1] = n
    return bits, vals, {s: (i, length) for i, s in enumerate(vals)}


class _JpegBitWriter:
    """MSB-first bit packer with 0xFF byte stuffing; flush pads with 1s."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc = (self.acc << width) | (code & ((1 << width) - 1))
        self.nbits += width
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


def _jpeg_block_symbols(blocks: list[list[int]]):
    """(dc_size_symbols, ac_symbols, per-block token streams) for a
    component's zigzag coefficient blocks, with DC prediction applied."""
    dcsyms, acsyms, toks = [], [], []
    pred = 0
    for blk in blocks:
        t = []
        diff = blk[0] - pred
        pred = blk[0]
        s = _jpeg_size_cat(diff)
        dcsyms.append(s)
        t.append(("dc", s, _jpeg_amp_bits(diff, s)))
        run = 0
        for c in blk[1:]:
            if c == 0:
                run += 1
                continue
            while run > 15:
                acsyms.append(0xF0)
                t.append(("ac", 0xF0, 0))
                run -= 16
            s = _jpeg_size_cat(c)
            sym = (run << 4) | s
            acsyms.append(sym)
            t.append(("ac", sym, _jpeg_amp_bits(c, s)))
            run = 0
        if run:
            acsyms.append(0x00)
            t.append(("ac", 0x00, 0))
        toks.append(t)
    return dcsyms, acsyms, toks


def _jpeg_write(w: int, h: int, comps: list[list[list[int]]]) -> bytes:
    """Serialize a baseline JFIF from per-component zigzag coefficient
    blocks (already quantized, all-ones tables): markers, DQT, SOF0, DHT
    (tables built from the data), SOS, stuffed entropy stream, EOI.
    Component 0 uses table slot 0; components 1-2 share slot 1 (the
    classic luma/chroma split). 4:4:4 interleave, one block per MCU."""
    ncomp = len(comps)
    assert ncomp in (1, 3) and w % 8 == 0 and h % 8 == 0

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    groups = {0: [0]} if ncomp == 1 else {0: [0], 1: [1, 2]}
    dc_spec, ac_spec, comp_toks = {}, {}, {}
    for g, cidx in groups.items():
        dcs, acs = [], []
        for ci in cidx:
            d, a, t = _jpeg_block_symbols(comps[ci])
            dcs += d
            acs += a
            comp_toks[ci] = t
        dc_spec[g] = _jpeg_huff_spec(dcs)
        ac_spec[g] = _jpeg_huff_spec(acs)

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for g in groups:
        out += seg(0xDB, bytes([g]) + bytes(_JPEG_QUANT))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        g = 0 if ci == 0 else 1
        sof += bytes([ci + 1, 0x11, g])
    out += seg(0xC0, sof)
    for g in groups:
        for cls, (bits, vals, _) in ((0, dc_spec[g]), (1, ac_spec[g])):
            out += seg(0xC4, bytes([(cls << 4) | g]) + bytes(bits) + bytes(vals))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        g = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (g << 4) | g])
    out += seg(0xDA, sos + b"\x00\x3f\x00")

    bw = _JpegBitWriter()
    n_mcu = len(comps[0])
    for m in range(n_mcu):
        for ci in range(ncomp):
            g = 0 if ci == 0 else 1
            dct, act = dc_spec[g][2], ac_spec[g][2]
            for kind, sym, amp in comp_toks[ci][m]:
                code, width = (dct if kind == "dc" else act)[sym]
                bw.write(code, width)
                s = sym & 0x0F if kind == "ac" else sym
                if kind == "ac" and sym in (0x00, 0xF0):
                    s = 0
                if s:
                    bw.write(amp, s)
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _jpeg_fdct_blocks(plane) -> list[list[int]]:
    """General encoder path: 8x8 FDCT + all-ones quantization + zigzag
    over a (h, w) uint8 plane (h, w multiples of 8)."""
    import numpy as np

    t = _jpeg_dct_matrix()
    f = plane.astype(np.float64) - 128.0
    h, w = plane.shape
    blocks = []
    for by in range(h // 8):
        for bx in range(w // 8):
            b = t @ f[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] @ t.T
            q = np.rint(b).astype(np.int64)
            blocks.append([int(q[r, c]) for r, c in _JPEG_ZZ])
    return blocks


def _jpeg_dc_only_blocks(values: list[int]) -> list[list[int]]:
    """Independent encoder path for block-constant planes: the analytic
    coefficients (DC = 8*(v-128), all AC zero) written directly — no
    FDCT, so the transform stage is cross-validated the way l63's
    literal writer cross-validates its LZW compressor."""
    return [[8 * (v - 128)] + [0] * 63 for v in values]


def encode_jpeg(doc_id: int, n_chars: int) -> bytes:
    """A real baseline JFIF whose decoded pixels are closed forms of
    (doc_id, n_chars): width = 8*(2 + n_chars % 4), height =
    8*(1 + n_chars % 3); 8x8 block b is the constant
    (doc_id*31 + b*7) % 256. Odd doc_ids write 3-component 4:4:4 YCbCr
    with neutral chroma (Cb = Cr = 128, so RGB == Y exactly); even ones
    grayscale. Odd (doc_id + n_chars) routes through the independent
    analytic DC-only writer, even through the full FDCT path — both
    must decode identically, cross-validating the transform corpus-wide."""
    import numpy as np

    wb, hb = 2 + n_chars % 4, 1 + n_chars % 3
    vals = [(doc_id * 31 + b * 7) % 256 for b in range(wb * hb)]
    if (doc_id + n_chars) % 2:
        y_blocks = _jpeg_dc_only_blocks(vals)
        flat = _jpeg_dc_only_blocks([128] * (wb * hb))
    else:
        grid = np.array(vals, dtype=np.uint8).reshape(hb, wb)
        plane = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
        y_blocks = _jpeg_fdct_blocks(plane)
        flat = _jpeg_fdct_blocks(np.full((hb * 8, wb * 8), 128, np.uint8))
    comps = [y_blocks] if doc_id % 2 == 0 else [y_blocks, flat, flat]
    return _jpeg_write(wb * 8, hb * 8, comps)


class _JpegBitReader:
    """MSB-first bit reader over one entropy segment (already unstuffed)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bits(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream exhausted")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _jpeg_canonical(bits: list[int], vals: list[int]) -> dict:
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def decode_jpeg(payload: bytes) -> tuple[int, int, int, int, int]:
    """General baseline sequential JPEG decoder (stdlib + numpy): marker
    walk (APP*/COM skip, DQT 8-bit, SOF0 only — progressive & friends
    rejected, DHT canonical rebuild, DRI/RSTn with predictor reset),
    entropy decode (byte unstuffing, Huffman DC diff + AC run-length,
    EOB/ZRL), dequantize, inverse zigzag, IDCT, level shift, clamp,
    4:4:4 YCbCr->RGB when 3 components. Returns (width, height, n_pix,
    pix_sum, n_components) where pix_sum sums gray values (1 comp) or
    r+g+b (3 comps)."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    scan_comps = None
    while True:
        if pos + 4 > len(payload) or payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker structure")
        m = payload[pos + 1]
        ln = struct.unpack_from(">H", payload, pos + 2)[0]
        seg = payload[pos + 4 : pos + 2 + ln]
        if len(seg) != ln - 2:
            raise ValueError("truncated JPEG segment")
        pos += 2 + ln
        if m == 0xDB:
            i = 0
            while i < len(seg):
                if seg[i] >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                qt[seg[i] & 0x0F] = list(seg[i + 1 : i + 65])
                i += 65
        elif m == 0xC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for ci in range(nc):
                cid, samp, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise ValueError("only 4:4:4 sampling supported")
                comps.append((cid, tq))
            frame = (w, h, comps)
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG unsupported")
        elif m == 0xC4:
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                huff[(tc, th)] = _jpeg_canonical(bits, vals)
                i += 17 + n
        elif m == 0xDD:
            restart = struct.unpack_from(">H", seg, 0)[0]
        elif m == 0xDA:
            ns = seg[0]
            scan_comps = [(seg[1 + 2 * i], seg[2 + 2 * i] >> 4,
                           seg[2 + 2 * i] & 0x0F) for i in range(ns)]
            break
        elif 0xE0 <= m <= 0xEF or m == 0xFE:
            pass
        else:
            raise ValueError(f"unsupported JPEG marker 0xff{m:02x}")
    if frame is None or scan_comps is None:
        raise ValueError("missing SOF0/SOS")
    w, h, comps = frame

    # unstuff the entropy stream, splitting at restart markers
    segments: list[bytearray] = [bytearray()]
    i = pos
    ended = False
    while i < len(payload):
        b = payload[i]
        if b != 0xFF:
            segments[-1].append(b)
            i += 1
            continue
        nxt = payload[i + 1] if i + 1 < len(payload) else None
        if nxt == 0x00:
            segments[-1].append(0xFF)
            i += 2
        elif nxt is not None and 0xD0 <= nxt <= 0xD7:
            segments.append(bytearray())
            i += 2
        elif nxt == 0xD9:
            ended = True
            break
        else:
            raise ValueError("unexpected marker inside entropy stream")
    if not ended:
        raise ValueError("missing EOI")

    t = _jpeg_dct_matrix()
    inv_zz = _JPEG_ZZ
    mx, my = (w + 7) // 8, (h + 7) // 8
    planes = [np.zeros((my * 8, mx * 8)) for _ in comps]
    order = {cid: k for k, (cid, _) in enumerate(comps)}
    # Malformed streams must raise ValueError on every path (the decode_gif
    # contract): validate the scan's component ids and every referenced
    # quant/Huffman table slot before entropy decode, otherwise order[cid]
    # / qt[...] / huff[...] would surface KeyError instead.
    for cid, td, ta in scan_comps:
        if cid not in order:
            raise ValueError("SOS component id not declared in SOF0")
        if comps[order[cid]][1] not in qt:
            raise ValueError("quant table slot referenced but not defined")
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError("Huffman table slot referenced but not defined")
    preds = [0] * len(comps)
    seg_idx = 0
    rd = _JpegBitReader(bytes(segments[0]))
    for mcu in range(mx * my):
        if restart and mcu and mcu % restart == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("missing restart segment")
            rd = _JpegBitReader(bytes(segments[seg_idx]))
            preds = [0] * len(comps)
        by, bx = divmod(mcu, mx)
        for cid, td, ta in scan_comps:
            k = order[cid]
            q = qt[comps[k][1]]
            s = rd.huff(huff[(0, td)])
            diff = _jpeg_extend(rd.bits(s), s) if s else 0
            preds[k] += diff
            coef = [0] * 64
            coef[0] = preds[k] * q[0]
            z = 1
            while z < 64:
                sym = rd.huff(huff[(1, ta)])
                if sym == 0x00:
                    break
                run, size = sym >> 4, sym & 0x0F
                if size == 0:
                    if run != 15:
                        raise ValueError("bad AC symbol")
                    z += 16
                    continue
                z += run
                if z > 63:
                    raise ValueError("AC index overflow")
                coef[z] = _jpeg_extend(rd.bits(size), size) * q[z]
                z += 1
            blk = np.zeros((8, 8))
            for zi, (r, c) in enumerate(inv_zz):
                blk[r, c] = coef[zi]
            pix = t.T @ blk @ t + 128.0
            planes[k][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = pix

    planes = [np.clip(np.rint(p[:h, :w]), 0, 255) for p in planes]
    if len(planes) == 1:
        pix_sum = int(planes[0].sum())
    elif len(planes) == 3:
        y, cb, cr = planes
        r = np.clip(np.rint(y + 1.402 * (cr - 128.0)), 0, 255)
        g = np.clip(
            np.rint(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)),
            0, 255,
        )
        b = np.clip(np.rint(y + 1.772 * (cb - 128.0)), 0, 255)
        pix_sum = int(r.sum() + g.sum() + b.sum())
    else:
        raise ValueError("only 1- or 3-component scans supported")
    return w, h, w * h, pix_sum, len(planes)


JPEG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pix", T.LongType()),
        T.StructField("n_components", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
    ]
)


def jpeg_roundtrip_features(docs: DataFrame) -> DataFrame:
    """Encode a real baseline JPEG per document and decode it back inside
    one mapInPandas pass (the l52/l53/l57/l63 contract: payloads never
    cross a shuffle or the driver). Odd doc_ids exercise the 3-component
    YCbCr path, even ones grayscale; odd (doc_id + n_chars) routes
    through the analytic DC-only writer, even through the full FDCT —
    all four combinations decode to the same closed forms."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in JPEG_FEATURE_SCHEMA.fields}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                payload = encode_jpeg(int(doc_id), int(n_chars))
                w, h, np_, psum, nc = decode_jpeg(payload)
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["n_pix"].append(np_)
                out["n_components"].append(nc)
                out["pix_sum"].append(psum)
            yield pd.DataFrame(out)

    return _spread_deficient_scan(
        docs.select("doc_id", "n_chars")
    ).mapInPandas(batches, schema=JPEG_FEATURE_SCHEMA)


# Closed forms a decoded encode_jpeg(doc_id, n_chars) must yield: block b
# is the constant (doc_id*31 + b*7) % 256, 64 pixels per block; color
# parity triples the sum (neutral chroma makes R = G = B = Y exactly).
JPEG_ORACLE_SQL = """
    WITH g AS (
      SELECT doc_id,
             8 * (2 + n_chars % 4) AS width,
             8 * (1 + n_chars % 3) AS height,
             (2 + n_chars % 4) * (1 + n_chars % 3) AS nb
      FROM documents
    )
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(width * height AS BIGINT) AS n_pix,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS BIGINT)
             AS n_components,
           CAST((CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END) * 64
                * list_reduce(list_transform(range(0, nb),
                    b -> (doc_id * 31 + b * 7) % 256), (a, b) -> a + b)
                AS BIGINT) AS pix_sum
    FROM g
    """


# ---------------------------------------------------------------------------
# G.711 mu-law WAV (l69): the audio rung of the real-codec ladder — where
# PCM WAV (l53) is container-only, this decodes an actual companded codec.
# Unlike the adaptive/transform codecs, mu-law is a stateless per-sample
# map, so decode(encode(x)) has an exact integer closed form a SQL oracle
# can replay on ARBITRARY samples — no planted-exactness trick needed (the
# JPEG/l67 situation inverted). The implementation is the CCITT 14-bit
# G.711 reference (Sun g711.c lineage): bit-exact, over the ENTIRE 16-bit
# input domain, with CPython's independent audioop implementation — pinned
# by pytest where audioop exists (stdlib <= 3.12).
# ---------------------------------------------------------------------------
def mulaw_encode_sample(x: int) -> int:
    """16-bit PCM -> 8-bit mu-law (CCITT G.711, 14-bit internal): floor
    shift to 14 bits, sign-split mask, clip at 8159, +33 bias, segment
    search, 4-bit mantissa, complement."""
    v = x >> 2
    if v < 0:
        v, mask = -v, 0x7F
    else:
        mask = 0xFF
    v = min(v, 8159) + 33
    if v > 0x1FFF:  # clipped ceiling: the spec's out-of-range escape
        return mask - 0x7F
    seg = 0
    for th in (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF):
        if v > th:
            seg += 1
    man = (v >> (seg + 1)) & 0x0F
    return mask - ((seg << 4) | man)


def mulaw_decode_sample(c: int) -> int:
    """8-bit mu-law -> 16-bit PCM: complement, segment exponent, mantissa
    midpoint, bias removal, sign."""
    v = 0xFF - c
    seg = (v >> 4) & 0x07
    man = v & 0x0F
    t = (((man << 3) + 0x84) << seg) - 0x84
    return -t if v & 0x80 else t


def encode_wav_mulaw(doc_id: int, n_chars: int, framerate: int = 8000) -> bytes:
    """A real mono mu-law WAV (RIFF format tag 7, 8 bits/sample, with the
    'fact' chunk non-PCM formats require) whose samples are closed forms
    of (doc_id, n_chars):
      n_samples = 80 + n_chars % 64
      sample j  = ((doc_id*37 + j*101) % 65536) - 32768   (int16)"""
    n = 80 + n_chars % 64
    data = bytes(
        mulaw_encode_sample(((doc_id * 37 + j * 101) % 65536) - 32768)
        for j in range(n)
    )
    fmt = struct.pack("<HHIIHH", 7, 1, framerate, framerate, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", 4) + struct.pack("<I", n)
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_mulaw(payload: bytes) -> tuple[int, int, int, list[int]]:
    """Parse a mu-law RIFF/WAVE (manual chunk walk — the stdlib wave
    module only reads PCM): fmt must declare tag 7 / mono / 8-bit, the
    fact chunk (when present) must agree with the data length, then
    expand every byte through the G.711 table. Returns (n_samples,
    framerate, code_sum, decoded samples)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    if struct.unpack_from("<I", payload, 4)[0] != len(payload) - 8:
        raise ValueError("RIFF size disagrees with payload")
    pos = 12
    fmt = fact_n = data = None
    while pos + 8 <= len(payload):
        cid, sz = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + sz]
        if len(body) != sz:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"fact":
            fact_n = struct.unpack("<I", body[:4])[0]
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz % 2)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    tag, channels, framerate, _byterate, _align, bits = fmt
    if tag != 7:
        raise ValueError(f"not mu-law (format tag {tag})")
    if channels != 1 or bits != 8:
        raise ValueError("only mono 8-bit mu-law supported")
    if fact_n is not None and fact_n != len(data):
        raise ValueError("fact chunk disagrees with data length")
    decoded = [mulaw_decode_sample(c) for c in data]
    return len(data), framerate, sum(data), decoded


MULAW_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("code_sum", T.LongType()),
        T.StructField("decoded_sum", T.LongType()),
        T.StructField("abs_err_sum", T.LongType()),
    ]
)


def mulaw_roundtrip_features(docs: DataFrame) -> DataFrame:
    """Encode a real mu-law WAV per document and decode it back inside
    one mapInPandas pass (the l52/l53/l57/l63/l67 contract). abs_err_sum
    is the total companding quantization error against the known input
    samples — the lossiness itself is part of the hash-checked contract,
    since decode(encode(x)) is an exact closed form per sample."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in MULAW_FEATURE_SCHEMA.fields}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                doc_id, n_chars = int(doc_id), int(n_chars)
                payload = encode_wav_mulaw(doc_id, n_chars)
                n, _fr, code_sum, decoded = decode_wav_mulaw(payload)
                xs = [
                    ((doc_id * 37 + j * 101) % 65536) - 32768
                    for j in range(n)
                ]
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["code_sum"].append(code_sum)
                out["decoded_sum"].append(sum(decoded))
                out["abs_err_sum"].append(
                    sum(abs(y - x) for y, x in zip(decoded, xs))
                )
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=MULAW_FEATURE_SCHEMA
    )


# The G.711 closed forms, replayed stepwise per (doc, sample) row: encode
# (floor-shift, sign mask, clip+bias, segment CASE ladder, mantissa,
# complement) then decode (complement, segment exponent, midpoint, bias).
MULAW_ORACLE_SQL = """
    WITH g AS (
      SELECT doc_id, 80 + n_chars % 64 AS n FROM documents
    ),
    s AS (
      SELECT doc_id, n, unnest(range(0, n)) AS j FROM g
    ),
    x AS (
      SELECT doc_id, n, ((doc_id * 37 + j * 101) % 65536) - 32768 AS x
      FROM s
    ),
    e1 AS (
      SELECT doc_id, n, x,
             CAST(floor(x / 4.0) AS BIGINT) AS v0
      FROM x
    ),
    e2 AS (
      SELECT doc_id, n, x,
             CASE WHEN v0 < 0 THEN 127 ELSE 255 END AS mask,
             least(abs(v0), 8159) + 33 AS v
      FROM e1
    ),
    e3 AS (
      SELECT doc_id, n, x, mask, v,
             CASE WHEN v <= 63 THEN 0 WHEN v <= 127 THEN 1
                  WHEN v <= 255 THEN 2 WHEN v <= 511 THEN 3
                  WHEN v <= 1023 THEN 4 WHEN v <= 2047 THEN 5
                  WHEN v <= 4095 THEN 6 ELSE 7 END AS seg
      FROM e2
    ),
    enc AS (
      SELECT doc_id, n, x,
             CASE WHEN v > 8191 THEN mask - 127
                  ELSE mask - (seg * 16
                       + (CAST(floor(v / CAST(1 << (seg + 1) AS DOUBLE))
                               AS BIGINT) % 16)) END AS code
      FROM e3
    ),
    d1 AS (
      SELECT doc_id, n, x, code, 255 - code AS u FROM enc
    ),
    dec AS (
      SELECT doc_id, n, x, code,
             CASE WHEN u >= 128 THEN -(((u % 16) * 8 + 132)
                    * (1 << ((u // 16) % 8)) - 132)
                  ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
             END AS y
      FROM d1
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST(sum(code) AS BIGINT) AS code_sum,
           CAST(sum(y) AS BIGINT) AS decoded_sum,
           CAST(sum(abs(y - x)) AS BIGINT) AS abs_err_sum
    FROM dec
    GROUP BY doc_id
    """


BMP_TILE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("mean_all", T.LongType()),
        T.StructField("mean_tl", T.LongType()),
        T.StructField("mean_tr", T.LongType()),
        T.StructField("mean_bl", T.LongType()),
        T.StructField("mean_br", T.LongType()),
    ]
)


def tile_means(w: int, h: int, vals: list[int]) -> tuple[int, int, int, int, int]:
    """Quadrant integer means of a gray plane (top-down row-major):
    (all, top-left, top-right, bottom-left, bottom-right), each a floor
    division of the region pixel sum by the region area. The 2x2 tile
    grid splits at x = w//2, y = h//2 (left/top tiles take the floor
    half). Pure integer arithmetic — the standard coarse 'image
    embedding' a training pipeline extracts before any learned model."""
    lw, th = w // 2, h // 2
    sums = [0, 0, 0, 0]
    cnts = [0, 0, 0, 0]
    for y in range(h):
        for x in range(w):
            q = (0 if y < th else 2) + (0 if x < lw else 1)
            sums[q] += vals[y * w + x]
            cnts[q] += 1
    total = sum(sums)
    return (
        total // (w * h),
        sums[0] // cnts[0],
        sums[1] // cnts[1],
        sums[2] // cnts[2],
        sums[3] // cnts[3],
    )


def bmp_tile_features(docs: DataFrame) -> DataFrame:
    """REAL image feature extraction: encode each document's genuine
    24bpp BMP, decode the full pixel plane back out of the binary, and
    reduce it to the 2x2 tile-mean feature vector (the coarse spatial
    signature multimodal dedup/similarity pipelines compute before any
    learned embedding). One mapInPandas pass — payloads never cross a
    shuffle or reach the driver; every output is a closed form of
    (doc_id, n_chars) so the whole decode-then-pool path value-hash
    checks against SQL."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k.name: [] for k in BMP_TILE_SCHEMA.fields}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w, h, vals = decode_bmp_pixels(
                    encode_bmp(int(doc_id), int(n_chars))
                )
                ma, tl, tr, bl, br = tile_means(w, h, vals)
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["mean_all"].append(ma)
                out["mean_tl"].append(tl)
                out["mean_tr"].append(tr)
                out["mean_bl"].append(bl)
                out["mean_br"].append(br)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=BMP_TILE_SCHEMA
    )


def decimate_wav(payload: bytes) -> bytes:
    """2:1 audio decimation on a real mono 16-bit PCM WAV: consecutive
    sample pairs average (in the UNSIGNED code domain, floor division —
    nonnegative operands, so every engine and language agrees), an odd
    tail sample passes through, and the result re-encodes as a real WAV
    at half the frame rate. The resample step every audio training
    pipeline runs before feature extraction, kept bit-deterministic."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("expected mono 16-bit PCM")
        n = w.getnframes()
        rate = w.getframerate()
        samples = struct.unpack(f"<{n}h", w.readframes(n))
    codes = [s + 32768 for s in samples]
    out_codes = [
        (codes[2 * k] + codes[2 * k + 1]) // 2 for k in range(n // 2)
    ]
    if n % 2:
        out_codes.append(codes[-1])
    frames = b"".join(struct.pack("<h", c - 32768) for c in out_codes)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate // 2)
        w.writeframes(frames)
    return buf.getvalue()


def wav_decimate_features(docs: DataFrame) -> DataFrame:
    """Encode a real WAV per document, 2:1-decimate it (real sample
    arithmetic on decoded frames), re-encode at half rate, and decode
    the RESULT back — four genuine codec passes in one mapInPandas
    stage, the audio analog of bmp_downscale_features. Every output is
    a closed form of (doc_id, n_chars) for the SQL oracle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "doc_id": [], "n_samples": [], "framerate": [],
                "n_bytes": [], "sample_sum": [],
            }
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n, rate, nb, ssum = decode_wav(
                    decimate_wav(encode_wav(int(doc_id), int(n_chars)))
                )
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(n)
                out["framerate"].append(rate)
                out["n_bytes"].append(nb)
                out["sample_sum"].append(ssum)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "n_chars").mapInPandas(
        batches, schema=WAV_FEATURE_SCHEMA
    )
