"""Multimodal columns: opaque binary media + typed metadata.

The pattern for image/audio/video at 100 TB: media travels as an
opaque ``binary`` column with typed metadata alongside; decode /
feature-extraction runs as Arrow-batched Python (``mapInPandas``) so
each task processes a columnar batch without per-row serde.
Uncompressed formats (binary netpbm images, RIFF WAVE PCM audio)
decode for REAL in pure numpy/stdlib (``functions/media.py``,
exercised by q101/q102 below); compressed codecs (JPEG/MP3/H.264)
need native libraries this container does not ship and stay behind
the documented :func:`decode_media` NotImplementedError branch.

``documents.text`` bytes stand in for the media payload; on a real
corpus the source column would be parquet binary written by the
ingest layer.
"""

from __future__ import annotations

import hashlib
import sys
from typing import Iterator

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.media import (
    decode_png,
    decode_pnm,
    decode_wav,
    encode_pgm,
    encode_png,
    encode_wav_pcm16,
    mean_pool,
)
from ..plans.registry import register
from ..sources.tables import load_table

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("media_md5", T.StringType(), True),
        T.StructField("header_hex", T.StringType(), True),
        T.StructField("thumb_md5", T.StringType(), True),
    ]
)


def decode_media(payload: bytes) -> object:
    """Decode one media payload, dispatching on magic bytes.

    Uncompressed container formats decode for real in pure
    Python/numpy (``functions/media.py``): binary netpbm images
    (``P5``/``P6``) and RIFF WAVE PCM audio. Compressed codecs
    (JPEG/PNG/MP3/H.264) require native libraries this container does
    not ship; a production deployment plugs Pillow/libav into this
    hook. The engine only requires that the function is batch-applied
    inside mapInPandas.
    """
    head = bytes(payload[:12])
    if head[:2] in (b"P5", b"P6"):
        return decode_pnm(payload)
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        return decode_wav(payload)
    if head[:8] == b"\x89PNG\r\n\x1a\n":
        # DEFLATE is stdlib zlib: PNG decodes for real (media.decode_png)
        return decode_png(payload)
    raise NotImplementedError(
        "native-codec formats (JPEG/MP3/H.264) not installed; "
        "PGM/PPM, WAV PCM and PNG decode here"
    )


def _extract_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        payloads = pdf["media"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "media_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                "header_hex": payloads.map(lambda b: bytes(b[:8]).hex()),
                # deterministic fake "thumbnail": first 64 bytes digest
                "thumb_md5": payloads.map(lambda b: hashlib.md5(bytes(b[:64])).hexdigest()),
            }
        )


@register(
    "q60_multimodal_features",
    """
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           md5(text) AS media_md5,
           lower(hex(CAST(substr(text, 1, 8) AS BLOB))) AS header_hex,
           md5(substr(text, 1, 64)) AS thumb_md5
    FROM documents
    ORDER BY doc_id
    """,
    doc="Multimodal feature extraction: binary media column -> Arrow-"
    "batched mapInPandas (length, content hash, header bytes, "
    "thumbnail digest stub). Partition-parallel, no shuffle; the "
    "oracle recomputes the same features in SQL.",
)
def q60_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("media"))
    return media.mapInPandas(_extract_batch, schema=FEATURE_SCHEMA).orderBy("doc_id")


@register(
    "q61_media_dedup",
    """
    SELECT media_md5 AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc
    FROM (
      SELECT doc_id, md5(text) AS media_md5 FROM documents
    ) t
    GROUP BY media_md5
    ORDER BY content_hash
    """,
    doc="Media dedup on the extracted content hash — exact dedup over "
    "binary columns composes the multimodal extraction with the "
    "hash-groupBy dedup stage.",
)
def q61_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = q60_multimodal_features(spark, sf_dir)
    return (
        feats.groupBy(F.col("media_md5").alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_doc"))
        .orderBy("content_hash")
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_offset", T.LongType(), False),
        T.StructField("frame_md5", T.StringType(), True),
    ]
)

#: fixed-size "frame" window over the media payload and the sampling
#: stride — a real deployment reads container metadata instead.
FRAME_BYTES = 32
FRAME_STRIDE = 4


def _sample_frames(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """1 media row -> N sampled frames: every FRAME_STRIDE-th
    FRAME_BYTES-sized window. Real frame decode (libav) would slot in
    here; the fan-out, offsets and per-frame metadata are the part the
    engine owns."""
    for pdf in it:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_offset": [], "frame_md5": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
            data = bytes(payload)
            n_frames = len(data) // FRAME_BYTES
            for i in range(0, n_frames, FRAME_STRIDE):
                off = i * FRAME_BYTES
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_offset"].append(off)
                out["frame_md5"].append(
                    hashlib.md5(data[off : off + FRAME_BYTES]).hexdigest()
                )
        yield pd.DataFrame(out)


@register(
    "q62_frame_sample",
    f"""
    WITH frames AS (
      SELECT doc_id,
             unnest(range(0, len(text) // {FRAME_BYTES}, {FRAME_STRIDE})) AS frame_idx
      FROM documents
    )
    SELECT f.doc_id,
           CAST(f.frame_idx AS INTEGER) AS frame_idx,
           CAST(f.frame_idx * {FRAME_BYTES} AS BIGINT) AS frame_offset,
           md5(substr(d.text, 1 + f.frame_idx * {FRAME_BYTES}, {FRAME_BYTES})) AS frame_md5
    FROM frames f JOIN documents d USING (doc_id)
    ORDER BY doc_id, frame_idx
    """,
    doc="Frame sampling: one media row fans out to every 4th fixed-size "
    "frame window with offset metadata and a per-frame digest (the "
    "video keyframe-sampling shape). Arrow-batched mapInPandas, "
    "partition-parallel, output size bounded by stride.",
)
def q62_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("media"))
    return media.mapInPandas(_sample_frames, schema=FRAME_SCHEMA).orderBy(
        "doc_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# Real decode queries: PGM image + WAV audio round-trips.
#
# The media payloads are constructed deterministically from each
# document's md5 hex digest (64 ASCII bytes = md5(text) || md5(md5(text)))
# because the shared tables carry no real media; the CONSTRUCTION is
# fixture, the DECODE is product — a full header parse + raster/PCM
# read in pure numpy/stdlib (functions/media.py). The oracles recompute
# the features straight from the digest characters, so a hash match
# proves the encode->decode round-trip preserved every byte and the
# header fields (width/height/maxval, channels/rate/bit depth) were
# actually parsed out of the payload.
# ---------------------------------------------------------------------------

IMG_W = IMG_H = 8
WAV_RATE = 16000

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("maxval", T.IntegerType(), True),
        T.StructField("luma_sum", T.LongType(), True),
        T.StructField("luma_sq_sum", T.LongType(), True),
        T.StructField("thumb_luma_x4", T.LongType(), True),
    ]
)


def _digest64(text: str) -> bytes:
    h1 = hashlib.md5(text.encode("utf-8")).hexdigest()
    h2 = hashlib.md5(h1.encode("ascii")).hexdigest()
    return (h1 + h2).encode("ascii")


def _decode_images(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        out: dict[str, list] = {f.name: [] for f in IMAGE_SCHEMA.fields}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            raster = np.frombuffer(_digest64(text), dtype=np.uint8).reshape(IMG_H, IMG_W)
            w, h, maxval, pixels = decode_media(encode_pgm(raster))
            px = pixels.astype(np.int64)
            # 2x2 mean-pool thumbnail; x4 undoes the per-cell mean so
            # the sum stays integer-exact (equal to the raster sum by
            # linearity — which is exactly what the oracle can check)
            thumb = mean_pool(pixels)
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["maxval"].append(maxval)
            out["luma_sum"].append(int(px.sum()))
            out["luma_sq_sum"].append(int((px * px).sum()))
            out["thumb_luma_x4"].append(int(round(thumb.sum() * 4)))
        yield pd.DataFrame(out, columns=[f.name for f in IMAGE_SCHEMA.fields])


@register(
    "q101_image_decode",
    """
    WITH h AS (
      SELECT doc_id, md5(text) || md5(md5(text)) AS hx FROM documents
    ),
    px AS (
      SELECT doc_id, ord(substr(hx, CAST(i AS INTEGER), 1)) AS v
      FROM h, range(1, 65) t(i)
    )
    SELECT doc_id,
           8 AS width,
           8 AS height,
           255 AS maxval,
           CAST(SUM(v) AS BIGINT) AS luma_sum,
           CAST(SUM(v * v) AS BIGINT) AS luma_sq_sum,
           CAST(SUM(v) AS BIGINT) AS thumb_luma_x4
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Real image decode: each doc's digest bytes are framed as an "
    "8x8 binary PGM, then decoded by an actual netpbm parser (header "
    "tokens -> width/height/maxval, raster -> numpy) and 2x2 "
    "mean-pooled, all inside Arrow-batched mapInPandas. width/height/"
    "maxval come from the parsed header and the luma sums from the "
    "decoded raster, so the oracle match proves the byte-exact "
    "round-trip (mean-pool x16 == raster sum by linearity). "
    "Partition-parallel, no shuffle.",
)
def q101_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "text")
        .mapInPandas(_decode_images, schema=IMAGE_SCHEMA)
        .orderBy("doc_id")
    )


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("energy", T.LongType(), True),
    ]
)


def _decode_audio(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        out: dict[str, list] = {f.name: [] for f in AUDIO_SCHEMA.fields}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            hx = np.frombuffer(_digest64(text), dtype=np.uint8).astype(np.int64)
            pcm = ((hx - 100) * 257).astype(np.int16)  # hex chars -> int16 range
            nch, rate, width, samples = decode_media(encode_wav_pcm16(pcm, WAV_RATE))
            out["doc_id"].append(doc_id)
            out["n_channels"].append(nch)
            out["sample_rate"].append(rate)
            out["bits_per_sample"].append(width * 8)
            out["n_samples"].append(len(samples))
            out["duration_ms"].append(len(samples) * 1000 // rate)
            out["energy"].append(int((samples * samples).sum()))
        yield pd.DataFrame(out, columns=[f.name for f in AUDIO_SCHEMA.fields])


@register(
    "q102_audio_decode",
    f"""
    WITH h AS (
      SELECT doc_id, md5(text) || md5(md5(text)) AS hx FROM documents
    ),
    px AS (
      SELECT doc_id,
             (ord(substr(hx, CAST(i AS INTEGER), 1)) - 100) * 257 AS s
      FROM h, range(1, 65) t(i)
    )
    SELECT doc_id,
           1 AS n_channels,
           {WAV_RATE} AS sample_rate,
           16 AS bits_per_sample,
           COUNT(*) AS n_samples,
           COUNT(*) * 1000 // {WAV_RATE} AS duration_ms,
           CAST(SUM(s * s) AS BIGINT) AS energy
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Real audio decode: digest-derived int16 PCM is framed as a "
    "RIFF WAVE file and decoded by an actual WAV reader (fmt chunk -> "
    "channels/rate/bit depth, data chunk -> samples), Arrow-batched in "
    "mapInPandas. Header fields and the exact integer energy "
    "(sum of squares) hash-match the oracle's recomputation from the "
    "digest characters — proving the PCM round-trip bit-exact.",
)
def q102_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "text")
        .mapInPandas(_decode_audio, schema=AUDIO_SCHEMA)
        .orderBy("doc_id")
    )


PNG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("color_type", T.IntegerType(), True),
        T.StructField("luma_sum", T.LongType(), True),
        T.StructField("luma_sq_sum", T.LongType(), True),
    ]
)


def _decode_pngs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        out: dict[str, list] = {f.name: [] for f in PNG_SCHEMA.fields}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            raster = np.frombuffer(_digest64(text), dtype=np.uint8).reshape(IMG_H, IMG_W)
            w, h, depth, ctype, pixels = decode_media(encode_png(raster))
            px = pixels.astype(np.int64)
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["bit_depth"].append(depth)
            out["color_type"].append(ctype)
            out["luma_sum"].append(int(px.sum()))
            out["luma_sq_sum"].append(int((px * px).sum()))
        yield pd.DataFrame(out, columns=[f.name for f in PNG_SCHEMA.fields])


@register(
    "q106_png_decode",
    """
    WITH h AS (
      SELECT doc_id, md5(text) || md5(md5(text)) AS hx FROM documents
    ),
    px AS (
      SELECT doc_id, ord(substr(hx, CAST(i AS INTEGER), 1)) AS v
      FROM h, range(1, 65) t(i)
    )
    SELECT doc_id,
           8 AS width,
           8 AS height,
           8 AS bit_depth,
           0 AS color_type,
           CAST(SUM(v) AS BIGINT) AS luma_sum,
           CAST(SUM(v * v) AS BIGINT) AS luma_sq_sum
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Real COMPRESSED image decode: each doc's digest raster is "
    "framed as an 8-bit grayscale PNG (chunk framing + CRC32 + DEFLATE "
    "via stdlib zlib, scanline filters cycling 0-4) and decoded by the "
    "pure-Python PNG reader (functions/media.py:decode_png) — IHDR "
    "parse, CRC verify, bounded inflate, per-filter unfiltering — all "
    "inside Arrow-batched mapInPandas. The oracle recomputes the luma "
    "sums straight from the digest characters, so a hash match proves "
    "the DEFLATE round-trip and every unfilter path byte-exact. "
    "Partition-parallel, no shuffle.",
)
def q106_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "text")
        .mapInPandas(_decode_pngs, schema=PNG_SCHEMA)
        .orderBy("doc_id")
    )


# keep the by-value shipping invariant for mapInPandas closures
cloudpickle.register_pickle_by_value(sys.modules[__name__])


# ---------------------------------------------------------------------------
# q154 — perceptual-hash (aHash) near-duplicate images
# ---------------------------------------------------------------------------

#: perceptual-dedup geometry: 16x16 synthetic rasters, 8x8 aHash =
#: 64 bits carried as four 16-bit band keys
PH_SIZE = 16
PH_BANDS = 4
PH_HAMMING_MAX = 4
#: the two cells (+1 brightness) that differentiate clone k of a base
#: image — a sub-perceptual perturbation the exact md5 sees but the
#: mean-threshold hash must NOT
_PH_FLIPS = [(53, 0), (131, 7)]


def _ph_pixel_sql(r: str, c: str) -> str:
    """Closed-form pixel value: base gradient by image group + the
    per-clone 2-cell perturbation (doc_id = 3*g + k)."""
    cell = f"(({r}) * {PH_SIZE} + ({c}))"
    flips = " + ".join(
        f"CASE WHEN {cell} = ((doc_id % 3) * {a} + {b}) % 256 THEN 1 ELSE 0 END"
        for a, b in _PH_FLIPS
    )
    return (
        f"(((doc_id // 3) * 2654435761 + {cell} * "
        f"(97 + ((doc_id // 3) % 13) * 16)) % 251 + {flips})"
    )


def _ph_oracle_sql() -> str:
    blocksum = " + ".join(
        _ph_pixel_sql(f"2 * (b // 8) + {dr}", f"2 * (b % 8) + {dc}")
        for dr in (0, 1)
        for dc in (0, 1)
    )
    band = (
        "list_transform(range(0, {nb}), j -> CAST(list_sum(list_transform("
        "range(0, 16), i -> CASE WHEN blocks[16 * j + i + 1] * 64 > total "
        "THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT))"
    ).format(nb=PH_BANDS)
    return f"""
    WITH h AS (
      SELECT doc_id,
             list_transform(range(0, 64), b -> {blocksum}) AS blocks
      FROM documents
    ),
    hb AS (
      SELECT doc_id, blocks, list_sum(blocks) AS total FROM h
    ),
    bands AS (
      SELECT doc_id, {band} AS bands FROM hb
    ),
    ex AS (
      SELECT doc_id, unnest(bands) AS bkey,
             generate_subscripts(bands, 1) AS j, bands
      FROM bands
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.bands AS ba, b.bands AS bb
      FROM ex a JOIN ex b
        ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ba[1], bb[1])) + bit_count(xor(ba[2], bb[2]))
              + bit_count(xor(ba[3], bb[3])) + bit_count(xor(ba[4], bb[4]))
              AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ba[1], bb[1])) + bit_count(xor(ba[2], bb[2]))
        + bit_count(xor(ba[3], bb[3])) + bit_count(xor(ba[4], bb[4]))
        <= {PH_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """


PH_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType(), False)]
    + [T.StructField(f"b{j}", T.LongType(), True) for j in range(PH_BANDS)]
)


def _ahash_bands(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        out: dict[str, list] = {f.name: [] for f in PH_SCHEMA.fields}
        for doc_id in pdf["doc_id"]:
            did = int(doc_id)
            g, k = did // 3, did % 3
            idx = np.arange(PH_SIZE * PH_SIZE, dtype=np.int64)
            raster = (g * 2654435761 + idx * (97 + (g % 13) * 16)) % 251
            for a, b in _PH_FLIPS:
                raster = raster + (idx == (k * a + b) % 256)
            raster = raster.reshape(PH_SIZE, PH_SIZE).astype(np.uint8)
            # REAL codec round-trip: the hash is computed from decoded
            # bytes, so a codec bug breaks the closed-form oracle match
            _, _, _, px = decode_media(encode_pgm(raster))
            px = px.astype(np.int64)
            blocks = px.reshape(8, 2, 8, 2).sum(axis=(1, 3)).reshape(64)
            total = int(blocks.sum())
            bits = (blocks * 64 > total).astype(np.int64)
            out["doc_id"].append(did)
            for j in range(PH_BANDS):
                out[f"b{j}"].append(int((bits[16 * j : 16 * j + 16] << np.arange(16)).sum()))
        yield pd.DataFrame(out)


@register(
    "q154_perceptual_near_dup",
    _ph_oracle_sql(),
    doc="Perceptual-hash near-duplicate image detection: every third "
    "document shares a base 16x16 raster with its two neighbors, "
    "differing only by a 2-pixel brightness perturbation — exact "
    "content hashing (q61) sees three distinct files, but the 8x8 "
    "average-hash (block mean vs global mean, computed in exact "
    "integer arithmetic as blocksum*64 > total) differs by at most "
    "2 bits. The 64-bit hash is carried as four 16-bit bands; "
    "pigeonhole guarantees near-dups share at least one exact band, "
    "so candidates come from a band equi-join — never all-pairs — "
    "and Hamming <= 4 verifies via bit_count(xor) on the candidate "
    "set only (the q42 LSH topology transplanted to images). The "
    "Spark side computes hashes from REAL PGM encode->decode "
    "round-trips inside Arrow-batched mapInPandas; the oracle "
    "recomputes them closed-form from the construction, so one "
    "corrupted pixel anywhere in the codec chain breaks the match.",
)
def q154_perceptual_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bands = docs.mapInPandas(_ahash_bands, schema=PH_SCHEMA)
    band_structs = F.array(
        *[
            F.struct(F.lit(j + 1).alias("j"), F.col(f"b{j}").alias("bkey"))
            for j in range(PH_BANDS)
        ]
    )
    ex = bands.select(
        "doc_id",
        *[F.col(f"b{j}") for j in range(PH_BANDS)],
        F.explode(band_structs).alias("bb"),
    ).select("doc_id", *[f"b{j}" for j in range(PH_BANDS)], "bb.j", "bb.bkey")
    a, b = ex.alias("a"), ex.alias("b")
    hamming = sum(
        F.bit_count(
            F.col(f"a.b{j}").bitwiseXOR(F.col(f"b.b{j}"))
        )
        for j in range(PH_BANDS)
    )
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= PH_HAMMING_MAX).orderBy(
        "doc_a", "doc_b"
    )
