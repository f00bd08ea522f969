"""Multimodal (image/audio/video) columns (SURVEY §2 B26).

Design: media is an opaque ``binary`` column + a typed metadata struct,
ingested via ``binaryFile`` (sources/readers.read_binary_files) or built
from any bytes column.  Every per-blob operator (featurize, frame
sampling, resize, perceptual hashing) runs through ONE Arrow-batched
pandas mapper, :func:`_map_blobs`, over the real codecs in
:mod:`.codecs`: PPM (P6) and 24bpp BMP images, concatenated-P6 "video"
and 16-bit PCM WAV audio, sniffed by magic bytes.  Bytes those codecs
cannot read raise ValueError; a NULL blob yields no row.  Compressed
formats (JPEG/MP4/...) plug in through each operator's ``*_fn``
parameter, because their libraries are not in this container.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codecs
from .dedup import _persist_scoped, hamming_pairs_64

def attach_media_meta(
    df: DataFrame, bytes_col: str, uri_col: str | None = None, media_type: str = "application/octet-stream"
) -> DataFrame:
    """Wrap a binary column with the typed metadata struct (uri, type,
    size, md5) — all JVM-side expressions."""
    b = F.col(bytes_col)
    return df.withColumn(
        "media_meta",
        F.struct(
            (F.col(uri_col) if uri_col else F.lit(None).cast("string")).alias("uri"),
            F.lit(media_type).alias("media_type"),
            F.octet_length(b).cast("long").alias("n_bytes"),
            F.md5(b).alias("checksum"),
        ),
    )


_KEY = T.StructField("key", T.StringType())


def _map_blobs(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    schema: T.StructType,
    rows: Callable[[str, bytes], Iterable],
) -> DataFrame:
    """The one media mapper: ``(key as string, blob)`` rows through
    Arrow-batched pandas workers; ``rows(key, blob)`` returns the
    output rows for one blob (tuples, or dicts keyed by field name) in
    ``schema`` order, so one blob may yield one row or fan out to many.
    A NULL blob (a failed fetch, an outer join) yields no row and never
    reaches ``rows`` — the convention the similarity kernels follow for
    NULL vectors.  The blob never leaves the map side; the number of
    rows a Python worker holds at once is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    src = df.select(F.col(key_col).cast("string").alias("key"), F.col(bytes_col).alias("blob"))
    columns = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                r for k, b in zip(pdf["key"], pdf["blob"]) if b is not None for r in rows(k, b)
            ]
            yield pd.DataFrame(out, columns=columns)

    return src.mapInPandas(run, schema=schema)


FEATURE_SCHEMA = T.StructType(
    [
        _KEY,
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def extract_media_features(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    decode_fn: Callable[[str, bytes], dict] = codecs.media_features,
) -> DataFrame:
    """B26 — decode/featurize media, one FEATURE_SCHEMA row per
    non-NULL blob.
    The default ``codecs.media_features`` sniffs PPM/BMP images (true
    dimensions + 8 pixel statistics) and PCM WAV audio (rate, channels,
    sample frames + 5 level statistics), ValueError on other bytes;
    swap ``decode_fn`` for a JPEG/PNG codec where those libs exist."""
    return _map_blobs(df, key_col, bytes_col, FEATURE_SCHEMA, lambda k, b: [decode_fn(k, b)])


FRAME_SCHEMA = T.StructType(
    [
        _KEY,
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    n_frames: int = 4,
    extract_fn: Callable[[bytes, int], list[bytes]] = codecs.ppm_frames,
) -> DataFrame:
    """B26 — video frame sampling, one-to-many: each media row fans out
    to (key, frame_idx, frame:binary) rows, one per frame ``extract_fn``
    returns.  The default ``codecs.ppm_frames`` splits a
    concatenated-PPM stream and takes ``n_frames`` evenly spaced frames
    (all of them if fewer exist), ValueError on non-PPM bytes; swap
    ``extract_fn`` for an ffmpeg-backed callable for compressed video."""
    return _map_blobs(
        df, key_col, bytes_col, FRAME_SCHEMA,
        lambda k, b: [(k, i, fr) for i, fr in enumerate(extract_fn(b, n_frames))],
    )


def resize_media(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    width: int,
    height: int,
    resize_fn: Callable[[bytes, int, int], bytes] = codecs.image_resize,
) -> DataFrame:
    """B26 — binary→binary media transform (decode→resize→re-encode),
    output re-wrapped with the typed metadata struct so downstream ops
    see (key, media:binary, media_meta).  The default
    ``codecs.image_resize`` decodes PPM/BMP, resamples nearest-neighbour
    and re-encodes in the original format, ValueError on other bytes."""
    schema = T.StructType([_KEY, T.StructField("media", T.BinaryType())])
    resized = _map_blobs(
        df, key_col, bytes_col, schema, lambda k, b: [(k, resize_fn(b, width, height))]
    )
    return attach_media_meta(resized, "media", media_type="application/x-resized")


def _hash_blobs(
    df: DataFrame, key_col: str, bytes_col: str, out_col: str, hash_fn: Callable[[bytes], int]
) -> DataFrame:
    """(key, ``out_col``: 64-bit hash) per blob — only 8-byte hashes
    leave the scan."""
    schema = T.StructType([_KEY, T.StructField(out_col, T.LongType())])
    return _map_blobs(df, key_col, bytes_col, schema, lambda k, b: [(k, hash_fn(b))])


def _hamming_pairs(hashed: DataFrame, max_hamming: int, scheme: str) -> DataFrame:
    """The EXACT Hamming-≤-k pair core shared with the text SimHash
    (``dedup.hamming_pairs_64``) over (id, sig) rows."""
    return hamming_pairs_64(
        hashed, max_hamming=max_hamming, scheme=scheme, n_blocks=max(6, max_hamming + 1)
    )


def _media_near_dups(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    max_hamming: int,
    scheme: str,
    hash_fn: Callable[[bytes], int],
) -> DataFrame:
    """(id_a, id_b, hamming) for blobs whose ``hash_fn`` hashes differ
    in at most ``max_hamming`` bits — the image and audio pair body."""
    hashed = _hash_blobs(df, key_col, bytes_col, "sig", hash_fn)
    return _hamming_pairs(hashed.select(F.col("key").alias("id"), "sig"), max_hamming, scheme)


def add_image_ahash(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    out_col: str = "ahash",
    hash_fn: Callable[[bytes], int] = codecs.image_ahash,
) -> DataFrame:
    """Perceptual 64-bit average hash per image (``codecs.image_ahash``:
    real PPM/BMP decode → 8×8 luminance grid → bit = cell > mean),
    map-side only — the blob never shuffles.  Swap ``hash_fn`` for a
    JPEG/PNG-capable hasher where those libs exist."""
    return _hash_blobs(df, key_col, bytes_col, out_col, hash_fn)


def image_near_dups(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    max_hamming: int = 5,
    scheme: str = "blocks",
    hash_fn: Callable[[bytes], int] = codecs.image_ahash,
) -> DataFrame:
    """Near-duplicate IMAGE pairs — the multimodal face of the dedup
    family: a perceptual hash per image (``hash_fn``, aHash by default),
    then the EXACT Hamming-≤-k pair core shared with the text SimHash
    (``dedup.hamming_pairs_64``; same block-permutation recall
    guarantee, same scale shape: candidates only on band collisions,
    popcount before the pair shuffle).  At 100 TB the blobs are read
    once map-side and everything downstream moves 8-byte hashes.
    Returns (id_a, id_b, hamming), each pair once."""
    return _media_near_dups(df, key_col, bytes_col, max_hamming, scheme, hash_fn)


def add_audio_fphash(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    out_col: str = "fphash",
    hash_fn: Callable[[bytes], int] = codecs.audio_fphash,
) -> DataFrame:
    """Perceptual 64-bit audio fingerprint per blob
    (``codecs.audio_fphash``: real WAV decode → 65-frame energy deltas),
    map-side only — the blob never shuffles.  Swap ``hash_fn`` for an
    MP3/OGG-capable decoder where those libs exist."""
    return _hash_blobs(df, key_col, bytes_col, out_col, hash_fn)


def audio_near_dups(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    max_hamming: int = 5,
    scheme: str = "blocks",
    hash_fn: Callable[[bytes], int] = codecs.audio_fphash,
) -> DataFrame:
    """Near-duplicate AUDIO pairs — same shape as :func:`image_near_dups`
    with the energy-delta fingerprint as the default ``hash_fn``.
    Returns (id_a, id_b, hamming)."""
    return _media_near_dups(df, key_col, bytes_col, max_hamming, scheme, hash_fn)


def video_near_dups(
    df: DataFrame,
    key_col: str,
    bytes_col: str,
    n_frames: int = 3,
    max_hamming: int = 0,
    scheme: str = "blocks",
    extract_fn: Callable[[bytes, int], list[bytes]] = codecs.ppm_frames,
) -> DataFrame:
    """Near-duplicate VIDEO pairs — the third modality of the dedup
    triad (image mm02 / audio mm03 / video mm04): evenly-spaced frames
    come out of ``extract_fn`` (the concatenated-P6 stream splitter by
    default; swap in an ffmpeg-backed callable for compressed
    containers), each frame gets the perceptual aHash in the same
    map-side pass, and the shared Hamming pair core
    (``dedup.hamming_pairs_64``) runs ONCE PER FRAME POSITION — a video
    pair survives iff EVERY sampled position matches within
    ``max_hamming``, the standard frame-fingerprint sequence rule.

    Scale shape: blobs are read once and fan out to (key, idx, 8-byte
    hash) rows; the hashed frame table is persisted (scoped in the DEDUP family's
    cache — ``dedup.release_cached`` / Engine.near_dup_pairs entry
    frees it) because each of the ``n_frames``
    per-position pair branches filters it, and everything downstream of
    the decode moves hashes, never frames.  Videos shorter than
    ``n_frames`` never pair (a missing position cannot match; length
    mismatch ⇒ not a duplicate under the all-positions rule).

    Returns (id_a, id_b, n_matched, max_frame_hamming), each pair once.
    """
    if n_frames < 1:
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")
    schema = T.StructType(
        [_KEY, T.StructField("frame_idx", T.IntegerType()), T.StructField("sig", T.LongType())]
    )
    hashed = _persist_scoped(
        _map_blobs(
            df, key_col, bytes_col, schema,
            lambda k, b: [
                (k, i, codecs.image_ahash(fr)) for i, fr in enumerate(extract_fn(b, n_frames))
            ],
        )
    )
    per_pos = None
    for i in range(n_frames):
        sub = hashed.filter(F.col("frame_idx") == i).select(F.col("key").alias("id"), "sig")
        p = _hamming_pairs(sub, max_hamming, scheme).select("id_a", "id_b", "hamming")
        per_pos = p if per_pos is None else per_pos.unionByName(p)
    return (
        per_pos.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.max("hamming").alias("max_frame_hamming"),
        )
        .filter(F.col("n_matched") == n_frames)
    )
