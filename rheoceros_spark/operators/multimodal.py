"""Multimodal (image/audio/video) column plumbing.

Media are **opaque binary columns + a typed metadata struct**; all
Spark-side plumbing (schemas, Arrow-batched ``mapInPandas``, row
explosion for frame sampling, partition sizing) is real and tested.
The actual codec work is stubbed: the decode step raises
``NotImplementedError`` unless the optional codec libs (PIL /
soundfile / av) are importable — they are NOT in this container —
while :func:`extract_features` uses a deterministic sha256-based
feature so pipelines are end-to-end verifiable without codecs.

Scale notes: binary payloads ride Arrow record batches
(``mapInPandas``), so tune ``spark.sql.execution.arrow.
maxRecordsPerBatch`` down for large blobs (10 MB images → batches of
~100).  Keep blob columns OUT of shuffle keys; metadata-only
projections never deserialize payloads thanks to parquet column
pruning.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rheoceros_spark.operators.scale import checkpoint

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),   # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha_prefix", T.StringType(), False),
        T.StructField("feat0", T.LongType(), False),
    ]
)


def _fan(df):
    """Cluster-width fan-out for the Arrow decode entry points — the
    scale.ensure_parallelism guard (byte-probe based, no-op on
    pre-split or streaming inputs), deferred import to stay cycle-free."""
    from rheoceros_spark.operators.scale import ensure_parallelism

    return ensure_parallelism(df)


def attach_media(df: DataFrame, content_col: str, media_type: str = "image") -> DataFrame:
    """Wrap a binary column into (content, meta) — the canonical
    multimodal row shape."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("bigint").alias("duration_ms"),
            F.length(F.col(content_col)).cast("bigint").alias("n_bytes"),
        ),
    )


class RawImage(NamedTuple):
    """Decoded raster: RGB, row-major, 8-bit — the minimal honest
    in-memory shape a decode stage hands to feature extraction."""

    width: int
    height: int
    mode: str  # always "RGB"
    pixels: bytes  # len == width * height * 3


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6, maxval 255) encoder — the codec-free test/
    fallback format (netpbm is a public, trivially specified format)."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"pixel buffer {len(pixels)} != {width}x{height}x3")
    return b"P6\n%d %d\n255\n" % (width, height) + bytes(pixels)


def _parse_ppm(blob: bytes, start: int = 0) -> tuple[RawImage, int]:
    """Parse one P6 image at ``start``; returns (image, end offset) —
    the end offset is what lets a concatenated stream demux exactly."""
    if blob[start : start + 2] != b"P6":
        raise ValueError(f"not a P6 PPM payload at offset {start}")
    # tokenize header: magic, width, height, maxval — then raw samples
    tokens: list[bytes] = []
    i = start + 2
    while len(tokens) < 3:
        while i < len(blob) and blob[i : i + 1].isspace():
            i += 1
        if blob[i : i + 1] == b"#":  # comment to end of line
            while i < len(blob) and blob[i : i + 1] != b"\n":
                i += 1
            continue
        tok_start = i
        while i < len(blob) and not blob[i : i + 1].isspace():
            i += 1
        tokens.append(blob[tok_start:i])
    i += 1  # single whitespace after maxval, then raw data
    width, height, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    n = width * height * 3
    pixels = blob[i : i + n]
    if len(pixels) != n:
        raise ValueError(f"truncated PPM: {len(pixels)} of {n} bytes")
    return RawImage(width, height, "RGB", bytes(pixels)), i + n


def decode_ppm(blob: bytes) -> RawImage:
    """Pure-Python binary PPM (P6) decoder: header tokens may be
    separated by any whitespace and ``#`` comments."""
    img, _ = _parse_ppm(blob)
    return img


def _resize_nearest(img: RawImage, width: int, height: int) -> RawImage:
    """Nearest-neighbor resample (numpy, vectorized)."""
    import numpy as np

    src = np.frombuffer(img.pixels, dtype=np.uint8).reshape(img.height, img.width, 3)
    ys = (np.arange(height) * img.height // height).astype(np.intp)
    xs = (np.arange(width) * img.width // width).astype(np.intp)
    out = src[ys][:, xs]
    return RawImage(width, height, "RGB", out.tobytes())


def decode_image(blob: bytes):
    """Decode an image payload.

    PPM (P6) always decodes via the pure-Python decoder to a
    :class:`RawImage` — deterministic and codec-free, so callers get
    the same type with or without PIL installed.  Other formats use
    PIL when importable and raise the documented stub error otherwise
    (this container ships no codec libs)."""
    if blob[:2] == b"P6":
        return decode_ppm(blob)
    try:  # pragma: no cover - no codec libs in container
        import io

        from PIL import Image

        return Image.open(io.BytesIO(blob))
    except ImportError:
        pass
    raise NotImplementedError(
        "decode of non-PPM formats requires PIL; container ships no codec "
        "libs — plumbing (schema/batching/partitioning) is real, PPM (P6) "
        "decodes via the pure-Python fallback"
    )


def extract_features(df: DataFrame, content_col: str = "content", id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The feature is a deterministic sha256-based surrogate (equals
    ``sha256(content)`` computable by any SQL oracle), but the
    execution path — ``mapInPandas`` over Arrow record batches,
    column-pruned input, typed output schema — is exactly what a real
    embedding/decode stage uses.
    """
    # fan before the Arrow boundary (r14): a single-file corpus
    # otherwise feeds ONE python worker; no-op on pre-split input
    pruned = _fan(df.select(id_col, content_col))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = pdf[content_col]
            digests = [hashlib.sha256(bytes(b)).hexdigest() for b in blobs]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": blobs.map(len).astype("int64"),
                    "sha_prefix": [d[:16] for d in digests],
                    "feat0": [int(d[:15], 16) for d in digests],
                }
            )

    return pruned.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched image resize.  PPM (P6) payloads take a REAL
    pixel path — pure-Python decode → nearest-neighbor resample →
    re-encode (no codec libs needed); other formats degrade to a
    deterministic passthrough that stamps the *target* dimensions into
    ``meta`` (real decode needs PIL, absent in this container).
    Schema, Arrow batching, and partition shape are identical either
    way — the real resize pipeline's."""
    # fan before the Arrow boundary (r14): a single-file corpus
    # otherwise feeds ONE python worker; no-op on pre-split input
    pruned = _fan(df.select(id_col, content_col))
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
            T.StructField("meta", MEDIA_META_TYPE, False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # pragma: no cover - no codec libs in container
            from PIL import Image  # noqa: F401

            have_codec = True
        except ImportError:
            have_codec = False
        for pdf in it:
            out_blobs: list[bytes] = []
            metas: list[dict] = []
            for b in pdf[content_col]:
                b = bytes(b)
                if b[:2] == b"P6":
                    img = _resize_nearest(decode_ppm(b), width, height)
                    b = encode_ppm(img.width, img.height, img.pixels)
                    mime = "image/x-portable-pixmap"
                elif have_codec:  # pragma: no cover - no PIL in container
                    # a real codec is present: refusing is better than the
                    # passthrough stub silently stamping wrong dimensions
                    raise NotImplementedError(
                        "PIL resize path not implemented; decode non-PPM "
                        "formats explicitly or convert to PPM upstream"
                    )
                else:  # passthrough stub: no codec for this format
                    mime = None
                out_blobs.append(b)
                metas.append(
                    {
                        "media_type": "image",
                        "mime": mime,
                        "width": width,
                        "height": height,
                        "duration_ms": None,
                        "n_bytes": len(b),
                    }
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "content": out_blobs,
                    "meta": metas,
                }
            )

    return pruned.mapInPandas(batches, schema=out_schema)


def sample_frames(df: DataFrame, id_col: str = "doc_id", n_frames: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video rows: explode each media row
    into ``n_frames`` (frame_idx, byte_offset) rows.  Offsets are a
    deterministic placeholder for the real demuxer (stubbed — no `av`
    in container); the explode/partition shape is the real one."""
    return df.select(
        id_col,
        F.col("meta.n_bytes").alias("n_bytes"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_frames - 1)),
                lambda i: F.floor(F.col("meta.n_bytes") * i / F.lit(n_frames)).cast("bigint"),
            )
        ).alias("frame_idx", "byte_offset"),
    )


class RawAudio(NamedTuple):
    """Decoded PCM audio — the minimal honest in-memory shape an audio
    decode hands to feature extraction (the :class:`RawImage` twin)."""

    sample_rate: int
    n_channels: int
    sample_width: int  # bytes per sample (1 or 2)
    n_frames: int
    pcm: bytes  # interleaved frames, len == n_frames * n_channels * sample_width


def decode_wav(blob: bytes) -> RawAudio:
    """Decode a RIFF/WAVE PCM payload with the stdlib ``wave`` module —
    a REAL pure-Python audio path, no codec libs needed (the audio twin
    of the PPM image fallback).  8-bit and 16-bit PCM are supported;
    other widths/compressions raise with a clear message."""
    import io
    import wave

    with wave.open(io.BytesIO(blob)) as w:
        width = w.getsampwidth()
        if width not in (1, 2):
            raise NotImplementedError(
                f"{8 * width}-bit PCM unsupported; the pure-Python WAV path "
                "handles 8/16-bit PCM (compressed audio needs soundfile, "
                "absent in this container)"
            )
        n = w.getnframes()
        return RawAudio(w.getframerate(), w.getnchannels(), width, n, w.readframes(n))


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
    ]
)


def audio_features(
    df: DataFrame, content_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched audio feature extraction: per row, decode the
    payload and emit (sample_rate, n_channels, duration_ms, rms, peak),
    amplitudes normalized to [0, 1] of full scale.

    RIFF/WAVE PCM rows take the REAL path — stdlib ``wave`` decode,
    then vectorized numpy RMS/peak over the whole PCM buffer (no
    per-sample Python loop inside the batch).  Non-WAV payloads (mp3 /
    flac / ogg — codecs absent in this container) emit NULL stats with
    NULL mime rather than fabricated numbers; schema, Arrow batching,
    and partition shape are the real pipeline's either way.

    Scale: per-row independent — embarrassingly parallel; payload
    bytes never shuffle (feature rows are ~50 B regardless of blob
    size)."""
    import numpy as np

    # NULL ids are dropped up front: pandas coerces a nullable int64 id
    # column to float64/NaN and int(doc_id) would kill the batch
    # fan before the Arrow boundary (r14; no-op on pre-split input)
    pruned = _fan(df.where(F.col(id_col).isNotNull()).select(id_col, content_col))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, b in zip(pdf[id_col], pdf[content_col]):
                null_row = {
                    "doc_id": int(doc_id), "mime": None, "sample_rate": None,
                    "n_channels": None, "duration_ms": None, "rms": None, "peak": None,
                }
                if b is None:
                    rows.append(null_row)
                    continue
                b = bytes(b)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    rows.append(null_row)
                    continue
                # decode failures (corrupt chunks, non-PCM compression,
                # unsupported widths, zero sample rate) emit the NULL
                # row like any other undecodable payload — one bad blob
                # in a 100 TB corpus must not kill the job
                try:
                    a = decode_wav(b)
                    if a.sample_rate <= 0:
                        raise ValueError("zero sample rate")
                except Exception:
                    rows.append(null_row)
                    continue
                if a.sample_width == 2:
                    x = np.frombuffer(a.pcm, dtype="<i2").astype(np.float64) / 32768.0
                else:  # 8-bit WAV PCM is unsigned, midpoint 128
                    x = (np.frombuffer(a.pcm, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "mime": "audio/wav",
                        "sample_rate": a.sample_rate,
                        "n_channels": a.n_channels,
                        "duration_ms": int(a.n_frames * 1000 // a.sample_rate),
                        "rms": round(float(np.sqrt(np.mean(np.square(x)))), 6) if x.size else None,
                        "peak": round(float(np.max(np.abs(x))), 6) if x.size else None,
                    }
                )
            yield pd.DataFrame(rows)

    return pruned.mapInPandas(batches, schema=AUDIO_FEATURE_SCHEMA)


def scan_ppm_stream(blob: bytes) -> list[tuple[int, int, int]]:
    """Frame index of a concatenated-P6 video stream: [(byte_offset,
    width, height)] per frame.  netpbm streams are literally
    back-to-back P6 images (public format; ``ffmpeg -f image2pipe``
    emits exactly this), which makes them the codec-free container for
    a REAL demux path — offsets come from parsing actual headers and
    pixel-block lengths, not arithmetic placeholders."""
    frames: list[tuple[int, int, int]] = []
    i = 0
    while i < len(blob):
        img, end = _parse_ppm(blob, i)
        frames.append((i, img.width, img.height))
        i = end
    return frames


PPM_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames_total", T.IntegerType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("byte_offset", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def sample_frames_ppm(
    df: DataFrame, content_col: str = "content", id_col: str = "doc_id", n_frames: int = 4
) -> DataFrame:
    """REAL frame sampling over concatenated-P6 video payloads: demux
    the stream (:func:`scan_ppm_stream`), pick ``n_frames`` evenly
    spaced frames, and emit each as a standalone P6 image with its true
    byte offset and dimensions — the honest counterpart of
    :func:`sample_frames`'s placeholder offsets for opaque codecs.

    Arrow-batched ``mapInPandas``; per-row independent, so the demux
    parallelizes with the scan and frame rows (not whole videos) flow
    downstream — feature extraction on sampled frames never re-reads
    the full stream."""
    if n_frames < 1:
        raise ValueError(f"sample_frames_ppm: n_frames must be >= 1, got {n_frames}")
    # fan before the Arrow boundary (r14; no-op on pre-split input)
    pruned = _fan(df.where(F.col(id_col).isNotNull()).select(id_col, content_col))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, b in zip(pdf[id_col], pdf[content_col]):
                # NULL / empty / non-P6 payloads contribute no frame
                # rows — one bad blob must not kill the job (the
                # audio_features contract, applied to video)
                if b is None:
                    continue
                b = bytes(b)
                try:
                    index = scan_ppm_stream(b)
                except ValueError:
                    continue
                total = len(index)
                if total == 0:
                    continue
                picks = sorted({min(i * total // n_frames, total - 1) for i in range(n_frames)})
                for fi in picks:
                    off, w, h = index[fi]
                    end = index[fi + 1][0] if fi + 1 < total else len(b)
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "n_frames_total": total,
                            "frame_idx": fi,
                            "byte_offset": off,
                            "width": w,
                            "height": h,
                            "frame": b[off:end],
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in PPM_FRAME_SCHEMA.fields])

    return pruned.mapInPandas(batches, schema=PPM_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual image dedup: difference hash (dHash) + banded near-dup pairs
# ---------------------------------------------------------------------------

def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    grid_w: int = 8,
    grid_h: int = 8,
) -> DataFrame:
    """Perceptual difference-hash over decoded images — the standard
    near-duplicate image fingerprint of crawl curation tooling
    (imagededup's DHash; the aHash/dHash/pHash family used to prune
    LAION-style image corpora before training): integer BT.601 luma
    (``(299·R + 587·G + 114·B) // 1000`` — pure integer, no float
    seam), exact floor block means on a ``(grid_w+1) × grid_h`` grid,
    then one bit per horizontally adjacent mean pair
    (``mean(i+1,j) > mean(i,j)``), ``grid_w × grid_h`` bits total.

    The 64-bit default is returned as TWO bigint halves
    (``dhash_hi`` = bits 32-63, ``dhash_lo`` = bits 0-31): both stay
    in non-negative 32-bit range, so every shift/band/xor downstream
    is exact signed-64 algebra on BOTH engines (a single 64-bit word
    would put bit 63 in the sign position and diverge).

    Image dimensions must tile the grid exactly (width divisible by
    ``grid_w + 1``, height by ``grid_h``) — the loud-reject keeps the
    block means exact integers a SQL oracle reproduces bit-for-bit;
    resample first (:func:`resize_images`) for arbitrary inputs.

    Scale shape: Arrow-batched ``mapInPandas`` over a column-pruned
    (id, content) projection — decode parallelism equals scan
    parallelism, per-row output is two ints, the corpus's image bytes
    never shuffle."""
    if grid_w < 1 or grid_h < 1 or grid_w * grid_h != 64:
        raise ValueError(
            f"image_dhash: grid must hold exactly 64 bits, got "
            f"{grid_w}x{grid_h}"
        )
    # fan before the Arrow boundary (r14): a single-file corpus
    # otherwise feeds ONE python worker; no-op on pre-split input
    pruned = _fan(df.select(id_col, content_col))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, his, los = [], [], []
            for doc_id, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue
                hi, lo = _dhash_of_blob(bytes(blob), grid_w, grid_h)
                ids.append(int(doc_id))
                los.append(lo)
                his.append(hi)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "dhash_hi": pd.Series(his, dtype="int64"),
                    "dhash_lo": pd.Series(los, dtype="int64"),
                }
            )

    return pruned.mapInPandas(
        batches, schema="doc_id bigint, dhash_hi bigint, dhash_lo bigint"
    )


def dhash_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Near-duplicate image pairs from (id, dhash_hi, dhash_lo), at
    hash-group-representative granularity.

    EXACT duplicates — the common case in a web image corpus, where
    one logo or tracking pixel recurs millions of times — are grouped
    FIRST: each distinct 64-bit hash keeps its smallest id as the
    group representative, and every other member emits one
    ``(rep, member, 0)`` star pair.  Only the DISTINCT hashes then
    enter the banded join (four 16-bit keys; with ``max_hamming ≤ 3``
    a qualifying pair cannot differ in all 4 bands, so at least one
    band matches EXACTLY — the SimHash pigeonhole guarantee), verified
    with exact ``bit_count(xor)`` JVM-side and emitted as
    ``(rep_a, rep_b, hamming)``.  Without the grouping, h identical
    hashes collide in ALL four bands and fan the self-join out h²
    BEFORE any filter runs — the text-MinHash mega-bucket failure mode
    (see dedup._capped_candidates), which AQE cannot fix because
    splitting partitions does not shrink the pair count.

    ``max_bucket`` caps the residual hazard of a 16-bit band value
    shared by many DISTINCT hashes: buckets at or under the cap keep
    exact all-pairs; larger buckets switch to star pairing through the
    bucket's smallest representative, bounding candidates at N-1 per
    bucket.  The dedup contract survives both reductions — every
    non-minimal image still meets a smaller-id candidate, so
    connected-component clustering and min-id survivorship are
    unchanged; what an oversized bucket loses is the exhaustive pair
    LIST between its non-anchor members (``None`` restores uncapped
    all-pairs of distinct hashes).

    Scale shape: one window shuffle groups identical hashes; the
    candidate join shuffles (16-bit key, rep, two ints) for DISTINCT
    hashes only — never image bytes, never the duplicate mass; the
    verify is per-pair integer algebra."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"dhash_pairs: the 4-band pigeonhole guarantee holds for "
            f"max_hamming <= 3, got {max_hamming} — re-band before raising it"
        )

    def _ham(lo_a, lo_b, hi_a, hi_b):
        return (
            F.bit_count(lo_a.bitwiseXOR(lo_b)) + F.bit_count(hi_a.bitwiseXOR(hi_b))
        ).cast("bigint")

    return _rep_banded_pairs(
        hashes, id_col, "dhash_hi", "dhash_lo", max_hamming, max_bucket, _ham
    )


def _rep_banded_pairs(
    hashes: DataFrame,
    id_col: str,
    hi_col: str,
    lo_col: str,
    max_dist: int,
    max_bucket: int | None,
    dist,
) -> DataFrame:
    """Shared engine of the 64-bit-fingerprint near-dup family
    (:func:`dhash_pairs`, :func:`audio_phash_pairs`): exact-dup
    grouping to a min-id representative, four 16-bit pigeonhole bands
    over DISTINCT fingerprints, the hot-bucket star cap, and a
    caller-supplied distance verify ``dist(lo_a, lo_b, hi_a, hi_b) →
    Column`` (bit Hamming for images, nibble count for audio
    segments).  Emits (a, b, hamming) with a < b."""
    h = hashes.select(
        F.col(id_col).alias("__id"),
        F.col(hi_col).alias("__hi"),
        F.col(lo_col).alias("__lo"),
    )
    grp = Window.partitionBy("__hi", "__lo")
    # three consumers branch from the grouped frame (star pairs, the
    # banded reps, and the hot-bucket aggregate), and upstream is
    # typically a DECODE MapInPandas (image dhash, audio phash)
    tagged_h = checkpoint(h.withColumn("__rep", F.min("__id").over(grp)))
    # star pairs inside each exact-duplicate hash group (hamming 0)
    exact_pairs = tagged_h.where(F.col("__id") != F.col("__rep")).select(
        F.col("__rep").alias("a"),
        F.col("__id").alias("b"),
        F.lit(0).cast("bigint").alias("hamming"),
    )
    reps = tagged_h.where(F.col("__id") == F.col("__rep")).select(
        F.col("__rep").alias("__r"), "__hi", "__lo"
    )
    # posexplode tags each 16-bit band with its index, so band values
    # only collide within the same band position
    banded = reps.select(
        "__r",
        "__hi",
        "__lo",
        F.posexplode(
            F.array(
                F.col("__lo").bitwiseAND(F.lit(65535)),
                F.shiftright(F.col("__lo"), 16).bitwiseAND(F.lit(65535)),
                F.col("__hi").bitwiseAND(F.lit(65535)),
                F.shiftright(F.col("__hi"), 16).bitwiseAND(F.lit(65535)),
            )
        ).alias("__bidx", "__band"),
    )
    if max_bucket is not None:
        # one narrow map-side-combinable aggregate finds hot band
        # buckets; the broadcast tag splits the stream (the
        # _capped_candidates shape — oversized buckets are rare
        # outliers, so the tag table stays tiny)
        oversized = (
            banded.groupBy("__bidx", "__band")
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.min(F.struct("__r", "__hi", "__lo")).alias("__anchor"),
            )
            .where(F.col("__cnt") > max_bucket)
            .select("__bidx", "__band", "__anchor")
        )
        tagged = banded.join(
            F.broadcast(oversized), ["__bidx", "__band"], "left"
        )
        pool = tagged.where(F.col("__anchor").isNull()).drop("__anchor")
        big = tagged.where(
            F.col("__anchor").isNotNull()
            & (F.col("__r") != F.col("__anchor.__r"))
        )
    else:
        pool, big = banded, None
    a = pool.select(
        F.col("__bidx").alias("bidx"),
        F.col("__band").alias("band"),
        F.col("__r").alias("a"),
        F.col("__hi").alias("hi_a"),
        F.col("__lo").alias("lo_a"),
    )
    b = pool.select(
        F.col("__bidx").alias("bidx"),
        F.col("__band").alias("band"),
        F.col("__r").alias("b"),
        F.col("__hi").alias("hi_b"),
        F.col("__lo").alias("lo_b"),
    )

    near = (
        a.join(b, ["bidx", "band"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            dist(
                F.col("lo_a"), F.col("lo_b"), F.col("hi_a"), F.col("hi_b")
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_dist)
    )
    if big is not None:
        # the bucket anchor holds the bucket's smallest rep, so the
        # star pair is already (smaller, larger) — no extra shuffle
        near = near.unionByName(
            big.select(
                F.col("__anchor.__r").alias("a"),
                F.col("__r").alias("b"),
                dist(
                    F.col("__anchor.__lo"),
                    F.col("__lo"),
                    F.col("__anchor.__hi"),
                    F.col("__hi"),
                ).alias("hamming"),
            ).where(F.col("hamming") <= max_dist)
        )
    return exact_pairs.unionByName(near.distinct())


def _dhash_of_blob(blob: bytes, grid_w: int = 8, grid_h: int = 8) -> tuple[int, int]:
    """(hi, lo) dHash halves of one decoded image — the per-blob core
    shared by :func:`image_dhash` and the streaming gate."""
    import numpy as np

    img = decode_ppm(blob)
    if img.width % (grid_w + 1) or img.height % grid_h:
        raise ValueError(
            f"image_dhash: image {img.width}x{img.height} does not tile a "
            f"{grid_w + 1}x{grid_h} block grid — resize_images first "
            "(block means must be exact)"
        )
    bw = img.width // (grid_w + 1)
    bh = img.height // grid_h
    px = np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, 3
    ).astype(np.int64)
    luma = (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]) // 1000
    # exact floor means per block: sum // area
    sums = luma.reshape(grid_h, bh, grid_w + 1, bw).sum(axis=(1, 3))
    means = sums // (bw * bh)
    bits = (means[:, 1:] > means[:, :-1]).astype(np.int64)  # h×w
    flat = bits.reshape(-1)  # bit k = j*grid_w + i
    lo = int((flat[:32] << np.arange(32)).sum())
    hi = int((flat[32:] << np.arange(32)).sum())
    return hi, lo


DHASH_INDEX_ALGO = "dhash-v1:bt601-floor-means-9x8"


def dhash_index_write(
    df: DataFrame,
    path: str | None = None,
    content_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> DataFrame:
    """Persisted perceptual-hash index for INCREMENTAL image dedup —
    the image-modality member of the incremental-index family
    (minhash / winnowing / URL / fingerprint): at 100 TB you hash the
    existing image corpus ONCE, then gate every new crawl batch
    against 24-byte (id, hi, lo) rows — ~24 GB per billion images,
    a ~1000x reduction over the bytes — without ever re-decoding
    old bytes.  The probe is a distributed banded join over DISTINCT
    hashes (dedup_images_against_index), so index size never enters
    executor memory; only the stream gate's broadcast tier caps it.

    Layout: one row per image (``doc_id``, ``dhash_hi``, ``dhash_lo``)
    plus a literal ``dhash_algo`` scheme stamp validated on probe (the
    URL-index discipline: hashes computed under a different luma/grid
    scheme collide VALIDLY but wrongly, so a mismatch must be loud,
    not a silent recall hole).  ``mode="append"`` is the incremental
    maintenance step; with ``path`` the returned frame reads from the
    materialized parquet, so probes scan the index, never the corpus
    recompute plan."""
    idx = image_dhash(df, content_col=content_col, id_col=id_col).select(
        "doc_id", "dhash_hi", "dhash_lo", F.lit(DHASH_INDEX_ALGO).alias("dhash_algo")
    )
    if path is not None:
        idx.write.mode(mode).parquet(path)
        return df.sparkSession.read.parquet(path)
    return idx


def check_dhash_index(index: DataFrame) -> None:
    """Loud structural/scheme validation (the ``check_url_index``
    discipline)."""
    need = {"doc_id", "dhash_hi", "dhash_lo"}
    if not need <= set(index.columns):
        raise ValueError(
            f"dhash index is missing {sorted(need - set(index.columns))} — "
            "expected the (doc_id, dhash_hi, dhash_lo, dhash_algo) layout "
            "written by dhash_index_write"
        )
    if "dhash_algo" in index.columns:
        algos = sorted(
            r[0] for r in index.select("dhash_algo").distinct().collect() if r[0]
        )
        if algos and algos != [DHASH_INDEX_ALGO]:
            raise ValueError(
                f"dhash index carries dhash_algo values {algos!r}, this engine "
                f"computes {DHASH_INDEX_ALGO!r} — hashes from another "
                "luma/grid scheme would collide wrongly and silently re-admit "
                "near-duplicate images; rebuild the index under one scheme"
            )


def dedup_images_against_index(
    new_df: DataFrame,
    index: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Gate a NEW image batch against a persisted dHash index: adds
    ``dup_of`` (the smallest matching indexed id within
    ``max_hamming``, NULL = novel) and ``min_hamming``.  The corpus is
    probed through the 4-band pigeonhole candidates (guaranteed
    detection for Hamming ≤ 3), verified with exact ``bit_count(xor)``
    — old image bytes are never re-read, new bytes never shuffle (only
    their 16-byte hash rows do)."""
    check_dhash_index(index)
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"dedup_images_against_index: the 4-band pigeonhole guarantee "
            f"holds for max_hamming <= 3, got {max_hamming}"
        )
    new_h = image_dhash(new_df, content_col=content_col, id_col=id_col)

    def _ham(lo_a, lo_b, hi_a, hi_b):
        return (
            F.bit_count(lo_a.bitwiseXOR(lo_b)) + F.bit_count(hi_a.bitwiseXOR(hi_b))
        ).cast("bigint")

    return _banded_index_probe(
        new_h, index, "dhash_hi", "dhash_lo", max_hamming, _ham, "min_hamming"
    )


def _banded_index_probe(
    new_h: DataFrame,
    index: DataFrame,
    hi_col: str,
    lo_col: str,
    max_dist: int,
    dist,
    out_dist_col: str,
) -> DataFrame:
    """Shared probe of the incremental fingerprint-index family
    (:func:`dedup_images_against_index`,
    :func:`dedup_audio_against_index`): band DISTINCT fingerprints on
    BOTH sides (the dhash_pairs shape) — a batch of h identical new
    blobs probing a bucket of g identical indexed blobs would
    otherwise fan the band join out h·g before any filter runs.
    Identical index fingerprints share one verdict row carrying the
    SMALLEST indexed id, which is exactly what the min(dist, id)
    reduce would have picked — so per-row output is unchanged while
    only distinct 16-byte fingerprint rows join.  Returns ``new_h`` +
    (``out_dist_col``, ``dup_of``); ``index`` must carry
    (doc_id, hi_col, lo_col)."""

    def bands(hi, lo):
        return F.posexplode(
            F.array(
                lo.bitwiseAND(F.lit(65535)),
                F.shiftright(lo, 16).bitwiseAND(F.lit(65535)),
                hi.bitwiseAND(F.lit(65535)),
                F.shiftright(hi, 16).bitwiseAND(F.lit(65535)),
            )
        )

    probe = (
        new_h.groupBy(
            F.col(hi_col).alias("__nhi"), F.col(lo_col).alias("__nlo")
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .drop("__n")
        .select(
            "__nhi",
            "__nlo",
            bands(F.col("__nhi"), F.col("__nlo")).alias("__bidx", "__band"),
        )
    )
    idx = (
        index.groupBy(
            F.col(hi_col).alias("__ihi"), F.col(lo_col).alias("__ilo")
        )
        .agg(F.min("doc_id").alias("__iid"))
        .select(
            "__iid",
            "__ihi",
            "__ilo",
            bands(F.col("__ihi"), F.col("__ilo")).alias("__bidx", "__band"),
        )
    )
    d = dist(F.col("__nlo"), F.col("__ilo"), F.col("__nhi"), F.col("__ihi"))
    hits = (
        probe.join(idx, ["__bidx", "__band"])
        .select("__nhi", "__nlo", "__iid", d.alias("__ham"))
        .where(F.col("__ham") <= max_dist)
        .groupBy("__nhi", "__nlo")
        .agg(F.min(F.struct(F.col("__ham"), F.col("__iid"))).alias("__w"))
        .select(
            "__nhi",
            "__nlo",
            F.col("__w.__ham").alias(out_dist_col),
            F.col("__w.__iid").alias("dup_of"),
        )
    )
    return new_h.join(
        hits,
        (new_h[hi_col] == hits["__nhi"]) & (new_h[lo_col] == hits["__nlo"]),
        "left",
    ).drop("__nhi", "__nlo")


# ---------------------------------------------------------------------------
# perceptual audio dedup: segmented RMS-band fingerprint + near-dup pairs
# ---------------------------------------------------------------------------

AUDIO_PHASH_SEGMENTS = 16


def _aphash_of_blob(b: bytes) -> tuple[int, int] | None:
    """Per-blob audio fingerprint (the :func:`audio_phash` contract):
    (hi, lo) packed 16×4-bit segment bands, or ``None`` for NULL /
    non-RIFF / undecodable / shorter-than-16-samples payloads — shared
    by the batch operator and the streaming gate so verdicts cannot
    drift between them."""
    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    try:
        a = decode_wav(b)
    except Exception:
        return None
    if a.sample_width == 2:
        x = np.frombuffer(a.pcm, dtype="<i2").astype(np.float64) / 32768.0
    else:  # 8-bit WAV PCM is unsigned, midpoint 128
        x = (np.frombuffer(a.pcm, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    n = x.size
    S = AUDIO_PHASH_SEGMENTS
    if n < S:
        return None
    hi = lo = 0
    sq = np.square(x)
    for s in range(S):
        seg = sq[s * n // S : (s + 1) * n // S]
        band = min(15, int(math.floor(16.0 * math.sqrt(seg.mean()))))
        if s < 8:
            lo |= band << (4 * s)
        else:
            hi |= band << (4 * (s - 8))
    return hi, lo


def audio_phash(
    df: DataFrame, content_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Perceptual audio fingerprint over decoded PCM — the audio
    member of the dHash family (the energy-envelope tier of
    Haitsma & Kalker 2002's "Highly Robust Audio Fingerprinting
    System": quantized per-window energy bands; Chromaprint's
    coarse predecessor): decode (:func:`decode_wav`, the REAL
    stdlib path), split the interleaved sample stream into
    ``AUDIO_PHASH_SEGMENTS`` = 16 equal floor-boundary segments,
    take each segment's full-scale-normalized RMS, and quantize to a
    4-bit band ``min(15, floor(16·rms))``.

    The 16 4-bit bands pack into TWO bigint halves (``aph_lo`` =
    segments 0-7 at bits ``4s``, ``aph_hi`` = segments 8-15) — the
    :func:`image_dhash` 32-bit-halves convention, so every downstream
    shift/band/xor is exact signed-64 algebra on BOTH engines.

    Rows whose payload is NULL, non-RIFF, undecodable, or shorter
    than 16 samples emit nothing (the :func:`image_dhash` skip
    contract: a fingerprint of garbage would poison dedup, and one
    bad blob in a 100 TB corpus must not kill the job).

    Scale shape: Arrow-batched ``mapInPandas`` over a column-pruned
    (id, content) projection; per-segment RMS is one vectorized numpy
    pass per row, output is two ints — audio bytes never shuffle."""
    # fan before the Arrow boundary (r14; no-op on pre-split input)
    pruned = _fan(df.where(F.col(id_col).isNotNull()).select(id_col, content_col))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, his, los = [], [], []
            for doc_id, b in zip(pdf[id_col], pdf[content_col]):
                if b is None:
                    continue
                got = _aphash_of_blob(bytes(b))
                if got is None:
                    continue
                hi, lo = got
                ids.append(int(doc_id))
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "aph_hi": pd.Series(his, dtype="int64"),
                    "aph_lo": pd.Series(los, dtype="int64"),
                }
            )

    return pruned.mapInPandas(
        batches, schema="doc_id bigint, aph_hi bigint, aph_lo bigint"
    )


def _nibble_dist(lo_a, lo_b, hi_a, hi_b):
    """Number of DIFFERING 4-bit segments between two packed
    fingerprints — a Column of exact integer algebra (16 static
    terms, whole-stage-codegen-friendly, no UDF)."""
    x_lo = lo_a.bitwiseXOR(lo_b)
    x_hi = hi_a.bitwiseXOR(hi_b)
    total = F.lit(0)
    for k in range(8):
        for x in (x_lo, x_hi):
            total = total + F.when(
                F.shiftright(x, 4 * k).bitwiseAND(F.lit(15)) != 0, 1
            ).otherwise(0)
    return total.cast("bigint")


def audio_phash_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_seg_diff: int = 2,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Near-duplicate audio pairs from (id, aph_hi, aph_lo) — the
    :func:`dhash_pairs` machinery (exact-dup min-id grouping, four
    16-bit pigeonhole bands over DISTINCT fingerprints, hot-bucket
    star cap) with the distance that matches the fingerprint's
    semantics: the count of DIFFERING 4-bit segments, not bit
    Hamming — a re-encoded clip shifts a segment's whole energy band,
    flipping up to 4 bits, and bit distance would make one perturbed
    segment look like four.

    Each 16-bit band spans 4 segments, so ``max_seg_diff ≤ 3``
    carries the same pigeonhole guarantee as the image path: a
    qualifying pair cannot differ in all 4 bands.  Emits
    (a, b, seg_diff) with a < b; exact-duplicate members appear as
    (rep, member, 0) star pairs.

    Scale shape: identical to :func:`dhash_pairs` — one window
    shuffle groups identical fingerprints, the banded join shuffles
    two ints per DISTINCT fingerprint, audio bytes never shuffle."""
    if not 0 <= max_seg_diff <= 3:
        raise ValueError(
            f"audio_phash_pairs: the 4-band pigeonhole guarantee holds for "
            f"max_seg_diff <= 3, got {max_seg_diff} — re-band before raising it"
        )
    return _rep_banded_pairs(
        hashes, id_col, "aph_hi", "aph_lo", max_seg_diff, max_bucket, _nibble_dist
    ).withColumnRenamed("hamming", "seg_diff")


# ---------------------------------------------------------------------------
# video near-dup detection: per-frame dHash sets + Jaccard verify
# ---------------------------------------------------------------------------

def video_frame_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    grid_w: int = 8,
    grid_h: int = 8,
) -> DataFrame:
    """Per-frame perceptual hashes of concatenated-P6 video payloads:
    demux (:func:`scan_ppm_stream`) and dHash every frame INSIDE one
    Arrow task, emitting (doc_id, frame_idx, dhash_hi, dhash_lo) — the
    frame-fingerprint tier video near-dup systems build on (Wu et al.
    2007, "Practical Elimination of Near-Duplicate Videos": videos
    compared by their sets of frame fingerprints).

    Demux + hash composing in ONE pass is the point at scale: frame
    BYTES never leave the task — only two ints per frame flow
    downstream, where :func:`sample_frames_ppm` → :func:`image_dhash`
    would shuffle every sampled frame's pixels between two Python
    stages.  NULL / non-P6 / truncated payloads emit nothing (the
    :func:`audio_features` skip contract); frames whose dimensions
    don't tile the dHash grid are skipped per-frame, so one odd-sized
    splash frame doesn't hide the rest of the video."""
    if grid_w < 1 or grid_h < 1 or grid_w * grid_h != 64:
        raise ValueError(
            f"video_frame_dhash: grid must hold exactly 64 bits, got "
            f"{grid_w}x{grid_h}"
        )
    # fan before the Arrow boundary (r14; no-op on pre-split input)
    pruned = _fan(df.where(F.col(id_col).isNotNull()).select(id_col, content_col))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fidx, his, los = [], [], [], []
            for doc_id, b in zip(pdf[id_col], pdf[content_col]):
                if b is None:
                    continue
                b = bytes(b)
                try:
                    index = scan_ppm_stream(b)
                except ValueError:
                    continue
                for fi, (off, _, _) in enumerate(index):
                    end = index[fi + 1][0] if fi + 1 < len(index) else len(b)
                    try:
                        hi, lo = _dhash_of_blob(b[off:end], grid_w, grid_h)
                    except ValueError:
                        continue  # frame doesn't tile the grid
                    ids.append(int(doc_id))
                    fidx.append(fi)
                    his.append(hi)
                    los.append(lo)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "dhash_hi": pd.Series(his, dtype="int64"),
                    "dhash_lo": pd.Series(los, dtype="int64"),
                }
            )

    return pruned.mapInPandas(
        batches,
        schema="doc_id bigint, frame_idx int, dhash_hi bigint, dhash_lo bigint",
    )


def video_dedup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_videos: int | None = 64,
) -> DataFrame:
    """Near-duplicate VIDEO pairs from per-frame hashes
    (:func:`video_frame_dhash` output): two videos are near-dups when
    the Jaccard overlap of their distinct frame-hash SETS reaches
    ``threshold`` — the :func:`~rheoceros_spark.operators.urls.
    url_mirror_pairs` shape (hosts ≡ videos, paths ≡ frame hashes)
    with the :func:`dhash_pairs` exact-dup grouping on top.

    EXACT duplicates — re-uploads, the common case — are grouped
    FIRST: each video's sorted distinct frame-hash set is its group
    key, the smallest id is representative, and members emit
    ``(rep, member, jaccard 1.0)`` star pairs, so a clip re-posted h
    times costs h rows, not h².  Only group REPRESENTATIVES enter the
    shared-frame equi-join.  ``max_videos`` (default 64, ``None``
    opts out) drops frame hashes present in more than that many
    videos — intro cards and logo frames, the ubiquitous-path rule of
    the mirrors op — BEFORE sets are built, so both the signature and
    the verify see the same capped sets; a video left with no frames
    disappears from the output (nothing distinguishing remains to
    judge it by).

    Scale shape: one distinct + one per-video aggregate shuffle two
    ints per frame; the verify join shuffles frame ids of group
    REPRESENTATIVES only; frame pixels never appear.  Returns
    (video_a, video_b, n_frames_a, n_frames_b, n_shared, jaccard_r)
    with video_a < video_b and jaccard ≥ ``threshold``."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"video_dedup_pairs: threshold must be in (0, 1], got {threshold}"
        )
    # checkpoint the DISTINCT decode output FIRST: the ubiquitous-
    # frame aggregate and the anti-join's stream side are separate
    # consumers, and with the checkpoint only on the anti-join RESULT
    # the full demux+dHash decode pass ran TWICE (two 32-task decode
    # stages in the profile)
    fh = checkpoint(
        frame_hashes.select(F.col(id_col).alias("__id"), "dhash_hi", "dhash_lo")
        .distinct()
    )
    if max_videos is not None:
        wide = (
            fh.groupBy("dhash_hi", "dhash_lo")
            .agg(F.count(F.lit(1)).alias("__nv"))
            .where(F.col("__nv") > max_videos)
            .select("dhash_hi", "dhash_lo")
        )
        fh = fh.join(F.broadcast(wide), ["dhash_hi", "dhash_lo"], "left_anti")
    fh = checkpoint(fh)  # sets + verify legs reuse it
    sets = fh.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.concat_ws(
            ",",
            F.sort_array(
                F.collect_list(
                    F.format_string("%d:%d", F.col("dhash_hi"), F.col("dhash_lo"))
                )
            ),
        ).alias("__setkey"),
    )
    grp = Window.partitionBy("__setkey")
    tagged = sets.withColumn("__rep", F.min("__id").over(grp))
    star = tagged.where(F.col("__id") != F.col("__rep")).select(
        F.col("__rep").alias("video_a"),
        F.col("__id").alias("video_b"),
        F.col("__n").alias("n_frames_a"),
        F.col("__n").alias("n_frames_b"),
        F.col("__n").alias("n_shared"),
        F.lit(1.0).alias("jaccard_r"),
    )
    reps = checkpoint(tagged.where(F.col("__id") == F.col("__rep")).select(
        F.col("__rep").alias("__r"), F.col("__n")
    ))
    rframes = fh.join(
        reps.select(F.col("__r").alias("__id")), "__id", "left_semi"
    )
    inter = (
        rframes.select(F.col("__id").alias("video_a"), "dhash_hi", "dhash_lo")
        .join(
            rframes.select(F.col("__id").alias("video_b"), "dhash_hi", "dhash_lo"),
            ["dhash_hi", "dhash_lo"],
        )
        .where(F.col("video_a") < F.col("video_b"))
        .groupBy("video_a", "video_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    na = reps.select(F.col("__r").alias("video_a"), F.col("__n").alias("n_frames_a"))
    nb = reps.select(F.col("__r").alias("video_b"), F.col("__n").alias("n_frames_b"))
    jac = F.col("n_shared").cast("double") / (
        F.col("n_frames_a") + F.col("n_frames_b") - F.col("n_shared")
    ).cast("double")
    near = (
        inter.join(na, "video_a")
        .join(nb, "video_b")
        .withColumn("jaccard_r", F.round(jac, 6))
        .where(F.col("jaccard_r") >= threshold)
        .select(
            "video_a", "video_b", "n_frames_a", "n_frames_b", "n_shared", "jaccard_r"
        )
    )
    return star.unionByName(near)


APHASH_INDEX_ALGO = "aphash-v1:rms-16seg-4bit"


def aphash_index_write(
    df: DataFrame,
    path: str | None = None,
    content_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> DataFrame:
    """Persisted perceptual-fingerprint index for INCREMENTAL audio
    dedup — the audio-modality member of the incremental-index family
    (minhash / winnowing / URL / fingerprint / image dhash): decode
    the existing audio corpus ONCE, then gate every new ingest batch
    against 24-byte (id, hi, lo) rows without ever re-decoding old
    bytes.  Layout mirrors :func:`dhash_index_write`: one row per
    clip (``doc_id``, ``aph_hi``, ``aph_lo``) plus a literal
    ``aphash_algo`` scheme stamp validated on probe — fingerprints
    computed under a different segmentation/quantizer collide VALIDLY
    but wrongly, so a mismatch must be loud, not a silent recall
    hole.  ``mode="append"`` is the incremental maintenance step;
    with ``path`` the returned frame reads from the materialized
    parquet, so probes scan the index, never the corpus recompute
    plan."""
    idx = audio_phash(df, content_col=content_col, id_col=id_col).select(
        "doc_id", "aph_hi", "aph_lo", F.lit(APHASH_INDEX_ALGO).alias("aphash_algo")
    )
    if path is not None:
        idx.write.mode(mode).parquet(path)
        return df.sparkSession.read.parquet(path)
    return idx


def check_aphash_index(index: DataFrame) -> None:
    """Loud structural/scheme validation (the ``check_dhash_index``
    discipline, audio member)."""
    need = {"doc_id", "aph_hi", "aph_lo"}
    if not need <= set(index.columns):
        raise ValueError(
            f"aphash index is missing {sorted(need - set(index.columns))} — "
            "expected the (doc_id, aph_hi, aph_lo, aphash_algo) layout "
            "written by aphash_index_write"
        )
    if "aphash_algo" in index.columns:
        algos = sorted(
            r[0] for r in index.select("aphash_algo").distinct().collect() if r[0]
        )
        if algos and algos != [APHASH_INDEX_ALGO]:
            raise ValueError(
                f"aphash index carries aphash_algo values {algos!r}, this "
                f"engine computes {APHASH_INDEX_ALGO!r} — fingerprints from "
                "another segmentation/quantizer scheme would collide wrongly "
                "and silently re-admit near-duplicate audio; rebuild the "
                "index under one scheme"
            )


def dedup_audio_against_index(
    new_df: DataFrame,
    index: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_seg_diff: int = 2,
) -> DataFrame:
    """Gate a NEW audio batch against a persisted fingerprint index:
    adds ``dup_of`` (the smallest matching indexed id within
    ``max_seg_diff`` differing segments, NULL = novel) and
    ``min_seg_diff``.  The probe is the shared 4-band pigeonhole over
    DISTINCT fingerprints (:func:`_banded_index_probe` — guaranteed
    detection for ≤ 3 differing segments) with the nibble-count
    verify; old audio bytes are never re-read, new bytes never
    shuffle (only their 16-byte fingerprint rows do)."""
    check_aphash_index(index)
    if not 0 <= max_seg_diff <= 3:
        raise ValueError(
            f"dedup_audio_against_index: the 4-band pigeonhole guarantee "
            f"holds for max_seg_diff <= 3, got {max_seg_diff}"
        )
    new_h = audio_phash(new_df, content_col=content_col, id_col=id_col)
    return _banded_index_probe(
        new_h, index, "aph_hi", "aph_lo", max_seg_diff, _nibble_dist, "min_seg_diff"
    )


VSET_INDEX_ALGO = "vset-v1:frame-dhash-9x8-sets"


def video_index_write(
    df: DataFrame,
    path: str | None = None,
    content_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> DataFrame:
    """Persisted frame-hash index for INCREMENTAL video dedup — the
    video member of the incremental-index family: demux + dHash the
    existing video corpus ONCE (:func:`video_frame_dhash`, frame
    bytes never leave the task), then gate every new ingest batch
    against 24-byte (video_id, frame-hash) rows without re-decoding
    old bytes.  Layout: one row per DISTINCT (video, frame hash)
    (``doc_id``, ``dhash_hi``, ``dhash_lo``) plus a literal
    ``vset_algo`` scheme stamp (the dhash/aphash-index discipline) —
    per-video set sizes are recomputed at probe time from the index
    itself, so the layout stays append-friendly.  ``mode="append"``
    is the incremental maintenance step."""
    idx = (
        video_frame_dhash(df, content_col=content_col, id_col=id_col)
        .select("doc_id", "dhash_hi", "dhash_lo")
        .distinct()
        .select(
            "doc_id",
            "dhash_hi",
            "dhash_lo",
            F.lit(VSET_INDEX_ALGO).alias("vset_algo"),
        )
    )
    if path is not None:
        idx.write.mode(mode).parquet(path)
        return df.sparkSession.read.parquet(path)
    return idx


def check_video_index(index: DataFrame) -> None:
    """Loud structural/scheme validation (the ``check_dhash_index``
    discipline, video member)."""
    need = {"doc_id", "dhash_hi", "dhash_lo"}
    if not need <= set(index.columns):
        raise ValueError(
            f"video index is missing {sorted(need - set(index.columns))} — "
            "expected the (doc_id, dhash_hi, dhash_lo, vset_algo) layout "
            "written by video_index_write"
        )
    if "vset_algo" in index.columns:
        algos = sorted(
            r[0] for r in index.select("vset_algo").distinct().collect() if r[0]
        )
        if algos and algos != [VSET_INDEX_ALGO]:
            raise ValueError(
                f"video index carries vset_algo values {algos!r}, this engine "
                f"computes {VSET_INDEX_ALGO!r} — frame hashes from another "
                "grid/luma scheme would overlap wrongly and silently re-admit "
                "near-duplicate videos; rebuild the index under one scheme"
            )


def dedup_videos_against_index(
    new_df: DataFrame,
    index: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_videos: int | None = 64,
) -> DataFrame:
    """Gate a NEW video batch against a persisted frame-hash index:
    per new video, the best-overlapping indexed video by frame-set
    Jaccard — ``dup_of`` (smallest best-Jaccard indexed id, NULL =
    novel below ``threshold``) plus ``jaccard_r``, ``n_frames`` and
    ``n_shared``.  Old video bytes are never re-read; new bytes never
    shuffle (only frame-hash rows do).

    Shapes follow :func:`video_dedup_pairs`: new videos with an
    IDENTICAL frame-hash set share one probe through their min-id
    representative (re-uploaded batches stay linear); frame hashes on
    more than ``max_videos`` INDEXED videos (intro cards) are dropped
    from both sides before sets are sized, so the Jaccard both sides
    see is over the same capped universe.  A new video left with no
    frames after the cap (or undecodable) emits ``n_frames`` 0/NULL
    and a NULL verdict."""
    check_video_index(index)
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"dedup_videos_against_index: threshold must be in (0, 1], got "
            f"{threshold}"
        )
    # checkpoint the distinct index rows FIRST so the ubiquitous-frame
    # aggregate and the anti-join do not scan the index twice
    ifh = checkpoint(index.select("doc_id", "dhash_hi", "dhash_lo").distinct())
    if max_videos is not None:
        wide = (
            ifh.groupBy("dhash_hi", "dhash_lo")
            .agg(F.count(F.lit(1)).alias("__nv"))
            .where(F.col("__nv") > max_videos)
            .select("dhash_hi", "dhash_lo")
        )
        ifh = ifh.join(F.broadcast(wide), ["dhash_hi", "dhash_lo"], "left_anti")
    else:
        wide = None
    ifh = checkpoint(ifh)
    isz = ifh.groupBy(F.col("doc_id").alias("__iid")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__in")
    )
    nfh = video_frame_dhash(
        new_df, content_col=content_col, id_col=id_col
    ).select(F.col(id_col).alias("__nid"), "dhash_hi", "dhash_lo").distinct()
    if wide is not None:
        nfh = nfh.join(F.broadcast(wide), ["dhash_hi", "dhash_lo"], "left_anti")
    nfh = checkpoint(nfh)
    # identical new sets probe once through their min-id representative
    sets = nfh.groupBy("__nid").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nn"),
        F.concat_ws(
            ",",
            F.sort_array(
                F.collect_list(
                    F.format_string("%d:%d", F.col("dhash_hi"), F.col("dhash_lo"))
                )
            ),
        ).alias("__setkey"),
    )
    grp = Window.partitionBy("__setkey")
    tagged = checkpoint(sets.withColumn("__rep", F.min("__nid").over(grp)))
    reps = tagged.where(F.col("__nid") == F.col("__rep")).select(
        F.col("__rep").alias("__r"), F.col("__nn")
    )
    rframes = nfh.join(
        reps.select(F.col("__r").alias("__nid")), "__nid", "left_semi"
    )
    shared = (
        rframes.join(ifh.select(F.col("doc_id").alias("__iid"), "dhash_hi", "dhash_lo"),
                     ["dhash_hi", "dhash_lo"])
        .groupBy("__nid", "__iid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__sh"))
    )
    jac = F.round(
        F.col("__sh").cast("double")
        / (F.col("__nn") + F.col("__in") - F.col("__sh")).cast("double"),
        6,
    )
    best = (
        shared.join(reps.select(F.col("__r").alias("__nid"), "__nn"), "__nid")
        .join(isz, "__iid")
        .withColumn("__j", jac)
        .where(F.col("__j") >= threshold)
        # best = highest jaccard, ties to the SMALLEST indexed id
        .groupBy("__nid")
        .agg(
            F.max(
                F.struct(
                    F.col("__j"),
                    (-F.col("__iid")).alias("__ni"),
                    F.col("__sh").alias("__bsh"),
                )
            ).alias("__w")
        )
        .select(
            "__nid",
            F.col("__w.__j").alias("jaccard_r"),
            (-F.col("__w.__ni")).cast("bigint").alias("dup_of"),
            F.col("__w.__bsh").alias("n_shared"),
        )
    )
    per_video = tagged.select(
        F.col("__nid"), F.col("__nn").alias("n_frames"), F.col("__rep")
    )
    verdicts = per_video.join(
        best.withColumnRenamed("__nid", "__rep"), "__rep", "left"
    ).select(
        F.col("__nid").alias(id_col),
        "n_frames",
        "n_shared",
        "jaccard_r",
        "dup_of",
    )
    # videos that lost every frame (cap/undecodable) never reach the
    # probe: re-attach them with NULL verdicts off the input ids
    all_ids = new_df.where(F.col(id_col).isNotNull()).select(id_col).distinct()
    return all_ids.join(verdicts, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_frames"), F.lit(0)).cast("bigint").alias("n_frames"),
        "n_shared",
        "jaccard_r",
        "dup_of",
    )
