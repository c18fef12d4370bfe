"""Multimodal column handling (SURVEY.md M5): image/audio/video as
opaque ``binary`` payloads with typed metadata, processed with
Arrow-batched ``mapInPandas``.

Two kernel tiers:

- REAL, library-free codecs: ``encode_bmp``/``real_decode`` (24-bit
  uncompressed BMP, pure struct+numpy) and ``encode_wav``/
  ``decode_wav`` (RIFF/WAVE 16-bit PCM chunk walker). The
  ``decode_image_meta`` / ``audio_features_wav`` operators decode
  actual image/audio files and compute stats over the DECODED
  pixel/sample arrays -- no imaging library required, none used.
- Deterministic fakes (``_fake_decode`` et al.) kept for the
  byte-slicing plumbing operators (frame_sample, resize) whose real
  kernels would need PIL/ffmpeg-class libraries the container lacks;
  the Spark-side plumbing around them (schema, Arrow batching,
  1:N explosion) is real and oracle-tested either way.

One row substrate: every operator's Python step is an ``emit``
function run by ``_rows(df, in_cols, schema, emit)`` -- the
reference's per-record ``map`` writing through one ``Context``.
``emit(*values)`` gets one input row's ``in_cols`` values and yields
zero, one or many output tuples in ``schema`` order; ``_rows`` owns
the Arrow batch loop, the per-column transpose, the pandas dtypes (derived
once from the DDL) and the module's only ``mapInPandas``. An operator
keeps its decode/compute step and its Spark-side closing expression.

100 TB posture: payloads stay in executor-side Arrow batches; nothing
returns to the driver; per-batch memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Output schema of decode_metadata (DDL form, used by mapInPandas).
DECODE_SCHEMA = (
    "doc_id long, content_type string, n_bytes long, fake_width long, fake_height long, "
    "byte_sum long, byte_min int, byte_max int, n_distinct_bytes int"
)

FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes binary"

#: Output schema of the three ``attach_*_payload`` encoders.
_PAYLOAD_SCHEMA = "doc_id long, payload binary"

#: pandas dtype of a ``_rows`` output column, by its DDL type.
_PD_DTYPES = {
    "long": "int64",
    "bigint": "int64",
    "int": "int32",
    "double": "float64",
    "string": object,
    "binary": object,
}


def _rows(df: DataFrame, in_cols: tuple[str, ...], schema: str, emit) -> DataFrame:
    """Run ``emit`` over every row of ``df``'s ``in_cols`` and return
    its output rows as a DataFrame of the DDL ``schema``.

    ``emit(*values)`` receives one row's ``in_cols`` values (payloads
    as ``bytes``) and returns an iterable of tuples in ``schema``
    order -- none to drop the row, one for a 1:1 map, many for a 1:N
    explosion. Each input row's tuples are transposed (``zip(*rows)``)
    onto one list per output column, so no tuple outlives its input
    row (a batch-long list of tuples is rescanned by every cyclic
    garbage collection while the batch fills). Each column is built with the pandas dtype its DDL
    type names (``long``/``bigint`` -> int64, ``int`` -> int32,
    ``double`` -> float64, ``string``/``binary`` -> object), so a None
    in a double column crosses as NULL and an empty batch keeps its
    types. Only ``in_cols`` reach the Python worker."""
    fields = [f.split() for f in schema.split(",")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = [[] for _ in fields]
            for values in zip(*(pdf[c] for c in in_cols)):
                for col, vals in zip(cols, zip(*emit(*values))):
                    col.extend(vals)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=_PD_DTYPES[t]) for (n, t), c in zip(fields, cols)}
            )

    return df.select(*in_cols).mapInPandas(kernel, schema=schema)


def _text_bytes(text: str):
    """The UTF-8 bytes of ``text`` as a uint8 array."""
    return np.frombuffer(text.encode("utf-8"), dtype=np.uint8)


def _luma(payload: bytes):
    """Integer luminance ``r+g+b`` (0..765) of a BMP payload, decoded
    by ``real_decode``: an int64 (h, w) array."""
    return real_decode(bytes(payload)).astype(np.int64).sum(axis=2)


def _pcm(payload: bytes):
    """The int16 samples of a WAV payload, decoded by ``decode_wav``,
    widened to int64 so squares and lag products cannot overflow."""
    return decode_wav(bytes(payload))[1].astype(np.int64)


def _bin_rows(doc_id, keys, bins: int):
    """(doc_id, bin, count) for each occupied bin of the integer bin
    ``keys`` -- the sparse histogram rows, in bin order."""
    cnt = np.bincount(keys, minlength=bins)
    return ((doc_id, int(i), int(cnt[i])) for i in np.nonzero(cnt)[0])


def _vad_gate(payload: bytes, frame: int):
    """(energies, active) of a WAV payload's whole ``frame``-sample
    windows: int64 sums of squared samples, and the exact integer gate
    ``e * 4 > max(e)``. None when the clip is shorter than one frame
    (partial trailing frames drop)."""
    s = _pcm(payload)
    nf = len(s) // frame
    if nf == 0:
        return None
    x = s[: nf * frame].reshape(nf, frame)
    e = (x * x).sum(axis=1)
    return e, e * 4 > e.max()


def _perceptual_groups(images: DataFrame, name: str, bits) -> DataFrame:
    """(``name``, keep_doc_id, n_copies): images grouped by the 64-char
    '0'/'1' hash of the boolean array ``bits(luma)`` returns for each
    decoded image -- one representative (min doc_id) and the copy
    count per perceptual class. The group-by shuffles hashes, never
    pixels."""

    def emit(doc_id, payload):
        yield doc_id, "".join("1" if b else "0" for b in bits(_luma(payload)))

    hashed = _rows(images, ("doc_id", "payload"), f"doc_id long, {name} string", emit)
    return hashed.groupBy(name).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


def attach_payload(documents: DataFrame) -> DataFrame:
    """Model a multimodal table: derive an opaque binary payload column
    (UTF-8 bytes of the text stand in for image bytes) plus typed
    metadata, the canonical layout for binary + metadata columns."""
    return documents.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/fake").alias("content_type"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decoder: derives fake
    dimensions from the byte length. Replace with PIL decode when the
    library is available."""
    n = len(payload)
    return n, n % 640, (n * 7) % 480


def encode_bmp(arr) -> bytes:
    """Library-free REAL image encoder: 24-bit uncompressed BMP
    (BITMAPFILEHEADER + BITMAPINFOHEADER, BGR byte order, bottom-up
    rows, 4-byte row padding) from an (h, w, 3) uint8 RGB array.
    Pure struct/numpy -- no imaging library involved."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row = ((3 * w + 3) // 4) * 4
    img_size = row * h
    # RGB -> BGR, bottom-up scanlines, pad rows to 4 bytes
    bgr = a[::-1, :, ::-1]
    rows = np.zeros((h, row), dtype=np.uint8)
    rows[:, : 3 * w] = bgr.reshape(h, 3 * w)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    return header + info + rows.tobytes()


def real_decode(payload: bytes):
    """REAL image decode, library-free: parses 24-bit uncompressed BMP
    (the format ``encode_bmp`` writes, and what any BMP producer
    emits) into an (h, w, 3) uint8 RGB numpy array. Validates magic,
    header size, bit depth and compression; raises ValueError on
    anything it cannot decode -- no fake fallback on this path."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} compression={compression}")
    bottom_up = h > 0
    h = abs(h)
    row = ((3 * w + 3) // 4) * 4
    if offset + row * h > len(payload):
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(payload, dtype=np.uint8, count=row * h, offset=offset)
    bgr = rows.reshape(h, row)[:, : 3 * w].reshape(h, w, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR -> RGB


def encode_wav(samples, sample_rate: int = 16000) -> bytes:
    """Library-free REAL audio encoder: RIFF/WAVE container with a
    PCM fmt chunk and a 16-bit mono little-endian data chunk."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    out = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return out


def decode_wav(payload: bytes):
    """REAL audio decode, library-free: walks RIFF chunks, reads the
    PCM fmt chunk and returns (sample_rate, int16 numpy samples).
    Validates container magic, PCM format tag and 16-bit depth;
    raises ValueError otherwise."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, bits, fmt_tag, channels, data = 12, None, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if fmt_tag != 1 or bits != 16 or channels != 1:
        raise ValueError(f"unsupported WAV: fmt={fmt_tag} bits={bits} ch={channels}")
    return rate, np.frombuffer(data, dtype="<i2")


def decode_metadata(multimodal: DataFrame) -> DataFrame:
    """Per-payload metadata extraction via mapInPandas: batch iterator
    in, batch iterator out, payload column dropped on output so the
    binary never travels further than necessary.

    Alongside the fake-decoder dimensions, emits content-derived byte
    statistics (sum / min / max / distinct count over the raw payload
    bytes, numpy-vectorized) so the correctness oracle verifies actual
    payload CONTENT, not just its length."""

    def emit(doc_id, payload, content_type):
        x = np.frombuffer(payload, dtype=np.uint8)
        stats = (
            (int(x.sum(dtype=np.int64)), int(x.min()), int(x.max()), len(np.unique(x)))
            if len(x)
            else (0, 0, 0, 0)
        )
        yield (doc_id, content_type, *_fake_decode(payload), *stats)

    return _rows(multimodal, ("doc_id", "payload", "content_type"), DECODE_SCHEMA, emit)


def frame_sample(multimodal: DataFrame, max_frames: int = 4, frame_bytes: int = 32) -> DataFrame:
    """Video-style frame sampling: explode each payload into up to
    ``max_frames`` fixed-stride byte slices (stand-ins for decoded
    frames). Real frame decode would replace the slicing kernel."""

    def emit(doc_id, payload):
        n_frames = min(max_frames, max(1, len(payload) // frame_bytes))
        stride = max(1, len(payload) // n_frames)
        for i in range(n_frames):
            yield doc_id, i, bytes(payload[i * stride : i * stride + frame_bytes])

    return _rows(multimodal, ("doc_id", "payload"), FRAME_SCHEMA, emit)


RESIZE_SCHEMA = "doc_id long, out_width long, out_height long, resized binary"


def resize(multimodal: DataFrame, target_width: int = 64) -> DataFrame:
    """Image-style resize over opaque payloads: emits a downscaled
    payload plus its new fake dimensions. The kernel is a
    deterministic stub (byte-stride downsample standing in for a real
    interpolating resampler -- Pillow is absent by design); the
    engine-relevant parts are real: Arrow batch iteration, binary in /
    binary out, 1:1 row contract, metadata riding alongside the blob.
    Replace the slicing with ``PIL.Image.resize`` when the library
    exists.

    100 TB posture: resize is the canonical pre-shuffle size reducer
    -- run it BEFORE any repartition/join of a multimodal table so the
    exchange carries thumbnails, not originals.
    """

    def emit(doc_id, payload):
        _, w, h = _fake_decode(payload)
        scale = max(1, w // target_width)
        yield doc_id, max(1, w // scale), max(1, h // scale), bytes(payload[::scale])

    return _rows(multimodal, ("doc_id", "payload"), RESIZE_SCHEMA, emit)


AUDIO_SCHEMA = (
    "doc_id long, n_samples long, duration_fake_ms double, rms_fake double, peak_fake double"
)


def audio_features(multimodal: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Audio-style feature extraction over opaque binary payloads:
    interpret bytes as fake PCM samples and emit per-clip stats
    (sample count, duration, RMS, peak). The DSP kernel is a
    deterministic stub -- librosa/scipy are absent by design -- but
    the batch shape is the real one: one Arrow batch in, one stats
    frame out, payload dropped on output. Swapping in a real decoder
    changes only the numpy body.

    RMS and peak are content-derived (oracle-verified byte-for-byte);
    duration is reported in milliseconds (n / (rate/1000)) because a
    power-of-two divisor is exact in float64, making the value
    engine-portable without rounding-mode ties."""
    ms_divisor = sample_rate / 1000.0

    def emit(doc_id, payload):
        x = np.frombuffer(payload, dtype=np.uint8).astype(np.float64) - 128.0
        rms = round(float(np.sqrt(np.mean(x * x))) if len(x) else 0.0, 4)
        peak = round(float(np.abs(x).max()) if len(x) else 0.0, 4)
        yield doc_id, len(x), len(x) / ms_divisor, rms, peak

    return _rows(multimodal, ("doc_id", "payload"), AUDIO_SCHEMA, emit)


# ------------------------------------------------------------------
# REAL codec paths: deterministic BMP / WAV payloads built from doc
# content, decoded back with the library-free parsers above. The
# encode and decode kernels live in separate mapInPandas stages (the
# layout a real pipeline has: ingest produces binaries, decode
# consumes them); both are narrow map-only stages, payloads never
# shuffle or reach the driver.

IMAGE_META_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, "
    "sum_r long, sum_g long, sum_b long, px_min int, px_max int"
)

AUDIO_WAV_SCHEMA = (
    "doc_id long, n_bytes long, sample_rate int, n_samples long, "
    "duration_ms double, rms double, peak double"
)


def _image_geometry(n: int) -> tuple[int, int]:
    """Deterministic per-doc image size from payload-source length --
    small and coprime-ish moduli so widths/heights vary."""
    return 8 + (n % 9), 8 + ((n * 3) % 9)


def attach_image_payload(documents: DataFrame) -> DataFrame:
    """Build a REAL 24-bit BMP per document: pixel k (row-major RGB
    flat order) carries text-byte k mod n, tiled to a deterministic
    (w, h) geometry -- so the oracle can reconstruct every pixel from
    the text column while the payload itself is a spec-compliant BMP
    file that any decoder opens."""

    def emit(doc_id, text):
        b = _text_bytes(text)
        if len(b):
            w, h = _image_geometry(len(b))
            yield doc_id, encode_bmp(b[np.arange(w * h * 3) % len(b)].reshape(h, w, 3))

    return _rows(documents, ("doc_id", "text"), _PAYLOAD_SCHEMA, emit)


def decode_image_meta(images: DataFrame) -> DataFrame:
    """REAL decode path: parse each BMP payload with the library-free
    ``real_decode`` and emit geometry plus per-channel pixel sums and
    min/max -- stats over the DECODED pixel array, so a header-only
    shortcut or a byte-length fake cannot pass the oracle."""

    def emit(doc_id, payload):
        px = real_decode(bytes(payload))
        h, w, _ = px.shape
        sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        yield (doc_id, len(payload), w, h, *sums, px.min(), px.max())

    return _rows(images, ("doc_id", "payload"), IMAGE_META_SCHEMA, emit)


def attach_audio_payload(documents: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Build a REAL RIFF/WAVE payload per document: 16-bit mono PCM
    where sample k = (text_byte_k - 128) * 256 -- deterministic,
    oracle-reconstructable, and a spec-compliant WAV file."""

    def emit(doc_id, text):
        b = _text_bytes(text)
        if len(b):
            samples = (b.astype(np.int32) - 128) * 256
            yield doc_id, encode_wav(samples.astype(np.int16), sample_rate)

    return _rows(documents, ("doc_id", "text"), _PAYLOAD_SCHEMA, emit)


def audio_features_wav(audio: DataFrame) -> DataFrame:
    """REAL audio decode path: walk the RIFF container, parse the PCM
    data chunk with ``decode_wav``, and emit per-clip features over
    the DECODED int16 samples (duration from the fmt chunk's true
    sample rate; RMS/peak in float64, rounded once)."""

    def emit(doc_id, payload):
        rate, s = decode_wav(bytes(payload))
        x = s.astype(np.float64)
        rms = round(float(np.sqrt(np.mean(x * x))) if len(s) else 0.0, 4)
        peak = float(np.abs(x).max()) if len(s) else 0.0
        yield doc_id, len(payload), rate, len(s), len(s) / (rate / 1000.0), rms, peak

    return _rows(audio, ("doc_id", "payload"), AUDIO_WAV_SCHEMA, emit)


#: Video container magic: 'JVF0' + <u32 n_frames> + per frame
#: <u32 byte_len><BMP file bytes>. A deliberately minimal but REAL
#: chunked container (the AVI/RIFF idea stripped to its parse loop).
VIDEO_MAGIC = b"JVF0"


def encode_video(frames) -> bytes:
    """Library-free container encoder: length-prefixed concatenation
    of spec-compliant BMP frames behind a magic + frame count header."""
    import struct

    blobs = [encode_bmp(f) for f in frames]
    return (
        VIDEO_MAGIC
        + struct.pack("<I", len(blobs))
        + b"".join(struct.pack("<I", len(b)) + b for b in blobs)
    )


def decode_video(payload: bytes):
    """REAL container parse loop: validates magic, walks the declared
    frame count through length-prefixed chunks (bounds-checked), and
    hands each chunk to the pure-numpy BMP parser. Raises ValueError
    on malformed containers — no fake fallback."""
    import struct

    if len(payload) < 8 or payload[:4] != VIDEO_MAGIC:
        raise ValueError("not a JVF container")
    n_frames = struct.unpack_from("<I", payload, 4)[0]
    off = 8
    frames = []
    for _ in range(n_frames):
        if off + 4 > len(payload):
            raise ValueError("truncated frame header")
        (ln,) = struct.unpack_from("<I", payload, off)
        off += 4
        if off + ln > len(payload):
            raise ValueError("truncated frame chunk")
        frames.append(real_decode(payload[off : off + ln]))
        off += ln
    if off != len(payload):
        raise ValueError("trailing bytes after last frame")
    return frames


def attach_video_payload(documents: DataFrame) -> DataFrame:
    """Build a REAL multi-frame video container per document: frame f
    tiles text byte ``(k + f) mod n`` into a per-frame geometry
    ``_image_geometry(n + f)`` — every pixel of every frame
    reconstructs from the text column (the oracle's lever), while the
    payload is a genuine chunk-walked container of decodable BMPs."""

    def emit(doc_id, text):
        b = _text_bytes(text)
        if not len(b):
            return
        frames = []
        for f in range(2 + (len(b) % 3)):
            w, h = _image_geometry(len(b) + f)
            frames.append(b[(np.arange(w * h * 3) + f) % len(b)].reshape(h, w, 3))
        yield doc_id, encode_video(frames)

    return _rows(documents, ("doc_id", "text"), _PAYLOAD_SCHEMA, emit)


def decode_video_frames(videos: DataFrame) -> DataFrame:
    """Per-frame decode of the video container: one Arrow-batched
    pass walks each container's chunks, BMP-decodes every frame, and
    multi-emits one row per frame with geometry + pixel stats over
    the DECODED array. Payloads never leave the executors; output is
    frames x small-stats rows. This is the Spark shape for video at
    100 TB: containers stay columnar-binary, the parse/decode kernel
    is row-local, and frame fan-out happens inside the executor pass
    (no shuffle until whatever aggregation consumes the frames)."""

    def emit(doc_id, payload):
        for f, arr in enumerate(decode_video(bytes(payload))):
            h, w, _ = arr.shape
            n_bytes = 54 + ((3 * w + 3) // 4) * 4 * h
            yield doc_id, f, w, h, n_bytes, int(arr.sum()), arr.min(), arr.max()

    return _rows(
        videos,
        ("doc_id", "payload"),
        "doc_id long, frame_idx int, width int, height int, "
        "frame_bytes long, sum_px long, px_min int, px_max int",
        emit,
    )


def image_ahash(images: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) duplicate grouping over REAL
    decoded pixels: each BMP decodes (library-free ``real_decode``),
    converts to a grayscale sum, block-averages onto the 8x8 aHash
    grid, and emits one bit per cell (cell mean >= image mean) --
    the classic perceptual fingerprint that survives re-encoding and
    minor brightness-preserving edits, where a byte-exact md5 does
    not. Docs are then grouped by hash: one representative (min
    doc_id) + copy count per perceptual class, the image analog of
    ``dedup_exact``.

    All comparisons are exact integer cross-multiplications
    (cell_sum * total_n >= total_sum * cell_n), so the hash is
    bit-identical across engines and float regimes; the oracle
    recomputes it from the text bytes the pixels tile from. The
    Arrow-batched kernel emits 64 chars per image -- payloads never
    reach the driver, and the group-by shuffles hashes, not pixels.

    Emits (ahash, keep_doc_id, n_copies).
    """

    def bits(gray):
        h, w = gray.shape
        ys = (np.arange(h) * 8) // h
        xs = (np.arange(w) * 8) // w
        cell = (ys[:, None] * 8 + xs[None, :]).ravel()
        s = np.bincount(cell, weights=gray.ravel(), minlength=64).astype(np.int64)
        n = np.bincount(cell, minlength=64).astype(np.int64)
        return s * (h * w) >= int(gray.sum()) * n

    return _perceptual_groups(images, "ahash", bits)


#: Output schema of image_patches (DDL form).
PATCH_SUM_SCHEMA = (
    "doc_id long, patch_row int, patch_col int, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def image_patches(images: DataFrame, patch: int = 4) -> DataFrame:
    """ViT-style patch extraction over the REAL decode path: each BMP
    decodes (library-free ``real_decode``), the pixel array splits
    into non-overlapping ``patch`` x ``patch`` tiles (edge remainders
    dropped, the standard ViT crop), and each tile emits its exact
    per-channel integer pixel sum -- the patch-embedding precursor a
    multimodal training pipeline computes per image.

    One ``mapInPandas`` pass, 1:grid explosion inside the kernel (the
    numpy reshape-sum does all tiles of an image in one vectorized
    op); payloads never leave the executors, output rows are tiny
    fixed-width integers. Integer sums (not float means) so the
    oracle comparison is exact.
    """

    def emit(doc_id, payload):
        px = real_decode(bytes(payload))
        h, w, _ = px.shape
        gh, gw = h // patch, w // patch
        crop = px[: gh * patch, : gw * patch].astype(np.int64)
        sums = crop.reshape(gh, patch, gw, patch, 3).sum(axis=(1, 3))
        for i, (r, g, b) in enumerate(sums.reshape(-1, 3).tolist()):
            yield doc_id, i // gw, i % gw, r, g, b

    return _rows(images, ("doc_id", "payload"), PATCH_SUM_SCHEMA, emit)


def image_histogram(images: DataFrame, bins: int = 16) -> DataFrame:
    """Per-image luminance histogram over the REAL decode path -- the
    exposure/contrast profile a vision-data curator filters on before
    training (all-dark, all-blown, or low-dynamic-range images are
    cheap to drop once binned). Integer luminance ``r+g+b`` (0..765)
    buckets by exact integer floor-division into 16 bins, so every
    count is engine-exact and the oracle replays the full computation
    from the text bytes the pixels tile from.

    The Arrow kernel decodes each BMP (library-free ``real_decode``),
    bins with one vectorized bincount, and emits at most ``bins``
    rows per image -- payloads stay executor-local, the shuffle
    carries (doc_id, bin, count) triples only. Occupied bins only
    (sparse form), the group-by-free layout downstream percentile /
    entropy readouts consume directly.

    Emits (doc_id, bin, n_px).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    width = (3 * 255) // bins + 1  # 48 for 16 bins: 765 // 48 = 15

    def emit(doc_id, payload):
        return _bin_rows(doc_id, _luma(payload).ravel() // width, bins)

    return _rows(images, ("doc_id", "payload"), "doc_id long, bin int, n_px long", emit)


#: audio_spectrogram output schema (kept next to its sibling above).
AUDIO_SPEC_SCHEMA = (
    "doc_id long, frame_idx int, total_energy double,"
    " dominant_bin int, dominant_power double"
)


def audio_spectrogram(
    audio: DataFrame, n_fft: int = 256, hop: int = 128, max_frames: int = 8
) -> DataFrame:
    """REAL short-time spectrogram over the WAV path: walk the RIFF
    container, frame the decoded PCM (``n_fft`` window, ``hop``
    stride), apply a Hann window, and take the power spectrum with
    numpy's rFFT -- per frame the total spectral energy and the
    dominant frequency bin. Library-free except numpy (no librosa in
    the container -- none needed for an STFT).

    Plan: pure ``mapInPandas`` over the payload column -- decode, FFT,
    and reduction all happen inside the Arrow batch, payloads never
    reach the driver, and the output is bounded at ``max_frames`` rows
    per clip regardless of clip length (frame_idx strides cover the
    head; a full spectrogram sink would emit every frame). Map-only:
    scan bandwidth is the only scale axis.

    Correctness is pinned physically, not by replica: a synthesized
    pure tone must put its dominant bin at freq/rate * n_fft
    (tests/test_multimodal.py), and ties break to the lowest bin.

    Rows-only by declared design (no FFT in the SQL oracle engine)."""
    win = np.hanning(n_fft)

    def emit(doc_id, payload):
        x = _pcm(payload).astype(np.float64)
        n_frames = max(0, (len(x) - n_fft) // hop + 1)
        for fi in range(min(n_frames, max_frames)):
            spec = np.abs(np.fft.rfft(x[fi * hop : fi * hop + n_fft] * win)) ** 2
            dom = int(np.argmax(spec))  # ties -> lowest bin
            yield doc_id, fi, round(float(spec.sum()), 4), dom, round(float(spec[dom]), 4)

    return _rows(audio, ("doc_id", "payload"), AUDIO_SPEC_SCHEMA, emit)


#: Integer-scaled DCT-II basis for the pHash kernel: 2^14-scaled
#: cosines, u in 0..7 (the low-frequency block), x in 0..15. The
#: oracle SQL embeds THESE constants (generated from this function),
#: so engine and oracle multiply identical integers.
_DCT_N = 16
_DCT_SCALE = 1 << 14


def dct_consts() -> list[tuple[int, int, int]]:
    import math

    return [
        (
            u,
            x,
            round(
                math.cos(math.pi * (2 * x + 1) * u / (2 * _DCT_N))
                * _DCT_SCALE
            ),
        )
        for u in range(8)
        for x in range(_DCT_N)
    ]


def image_phash(images: DataFrame) -> DataFrame:
    """Perceptual DCT hash (pHash) duplicate grouping over REAL
    decoded pixels -- the frequency-domain upgrade of ``image_ahash``:
    aHash compares cell means (brightness layout), pHash compares the
    image's low-frequency DCT spectrum, which survives blur, mild
    resampling, and local edits that flip aHash bits.

    Exact-integer pipeline, so the hash is bit-identical across
    engines: grayscale sums (0..765) -> nearest-neighbor 16x16
    resample (pure index math, no averaging) -> 2D DCT as int64
    matrix products against the 2^14-scaled cosine basis
    (``dct_consts``; max |term| ~2e11 x 256 terms, no overflow) ->
    the 63 AC coefficients of the top-left 8x8 block threshold
    STRICTLY above their 32nd-smallest value (the integer lower
    median). The oracle replays the identical integer DCT from the
    text bytes the pixels tile from, constants embedded from the same
    generator.

    Emits (phash, keep_doc_id, n_copies) -- one row per perceptual
    class, the image analog of ``dedup_exact``.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    C = np.zeros((8, _DCT_N), dtype=np.int64)
    for u, x, c in dct_consts():
        C[u, x] = c

    def bits(gray):
        h, w = gray.shape
        ys = (np.arange(_DCT_N) * h) // _DCT_N
        xs = (np.arange(_DCT_N) * w) // _DCT_N
        ac = (C @ gray[ys][:, xs] @ C.T).ravel()[1:]
        return ac > np.sort(ac)[31]

    return _perceptual_groups(images, "phash", bits)


def audio_vad(audio: DataFrame, frame: int = 32) -> DataFrame:
    """Energy-gated voice-activity detection over REAL decoded PCM --
    the first stage of every speech pipeline (ASR pre-segmentation,
    silence stripping before transcription cost): frames whose energy
    clears the gate are 'speech', consecutive active frames fuse into
    segments.

    Exact-integer contract (bit-identical across engines): int16
    samples from the RIFF parse, per-frame energy = sum of squared
    samples over ``frame``-sample windows (int64, no overflow:
    2^30 x frame), the gate is ``energy * 4 > clip peak energy``
    (strict integer cross-multiplication -- no float ratio), partial
    trailing frames drop. The oracle replays samples from the text
    bytes the PCM was built from and runs the same integer pipeline
    with islands-by-window.

    Emits (doc_id, n_frames, n_active, n_segments, longest_run);
    clips shorter than one frame drop.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """

    def emit(doc_id, payload):
        gate = _vad_gate(payload, frame)
        if gate is None:
            return
        active = gate[1]
        runs, cur = [], 0
        for a in active:
            if a:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        yield doc_id, len(active), int(active.sum()), len(runs), max(runs) if runs else 0

    return _rows(
        audio,
        ("doc_id", "payload"),
        "doc_id long, n_frames long, n_active long, "
        "n_segments long, longest_run long",
        emit,
    )


def video_scene_diff(videos: DataFrame) -> DataFrame:
    """Shot-boundary (scene-cut) detection over REAL decoded video
    frames -- the standard frame-differencing detector every video
    curation pipeline runs before sampling keyframes: consecutive
    frames are compared on a fixed low-resolution grid and a pair
    whose difference rises strictly above the clip mean flags a cut.

    Frames in the container have per-frame geometry, so each frame
    first lands on a common 8x8 grid by nearest-neighbor INDEX math
    (no averaging -- the ``image_phash`` resample discipline), as
    integer gray sums (0..765). Pair difference = sum of |cell
    deltas| over 64 cells; the cut flag is the strict integer
    cross-multiplication ``diff * n_pairs > total_diff`` (no float
    ratio). Bit-identical across engines; the oracle replays every
    pixel from the text bytes the frames tile from.

    Emits (doc_id, frame_idx, diff, is_cut) -- one row per
    consecutive frame pair, indexed by the LATER frame.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """

    def g8(arr) -> "np.ndarray":
        h, w, _ = arr.shape
        gray = arr.astype(np.int64).sum(axis=2)
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(8) * w) // 8
        return gray[ys][:, xs]

    def emit(doc_id, payload):
        grids = [g8(a) for a in decode_video(bytes(payload))]
        for f in range(1, len(grids)):
            yield doc_id, f, int(np.abs(grids[f] - grids[f - 1]).sum())

    diffs = _rows(
        videos, ("doc_id", "payload"), "doc_id long, frame_idx int, diff long", emit
    )
    w = Window.partitionBy("doc_id")
    return diffs.select(
        "doc_id",
        "frame_idx",
        "diff",
        (
            F.col("diff") * F.count("*").over(w) > F.sum("diff").over(w)
        ).alias("is_cut"),
    )


def audio_snr(audio: DataFrame, frame: int = 32) -> DataFrame:
    """Speech-vs-floor energy ratio per clip -- the quality gate run
    right after ``audio_vad``: a clip whose active frames barely
    clear its own noise floor is unusable for ASR training however
    much "speech" the VAD found. The SNR proxy is (mean active frame
    energy) / (mean inactive frame energy), with the VAD's exact
    integer gate deciding the split.

    Exact-integer contract: frame energies and the activity gate are
    the ``audio_vad`` pipeline verbatim (int64 squared-sample sums,
    strict ``e*4 > peak`` cross-multiplication); the four per-clip
    sums are exact ints and the single closing ratio is ONE double
    division of cross-multiplied ints (max ~2^59, no overflow),
    rounded 6. Clips with no inactive frames (constant-energy) carry
    no floor estimate and emit NULL snr on both engines.

    Emits (doc_id, n_active, n_inactive, active_energy,
    inactive_energy, snr).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """

    def emit(doc_id, payload):
        gate = _vad_gate(payload, frame)
        if gate is not None:
            e, on = gate
            yield doc_id, int(on.sum()), int((~on).sum()), int(e[on].sum()), int(e[~on].sum())

    stats = _rows(
        audio,
        ("doc_id", "payload"),
        "doc_id long, n_active long, n_inactive long,"
        " active_energy long, inactive_energy long",
        emit,
    )
    snr = F.when(
        (F.col("n_inactive") > 0) & (F.col("inactive_energy") > 0),
        F.round(
            (F.col("active_energy") * F.col("n_inactive"))
            / (F.col("inactive_energy") * F.lit(1.0) * F.col("n_active")),
            6,
        ),
    )
    return stats.select(
        "doc_id",
        "n_active",
        "n_inactive",
        "active_energy",
        "inactive_energy",
        snr.alias("snr"),
    )


def image_entropy(images: DataFrame, bins: int = 16) -> DataFrame:
    """Per-image luminance entropy -- the information/contrast score
    on top of ``image_histogram``'s bins: near-constant images
    (logos, blanks, letterboxes) score near 0 and are the cheapest
    drop a vision-data curator makes; high-entropy images carry
    texture worth training on.

    The Arrow kernel is the histogram pipeline verbatim (exact
    integer luminance bins); entropy folds over the <= ``bins``
    per-image counts IN BIN ORDER via the sorted-array fold (the
    ``user_behavior_entropy`` determinism discipline), so both
    engines add the same doubles in the same order.

    Emits (doc_id, n_px, n_bins, entropy) -- entropy in bits,
    rounded 4.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    hist = image_histogram(images, bins)
    per = hist.groupBy("doc_id").agg(
        F.sum("n_px").cast("bigint").alias("n_px"),
        F.count("*").cast("bigint").alias("n_bins"),
        F.array_sort(F.collect_list(F.struct("bin", "n_px"))).alias(
            "cells"
        ),
    )
    from ..functions.stats import entropy_bits

    h = entropy_bits(F.col("cells"), F.col("n_px"), count_field="n_px")
    return per.select(
        "doc_id", "n_px", "n_bins", F.round(h, 4).alias("entropy")
    )


def text_byte_histogram(documents: DataFrame, bins: int = 16) -> DataFrame:
    """The TEXT tower of the image-text alignment pair: bin
    consecutive utf-8 byte TRIPLES of each doc's text by integer sum
    // 48 -- the same 16-bucket luminance construction
    ``image_histogram`` applies to decoded (r, g, b) pixels, computed
    straight from the text column (the remainder bytes past the last
    full triple are dropped). Sparse long form (doc_id, bin, n_tri),
    exactly the histogram shape the alignment cosine consumes.

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    width = (3 * 255) // bins + 1  # 48: matches image_histogram

    def emit(doc_id, text):
        b = _text_bytes(text)
        k = len(b) // 3
        tri = b[: 3 * k].astype(np.int64).reshape(k, 3).sum(axis=1)
        return _bin_rows(doc_id, tri // width, bins)

    return _rows(documents, ("doc_id", "text"), "doc_id long, bin int, n_tri long", emit)


def multimodal_text_align(
    documents: DataFrame,
    embeddings: DataFrame,
    min_quality: float = 0.25,
    min_align: float = 0.999,
    min_emb_cos: float = 0.0,
) -> DataFrame:
    """Image-text alignment curation gate -- the CLIP-filter shape for
    multimodal corpus curation: one verdict row per document joining
    three independent keep signals, each from a different tower:

    1. *align_cos*: cosine between the image's REAL-decode luminance
       histogram (``image_histogram`` -- BMP parsed pixel by pixel)
       and the text's byte-triple histogram
       (``text_byte_histogram``) -- the image/text agreement score a
       CLIP filter thresholds. Both histograms are exact integer
       counts, so the dot products and norms are order-free integer
       sums and the cosine is ONE double op, rounded 4.
    2. *quality*: the shared text-quality formula
       (``text.quality_score`` -- one definition, engine and oracle).
    3. *emb_cos*: cosine of the doc's embedding against its label
       centroid (centroid values PINNED at 4 decimals before the
       cosine, the embedding_centroids discipline; dot/norms via
       0.0-seeded ordered folds == DuckDB's seedless list_reduce,
       the event_markov bit-equality contract).

    keep = quality >= min_quality AND align_cos >= min_align AND
    emb_cos >= min_emb_cos. Plan: three vocab/alphabet-bounded
    aggregates + keyed joins on doc_id/label; payloads never leave
    the Arrow kernels; nothing after the histograms scales with
    pixel count.

    Emits (doc_id, width, height, quality, align_cos, emb_cos, keep).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    from ..operators.text import quality_score

    img = image_histogram(attach_image_payload(documents))
    txt = text_byte_histogram(documents)
    dot_it = (
        img.join(txt, ["doc_id", "bin"])
        .groupBy("doc_id")
        .agg(F.sum(F.col("n_px") * F.col("n_tri")).alias("dot_it"))
    )
    dot_ii = img.groupBy("doc_id").agg(
        F.sum(F.col("n_px") * F.col("n_px")).alias("dot_ii")
    )
    dot_tt = txt.groupBy("doc_id").agg(
        F.sum(F.col("n_tri") * F.col("n_tri")).alias("dot_tt")
    )
    geom = decode_image_meta(attach_image_payload(documents)).select(
        "doc_id", "width", "height"
    )
    align = (
        dot_it.join(dot_ii, "doc_id")
        .join(dot_tt, "doc_id")
        .select(
            "doc_id",
            F.round(
                F.col("dot_it")
                / F.sqrt(
                    (F.col("dot_ii") * F.col("dot_tt")).cast("double")
                ),
                4,
            ).alias("align_cos"),
        )
    )

    cent = (
        embeddings.select(
            "label",
            F.posexplode(
                F.col("embedding").cast("array<double>")
            ).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("cval"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("c")
        )
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, v: acc + v
    )
    x = F.col("embedding").cast("array<double>")
    emb = (
        embeddings.select(
            F.col("vec_id").alias("doc_id"), "label", "embedding"
        )
        .join(F.broadcast(cent), "label")
        .select(
            "doc_id",
            F.round(
                fold(F.zip_with(x, F.col("c"), lambda a, b: a * b))
                / (
                    F.sqrt(fold(F.transform(x, lambda a: a * a)))
                    * F.sqrt(
                        fold(F.transform(F.col("c"), lambda b: b * b))
                    )
                ),
                4,
            ).alias("emb_cos"),
        )
    )

    q = quality_score(documents).select("doc_id", "quality")
    return (
        geom.join(align, "doc_id")
        .join(q, "doc_id")
        .join(emb, "doc_id")
        .select(
            "doc_id",
            "width",
            "height",
            "quality",
            "align_cos",
            "emb_cos",
            (
                (F.col("quality") >= min_quality)
                & (F.col("align_cos") >= min_align)
                & (F.col("emb_cos") >= min_emb_cos)
            ).alias("keep"),
        )
    )


def image_sharpness(images: DataFrame) -> DataFrame:
    """Per-image Laplacian-variance sharpness over the REAL decode
    path -- the standard blur detector (variance of the 4-neighbor
    Laplacian collapses for defocused/low-detail images): the
    curation cut that drops blurry frames before vision training,
    next to ``image_entropy``'s contrast cut.

    Exact-integer discipline: luminance is integer ``r+g+b``
    (0..765), the interior Laplacian ``4L - up - down - left -
    right`` stays an integer (|lap| <= 3060), and the population
    variance derives from the three exact sums via
    (n*ssq - s*s)/n^2 -- the single double division both engines
    perform identically, rounded 4. Images smaller than 3x3 (none
    under the fixture geometry) emit NULL.

    The Arrow kernel decodes each BMP (``real_decode``), runs the
    Laplacian as four vectorized shifts, and emits ONE row per image
    -- payloads stay executor-local, the shuffle carries (doc_id,
    n_interior, sharpness) only.

    Emits (doc_id, n_interior, sharpness).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """

    def emit(doc_id, payload):
        lum = _luma(payload)  # h x w, 0..765
        h, w = lum.shape
        if h < 3 or w < 3:
            yield doc_id, 0, None
            return
        lap = (
            4 * lum[1:-1, 1:-1]
            - lum[:-2, 1:-1]
            - lum[2:, 1:-1]
            - lum[1:-1, :-2]
            - lum[1:-1, 2:]
        )
        n, s, ssq = lap.size, int(lap.sum()), int((lap * lap).sum())
        yield doc_id, n, round((n * ssq - s * s) / (n * n), 4)

    return _rows(
        images, ("doc_id", "payload"), "doc_id long, n_interior long, sharpness double", emit
    )


def audio_zcr(audio: DataFrame) -> DataFrame:
    """Zero-crossing rate over the REAL decoded PCM -- the classic
    voiced/unvoiced + noisiness feature next to ``audio_vad``'s
    energy gate (high ZCR at low energy = fricatives/noise, low ZCR
    at high energy = voiced speech/tones; the pair drives the
    standard two-feature segmenter).

    Integer-exact: a crossing is a strict sign change between
    consecutive int16 samples (sample products in int64 -- zeros
    never count as crossings on either engine), and the rate rounds
    at INTEGER 1e-6 scale (crossings * 1e6 / (n-1), the one rounding
    rule both engines share on boundaries).

    The Arrow kernel decodes each WAV (``decode_wav``) and emits ONE
    row per clip; payloads stay executor-local.

    Emits (doc_id, n_samples, n_crossings, zcr).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """

    def emit(doc_id, payload):
        s = _pcm(payload)
        yield doc_id, len(s), int(np.sum(s[1:] * s[:-1] < 0))

    counts = _rows(
        audio, ("doc_id", "payload"), "doc_id long, n_samples long, n_crossings long", emit
    )
    # the kernel emits INTEGERS only; the rate's rounding runs as a
    # Spark expression so it follows the engine's (not Python's
    # banker's-tie) rule, at integer 1e-6 scale where both engines
    # provably agree
    zcr = F.when(
        F.col("n_samples") >= 2,
        F.round(
            F.col("n_crossings") * F.lit(1e6) / (F.col("n_samples") - 1)
        ).cast("long")
        / F.lit(1e6),
    )
    return counts.select(
        "doc_id", "n_samples", "n_crossings", zcr.alias("zcr")
    )


def video_shots(videos: DataFrame) -> DataFrame:
    """Shot segmentation over the cut flags -- the gaps-and-islands
    step that turns ``video_scene_diff``'s per-pair boundary stream
    into the SHOT table a video curation pipeline actually samples
    from (one keyframe per shot, shot-length filters, per-shot
    dedup): a shot runs from each cut (or frame 0) to the frame
    before the next cut.

    Pure composition: the scene-diff kernel emits one integer row
    per frame pair; a synthetic frame-0 row per clip anchors the
    first shot; shot_id = running count of cuts over the (doc,
    frame) order (one doc-keyed window -- clips are short, the
    partition is the clip); one (doc, shot) rollup. All integers
    end-to-end.

    Emits (doc_id, shot_id, start_frame, end_frame, n_frames,
    total_diff).

    Reference licence: composition target -- chained-jobs model
    (SURVEY.md §2A FIFO queue) over the WordCount substrate
    (src/edu/upenn/cis455/mapreduce/job/WordCount.java:23-52).
    """
    sd = video_scene_diff(videos)
    f0 = sd.groupBy("doc_id").agg(
        F.lit(0).alias("frame_idx"),
        F.lit(0).cast("long").alias("diff"),
        F.lit(False).alias("is_cut"),
    )
    frames = sd.select("doc_id", "frame_idx", "diff", "is_cut").unionByName(
        f0.select("doc_id", "frame_idx", "diff", "is_cut")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("frame_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = frames.withColumn(
        "shot_id", F.sum(F.col("is_cut").cast("int")).over(w)
    )
    return (
        staged.groupBy("doc_id", "shot_id")
        .agg(
            F.min("frame_idx").alias("start_frame"),
            F.max("frame_idx").alias("end_frame"),
            F.count("*").cast("bigint").alias("n_frames"),
            F.sum("diff").alias("total_diff"),
        )
        .select(
            "doc_id",
            F.col("shot_id").cast("int").alias("shot_id"),
            "start_frame",
            "end_frame",
            "n_frames",
            "total_diff",
        )
    )


# ------------------------------------------------------------- round 9


def image_dhash(images: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) duplicate grouping over the
    REAL decode path -- ``image_ahash``'s gradient sibling: instead
    of cell-vs-global-mean bits, each bit compares HORIZONTALLY
    ADJACENT cell means on an 8-row x 9-column grid (64 bits from 8x8
    comparisons), which survives global brightness/contrast shifts
    that move every ahash bit at once.

    The downsample is the classic nearest-neighbor resize: sample
    pixel (i*h//8, j*w//9) for the 8x9 grid -- every grid point is
    EXACTLY ONE pixel (a cell-mean grid would leave the 9th column
    empty on w=8 fixtures), so every comparison is an exact integer
    ``>`` and the hash is bit-identical across engines; the oracle
    recomputes it from the text bytes the pixels tile from. The
    kernel emits 64 chars per image -- payloads stay executor-local,
    the group-by shuffles hashes only.

    Emits (dhash, keep_doc_id, n_copies).
    """

    def bits(gray):
        h, w = gray.shape
        sub = gray[np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)]
        return (sub[:, :8] > sub[:, 1:]).ravel()

    return _perceptual_groups(images, "dhash", bits)


def audio_clipping(audio: DataFrame, threshold: int = 16384) -> DataFrame:
    """Clipping / headroom report over the REAL decoded PCM: per
    clip, the fraction of samples at or beyond ``threshold`` absolute
    amplitude and the peak absolute sample -- the capture-quality
    gate next to ``audio_snr`` (clipped speech poisons ASR training
    data even at high SNR).

    Threshold 16384 (half full-scale) deliberately: the fixture's
    PCM derives from ASCII text bytes, so |sample| <= 24576 and a
    32000-style near-full-scale threshold would pass vacuously --
    half-scale bisects the fixture's amplitude range (same
    non-degeneracy rule as embedding_norm_profile's k).

    Counts are exact integers in the Arrow kernel; the fraction
    rounds at integer 1e-6 scale in a Spark expression (engine
    rounding, never Python's banker's ties). Payloads never leave
    executors.

    Emits (doc_id, n_samples, n_clipped, peak_abs, clip_frac).
    """

    def emit(doc_id, payload):
        a = np.abs(_pcm(payload))
        yield doc_id, len(a), int(np.sum(a >= threshold)), int(a.max()) if len(a) else 0

    counts = _rows(
        audio,
        ("doc_id", "payload"),
        "doc_id long, n_samples long, n_clipped long, peak_abs long",
        emit,
    )
    return counts.select(
        "doc_id",
        "n_samples",
        "n_clipped",
        "peak_abs",
        F.when(
            F.col("n_samples") > 0,
            F.round(F.col("n_clipped") * F.lit(1e6) / F.col("n_samples"))
            / F.lit(1e6),
        ).alias("clip_frac"),
    )


def audio_silence(audio: DataFrame, threshold: int = 8192) -> DataFrame:
    """Leading/trailing-silence report over the REAL decoded PCM:
    how many samples below ``threshold`` absolute amplitude pad each
    end of the clip, plus the total silent count -- the trim
    decision before feature extraction (``audio_vad`` windows
    energy; this is the exact sample-level endpoint view).

    Threshold 8192 bisects the ASCII-derived fixture amplitudes
    (lowercase letters decode under it, capitals/digits/punctuation
    over), so the report is non-degenerate by construction. Integer
    counts only in the Arrow kernel; payloads never leave executors.

    Emits (doc_id, n_samples, lead_silence, trail_silence, n_silent).
    """

    def emit(doc_id, payload):
        a = np.abs(_pcm(payload))
        n = len(a)
        loud = np.flatnonzero(a >= threshold)
        lead, trail = (int(loud[0]), int(n - 1 - loud[-1])) if len(loud) else (n, n)
        yield doc_id, n, lead, trail, int(np.sum(a < threshold))

    return _rows(
        audio,
        ("doc_id", "payload"),
        "doc_id long, n_samples long, lead_silence long,"
        " trail_silence long, n_silent long",
        emit,
    )


def image_contrast(images: DataFrame) -> DataFrame:
    """Per-image RMS contrast over the REAL decode path -- the
    standard-deviation-of-luminance companion to ``image_entropy``'s
    histogram view (flat gradients can carry high entropy but zero
    usable contrast; RMS contrast catches them).

    The Arrow kernel decodes each BMP (library-free ``real_decode``)
    and emits ONLY integer sufficient statistics (n_px, sum of
    r+g+b luminance, sum of its square); contrast =
    sqrt(n*sum_sq - sum^2) / n runs once in double as a Spark
    expression, so the oracle can replay every pixel from the text
    bytes and land on the identical value. Payloads stay
    executor-local; the shuffle carries three integers per image.

    Emits (doc_id, n_px, lum_sum, rms_contrast).
    """

    def emit(doc_id, payload):
        gray = _luma(payload)
        yield doc_id, gray.size, int(gray.sum()), int((gray * gray).sum())

    stats = _rows(
        images,
        ("doc_id", "payload"),
        "doc_id long, n_px long, lum_sum long, lum_sumsq long",
        emit,
    )
    return stats.select(
        "doc_id",
        "n_px",
        "lum_sum",
        F.round(
            F.sqrt(
                (
                    F.col("n_px") * F.col("lum_sumsq")
                    - F.col("lum_sum") * F.col("lum_sum")
                ).cast("double")
            )
            / F.col("n_px").cast("double"),
            4,
        ).alias("rms_contrast"),
    )


def audio_dynamic_range(audio: DataFrame) -> DataFrame:
    """Per-clip crest factor over the REAL decoded PCM: peak over RMS
    in dB -- the compression/clipping diagnostic next to
    ``audio_clipping``'s hard-threshold count (a squashed clip keeps
    its peak but loses its crest; heavy limiting shows up here long
    before samples pin at full scale).

    The Arrow kernel emits integer sufficient statistics only
    (n, peak = max |s|, sum of s^2); the dB value
    10*log10(peak^2 * n / sum_sq) runs once in double as a Spark
    expression (identical to the oracle's), NULL on digital silence.

    Emits (doc_id, n_samples, peak, crest_db).
    """

    def emit(doc_id, payload):
        s = _pcm(payload)
        yield doc_id, s.size, int(np.abs(s).max()) if s.size else 0, int((s * s).sum())

    stats = _rows(
        audio, ("doc_id", "payload"), "doc_id long, n_samples long, peak long, sumsq long", emit
    )
    return stats.select(
        "doc_id",
        "n_samples",
        "peak",
        F.round(
            F.when(
                F.col("sumsq") > 0,
                F.lit(10.0)
                * F.log10(
                    (F.col("peak") * F.col("peak") * F.col("n_samples")).cast(
                        "double"
                    )
                    / F.col("sumsq").cast("double")
                ),
            ),
            4,
        ).alias("crest_db"),
    )


def image_quadrants(images: DataFrame) -> DataFrame:
    """Per-image quadrant luminance balance over the REAL decode
    path: integer luminance sums for the four h//2 x w//2 quadrants
    plus the diagonal balance ratio (TL+BR)/(TR+BL) -- the cheap
    composition/vignetting probe (a centered subject reads ~1, a
    corner gradient or watermark skews it).

    The Arrow kernel emits INTEGER quadrant sums only; the single
    ratio double runs as a Spark expression. Odd widths/heights
    assign the middle row/column to the bottom/right quadrants
    (floor split), identically replayed by the oracle.

    Emits (doc_id, q_tl, q_tr, q_bl, q_br, diag_balance).
    """

    def emit(doc_id, payload):
        gray = _luma(payload)
        hh, hw = gray.shape[0] // 2, gray.shape[1] // 2
        quads = (gray[:hh, :hw], gray[:hh, hw:], gray[hh:, :hw], gray[hh:, hw:])
        yield (doc_id, *(int(q.sum()) for q in quads))

    stats = _rows(
        images,
        ("doc_id", "payload"),
        "doc_id long, q_tl long, q_tr long, q_bl long, q_br long",
        emit,
    )
    denom = F.col("q_tr") + F.col("q_bl")
    return stats.select(
        "doc_id",
        "q_tl",
        "q_tr",
        "q_bl",
        "q_br",
        F.round(
            F.when(
                denom > 0,
                (F.col("q_tl") + F.col("q_br")).cast("double")
                / denom.cast("double"),
            ),
            4,
        ).alias("diag_balance"),
    )


def audio_envelope(audio: DataFrame, n_segments: int = 4) -> DataFrame:
    """Per-clip coarse energy envelope over the REAL decoded PCM: the
    clip split into ``n_segments`` equal spans (floor boundaries
    i*n//k), per-segment RMS -- the attack/sustain/decay shape that
    separates speech bursts from steady tones and fading music, one
    level up from audio_vad's frame gate.

    The Arrow kernel emits INTEGER per-segment (count, sum of s^2);
    RMS runs once in double as a Spark expression. Long scalar form
    (one row per segment), never an array column.

    Emits (doc_id, seg, n_in_seg, sumsq, rms).
    """

    def emit(doc_id, payload):
        s = _pcm(payload)
        n = s.size
        for j in range(n_segments):
            part = s[j * n // n_segments : (j + 1) * n // n_segments]
            yield doc_id, j, part.size, int((part * part).sum())

    stats = _rows(
        audio, ("doc_id", "payload"), "doc_id long, seg int, n_in_seg long, sumsq long", emit
    )
    return stats.select(
        "doc_id",
        "seg",
        "n_in_seg",
        "sumsq",
        F.round(
            F.when(
                F.col("n_in_seg") > 0,
                F.sqrt(
                    F.col("sumsq").cast("double")
                    / F.col("n_in_seg").cast("double")
                ),
            ),
            4,
        ).alias("rms"),
    )


def image_border_mean(images: DataFrame) -> DataFrame:
    """Per-image border-vs-interior luminance ratio over the REAL
    decode path: integer luminance sums for the 1-pixel frame and the
    interior -- the cheap letterbox / matting / watermark-frame
    detector (a black-padded or white-matted image shows a border
    mean far from its interior mean; natural photos sit near 1).

    The Arrow kernel emits INTEGER sums only (n_px, border pixel
    count, border luminance sum, total luminance sum); the single
    ratio double (border_sum * n_interior) / (interior_sum *
    n_border) runs as a Spark expression off exact integers --
    written as ONE division so the oracle's pixel replay lands on the
    identical value. Geometry is always >= 8x8 so the interior is
    never empty; a zero interior sum yields NULL.

    Emits (doc_id, n_px, n_border, border_sum, interior_sum,
    border_ratio).
    """

    def emit(doc_id, payload):
        gray = _luma(payload)
        h, w = gray.shape
        total = int(gray.sum())
        interior = int(gray[1 : h - 1, 1 : w - 1].sum())
        yield doc_id, h * w, h * w - (h - 2) * (w - 2), total - interior, total

    stats = _rows(
        images,
        ("doc_id", "payload"),
        "doc_id long, n_px long, n_border long, border_sum long, total_sum long",
        emit,
    )
    inter_sum = F.col("total_sum") - F.col("border_sum")
    n_inter = F.col("n_px") - F.col("n_border")
    return stats.select(
        "doc_id",
        "n_px",
        "n_border",
        "border_sum",
        inter_sum.alias("interior_sum"),
        F.round(
            F.when(
                inter_sum > 0,
                (F.col("border_sum") * n_inter).cast("double")
                / (inter_sum * F.col("n_border")).cast("double"),
            ),
            4,
        ).alias("border_ratio"),
    )


def image_colorfulness(images: DataFrame) -> DataFrame:
    """Per-image Hasler-Susstrunk colorfulness over the REAL decode
    path: M = sqrt(var_rg + var_yb) + 0.3 * sqrt(mean_rg^2 +
    mean_yb^2) on the opponent channels rg = R-G, yb = (R+G)/2 - B --
    the screenshot/grayscale-scan detector next to image_contrast's
    luminance view (a vivid photo scores high, a text scan near 0).

    The Arrow kernel emits INTEGER sums only, with both opponent
    channels kept at 2x scale (rg2 = 2R-2G, yb2 = R+G-2B) so the /2
    never truncates; the closing metric is one double expression off
    five exact integers, halved at the end. Oracle replays every
    pixel from the text bytes.

    Emits (doc_id, n_px, rg2_sum, yb2_sum, colorfulness).
    """

    def emit(doc_id, payload):
        px = real_decode(bytes(payload)).astype(np.int64)
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        rg2 = (2 * r - 2 * g).ravel()
        yb2 = (r + g - 2 * b).ravel()
        sums = (rg2.sum(), (rg2 * rg2).sum(), yb2.sum(), (yb2 * yb2).sum())
        yield (doc_id, rg2.size, *(int(v) for v in sums))

    stats = _rows(
        images,
        ("doc_id", "payload"),
        "doc_id long, n_px long, rg2_sum long, rg2_sumsq long,"
        " yb2_sum long, yb2_sumsq long",
        emit,
    )
    n = F.col("n_px").cast("double")
    var_rg2 = (
        F.col("n_px") * F.col("rg2_sumsq")
        - F.col("rg2_sum") * F.col("rg2_sum")
    ).cast("double") / (n * n)
    var_yb2 = (
        F.col("n_px") * F.col("yb2_sumsq")
        - F.col("yb2_sum") * F.col("yb2_sum")
    ).cast("double") / (n * n)
    mean_rg2 = F.col("rg2_sum").cast("double") / n
    mean_yb2 = F.col("yb2_sum").cast("double") / n
    m = (
        F.sqrt(var_rg2 + var_yb2)
        + F.lit(0.3) * F.sqrt(mean_rg2 * mean_rg2 + mean_yb2 * mean_yb2)
    ) / F.lit(2.0)
    return stats.select(
        "doc_id",
        "n_px",
        "rg2_sum",
        "yb2_sum",
        F.round(m, 4).alias("colorfulness"),
    )


def image_row_profile(images: DataFrame) -> DataFrame:
    """Per-image ROW luminance profile over the REAL decode path:
    one row of output per pixel row with its integer luminance sum
    and mean -- the banding / letterbox / split-frame diagnostic at
    row grain (image_border_mean's 1-px frame can miss a 3-row
    letterbox bar; the profile can't).

    Long scalar form (doc_id, row, ...) -- never an array column (the
    driver canonicalizer contract). The kernel emits integer row
    sums; the mean is one double per row.

    Emits (doc_id, row, n_in_row, lum_sum, row_mean).
    """

    def emit(doc_id, payload):
        gray = _luma(payload)
        for row, lum_sum in enumerate(gray.sum(axis=1).tolist()):
            yield doc_id, row, gray.shape[1], lum_sum

    stats = _rows(
        images, ("doc_id", "payload"), "doc_id long, row int, n_in_row long, lum_sum long", emit
    )
    return stats.select(
        "doc_id",
        "row",
        "n_in_row",
        "lum_sum",
        F.round(
            F.col("lum_sum").cast("double") / F.col("n_in_row").cast("double"),
            4,
        ).alias("row_mean"),
    )

def audio_autocorr_pitch(
    audio: DataFrame, lags: tuple[int, ...] = (2, 3, 4, 5, 8, 16, 32, 64)
) -> DataFrame:
    """Autocorrelation pitch probe over the REAL decoded PCM: the
    MEAN-CENTERED autocorrelation at a fixed candidate-lag grid, with
    the best (max mean-product) lag reported per clip -- the classic
    time-domain fundamental-period estimate (voiced/tonal content
    autocorrelates at its period; without centering the DC offset of
    byte-derived PCM drowns every lag, and without per-lag
    normalization shorter lags win on term count alone).

    Exactness: the Arrow kernel emits RAW integer sufficient
    statistics only (lag product, head/tail sums, total, energy --
    no rounding, no division), and BOTH engines derive the centered
    statistics from them identically: c = round(S/n) is one shared
    double rounding, then ac_c = ac - c*(head+tail) + (n-lag)*c^2
    and energy_c = E - 2*c*S + n*c^2 are exact integers again. The
    per-lag mean ac_c/(n-lag) is one double; argmax ties pin to the
    smallest lag.

    Emits (doc_id, n_samples, best_lag, clarity) -- clarity =
    best mean product over mean energy, ~1 for a pure periodic clip.
    """

    def emit(doc_id, payload):
        s = _pcm(payload)
        n = int(s.size)
        total, energy = int(s.sum()), int((s * s).sum())
        for lag in lags:
            if n > lag:
                ac = int((s[:-lag] * s[lag:]).sum())
                yield doc_id, n, lag, ac, int(s[: n - lag].sum()), int(s[lag:].sum()), total, energy

    rows = _rows(
        audio,
        ("doc_id", "payload"),
        "doc_id long, n_samples long, lag int, ac_raw long,"
        " head_sum long, tail_sum long, s_total long, energy_raw long",
        emit,
    )
    n = F.col("n_samples")
    c = F.round(F.col("s_total").cast("double") / n).cast("long")
    ac_c = (
        F.col("ac_raw")
        - c * (F.col("head_sum") + F.col("tail_sum"))
        + (n - F.col("lag")) * c * c
    )
    energy_c = F.col("energy_raw") - 2 * c * F.col("s_total") + n * c * c
    base = rows.select(
        "doc_id",
        "n_samples",
        "lag",
        (ac_c.cast("double") / (n - F.col("lag")).cast("double")).alias(
            "mean_ac"
        ),
        energy_c.alias("energy_c"),
    )
    wd = Window.partitionBy("doc_id")
    tagged = base.withColumn("mx", F.max("mean_ac").over(wd))
    return (
        tagged.groupBy("doc_id", "n_samples", "energy_c", "mx")
        .agg(
            F.min(F.when(F.col("mean_ac") == F.col("mx"), F.col("lag"))).alias(
                "best_lag"
            )
        )
        .select(
            "doc_id",
            "n_samples",
            F.col("best_lag").cast("int").alias("best_lag"),
            F.round(
                F.when(
                    F.col("energy_c") > 0,
                    F.col("mx")
                    * F.col("n_samples").cast("double")
                    / F.col("energy_c").cast("double"),
                ),
                6,
            ).alias("clarity"),
        )
    )


def image_edge_density(images: DataFrame, g2_threshold: int = 40000) -> DataFrame:
    """Per-image Sobel edge density over the REAL decode path: the
    fraction of interior pixels whose gradient magnitude clears the
    threshold -- the texture/structure readout next to
    ``image_contrast``'s global spread (a blurred photo and a sharp
    one can share RMS contrast; only the sharp one keeps its edges).
    In a curation pipeline this is the cheap blur/blank-image gate.

    The Arrow kernel decodes each BMP (library-free ``real_decode``),
    takes integer luminance r+g+b per pixel, convolves the two 3x3
    Sobel kernels over the INTERIOR grid with pure integer numpy
    slicing arithmetic (no float enters before the final ratio), and
    compares gx^2 + gy^2 against the integer threshold -- so the
    edge flags are EXACT and the oracle can replay every pixel from
    the text bytes and land on identical counts. The shuffle carries
    two integers per image; density is one integer ratio at 1e-6.

    Emits (doc_id, n_interior, n_edges, edge_density).
    """

    def emit(doc_id, payload):
        lum = _luma(payload)
        h, w = lum.shape
        n_int = max(0, (h - 2) * (w - 2))
        edges = 0
        if n_int:
            gx = (
                lum[:-2, 2:] + 2 * lum[1:-1, 2:] + lum[2:, 2:]
                - lum[:-2, :-2] - 2 * lum[1:-1, :-2] - lum[2:, :-2]
            )
            gy = (
                lum[2:, :-2] + 2 * lum[2:, 1:-1] + lum[2:, 2:]
                - lum[:-2, :-2] - 2 * lum[:-2, 1:-1] - lum[:-2, 2:]
            )
            edges = int((gx * gx + gy * gy >= g2_threshold).sum())
        yield doc_id, n_int, edges

    stats = _rows(
        images, ("doc_id", "payload"), "doc_id long, n_interior long, n_edges long", emit
    )
    return stats.filter(F.col("n_interior") > 0).select(
        "doc_id",
        "n_interior",
        "n_edges",
        (
            F.round(
                F.col("n_edges") * F.lit(1e6)
                / F.col("n_interior").cast("double")
            ).cast("long")
            / F.lit(1e6)
        ).alias("edge_density"),
    )


def audio_tempo_autocorr(
    audio: DataFrame, frame: int = 64, max_frames: int = 16
) -> DataFrame:
    """Tempo-style periodicity estimate over the REAL WAV path: the
    frame-energy autocorrelation's best lag -- the onset-periodicity
    primitive under every beat tracker (a clip whose loudness pulses
    every k frames peaks its mean-centered energy autocorrelation at
    lag k). Runs on the decoded PCM energy envelope, never the raw
    waveform.

    Integer-exact end to end: frame energies divide out the
    synthesizer's 256x amplitude (samples are (byte-128)*256, so
    sum(s^2) / 2^16 = sum((byte-128)^2), an exact int); centering
    multiplies through by n_frames (c_f = N*e_f - S, still exact);
    the lag products stay inside int64 by construction (N <= 16,
    e <= 128^2 * frame). Argmax over lags 1..N-2 ties to the LOWEST
    lag; clips with fewer than 4 frames emit nothing (no nontrivial
    lag exists). The 64-sample frame is sized to the fixture's
    ~300-byte documents (a 256-frame leaves ZERO qualifying clips --
    measured -- and a vacuous op); real audio would use 256+.

    Emits (doc_id, n_frames, best_lag, r_best).
    """

    def emit(doc_id, payload):
        q = (_pcm(payload) // 256) ** 2  # (byte-128)^2
        n_fr = min(len(q) // frame, max_frames)
        if n_fr < 4:
            return
        e = q[: n_fr * frame].reshape(n_fr, frame).sum(axis=1)
        c = n_fr * e - e.sum()  # exact integer centering
        best = None
        for lag in range(1, n_fr - 1):
            r = int((c[:-lag] * c[lag:]).sum())
            if best is None or r > best[0]:
                best = (r, lag)
        yield doc_id, n_fr, best[1], best[0]

    return _rows(
        audio,
        ("doc_id", "payload"),
        "doc_id long, n_frames long, best_lag long, r_best long",
        emit,
    )
