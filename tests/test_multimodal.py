"""Multimodal tests: real pure-numpy codecs (PGM/BMP/WAV/PGM-stream),
feature extraction over mapInPandas, resize + frame sampling shapes."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from synthetic_data_pipeline_spark.sources.multimodal import (
    decode_bmp,
    decode_image,
    decode_pgm,
    decode_pgm_stream,
    decode_wav,
    encode_bmp,
    encode_pgm,
    encode_pgm_stream,
    encode_wav,
    extract_features,
    resize_images,
    sample_frames,
    synth_media,
)


def test_codec_roundtrips():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (11, 17), dtype=np.uint8)  # odd w → BMP padding
    assert (decode_pgm(encode_pgm(img))[0] == img).all()
    assert (decode_bmp(encode_bmp(img)) == img).all()
    pcm = rng.integers(0, 256, 333, dtype=np.uint8)
    assert (decode_wav(encode_wav(pcm)) == pcm).all()
    vid = rng.integers(0, 256, (4, 5, 6), dtype=np.uint8)
    assert (decode_pgm_stream(encode_pgm_stream(vid)) == vid).all()


def test_pgm_header_comments():
    img = np.arange(6, dtype=np.uint8).reshape(2, 3)
    buf = b"P5\n# a netpbm comment\n3 2\n255\n" + img.tobytes()
    assert (decode_pgm(buf)[0] == img).all()


def test_compressed_codec_arm_gated_on_pillow():
    """Both outcomes of the Pillow gate: with Pillow importable the
    PNG/JPEG arm must round-trip real pixels; without it the honest
    NotImplementedError stays. GIF is never accepted either way."""
    from synthetic_data_pipeline_spark.sources.multimodal import _PILImage

    if _PILImage is None:
        with pytest.raises(NotImplementedError, match="Pillow"):
            decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
        with pytest.raises(NotImplementedError, match="Pillow"):
            decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)
    else:  # pragma: no cover - Pillow absent in the build container
        import io

        img = np.arange(48, dtype=np.uint8).reshape(6, 8)
        buf = io.BytesIO()
        _PILImage.fromarray(img, mode="L").save(buf, format="PNG")
        assert (decode_image(buf.getvalue()) == img).all()
    with pytest.raises(ValueError):
        decode_image(b"GIF89a" + b"\x00" * 16)


def test_features_match_numpy_reference(spark):
    media = synth_media(spark, 30).cache()
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert len(feats) == 30
    # recompute media 0 (a PGM image) independently from the seed
    seed = hashlib.md5(b"media:0").digest()
    rng = np.random.default_rng(int.from_bytes(seed[:8], "big"))
    arr = rng.integers(0, 256, (12, 16), dtype=np.uint8)
    r = feats[0]
    assert r.kind == "image"
    assert abs(r.mean - arr.mean()) < 1e-9
    assert abs(r.std - arr.std()) < 1e-9
    assert abs(r.p_bright - (arr > 127).mean()) < 1e-9
    # media 3 is the BMP arm — features must come from decoded pixels,
    # not container bytes, so PGM and BMP images share value ranges
    assert feats[3].kind == "image"
    assert 0.0 <= feats[3].p_bright <= 1.0


def test_resize_shapes(spark):
    media = synth_media(spark, 12)
    out = resize_images(media, 4, 3).collect()
    assert len(out) == 4  # one third of rows are images
    for r in out:
        assert decode_pgm(bytes(r.payload))[0].shape == (3, 4)


def test_frame_sampling(spark):
    media = synth_media(spark, 12)
    frames = sample_frames(media, every_k=2).collect()
    vids = 4  # one third of 12
    assert len(frames) == vids * 3  # frames 0, 2, 4 of 5
    for r in frames:
        assert decode_pgm(bytes(r.frame))[0].shape == (8, 8)
        assert r.frame_no in (0, 2, 4)


def test_determinism_across_partitions(spark):
    a = sorted(map(tuple, extract_features(synth_media(spark, 18)).collect()))
    b = sorted(
        map(tuple, extract_features(synth_media(spark, 18).repartition(5)).collect())
    )
    assert a == b


def test_compressed_audio_arm_gated_on_soundfile():
    """Both outcomes of the soundfile gate (the audio mirror of the
    Pillow arm): with soundfile importable, FLAC and 16-bit WAV decode
    to the native uint8 mono domain; without it, the honest
    NotImplementedError stays. An unknown container is rejected either
    way, and native 8-bit WAV keeps bypassing the gate entirely."""
    import struct

    from synthetic_data_pipeline_spark.sources.multimodal import (
        _soundfile,
        decode_audio,
        encode_wav,
    )

    # native arm unaffected by the gate
    samples = np.arange(64, dtype=np.uint8)
    assert (decode_audio(encode_wav(samples)) == samples).all()

    # 16-bit PCM WAV: beyond the native arm -> routed through the gate
    data16 = (np.arange(32, dtype=np.int16) * 512).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav16 = (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data16), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data16)) + data16
    )
    if _soundfile is None:
        with pytest.raises(NotImplementedError, match="soundfile"):
            decode_audio(wav16)
        with pytest.raises(NotImplementedError, match="soundfile"):
            decode_audio(b"fLaC" + b"\x00" * 16)
        with pytest.raises(NotImplementedError, match="soundfile"):
            decode_audio(b"ID3\x04\x00" + b"\x00" * 16)  # MP3 w/ ID3 tag
    else:  # pragma: no cover - soundfile absent in the build container
        import io

        out = decode_audio(wav16)
        assert out.dtype == np.uint8 and len(out) == 32
        buf = io.BytesIO()
        _soundfile.write(
            buf, np.linspace(-0.5, 0.5, 128), 8000, format="FLAC"
        )
        flac = decode_audio(buf.getvalue())
        assert flac.dtype == np.uint8 and len(flac) == 128
    with pytest.raises(ValueError):
        decode_audio(b"MIDI" + b"\x00" * 16)


def test_compressed_video_arm_gated_on_pyav_imageio():
    """Both outcomes of the video gate (the video mirror of the
    soundfile arm, VERDICT r8 Next #8): with PyAV (or imageio)
    importable, MP4/WebM/AVI containers decode to the same
    (n_frames, h, w) uint8 stack the native PGM-stream arm produces;
    without either, the honest NotImplementedError stays. Native
    PGM streams keep bypassing the gate entirely, and an unknown
    container is rejected either way."""
    from synthetic_data_pipeline_spark.sources.multimodal import (
        _imageio,
        _pyav,
        decode_video,
        encode_pgm_stream,
    )

    # native arm unaffected by the gate
    frames = np.arange(2 * 4 * 4, dtype=np.uint8).reshape(2, 4, 4)
    assert (decode_video(encode_pgm_stream(frames)) == frames).all()

    mp4_magic = b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16
    mkv_magic = b"\x1a\x45\xdf\xa3" + b"\x00" * 16
    avi_magic = b"RIFF\x24\x00\x00\x00AVI " + b"\x00" * 16
    if _pyav is None and _imageio is None:
        for stub in (mp4_magic, mkv_magic, avi_magic):
            with pytest.raises(NotImplementedError, match="PyAV or imageio"):
                decode_video(stub)
    else:  # pragma: no cover - codec libs absent in the build container
        import io

        buf = io.BytesIO()
        if _pyav is not None:
            with _pyav.open(buf, "w", format="mp4") as container:
                stream = container.add_stream("mpeg4", rate=5)
                stream.width, stream.height = 16, 16
                stream.pix_fmt = "yuv420p"
                for k in range(3):
                    img = np.full((16, 16), 40 * k, dtype=np.uint8)
                    frame = _pyav.VideoFrame.from_ndarray(img, format="gray")
                    for pkt in stream.encode(frame):
                        container.mux(pkt)
                for pkt in stream.encode():
                    container.mux(pkt)
        vid = decode_video(buf.getvalue())
        assert vid.dtype == np.uint8 and vid.ndim == 3 and vid.shape[0] == 3
    with pytest.raises(ValueError):
        decode_video(b"MIDI" + b"\x00" * 16)


def test_q133_deterministic_and_matches_direct_decode(spark):
    """q133's two chained Arrow passes must be partition-invariant, and
    each sampled frame's features must equal a direct numpy decode of
    the same frame — pinning that the intermediate PGM re-encode is
    lossless."""
    from synthetic_data_pipeline_spark.sources.multimodal import (
        _media_row,
        q133_video_frame_features,
    )

    rows = sorted(map(tuple, q133_video_frame_features(spark, "").collect()))
    # partition invariance: the sampler's input partitioning must not
    # change a single value (synth_media is deterministic by id)
    again = sorted(map(tuple, q133_video_frame_features(spark, "").collect()))
    assert rows == again
    by_key = {(r[0], r[1]): r for r in rows}
    # spot-check three media ids against an independent decode
    checked = 0
    for i in (2, 5, 8):  # video kind ids (i % 3 == 2)
        kind, arr, _payload, _meta = _media_row(i)
        assert kind == "video"
        for fi in range(0, arr.shape[0], 2):
            flat = arr[fi].reshape(-1).astype(float)
            got = by_key[(i, fi)]
            assert abs(got[3] - round(flat.mean() + 1e-6, 6)) < 1e-4
            checked += 1
    assert checked >= 6


def test_dhash_container_and_brightness_invariant():
    """dHash must be invariant to the container (PGM vs BMP carry the
    same pixels) and to a non-saturating brightness shift (gradient
    SIGNS are unchanged by +c), yet flip when a real edge is reversed —
    the exact near-dup class a byte hash misses."""
    import numpy as np

    from synthetic_data_pipeline_spark.sources.multimodal import (
        decode_media,
        dhash64,
        encode_bmp,
        encode_pgm,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 200, (12, 16), dtype=np.uint8)  # headroom <= 199
    h = dhash64(arr)
    assert dhash64(decode_media("image", encode_pgm(arr))) == h
    assert dhash64(decode_media("image", encode_bmp(arr))) == h
    assert dhash64((arr + 50).astype(np.uint8)) == h  # no wraparound
    flipped = arr.copy()
    flipped[:, : 8] = 255  # force every left-half gradient sign
    assert dhash64(flipped) != h


def test_image_phash_groups_only_twins(spark):
    """On the twin-seeded corpus every dup group is exactly an
    (original, container-swapped twin) pair — no cross-image collision
    and no missed twin."""
    from synthetic_data_pipeline_spark.sources.multimodal import (
        q148_image_phash_dups,
    )

    rows = q148_image_phash_dups(spark, "unused").collect()
    assert len(rows) == 20  # 60-row corpus -> 20 images
    for r in rows:
        assert r.n_items == 2 and r.id_b - r.id_a == 1000


def test_resize_nearest_properties():
    """Nearest-neighbor resize: exact 2x decimation picks the even
    rows/cols (the index-grid contract), output dtype/shape pinned,
    and a constant image stays constant at any target size."""
    import numpy as np

    from synthetic_data_pipeline_spark.sources.multimodal import (
        decode_media,
        encode_pgm,
        resize_nearest,
    )

    arr = np.arange(16 * 12, dtype=np.uint8).reshape(12, 16)
    thumb = resize_nearest(arr, tw=8, th=6)
    assert thumb.shape == (6, 8) and thumb.dtype == np.uint8
    assert (thumb == arr[::2, ::2]).all()  # exact decimation grid
    flat = np.full((12, 16), 7, dtype=np.uint8)
    assert (resize_nearest(flat, 5, 3) == 7).all()
    # the emitted thumb is itself a decodable PGM artifact
    assert (decode_media("image", encode_pgm(thumb)) == thumb).all()


def test_audio_features_planted(spark):
    """Hand-computable audio rows through the real WAV container: a
    constant-silence clip (all 128 -> rms 0, zcr 0), a full-swing
    square wave (rms 128... actually |c| in {-128, 127} alternating ->
    zcr 1), and a zero-threading ramp where the exact-128 sample must
    NOT double-count a crossing."""
    import numpy as np

    from synthetic_data_pipeline_spark.sources.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
        encode_wav,
    )

    silence = np.full(100, 128, dtype=np.uint8)
    square = np.tile([0, 255], 50).astype(np.uint8)       # alternates sign
    ramp = np.array([0, 128, 255, 128, 0], dtype=np.uint8)  # zeros thread
    rows = [
        (0, "audio", encode_wav(silence), (0, 0, 100, 0)),
        (1, "audio", encode_wav(square), (0, 0, 100, 0)),
        (2, "audio", encode_wav(ramp), (0, 0, 5, 0)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in audio_features(media).collect()}
    assert got[0].rms == 0.0 and got[0].zcr == 0.0
    assert abs(got[1].zcr - 1.0) < 1e-9  # every adjacent pair crosses
    # ramp signs: -,0->-,+,0->+,- : crossings at (1..2) and (3..4) = 2/4
    assert abs(got[2].zcr - 0.5) < 1e-9
    assert got[2].n_samples == 5


def test_aiff_roundtrip_exact():
    """encode_aiff → decode_aiff reproduces the uint8 samples exactly,
    and decode_media dispatches on the FORM/AIFF magic."""
    import numpy as np

    from synthetic_data_pipeline_spark.sources.multimodal import (
        decode_aiff,
        decode_media,
        encode_aiff,
    )

    s = np.arange(256, dtype=np.uint8).repeat(2)  # full value range
    buf = encode_aiff(s)
    assert buf[:4] == b"FORM" and buf[8:12] == b"AIFF"
    assert (decode_aiff(buf) == s).all()
    assert (decode_media("audio", buf) == s).all()

    # the 80-bit extended COMM sample rate must decode to the argument
    # (a conforming AIFF reader trusts this field)
    import struct

    comm = buf.index(b"COMM") + 8
    exp, mant = struct.unpack_from(">HQ", buf, comm + 8)
    assert (mant / 2**63) * 2 ** (exp - 16383) == 8000.0


def test_afp64_container_invariant_and_discriminative():
    """The fingerprint depends only on the decoded signal: a WAV and
    an AIFF of the same samples collide exactly, while the corpus's
    distinct random signals all land on distinct fingerprints."""
    from synthetic_data_pipeline_spark.sources.multimodal import (
        _media_row,
        afp64,
        decode_media,
        encode_aiff,
        encode_wav,
    )

    fps = {}
    for i in range(60):
        kind, arr, _payload, _meta = _media_row(i)
        if kind != "audio":
            continue
        w = afp64(decode_media("audio", encode_wav(arr)))
        a = afp64(decode_media("audio", encode_aiff(arr)))
        assert w == a == afp64(arr)
        fps[i] = w
    assert len(set(fps.values())) == len(fps), "fingerprint collision"


def test_audio_afp_groups_only_twins(spark):
    """q182's dup groups must be exactly the (original, +offset twin)
    pairs — no cross-signal collisions, nothing unpaired."""
    from synthetic_data_pipeline_spark.sources.multimodal import (
        _AFP_TWIN_OFFSET,
        q182_audio_afp_dups,
    )

    got = q182_audio_afp_dups(spark, "/root/testdata/sf0.001").collect()
    assert len(got) == 20  # 60-item corpus → 20 audio signals
    for r in got:
        assert r.n_items == 2
        assert r.id_b == r.id_a + _AFP_TWIN_OFFSET
