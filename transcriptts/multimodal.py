"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct; the
Spark-side plumbing (schema, batch shape, partitioning, Arrow UDF
signatures) is real and tested. THREE modalities decode for REAL with stdlib
only: PCM16 WAV audio (`decode_wav`/`audio_features`), binary-PPM images
(`decode_ppm`/`image_features`), and Y4M/C444 video
(`decode_y4m`/`video_features`). Codecs needing external libraries
(PNG/JPEG, h264/vp9) remain STUBBED behind `extract_features`' `decoder=`
seam: with no decoder it derives a deterministic fixed-size feature vector
from the payload bytes (sha-seeded), so the full pipeline (schema, batching,
downstream joins) runs end-to-end and is reproducible; a real decoder
(PIL/librosa/pyav) plugs in there, and a decoder that raises marks a codec
as unavailable (the job fails with its error).

Each extractor is a per-payload record function run by
`partitioning.per_row`: payloads reach Python as Arrow batches in one task
wave, non-matching kinds are filtered JVM-side, and
`spark.sql.execution.arrow.maxRecordsPerBatch` bounds decoder memory (large
payloads → set it low)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import per_row

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, codec:string>"
)

FEATURE_DIM = 16


def synth_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: binary payloads + plausible metadata."""
    import hashlib

    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 7)
        meta = {
            "width": 640 if kind != "audio" else None,
            "height": 480 if kind != "audio" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "n_frames": 1 if kind == "image" else 300 + i,
            "codec": {"image": "png", "audio": "pcm16", "video": "h264"}[kind],
        }
        rows.append((i, kind, bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_features(payload: bytes, kind: str | None = None, dim: int = FEATURE_DIM):
    """Deterministic stand-in for a real feature extractor (the default
    `decoder` of extract_features; `kind` is ignored)."""
    import hashlib

    import numpy as np

    h = hashlib.sha256(payload).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_features(df: DataFrame, decoder=None) -> DataFrame:
    """(media_id, kind, feature array<float>, payload_bytes), one row per payload.

    `decoder` is the PUBLIC seam for a real feature extractor: any callable
    `(payload: bytes, kind: str) -> sequence of FEATURE_DIM floats` (it must
    be picklable — module-level function or functools.partial — since it
    ships to executors). None means the deterministic sha-derived fake
    features, which keep the full pipeline runnable; a decoder that raises
    (e.g. NotImplementedError where PIL/librosa/pyav would plug in) fails the
    job. The Spark-side contract (schema, Arrow batching, partitioning) is
    identical on every path."""
    decode = decoder or _fake_features

    def record(payload, kind):
        payload = bytes(payload)
        return {"feature": [[float(v) for v in decode(payload, kind)]],
                "payload_bytes": [len(payload)]}

    return per_row(
        df, ["media_id", "kind"], ["payload", "kind"], record,
        "media_id long, kind string, feature array<float>, payload_bytes long",
    )


# --- real audio path (stdlib wave + numpy: no external media libs needed) ----

AUDIO_FEATURE_SCHEMA = (
    "media_id long, n_samples long, sample_rate int, duration_s double, "
    "mean_amp double, rms double, peak double, zero_crossings long"
)


def _md5_pcm_samples(media_id: int, n_samples: int, seed: int = 42):
    """Deterministic int16 PCM samples: sample t = md5('{seed}:{id}:{t}')
    first-4-hex-digits − 32768. Pure integer derivation — engine-portable, so
    a SQL oracle can regenerate the identical waveform and verify that the
    WAV decode path recovers it exactly."""
    import hashlib

    import numpy as np

    vals = np.fromiter(
        (
            int(hashlib.md5(f"{seed}:{media_id}:{t}".encode()).hexdigest()[:4], 16)
            for t in range(n_samples)
        ),
        dtype=np.int64,
        count=n_samples,
    )
    return (vals - 32768).astype(np.int16)


def synth_audio(spark, n: int = 100, seed: int = 42, sample_rate: int = 16000) -> DataFrame:
    """Deterministic audio table whose payloads are REAL RIFF/PCM16 WAV files
    (stdlib `wave` writer): n mono clips of 400..800 samples. Unlike
    synth_media's opaque sha blobs, these bytes decode."""
    import io
    import wave

    rows = []
    for i in range(n):
        n_samples = 400 + (i % 5) * 100
        pcm = _md5_pcm_samples(i, n_samples, seed)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sample_rate)
            w.writeframes(pcm.tobytes())
        meta = {
            "width": None,
            "height": None,
            "sample_rate": sample_rate,
            "n_frames": n_samples,
            "codec": "pcm16",
        }
        rows.append((i, "audio", bytearray(buf.getvalue()), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_wav(payload: bytes, kind: str = "audio"):
    """REAL media decode for one modality: PCM16 WAV → (float64 samples in
    [-1, 1), sample_rate). stdlib `wave` parses the RIFF container; numpy
    reads the little-endian int16 frames; multi-channel audio is averaged to
    mono. Raises on non-audio kinds and non-PCM16 widths — those remain the
    documented stub territory (PIL/pyav)."""
    import io
    import wave

    import numpy as np

    if kind != "audio":
        raise NotImplementedError(f"decode_wav handles kind='audio' only, got {kind!r}")
    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("only PCM16 WAV is supported")
        nch = w.getnchannels()
        sr = w.getframerate()
        frames = w.readframes(w.getnframes())
    x = np.frombuffer(frames, dtype="<i2").astype(np.float64)
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x / 32768.0, sr


def wav_feature_decoder(payload: bytes, kind: str) -> list:
    """Adapter plugging the real WAV decode into the extract_features
    `decoder=` seam: first FEATURE_DIM decoded samples (zero-padded). Mostly
    useful to demonstrate the seam carries a REAL decoder end-to-end."""
    x, _sr = decode_wav(payload, kind)
    out = [float(v) for v in x[:FEATURE_DIM]]
    return out + [0.0] * (FEATURE_DIM - len(out))


def audio_features(df: DataFrame) -> DataFrame:
    """Per-clip audio features computed from ACTUALLY-DECODED samples (not
    payload hashes): duration, mean amplitude, RMS, peak, zero-crossing
    count. Non-audio rows are filtered JVM-side so the decode only ever sees
    WAV bytes; `arrow.maxRecordsPerBatch` bounds decoder memory for large
    clips."""
    import numpy as np

    def record(payload):
        x, sr = decode_wav(bytes(payload))
        n = len(x)
        return {
            "n_samples": [n],
            "sample_rate": [sr],
            "duration_s": [n / float(sr)],
            "mean_amp": [float(x.mean()) if n else 0.0],
            "rms": [float(np.sqrt((x * x).mean())) if n else 0.0],
            "peak": [float(np.abs(x).max()) if n else 0.0],
            "zero_crossings": [int(np.count_nonzero((x[1:] < 0) != (x[:-1] < 0)))],
        }

    audio = df.where(F.col("kind") == "audio")
    return per_row(audio, ["media_id"], ["payload"], record, AUDIO_FEATURE_SCHEMA)


# --- real image path (binary PPM/P6: stdlib-parsable, no external libs) ------

IMAGE_FEATURE_SCHEMA = (
    "media_id long, width int, height int, n_pixels long, "
    "sum_r long, sum_g long, sum_b long, mean_luma double"
)


def _md5_pixel_rgb(media_id: int, n_pixels: int, seed: int = 42):
    """Deterministic uint8 RGB pixels: pixel p's (r, g, b) are hex digits
    (1-2, 3-4, 5-6) of md5('{seed}:{id}:{p}'). Pure integer derivation —
    engine-portable, so a SQL oracle can regenerate the identical pixels and
    verify the PPM decode path recovers them exactly (the image analogue of
    _md5_pcm_samples)."""
    import hashlib

    import numpy as np

    out = np.empty((n_pixels, 3), dtype=np.uint8)
    for p in range(n_pixels):
        hx = hashlib.md5(f"{seed}:{media_id}:{p}".encode()).hexdigest()
        out[p, 0] = int(hx[0:2], 16)
        out[p, 1] = int(hx[2:4], 16)
        out[p, 2] = int(hx[4:6], 16)
    return out


def synth_images(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic image table whose payloads are REAL binary PPM (P6)
    files: 'P6\\n{w} {h}\\n255\\n' + raw RGB rows. Unlike synth_media's
    opaque sha blobs, these bytes decode with a stdlib-only parser.
    Dimensions vary per id: w = 8 + (i % 4) * 2, h = 6 + (i % 3) * 2."""
    rows = []
    for i in range(n):
        w, h = 8 + (i % 4) * 2, 6 + (i % 3) * 2
        rgb = _md5_pixel_rgb(i, w * h, seed)
        payload = f"P6\n{w} {h}\n255\n".encode() + rgb.tobytes()
        meta = {"width": w, "height": h, "sample_rate": None, "n_frames": 1, "codec": "ppm"}
        rows.append((i, "image", bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_ppm(payload: bytes, kind: str = "image"):
    """REAL image decode for one modality: binary PPM (P6) → uint8 array of
    shape (height, width, 3). Header tokens are parsed with full PPM
    whitespace/comment rules; pixel data is read zero-copy by numpy. Raises
    on non-image kinds and non-P6 payloads — PNG/JPEG stay the documented
    stub territory (PIL)."""
    import numpy as np

    if kind != "image":
        raise NotImplementedError(f"decode_ppm handles kind='image' only, got {kind!r}")
    data = bytes(payload)
    if not data.startswith(b"P6"):
        raise NotImplementedError("only binary PPM (P6) is supported — PNG/JPEG need PIL")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from pixel data
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("only 8-bit-per-channel PPM is supported")
    return np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos).reshape(h, w, 3)


def ppm_feature_decoder(payload: bytes, kind: str) -> list:
    """Adapter plugging the real PPM decode into the extract_features
    `decoder=` seam: first FEATURE_DIM red-channel values scaled to [0, 1)
    (zero-padded) — demonstrates the seam carries a second real decoder."""
    arr = decode_ppm(payload, kind)
    flat = arr[:, :, 0].reshape(-1)[:FEATURE_DIM]
    out = [float(v) / 256.0 for v in flat]
    return out + [0.0] * (FEATURE_DIM - len(out))


def image_features(df: DataFrame) -> DataFrame:
    """Per-image features computed from ACTUALLY-DECODED pixels (not payload
    hashes): dimensions, exact per-channel integer sums, and mean luma
    (ITU-R BT.601: 0.299 r + 0.587 g + 0.114 b). Non-image rows are filtered
    JVM-side so the decode only ever sees PPM bytes."""
    import numpy as np

    def record(payload):
        arr = decode_ppm(bytes(payload)).astype(np.int64)
        sr, sg, sb = (int(arr[:, :, c].sum()) for c in range(3))
        n = arr.shape[0] * arr.shape[1]
        # exact integer milli-luma sum, ONE double division — keeps the value
        # bit-reproducible across engines (oracle parity)
        luma_milli = 299 * sr + 587 * sg + 114 * sb
        return {
            "width": [arr.shape[1]],
            "height": [arr.shape[0]],
            "n_pixels": [n],
            "sum_r": [sr],
            "sum_g": [sg],
            "sum_b": [sb],
            "mean_luma": [luma_milli / (1000.0 * n)],
        }

    images = df.where(F.col("kind") == "image")
    return per_row(images, ["media_id"], ["payload"], record, IMAGE_FEATURE_SCHEMA)


# --- real video path (YUV4MPEG2/Y4M: stdlib-parsable, no external libs) ------

VIDEO_FEATURE_SCHEMA = (
    "media_id long, width int, height int, n_frames int, n_sampled int, "
    "sum_y long, sum_u long, sum_v long, mean_y double"
)


def _md5_frame_yuv(media_id: int, frame_idx: int, n_pixels: int, seed: int = 42):
    """Deterministic uint8 YUV pixels for one frame: pixel p's (y, u, v) are
    hex digits (1-2, 3-4, 5-6) of md5('{seed}:{id}:{frame}:{p}'). Pure integer
    derivation — engine-portable, so a SQL oracle can regenerate the identical
    planes and verify the Y4M decode path recovers them exactly (the video
    analogue of _md5_pcm_samples / _md5_pixel_rgb)."""
    import hashlib

    import numpy as np

    out = np.empty((3, n_pixels), dtype=np.uint8)
    for p in range(n_pixels):
        hx = hashlib.md5(f"{seed}:{media_id}:{frame_idx}:{p}".encode()).hexdigest()
        out[0, p] = int(hx[0:2], 16)
        out[1, p] = int(hx[2:4], 16)
        out[2, p] = int(hx[4:6], 16)
    return out


def synth_videos(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic video table whose payloads are REAL YUV4MPEG2 (Y4M)
    streams: 'YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\\n' then per frame
    'FRAME\\n' + raw Y, U, V planes (C444: each plane is w*h bytes). Unlike
    synth_media's opaque sha blobs, these bytes decode with a stdlib-only
    parser. Dimensions follow synth_images (w = 8 + (i % 4) * 2,
    h = 6 + (i % 3) * 2); frame count varies: n_frames = 3 + i % 4."""
    rows = []
    for i in range(n):
        w, h = 8 + (i % 4) * 2, 6 + (i % 3) * 2
        nf = 3 + i % 4
        parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
        for f in range(nf):
            parts.append(b"FRAME\n")
            parts.append(_md5_frame_yuv(i, f, w * h, seed).tobytes())
        meta = {"width": w, "height": h, "sample_rate": None, "n_frames": nf, "codec": "y4m"}
        rows.append((i, "video", bytearray(b"".join(parts)), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_y4m(payload: bytes, kind: str = "video"):
    """REAL video decode for one modality: YUV4MPEG2 (Y4M, C444 8-bit) →
    uint8 array of shape (n_frames, 3, height, width). The stream header and
    per-frame FRAME markers are parsed with full Y4M tag rules (unknown tags
    and frame parameters are skipped); plane data is read zero-copy by numpy.
    Raises on non-video kinds and non-C444 chroma — h264/vp9 stay the
    documented stub territory (pyav)."""
    import numpy as np

    if kind != "video":
        raise NotImplementedError(f"decode_y4m handles kind='video' only, got {kind!r}")
    data = bytes(payload)
    nl = data.find(b"\n")
    if nl < 0 or not data.startswith(b"YUV4MPEG2"):
        raise NotImplementedError("only YUV4MPEG2 (Y4M) is supported — h264/vp9 need pyav")
    w = h = None
    chroma = "420"  # Y4M default when no C tag is present
    for tag in data[:nl].split(b" ")[1:]:
        if tag[:1] == b"W":
            w = int(tag[1:])
        elif tag[:1] == b"H":
            h = int(tag[1:])
        elif tag[:1] == b"C":
            chroma = tag[1:].decode()
    if w is None or h is None:
        raise ValueError("Y4M header missing W or H tag")
    if chroma != "444":
        raise NotImplementedError(f"only C444 Y4M is supported, got C{chroma}")
    frame_bytes = w * h * 3
    frames, pos = [], nl + 1
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        pos = data.find(b"\n", pos) + 1  # frame parameters (if any) are skipped
        frames.append(
            np.frombuffer(data, dtype=np.uint8, count=frame_bytes, offset=pos).reshape(3, h, w)
        )
        pos += frame_bytes
    return np.stack(frames) if frames else np.empty((0, 3, h, w), dtype=np.uint8)


def y4m_feature_decoder(payload: bytes, kind: str) -> list:
    """Adapter plugging the real Y4M decode into the extract_features
    `decoder=` seam: first FEATURE_DIM luma values of frame 0 scaled to
    [0, 1) (zero-padded) — demonstrates the seam carries a third real
    decoder."""
    arr = decode_y4m(payload, kind)
    flat = arr[0, 0].reshape(-1)[:FEATURE_DIM] if len(arr) else []
    out = [float(v) / 256.0 for v in flat]
    return out + [0.0] * (FEATURE_DIM - len(out))


def video_features(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Per-video features computed from ACTUALLY-DECODED frames (not payload
    hashes), over a sampled subset of frames (every `every_n`-th, same
    inclusive stride as frame_sample_plan): dimensions, frame counts, exact
    per-plane integer sums, and mean luma of the sampled frames.
    `arrow.maxRecordsPerBatch` bounds decoder memory (one batch holds at most
    that many full videos); non-video rows are filtered JVM-side so the
    decode only ever sees Y4M bytes."""

    def record(payload):
        arr = decode_y4m(bytes(payload))
        nf, _, h, w = arr.shape
        sampled = arr[::every_n].astype("int64")
        ns = sampled.shape[0]
        sy, su, sv = (int(sampled[:, c].sum()) for c in range(3))
        return {
            "width": [w],
            "height": [h],
            "n_frames": [nf],
            "n_sampled": [ns],
            "sum_y": [sy],
            "sum_u": [su],
            "sum_v": [sv],
            # exact integer sum, ONE double division — keeps the value
            # bit-reproducible across engines (oracle parity)
            "mean_y": [sy / (1.0 * ns * w * h) if ns else 0.0],
        }

    videos = df.where(F.col("kind") == "video")
    return per_row(videos, ["media_id"], ["payload"], record, VIDEO_FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling plan: one row per sampled frame index (the
    decode itself is the stubbed step). Pure expressions — the explode
    happens JVM-side, so a 10^6-frame video never inflates through Python."""
    frames = F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n))
    return (
        df.where(F.col("kind") == "video")
        .select("media_id", F.explode(frames).alias("frame_idx"))
    )
