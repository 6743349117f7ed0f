"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schemas, Arrow batch
shapes, partition-friendly mapInPandas kernels; the codec step itself
is REAL where pure-python codecs exist (PPM + BMP images, PCM WAV
audio) and stubbed behind ``NotImplementedError`` or a deterministic
fake only for formats that need external libraries (JPEG/PNG → PIL).
Swapping in PIL/torchaudio touches ONLY ``decode_image``; batch shape,
schema, and the pipeline around them stay as-is.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nipper_spark.session import local_df

MEDIA_SCHEMA = ("media_id long, kind string, payload binary, "
                "mime string, width int, height int, duration_ms int")

IMAGE_FEATURES_SCHEMA = ("media_id long, sha256 string, n_bytes int, "
                         "thumb_w int, thumb_h int, features array<float>")

FRAME_SAMPLE_SCHEMA = ("media_id long, frame_no int, ts_ms int, "
                       "frame_sha string")


def decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL image decode for PPM (P6 binary / P3 ascii) — a complete
    reference codec in pure numpy, no dependencies. Returns
    (width, height, uint8 array of shape (h, w, 3)). Raises ValueError
    on malformed input."""
    if payload[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM payload")
    # header tokens: magic, width, height, maxval — '#' comments legal
    tokens: list[bytes] = []
    i = 2
    n = len(payload)
    while len(tokens) < 3 and i < n:
        c = payload[i:i + 1]
        if c == b"#":
            j = payload.find(b"\n", i)
            i = n if j == -1 else j + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not payload[j:j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    w, h, maxval = (int(t) for t in tokens)
    if w <= 0 or h <= 0 or not (0 < maxval < 65536):
        raise ValueError("bad PPM dimensions")
    if payload[:2] == b"P6":
        i += 1  # single whitespace byte after maxval
        need = w * h * 3 * (2 if maxval > 255 else 1)
        raster = payload[i:i + need]
        if len(raster) < need:
            raise ValueError("truncated PPM raster")
        dt = ">u2" if maxval > 255 else np.uint8
        arr = np.frombuffer(raster, dtype=dt).astype(np.uint32)
    else:  # P3: ascii sample values
        vals = payload[i:].split()
        if len(vals) < w * h * 3:
            raise ValueError("truncated P3 raster")
        arr = np.array([int(v) for v in vals[:w * h * 3]],
                       dtype=np.uint32)
    if maxval != 255:
        arr = (arr * 255 + maxval // 2) // maxval
    return w, h, arr.astype(np.uint8).reshape(h, w, 3)


def encode_ppm(pixels: np.ndarray, maxval: int = 255,
               ascii_p3: bool = False) -> bytes:
    """(h, w, 3) samples → PPM payload. Defaults (P6, maxval 255)
    are the synth-media generator's byte-exact format (shared with
    the oracle twin); ``maxval > 255`` writes big-endian two-byte
    samples and ``ascii_p3`` the decimal P3 form — the full netpbm
    writer matching everything :func:`decode_ppm` reads."""
    h, w, _ = pixels.shape
    if not (0 < maxval < 65536):
        raise ValueError("bad maxval")
    arr = np.ascontiguousarray(pixels).astype(
        ">u2" if maxval > 255 else np.uint8)
    header = b"%s\n%d %d\n%d\n" % (b"P3" if ascii_p3 else b"P6",
                                   w, h, maxval)
    if ascii_p3:
        body = "\n".join(
            " ".join(str(int(v)) for v in row.ravel()) for row in arr)
        return header + body.encode() + b"\n"
    return header + arr.tobytes()


def decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL image decode for uncompressed BMP (BITMAPINFOHEADER or
    later, 24/32-bit BI_RGB, bottom-up or top-down) — pure numpy, no
    dependencies. Returns (width, height, uint8 RGB array of shape
    (h, w, 3)). Raises ValueError on malformed input."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    data_off, = struct.unpack_from("<I", payload, 10)
    hdr_size, = struct.unpack_from("<I", payload, 14)
    if hdr_size < 40:
        raise ValueError("BITMAPCOREHEADER BMPs not supported")
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression, = struct.unpack_from("<I", payload, 30)
    if planes != 1 or compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"only uncompressed 24/32-bit BI_RGB supported "
            f"(bpp={bpp}, compression={compression})")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0 or w > 1 << 20 or h > 1 << 20:
        raise ValueError("bad BMP dimensions")
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3  # rows pad to 4 bytes
    need = stride * h
    raster = payload[data_off:data_off + need]
    if len(raster) < need:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)
    px = rows[:, :w * bytes_pp].reshape(h, w, bytes_pp)
    if not top_down:
        px = px[::-1]
    # stored BGR(A) → RGB
    return w, h, np.ascontiguousarray(px[:, :, 2::-1])


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BI_RGB BMP payload —
    the writer twin of :func:`decode_bmp` (shared with the oracle)."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    raster_size = stride * h
    header = struct.pack("<2sIHHI", b"BM", 54 + raster_size, 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          raster_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = np.ascontiguousarray(
        pixels[::-1, :, ::-1]).reshape(h, w * 3)  # bottom-up, BGR
    return header + rows.tobytes()


def decode_image(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Magic-byte dispatch over the native image codecs (PPM, BMP) —
    the single real-decode entry every image path uses. Returns
    (w, h, uint8 RGB (h, w, 3)); ValueError on malformed input,
    NotImplementedError for formats that need external libs."""
    if payload[:2] in (b"P6", b"P3"):
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "only PPM and BMP decode natively; other image codecs need PIL "
        "(deterministic fake used instead when decode_fake=True)")


def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL audio decode for PCM WAV via the stdlib ``wave`` module —
    returns (sample_rate, n_channels, int16 samples of shape
    (n_frames, n_channels)). Raises ValueError on malformed input."""
    import io
    import wave
    try:
        with wave.open(io.BytesIO(bytes(payload))) as wf:
            rate = wf.getframerate()
            ch = wf.getnchannels()
            width = wf.getsampwidth()
            frames = wf.readframes(wf.getnframes())
    except (wave.Error, EOFError) as e:
        raise ValueError(f"not a PCM WAV payload: {e}") from e
    if width != 2:
        raise ValueError("only 16-bit PCM supported")
    arr = np.frombuffer(frames, dtype="<i2").reshape(-1, ch)
    return rate, ch, arr


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """(n, ch) int16 → PCM WAV payload (stdlib wave)."""
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.ascontiguousarray(
            samples, dtype="<i2").tobytes())
    return buf.getvalue()


def _decode_image_real(payload: bytes):
    """Real decoder seam: PPM and BMP decode natively (pure numpy);
    other formats need PIL, which this environment does not ship."""
    return decode_image(payload)


def _fake_image_meta(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in 'decode': derive (w, h) from a stable
    digest so tests and oracles are reproducible."""
    d = hashlib.sha256(payload).digest()
    w = 16 + (struct.unpack(">H", d[0:2])[0] % 1024)
    h = 16 + (struct.unpack(">H", d[2:4])[0] % 1024)
    return w, h


def synth_media_rows(n: int = 64, seed: int = 42) -> list[tuple]:
    """Deterministic opaque binary payloads standing in for media files
    — pure function, shared by the Spark source and the single-threaded
    oracle twin so both sides see byte-identical payloads."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        payload = rng.bytes(128 + int(rng.randint(0, 512)))
        kind = ("image", "audio", "video")[i % 3]
        rows.append((i, kind, bytearray(payload), f"application/x-{kind}",
                     None, None, None))
    return rows


def synth_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    return local_df(spark, synth_media_rows(n, seed), MEDIA_SCHEMA)


def synth_real_media_rows(n: int = 24, seed: int = 7) -> list[tuple]:
    """Deterministic REAL media payloads: P6 PPM images and 16-bit PCM
    WAV audio — formats the engine decodes natively, so the decode path
    under test is a working codec, not a digest fake. Pure function,
    shared with the oracle twin."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        if i % 3 == 0:
            w = int(4 + rng.randint(0, 12))
            h = int(4 + rng.randint(0, 12))
            pix = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
            rows.append((i, "image", bytearray(encode_ppm(pix)),
                         "image/x-portable-pixmap", w, h, None))
        elif i % 3 == 1:
            nfr = int(400 + rng.randint(0, 800))
            ch = 1 + (i // 3) % 2
            samples = rng.randint(-20000, 20000,
                                  size=(nfr, ch)).astype("<i2")
            rows.append((i, "audio", bytearray(encode_wav(samples, 8000)),
                         "audio/wav", None, None, nfr * 1000 // 8000))
        else:
            w = int(3 + rng.randint(0, 10))  # odd widths hit row padding
            h = int(3 + rng.randint(0, 10))
            pix = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
            rows.append((i, "image", bytearray(encode_bmp(pix)),
                         "image/bmp", w, h, None))
    return rows


def synth_real_media_df(spark, n: int = 24, seed: int = 7) -> DataFrame:
    return local_df(spark, synth_real_media_rows(n, seed), MEDIA_SCHEMA)


REAL_DECODE_SCHEMA = ("media_id long, kind string, width int, height int, "
                      "duration_ms int, content_sha string")


def real_decode_record(kind: str, payload: bytes) -> dict:
    """Per-media REAL-decode kernel: decoded dimensions/duration plus a
    digest of the DECODED samples (not the container bytes — proof the
    codec actually ran). Pure, shared by the UDF and the oracle."""
    if kind == "image":
        w, h, arr = decode_image(payload)
        return {"width": w, "height": h, "duration_ms": None,
                "content_sha": hashlib.sha256(arr.tobytes()).hexdigest()}
    rate, _ch, arr = decode_wav(payload)
    return {"width": None, "height": None,
            "duration_ms": len(arr) * 1000 // rate,
            "content_sha": hashlib.sha256(arr.tobytes()).hexdigest()}


def real_decode_summary(media: DataFrame) -> DataFrame:
    """media(binary) → decoded metadata via the REAL codecs (PPM/WAV).
    Same mapInPandas shape as the feature kernels: payloads pruned into
    the UDF, one Arrow batch per task."""
    src = media.select("media_id", "kind", "payload")

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "kind": [], "width": [], "height": [],
                   "duration_ms": [], "content_sha": []}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                rec = real_decode_record(str(kind), bytes(payload))
                out["media_id"].append(int(mid))
                out["kind"].append(str(kind))
                out["width"].append(rec["width"])
                out["height"].append(rec["height"])
                out["duration_ms"].append(rec["duration_ms"])
                out["content_sha"].append(rec["content_sha"])
            pdf_out = pd.DataFrame(out)
            for c in ("width", "height", "duration_ms"):
                pdf_out[c] = pdf_out[c].astype("Int32")
            yield pdf_out

    return src.mapInPandas(_dec, schema=REAL_DECODE_SCHEMA)


def image_feature_record(payload: bytes, thumb: int = 8) -> dict:
    """Per-image feature kernel: REAL decode + grayscale thumbnail for
    PPM payloads; digest-seeded fake for opaque formats. Pure,
    deterministic, shared by the mapInPandas UDF and the DuckDB VALUES
    oracle."""
    if payload[:2] in (b"P6", b"P3") or payload[:2] == b"BM":
        w, h, arr = decode_image(payload)
        tw, th_ = min(w, thumb), min(h, thumb)
        ys = np.linspace(0, h - 1, th_).round().astype(int)
        xs = np.linspace(0, w - 1, tw).round().astype(int)
        gray = arr.astype(np.float32).mean(axis=2)
        feat = (gray[np.ix_(ys, xs)] / np.float32(255.0)) \
            .astype(np.float32).reshape(-1)
        return {"sha256": hashlib.sha256(payload).hexdigest(),
                "n_bytes": len(payload),
                "thumb_w": tw, "thumb_h": th_,
                "features": feat.tolist()}
    w, h = _fake_image_meta(payload)
    d = hashlib.sha256(b"feat" + payload).digest()
    feat = (np.frombuffer(d, dtype=np.uint8)[:thumb * thumb // 2]
            .astype(np.float32) / 255.0)
    return {"sha256": hashlib.sha256(payload).hexdigest(),
            "n_bytes": len(payload),
            "thumb_w": min(w, thumb), "thumb_h": min(h, thumb),
            "features": feat.tolist()}


def video_frame_records(payload: bytes, every_ms: int = 1000,
                        max_frames: int = 8) -> list[dict]:
    """Per-video frame-sample kernel (fake codec path): pure,
    deterministic, shared by the UDF and the oracle."""
    n = 1 + (payload[0] % max_frames) if payload else 1
    return [{"frame_no": f, "ts_ms": f * every_ms,
             "frame_sha": hashlib.sha256(
                 payload + f.to_bytes(4, "big")).hexdigest()}
            for f in range(n)]


def image_features(media: DataFrame, thumb: int = 8,
                   decode_fake: bool = True) -> DataFrame:
    """binary → per-image features. Real plumbing: column pruning into
    the UDF, one Arrow batch per task, fixed-length float feature
    vector out (ANN-ready). Fake codec: digest-seeded 'pixels'."""
    src = media.filter(F.col("kind") == "image") \
        .select("media_id", "payload")

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "sha256": [], "n_bytes": [],
                   "thumb_w": [], "thumb_h": [], "features": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                if not decode_fake:
                    _decode_image_real(data)  # raises: real codec absent
                rec = image_feature_record(data, thumb)
                out["media_id"].append(int(mid))
                out["sha256"].append(rec["sha256"])
                out["n_bytes"].append(rec["n_bytes"])
                out["thumb_w"].append(rec["thumb_w"])
                out["thumb_h"].append(rec["thumb_h"])
                out["features"].append(rec["features"])
            pdf_out = pd.DataFrame(out)
            pdf_out["n_bytes"] = pdf_out["n_bytes"].astype("int32")
            pdf_out["thumb_w"] = pdf_out["thumb_w"].astype("int32")
            pdf_out["thumb_h"] = pdf_out["thumb_h"].astype("int32")
            yield pdf_out

    return src.mapInPandas(_feat, schema=IMAGE_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000,
                  max_frames: int = 8) -> DataFrame:
    """video binary → sampled frame records (1→N explode via
    mapInPandas). Frame 'decode' is a deterministic digest per
    (payload, frame_no) — the real path replaces one line."""
    src = media.filter(F.col("kind") == "video") \
        .select("media_id", "payload")

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_no": [], "ts_ms": [],
                   "frame_sha": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for rec in video_frame_records(bytes(payload), every_ms,
                                               max_frames):
                    out["media_id"].append(int(mid))
                    out["frame_no"].append(rec["frame_no"])
                    out["ts_ms"].append(rec["ts_ms"])
                    out["frame_sha"].append(rec["frame_sha"])
            pdf_out = pd.DataFrame(out)
            pdf_out["frame_no"] = pdf_out["frame_no"].astype("int32")
            pdf_out["ts_ms"] = pdf_out["ts_ms"].astype("int32")
            yield pdf_out

    return src.mapInPandas(_frames, schema=FRAME_SAMPLE_SCHEMA)
