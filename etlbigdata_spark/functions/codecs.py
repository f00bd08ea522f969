"""Real media codecs for B26: PPM (P6) and 24bpp BMP images,
concatenated-P6 "video" and 16-bit PCM WAV audio, plus the 64-bit
perceptual hashes (image aHash, audio energy-delta fingerprint) the
media dedup path pairs on.

The container ships no PIL/ffmpeg, but these formats are uncompressed
and fully decodable with numpy + stdlib, e.g. PPM P6 is

    ``P6\\n<width> <height>\\n<maxval>\\n`` + width*height*3 raw RGB bytes

so they are the default codecs of every :mod:`.multimodal` operator;
anything else raises ValueError.  "Video" is a stream of concatenated
P6 images (MJPEG-style), which exercises real frame splitting without
ffmpeg.  Reference has no multimodal surface — this is north-star
(SURVEY §2 B26) only.

Everything here runs inside Arrow-batched ``mapInPandas`` workers: pure
per-blob CPU, no Spark imports, no driver state.
"""

from __future__ import annotations

import numpy as np

_WS = b" \t\r\n"


def _next_token(blob: bytes, pos: int) -> tuple[bytes, int]:
    """Read the next PPM header token from ``pos``, skipping whitespace
    and ``#`` comments (both legal per the netpbm spec)."""
    n = len(blob)
    while pos < n:
        c = blob[pos : pos + 1]
        if c in (b"#",):
            while pos < n and blob[pos : pos + 1] != b"\n":
                pos += 1
        elif c in _WS:
            pos += 1
        else:
            break
    start = pos
    while pos < n and blob[pos : pos + 1] not in _WS:
        pos += 1
    if start == pos:
        raise ValueError("truncated PPM header")
    return blob[start:pos], pos


def _parse_header(blob: bytes, pos: int = 0) -> tuple[int, int, int, int]:
    """Parse one P6 header starting at ``pos``; returns
    (width, height, data_start, data_end)."""
    magic, pos = _next_token(blob, pos)
    if magic != b"P6":
        raise ValueError(f"not a P6 PPM (magic {magic!r})")
    w_tok, pos = _next_token(blob, pos)
    h_tok, pos = _next_token(blob, pos)
    max_tok, pos = _next_token(blob, pos)
    width, height, maxval = int(w_tok), int(h_tok), int(max_tok)
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPM supported (got {maxval})")
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    # exactly ONE whitespace byte separates maxval from the raster
    pos += 1
    data_end = pos + width * height * 3
    if data_end > len(blob):
        raise ValueError("truncated PPM raster")
    return width, height, pos, data_end


def encode_ppm(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 array → P6 bytes."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) array, got shape {arr.shape}")
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(blob: bytes) -> np.ndarray:
    """P6 bytes → (H, W, 3) uint8 array.  Raises ValueError on anything
    that is not a well-formed single P6 image."""
    width, height, start, end = _parse_header(blob or b"")
    return np.frombuffer(blob[start:end], dtype=np.uint8).reshape(height, width, 3)


def split_ppm_stream(blob: bytes) -> list[bytes]:
    """Split a concatenation of P6 images into standalone P6 blobs (the
    'video' container for frame sampling)."""
    frames: list[bytes] = []
    pos, n = 0, len(blob or b"")
    while pos < n:
        # tolerate inter-frame whitespace
        while pos < n and blob[pos : pos + 1] in _WS:
            pos += 1
        if pos >= n:
            break
        frame_start = pos
        _, _, _, data_end = _parse_header(blob, pos)
        frames.append(blob[frame_start:data_end])
        pos = data_end
    if not frames:
        raise ValueError("no P6 frames in stream")
    return frames


def ppm_frames(blob: bytes, n_frames: int) -> list[bytes]:
    """Real frame sampling: split the concatenated-P6 stream and take
    ``n_frames`` evenly spaced frames (all frames if fewer exist)."""
    frames = split_ppm_stream(blob)
    if len(frames) <= n_frames:
        return frames
    idx = np.linspace(0, len(frames) - 1, n_frames).round().astype(np.int64)
    return [frames[i] for i in idx]


# -- BMP (24bpp uncompressed) — second REAL codec (round 4) -----------
def decode_bmp(blob: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP (BITMAPINFOHEADER) to an RGB
    uint8 array. Handles bottom-up (positive height, the common case)
    and top-down (negative height) layouts and the 4-byte row padding.
    Palette/compressed/other-depth BMPs raise — swap in PIL where it
    exists."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP (missing BM magic)")
    off = int.from_bytes(blob[10:14], "little")
    w = int.from_bytes(blob[18:22], "little", signed=True)
    h = int.from_bytes(blob[22:26], "little", signed=True)
    bpp = int.from_bytes(blob[28:30], "little")
    comp = int.from_bytes(blob[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24bpp uncompressed BMP supported (bpp={bpp}, compression={comp})")
    top_down, height = h < 0, abs(h)
    stride = (w * 3 + 3) // 4 * 4
    data = np.frombuffer(blob, np.uint8, count=stride * height, offset=off).reshape(height, stride)
    img = data[:, : w * 3].reshape(height, w, 3)[..., ::-1]  # BGR→RGB
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) RGB uint8 array as a bottom-up 24bpp BMP."""
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = pixels[..., ::-1].reshape(h, w * 3)
    data = rows[::-1].tobytes()
    off = 14 + 40
    fh = b"BM" + (off + len(data)).to_bytes(4, "little") + b"\x00" * 4 + off.to_bytes(4, "little")
    dib = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return fh + dib + data


def decode_image(blob: bytes) -> np.ndarray:
    """Magic-byte dispatcher over the REAL built-in codecs (PPM P6, BMP
    24bpp). The extension point for richer formats is the ``decode_fn``
    argument on the multimodal operators, not this function."""
    if blob[:2] == b"P6":
        return decode_ppm(blob)
    if blob[:2] == b"BM":
        return decode_bmp(blob)
    raise ValueError("unsupported image format (built-in real codecs: PPM P6, BMP 24bpp)")


def image_features(key: str, blob: bytes) -> dict:
    """Format-sniffing image featurizer: real decode (PPM or BMP) →
    FEATURE_SCHEMA row: true width/height plus an 8-dim feature
    (per-channel mean, per-channel std, aspect ratio, mean luminance).
    Deterministic, codec-grounded — not a byte hash."""
    img = decode_image(blob)
    h, w = img.shape[:2]
    f = img.astype(np.float64)
    means = f.mean(axis=(0, 1))
    stds = f.std(axis=(0, 1))
    lum = float(0.299 * means[0] + 0.587 * means[1] + 0.114 * means[2])
    feature = [float(x) for x in means] + [float(x) for x in stds] + [w / h, lum]
    return {"key": key, "width": w, "height": h, "n_frames": 1, "feature": feature}


def _nearest_grid(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbour resample of an (H, W, C) array to
    (height, width, C): each output cell takes the source pixel under
    its centre."""
    src_h, src_w = img.shape[:2]
    rows = np.minimum((np.arange(height) + 0.5) * src_h / height, src_h - 1).astype(np.int64)
    cols = np.minimum((np.arange(width) + 0.5) * src_w / width, src_w - 1).astype(np.int64)
    return img[rows[:, None], cols[None, :]]


def image_resize(blob: bytes, width: int, height: int) -> bytes:
    """Format-sniffing resize: decode (PPM or BMP) →
    nearest-neighbor resample → re-encode in the ORIGINAL format."""
    out = _nearest_grid(decode_image(blob), width, height)
    return encode_bmp(out) if blob[:2] == b"BM" else encode_ppm(out)


def image_ahash(blob: bytes) -> int:
    """64-bit perceptual AVERAGE HASH (aHash — the classic public
    algorithm: downscale to 8×8, luminance, bit = cell > mean): the
    image twin of the text SimHash — near-duplicate images (re-encodes,
    small edits, minor noise) land within a few bits, unrelated images
    sit near Hamming 32.  Real decode (PPM P6 / BMP 24bpp), 8×8
    nearest-neighbor grid (same resample rule as ``image_resize``),
    Rec.601 luminance, bits packed row-major MSB-first into a SIGNED
    64-bit int (Spark LongType-compatible)."""
    small = _nearest_grid(decode_image(blob), 8, 8).astype(np.float64)
    lum = 0.299 * small[..., 0] + 0.587 * small[..., 1] + 0.114 * small[..., 2]
    bits = (lum > lum.mean()).flatten()
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def decode_wav(blob: bytes) -> tuple[int, int, np.ndarray]:
    """REAL audio codec via the stdlib ``wave`` module: 16-bit PCM WAV →
    (sample_rate, n_channels, samples int16 array shaped
    [n_frames, n_channels]).  The audio twin of ``decode_ppm`` — no
    external library, exact samples, ValueError on non-WAV or non-PCM-16
    bytes (compressed formats need a user decode_fn, same gate as
    JPEG)."""
    import io
    import wave

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("unsupported audio format (built-in real codec: PCM WAV)")
    with wave.open(io.BytesIO(blob), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(f"built-in WAV codec handles 16-bit PCM only, got {8 * w.getsampwidth()}-bit")
        rate, nch, n = w.getframerate(), w.getnchannels(), w.getnframes()
        samples = np.frombuffer(w.readframes(n), dtype="<i2").reshape(-1, nch)
    return rate, nch, samples


def encode_wav(rate: int, samples: np.ndarray) -> bytes:
    """Inverse of :func:`decode_wav` (tests + fixture synthesis):
    [n, ch] int16 → PCM WAV bytes."""
    import io
    import wave

    samples = np.asarray(samples, dtype="<i2")
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def audio_features(key: str, blob: bytes) -> dict:
    """Audio featurizer over the real WAV codec, emitting the
    shared FEATURE_SCHEMA row with the documented field mapping:
    ``width`` = sample rate, ``height`` = channels, ``n_frames`` =
    sample frames; ``feature`` = [duration_sec, rms, peak,
    zero_crossing_rate, dc_mean] over the channel-mixed signal —
    the level/clipping/silence statistics an audio-curation filter
    gates on."""
    rate, nch, samples = decode_wav(blob)
    x = samples.astype(np.float64).mean(axis=1) / 32768.0  # mixdown, [-1, 1)
    n = len(x)
    dur = n / rate if rate else 0.0
    rms = float(np.sqrt((x * x).mean())) if n else 0.0
    peak = float(np.abs(x).max()) if n else 0.0
    zcr = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if n > 1 else 0.0
    dc = float(x.mean()) if n else 0.0
    return {
        "key": key, "width": int(rate), "height": int(nch), "n_frames": int(n),
        "feature": [dur, rms, peak, zcr, dc],
    }


def media_features(key: str, blob: bytes) -> dict:
    """Magic-byte dispatcher over ALL built-in real codecs: PPM/BMP →
    :func:`image_features`, RIFF/WAVE → :func:`audio_features`;
    ValueError otherwise."""
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        return audio_features(key, blob)
    return image_features(key, blob)


def audio_fphash(blob: bytes) -> int:
    """64-bit perceptual AUDIO fingerprint — the audio member of the
    Hamming-dedup triad (text SimHash, image aHash, this), in the
    spirit of the Haitsma–Kalker energy-difference fingerprint: real
    WAV decode, mono mixdown, 65 equal time frames, bit i =
    energy(frame i+1) > energy(frame i), packed MSB-first into a SIGNED
    64-bit int (Spark LongType-compatible).

    GAIN-INVARIANT by construction: a volume change multiplies every
    frame energy by the same factor, so all comparisons — and the hash
    — are unchanged; re-encodes and light noise flip only a few bits,
    unrelated audio sits near Hamming 32.  Time-shift robustness is
    NOT claimed (a large offset re-frames the signal) — that needs
    overlapped frames and multi-hash matching, out of scope for the
    dedup face."""
    _, _, samples = decode_wav(blob)
    x = samples.astype(np.float64).mean(axis=1)
    if len(x) < 65:
        x = np.pad(x, (0, 65 - len(x)))
    frames = np.array_split(x * x, 65)
    e = np.array([f.mean() for f in frames])
    bits = e[1:] > e[:-1]
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)
