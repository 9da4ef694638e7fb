"""Pure-Python media codecs for the multimodal operators.

Real decoders for the formats expressible with the stdlib alone — BMP
(24-bit uncompressed, the public BITMAPINFOHEADER layout), binary
PPM/PGM (netpbm P6/P5), PNG (zlib DEFLATE, 8-bit gray/RGB/palette/
alpha, filters 0-4), baseline JFIF JPEG (Annex-K huffman + dequant +
8×8 iDCT + YCbCr, sampling factors up to 2 so 4:4:4/4:2:2/4:2:0 all
decode), RIFF WAV (PCM 8/16-bit), and AVI (uncompressed DIB + MJPG
streams) — plus numpy-vectorized resize and feature pooling. These back
the decoding operators of :mod:`stglib_spark.operators.multimodal`;
progressive JPEG and
inter-frame video codecs (H.264…) still raise ``NotImplementedError``
at the same plug point.

Everything is bytes→ndarray pure functions, safe inside Arrow-batched
mapInPandas workers.
"""

from __future__ import annotations

import struct

import numpy as np


class UnsupportedMediaError(NotImplementedError):
    """Payload format recognized as media but needs an external codec."""


def sniff(payload: bytes) -> str | None:
    """Best-effort container sniff → 'bmp' | 'ppm' | 'pgm' | 'wav' |
    'jpeg' | 'png' | None."""
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] == b"P6":
        return "ppm"
    if payload[:2] == b"P5":
        return "pgm"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "avi"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    return None


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed, BITMAPINFOHEADER)
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes → (h, w, 3) uint8 RGB. Supports the common 24-bit
    uncompressed BITMAPINFOHEADER file (top-down or bottom-up rows)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise UnsupportedMediaError("BMP core-header variant not supported")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise UnsupportedMediaError(
            f"BMP bpp={bpp} compression={compression}: only 24-bit "
            "uncompressed is supported without an external codec"
        )
    bottom_up = height > 0
    h = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)
    img = rows[:, : width * 3].reshape(h, width, 3)[..., ::-1]  # BGR → RGB
    if bottom_up:
        img = img[::-1]
    return np.ascontiguousarray(img)


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit uncompressed BMP bytes (bottom-up)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[..., None], 3, axis=2)
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB → BGR, flip
    data = body.tobytes()
    data_off = 14 + 40
    file_size = data_off + len(data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + dib + data


# ---------------------------------------------------------------------------
# netpbm (binary P6 RGB / P5 gray)
# ---------------------------------------------------------------------------


def decode_pnm(payload: bytes) -> np.ndarray:
    """P6/P5 bytes → (h, w, 3) or (h, w) uint8."""
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    # header tokens: magic, width, height, maxval; '#' comments allowed
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise UnsupportedMediaError("16-bit netpbm not supported")
    ch = 3 if magic == b"P6" else 1
    arr = np.frombuffer(payload, np.uint8, count=w * h * ch, offset=i)
    return arr.reshape(h, w, 3) if ch == 3 else arr.reshape(h, w)


def encode_ppm(img: np.ndarray) -> bytes:
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[..., None], 3, axis=2)
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


# ---------------------------------------------------------------------------
# WAV (RIFF, PCM 8/16-bit)
# ---------------------------------------------------------------------------


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (mono float32 samples in [-1, 1], sample_rate). PCM
    8-bit unsigned and 16-bit signed; multi-channel averages to mono."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, rate, _byterate, _align, bits = fmt
    if audio_format != 1:
        raise UnsupportedMediaError(
            f"WAV format {audio_format}: only PCM supported without a codec"
        )
    if bits == 16:
        x = np.frombuffer(data, "<i2").astype(np.float32) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(data, np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise UnsupportedMediaError(f"WAV {bits}-bit PCM not supported")
    if channels > 1:
        x = x[: len(x) - len(x) % channels].reshape(-1, channels).mean(axis=1)
    return x, rate


def encode_wav(x: np.ndarray, rate: int) -> bytes:
    """mono float32 [-1, 1] → 16-bit PCM WAV bytes."""
    # symmetric with decode (x = pcm / 32768): scale by 32768 and clamp
    # the one unrepresentable code (+32768) so roundtrip error ≤ ½ LSB
    pcm = np.clip(np.asarray(x, np.float64), -1.0, 1.0)
    pcm = np.clip(np.round(pcm * 32768.0), -32768, 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


# ---------------------------------------------------------------------------
# Resize + feature pooling (numpy, no loops over pixels)
# ---------------------------------------------------------------------------


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize, vectorized index gather."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(out_h) + 0.5) * h / out_h, h - 1).astype(int)
    xs = np.minimum((np.arange(out_w) + 0.5) * w / out_w, w - 1).astype(int)
    return img[ys][:, xs]


def image_features(img: np.ndarray, dim: int) -> np.ndarray:
    """(h, w[, 3]) uint8 → dim-float32 vector in [0, 1]: grayscale,
    resize to a dim×16 strip, mean-pool 16 pixels per slot — the same
    output contract as the stub path."""
    if img.ndim == 3:
        gray = img.astype(np.float32).mean(axis=2)
    else:
        gray = img.astype(np.float32)
    strip = resize_nearest(gray, 16, dim)  # (dim, 16)
    return (strip.mean(axis=1) / 255.0).astype(np.float32)


def audio_features(x: np.ndarray, dim: int) -> np.ndarray:
    """mono samples → dim-float32 RMS-energy envelope in [0, 1]."""
    n = len(x)
    if n == 0:
        return np.zeros(dim, dtype=np.float32)
    edges = np.linspace(0, n, dim + 1).astype(int)
    out = np.empty(dim, dtype=np.float32)
    for i in range(dim):
        seg = x[edges[i] : max(edges[i + 1], edges[i] + 1)]
        out[i] = np.sqrt(np.mean(seg * seg)) if len(seg) else 0.0
    return np.clip(out, 0.0, 1.0)


# ---------------------------------------------------------------------------
# PNG (stdlib zlib; 8-bit gray / RGB / palette / gray+alpha / RGBA,
# filters 0-4, non-interlaced)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# samples per pixel by PNG color type
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(payload: bytes):
    pos = 8
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        yield ctype, payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # len + type + data + crc
        if ctype == b"IEND":
            break


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG per-scanline filtering. ``raw`` is h*(1+stride) filter-tagged
    bytes; returns (h, stride) recovered bytes. Up/None rows are vectorized;
    Sub/Average/Paeth carry a left-pixel dependency so they walk x in steps
    of bpp (each step vectorized over the pixel's bytes)."""
    raw = raw.reshape(h, 1 + stride)
    out = np.zeros((h, stride), dtype=np.uint16)  # u16 so sums don't wrap
    prev = np.zeros(stride, dtype=np.uint16)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.uint16)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, stride, bpp):
                cur[x : x + bpp] = (cur[x : x + bpp] + cur[x - bpp : x]) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            cur[:bpp] = (cur[:bpp] + prev[:bpp] // 2) & 0xFF
            for x in range(bpp, stride, bpp):
                cur[x : x + bpp] = (
                    cur[x : x + bpp]
                    + (cur[x - bpp : x] + prev[x : x + bpp]) // 2
                ) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            cur[:bpp] = (cur[:bpp] + prev[:bpp]) & 0xFF  # a=c=0 → pred=b
            for x in range(bpp, stride, bpp):
                a = cur[x - bpp : x].astype(np.int32)
                b = prev[x : x + bpp].astype(np.int32)
                c = prev[x - bpp : x].astype(np.int32)
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                cur[x : x + bpp] = (cur[x : x + bpp] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = cur
        prev = cur
    return out.astype(np.uint8)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (h, w) gray or (h, w, 3) RGB uint8 via stdlib zlib.
    Supports bit depth 8, color types 0/2/3/4/6, filters 0-4,
    non-interlaced (the overwhelmingly common web/export case); alpha is
    dropped, palette images expand through PLTE."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    ihdr = None
    plte = None
    idat = []
    for ctype, body in _png_chunks(payload):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_n, comp, filt, interlace = ihdr
    if depth != 8:
        raise UnsupportedMediaError(f"PNG bit depth {depth}: only 8 supported")
    if interlace:
        raise UnsupportedMediaError("Adam7-interlaced PNG not supported")
    if comp != 0 or filt != 0:
        raise ValueError("PNG nonstandard compression/filter method")
    if ctype_n not in _PNG_CHANNELS:
        raise UnsupportedMediaError(f"PNG color type {ctype_n} not supported")
    ch = _PNG_CHANNELS[ctype_n]
    stride = w * ch
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    if raw.size != h * (1 + stride):
        raise ValueError("PNG IDAT length does not match dimensions")
    img = _png_unfilter(raw, h, stride, ch).reshape(h, w, ch)
    if ctype_n == 0:
        return np.ascontiguousarray(img[..., 0])
    if ctype_n == 2:
        return np.ascontiguousarray(img)
    if ctype_n == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        return np.ascontiguousarray(plte[img[..., 0]])
    if ctype_n == 4:  # gray + alpha → gray
        return np.ascontiguousarray(img[..., 0])
    return np.ascontiguousarray(img[..., :3])  # RGBA → RGB


def encode_png(img: np.ndarray) -> bytes:
    """(h, w[, 3]) uint8 → non-interlaced filter-0 PNG bytes."""
    import zlib

    img = np.asarray(img, dtype=np.uint8)
    ctype = 0 if img.ndim == 2 else 2
    h, w = img.shape[:2]
    body = img.reshape(h, -1)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), body], axis=1
    ).tobytes()

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# AVI (RIFF container, uncompressed 24-bit DIB frames — '00db' chunks)
# ---------------------------------------------------------------------------


def _riff_chunks(payload: bytes, start: int, end: int):
    """Walk (fourcc, body_start, body_size) over a RIFF chunk run."""
    pos = start
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", payload, pos + 4)
        yield cid, pos + 8, sz
        pos += 8 + sz + (sz & 1)


def decode_avi(payload: bytes) -> tuple[list[np.ndarray], float]:
    """AVI bytes → (frames as (h, w, 3) uint8 RGB, fps). Supports the
    uncompressed-DIB stream ('00db' chunks, biCompression=0, 24-bit,
    bottom-up rows — the layout ffmpeg's ``-c:v rawvideo -pix_fmt bgr24``
    writes); compressed codecs (MJPG/H.264…) raise UnsupportedMediaError
    at this plug point."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    width = height = None
    fps = 0.0
    compression = 0
    bpp = 24
    frames: list[np.ndarray] = []

    def walk(start: int, end: int) -> None:
        nonlocal width, height, fps, compression, bpp
        for cid, body, sz in _riff_chunks(payload, start, end):
            if cid == b"LIST":
                walk(body + 4, body + sz)  # skip list type fourcc
            elif cid == b"avih":
                (us_per_frame,) = struct.unpack_from("<I", payload, body)
                if us_per_frame:
                    fps = 1e6 / us_per_frame
            elif cid == b"strf" and width is None:
                # BITMAPINFOHEADER for the first (video) stream
                _sz, w, h = struct.unpack_from("<Iii", payload, body)
                _planes, bits = struct.unpack_from("<HH", payload, body + 12)
                (comp,) = struct.unpack_from("<I", payload, body + 16)
                width, height, bpp, compression = w, h, bits, comp
            elif cid in (b"00db", b"00dc"):
                frames.append(payload[body : body + sz])

    walk(12, len(payload))
    if width is None or not frames:
        raise ValueError("AVI missing stream format or frame data")
    if compression == 0x47504A4D:  # 'MJPG': each frame is a baseline JPEG
        return [decode_jpeg(raw) for raw in frames], fps
    if compression != 0 or bpp != 24:
        raise UnsupportedMediaError(
            f"AVI biCompression={compression} bpp={bpp}: only uncompressed "
            "24-bit DIB and MJPG frames are supported without an external "
            "codec"
        )
    h = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    out = []
    for raw in frames:
        rows = np.frombuffer(raw, np.uint8, count=row_bytes * h).reshape(
            h, row_bytes
        )
        img = rows[:, : width * 3].reshape(h, width, 3)[..., ::-1]  # BGR→RGB
        if height > 0:  # bottom-up
            img = img[::-1]
        out.append(np.ascontiguousarray(img))
    return out, fps


def encode_avi(
    frames: list[np.ndarray], fps: float = 10.0, codec: str = "DIB"
) -> bytes:
    """(h, w, 3) uint8 RGB frames → minimal AVI bytes. ``codec='DIB'``
    writes uncompressed 24-bit DIB frames; ``codec='MJPG'`` writes one
    baseline JPEG per frame (motion-JPEG)."""
    frames = [np.asarray(f, np.uint8) for f in frames]
    h, w = frames[0].shape[:2]
    row_bytes = (w * 3 + 3) & ~3

    def dib(img: np.ndarray) -> bytes:
        body = np.zeros((h, row_bytes), np.uint8)
        body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # flip, RGB→BGR
        return body.tobytes()

    def chunk(tag: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    if codec == "MJPG":
        payloads = [encode_jpeg_baseline(f) for f in frames]
        fourcc, comp, cid = b"MJPG", 0x47504A4D, b"00dc"
        buf_size = max(len(p) for p in payloads)
    elif codec == "DIB":
        payloads = [dib(f) for f in frames]
        fourcc, comp, cid = b"DIB ", 0, b"00db"
        buf_size = row_bytes * h
    else:
        raise ValueError(f"unknown AVI codec {codec!r}")

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        int(1e6 / fps), buf_size * int(fps), 0, 0x10, len(frames),
        0, 1, buf_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + fourcc + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
                                       1, int(fps), 0, len(frames),
                                       buf_size, 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, comp, buf_size, 2835, 2835, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(
        b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
    ))
    movi = lst(b"movi", b"".join(chunk(cid, p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def sample_avi_frames(
    payload: bytes, n_frames: int, duration_ms: int | None = None
) -> list[tuple[int, np.ndarray]]:
    """Evenly sample ``n_frames`` from an AVI clip → [(t_ms, frame)].
    Timing comes from the container's own fps unless ``duration_ms``
    overrides it (t = i·dur/n, source frame = floor(t·fps), clamped)."""
    frames, fps = decode_avi(payload)
    n = len(frames)
    if duration_ms is None:
        duration_ms = int(n / fps * 1000) if fps else 1000
    out = []
    for i in range(n_frames):
        t_ms = int(i * duration_ms / n_frames)
        idx = min(int(t_ms / 1000.0 * fps) if fps else i, n - 1)
        out.append((t_ms, frames[idx]))
    return out


# ---------------------------------------------------------------------------
# Baseline JFIF JPEG (SOF0): pure-Python/NumPy huffman + dequant + 8x8 iDCT
# + YCbCr. Public ITU T.81 algorithm; tables are the spec's Annex K
# constants. Progressive (SOF2), arithmetic coding, and 12-bit precision
# raise UnsupportedMediaError at the same plug point.
# ---------------------------------------------------------------------------

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
])

_Q_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
])

# Annex K huffman specs: (BITS[1..16], HUFFVAL)
_HUFF_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_basis() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix M: F = M @ x @ M.T."""
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    m[0, :] *= 1.0 / np.sqrt(2.0)
    return m


_DCT_M = _dct_basis()


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical huffman: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the bit-walk decoder."""
    return {(ln, code): sym for sym, (code, ln) in _huff_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


class _BitReader:
    """Entropy-coded-segment reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn handled by caller via sync()
                raise _RestartMarker()
            else:
                raise ValueError("unexpected marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self) -> None:
        """Consume an RSTn marker and realign to a byte boundary."""
        self.acc = 0
        self.nbits = 0
        self.pos += 2


class _RestartMarker(Exception):
    pass


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map s received bits to the signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(rd: _BitReader, dc_map, ac_map) -> np.ndarray:
    def read_symbol(m) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | rd.bit()
            sym = m.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in scan")

    zz = np.zeros(64, dtype=np.int32)
    s = read_symbol(dc_map)
    zz[0] = _extend(rd.receive(s), s) if s else 0
    k = 1
    while k < 64:
        rs = read_symbol(ac_map)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(rd.receive(s), s)
        k += 1
    return zz


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF JPEG bytes → (h, w, 3) uint8 RGB (grayscale JPEGs
    replicate into 3 channels). Pure-Python/NumPy: marker parse →
    canonical huffman decode (with 0xFF00 unstuffing and RSTn) →
    dequantize/dezigzag → separable orthonormal 8×8 iDCT → chroma
    upsample (sampling factors 1-2, covers 4:4:4/4:2:2/4:2:0) →
    YCbCr→RGB. Progressive/arithmetic/12-bit raise
    UnsupportedMediaError."""
    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    dc_maps: dict[int, dict] = {}
    ac_maps: dict[int, dict] = {}
    comps: list[dict] = []
    width = height = 0
    restart_interval = 0
    scan_comps: list[dict] = []
    data_start = -1
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD8:
            continue
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos)
        body = pos + 2
        end = pos + seg_len
        if marker == 0xDB:  # DQT
            p = body
            while p < end:
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise UnsupportedMediaError("16-bit quant tables")
                tbl = np.frombuffer(payload, np.uint8, 64, p + 1).astype(
                    np.int32
                )
                nat = np.zeros(64, np.int32)
                nat[_ZIGZAG] = tbl
                qt[tq] = nat
                p += 65
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise UnsupportedMediaError(
                f"JPEG SOF{marker - 0xC0}: only baseline SOF0 is supported"
            )
        elif marker == 0xC0:  # SOF0
            prec = payload[body]
            if prec != 8:
                raise UnsupportedMediaError(f"{prec}-bit JPEG precision")
            height, width = struct.unpack_from(">HH", payload, body + 1)
            nc = payload[body + 5]
            comps = []
            for i in range(nc):
                cid = payload[body + 6 + 3 * i]
                hv = payload[body + 7 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                     "tq": payload[body + 8 + 3 * i]}
                )
        elif marker == 0xC4:  # DHT
            p = body
            while p < end:
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = list(payload[p + 17 : p + 17 + n])
                m = _huff_decode_map(bits, vals)
                (dc_maps if tc == 0 else ac_maps)[th] = m
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", payload, body)
        elif marker == 0xDA:  # SOS
            ns = payload[body]
            scan_comps = []
            for i in range(ns):
                cs = payload[body + 1 + 2 * i]
                tt = payload[body + 2 + 2 * i]
                comp = next(c for c in comps if c["id"] == cs)
                scan_comps.append(
                    {**comp, "dc": tt >> 4, "ac": tt & 0x0F}
                )
            data_start = end
            break
        pos = end
    if data_start < 0 or not comps:
        raise ValueError("JPEG missing SOF/SOS")
    if len(scan_comps) != len(comps):
        # The decoder assumes ONE interleaved scan covering every frame
        # component; a multi-scan baseline JPEG (each component in its
        # own SOS) would otherwise decode the first scan as if it were
        # all three and emit garbage pixels.
        raise UnsupportedMediaError(
            f"multi-scan baseline JPEG not supported: first SOS covers "
            f"{len(scan_comps)} of {len(comps)} frame components"
        )

    hmax = max(c["h"] for c in scan_comps)
    vmax = max(c["v"] for c in scan_comps)
    if hmax > 2 or vmax > 2:
        raise UnsupportedMediaError("sampling factors above 2 not supported")
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), np.float64)
        for c in scan_comps
    ]
    rd = _BitReader(payload, data_start)
    pred = [0] * len(scan_comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                # byte-align and consume the RSTn marker
                while rd.data[rd.pos] != 0xFF or not (
                    0xD0 <= rd.data[rd.pos + 1] <= 0xD7
                ):
                    rd.pos += 1
                rd.sync_restart()
                pred = [0] * len(scan_comps)
            for ci, c in enumerate(scan_comps):
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        try:
                            zz = _decode_block(
                                rd, dc_maps[c["dc"]], ac_maps[c["ac"]]
                            )
                        except _RestartMarker:
                            rd.sync_restart()
                            pred = [0] * len(scan_comps)
                            zz = _decode_block(
                                rd, dc_maps[c["dc"]], ac_maps[c["ac"]]
                            )
                        pred[ci] += int(zz[0])
                        zz[0] = pred[ci]
                        nat = np.zeros(64, np.int64)
                        nat[_ZIGZAG] = zz
                        block = (nat.reshape(8, 8) * q.reshape(8, 8)).astype(
                            np.float64
                        )
                        pix = _DCT_M.T @ block @ _DCT_M
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1

    full = []
    for ci, c in enumerate(scan_comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:height, :width] + 128.0)
    if len(full) == 1:
        g = np.clip(np.floor(full[0] + 0.5), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


def encode_jpeg_baseline(img: np.ndarray, quality: int = 50) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes (4:4:4, Annex K quant
    tables scaled by libjpeg's quality formula, Annex K huffman tables).
    Quantization is sign·floor(|F|/q + 0.5) — round-half-away — so test
    oracles can mirror the arithmetic exactly."""
    img = np.asarray(img, np.uint8).astype(np.float64)
    h, w = img.shape[:2]
    r, g, b = img[..., 0], img[..., 1], img[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b

    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    def scaled(t: np.ndarray) -> np.ndarray:
        return np.clip((t * scale + 50) // 100, 1, 255).astype(np.int32)

    qy, qc = scaled(_Q_LUM), scaled(_Q_CHROM)
    dc_lum = _huff_codes(*_HUFF_DC_LUM)
    ac_lum = _huff_codes(*_HUFF_AC_LUM)
    dc_chr = _huff_codes(*_HUFF_DC_CHROM)
    ac_chr = _huff_codes(*_HUFF_AC_CHROM)

    bw = _BitWriter()
    pred = [0, 0, 0]
    blocksy = -(-h // 8)
    blocksx = -(-w // 8)
    padded = []
    for plane in (y, cb, cr):
        p = np.zeros((blocksy * 8, blocksx * 8))
        p[:h, :w] = plane
        if h < p.shape[0]:
            p[h:, :w] = plane[-1:, :]
        if w < p.shape[1]:
            p[:, w:] = p[:, w - 1 : w]
        padded.append(p)

    def category(v: int) -> int:
        return int(v).bit_length() if v > 0 else int(-v).bit_length()

    def emit(v: int, s: int) -> None:
        if s:
            bits = v if v > 0 else v + (1 << s) - 1
            bw.write(bits, s)

    for by in range(blocksy):
        for bx in range(blocksx):
            for ci in range(3):
                q = qy if ci == 0 else qc
                dc_t = dc_lum if ci == 0 else dc_chr
                ac_t = ac_lum if ci == 0 else ac_chr
                block = padded[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                fcoef = _DCT_M @ block @ _DCT_M.T
                ratio = np.abs(fcoef) / q.reshape(8, 8)
                coef = (np.sign(fcoef) * np.floor(ratio + 0.5)).astype(np.int64)
                zz = coef.reshape(-1)[_ZIGZAG]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                s = category(diff)
                bw.write(*dc_t[s])
                emit(diff, s)
                k = 1
                run = 0
                nz = np.nonzero(zz[1:])[0]
                last = (nz[-1] + 1) if len(nz) else 0
                while k <= last:
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                    else:
                        while run > 15:
                            bw.write(*ac_t[0xF0])
                            run -= 16
                        s = category(v)
                        bw.write(*ac_t[(run << 4) | s])
                        emit(v, s)
                        run = 0
                    k += 1
                if last < 63:
                    bw.write(*ac_t[0x00])  # EOB
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dqt(tid: int, t: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(t.reshape(-1)[_ZIGZAG].tolist()))

    def dht(tc: int, th: int, spec) -> bytes:
        bits, vals = spec
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    sof = seg(
        0xC0,
        bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
        + bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1]),
    )
    sos = seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    )
    return (
        b"\xff\xd8" + app0 + dqt(0, qy) + dqt(1, qc)
        + dht(0, 0, _HUFF_DC_LUM) + dht(1, 0, _HUFF_AC_LUM)
        + dht(0, 1, _HUFF_DC_CHROM) + dht(1, 1, _HUFF_AC_CHROM)
        + sof + sos + scan + b"\xff\xd9"
    )


def decode_image(payload: bytes) -> np.ndarray:
    """Dispatch image decode by magic bytes; UnsupportedMediaError names
    the exact codec gap (JPEG) for formats needing an external codec."""
    kind = sniff(payload)
    if kind == "bmp":
        return decode_bmp(payload)
    if kind in ("ppm", "pgm"):
        return decode_pnm(payload)
    if kind == "png":
        return decode_png(payload)
    if kind == "jpeg":
        return decode_jpeg(payload)
    raise ValueError("payload is not a recognized image format")


def audio_stats_real(payload: bytes) -> tuple[int, int, float, int, int]:
    """WAV payload → (n_samples, sample_rate, rms, zero_crossings,
    dominant_freq_hz): the scalar signal statistics an audio-corpus
    curation pass filters on (silence/clipping via RMS, noisiness via
    zero-crossing count, tonal content via the spectral peak).

    - ``rms`` is computed in float64 over the decoded [-1, 1] samples.
    - ``zero_crossings`` counts sign transitions between consecutive
      samples with the x > 0 predicate (a 0 sample counts as
      non-positive), i.e. ``sum((x[n] > 0) != (x[n+1] > 0))``.
    - ``dominant_freq_hz`` is the argmax of ``|rfft(x)|`` excluding the
      DC bin, converted to Hz and rounded to the nearest integer bin.
    """
    x, rate = decode_wav(payload)
    n = len(x)
    if n == 0:
        return 0, rate, 0.0, 0, 0
    x64 = x.astype(np.float64)
    rms = float(np.sqrt(np.mean(x64 * x64)))
    pos = x64 > 0.0
    zc = int(np.count_nonzero(pos[1:] != pos[:-1]))
    if n >= 2:
        spec = np.abs(np.fft.rfft(x64))
        k = int(np.argmax(spec[1:])) + 1
        dom = int(round(k * rate / n))
    else:
        dom = 0
    return n, rate, rms, zc, dom


def decode_features_real(payload: bytes, dim: int) -> np.ndarray:
    """Real (non-stub) feature extraction for any supported payload."""
    kind = sniff(payload)
    if kind in ("bmp", "ppm", "pgm", "png", "jpeg"):
        return image_features(decode_image(payload), dim)
    if kind == "wav":
        x, _rate = decode_wav(payload)
        return audio_features(x, dim)
    raise UnsupportedMediaError(
        "unrecognized media payload; real decode supports "
        "BMP/PPM/PGM/PNG/JPEG/WAV"
    )
