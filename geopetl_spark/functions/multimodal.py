"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, mapInPandas
signatures, partition sizing, per-row poison capture) wraps REAL codecs
implemented from public format specs with stdlib + numpy only (no
image/audio libraries ship in this container):

* **PNG** (:func:`_decode_png`): zlib-inflated IDAT + per-scanline
  un-filtering (None/Sub/Up/Average/Paeth, the five filters of the PNG
  spec), 8-bit gray/gray+alpha/RGB/RGBA, non-interlaced. Interlaced or
  16-bit images raise ``NotImplementedError`` (captured per row).
* **netpbm** (:func:`_decode_ppm`): binary P5 (PGM) / P6 (PPM), maxval
  ≤ 255 — the classic trivially-parseable raster format.
* **WAV** (:func:`decode_audio`): PCM via the stdlib ``wave`` module +
  numpy ``frombuffer``.
* **BMP** (:func:`_bmp_pixels`, round 6): uncompressed BI_RGB —
  8-bit palette / 24-bit BGR / 32-bit BGRX, bottom-up and top-down rows,
  4-byte stride padding; byte-exact against Java ImageIO. RLE/bitfield
  compressions raise ``NotImplementedError`` per row.
* **GIF** (:func:`_gif_pixels`, round 6): GIF87a/89a first frame —
  variable-width LZW (spec appendix F), global/local palettes, 4-pass
  interlace; BYTE-EXACT against Java ImageIO on real-world samples
  (LZW is lossless, so exact equality is the bar). Animated GIFs yield
  their first frame (one representative raster per blob).
* **FIMG fake container** (:func:`make_fake_image`): the deterministic
  test codec — kept so plumbing tests never depend on codec details:
  magic b'FIMG' | width:uint16 BE | height:uint16 BE | payload bytes
  (pixel i = payload[i % len(payload)]).

* **JPEG, baseline AND progressive** (:mod:`geopetl_spark.functions.jpeg`,
  round 6): marker parse + canonical Huffman + per-component coefficient
  accumulation across scans (progressive spectral selection + successive
  approximation, T.81 G.2) + batched exact float IDCT + 4:2:0/4:2:2
  chroma upsampling + YCbCr→RGB, from the public ITU-T T.81 spec;
  validated against Java ImageIO (Spark's image source) on Spark's own
  mllib sample JPEGs — baseline to mean |diff| < 0.7 gray levels,
  progressive to max diff ≤ 1. Arithmetic-coded / 12-bit / CMYK frames
  raise ``NotImplementedError`` (captured per row, never a partition
  kill); video likewise.

geopetl parity: binary payloads map to the reference's LOB columns
(BLOB/CLOB handling via output type handler, /root/reference/geopetl/
oracle_sde.py:1114-1129, LOB-last ordering oracle_sde.py:861-865); the
"decode in Arrow batches, never per-row-UDF" rule is the north rule's
no-per-row-Python applied to media.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FAKE_MAGIC = b"FIMG"

_MAGIC_MIME = {
    b"FIMG": "image/x-fake",
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",
    b"GIF8": "image/gif",
    b"BM": "image/bmp",
    b"P5": "image/x-portable-graymap",
    b"P6": "image/x-portable-pixmap",
}


def make_fake_image(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic fake image blob for tests/benchmarks."""
    payload = bytes((seed * 31 + i * 7) % 256 for i in range(min(width * height, 256)))
    return FAKE_MAGIC + struct.pack(">HH", width, height) + payload


def attach_blob_metadata(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Typed metadata columns from the binary payload — pure column
    expressions (size, magic sniff → mime), no Python."""
    b = F.col(blob_col)
    mime = F.lit("application/octet-stream")
    for magic, m in _MAGIC_MIME.items():
        hexs = magic.hex()
        mime = F.when(F.hex(F.substring(b, 1, len(magic))) == hexs.upper(), F.lit(m)).otherwise(mime)
    return df.withColumn("blob_size", F.length(b).cast("long")).withColumn("blob_mime", mime)


# --------------------------------------------------------------- codecs


def _decode_fake(blob: bytes) -> tuple[int, int, float]:
    """The deterministic FIMG test codec. Returns (width, height, mean)."""
    w, h = struct.unpack(">HH", blob[4:8])
    payload = blob[8:]
    mean = (sum(payload) / len(payload)) if payload else 0.0
    return w, h, mean


def _parse_ppm_header(blob: bytes) -> tuple[int, int, int, int]:
    """Parse a binary netpbm header → (width, height, channels, payload
    offset). Shared by decode and resize so both read the raster at the
    HEADER offset (never a from-the-end slice, which trailing bytes some
    netpbm writers append would silently shift)."""
    pos = 2
    vals: list[int] = []
    n = len(blob)
    while len(vals) < 3:
        while pos < n and blob[pos : pos + 1].isspace():
            pos += 1
        if pos < n and blob[pos : pos + 1] == b"#":  # comment to end-of-line
            while pos < n and blob[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < n and not blob[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated netpbm header")
        vals.append(int(blob[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = vals
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    return w, h, (3 if blob[:2] == b"P6" else 1), pos


def _decode_ppm(blob: bytes) -> tuple[int, int, float]:
    """Binary netpbm: P6 (RGB) / P5 (gray), 8-bit maxval."""
    import numpy as np

    w, h, channels, pos = _parse_ppm_header(blob)
    need = w * h * channels
    data = blob[pos : pos + need]
    if len(data) < need:
        raise ValueError(f"truncated netpbm payload: {len(data)} < {need}")
    mean = float(np.frombuffer(data, dtype=np.uint8).mean()) if need else 0.0
    return w, h, mean


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int, stride: int | None = None):
    """Reverse the PNG scanline filters (spec §9): each scanline is one
    filter-type byte + ``stride`` filtered bytes (``width*bpp`` unless the
    pixels are sub-byte packed, i.e. palette depth < 8). Sequential by
    construction (Up/Average/Paeth reference the prior row) — vectorized
    within a row."""
    import numpy as np

    if stride is None:
        stride = width * bpp
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).astype(np.int32)
        pos += stride + 1
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: left-dependent scan
            cur = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _png_pixels(blob: bytes):
    """Non-interlaced PNG → (h, w, c) uint8 pixel array, from the public
    spec: chunk walk (stops at IEND — bytes trailing a valid stream are
    ignored, matching every mainstream decoder) → IHDR geometry →
    concatenated IDAT inflate → scanline un-filter → palette expansion.

    Supported: 8-bit gray / gray+alpha / RGB / RGBA (color types 0/2/4/6)
    and palette (type 3) at depths 1/2/4/8 expanded through PLTE to RGB.
    16-bit / interlaced raise NotImplementedError (honest boundary);
    malformed data raises ValueError (poison row)."""
    import numpy as np

    if blob[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos = 8
    width = height = None
    bit_depth = color_type = None
    idat = bytearray()
    plte = None
    n = len(blob)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if interlace != 0:
                raise NotImplementedError("interlaced PNG not supported")
            if color_type in (0, 2, 4, 6):
                if bit_depth != 8:
                    raise NotImplementedError(f"PNG bit depth {bit_depth} not supported")
            elif color_type == 3:
                if bit_depth not in (1, 2, 4, 8):
                    raise ValueError(f"invalid palette bit depth {bit_depth}")
            else:
                raise NotImplementedError(f"PNG color type {color_type} not supported")
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + CRC
    if width is None:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    samples = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = (width * samples * bit_depth + 7) // 8
    bpp = max(1, (samples * bit_depth) // 8)  # filter unit, spec §9
    raw = zlib.decompress(bytes(idat))
    rows = _png_unfilter(raw, width, height, bpp, stride=stride)
    if color_type != 3:
        return rows.reshape(height, width, samples)
    # palette: unpack sub-byte indices (MSB-first per spec), then look up
    if plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    if bit_depth == 8:
        idx = rows
    elif bit_depth == 4:
        idx = np.repeat(rows, 2, axis=1)
        idx[:, 0::2] >>= 4
        idx[:, 1::2] &= 0x0F
    elif bit_depth == 2:
        idx = np.repeat(rows, 4, axis=1)
        for k, shift in enumerate((6, 4, 2, 0)):
            idx[:, k::4] = (idx[:, k::4] >> shift) & 0x03
    else:  # 1-bit
        idx = np.unpackbits(rows, axis=1)
    idx = idx[:, :width]
    if int(idx.max(initial=0)) >= len(plte):
        raise ValueError("palette index out of range")
    return plte[idx]  # (h, w, 3)


def _decode_png(blob: bytes) -> tuple[int, int, float]:
    """PNG metadata decode: (width, height, mean over all channels)."""
    px = _png_pixels(blob)
    h, w = px.shape[:2]
    return w, h, float(px.mean()) if px.size else 0.0


def _gif_lzw(data: bytes, min_code: int, n_pixels: int):
    """GIF LZW decompression (spec appendix F, public GIF89a spec):
    variable-width codes LSB-first, clear/end codes, dictionary rebuilt on
    clear. Pure Python over the (small, per-image) byte stream."""
    clear = 1 << min_code
    end = clear + 1
    out = bytearray()
    # bit reader: GIF packs codes least-significant-bit first
    bitpos = 0
    total_bits = len(data) * 8

    def read(width):
        nonlocal bitpos
        if bitpos + width > total_bits:
            raise ValueError("truncated GIF LZW stream")
        v = 0
        for i in range(width):
            byte = data[(bitpos + i) >> 3]
            v |= ((byte >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        return v

    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code + 1

    width = min_code + 1
    reset()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = read(width)
        if code == clear:
            reset()
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("invalid GIF LZW code")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF pixel data ended early")
    return bytes(out[:n_pixels])


def _gif_pixels(blob: bytes):
    """GIF87a/89a first frame → (h, w, 3) uint8 via the public spec:
    logical screen descriptor + global color table, extension skip, image
    descriptor (local palette + interlace), LZW decode, palette lookup.
    Animated GIFs yield their FIRST frame (the corpus-curation contract:
    one representative raster per blob)."""
    import numpy as np

    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(blob) < 13:
        raise ValueError("truncated GIF header")
    sw, sh, flags, bg, _ar = struct.unpack("<HHBBB", blob[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(blob[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        if len(gct) < n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(blob) and blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            if pos + 10 > len(blob):
                raise ValueError("truncated GIF image descriptor")
            _l, _t, w, h, iflags = struct.unpack("<HHHHB", blob[pos + 1 : pos + 10])
            pos += 10
            pal = gct
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 7)
                pal = np.frombuffer(blob[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
                if len(pal) < n:
                    raise ValueError("truncated GIF local color table")
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF image has no color table")
            if pos >= len(blob):
                raise ValueError("truncated GIF image data")
            min_code = blob[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                raise ValueError("invalid GIF LZW minimum code size")
            chunks = []
            while pos < len(blob) and blob[pos] != 0:
                ln = blob[pos]
                chunks.append(blob[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = np.frombuffer(_gif_lzw(b"".join(chunks), min_code, w * h), dtype=np.uint8)
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("GIF palette index out of range")
            px = pal[idx].reshape(h, w, 3)
            if iflags & 0x40:  # interlaced: 4-pass row order (spec app. E)
                order = np.concatenate(
                    [np.arange(0, h, 8), np.arange(4, h, 8), np.arange(2, h, 4), np.arange(1, h, 2)]
                )
                out = np.empty_like(px)
                out[order] = px
                px = out
            return px
        elif b0 == 0x3B:  # trailer before any image
            raise ValueError("GIF has no image data")
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    raise ValueError("GIF ended before image data")


def _decode_gif(blob: bytes) -> tuple[int, int, float]:
    px = _gif_pixels(blob)
    h, w = px.shape[:2]
    return w, h, float(px.mean()) if px.size else 0.0


def _bmp_pixels(blob: bytes):
    """Uncompressed Windows BMP (BITMAPINFOHEADER, BI_RGB) → (h, w, 3)
    uint8, from the public format: 14-byte file header + 40-byte info
    header, bottom-up rows (top-down when height < 0) padded to 4 bytes,
    8-bit palette / 24-bit BGR / 32-bit BGRX. RLE and bitfield
    compressions raise ``NotImplementedError`` (captured per row)."""
    import numpy as np

    if blob[:2] != b"BM" or len(blob) < 54:
        raise ValueError("not a BMP / truncated header")
    data_off = struct.unpack("<I", blob[10:14])[0]
    hdr_size = struct.unpack("<I", blob[14:18])[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h_raw = struct.unpack("<ii", blob[18:26])
    planes, bpp = struct.unpack("<HH", blob[26:30])
    comp = struct.unpack("<I", blob[30:34])[0]
    if comp != 0:
        raise NotImplementedError(f"BMP compression {comp} (RLE/bitfields) not supported")
    if bpp not in (8, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP not supported")
    if w <= 0 or h_raw == 0:
        raise ValueError("bad BMP dimensions")
    top_down = h_raw < 0
    h = abs(h_raw)
    pal = None
    if bpp == 8:
        n_colors = struct.unpack("<I", blob[46:50])[0] or 256
        pstart = 14 + hdr_size
        pal = np.frombuffer(blob[pstart : pstart + 4 * n_colors], dtype=np.uint8)
        if len(pal) < 4 * n_colors:
            raise ValueError("truncated BMP palette")
        pal = pal.reshape(-1, 4)[:, [2, 1, 0]]  # BGRX -> RGB
    stride = ((w * bpp // 8) + 3) & ~3
    need = stride * h
    raw = blob[data_off : data_off + need]
    if len(raw) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    if bpp == 8:
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        px = pal[idx]
    else:
        c = bpp // 8
        px = rows[:, : w * c].reshape(h, w, c)[:, :, [2, 1, 0]]  # BGR(X) -> RGB
    if not top_down:
        px = px[::-1]
    return np.ascontiguousarray(px)


def _decode_bmp(blob: bytes) -> tuple[int, int, float]:
    px = _bmp_pixels(blob)
    h, w = px.shape[:2]
    return w, h, float(px.mean()) if px.size else 0.0


def _decode_image_bytes(blob: bytes | None) -> tuple[int, int, float]:
    """THE CODEC BOUNDARY (real, round 5 — was the stub): dispatch on magic
    to the pure-numpy decoders above. Returns (width, height, mean_pixel);
    NotImplementedError for formats outside the implemented set (JPEG/GIF),
    ValueError for corrupt payloads — both captured PER ROW by the callers,
    never a partition kill."""
    if blob is None or len(blob) < 8:
        raise ValueError("empty or undersized blob")
    if blob[:4] == FAKE_MAGIC:
        return _decode_fake(blob)
    if blob[:8] == _PNG_SIG:
        return _decode_png(blob)
    if blob[:2] in (b"P5", b"P6"):
        return _decode_ppm(blob)
    if blob[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        px = decode_jpeg(blob)
        h, w = px.shape[:2]
        return w, h, float(px.mean()) if px.size else 0.0
    if blob[:4] == b"GIF8":
        return _decode_gif(blob)
    if blob[:2] == b"BM":
        return _decode_bmp(blob)
    raise NotImplementedError(
        f"no decoder for magic {blob[:4]!r} (PNG, JPEG, GIF, BMP, P5/P6 netpbm, FIMG supported)"
    )


def encode_ppm(pixels, channels: int | None = None) -> bytes:
    """Encode a (h, w) or (h, w, c) uint8 array as binary netpbm — the
    engine's canonical re-encode target (resize output). ``channels``, if
    given, must match the array's channel count (it never overrides it)."""
    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    if c not in (1, 3):
        raise ValueError(f"netpbm supports 1 or 3 channels, got {c}")
    if channels is not None and channels != c:
        raise ValueError(f"channels={channels} does not match array shape {a.shape}")
    magic = b"P6" if c == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


DECODE_SCHEMA = "id long, width int, height int, mean_pixel double, decode_error string"


def decode_images(df: DataFrame, blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """Arrow-batched decode via mapInPandas: one pandas batch in, one typed
    metadata batch out. Errors are captured per row (a poisoned blob must
    not kill the partition — the 100 TB rule)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "width": [], "height": [], "mean_pixel": [], "decode_error": []}
            for i, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    w, h, m = _decode_image_bytes(bytes(blob) if blob is not None else None)
                    out["id"].append(i); out["width"].append(w)
                    out["height"].append(h); out["mean_pixel"].append(m)
                    out["decode_error"].append(None)
                except Exception as e:  # poison-row capture, incl. zlib.error
                    out["id"].append(i); out["width"].append(None)
                    out["height"].append(None); out["mean_pixel"].append(None)
                    out["decode_error"].append(f"{type(e).__name__}: {str(e)[:60]}")
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(run, schema=DECODE_SCHEMA)


AUDIO_SCHEMA = (
    "id long, n_channels int, sample_rate int, n_samples long, "
    "mean_abs_amplitude double, decode_error string"
)


def decode_audio(df: DataFrame, blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """PCM WAV decode (stdlib ``wave`` + numpy), Arrow-batched, per-row
    poison capture — the audio leg of the multimodal surface."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in batches:
            out = {
                "id": [], "n_channels": [], "sample_rate": [], "n_samples": [],
                "mean_abs_amplitude": [], "decode_error": [],
            }
            for i, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    with wave.open(io.BytesIO(bytes(blob)), "rb") as wf:
                        nch, sw, rate, nfr = (
                            wf.getnchannels(), wf.getsampwidth(), wf.getframerate(), wf.getnframes(),
                        )
                        frames = wf.readframes(nfr)
                    dt = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sw)
                    if dt is None:
                        raise NotImplementedError(f"sample width {sw} not supported")
                    samples = np.frombuffer(frames, dtype=dt).astype(np.float64)
                    if sw == 1:
                        samples -= 128.0  # 8-bit WAV is unsigned
                    mean_abs = float(np.abs(samples).mean()) if samples.size else 0.0
                    out["id"].append(i); out["n_channels"].append(nch)
                    out["sample_rate"].append(rate); out["n_samples"].append(nfr)
                    out["mean_abs_amplitude"].append(mean_abs)
                    out["decode_error"].append(None)
                except Exception as e:
                    out["id"].append(i); out["n_channels"].append(None)
                    out["sample_rate"].append(None); out["n_samples"].append(None)
                    out["mean_abs_amplitude"].append(None)
                    out["decode_error"].append(f"{type(e).__name__}: {str(e)[:60]}")
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(run, schema=AUDIO_SCHEMA)


AUDIO_FEATURE_SCHEMA = (
    "id long, duration_sec double, rms double, zero_crossing_rate double, "
    "spectral_centroid_hz double, decode_error string"
)


def audio_features(df: DataFrame, blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """Per-clip audio features for corpus curation — the audio analog of
    the image quality stats: duration, RMS level (silence/clipping
    filters), zero-crossing rate (voiced-vs-noise heuristic), and spectral
    centroid via numpy rFFT (brightness; a one-line quality proxy for
    band-limited or resampled junk). PCM WAV in (stdlib ``wave``),
    Arrow-batched, per-row poison capture like every codec here; channels
    are averaged to mono before analysis (curation features, not
    production DSP). All numpy — no audio libraries, no per-row Python
    beyond the batch loop."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in batches:
            out = {
                "id": [], "duration_sec": [], "rms": [], "zero_crossing_rate": [],
                "spectral_centroid_hz": [], "decode_error": [],
            }
            for i, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    with wave.open(io.BytesIO(bytes(blob)), "rb") as wf:
                        nch, sw, rate, nfr = (
                            wf.getnchannels(), wf.getsampwidth(), wf.getframerate(), wf.getnframes(),
                        )
                        frames = wf.readframes(nfr)
                    dt = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sw)
                    if dt is None:
                        raise NotImplementedError(f"sample width {sw} not supported")
                    x = np.frombuffer(frames, dtype=dt).astype(np.float64)
                    if sw == 1:
                        x -= 128.0
                    if nch > 1:
                        x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(axis=1)
                    dur = nfr / rate if rate else 0.0
                    if x.size == 0:
                        rms = zcr = cen = 0.0
                    else:
                        rms = float(np.sqrt((x * x).mean()))
                        zcr = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if x.size > 1 else 0.0
                        mag = np.abs(np.fft.rfft(x))
                        freqs = np.fft.rfftfreq(x.size, d=1.0 / rate) if rate else np.zeros(mag.size)
                        tot = mag.sum()
                        cen = float((freqs * mag).sum() / tot) if tot > 0 else 0.0
                    out["id"].append(i); out["duration_sec"].append(dur)
                    out["rms"].append(rms); out["zero_crossing_rate"].append(zcr)
                    out["spectral_centroid_hz"].append(cen)
                    out["decode_error"].append(None)
                except Exception as e:
                    out["id"].append(i); out["duration_sec"].append(None)
                    out["rms"].append(None); out["zero_crossing_rate"].append(None)
                    out["spectral_centroid_hz"].append(None)
                    out["decode_error"].append(f"{type(e).__name__}: {str(e)[:60]}")
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


def resize_images(
    df: DataFrame, target_w: int, target_h: int, blob_col: str = "blob", id_col: str = "id"
) -> DataFrame:
    """Real nearest-neighbor resize: decode any supported format to pixels,
    index-sample to (target_h, target_w), re-encode as binary netpbm.
    Undecodable rows emit NULL blobs (poison capture). FIMG fakes resize
    by re-encoding at the target geometry (deterministic test path)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def px_of(blob: bytes):
            if blob[:8] == _PNG_SIG:
                # one shared decode path with decode_images (same chunk walk,
                # same IEND stop, same poison behavior), then collapse alpha
                px = _png_pixels(blob)
                c = px.shape[2]
                return px[:, :, :3] if c >= 3 else px[:, :, :1]
            if blob[:2] in (b"P5", b"P6"):
                w, h, c, pos = _parse_ppm_header(blob)
                need = w * h * c
                data = blob[pos : pos + need]
                if len(data) < need:
                    raise ValueError("truncated netpbm payload")
                return np.frombuffer(data, dtype=np.uint8).reshape(h, w, c)
            if blob[:2] == b"\xff\xd8":
                from .jpeg import decode_jpeg

                px = decode_jpeg(blob)
                return px if px.ndim == 3 else px[:, :, None]
            if blob[:4] == b"GIF8":
                return _gif_pixels(blob)
            if blob[:2] == b"BM":
                return _bmp_pixels(blob)
            raise NotImplementedError("resize supports PNG, JPEG, GIF, BMP, and netpbm payloads")

        for pdf in batches:
            blobs = []
            for blob in pdf[blob_col]:
                try:
                    b = bytes(blob)
                    if b[:4] == FAKE_MAGIC:
                        _w, _h, m = _decode_fake(b)
                        blobs.append(make_fake_image(target_w, target_h, seed=int(m)))
                        continue
                    px = px_of(b)
                    h, w = px.shape[:2]
                    yi = (np.arange(target_h) * h) // target_h
                    xi = (np.arange(target_w) * w) // target_w
                    blobs.append(encode_ppm(px[yi][:, xi], channels=px.shape[2]))
                except Exception:
                    blobs.append(None)
            yield pd.DataFrame({"id": pdf[id_col], "blob": blobs})

    return df.select(id_col, blob_col).mapInPandas(run, schema="id long, blob binary")


def frame_sample_stub(df: DataFrame, every_n: int = 10, blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """Video frame-sampling plumbing: emits one row per sampled 'frame'
    (1:N row fan-out through mapInPandas — the shape a real decoder needs).
    Still a stub: no public-spec video container is decodable with stdlib
    + numpy alone (entropy coding); the fan-out shape and poison capture
    are the tested contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, offs = [], [], []
            for i, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    b = bytes(blob) if blob is not None else None
                    if b is None or b[:4] != FAKE_MAGIC:
                        raise NotImplementedError("frame sampling: FIMG container only")
                    _w, _h, _ = _decode_fake(b)
                    n_frames = max((len(b) - 8) // max(every_n, 1), 1)
                    for f in range(n_frames):
                        ids.append(i); frames.append(f); offs.append(8 + f * every_n)
                except (NotImplementedError, ValueError, struct.error):
                    continue
            yield pd.DataFrame({"id": ids, "frame_no": frames, "byte_offset": offs})

    return df.select(id_col, blob_col).mapInPandas(run, schema="id long, frame_no int, byte_offset long")
