"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode/resize/frame-sample run as Arrow-batched ``mapInPandas`` stages.
``real_decode=True`` parses REAL containers with pure-stdlib decoders —
PPM (P6), uncompressed BMP, PNG (zlib inflate + full scanline
unfiltering), GIF (variable-width LZW, interlaced too), and JPEG — BOTH
baseline sequential and progressive (T.81 Annex G: spectral selection +
successive approximation), Huffman + dequant + IDCT + YCbCr — and
surfaces every other variant as a per-row ValueError in the error column: that
error path is exactly where a PIL/opencv decoder would plug in on a
cluster that has them (this container does not). ``real_decode=False``
keeps the deterministic md5 fake used by the SQL-oracled plumbing
checks.
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .batch import map_payloads

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes long, "
    "width int, height int, n_frames int, feature array<float>, error string"
)


def _media_table(df: DataFrame, text_col: str, kind: str, payload, mime: str) -> DataFrame:
    """(media_id, kind, payload, mime, n_bytes) rows, keyed by md5(text)."""
    return df.select(
        F.md5(F.col(text_col)).alias("media_id"),
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
        F.lit(mime).alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def _padded_bytes(text_col: str, n: int):
    """The first n chars of the text, space-padded, as bytes."""
    return F.encode(F.substring(F.rpad(F.col(text_col), n, " "), 1, n), "UTF-8")


def attach_media(df: DataFrame, text_col: str = "text", kind: str = "image") -> DataFrame:
    """Derive a deterministic binary payload column from text (test/bench
    stand-in for real blob columns)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return _media_table(df, text_col, kind, payload, "application/octet-stream")


#: generated-PPM geometry for the real-decode test path
PPM_W, PPM_H = 8, 4
_PPM_HEADER = f"P6\n{PPM_W} {PPM_H}\n255\n"


def attach_ppm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic REAL image payloads: a valid binary PPM (P6) whose
    raster bytes are the first w·h·3 chars of the (space-padded) text —
    all-ASCII corpus, so byte k == ascii(char k) and the DuckDB oracle
    reconstructs every decoded feature from the text column alone."""
    pixels = _padded_bytes(text_col, PPM_W * PPM_H * 3)
    payload = F.concat(F.encode(F.lit(_PPM_HEADER), "UTF-8"), pixels)
    return _media_table(df, text_col, "image", payload, "image/x-portable-pixmap")


def _raster_feature(raster: bytes, maxval: int = 255) -> list:
    """8-band mean-intensity feature over raw raster bytes: band i is
    the mean of bytes [i·n//8, (i+1)·n//8) normalized by maxval. One
    integer sum per band (exact) then a single double division — the
    DuckDB oracle reproduces the identical doubles."""
    n = len(raster)
    if n == 0:
        return [0.0] * 8
    feat = []
    for i in range(8):
        lo, hi = i * n // 8, (i + 1) * n // 8
        chunk = raster[lo:hi]
        feat.append(sum(chunk) / (len(chunk) * maxval) if chunk else 0.0)
    return feat


#: binary netpbm header: magic, optional #-comments, width height
#: maxval, one whitespace. An explicit whitespace class, NOT \s: the
#: decoder and probe_image_dims read every header with this one pattern.
_PPM_HEADER_RE = re.compile(
    rb"P([56])[ \t\r\n]+(?:#[^\n]*\n[ \t\r\n]*)*"
    rb"(\d+)[ \t\r\n]+(\d+)[ \t\r\n]+(\d+)[ \t\r\n]"
)


def _decode_ppm(payload: bytes):
    """Binary netpbm decoder (P6 RGB and P5 grayscale) — pure stdlib:
    the _PPM_HEADER_RE header, then w·h·(3|1) raw bytes."""
    m = _PPM_HEADER_RE.match(payload)
    if not m:
        raise ValueError("bad PPM header")
    depth = 3 if m.group(1) == b"6" else 1
    w, h, maxval = int(m.group(2)), int(m.group(3)), int(m.group(4))
    # maxval > 255 means TWO bytes per sample (big-endian) per the spec;
    # the one-byte reader below would silently mis-decode those, so
    # reject them into the error channel instead
    if w <= 0 or h <= 0 or not 0 < maxval < 256:
        raise ValueError("bad or unsupported PPM dimensions/maxval")
    need = w * h * depth
    raster = payload[m.end() : m.end() + need]
    if len(raster) < need:
        raise ValueError("truncated PPM raster")
    return (w, h, 1, _raster_feature(raster, maxval))


def _decode_bmp(payload: bytes):
    """Uncompressed (BI_RGB) BMP decoder — pure stdlib struct parsing
    of the BITMAPINFOHEADER; top-down bitmaps (negative height) are
    normalized."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("bad BMP header")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp, comp = struct.unpack_from("<HI", payload, 28)
    h = abs(h)
    if comp != 0:
        raise ValueError("compressed BMP unsupported")
    if w <= 0 or h == 0 or bpp not in (8, 24, 32):
        raise ValueError("unsupported BMP geometry")
    row_bytes = (w * bpp // 8 + 3) & ~3  # rows pad to 4-byte boundary
    need = row_bytes * h
    raster = payload[off : off + need]
    if len(raster) < need:
        raise ValueError("truncated BMP raster")
    # normalize to top-down pixel bytes WITHOUT the 4-byte row padding,
    # so band features are comparable with the PPM/PNG paths (BI_RGB
    # with positive height is stored bottom-up; padding bytes would
    # otherwise bias every band mean toward 0)
    data_bytes = w * bpp // 8
    top_down = struct.unpack_from("<i", payload, 22)[0] < 0
    rows = range(h) if top_down else range(h - 1, -1, -1)
    pixels = b"".join(
        raster[y * row_bytes : y * row_bytes + data_bytes] for y in rows
    )
    if bpp == 8:
        # 8-bit BMPs are palette-indexed: the color table (BGRX quads,
        # biClrUsed entries, 0 ⇒ 256) follows the info header — map
        # indices to their BGR triples like the 24-bit path's raw BGR
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
        pal_off = 14 + hdr_size
        palette = payload[pal_off : pal_off + 4 * n_colors]
        if len(palette) < 4 * n_colors:
            raise ValueError("truncated BMP palette")
        if any(i >= n_colors for i in pixels):
            raise ValueError("BMP index out of palette range")
        pixels = b"".join(palette[4 * i : 4 * i + 3] for i in pixels)
    return (w, h, 1, _raster_feature(pixels))


#: generated-WAV geometry for the real-decode audio path: 8-bit mono
#: PCM, 8 kHz, 96 samples — sample bytes are the (space-padded) text
#: bytes, so the DuckDB oracle reconstructs every decoded value from
#: the text column alone (same construction as attach_ppm).
WAV_SAMPLES = 96
WAV_RATE = 8000


def _wav_header(n_samples: int, rate: int = WAV_RATE) -> bytes:
    import struct

    data_len = n_samples  # 8-bit mono: one byte per sample
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_len)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate, 1, 8)
        + b"data"
        + struct.pack("<I", data_len)
    )


def attach_wav(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic REAL audio payloads: a valid 8-bit mono PCM WAV
    whose sample bytes are the first WAV_SAMPLES chars of the
    (space-padded) text — all-ASCII corpus, so the oracle reconstructs
    every decoded feature from the text column alone."""
    payload = F.concat(F.lit(_wav_header(WAV_SAMPLES)), _padded_bytes(text_col, WAV_SAMPLES))
    return _media_table(df, text_col, "audio", payload, "audio/wav")


def _decode_wav(payload: bytes):
    """RIFF/WAVE PCM decoder — pure stdlib chunk walk: fmt (PCM only,
    8- or 16-bit, any channel count) + data. Returns (n_samples,
    sample_rate, n_channels, feature) where the 8-band feature runs
    over the amplitude bytes (8-bit PCM is unsigned, so raw bytes ARE
    amplitudes; 16-bit uses the unsigned-shifted high bytes — the same
    mean-band math every other real decoder feeds _raster_feature).
    Compressed/float formats raise into the error column (the
    soundfile/librosa plug-in slot)."""
    import struct

    fmt = None
    for cid, body in _riff_form(payload, b"WAVE", "WAV"):
        clen = len(body)
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("truncated WAV fmt")
            audio_fmt, n_ch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_fmt != 1:
                raise ValueError("non-PCM WAV unsupported")
            if bits not in (8, 16) or n_ch == 0 or rate == 0:
                raise ValueError("unsupported WAV sample format")
            fmt = (n_ch, rate, bits)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("WAV data before fmt")
            n_ch, rate, bits = fmt
            bytes_per = bits // 8
            frame = bytes_per * n_ch
            n_samples = clen // frame
            if n_samples == 0:
                raise ValueError("empty WAV data")
            if bits == 8:
                amp = body[: n_samples * frame]
            else:
                # 16-bit PCM is signed little-endian: shift to unsigned
                # and keep the high byte (the amplitude envelope)
                amp = bytes(
                    (body[i + 1] + 128) & 0xFF
                    for i in range(0, n_samples * frame, 2)
                )
            return (n_samples, rate, n_ch, _raster_feature(amp))
    raise ValueError("WAV without data chunk")


#: pass-through columns of the media feature stages
_MEDIA_KEYS = ["media_id", "kind", "n_bytes"]

AUDIO_SCHEMA = (
    "media_id string, kind string, n_bytes long, "
    "n_samples int, sample_rate int, n_channels int, "
    "feature array<float>, error string"
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """mapInPandas stage: WAV payload → (sample geometry, 8-band
    amplitude feature). Same per-row error-column fault tolerance as
    the image path; map-only binary batches at any scale."""
    return map_payloads(
        df, _MEDIA_KEYS, _decode_wav,
        ["n_samples", "sample_rate", "n_channels", "feature"], AUDIO_SCHEMA,
    )


def _riff_form(payload: bytes, form: bytes, label: str):
    """The top-level chunks of a RIFF container with the given form
    tag, after checking its signature."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != form:
        raise ValueError(f"bad {label} signature")
    return _riff_chunks(payload, 12, label)


def _riff_chunks(data: bytes, pos: int, label: str):
    """Yield (fourcc, body) for the chunks laid end to end in ``data``
    from ``pos``, honoring word alignment — the one chunk walk of the
    WAV and AVI decoders, for the top level and LIST bodies alike."""
    import struct

    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError(f"truncated {label} chunk")
        yield cid, body
        # chunks are word-aligned: odd lengths carry one pad byte
        pos += 8 + clen + (clen & 1)


def _decode_avi_mjpeg(payload: bytes, every_n: int = 2, max_frames: int = 4):
    """AVI (RIFF) container walk + Motion-JPEG frame decode — pure
    stdlib on top of the repo's own JPEG decoder: 'hdrl'/'avih' gives
    the declared geometry and frame count, '00dc'/'00db' chunks inside
    'movi' carry per-frame JPEGs, and the frame-sampling schedule
    (every ``every_n``-th frame, at most ``max_frames`` — the same
    POLICY SHAPE sample_frame_indices exposes as a Column, with
    per-call parameters) picks which frames actually decode. Returns (width, height, n_frames,
    feature) with the 8-band feature over the CONCATENATED sampled
    frames' rasters. Non-JPEG streams / dim mismatches raise into the
    error column (the pyav/opencv plug-in slot)."""
    import struct

    n_frames = None
    aw = ah = None
    frames = []
    for cid, body in _riff_form(payload, b"AVI ", "AVI"):
        if cid != b"LIST" or body[:4] not in (b"hdrl", b"movi"):
            continue
        # descend: the list body after its type tag is chunks again
        for scid, sbody in _riff_chunks(body, 4, "AVI"):
            if scid == b"avih":
                if len(sbody) < 40:
                    raise ValueError("truncated AVI header")
                (n_frames,) = struct.unpack_from("<I", sbody, 16)
                aw, ah = struct.unpack_from("<II", sbody, 32)
            elif scid[2:4] in (b"dc", b"db"):
                frames.append(sbody)
    if n_frames is None:
        raise ValueError("AVI without avih header")
    if not frames:
        raise ValueError("AVI without frame data")
    picks = list(range(0, len(frames), max(every_n, 1)))[:max_frames]
    rasters = []
    w = h = None
    for j in picks:
        # ONE decode per frame: want="gray_raster" returns dims+pixels
        fw, fh, raster = _jpeg_gray_raster(frames[j])
        if w is None:
            w, h = fw, fh
        elif (fw, fh) != (w, h):
            raise ValueError("AVI frame dimension mismatch")
        rasters.append(raster)
    if aw and ah and (aw, ah) != (w, h):
        raise ValueError("AVI header/frame dimension mismatch")
    return (w, h, n_frames, _raster_feature(b"".join(rasters)))


def _jpeg_gray_raster(payload: bytes):
    """(w, h, raster bytes) of a GRAYSCALE JPEG — one decode yields
    both dims and pixels (helper for the MJPEG path)."""
    res = _decode_jpeg(payload, want="gray_raster")
    if res is None:
        raise ValueError("MJPEG frame is not grayscale")
    return res


def _png_unfilter(raw: bytes, p: int, width: int, height: int, channels: int):
    """Unfilter ``height`` scanlines of ``width`` pixels starting at
    offset ``p`` in the inflated stream (None/Sub/Up/Average/Paeth);
    returns (rows: list[bytearray], next offset)."""
    stride = width * channels
    if len(raw) - p < height * (stride + 1):
        raise ValueError("truncated PNG raster")
    rows = []
    prev = bytearray(stride)
    for _y in range(height):
        f = raw[p]
        p += 1
        line = bytearray(raw[p : p + stride])
        p += stride
        if f == 1:  # Sub
            for x in range(channels, stride):
                line[x] = (line[x] + line[x - channels]) & 0xFF
        elif f == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        rows.append(line)
        prev = line
    return rows, p


#: Adam7 pass geometry: (x0, y0, dx, dy)
_PNG_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _decode_png(payload: bytes):
    """PNG decoder on stdlib zlib alone: IHDR geometry, concatenated
    IDAT inflate, full scanline unfiltering (None/Sub/Up/Average/Paeth)
    for 8-bit gray/RGB(+alpha)/palette (PLTE-mapped), both sequential
    and Adam7-interlaced (each pass unfiltered as its own sub-image,
    pixels scattered back). Sub-byte depths raise (the PIL slot)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos = 8
    width = height = None
    channels = None
    palette = None
    idat = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        # declared length past the payload end = truncation; keep every
        # malformed-media failure on the documented ValueError channel
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            if length < 13:
                raise ValueError("truncated PNG IHDR")
            width, height, bitd, colort, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
            if bitd != 8 or interlace not in (0, 1) or colort not in (0, 2, 3, 4, 6):
                raise ValueError("unsupported PNG variant")
            # resource guard (same bound as the JPEG decoder): the
            # Adam7 path allocates the full-resolution grid up front,
            # so declared dims must be sane BEFORE any allocation
            if width * height > (1 << 24):
                raise ValueError("PNG too large for the pure-Python decoder")
            channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[colort]
            paletted = colort == 3
            adam7 = interlace == 1
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("bad PNG palette")
            palette = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + CRC
    if width is None or not idat:
        raise ValueError("truncated PNG")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if paletted and palette is None:
        raise ValueError("palette PNG without PLTE")

    def finish(raster: bytes):
        if paletted:
            n_colors = len(palette) // 3
            if any(i >= n_colors for i in raster):
                raise ValueError("PNG index out of palette range")
            raster = b"".join(palette[3 * i : 3 * i + 3] for i in raster)
        return (width, height, 1, _raster_feature(raster))

    if not adam7:
        rows, _ = _png_unfilter(raw, 0, width, height, channels)
        return finish(bytes(b"".join(rows)))
    # Adam7: each pass is filtered as an independent sub-image; scatter
    # its pixels into the full-resolution grid
    grid = [bytearray(width * channels) for _ in range(height)]
    p = 0
    for x0, y0, dx, dy in _PNG_ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        rows, p = _png_unfilter(raw, p, pw, ph, channels)
        for ry, line in enumerate(rows):
            y = y0 + ry * dy
            for rx in range(pw):
                x = x0 + rx * dx
                grid[y][x * channels : (x + 1) * channels] = line[
                    rx * channels : (rx + 1) * channels
                ]
    return finish(bytes(b"".join(grid)))


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW (variable width 3..12 bits, LSB-first, clear/end
    codes) — pure stdlib."""
    if not 2 <= min_code_size <= 8:
        raise ValueError("bad GIF LZW code size")
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits:
        byte_idx = bitpos >> 3
        chunk = int.from_bytes(data[byte_idx : byte_idx + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code_size + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise ValueError("corrupt GIF LZW stream")
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt GIF LZW stream")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        prev = entry
    return bytes(out)


def _decode_gif(payload: bytes):
    """GIF87a/89a decoder on the stdlib alone: logical screen, global/
    local color table, extension-block skipping, first frame's LZW
    index stream → palette-mapped RGB, including interlaced frames
    (the four-pass row shuffle of GIF89a Appendix E)."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("bad GIF signature")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    w, h = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 7)
        gct = payload[pos : pos + 3 * size]
        if len(gct) < 3 * size:
            raise ValueError("truncated GIF palette")
        pos += 3 * size
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: introducer + label, then sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            _ix, _iy, iw, ih = struct.unpack_from("<HHHH", payload, pos + 1)
            ipacked = payload[pos + 9]
            pos += 10
            interlaced = bool(ipacked & 0x40)
            ct = gct
            if ipacked & 0x80:
                size = 2 << (ipacked & 7)
                ct = payload[pos : pos + 3 * size]
                if len(ct) < 3 * size:
                    raise ValueError("truncated GIF palette")
                pos += 3 * size
            if ct is None:
                raise ValueError("GIF without color table")
            if pos >= len(payload):
                raise ValueError("truncated GIF data")
            min_code_size = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                n = payload[pos]
                block = payload[pos + 1 : pos + 1 + n]
                if len(block) < n:
                    raise ValueError("truncated GIF data")
                data += block
                pos += 1 + n
            if pos >= len(payload):
                raise ValueError("truncated GIF data")
            pos += 1  # block terminator
            if iw <= 0 or ih <= 0:
                raise ValueError("bad GIF frame geometry")
            idx = _gif_lzw_decode(bytes(data), min_code_size)
            if len(idx) < iw * ih:
                raise ValueError("truncated GIF raster")
            n_colors = len(ct) // 3
            if any(i >= n_colors for i in idx[: iw * ih]):
                raise ValueError("GIF index out of palette range")
            idx = idx[: iw * ih]
            if interlaced:
                # GIF89a Appendix E: rows arrive in 4 passes
                # (every 8th from 0, every 8th from 4, every 4th from
                # 2, every 2nd from 1); re-place them top-to-bottom
                order = (
                    list(range(0, ih, 8))
                    + list(range(4, ih, 8))
                    + list(range(2, ih, 4))
                    + list(range(1, ih, 2))
                )
                rows = [None] * ih
                for seq, y in enumerate(order):
                    rows[y] = idx[seq * iw : (seq + 1) * iw]
                idx = b"".join(rows)
            pixels = b"".join(ct[3 * i : 3 * i + 3] for i in idx)
            return (w or iw, h or ih, 1, _raster_feature(pixels))
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError("bad GIF block")
    raise ValueError("GIF without image data")


#: Column-assemblable baseline JPEG (the media_decode_jpeg oracle
#: shape): 16×16 grayscale, four 8×8 DC-only blocks. The custom DHT
#: gives BOTH the DC category-8 code and the AC EOB code a single
#: 8-bit all-zero codeword, so each MCU's entropy data is exactly
#: three bytes (00, diff, 00) and — with DRI=1 restart markers between
#: MCUs — the whole scan is byte-aligned and expressible as hex
#: concatenation in Spark Column space. Quant table is all-ones, so
#: decoded pixel = 128 + (d+4)//8 per block (d = the DC diff byte,
#: restricted to [128,254] with d % 8 != 4: positive category-8 diffs
#: are their own 8 bits, 0xFF never appears, and the half-up IDCT
#: rounding never lands on an exact .5 tie).
JPEG_DC_W = JPEG_DC_H = 16

_JPEG_DC_COUNTS_HEX = "00" * 7 + "01" + "00" * 8  # one code of length 8
_JPEG_DC_HEADER_HEX = (
    "FFD8"
    + "FFDB004300" + "01" * 64                       # DQT: 8-bit, all ones
    + "FFC0000B08" + "0010" + "0010" + "01011100"    # SOF0 16×16 gray 1×1
    + "FFC40014" + "00" + _JPEG_DC_COUNTS_HEX + "08"  # DHT DC: {cat 8}
    + "FFC40014" + "10" + _JPEG_DC_COUNTS_HEX + "00"  # DHT AC: {EOB}
    + "FFDD00040001"                                  # DRI: Ri = 1
    + "FFDA0008010100003F00"                          # SOS
)


def jpeg_dc_gray_payload_hex(d0: str, d1: str, d2: str, d3: str) -> str:
    """Hex string of the full 16×16 DC-only JPEG for 4 two-hex-digit
    block diffs (Python-side twin of jpeg_dc_gray_payload_col)."""
    units = []
    for k, d in enumerate((d0, d1, d2, d3)):
        units.append("00" + d + "00")
        if k < 3:
            units.append(f"FFD{k}")
    return _JPEG_DC_HEADER_HEX + "".join(units) + "FFD9"


def jpeg_dc_gray_hex_col(d0, d1, d2, d3):
    """Hex-string Column of the DC-only baseline JPEG (composable into
    larger containers — the MJPEG/AVI builder concatenates these)."""
    hx2 = lambda c: F.lpad(F.hex(c), 2, "0")  # noqa: E731
    parts = [F.lit(_JPEG_DC_HEADER_HEX)]
    for k, d in enumerate((d0, d1, d2, d3)):
        parts.append(F.concat(F.lit("00"), hx2(d), F.lit("00")))
        if k < 3:
            parts.append(F.lit(f"FFD{k}"))
    parts.append(F.lit("FFD9"))
    return F.concat(*parts)


def jpeg_dc_gray_payload_col(d0, d1, d2, d3):
    """Binary Column: the same JPEG assembled from 4 int Columns in
    [128, 254] (callers must keep d % 8 != 4 — see the block comment)."""
    return F.unhex(jpeg_dc_gray_hex_col(d0, d1, d2, d3))


#: byte size of one DC-only baseline JPEG (fixed: all-constant headers
#: + 4 three-byte MCUs + 3 restart markers + EOI)
JPEG_DC_FRAME_BYTES = len(_JPEG_DC_HEADER_HEX) // 2 + 4 * 3 + 3 * 2 + 2


def _avi_header_hex(n_frames: int, w: int, h: int, frame_bytes: int) -> str:
    """Fixed AVI/RIFF prefix (through the 'movi' fourcc) for n_frames
    MJPEG frames of ``frame_bytes`` each — all sizes are constants, so
    the whole container assembles as hex Column concatenation."""
    import struct

    # RIFF chunks are word-aligned: an odd frame size would need a pad
    # byte the reader skips via (slen & 1) — the builder does not emit
    # pads, so the fixed frame size must stay even
    assert frame_bytes % 2 == 0, "AVI builder requires even frame size"
    avih = (
        struct.pack(
            "<IIIIIIIIII", 40000, 0, 0, 0, n_frames, 0, 1, 0, w, h
        )
        + b"\x00" * 16
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi_size = 4 + n_frames * (8 + frame_bytes)
    riff_size = 4 + (8 + len(hdrl)) + (8 + movi_size)
    head = (
        b"RIFF" + struct.pack("<I", riff_size) + b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", movi_size) + b"movi"
    )
    return head.hex().upper()


def avi_mjpeg_payload_col(frame_hex_cols):
    """Binary Column: an AVI/MJPEG container wrapping the given DC-only
    JPEG hex Columns as '00dc' frame chunks."""
    import struct

    n = len(frame_hex_cols)
    size_hex = struct.pack("<I", JPEG_DC_FRAME_BYTES).hex().upper()
    parts = [F.lit(_avi_header_hex(n, JPEG_DC_W, JPEG_DC_H, JPEG_DC_FRAME_BYTES))]
    for fh in frame_hex_cols:
        parts.append(F.lit("30306463" + size_hex))  # '00dc' + LE size
        parts.append(fh)
    return F.unhex(F.concat(*parts))


def avi_mjpeg_payload_hex(frames_hex: list) -> str:
    """Python twin of avi_mjpeg_payload_col for tests."""
    import struct

    size_hex = struct.pack("<I", JPEG_DC_FRAME_BYTES).hex().upper()
    out = _avi_header_hex(
        len(frames_hex), JPEG_DC_W, JPEG_DC_H, JPEG_DC_FRAME_BYTES
    )
    for fh in frames_hex:
        out += "30306463" + size_hex + fh
    return out


#: PROGRESSIVE twin of the DC-only container: SOF2 + a single DC scan
#: (Ss=Se=0, Ah=Al=0) and no AC scans at all (legal — undecoded
#: coefficients stay 0), so each block's entropy data is exactly TWO
#: bytes (the 8-bit DC code + the 8-bit diff) and the stream is again
#: byte-aligned hex. Same pixels as the baseline twin: 128 + (d+4)//8.
_JPEG_DC_PROG_HEADER_HEX = (
    "FFD8"
    + "FFDB004300" + "01" * 64                        # DQT: 8-bit, all ones
    + "FFC2000B08" + "0010" + "0010" + "01011100"     # SOF2 16×16 gray 1×1
    + "FFC40014" + "00" + _JPEG_DC_COUNTS_HEX + "08"  # DHT DC: {cat 8}
    + "FFDD00040001"                                  # DRI: Ri = 1
    + "FFDA0008" + "0101" + "00" + "000000"           # SOS Ss=0 Se=0 AhAl=0
)


def jpeg_dc_gray_progressive_hex(d0: str, d1: str, d2: str, d3: str) -> str:
    """Hex string of the progressive DC-only 16×16 JPEG (Python twin
    of jpeg_dc_gray_progressive_payload_col)."""
    units = []
    for k, d in enumerate((d0, d1, d2, d3)):
        units.append("00" + d)
        if k < 3:
            units.append(f"FFD{k}")
    return _JPEG_DC_PROG_HEADER_HEX + "".join(units) + "FFD9"


def jpeg_dc_gray_progressive_payload_col(d0, d1, d2, d3):
    """Binary Column: the progressive twin from 4 int Columns (same
    constraints as jpeg_dc_gray_payload_col)."""
    hx2 = lambda c: F.lpad(F.hex(c), 2, "0")  # noqa: E731
    parts = [F.lit(_JPEG_DC_PROG_HEADER_HEX)]
    for k, d in enumerate((d0, d1, d2, d3)):
        parts.append(F.concat(F.lit("00"), hx2(d)))
        if k < 3:
            parts.append(F.lit(f"FFD{k}"))
    parts.append(F.lit("FFD9"))
    return F.unhex(F.concat(*parts))


#: JPEG zig-zag scan order: zigzag index -> natural (row-major) index.
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _idct_table():
    """A[u][x] = C(u)·cos((2x+1)uπ/16)/2, so the 2-D inverse DCT is
    f(x,y) = Σ_u Σ_v A[u][x]·A[v][y]·S(v,u) (ITU T.81 A.3.3)."""
    import math

    return [
        [
            (math.sqrt(0.5) if u == 0 else 1.0)
            * math.cos((2 * x + 1) * u * math.pi / 16.0)
            / 2.0
            for x in range(8)
        ]
        for u in range(8)
    ]


_IDCT_A = _idct_table()


class _JpegHuffTable:
    """Canonical JPEG Huffman table (T.81 Annex C): decode walks the
    (min_code, max_code, val_index) triples per code length."""

    def __init__(self, counts, symbols):
        self.min_code = [0] * 17
        self.max_code = [-1] * 17
        self.val_ptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            n = counts[length - 1]
            self.val_ptr[length] = k
            self.min_code[length] = code
            self.max_code[length] = code + n - 1 if n else -1
            code = (code + n) << 1
            k += n
        self.symbols = symbols

    def decode(self, br):
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            if self.max_code[length] >= 0 and code <= self.max_code[length]:
                return self.symbols[
                    self.val_ptr[length] + code - self.min_code[length]
                ]
        raise ValueError("invalid JPEG Huffman code")


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    stuffing. Any other marker ends the data a block may read; the
    traversal consumes each RSTn with expect_restart. ``cur`` holds
    only the ``nbits`` unread bits (``cur < 1 << nbits``), so a bit
    read never shifts more than one byte's worth of integer."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.i = pos
        self.cur = 0
        self.nbits = 0

    def _load_byte(self):
        if self.i >= len(self.d):
            raise ValueError("truncated JPEG entropy data")
        b = self.d[self.i]
        self.i += 1
        if b == 0xFF:
            if self.i >= len(self.d):
                raise ValueError("truncated JPEG entropy data")
            if self.d[self.i] != 0x00:  # not a stuffed literal 0xFF
                raise ValueError("JPEG entropy data ended at marker")
            self.i += 1
        self.cur, self.nbits = b, 8  # only ever loaded when empty

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._load_byte()
        self.nbits -= 1
        bit = self.cur >> self.nbits
        self.cur -= bit << self.nbits
        return bit

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def expect_restart(self):
        """Byte-align, then consume the RSTn marker that must follow."""
        self.cur = self.nbits = 0  # discard padding to the byte boundary
        d, i = self.d, self.i
        if i + 1 >= len(d) or d[i] != 0xFF or not 0xD0 <= d[i + 1] <= 0xD7:
            raise ValueError("expected JPEG restart marker")
        self.i = i + 2


def _jpeg_extend(v: int, t: int) -> int:
    """DIFF/coefficient sign extension (T.81 F.2.2.1 EXTEND)."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _jpeg_parse_dqt(seg: bytes, qt: dict) -> None:
    p = 0
    while p < len(seg):
        pq, tq = seg[p] >> 4, seg[p] & 0xF
        if pq != 0:
            raise ValueError("16-bit quantization unsupported")
        vals = seg[p + 1 : p + 65]
        if len(vals) < 64:
            raise ValueError("truncated DQT")
        tbl = [0] * 64
        for z in range(64):
            tbl[_JPEG_ZIGZAG[z]] = vals[z]
        qt[tq] = tbl
        p += 65


def _jpeg_parse_dht(seg: bytes, huff_dc: dict, huff_ac: dict) -> None:
    p = 0
    while p + 17 <= len(seg):
        tc, th = seg[p] >> 4, seg[p] & 0xF
        counts = list(seg[p + 1 : p + 17])
        n = sum(counts)
        symbols = list(seg[p + 17 : p + 17 + n])
        if len(symbols) < n:
            raise ValueError("truncated DHT")
        (huff_dc if tc == 0 else huff_ac)[th] = _JpegHuffTable(counts, symbols)
        p += 17 + n


def _jpeg_idct_block(coef, plane, px0: int, py0: int) -> None:
    """Separable float IDCT of one DEQUANTIZED 8×8 block into ``plane``
    at (px0, py0), with the level shift and half-up rounding the
    media_decode_jpeg oracle reproduces exactly."""
    import math

    A = _IDCT_A
    floor = math.floor
    tmp = [0.0] * 64
    for y in range(8):
        row = coef[8 * y : 8 * y + 8]
        if any(row):
            for x in range(8):
                tmp[8 * y + x] = sum(A[u][x] * row[u] for u in range(8))
    for x in range(8):
        col = [tmp[8 * y + x] for y in range(8)]
        for y in range(8):
            v = floor(sum(A[u][y] * col[u] for u in range(8)) + 128.5)
            plane[py0 + y][px0 + x] = 0 if v < 0 else (255 if v > 255 else v)


def _jpeg_planes_to_result(planes, comps, w: int, h: int, hmax: int, vmax: int,
                           want: str = "feature"):
    """Crop/upsample decoded component planes to the final raster +
    8-band feature (grayscale pass-through or JFIF YCbCr→RGB).
    ``want="gray_raster"`` returns the raw grayscale raster bytes
    instead (None for color images) — the MJPEG path needs pixels."""
    import math

    floor = math.floor
    if len(comps) == 1:
        plane = planes[0]
        raster = bytes(plane[y][x] for y in range(h) for x in range(w))
        if want == "gray_raster":
            return (w, h, raster)
        return (w, h, 1, _raster_feature(raster))
    if want == "gray_raster":
        return None
    out = bytearray()
    yp, cbp, crp = planes
    (_, yh, yv, _), (_, bh, bv, _), (_, rh, rv, _) = comps
    for y in range(h):
        for x in range(w):
            Y = yp[y * yv // vmax][x * yh // hmax]
            Cb = cbp[y * bv // vmax][x * bh // hmax] - 128
            Cr = crp[y * rv // vmax][x * rh // hmax] - 128
            for val in (
                Y + 1.402 * Cr,
                Y - 0.344136 * Cb - 0.714136 * Cr,
                Y + 1.772 * Cb,
            ):
                v = floor(val + 0.5)
                out.append(0 if v < 0 else (255 if v > 255 else v))
    return (w, h, 1, _raster_feature(bytes(out)))


def _jpeg_segment(p: bytes, i: int):
    """The marker segment at ``p[i:]`` as (marker, body start, body
    end), or None at EOI or where fewer than four bytes remain. Skips
    the legal 0xFF fill bytes before a marker (T.81 B.1.1.2) and the
    standalone TEM/RSTn markers; SOI has an empty body. The body end
    may lie past the data: each caller bounds what it reads. This is
    the one marker walk of the decoder and the dims probe."""
    n = len(p)
    while i + 4 <= n:
        if p[i] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        while i + 1 < n and p[i + 1] == 0xFF:
            i += 1
        if i + 2 > n:
            return None
        m = p[i + 1]
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            return None
        if m == 0xD8:
            return m, i + 2, i + 2
        if i + 4 > n:
            raise ValueError("truncated JPEG marker segment")
        seglen = (p[i + 2] << 8) | p[i + 3]
        if seglen < 2:
            raise ValueError("bad JPEG segment length")
        return m, i + 4, i + 2 + seglen
    return None


def _decode_jpeg(payload: bytes, want: str = "feature"):
    """JPEG decoder — pure stdlib (T.81), Huffman-coded 8-bit frames:
    baseline and extended sequential (SOF0/1; interleaved, or one
    single-component scan per component with blocks in data-grid
    raster order, T.81 A.2.2) and progressive (SOF2, Annex G: spectral
    selection, successive approximation, EOB runs), with DRI restart
    intervals and 0xFF00 stuffing. One walk over the marker segments;
    every scan entropy-decodes into one coefficient grid per component
    (_JpegFrame), then one dequantize + IDCT + upsample + YCbCr→RGB
    pass (JFIF) gives the pixels, so any two encodings of the same
    coefficients decode to the same bytes. Arithmetic coding,
    lossless/hierarchical frames, 12-bit precision and the
    2-of-3-component sequential scan raise ValueError into the error
    column (the PIL plug-in slot); so does every malformed stream,
    never IndexError / KeyError / struct.error from short reads.
    Closes the reference parity gap for pixel math on web JPEGs
    (reference images.py:49-74 needs pixels for entropy/histogram
    scoring)."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG signature")
    qt: dict = {}        # Tq -> [64] natural-order ints
    huff_dc: dict = {}   # Th -> _JpegHuffTable
    huff_ac: dict = {}
    frame = None
    dri = 0
    i = 2
    try:
        while (seg := _jpeg_segment(payload, i)) is not None:
            m, start, i = seg
            if i > len(payload):
                raise ValueError("bad JPEG segment length")
            body = payload[start:i]
            if m == 0xDB:
                _jpeg_parse_dqt(body, qt)
            elif m == 0xC4:
                _jpeg_parse_dht(body, huff_dc, huff_ac)
            elif m == 0xDD:
                dri = struct.unpack_from(">H", body, 0)[0]
            elif m == 0xD8:
                raise ValueError("JPEG SOI inside the stream")
            elif 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):  # SOFn
                if frame is not None:
                    raise ValueError("JPEG with more than one frame header")
                frame = _JpegFrame(m, body)
            elif m == 0xDA:
                if frame is None:
                    raise ValueError("JPEG SOS before SOF")
                i = frame.decode_scan(payload, i, body, qt, huff_dc, huff_ac, dri)
        if frame is None:
            raise ValueError("JPEG scan not found")
        return frame.result(qt, want)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"truncated/malformed JPEG stream: {e}") from e


class _JpegFrame:
    """One frame (T.81 B.2.2): the SOF0/1/2 header with the decoder's
    guards, one coefficient grid per component that every scan
    decodes into, and each component's quantization table, bound when
    the component's first scan starts (DQT builds a new list per
    table, so the reference is the binding)."""

    def __init__(self, marker: int, seg: bytes):
        if marker not in (0xC0, 0xC1, 0xC2):
            raise ValueError(
                "unsupported JPEG frame (lossless/arithmetic/hierarchical)"
            )
        if seg[0] != 8:
            raise ValueError("non-8-bit JPEG precision unsupported")
        w, h = _jpeg_sof_dims(seg)
        nf = seg[5]
        if nf not in (1, 3):
            raise ValueError("unsupported JPEG geometry")
        # resource guard: the coefficient grids allocate w·h up front;
        # a crafted SOF can declare 65535² (4G pixels). Real web images
        # sit far below 16M pixels — larger goes to the error column
        # (the PIL plug-in slot on a real cluster).
        if w * h > (1 << 24):
            raise ValueError("JPEG too large for the pure-Python decoder")
        comps = []
        for c in range(nf):
            cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
            hs, vs = hv >> 4, hv & 0xF
            if hs not in (1, 2) or vs not in (1, 2):
                raise ValueError("unsupported JPEG sampling factors")
            comps.append((cid, hs, vs, tq))
        if nf == 1:
            # T.81 A.2: a single-component scan is NON-interleaved —
            # blocks cover ceil(w/8) x ceil(h/8) in raster order and
            # the declared sampling factors do NOT introduce MCU
            # padding (real encoders emit e.g. H=V=2 grayscale).
            cid, _hs, _vs, tq = comps[0]
            comps = [(cid, 1, 1, tq)]
        self.progressive = marker == 0xC2
        self.w, self.h, self.comps = w, h, comps
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mcux = (w + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcuy = (h + 8 * self.vmax - 1) // (8 * self.vmax)
        # per component: [by][bx] -> [64] natural-order coefficients
        # over the MCU-padded grid
        self.grids = [
            [[[0] * 64 for _ in range(self.mcux * hs)]
             for _ in range(self.mcuy * vs)]
            for cid, hs, vs, tq in comps
        ]
        self.quant: dict = {}
        self.coded: set = set()

    def decode_scan(self, payload, pos, seg, qt, huff_dc, huff_ac, dri):
        """Entropy-decode the scan with header ``seg`` and data at
        ``pos`` into the grids; returns the position after its data."""
        ns = seg[0]
        slots = []  # per scan component: (ci, Td, Ta), in scan order
        for s in range(ns):
            cid, tdta = seg[1 + 2 * s : 3 + 2 * s]
            ci = next(
                (ci for ci, c in enumerate(self.comps) if c[0] == cid), None
            )
            if ci is None:
                raise ValueError("JPEG scan references unknown component")
            slots.append((ci, tdta >> 4, tdta & 0xF))
        if self.progressive:
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if ss == 0 and se != 0:
                raise ValueError("bad progressive DC band")
            if ss and (ns != 1 or se > 63 or ss > se):
                raise ValueError("bad progressive AC band")
        else:
            ss, se, ah, al = 0, 63, 0, 0
            if ns != len(self.comps) and ns != 1:
                # T.81 allows 2-of-3-component sequential scans, but no
                # mainstream encoder emits them; error channel.
                raise ValueError("unsupported JPEG scan component count")
            for ci, _, _ in slots:
                if ci in self.coded:
                    raise ValueError("JPEG component coded twice")
                self.coded.add(ci)
        for ci, _, _ in slots:
            self.quant.setdefault(ci, qt[self.comps[ci][3]])
        br = _JpegBitReader(payload, pos)
        step, restart = _jpeg_block_step(
            br, huff_dc, huff_ac, len(self.comps), self.progressive,
            ss, se, ah, al,
        )
        for slot, blk in self.blocks(slots, br, dri, restart):
            step(slot, blk)
        # scan ends: discard the padding bits; the next marker follows
        return br.i

    def blocks(self, slots, br, dri, restart):
        """(slot, block) for one scan in stream order: MCU order over
        the padded grids when the scan is interleaved, one block per
        MCU over the component's data-block grid ceil(cw/8)×ceil(ch/8)
        when it holds one component (T.81 A.2). A restart marker
        precedes every ``dri``-th MCU and ``restart()`` clears the
        predictions."""
        grids = self.grids
        if len(slots) > 1:
            layout = [
                (slot, grids[slot[0]], self.comps[slot[0]][1:3])
                for slot in slots
            ]
            mcus = (
                [
                    (slot, grid[my * vs + by][mx * hs + bx])
                    for slot, grid, (hs, vs) in layout
                    for by in range(vs)
                    for bx in range(hs)
                ]
                for my in range(self.mcuy)
                for mx in range(self.mcux)
            )
        else:
            (slot,) = slots
            _, hs, vs, _ = self.comps[slot[0]]
            cw = (self.w * hs + self.hmax - 1) // self.hmax
            ch = (self.h * vs + self.vmax - 1) // self.vmax
            mcus = (
                [(slot, blk)]
                for row in grids[slot[0]][: (ch + 7) // 8]
                for blk in row[: (cw + 7) // 8]
            )
        for n, mcu in enumerate(mcus):
            if dri and n and n % dri == 0:
                br.expect_restart()
                restart()
            yield from mcu

    def result(self, qt, want):
        """Dequantize + IDCT every block, then crop/upsample/convert."""
        if not self.progressive and len(self.coded) != len(self.comps):
            raise ValueError("JPEG stream missing a component scan")
        planes = []
        for ci, (cid, hs, vs, tq) in enumerate(self.comps):
            # progressive scans may never arrive: those coefficients
            # stay zero, under the table the frame names
            q = self.quant.setdefault(ci, qt[tq])
            grid = self.grids[ci]
            plane = [[0] * (len(grid[0]) * 8) for _ in range(len(grid) * 8)]
            for by, row in enumerate(grid):
                for bx, blk in enumerate(row):
                    _jpeg_idct_block(
                        [c * qz for c, qz in zip(blk, q)], plane, bx * 8, by * 8
                    )
            planes.append(plane)
        return _jpeg_planes_to_result(
            planes, self.comps, self.w, self.h, self.hmax, self.vmax, want
        )


def _jpeg_block_step(br, huff_dc, huff_ac, ncomps, progressive, ss, se, ah, al):
    """(step, restart) for one scan. ``step(slot, block)`` entropy-
    decodes one 8×8 block's coefficients: baseline DC+AC (T.81 F.2.2)
    in a sequential frame, else the progressive step the band and
    approximation pick (G.1.2): DC first, DC refine, AC first with EOB
    runs, AC refine with correction bits. ``restart()`` clears the DC
    predictions and the EOB run."""
    zz = _JPEG_ZIGZAG
    pred = [0] * ncomps
    eobrun = 0
    p1, m1 = 1 << al, -1 << al

    def restart():
        nonlocal eobrun
        pred[:] = [0] * ncomps
        eobrun = 0

    def dc(slot):
        ci, td, _ = slot
        t = huff_dc[td].decode(br)
        pred[ci] += _jpeg_extend(br.receive(t), t) if t else 0
        return pred[ci]

    def baseline(slot, blk):
        blk[0] = dc(slot)
        act = huff_ac[slot[2]]
        k = 1
        while k < 64:
            rs = act.decode(br)
            r, size = rs >> 4, rs & 0xF
            if size == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("JPEG AC run overflow")
            blk[zz[k]] = _jpeg_extend(br.receive(size), size)
            k += 1

    def dc_first(slot, blk):
        blk[0] = dc(slot) << al

    def dc_refine(slot, blk):
        blk[0] |= br.read_bit() << al

    def ac_first(slot, blk):
        # EOB runs span blocks (G.1.2.2)
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        act = huff_ac[slot[2]]
        k = ss
        while k <= se:
            rs = act.decode(br)
            r, size = rs >> 4, rs & 0xF
            if size:
                k += r
                if k > se:
                    raise ValueError("JPEG AC run overflow")
                blk[zz[k]] = _jpeg_extend(br.receive(size), size) << al
            else:
                if r != 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.receive(r)
                    break
                k += 15  # ZRL
            k += 1

    def correction(blk, idx):
        if br.read_bit() and (blk[idx] & p1) == 0:
            blk[idx] += p1 if blk[idx] >= 0 else m1

    def ac_refine(slot, blk):
        # correction bits for nonzero history (G.1.2.3)
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            act = huff_ac[slot[2]]
            while k <= se:
                rs = act.decode(br)
                r, size = rs >> 4, rs & 0xF
                newval = 0
                if size == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.receive(r)
                        break
                else:
                    if size != 1:
                        raise ValueError("bad refinement magnitude")
                    newval = p1 if br.read_bit() else m1
                while k <= se:
                    idx = zz[k]
                    if blk[idx] != 0:
                        correction(blk, idx)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    blk[zz[k]] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                idx = zz[k]
                if blk[idx] != 0:
                    correction(blk, idx)
                k += 1
            eobrun -= 1

    if not progressive:
        return baseline, restart
    if ss == 0:
        return (dc_refine if ah else dc_first), restart
    return (ac_refine if ah else ac_first), restart


def _jpeg_dims(p: bytes):
    """JPEG dimensions from the SOF marker — header-only scan, no
    entropy decode. Newspaper's image scoring (reference images.py)
    needs exactly this: width/height, not pixels. Lenient where the
    decoder is strict: any SOF0..3 counts, a stray SOI is skipped, and
    the SOF body need only hold its dims."""
    if p[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG signature")
    i = 2
    while (seg := _jpeg_segment(p, i)) is not None:
        m, start, end = seg
        if m == 0xDA:
            break
        if 0xC0 <= m <= 0xC3:
            if start + 5 > len(p):
                raise ValueError("truncated JPEG SOF")
            return _jpeg_sof_dims(p[start : start + 5])
        i = end
    raise ValueError("JPEG SOF not found")


def _jpeg_sof_dims(seg: bytes):
    """(width, height) of a SOF body: precision, then Y and X."""
    import struct

    h, w = struct.unpack_from(">HH", seg, 1)
    if w <= 0 or h <= 0:
        raise ValueError("bad JPEG dimensions")
    return w, h


def probe_image_dims(payload: bytes):
    """(width, height, format) from container headers alone — the
    cheap path for image SCORING (dims drive the reference's
    area/ratio math; no raster decode). Covers JPEG (SOF scan) plus
    the four fully-decodable formats' headers. Unknown magic raises
    ValueError into the error column."""
    import struct

    if not payload:
        raise ValueError("empty payload")
    if payload[:2] == b"\xff\xd8":
        w, h = _jpeg_dims(payload)
        return w, h, "jpeg"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if len(payload) < 24:
            raise ValueError("truncated PNG IHDR")
        w, h = struct.unpack_from(">II", payload, 16)
        if w <= 0 or h <= 0:
            raise ValueError("bad PNG dimensions")
        return w, h, "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 10:
            raise ValueError("truncated GIF header")
        w, h = struct.unpack_from("<HH", payload, 6)
        if w <= 0 or h <= 0:
            raise ValueError("bad GIF dimensions")
        return w, h, "gif"
    if payload[:2] == b"BM":
        if len(payload) < 26:
            raise ValueError("truncated BMP header")
        w, h = struct.unpack_from("<ii", payload, 18)
        if w <= 0 or h == 0:
            raise ValueError("bad BMP dimensions")
        return w, abs(h), "bmp"
    if payload[:2] in (b"P6", b"P5"):
        m = _PPM_HEADER_RE.match(payload)
        if not m:
            raise ValueError("bad PPM header")
        w, h = int(m.group(2)), int(m.group(3))
        if w <= 0 or h <= 0:
            raise ValueError("bad PPM dimensions")
        return w, h, "ppm"
    raise ValueError("unknown image container")


def _decode_image(payload: bytes, real_decode: bool = False):
    """Image decode. real_decode=True parses REAL containers with the
    pure-stdlib decoders above (PPM/P6, uncompressed BMP, PNG via zlib,
    GIF via the LZW decoder, sequential and progressive Huffman JPEG
    via the full Huffman+IDCT decoder, AVI/MJPEG — the formats
    expressible without PIL/opencv, which this container lacks; other
    magic bytes and the variants those decoders do not read, e.g.
    arithmetic-coded or 12-bit JPEG, raise ValueError into the error
    column, the slot where a PIL-backed decoder would plug in).

    real_decode=False returns the deterministic fake whose dims derive
    from md5(payload) — chosen so the DuckDB oracle reconstructs them
    in pure SQL (width = 64 + ('0x' || substring(md5(text),1,2))::INT
    etc.)."""
    if real_decode:
        if payload and payload[:2] in (b"P6", b"P5"):
            return _decode_ppm(payload)
        if payload and payload[:2] == b"BM":
            return _decode_bmp(payload)
        if payload and payload[:8] == b"\x89PNG\r\n\x1a\n":
            return _decode_png(payload)
        if payload and payload[:6] in (b"GIF87a", b"GIF89a"):
            return _decode_gif(payload)
        if payload and payload[:2] == b"\xff\xd8":
            return _decode_jpeg(payload)
        if (
            payload
            and payload[:4] == b"RIFF"
            and payload[8:12] == b"AVI "
        ):
            # MJPEG video: n_frames = container total; feature over the
            # sampled frames' concatenated rasters
            return _decode_avi_mjpeg(payload)
        raise ValueError("unsupported image format (PIL/opencv absent)")
    import hashlib

    hx = hashlib.md5(payload or b"").hexdigest()
    w = 64 + int(hx[:2], 16)
    h = 64 + int(hx[30:32], 16)
    feat = [int(hx[2 * i : 2 * i + 2], 16) / 255.0 for i in range(8)]
    return (w, h, 1, feat)


def extract_media_features(df: DataFrame, real_decode: bool = False) -> DataFrame:
    """mapInPandas stage: binary payload → (dims, frames, feature vec).

    Errors never kill the task — they land in the ``error`` column
    (per-row fault tolerance, same policy as the HTML kernel)."""
    return map_payloads(
        df, _MEDIA_KEYS, lambda payload: _decode_image(payload, real_decode),
        ["width", "height", "n_frames", "feature"], FEATURE_SCHEMA,
    )


RESIZE_SCHEMA = (
    "media_id string, width int, height int, "
    "resized_w int, resized_h int, error string"
)


def _resize_dims(w: int, h: int, target: int):
    """Thumbnail-style downscale preserving aspect ratio (never scale
    up): the dimension math every image pipeline runs, independent of
    the pixel work. Deterministic and SQL-expressible."""
    if w <= 0 or h <= 0:
        return (0, 0)
    if w <= target and h <= target:
        return (w, h)
    if w >= h:
        return (target, max(1, (h * target) // w))
    return (max(1, (w * target) // h), target)


def resize_media(
    df: DataFrame, target: int = 128, real_decode: bool = False
) -> DataFrame:
    """mapInPandas resize stage over decoded dims (fake decoder supplies
    md5-derived dims; the pixel resample itself is behind the same
    real_decode stub as decoding)."""

    def resized(payload):
        w, h, _nf, _feat = _decode_image(payload, real_decode)
        return (w, h, *_resize_dims(w, h, target))

    return map_payloads(
        df, ["media_id"], resized,
        ["width", "height", "resized_w", "resized_h"], RESIZE_SCHEMA,
    )


def sample_frame_indices(n_frames_col, every_n: int = 4, max_frames: int = 8):
    """Frame-sampling plan as a Column: indices 0, every_n, 2·every_n, …
    capped at max_frames — the schedule a video decoder would follow.
    Pure Column (sequence + slice), SQL-mirrorable."""
    last = F.greatest(n_frames_col - 1, F.lit(0))
    idx = F.sequence(F.lit(0), last, F.lit(every_n))
    return F.slice(idx, 1, max_frames)


def attach_video(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic fake 'video' table: n_frames derived from the md5
    of the payload (1..64), mirroring the fake image decoder's scheme
    so the DuckDB oracle reconstructs it."""
    payload = F.encode(F.col(text_col), "UTF-8")
    n_frames = (
        1 + F.conv(F.substring(F.md5(F.col(text_col)), 3, 2), 16, 10).cast("int") % 64
    )
    return df.select(
        F.md5(F.col(text_col)).alias("media_id"),
        F.lit("video").alias("kind"),
        payload.alias("payload"),
        n_frames.alias("n_frames"),
    )


def probe_media_dims(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """mapInPandas stage: binary payload → (format, width, height) from
    container HEADERS only (probe_image_dims) — the cheap scoring path
    when pixels aren't needed. Same per-row error-column fault policy
    as extract_media_features."""

    def probed(payload):
        w, h, fmt = probe_image_dims(payload)
        return (fmt, w, h)

    return map_payloads(
        df, [id_col], probed, ["fmt", "width", "height"],
        f"{id_col} string, fmt string, width int, height int, error string",
    )
