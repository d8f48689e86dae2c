"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

A 100 TB training-data pipeline carries media alongside text. The engine
treats media exactly like the reference treats document content — an opaque
payload behind a source abstraction (reference: IDocumentSource.ReadDocumentText,
Documents/Sources/IDocumentSource.cs:47, opened lazily per doc) — but
columnar: an Iceberg/parquet table

    media(doc_id BIGINT, kind STRING, payload BINARY,
          meta STRUCT<width INT, height INT, n_frames INT,
                      sample_rate INT, codec STRING>)

Decoding is real for the baseline formats, in pure Python with no
image/audio library: 24-bit BMP, binary PPM, 8-bit PNG, baseline JPEG,
GIF and uncompressed TIFF images (``decode_rgb``), 16-bit PCM WAV audio
(``decode_pcm``); ``sample_frames`` splits MJPEG/DIB AVI and GIF
video into frames those decoders read. Payloads written by
``synthesize_media`` use a deterministic self-describing container
(TIXM) that both decoders also read. Any other format goes to Pillow /
soundfile when importable, else raises NotImplementedError; those two
functions are the only decode seam, so the dataflow does not move.

Design for scale: payloads never pass through a shuffle — every operator
is a narrow mapInPandas/pandas_udf over the scan, so Tungsten only ever
moves the (small) feature/metadata outputs. Feature extraction yields
fixed-width ARRAY<FLOAT> columns ready for the ANN operators
(operators/similarity.py).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ])),
])

_MAGIC = b"TIXM"  # deterministic fake container format
_HDR = struct.Struct("<4s4sIIII")  # magic, codec, w, h, n_frames, rate


# --- deterministic fake container (stands in for JPEG/WAV/MP4) --------------

def pack_media(codec: str, width: int, height: int, n_frames: int,
               sample_rate: int, body: bytes) -> bytes:
    """Write the fake container: header + raw body bytes."""
    return _HDR.pack(_MAGIC, codec.encode()[:4].ljust(4), width, height,
                     n_frames, sample_rate) + body


def unpack_header(payload: bytes) -> dict | None:
    """Parse the container header; None for foreign/corrupt payloads."""
    if payload is None or len(payload) < _HDR.size:
        return None
    magic, codec, w, h, nf, sr = _HDR.unpack_from(payload)
    if magic != _MAGIC:
        return None
    return {"codec": codec.rstrip(b"\0 ").decode(), "width": w, "height": h,
            "n_frames": nf, "sample_rate": sr,
            "body": payload[_HDR.size:]}


def _decode_bmp(payload: bytes) -> "np.ndarray | None":
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB) -> (h, w, 3)
    uint8 RGB, pure Python/numpy — the real-bytes baseline decoder, no
    image lib required. None = not a BMP; NotImplementedError = BMP in
    a variant this baseline doesn't parse (compressed, non-24-bit)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP baseline decodes uncompressed 24-bit only "
            f"(got bpp={bpp}, compression={compression})")
    flip = h > 0  # positive height = bottom-up row order
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    body = np.frombuffer(payload, dtype=np.uint8,
                         count=stride * h, offset=data_off)
    rows = body.reshape(h, stride)[:, :w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR -> RGB


def _ppm_header(payload: bytes, n_vals: int) -> "tuple[list[int], int]":
    """Parse n_vals whitespace-separated header ints after a P5/P6
    magic ('#' comment lines allowed between tokens). Returns
    (values, position past the single whitespace byte that terminates
    the last token). Raises ValueError on a truncated header — every
    position advance is bounds-checked so a payload that ends mid-
    header can never spin (int(b'') raises)."""
    pos, vals = 2, []
    while len(vals) < n_vals:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        vals.append(int(payload[start:pos]))
    return vals, pos + 1  # exactly one whitespace byte after the token


def _decode_ppm(payload: bytes) -> "np.ndarray | None":
    """Binary PPM/PGM (P6 color / P5 gray, maxval<=255) -> (h, w, 3)
    uint8 RGB (gray broadcasts)."""
    if not (payload.startswith(b"P6") or payload.startswith(b"P5")):
        return None
    ch = 3 if payload[:2] == b"P6" else 1
    vals, pos = _ppm_header(payload, 3)
    w, h, maxval = vals
    if maxval > 255:
        raise NotImplementedError("PPM baseline decodes maxval<=255 only")
    px = (np.frombuffer(payload, dtype=np.uint8, count=w * h * ch,
                        offset=pos)
          .reshape(h, w, ch))
    return px.copy() if ch == 3 else np.repeat(px, 3, axis=2)


def _decode_png(payload: bytes) -> "np.ndarray | None":
    """PNG -> (h, w, 3) uint8 RGB in pure Python/numpy: chunk walk,
    stdlib-zlib inflate, per-scanline unfilter (spec filters 0-4; Sub is
    a lane cumsum, Up is vectorized, Average/Paeth run the spec's
    left-to-right recurrence vectorized across channels). Covers the
    dominant web shape — 8-bit, non-interlaced, gray/RGB(A); alpha
    drops, gray broadcasts. None = not a PNG; NotImplementedError = PNG
    outside the baseline (16-bit, palette, interlaced)."""
    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    import zlib

    pos, width, idat = 8, None, []
    while pos + 8 <= len(payload):
        ln, tag = struct.unpack(">I4s", payload[pos:pos + 8])
        data = payload[pos + 8:pos + 8 + ln]
        pos += 12 + ln  # chunk header + body + CRC
        if tag == b"IHDR":
            (width, height, depth, ctype,
             _comp, _filt, interlace) = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise NotImplementedError("PNG missing IHDR/IDAT")
    if depth != 8 or ctype not in (0, 2, 4, 6) or interlace != 0:
        raise NotImplementedError(
            f"PNG baseline decodes 8-bit non-interlaced gray/RGB(A) "
            f"only (depth={depth}, color_type={ctype}, "
            f"interlace={interlace})")
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise NotImplementedError("PNG scanline length mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = arr[:, 0]
    rows = arr[:, 1:].reshape(height, width, ch).astype(np.int32)
    out = np.empty((height, width, ch), dtype=np.int32)
    prev = np.zeros((width, ch), dtype=np.int32)
    for y in range(height):
        f, row = int(ftypes[y]), rows[y]
        if f == 0:
            rec = row
        elif f == 1:  # Sub: rec[x] = (row[x] + rec[x-1]) mod 256
            rec = np.cumsum(row, axis=0) & 0xFF
        elif f == 2:  # Up
            rec = (row + prev) & 0xFF
        elif f == 3:  # Average
            rec = np.empty_like(row)
            left = np.zeros(ch, dtype=np.int32)
            for x in range(width):
                left = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
                rec[x] = left
        elif f == 4:  # Paeth
            rec = np.empty_like(row)
            left = np.zeros(ch, dtype=np.int32)
            upleft = np.zeros(ch, dtype=np.int32)
            for x in range(width):
                up = prev[x]
                p = left + up - upleft
                pa = np.abs(p - left)
                pb = np.abs(p - up)
                pc = np.abs(p - upleft)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, up, upleft))
                left = (row[x] + pred) & 0xFF
                rec[x] = left
                upleft = up
        else:
            raise NotImplementedError(f"PNG filter type {f}")
        out[y] = prev = rec
    px = out.astype(np.uint8)
    if ctype == 2:
        return px
    if ctype == 6:
        return px[:, :, :3]
    return np.repeat(px[:, :, :1], 3, axis=2)  # gray / gray+alpha


# JPEG baseline support tables. _JPEG_ZIGZAG[k] is the raster index of
# the k-th zigzag-scanned coefficient (generated, not transcribed, so a
# typo cannot silently corrupt high-frequency placement); _dct_basis()
# is the orthonormal DCT-II basis B[u, x] = c(u)/2 * cos((2x+1)u*pi/16),
# so the 2-D IDCT of a coefficient block S is B.T @ S @ B.
_JPEG_ZIGZAG = np.array(
    [y * 8 + (s - y)
     for s in range(15)
     for y in (range(min(s, 7), max(0, s - 7) - 1, -1) if s % 2 == 0
               else range(max(0, s - 7), min(s, 7) + 1))])
_DCT_BASIS = None


def _dct_basis() -> "np.ndarray":
    global _DCT_BASIS
    if _DCT_BASIS is None:
        u = np.arange(8, dtype=np.float64).reshape(8, 1)
        x = np.arange(8, dtype=np.float64).reshape(1, 8)
        b = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
        b[0] /= np.sqrt(2.0)
        _DCT_BASIS = b
    return _DCT_BASIS


class _JpegBits:
    """MSB-first bit reader over entropy-coded data: un-stuffs 0xFF00 and
    consumes DRI restart markers; any other marker mid-entropy is a
    corrupt/truncated stream (ValueError -> decode_rgb's P7 degrade)."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos, self.buf, self.n = data, pos, 0, 0

    def bit(self) -> int:
        if self.n == 0:
            d, p = self.data, self.pos
            if p >= len(d):
                raise ValueError("JPEG entropy data truncated")
            b = d[p]
            if b == 0xFF:
                nxt = d[p + 1] if p + 1 < len(d) else -1
                if nxt != 0x00:
                    raise ValueError(
                        f"JPEG marker FF{nxt:02X} inside entropy data")
                self.pos = p + 2
            else:
                self.pos = p + 1
            self.buf, self.n = b, 8
        self.n -= 1
        return (self.buf >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        # drop the byte-alignment padding bits, consume the RSTn marker
        self.n = 0
        p = self.pos
        if (p + 1 >= len(self.data) or self.data[p] != 0xFF
                or not 0xD0 <= self.data[p + 1] <= 0xD7):
            raise ValueError("JPEG restart marker missing")
        self.pos = p + 2


def _jpeg_huff_table(counts, symbols) -> dict:
    """DHT counts/symbols -> {(code_length, code): symbol}, canonical
    code assignment per ITU T.81 Annex C."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[(ln, code)] = symbols[k]
            code, k = code + 1, k + 1
        code <<= 1
    return table


def _jpeg_huff_decode(bits: "_JpegBits", table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | bits.bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _jpeg_extend(v: int, n: int) -> int:
    # T.81 F.2.2.1: magnitude-category bits -> signed value
    return v - (1 << n) + 1 if n and v < (1 << (n - 1)) else v


def _decode_jpeg(payload: bytes) -> "np.ndarray | None":
    """Baseline sequential JFIF/JPEG (SOF0/SOF1, 8-bit, Huffman) ->
    (h, w, 3) uint8 RGB in pure Python/numpy: segment walk, bit-level
    Huffman entropy decode (0xFF00 un-stuffing, DRI/RSTn restarts with
    DC-predictor reset), dequantize + dezigzag, ONE vectorized IDCT over
    every block per component (einsum against the DCT-II basis),
    integer-factor chroma upsampling (4:4:4 / 4:2:2 / 4:2:0), JFIF
    YCbCr->RGB. Covers the dominant web shape. None = not a JPEG;
    NotImplementedError = JPEG outside the baseline (progressive SOF2,
    arithmetic coding, 12-bit, CMYK). The per-symbol Huffman loop is
    Python — this is the zero-dependency correctness baseline, not a
    throughput path; production decode rides a vectorized lib behind
    the same decode_rgb seam."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    qt: dict = {}
    huff_dc: dict = {}
    huff_ac: dict = {}
    frame, scan, restart_interval, pos = None, None, 0, 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at offset {pos}")
        if payload[pos + 1] == 0xFF:  # fill byte before a marker
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI before SOS
            break
        ln = struct.unpack_from(">H", payload, pos + 2)[0]
        seg = payload[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise NotImplementedError(
                        "JPEG baseline decodes 8-bit quantization "
                        f"tables only (got precision {pq})")
                qt[tq] = np.frombuffer(seg, np.uint8, 64,
                                       i + 1).astype(np.int32)
                i += 65
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1 (same decode path)
            prec = seg[0]
            h, w = struct.unpack_from(">HH", seg, 1)
            ncomp = seg[5]
            if prec != 8:
                raise NotImplementedError(
                    f"JPEG baseline decodes 8-bit precision only "
                    f"(got {prec}-bit)")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"JPEG baseline decodes grayscale/YCbCr only "
                    f"(got {ncomp} components — CMYK?)")
            comps = [{"id": seg[6 + 3 * c], "h": seg[7 + 3 * c] >> 4,
                      "v": seg[7 + 3 * c] & 0xF, "tq": seg[8 + 3 * c]}
                     for c in range(ncomp)]
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "JPEG baseline decodes sequential Huffman (SOF0/SOF1) "
                f"only (got SOF marker FF{marker:02X} — progressive/"
                "arithmetic/lossless)")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                counts = list(seg[i + 1:i + 17])
                total = sum(counts)
                table = _jpeg_huff_table(counts,
                                         seg[i + 17:i + 17 + total])
                (huff_dc if tc == 0 else huff_ac)[th] = table
                i += 17 + total
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            ns = seg[0]
            sel = {seg[1 + 2 * c]: (seg[2 + 2 * c] >> 4,
                                    seg[2 + 2 * c] & 0xF)
                   for c in range(ns)}
            scan = (sel, pos)
            break
        # APPn / COM / other tables: skipped by the length walk
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS segment")
    h, w, comps = frame
    sel, entropy_pos = scan
    if len(sel) != len(comps):
        # sequential multi-scan (one non-interleaved scan per
        # component) — a separate entropy segment per scan this
        # single-SOS walk does not follow
        raise NotImplementedError(
            "JPEG baseline decodes single-scan (interleaved) streams "
            f"only (scan has {len(sel)} of {len(comps)} components)")
    if len(comps) == 1:
        # T.81 A.2.2: a single-component scan is NON-interleaved — the
        # MCU is one 8x8 data unit in raster order, regardless of the
        # declared sampling factors (jpegtran -grayscale keeps the
        # source's 2x2 luma factors; walking 2x2-block MCUs would
        # silently permute the blocks)
        comps[0]["h"] = comps[0]["v"] = 1
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax < 1 or vmax < 1:
        raise ValueError("JPEG zero sampling factor")
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    for c in comps:
        if vmax % c["v"] or hmax % c["h"]:
            raise NotImplementedError(
                "JPEG baseline decodes integer chroma sampling ratios "
                f"only (got {c['h']}x{c['v']} vs {hmax}x{vmax})")
        c["bw"], c["bh"] = mcux * c["h"], mcuy * c["v"]
        c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)
        c["dc_t"], c["ac_t"] = sel[c["id"]]
        c["pred"] = 0
    bits = _JpegBits(payload, entropy_pos)
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bits.restart()
            for c in comps:
                c["pred"] = 0
        my, mx = divmod(m, mcux)
        for c in comps:
            dct, act = huff_dc[c["dc_t"]], huff_ac[c["ac_t"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    blk = c["coef"][(my * c["v"] + by) * c["bw"]
                                    + mx * c["h"] + bx]
                    t = _jpeg_huff_decode(bits, dct)
                    c["pred"] += _jpeg_extend(bits.bits(t), t) if t else 0
                    blk[0] = c["pred"]
                    k = 1
                    while k < 64:
                        rs = _jpeg_huff_decode(bits, act)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL: sixteen zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC run past block end")
                        blk[k] = _jpeg_extend(bits.bits(s), s)
                        k += 1
    basis = _dct_basis()
    planes = []
    for c in comps:
        q = qt[c["tq"]]
        deq = np.zeros((c["coef"].shape[0], 64), dtype=np.float64)
        deq[:, _JPEG_ZIGZAG] = c["coef"] * q  # dequantize + dezigzag
        px = np.einsum("ux,nuv,vy->nxy", basis,
                       deq.reshape(-1, 8, 8), basis) + 128.0
        px = (px.reshape(c["bh"], c["bw"], 8, 8)
              .transpose(0, 2, 1, 3).reshape(c["bh"] * 8, c["bw"] * 8))
        if vmax // c["v"] > 1:
            px = np.repeat(px, vmax // c["v"], axis=0)
        if hmax // c["h"] > 1:
            px = np.repeat(px, hmax // c["h"], axis=1)
        planes.append(px[:h, :w])
    if len(planes) == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = planes
    rgb = np.stack([y + 1.402 * (cr - 128.0),
                    y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                    y + 1.772 * (cb - 128.0)], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _gif_lzw_decode(data: bytes, min_code: int) -> bytearray:
    """GIF-variant LZW (LSB-first variable-width codes, 3-12 bits,
    clear/EOI codes, deferred-clear table freeze at 4096)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    # incremental LSB-first bit accumulator: O(1) per code (a whole-
    # stream big-int re-shifted per code copies the remaining stream
    # each time — O(n^2), minutes on a multi-megabyte GIF)
    acc, acc_n, byte_pos, ndata = 0, 0, 0, len(data)
    out = bytearray()
    table = {i: bytes([i]) for i in range(clear)}
    width = min_code + 1
    next_code, prev = eoi + 1, None
    while True:
        while acc_n < width:
            if byte_pos >= ndata:
                raise ValueError("GIF LZW stream truncated")
            acc |= data[byte_pos] << acc_n
            acc_n += 8
            byte_pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        acc_n -= width
        if code == clear:
            table, width = {i: bytes([i]) for i in range(clear)}, \
                min_code + 1
            next_code, prev = eoi + 1, None
            continue
        if code == eoi:
            return out
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"GIF LZW code {code} out of range")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry


def _gif_frames(payload: bytes, first_only: bool = False):
    """GIF87a/89a image descriptors -> list of (left, top, rgb) frames,
    pure Python: block walk (extensions skipped by the sub-block
    protocol), global/local palette, LZW decompression, interlace
    de-weave. Transparency/disposal are ignored (each frame is returned
    as drawn, not composited). None = not a GIF."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    gct_packed = payload[10]
    pos, gct, frames = 13, None, []
    if gct_packed & 0x80:
        n = 2 << (gct_packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3,
                            pos).reshape(n, 3)
        pos += n * 3
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte + sub-blocks
            pos += 1
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"GIF unknown block 0x{block:02X}")
        left, top, w, h = struct.unpack_from("<HHHH", payload, pos)
        packed = payload[pos + 8]
        pos += 9
        pal = gct
        if packed & 0x80:  # local color table
            n = 2 << (packed & 0x07)
            pal = np.frombuffer(payload, np.uint8, n * 3,
                                pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF image with no color table")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while payload[pos] != 0:
            ln = payload[pos]
            chunks.append(payload[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(
            _gif_lzw_decode(b"".join(chunks), min_code), np.uint8)
        if idx.size < w * h:
            raise ValueError("GIF pixel data short")
        idx = idx[:w * h].reshape(h, w)
        if packed & 0x40:  # interlaced: 4-pass row weave
            woven = np.empty_like(idx)
            rows = np.concatenate([np.arange(0, h, 8), np.arange(4, h, 8),
                                   np.arange(2, h, 4), np.arange(1, h, 2)])
            woven[rows] = idx
            idx = woven
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("GIF pixel index outside color table")
        frames.append((left, top, pal[idx].copy()))
        if first_only:
            return frames
    return frames


def _decode_gif(payload: bytes) -> "np.ndarray | None":
    """GIF87a/89a first frame -> (h, w, 3) uint8 RGB. Animated GIFs
    yield their FIRST image descriptor (at its own frame size); use
    sample_frames for the full frame sequence. None = not a GIF;
    NotImplementedError = GIF without any image data."""
    frames = _gif_frames(payload, first_only=True)
    if frames is None:
        return None
    if not frames:
        raise NotImplementedError("GIF contains no image descriptor")
    return frames[0][2]


def _encode_bmp(img: "np.ndarray") -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit bottom-up BMP, the inverse of
    `_decode_bmp` — used to emit extracted video frames as payloads the
    same decode_rgb seam can read back."""
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR
    data = rows.tobytes()
    return (b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(data), 2835, 2835, 0, 0) + data)


def _avi_frames(payload: bytes) -> "list[bytes] | None":
    """RIFF/AVI chunk walk -> per-frame payloads of the video stream
    ('##dc'/'##db' chunks inside LIST movi, in file order, ## = the
    vids stream's index among the strl headers). MJPEG chunks ARE
    standalone baseline JPEGs — pure byte slicing, no transcode. Real
    uncompressed-DIB chunks are HEADERLESS pixel bits (the format
    lives in the stream's strf BITMAPINFOHEADER), so each is wrapped
    with a BITMAPFILEHEADER + that strf to form a decode_rgb-readable
    BMP; synthetic BM-prefixed chunks pass through. None = not an AVI;
    NotImplementedError = a non-image-bearing frame codec."""
    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"AVI ":
        return None
    frames: list = []
    streams: list = []   # (fccType, strf_bytes) per strl, in order
    pending = [None]     # fccType of the strh awaiting its strf

    def walk(pos, end):
        while pos + 8 <= end:
            cid = payload[pos:pos + 4]
            size = struct.unpack_from("<I", payload, pos + 4)[0]
            if cid == b"LIST":
                walk(pos + 12, min(pos + 8 + size, end))
            elif cid == b"strh":
                pending[0] = payload[pos + 8:pos + 12]
            elif cid == b"strf":
                streams.append((pending[0],
                                payload[pos + 8:pos + 8 + size]))
                pending[0] = None
            elif cid[2:4] in (b"dc", b"db") and size:
                frames.append((cid[:2],
                               payload[pos + 8:pos + 8 + size]))
            pos += 8 + size + (size & 1)  # chunks pad to even offsets

    walk(12, len(payload))
    vids = next((i for i, (t, _) in enumerate(streams) if t == b"vids"),
                None)
    if vids is not None:
        want = b"%02d" % vids
        strf = streams[vids][1]
        frames = [(sid, f) for sid, f in frames if sid == want]
    else:
        strf = None  # header-less test AVIs: keep every frame chunk
    out = []
    for _sid, f in frames:
        if f[:2] in (b"\xff\xd8", b"BM"):
            out.append(f)
        elif strf is not None and len(strf) >= 40:
            # raw DIB bits: prepend BITMAPFILEHEADER + the strf header
            # (incl. any palette) -> a self-contained BMP payload
            off = 14 + len(strf)
            out.append(b"BM" + struct.pack("<IHHI", off + len(f),
                                           0, 0, off) + strf + f)
        else:
            raise NotImplementedError(
                "AVI baseline extracts MJPEG/DIB frame streams only "
                f"(frame magic {f[:2]!r}, no vids strf header)")
    return out


def _video_frames(payload: bytes) -> "list[bytes] | None":
    """Real-container frame extraction behind sample_frames: MJPEG/DIB
    AVI chunks pass through as-is (each is decode_rgb-readable); GIF
    frames re-encode as BMP payloads (same seam). None = not a known
    video container."""
    frames = _avi_frames(payload)
    if frames is not None:
        return frames
    gif = _gif_frames(payload)
    if gif is not None:
        return [_encode_bmp(rgb) for _left, _top, rgb in gif]
    return None


def _decode_tiff(payload: bytes) -> "np.ndarray | None":
    """Uncompressed baseline TIFF -> (h, w, 3) uint8 RGB, pure Python:
    II/MM byte order, first-IFD tag walk, chunky 8-bit gray/RGB(A)
    strips. None = not a TIFF; NotImplementedError = TIFF outside the
    baseline (compressed, planar, tiled, non-8-bit)."""
    if len(payload) < 8 or payload[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    bo = "<" if payload[:2] == b"II" else ">"
    ifd_off = struct.unpack_from(bo + "I", payload, 4)[0]
    n_tags = struct.unpack_from(bo + "H", payload, ifd_off)[0]
    type_size = {1: 1, 3: 2, 4: 4}
    tags = {}
    for i in range(n_tags):
        off = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(bo + "HHI", payload, off)
        if typ not in type_size:  # RATIONAL etc. — not needed here
            continue
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        total = type_size[typ] * count
        vo = off + 8 if total <= 4 else struct.unpack_from(
            bo + "I", payload, off + 8)[0]
        tags[tag] = struct.unpack_from(bo + str(count) + fmt, payload, vo)
    try:
        w, h = tags[256][0], tags[257][0]
        offsets, counts = tags[273], tags[279]
    except KeyError as e:
        raise ValueError(f"TIFF missing required tag {e}") from None
    compression = tags.get(259, (1,))[0]
    spp = tags.get(277, (1,))[0]
    bits = tags.get(258, (8,) * spp)
    planar = tags.get(284, (1,))[0]
    if compression != 1 or planar != 1 or any(b != 8 for b in bits) \
            or spp not in (1, 3, 4):
        raise NotImplementedError(
            "TIFF baseline decodes uncompressed chunky 8-bit gray/RGB(A)"
            f" only (compression={compression}, planar={planar}, "
            f"bits={bits}, spp={spp})")
    raw = b"".join(payload[o:o + c] for o, c in zip(offsets, counts))
    if len(raw) < w * h * spp:
        raise ValueError("TIFF strip data short")
    px = np.frombuffer(raw, np.uint8, w * h * spp).reshape(h, w, spp)
    if spp == 1:
        if tags.get(262, (1,))[0] == 0:  # WhiteIsZero
            px = 255 - px
        return np.repeat(px, 3, axis=2).copy()
    return px[:, :, :3].copy()


def _decode_wav(payload: bytes) -> "np.ndarray | None":
    """RIFF/WAVE PCM -> int16 samples (channel-interleaved flat array,
    matching the soundfile path's reshape(-1)). 16-bit PCM passes
    through; 8-bit unsigned, 24/32-bit PCM, and 32-bit IEEE float are
    normalized to int16 (top-16-bits / clipped-scale), so every
    downstream stat sees one sample contract."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, fmt_off, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], struct.unpack_from(
            "<I", payload, pos + 4)[0]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
            fmt_off = pos + 8  # start of the fmt chunk DATA
        elif cid == b"data":
            data = payload[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise NotImplementedError("WAV missing fmt/data chunk")
    audio_format, _ch, _rate, _bps, _align, bits = fmt
    if audio_format == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the real format is the sub-format
        # GUID's first two bytes, 24 bytes into the fmt chunk data —
        # use the offset the chunk walk recorded (a find() over the
        # whole payload can land on decoy b'fmt ' bytes inside an
        # earlier LIST/JUNK chunk and misresolve the format)
        ext = fmt_off + 24
        if ext + 2 > len(payload):
            raise ValueError("WAV extensible fmt chunk truncated")
        audio_format = struct.unpack_from("<H", payload, ext)[0]
    if audio_format == 1 and bits == 16:
        return np.frombuffer(data[:len(data) & ~1], dtype="<i2").copy()
    if audio_format == 1 and bits == 8:  # unsigned midpoint-128
        u = np.frombuffer(data, dtype=np.uint8).astype(np.int16)
        return ((u - 128) << 8).astype(np.int16)
    if audio_format == 1 and bits == 24:
        n = len(data) // 3
        b3 = np.frombuffer(data, np.uint8, n * 3).reshape(n, 3)
        # top 16 of the little-endian 24-bit word
        return (b3[:, 1].astype(np.int16)
                | (b3[:, 2].astype(np.int16) << 8)).astype(np.int16)
    if audio_format == 1 and bits == 32:
        i32 = np.frombuffer(data[:len(data) & ~3], dtype="<i4")
        return (i32 >> 16).astype(np.int16)
    if audio_format == 3 and bits == 32:  # IEEE float in [-1, 1]
        f = np.frombuffer(data[:len(data) & ~3], dtype="<f4")
        return np.clip(np.round(f.astype(np.float64) * 32767.0),
                       -32768, 32767).astype(np.int16)
    raise NotImplementedError(
        f"WAV baseline decodes PCM 8/16/24/32-bit and float32 only "
        f"(format={audio_format}, bits={bits})")


def decode_rgb(payload: bytes) -> "np.ndarray":
    """Image decode -> (h, w, 3) uint8.

    TIXM payloads (the deterministic in-container fake: body bytes tile
    the pixel grid) decode natively, as do REAL baseline formats —
    24-bit BMP, binary PPM, 8-bit non-interlaced PNG (stdlib-zlib
    inflate + scanline unfilter), baseline sequential JPEG (SOF0/SOF1
    Huffman, vectorized IDCT), GIF87a/89a (LZW + palette + interlace),
    and uncompressed chunky TIFF — via the pure-Python parsers above
    (no image lib needed). Other foreign payloads (WebP, progressive
    JPEG, exotic PNG/TIFF shapes) decode through Pillow WHEN it is
    importable — the seam is this one function; every operator above
    it is unchanged. In this container no image lib ships, so those
    raise NotImplementedError naming the boundary (the documented
    contract: feed a baseline format or install Pillow)."""
    if payload is None:  # before the lib gate: a null payload is a null
        raise NotImplementedError("empty payload")  # payload, not a
    hdr = unpack_header(payload)                    # missing dependency
    if hdr is not None and hdr["codec"] in ("rgb8", "jpg", "png"):
        w, h = hdr["width"], hdr["height"]
        body = np.frombuffer(hdr["body"], dtype=np.uint8)
        need = w * h * 3
        reps = int(np.ceil(need / max(body.size, 1)))
        return np.tile(body, reps)[:need].reshape(h, w, 3)
    for baseline in (_decode_bmp, _decode_ppm, _decode_png, _decode_jpeg,
                     _decode_gif, _decode_tiff):
        try:
            img = baseline(payload)
        except NotImplementedError:
            raise
        except Exception as e:  # truncated/corrupt: P7 degrade, not crash
            raise NotImplementedError(
                f"corrupt baseline image payload: {e}") from None
        if img is not None:
            return img
    try:
        import io

        from PIL import Image
    except ImportError:
        raise NotImplementedError(
            "real image decoding needs an image lib (Pillow, not in this "
            "container); the deterministic TIXM fake is the only "
            "in-container codec") from None
    try:
        img = Image.open(io.BytesIO(payload)).convert("RGB")
    except Exception as e:  # corrupt/unsupported: quarantine upstream
        raise NotImplementedError(f"undecodable payload: {e}") from None
    return np.asarray(img, dtype=np.uint8)


def decode_pcm(payload: bytes) -> "np.ndarray":
    """Audio decode -> int16 PCM samples. TIXM payloads decode natively,
    as do REAL RIFF/WAVE 16-bit PCM bytes via the pure-Python parser
    (no audio lib needed); other foreign payloads (FLAC/OGG) go through
    soundfile when importable — same seam contract as decode_rgb."""
    if payload is None:  # see decode_rgb: null payload != missing lib
        raise NotImplementedError("empty payload")
    hdr = unpack_header(payload)
    if hdr is not None and hdr["codec"] in ("pcm", "wav", "flac"):
        return np.frombuffer(hdr["body"], dtype="<i2")
    try:
        pcm = _decode_wav(payload)
    except NotImplementedError:
        raise
    except Exception as e:  # truncated/corrupt: P7 degrade, not crash
        raise NotImplementedError(
            f"corrupt baseline audio payload: {e}") from None
    if pcm is not None:
        return pcm
    try:
        import io

        import soundfile as sf
    except ImportError:
        raise NotImplementedError(
            "real audio decoding needs an audio lib (soundfile, not in "
            "this container); the deterministic TIXM fake is the only "
            "in-container codec") from None
    try:
        data, _sr = sf.read(io.BytesIO(payload), dtype="int16")
    except Exception as e:
        raise NotImplementedError(f"undecodable payload: {e}") from None
    return np.asarray(data, dtype="<i2").reshape(-1)


# --- synthesis (deterministic; no external data) ----------------------------

def synthesize_media(docs: DataFrame, kind: str = "image",
                     id_col: str = "doc_id") -> DataFrame:
    """Derive a deterministic media table from any id-bearing table —
    payload bytes are a seeded function of doc_id only."""
    kinds = {"image": ("rgb8", 1), "audio": ("pcm", 0),
             "video": ("rgb8", 8)}
    if kind not in kinds:
        raise ValueError(f"kind must be one of {sorted(kinds)}")
    codec, frames = kinds[kind]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "kind": [], "payload": [], "meta": []}
            for doc_id in pdf["_id"].to_numpy():
                if kind == "audio":
                    sr, w, h, nf = 16000, 0, 0, 0
                    # linear fn of (doc_id, i): deterministic and
                    # SQL-expressible like the image body
                    body = ((((int(doc_id) * 13 + np.arange(1600) * 11)
                              % 6001) - 3000)
                            .astype("<i2").tobytes())
                else:
                    sr = 0
                    w, h = 8 + int(doc_id) % 24, 8 + int(doc_id) % 16
                    nf = frames
                    # body bytes are a LINEAR function of (doc_id, i) —
                    # deterministic AND SQL-expressible, so decode-derived
                    # features have an exact DuckDB oracle
                    body = (((int(doc_id) * 31 + np.arange(256) * 7) % 256)
                            .astype(np.uint8).tobytes())
                out["doc_id"].append(int(doc_id))
                out["kind"].append(kind)
                out["payload"].append(pack_media(codec, w, h, nf, sr, body))
                out["meta"].append({"width": w, "height": h, "n_frames": nf,
                                    "sample_rate": sr, "codec": codec})
            yield pd.DataFrame(out)

    return (docs.select(F.col(id_col).cast("long").alias("_id"))
            .mapInPandas(gen, MEDIA_SCHEMA))


# --- operators (the real Spark-side plumbing) -------------------------------

def probe_dimensions(payload: bytes) -> "tuple[int, int] | None":
    """Header-only (width, height) for every real baseline image format
    — parses a few header bytes, never the pixel data, so metadata over
    100 TB of media costs a handful of byte reads per row. Covers BMP,
    PPM, PNG, GIF (screen descriptor), TIFF, and JPEG (ANY SOFn,
    including progressive streams the decode baseline rejects). None =
    unrecognized."""
    try:
        if len(payload) >= 26 and payload[:2] == b"BM":
            hdr_size = struct.unpack_from("<I", payload, 14)[0]
            if hdr_size == 12:  # OS/2 BITMAPCOREHEADER: 16-bit dims
                w, h = struct.unpack_from("<HH", payload, 18)
                return w, h
            if hdr_size < 40:   # unknown pre-BITMAPINFOHEADER variant
                return None
            w, h = struct.unpack_from("<ii", payload, 18)
            return w, abs(h)
        if payload[:2] in (b"P6", b"P5"):
            # shared bounds-checked parser (a truncated header raises
            # ValueError -> None; an unguarded scan here once hung)
            vals, _pos = _ppm_header(payload, 2)
            return vals[0], vals[1]
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            w, h = struct.unpack_from(">II", payload, 16)
            return w, h
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack_from("<HH", payload, 6)
            return w, h
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            bo = "<" if payload[:2] == b"II" else ">"
            ifd = struct.unpack_from(bo + "I", payload, 4)[0]
            n = struct.unpack_from(bo + "H", payload, ifd)[0]
            dims = {}
            for i in range(n):
                off = ifd + 2 + 12 * i
                tag, typ, _cnt = struct.unpack_from(bo + "HHI",
                                                    payload, off)
                if tag in (256, 257) and typ in (3, 4):
                    fmt = "H" if typ == 3 else "I"
                    dims[tag] = struct.unpack_from(bo + fmt, payload,
                                                   off + 8)[0]
            if 256 in dims and 257 in dims:
                return dims[256], dims[257]
            return None
        if payload[:2] == b"\xff\xd8":
            pos = 2
            while pos + 4 <= len(payload):
                if payload[pos] != 0xFF:
                    return None
                marker = payload[pos + 1]
                if marker in (0xFF, 0xD8) or 0xD0 <= marker <= 0xD9:
                    pos += 1 if marker == 0xFF else 2
                    continue
                ln = struct.unpack_from(">H", payload, pos + 2)[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8,
                                                             0xCC):
                    h, w = struct.unpack_from(">HH", payload, pos + 5)
                    return w, h
                pos += 2 + ln
    except Exception:
        return None
    return None


def media_metadata(media: DataFrame) -> DataFrame:
    """Validate payload headers against the typed meta column; quarantine
    mismatches (≙ P7 per-doc failure isolation). TIXM headers and real
    baseline formats both probe header-only (probe_dimensions) — pure
    narrow map, no pixel decode."""
    def check(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "kind": [], "ok": [], "width": [],
                    "height": [], "n_bytes": []}
            for doc_id, kind, payload, meta in zip(
                    pdf["doc_id"], pdf["kind"], pdf["payload"], pdf["meta"]):
                raw = bytes(payload) if payload is not None else None
                hdr = unpack_header(raw)
                if hdr is not None:
                    ok = (hdr["width"] == meta["width"]
                          and hdr["height"] == meta["height"])
                    w, h = hdr["width"], hdr["height"]
                elif raw and (dims := probe_dimensions(raw)) is not None:
                    w, h = dims
                    ok = meta is None or (meta["width"] == w
                                          and meta["height"] == h)
                else:
                    ok, w, h = False, -1, -1
                rows["doc_id"].append(doc_id)
                rows["kind"].append(kind)
                rows["ok"].append(ok)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_bytes"].append(len(raw) if raw is not None else 0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        check, "doc_id long, kind string, ok boolean, width int, "
               "height int, n_bytes long")


IMAGE_FEATURE_DIM = 12


def image_features(media: DataFrame) -> DataFrame:
    """(doc_id, feature ARRAY<FLOAT>) — decode + fixed-width feature
    vector (channel means/stds + 2x2 spatial means over the fake decode).
    The batch shape/UDF signature is exactly what a CLIP-style extractor
    uses; ``decode_rgb`` is the decode seam."""
    def feat(batches):
        import pandas as pd

        for pdf in batches:
            ids, feats = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    # accumulate in float64 (float32 partial sums drift
                    # ~1e-2 over a few hundred pixels); the emitted
                    # vector is float32, standard embedding width
                    img = decode_rgb(bytes(payload)).astype(np.float64)
                except NotImplementedError:
                    continue  # quarantine path: undecodable -> dropped
                h, w, _ = img.shape
                halves_h, halves_w = max(h // 2, 1), max(w // 2, 1)
                quads = [img[:halves_h, :halves_w], img[:halves_h, halves_w:],
                         img[halves_h:, :halves_w], img[halves_h:, halves_w:]]
                v = np.concatenate([
                    img.mean(axis=(0, 1)), img.std(axis=(0, 1)),
                    np.array([q.mean() if q.size else 0.0 for q in quads]),
                    np.array([float(w), float(h)]),
                ]).astype(np.float32)
                ids.append(doc_id)
                feats.append(v.tolist())
            yield pd.DataFrame({"doc_id": ids, "feature": feats})

    return media.mapInPandas(feat, "doc_id long, feature array<float>")


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Re-encode every image payload at (width, height) — nearest-neighbor
    over the fake decode; Pillow's resize slots in here unchanged."""
    def rs(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "payload": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    img = decode_rgb(bytes(payload))
                except NotImplementedError:
                    continue
                ys = (np.arange(height) * img.shape[0] // height)
                xs = (np.arange(width) * img.shape[1] // width)
                small = img[ys][:, xs]
                out["doc_id"].append(doc_id)
                out["payload"].append(pack_media(
                    "rgb8", width, height, 0, 0, small.tobytes()))
            yield pd.DataFrame(out)

    return media.mapInPandas(rs, "doc_id long, payload binary")


def sample_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """Video frame sampling: one output row per kept frame index —
    (doc_id, frame_idx, payload). TIXM frame bytes are sliced from the
    fake container; REAL MJPEG/DIB AVI chunks pass through as-is and
    GIF frames re-encode as BMP — every emitted payload is readable by
    the same decode_rgb seam. ffmpeg seek-decode slots in for codecs
    beyond the baseline (undecodable payloads are skipped, the P7
    degrade)."""
    def fs(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "payload": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                hdr = unpack_header(raw)
                if hdr is None:
                    try:
                        real = _video_frames(raw)
                    except Exception:
                        real = None  # corrupt/foreign: P7 degrade
                    if real:
                        for fi in range(0, len(real), every):
                            out["doc_id"].append(doc_id)
                            out["frame_idx"].append(fi)
                            out["payload"].append(real[fi])
                    continue
                if hdr["n_frames"] <= 0:
                    continue
                for fi in range(0, hdr["n_frames"], every):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(fi)
                    out["payload"].append(pack_media(
                        hdr["codec"], hdr["width"], hdr["height"], 1, 0,
                        hdr["body"]))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        fs, "doc_id long, frame_idx int, payload binary")


def audio_stats(media: DataFrame) -> DataFrame:
    """(doc_id, n_samples, rms, peak) over the decoded PCM — the audio
    analogue of quality_score."""
    def st(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "n_samples": [], "rms": [], "peak": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    pcm = decode_pcm(bytes(payload)).astype(np.float64)
                except NotImplementedError:
                    continue
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(pcm.size)
                rows["rms"].append(
                    float(np.sqrt((pcm ** 2).mean())) if pcm.size else 0.0)
                rows["peak"].append(
                    float(np.abs(pcm).max()) if pcm.size else 0.0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        st, "doc_id long, n_samples long, rms double, peak double")
