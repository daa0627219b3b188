"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side machinery (schemas, partition-friendly batch shapes,
mapInPandas signatures) is real and tested. Decoders in ``MEDIA_DECODERS``:
the IMAGE path really decodes PNG (pure stdlib: zlib inflate + scanline
unfilter) AND baseline JPEG (canonical Huffman + dequantize + float IDCT
+ YCbCr→RGB, restart markers, ≤2× subsampling), the AUDIO path really
decodes PCM WAV (RIFF parse + sample statistics), and the VIDEO path
really decodes animated GIF (variable-width LZW + even frame sampling)
and really parses MP4/MOV (ISO-BMFF box tree), WebM (EBML), and MP3
(frame-header walk) container metadata — dimensions, duration, bitrate,
frame/track counts — without sample decode. Each falls back to a
deterministic sha256 fake for codecs not in this container
(WebP/AVIF/…). Swapping a fake for a real decoder (PIL/ffmpeg) changes
no Spark code.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

MEDIA_SCHEMA = Ty.StructType([
    Ty.StructField("media_id", Ty.LongType(), False),
    Ty.StructField("kind", Ty.StringType(), False),  # image | audio | video
    Ty.StructField("mime", Ty.StringType(), True),
    Ty.StructField("payload", Ty.BinaryType(), True),
    Ty.StructField("meta", Ty.MapType(Ty.StringType(), Ty.StringType()), True),
])

FEATURE_SCHEMA = Ty.StructType([
    Ty.StructField("media_id", Ty.LongType(), False),
    Ty.StructField("kind", Ty.StringType(), False),
    Ty.StructField("n_bytes", Ty.IntegerType(), True),
    Ty.StructField("digest", Ty.StringType(), True),
    Ty.StructField("feature", Ty.ArrayType(Ty.FloatType()), True),
])


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes, want_pixels: bool = False) -> dict | None:
    """REAL pure-stdlib PNG decode (zlib inflate + scanline unfilter) —
    no codec library needed. Supports the common web shapes: 8-bit
    greyscale / RGB / RGBA, non-interlaced. Returns
    {width, height, channels, means: [per-channel pixel mean 0-1]} or
    None when the payload is not a decodable PNG (caller falls back).
    ``want_pixels=True`` adds ``pixels``: the full unfiltered buffer as
    row-major channel-interleaved bytes (what :func:`box_resize`
    consumes)."""
    import struct
    import zlib

    if len(payload) < 8 or payload[:8] != PNG_MAGIC:
        return None
    pos, idat, hdr = 8, [], None
    try:
        while pos + 8 <= len(payload):
            (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
                payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + length]
            if ctype == b"IHDR":
                hdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat.append(data)
            elif ctype == b"IEND":
                break
            pos += 12 + length  # length + type + data + crc
        if hdr is None or not idat:
            return None
        width, height, depth, color, _comp, _filt, interlace = hdr
        n_chan = {0: 1, 2: 3, 6: 4}.get(color)
        if n_chan is None or depth != 8 or interlace != 0:
            return None  # exotic shape — fall back to the hash stub
        raw = zlib.decompress(b"".join(idat))
        stride = width * n_chan
        if len(raw) != height * (stride + 1):
            return None
        sums = [0] * n_chan
        buf = bytearray() if want_pixels else None
        prev = bytearray(stride)
        for y in range(height):
            off = y * (stride + 1)
            ftype, line = raw[off], bytearray(raw[off + 1:off + 1 + stride])
            for x in range(stride):
                a = line[x - n_chan] if x >= n_chan else 0
                b = prev[x]
                c = prev[x - n_chan] if x >= n_chan else 0
                if ftype == 1:
                    line[x] = (line[x] + a) & 0xFF
                elif ftype == 2:
                    line[x] = (line[x] + b) & 0xFF
                elif ftype == 3:
                    line[x] = (line[x] + (a + b) // 2) & 0xFF
                elif ftype == 4:
                    line[x] = (line[x] + _paeth(a, b, c)) & 0xFF
            for x in range(stride):
                sums[x % n_chan] += line[x]
            if buf is not None:
                buf += line
            prev = line
        n_px = width * height
        out = {
            "width": width, "height": height, "channels": n_chan,
            "means": [s / (255.0 * n_px) for s in sums],
        }
        if buf is not None:
            out["pixels"] = bytes(buf)
        return out
    except Exception:
        return None  # corrupt payload — not an image we can decode


JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_huff(bits: bytes, vals: bytes) -> dict:
    """Canonical JPEG Huffman table: {(code_length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _jpeg_idct_2d(block: list[float]) -> list[float]:
    """8×8 inverse DCT (separable, float) — the spec's Annex A formula."""
    import math

    c = [[(math.sqrt(0.5) if u == 0 else 1.0)
          * math.cos((2 * x + 1) * u * math.pi / 16.0)
          for u in range(8)] for x in range(8)]
    tmp = [0.0] * 64
    for y in range(8):  # rows
        row = block[y * 8:y * 8 + 8]
        for x in range(8):
            tmp[y * 8 + x] = 0.5 * sum(c[x][u] * row[u] for u in range(8))
    out = [0.0] * 64
    for x in range(8):  # columns
        col = [tmp[y * 8 + x] for y in range(8)]
        for y in range(8):
            out[y * 8 + x] = 0.5 * sum(c[y][v] * col[v] for v in range(8))
    return out


class _JpegBits:
    """MSB-first bit reader over one entropy-coded segment (already
    unstuffed — 0xFF00 collapsed to 0xFF by the scanner)."""

    def __init__(self, data: bytes):
        self.data, self.pos, self.bit = data, 0, 0

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            if self.pos >= len(self.data):
                raise EOFError("entropy data exhausted")
            v = (v << 1) | ((self.data[self.pos] >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit, self.pos = 0, self.pos + 1
        return v

    def decode(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    """DC/AC magnitude-category decode (spec F.2.2.1 EXTEND)."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes, want_pixels: bool = False) -> dict | None:
    """REAL pure-stdlib baseline-JPEG decode (canonical Huffman +
    dequantize + 8×8 float IDCT + YCbCr→RGB) — the same no-codec-library
    pattern as :func:`decode_png`/:func:`decode_gif`. Supports the
    dominant web shape: baseline sequential DCT (SOF0), 8-bit, 1 or 3
    components, any sampling factors ≤ 2 (4:4:4 / 4:2:2 / 4:2:0, chroma
    replicated on output), restart markers. Progressive (SOF2),
    arithmetic coding, 12-bit, and CMYK return None (caller falls back).
    Returns {width, height, channels, means} (+ ``pixels``: row-major
    interleaved bytes) like the PNG path."""
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    try:
        qt: dict[int, list[int]] = {}
        huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
        sof = None
        restart = 0
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker == 0xD8:
                pos += 2
                continue
            (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
            body = payload[pos + 4:pos + 2 + seglen]
            if marker == 0xDB:  # DQT (possibly several per segment)
                b = 0
                while b < len(body):
                    pq, tq = body[b] >> 4, body[b] & 0xF
                    if pq != 0:
                        return None  # 16-bit quant — not baseline-web
                    qt[tq] = list(body[b + 1:b + 65])
                    b += 65
            elif marker == 0xC0:  # SOF0 baseline
                prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), \
                    body[5]
                if prec != 8 or nc not in (1, 3):
                    return None
                comps = []
                for i in range(nc):
                    cid, samp, tq = body[6 + 3 * i:9 + 3 * i]
                    comps.append(
                        {"id": cid, "h": samp >> 4, "v": samp & 0xF,
                         "tq": tq})
                sof = {"w": w, "h": h, "comps": comps}
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-baseline frame — fall back
            elif marker == 0xC4:  # DHT
                b = 0
                while b < len(body):
                    tc, th = body[b] >> 4, body[b] & 0xF
                    bits = body[b + 1:b + 17]
                    n = sum(bits)
                    huff[(tc, th)] = _jpeg_huff(
                        bits, body[b + 17:b + 17 + n])
                    b += 17 + n
            elif marker == 0xDD:  # DRI
                (restart,) = struct.unpack(">H", body[:2])
            elif marker == 0xDA:  # SOS — entropy data follows
                if sof is None:
                    return None
                ns = body[0]
                scan = {}
                for i in range(ns):
                    cs, tables = body[1 + 2 * i], body[2 + 2 * i]
                    scan[cs] = (tables >> 4, tables & 0xF)
                data_start = pos + 2 + seglen
                return _jpeg_scan(payload, data_start, sof, scan, qt,
                                  huff, restart, want_pixels)
            pos += 2 + seglen
        return None
    except Exception:
        return None  # corrupt/unsupported payload — caller falls back


def _jpeg_scan(payload, start, sof, scan, qt, huff, restart, want_pixels):
    """Entropy-decode the (single, interleaved) baseline scan and
    assemble the image."""
    # split entropy data into restart segments, unstuffing 0xFF00
    segs, cur, p = [], bytearray(), start
    while p < len(payload):
        b = payload[p]
        if b != 0xFF:
            cur.append(b)
            p += 1
            continue
        nxt = payload[p + 1] if p + 1 < len(payload) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            p += 2
        elif 0xD0 <= nxt <= 0xD7:  # RSTn: new segment, predictors reset
            segs.append(bytes(cur))
            cur = bytearray()
            p += 2
        else:  # EOI or next marker: scan ends
            break
    segs.append(bytes(cur))

    w, h, comps = sof["w"], sof["h"], sof["comps"]
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    if max_h > 2 or max_v > 2 or any(
            c["h"] < 1 or c["v"] < 1 for c in comps):
        return None
    mcux = (w + 8 * max_h - 1) // (8 * max_h)
    mcuy = (h + 8 * max_v - 1) // (8 * max_v)
    # per-component plane in block-grid units
    planes = []
    for c in comps:
        c["bw"], c["bh"] = mcux * c["h"], mcuy * c["v"]
        planes.append(bytearray(c["bw"] * 8 * c["bh"] * 8))

    seg_i = 0
    bits = _JpegBits(segs[0])
    pred = [0] * len(comps)
    n_mcu = mcux * mcuy
    for m in range(n_mcu):
        if restart and m and m % restart == 0:
            seg_i += 1
            bits = _JpegBits(segs[seg_i])
            pred = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, c in enumerate(comps):
            dc_t, ac_t = (huff[(0, scan[c["id"]][0])],
                          huff[(1, scan[c["id"]][1])])
            q = qt[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coef = [0.0] * 64
                    t = bits.decode(dc_t)
                    diff = _jpeg_extend(bits.read(t), t) if t else 0
                    pred[ci] += diff
                    coef[0] = pred[ci] * q[0]
                    k = 1
                    while k < 64:
                        rs = bits.decode(ac_t)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            return None
                        coef[JPEG_ZIGZAG[k]] = \
                            _jpeg_extend(bits.read(s), s) * q[k]
                        k += 1
                    px = _jpeg_idct_2d(coef)
                    # place the 8×8 block into the component plane
                    plane, stride = planes[ci], c["bw"] * 8
                    ox = (mx * c["h"] + bx) * 8
                    oy = (my * c["v"] + by) * 8
                    for yy in range(8):
                        row = (oy + yy) * stride + ox
                        for xx in range(8):
                            v = int(round(px[yy * 8 + xx])) + 128
                            plane[row + xx] = 0 if v < 0 else (
                                255 if v > 255 else v)

    # assemble to full-res interleaved output (chroma replicated)
    nch = len(comps)
    sums = [0] * nch
    buf = bytearray() if want_pixels else None
    strides = [c["bw"] * 8 for c in comps]
    for y in range(h):
        for x in range(w):
            if nch == 1:
                val = planes[0][y * strides[0] + x]
                sums[0] += val
                if buf is not None:
                    buf.append(val)
            else:
                smp = []
                for ci, c in enumerate(comps):
                    sy = y * c["v"] // max_v
                    sx = x * c["h"] // max_h
                    smp.append(planes[ci][sy * strides[ci] + sx])
                yv, cb, cr = smp
                r = int(round(yv + 1.402 * (cr - 128)))
                g = int(round(yv - 0.344136 * (cb - 128)
                              - 0.714136 * (cr - 128)))
                b = int(round(yv + 1.772 * (cb - 128)))
                rgb = [min(255, max(0, v)) for v in (r, g, b)]
                for c3 in range(3):
                    sums[c3] += rgb[c3]
                if buf is not None:
                    buf.extend(rgb)
    n_px = w * h
    out = {
        "width": w, "height": h, "channels": nch,
        "means": [s / (255.0 * n_px) for s in sums],
    }
    if buf is not None:
        out["pixels"] = bytes(buf)
    return out


def _decode_image(payload: bytes) -> list[float]:
    """Image feature vector: REAL PNG or baseline-JPEG decode
    (dimensions + channel means) when the payload is one of those;
    deterministic sha256 fake otherwise (WebP/AVIF codecs are not in
    this container — swapping in PIL here changes no Spark code). 8 dims
    either way, so the Spark schema/batch shape is payload-independent."""
    png = decode_png(payload) or decode_jpeg(payload)
    if png is not None:
        means = (png["means"] + [0.0] * 4)[:4]
        return [
            min(png["width"] / 65535.0, 1.0),
            min(png["height"] / 65535.0, 1.0),
            *means,
            png["channels"] / 4.0,
            1.0,  # "decoded for real" flag
        ]
    d = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in d[:8]]


def decode_wav(payload: bytes) -> dict | None:
    """REAL pure-stdlib WAV (RIFF/PCM) decode: header parse + 16-bit or
    8-bit PCM sample statistics. Returns {rate, channels, n_samples,
    mean_abs, peak} (amplitudes normalized to 0-1) or None when the
    payload is not decodable PCM WAV (caller falls back)."""
    import struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    try:
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(payload):
            cid, clen = payload[pos:pos + 4], struct.unpack(
                "<I", payload[pos + 4:pos + 8])[0]
            body = payload[pos + 8:pos + 8 + clen]
            if cid == b"fmt ":
                fmt = struct.unpack("<HHIIHH", body[:16])
            elif cid == b"data":
                data = body
            pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            return None
        audio_fmt, channels, rate, _bps, _align, bits = fmt
        if audio_fmt != 1 or bits not in (8, 16) or channels < 1:
            return None  # non-PCM / exotic depth — fall back
        if bits == 16:
            n = len(data) // 2
            samples = struct.unpack(f"<{n}h", data[:n * 2])
            scale = 32768.0
        else:
            samples = [s - 128 for s in data]
            scale = 128.0
        if not samples:
            return None
        absvals = [abs(s) for s in samples]
        return {
            "rate": rate, "channels": channels,
            "n_samples": len(samples) // channels,
            "mean_abs": sum(absvals) / (len(absvals) * scale),
            "peak": max(absvals) / scale,
        }
    except Exception:
        return None


# MPEG-1/2/2.5 Layer III tables (index → kbps / Hz); index 0 and 15 of
# the bitrate table are free-format/forbidden — treated as not-an-MP3
_MP3_BITRATE = {
    1: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
        160, 192, 224, 256, 320, 0],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
        96, 112, 128, 144, 160, 0],
}
_MP3_RATE = {1: [44100, 48000, 32000], 2: [22050, 24000, 16000],
             25: [11025, 12000, 8000]}


def _mp3_frame(payload: bytes, off: int) -> tuple[int, int, int] | None:
    """Parse one Layer-III frame header at ``off``; returns
    (frame_length, samplerate, bitrate_kbps) or None."""
    if off + 4 > len(payload):
        return None
    h = int.from_bytes(payload[off:off + 4], "big")
    if h >> 21 != 0x7FF:
        return None
    version_bits = (h >> 19) & 3   # 0=2.5, 2=MPEG2, 3=MPEG1
    layer_bits = (h >> 17) & 3     # 1 = Layer III
    if version_bits == 1 or layer_bits != 1:
        return None
    version = {0: 25, 2: 2, 3: 1}[version_bits]
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if sr_idx == 3:
        return None
    bitrate = _MP3_BITRATE[1 if version == 1 else 2][br_idx]
    if bitrate == 0:
        return None
    rate = _MP3_RATE[version][sr_idx]
    padding = (h >> 9) & 1
    coef = 144 if version == 1 else 72  # bytes-per-bit-per-Hz, Layer III
    return coef * bitrate * 1000 // rate + padding, rate, bitrate


def build_mp3(n_frames: int, bitrate_idx: int = 9,
              samplerate_idx: int = 0) -> bytes:
    """Assemble a valid CBR MPEG-1 Layer III frame sequence (headers +
    zero payload) behind an ID3v2 tag — the deterministic audio-fixture
    generator, invertible by :func:`parse_mp3`."""
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
    h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
        | (bitrate_idx << 12) | (samplerate_idx << 10)
    header = h.to_bytes(4, "big")
    flen = (144 * _MP3_BITRATE[1][bitrate_idx] * 1000
            // _MP3_RATE[1][samplerate_idx])
    return id3 + (header + b"\x00" * (flen - 4)) * n_frames


def parse_mp3(payload: bytes) -> dict | None:
    """REAL MP3 (MPEG Layer III) frame-header parse, pure stdlib: skips
    a leading ID3v2 tag (syncsafe size), syncs on the first valid frame
    header, then walks CBR/VBR frames by their computed lengths. At
    least two consecutive valid frames are required — a lone sync
    pattern in random bytes parses as noise, not audio. No sample
    decode (needs the codec); returns {rate, bitrate_kbps, n_frames,
    duration_s, channels}."""
    n = len(payload)
    off = 0
    if payload[:3] == b"ID3" and n >= 10:
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        off = 10 + size
    first = _mp3_frame(payload, off)
    if first is None:
        return None
    h = int.from_bytes(payload[off:off + 4], "big")
    channels = 1 if (h >> 6) & 3 == 3 else 2
    version_bits = (h >> 19) & 3
    samples_per_frame = 1152 if version_bits == 3 else 576
    frames, rate, kbps_sum = 0, first[1], 0
    while True:
        got = _mp3_frame(payload, off)
        if got is None or got[1] != rate:
            break
        frames += 1
        kbps_sum += got[2]
        off += got[0]
    if frames < 2:
        return None
    return {
        "rate": rate,
        "bitrate_kbps": kbps_sum // frames,  # mean — exact for CBR
        "n_frames": frames,
        "duration_s": frames * samples_per_frame / rate,
        "channels": channels,
    }


def _decode_audio(payload: bytes) -> list[float]:
    """Audio feature vector: REAL PCM WAV decode (rate, duration,
    amplitude stats) when the payload is RIFF/WAVE; REAL frame-header
    parse for MP3 (rate, duration, bitrate — samples not decoded,
    flagged by the 0.5 marker in dim 3); deterministic sha256 fake
    otherwise. 4 dims every way — payload-independent batch shape."""
    wav = decode_wav(payload)
    if wav is not None:
        return [
            min(wav["rate"] / 96000.0, 1.0),
            min(wav["n_samples"] / (wav["rate"] * 60.0), 1.0),  # ≤1 min cap
            wav["mean_abs"],
            wav["peak"],
        ]
    mp3 = parse_mp3(payload)
    if mp3 is not None:
        return [
            min(mp3["rate"] / 96000.0, 1.0),
            min(mp3["duration_s"] / 60.0, 1.0),
            min(mp3["bitrate_kbps"] / 320.0, 1.0),
            0.5,  # "frame metadata real, samples not decoded"
        ]
    d = hashlib.sha256(b"audio:" + payload).digest()
    return [b / 255.0 for b in d[:4]]


def _gif_lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> list[int] | None:
    """Variable-width GIF LZW decode (LSB-first bit packing, CLEAR/END
    codes, 12-bit table cap) → palette-index list, or None on corruption."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: dict[int, tuple[int, ...]] = {i: (i,) for i in range(clear)}
    next_code = end + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    bitpos, nbits = 0, len(data) * 8
    while True:
        if bitpos + code_size > nbits:
            break
        code = 0
        for k in range(code_size):
            code |= ((data[bitpos >> 3] >> (bitpos & 7)) & 1) << k
            bitpos += 1
        if code == end:
            break
        if code == clear:
            table = {i: (i,) for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if prev is None:
            entry = table.get(code)
            if entry is None:
                return None
        elif code in table:
            entry = table[code]
            table[next_code] = prev + (entry[0],)
            next_code += 1
        elif code == next_code:  # the KwKwK self-reference case
            entry = prev + (prev[0],)
            table[next_code] = entry
            next_code += 1
        else:
            return None
        if next_code == (1 << code_size) and code_size < 12:
            code_size += 1
        out.extend(entry)
        prev = entry
        if len(out) >= max_pixels:
            break
    return out


GIF_MAGICS = (b"GIF87a", b"GIF89a")


def decode_gif(payload: bytes, sample_frames: int = 4) -> dict | None:
    """REAL pure-stdlib GIF decode + frame sampler (same spirit as the PNG
    path: no codec library). Parses the logical screen + color tables,
    walks every image descriptor (skipping extension blocks), LZW-decodes
    up to ``sample_frames`` frames evenly spaced across the animation, and
    maps palette indices through the active color table. Returns
    {width, height, n_frames, means: [r, g, b] over sampled frames, 0-1}
    or None when the payload is not a decodable GIF (caller falls back).
    Interlaced frames need no row reordering: channel MEANS are
    pixel-order-independent."""
    import struct

    if len(payload) < 13 or payload[:6] not in GIF_MAGICS:
        return None
    try:
        width, height = struct.unpack("<HH", payload[6:10])
        flags = payload[10]
        pos, gct = 13, None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = payload[pos:pos + 3 * n]
            pos += 3 * n
        frames = []  # (fw, fh, color_table, min_code_size, lzw_bytes)
        while pos < len(payload):
            b0 = payload[pos]
            if b0 == 0x3B:  # trailer
                break
            if b0 == 0x21:  # extension: label byte + data sub-blocks
                pos += 2
                while payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
            elif b0 == 0x2C:  # image descriptor
                _fx, _fy, fw, fh, ff = struct.unpack(
                    "<HHHHB", payload[pos + 1:pos + 10])
                pos += 10
                lct = None
                if ff & 0x80:
                    n = 2 << (ff & 7)
                    lct = payload[pos:pos + 3 * n]
                    pos += 3 * n
                mcs = payload[pos]
                pos += 1
                chunks = []
                while payload[pos] != 0:
                    ln = payload[pos]
                    chunks.append(payload[pos + 1:pos + 1 + ln])
                    pos += 1 + ln
                pos += 1
                frames.append((fw, fh, lct or gct, mcs, b"".join(chunks)))
            else:
                return None
        if not frames:
            return None
        n_frames = len(frames)
        k = min(sample_frames, n_frames)
        idxs = sorted({round(i * (n_frames - 1) / (k - 1)) for i in range(k)}) \
            if k > 1 else [0]
        sums, n_px = [0, 0, 0], 0
        for fi in idxs:
            fw, fh, ct, mcs, data = frames[fi]
            if ct is None or not (0 < fw * fh):
                return None
            px = _gif_lzw_decode(mcs, data, fw * fh)
            if px is None or len(px) < fw * fh:
                return None
            for p in px[:fw * fh]:
                base = 3 * p
                if base + 3 > len(ct):
                    return None
                sums[0] += ct[base]
                sums[1] += ct[base + 1]
                sums[2] += ct[base + 2]
            n_px += fw * fh
        return {
            "width": width, "height": height, "n_frames": n_frames,
            "means": [s / (255.0 * n_px) for s in sums],
        }
    except Exception:
        return None  # corrupt payload — not a GIF we can decode


def build_mp4(width: int, height: int, n_frames: int,
              timescale: int = 1000, frame_delta: int = 40,
              brand: bytes = b"isom") -> bytes:
    """Assemble a minimal but structurally valid ISO-BMFF container
    (ftyp + moov[mvhd + video trak[tkhd + mdia[hdlr + minf/stbl/stts]]]
    + mdat) — the deterministic fixture generator for the video path,
    byte-exactly invertible by :func:`parse_mp4`."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def full(btype: bytes, payload: bytes) -> bytes:
        return box(btype, b"\x00\x00\x00\x00" + payload)

    duration = n_frames * frame_delta
    ftyp = box(b"ftyp", brand + struct.pack(">I", 512) + b"isomiso2")
    mvhd = full(b"mvhd", struct.pack(
        ">IIII", 0, 0, timescale, duration) + b"\x00" * 80)
    tkhd = full(b"tkhd", struct.pack(">III", 0, 0, 1) + b"\x00" * 4
                + struct.pack(">I", duration) + b"\x00" * 8
                + struct.pack(">hhhh", 0, 0, 0, 0) + b"\x00" * 36
                + struct.pack(">II", width << 16, height << 16))
    hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 13)
    stts = full(b"stts", struct.pack(">I", 1)
                + struct.pack(">II", n_frames, frame_delta))
    mdia = box(b"mdia", hdlr + box(b"minf", box(b"stbl", stts)))
    moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
    return ftyp + moov + box(b"mdat", b"\x00" * 16)


def parse_mp4(payload: bytes) -> dict | None:
    """REAL ISO-BMFF (MP4/MOV) container-metadata parse, pure stdlib.

    Walks the length-prefixed box tree: ``ftyp`` (brand), ``moov/mvhd``
    (timescale+duration), per-``trak`` ``tkhd`` (16.16-fixed w/h) and
    ``mdia/hdlr`` (handler — counts video tracks), and the video trak's
    ``stbl/stts`` (sample count = frame count). No pixel decode — sample
    DATA needs the codec (H.264 etc.), which this container lacks; the
    structural metadata is what a catalog/stats pass needs anyway.

    Returns ``{width, height, n_frames, duration_s, n_tracks,
    n_video_tracks, brand}`` or None if the payload is not BMFF.
    """
    n = len(payload)
    if n < 16 or payload[4:8] != b"ftyp":
        return None

    def boxes(lo: int, hi: int):
        off = lo
        while off + 8 <= hi:
            size = int.from_bytes(payload[off:off + 4], "big")
            btype = payload[off + 4:off + 8]
            body = off + 8
            if size == 1:
                if off + 16 > hi:
                    return
                size = int.from_bytes(payload[off + 8:off + 16], "big")
                body = off + 16
            elif size == 0:
                size = hi - off
            if size < 8 or off + size > hi:
                return  # truncated/corrupt: stop, keep what we have
            yield btype, body, off + size
            off += size

    out = {"width": 0, "height": 0, "n_frames": 0, "duration_s": 0.0,
           "n_tracks": 0, "n_video_tracks": 0,
           "brand": payload[8:12].decode("latin-1")}

    def full_box(body: int) -> tuple[int, int]:
        # (version, first-field offset) of a "full box" header
        return payload[body], body + 4

    def walk_trak(lo: int, hi: int) -> None:
        out["n_tracks"] += 1
        is_video, frames, w, h = False, 0, 0, 0
        for t, b, e in boxes(lo, hi):
            if t == b"tkhd" and e - b >= 4:
                ver, p = full_box(b)
                # skip ids/times/reserved/matrix to the 16.16 w/h pair
                p += (32 if ver == 1 else 20) + 8 + 2 + 2 + 2 + 2 + 36
                if p + 8 <= e:
                    w = int.from_bytes(payload[p:p + 4], "big") >> 16
                    h = int.from_bytes(payload[p + 4:p + 8], "big") >> 16
            elif t == b"mdia":
                for t2, b2, e2 in boxes(b, e):
                    if t2 == b"hdlr" and e2 - b2 >= 12:
                        is_video = payload[b2 + 8:b2 + 12] == b"vide"
                    elif t2 == b"minf":
                        for t3, b3, e3 in boxes(b2, e2):
                            if t3 != b"stbl":
                                continue
                            for t4, b4, e4 in boxes(b3, e3):
                                # size guard like tkhd/mvhd: an empty-
                                # payload stts box ending at end-of-
                                # payload would make full_box index one
                                # past the buffer (IndexError on a
                                # malformed upload instead of the
                                # documented fallback)
                                if t4 == b"stts" and e4 - b4 >= 8:
                                    _, p = full_box(b4)
                                    cnt = int.from_bytes(
                                        payload[p:p + 4], "big")
                                    p += 4
                                    for _i in range(cnt):
                                        if p + 8 > e4:
                                            break
                                        frames += int.from_bytes(
                                            payload[p:p + 4], "big")
                                        p += 8
        if is_video:
            video.append((frames, w, h))

    video: list[tuple[int, int, int]] = []  # (frames, w, h) per video trak
    seen_moov = False
    for t, b, e in boxes(0, n):
        if t != b"moov":
            continue
        seen_moov = True
        for t2, b2, e2 in boxes(b, e):
            if t2 == b"mvhd" and e2 - b2 >= 4:
                ver, p = full_box(b2)
                if ver == 1:
                    ts = int.from_bytes(payload[p + 16:p + 20], "big")
                    dur = int.from_bytes(payload[p + 20:p + 28], "big")
                else:
                    ts = int.from_bytes(payload[p + 8:p + 12], "big")
                    dur = int.from_bytes(payload[p + 12:p + 16], "big")
                if ts:
                    out["duration_s"] = dur / ts
            elif t2 == b"trak":
                walk_trak(b2, e2)
    # (frames, w, h) come from ONE track, never mixed across tracks: the
    # video track with the most frames (earlier tracks win ties), or, when
    # no video track has frames, the first one with dimensions
    out["n_video_tracks"] = len(video)
    best = max(video, key=lambda v: v[0], default=(0, 0, 0))
    if not best[0]:
        best = next((v for v in video if v[1] and v[2]), (0, 0, 0))
    out["n_frames"], out["width"], out["height"] = best
    return out if seen_moov else None


def _ebml_vint(payload: bytes, off: int, keep_marker: bool) -> tuple[int, int] | None:
    """Decode one EBML variable-width integer at ``off``; returns
    (value, next_offset). IDs keep the length-marker bit, sizes drop it."""
    if off >= len(payload):
        return None
    first = payload[off]
    if first == 0:
        return None
    length = 8 - first.bit_length() + 1
    if off + length > len(payload):
        return None
    raw = int.from_bytes(payload[off:off + length], "big")
    if not keep_marker:
        raw -= 1 << (7 * length)
    return raw, off + length


def parse_webm(payload: bytes) -> dict | None:
    """REAL WebM/Matroska (EBML) container-metadata parse, pure stdlib.

    Walks EBML elements (vint id + vint size): Segment > Info
    (TimestampScale, Duration) and Segment > Tracks > TrackEntry > Video
    (PixelWidth/PixelHeight); counts TrackEntry and Video elements. Same
    no-pixel-decode contract as :func:`parse_mp4`.
    """
    import struct

    if not payload.startswith(b"\x1aE\xdf\xa3"):
        return None
    out = {"width": 0, "height": 0, "duration_s": 0.0,
           "n_tracks": 0, "n_video_tracks": 0}
    ts_scale = 1_000_000  # Matroska default: ns per timestamp unit
    dur_units = 0.0

    def elements(lo: int, hi: int):
        off = lo
        while off < hi:
            got = _ebml_vint(payload, off, keep_marker=True)
            if got is None:
                return
            eid, off2 = got
            got = _ebml_vint(payload, off2, keep_marker=False)
            if got is None:
                return
            size, body = got
            # all-ones size vint = Matroska UNKNOWN size (standard for
            # live/streamed Segments): the element extends to the end
            # of the enclosing scope, and nothing can follow it there —
            # treating it as a huge concrete size aborted the walk and
            # returned all-zero metadata for real streamed WebM
            if size == (1 << (7 * (body - off2))) - 1:
                yield eid, body, hi
                return
            if body + size > hi:
                return
            yield eid, body, body + size
            off = body + size

    def uint(b: int, e: int) -> int:
        return int.from_bytes(payload[b:e], "big")

    def flt(b: int, e: int) -> float:
        if e - b == 4:
            return struct.unpack(">f", payload[b:e])[0]
        if e - b == 8:
            return struct.unpack(">d", payload[b:e])[0]
        return 0.0

    for eid, b, e in elements(0, len(payload)):
        if eid != 0x18538067:  # Segment
            continue
        for eid2, b2, e2 in elements(b, e):
            if eid2 == 0x1549A966:  # Info
                for eid3, b3, e3 in elements(b2, e2):
                    if eid3 == 0x2AD7B1:  # TimestampScale
                        ts_scale = uint(b3, e3) or ts_scale
                    elif eid3 == 0x4489:  # Duration (float, ts units)
                        dur_units = flt(b3, e3)
            elif eid2 == 0x1654AE6B:  # Tracks
                for eid3, b3, e3 in elements(b2, e2):
                    if eid3 != 0xAE:  # TrackEntry
                        continue
                    out["n_tracks"] += 1
                    for eid4, b4, e4 in elements(b3, e3):
                        if eid4 != 0xE0:  # Video
                            continue
                        out["n_video_tracks"] += 1
                        for eid5, b5, e5 in elements(b4, e4):
                            if eid5 == 0xB0:
                                out["width"] = uint(b5, e5)
                            elif eid5 == 0xBA:
                                out["height"] = uint(b5, e5)
    out["duration_s"] = dur_units * ts_scale / 1e9
    return out


def _decode_video(payload: bytes) -> list[float]:
    """Video feature vector: REAL GIF decode + frame sampling (dimensions,
    frame count, sampled-frame channel means) when the payload is GIF;
    REAL container-metadata parse for MP4/MOV (box tree) and WebM (EBML)
    — dimensions, frame/track counts, duration, flagged by a 0.5 marker
    in dim 5 since pixel content is NOT decoded (sample data needs the
    codec; swapping in ffmpeg changes no Spark code); deterministic
    sha256 fake otherwise. 6 dims every way — payload-independent batch
    shape."""
    gif = decode_gif(payload)
    if gif is not None:
        return [
            min(gif["width"] / 65535.0, 1.0),
            min(gif["height"] / 65535.0, 1.0),
            min(gif["n_frames"] / 255.0, 1.0),
            *gif["means"],
        ]
    meta = parse_mp4(payload) or parse_webm(payload)
    if meta is not None:
        return [
            min(meta["width"] / 65535.0, 1.0),
            min(meta["height"] / 65535.0, 1.0),
            min(meta.get("n_frames", 0) / 65535.0, 1.0),
            min(meta["duration_s"] / 3600.0, 1.0),
            min(meta["n_tracks"] / 16.0, 1.0),
            0.5,  # "container metadata real, pixels not decoded"
        ]
    d = hashlib.sha256(b"video:" + payload).digest()
    return [b / 255.0 for b in d[:6]]


MEDIA_DECODERS = {
    "image": _decode_image,  # REAL for PNG; hash fake for other codecs
    "audio": _decode_audio,  # REAL WAV decode + MP3 frame-header parse
    "video": _decode_video,  # REAL GIF decode + MP4/WebM metadata parse
}


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads. The payload
    column stays off the shuffle: output carries only small features."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if payload is None:
                    rows.append((int(mid), kind, None, None, None))
                    continue
                payload = bytes(payload)
                dec = MEDIA_DECODERS.get(kind)
                feat = dec(payload) if dec else None
                rows.append((
                    int(mid), kind, len(payload),
                    hashlib.sha256(payload).hexdigest(), feat,
                ))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "n_bytes", "digest", "feature"]
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, schema=FEATURE_SCHEMA
    )


def box_resize(
    pixels: bytes, width: int, height: int, channels: int,
    out_w: int, out_h: int,
) -> list[float]:
    """EXACT area-average (box) resample to ``out_h × out_w``, RGB.

    Integer-exact weighting for ANY scale ratio: scale the y axis by
    ``out_h`` and the x axis by ``out_w`` so every source-pixel /
    output-cell overlap is an integer (`min((y+1)·oh, (j+1)·H) −
    max(y·oh, j·H)`); each cell's total weight is then exactly ``H·W``,
    so one float division per output value at the end — deterministic
    across platforms, no accumulated rounding. Greyscale is replicated
    to RGB, alpha is dropped. Returns ``out_h·out_w·3`` floats in 0-1,
    row-major, channel-interleaved."""
    if width <= 0 or height <= 0 or out_w <= 0 or out_h <= 0:
        raise ValueError("dimensions must be positive")

    def spans(n_in: int, n_out: int) -> list[list[tuple[int, int]]]:
        # per output index: the (source index, integer overlap) pairs
        out = []
        for j in range(n_out):
            lo, hi = j * n_in, (j + 1) * n_in  # cell bounds × n_out scale
            first, last = lo // n_out, (hi - 1) // n_out
            out.append([
                (y, min(hi, (y + 1) * n_out) - max(lo, y * n_out))
                for y in range(first, last + 1)
            ])
        return out

    ys, xs = spans(height, out_h), spans(width, out_w)
    rgb = (0, 1, 2) if channels >= 3 else (0, 0, 0)
    den = float(height * width) * 255.0
    vals: list[float] = []
    for yspan in ys:
        for xspan in xs:
            acc = [0, 0, 0]
            for y, wy in yspan:
                row_off = y * width * channels
                for x, wx in xspan:
                    off = row_off + x * channels
                    w = wy * wx
                    for c in range(3):
                        acc[c] += w * pixels[off + rgb[c]]
            vals.extend(a / den for a in acc)
    return vals


RESIZE_SCHEMA = Ty.StructType([
    Ty.StructField("media_id", Ty.LongType(), False),
    Ty.StructField("kind", Ty.StringType(), False),
    Ty.StructField("src_w", Ty.IntegerType(), False),
    Ty.StructField("src_h", Ty.IntegerType(), False),
    Ty.StructField("pixels", Ty.ArrayType(Ty.DoubleType()), False),
    Ty.StructField("decoded", Ty.BooleanType(), False),
])


def _resize_payload(
    payload: bytes, out_h: int, out_w: int
) -> tuple[int, int, list[float], bool]:
    """PNG and baseline-JPEG payloads get the REAL decode + exact box
    resample; anything else gets a deterministic sha256-derived fake of
    the SAME shape (``out_h·out_w·3`` floats, digest bytes cycled) so
    the Spark schema and batch shape are payload-independent — the
    extract_features convention. ``src_w/src_h`` are ``-1`` sentinels on
    the fallback (driver rows ship NULL-free columns)."""
    dec = decode_png(payload, want_pixels=True) \
        or decode_jpeg(payload, want_pixels=True)
    if dec is not None:
        return (
            dec["width"], dec["height"],
            box_resize(dec["pixels"], dec["width"], dec["height"],
                       dec["channels"], out_w, out_h),
            True,
        )
    d = hashlib.sha256(payload).digest()
    return (-1, -1,
            [d[i % 32] / 255.0 for i in range(out_h * out_w * 3)], False)


def resize_images(
    media: DataFrame, out_h: int = 8, out_w: int = 8
) -> DataFrame:
    """Arrow-batched thumbnail resize over binary payloads — the
    'resize' leg of the multimodal plumbing (decode / feature-extract /
    resize / frame-sample). Same scale shape as
    :func:`extract_features`: the payload never crosses a shuffle, the
    output is a fixed ``out_h·out_w·3`` vector per row, and swapping
    the pure-stdlib PNG path for PIL/ffmpeg changes no Spark code."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, kind, payload in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"]):
                if payload is None:
                    rows.append((int(mid), kind, -1, -1, [], False))
                    continue
                w, h, px, real = _resize_payload(
                    bytes(payload), out_h, out_w)
                rows.append((int(mid), kind, w, h, px, real))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "src_w", "src_h",
                         "pixels", "decoded"])

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, schema=RESIZE_SCHEMA)


def synthetic_media(spark, n: int = 50, seed: int = 42) -> DataFrame:
    """Deterministic fixture media table."""
    import random

    rng = random.Random(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes(rng.randrange(256) for _ in range(64 + (i % 5) * 16))
        rows.append((i, kind, f"application/x-fixture-{kind}", payload,
                     {"w": str(64 + i), "h": str(48 + i)} if kind == "image" else {}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
