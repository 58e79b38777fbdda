"""Pure-stdlib PNG codec for the multimodal decode branch.

The reference's ``DecodeImage`` actually decodes bytes
(/root/reference/ppocr/data/imaug/operators.py:30-68 — cv2.imdecode with the
None-on-bad-bytes contract). cv2/PIL are not in this container, so this
module vendors the subset of PNG (ISO/IEC 15948) a deterministic CI decode
branch needs: signature + chunk walk, IHDR, PLTE, concatenated IDAT zlib
inflate, and all five row filters (None/Sub/Up/Average/Paeth —
``unfilter`` below, which realpdf.py's PNG /Predictor decode reuses with
the predictor's colors as bpp). Supported: bit
depth 8, color types 0/2/3/4/6, non-interlaced. Anything else (16-bit,
Adam7, malformed chunks, truncated/corrupt zlib) returns None and the
caller degrades to the stub — decode failures never raise.

CRC fields are NOT validated (lenient, like cv2's default path); structure
and inflate errors are what reject a payload.
"""

from __future__ import annotations

import struct
import zlib
from typing import List, Optional, Tuple

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# samples per pixel by color type (bit depth 8 only)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes):
    """PNG bytes → (width, height, color_type, rows) or None.

    ``rows`` is a list of ``bytearray`` of UNFILTERED raw samples (bit
    depth 8; palette indices for color type 3 are resolved through PLTE to
    RGB, so rows for type 3 carry 3 bytes/pixel like type 2)."""
    if not payload or not payload.startswith(PNG_SIG):
        return None
    pos = len(PNG_SIG)
    n = len(payload)
    width = height = None
    color_type = None
    plte: Optional[bytes] = None
    idat: List[bytes] = []
    seen_end = False
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        dstart = pos + 8
        dend = dstart + length
        if dend + 4 > n:
            return None  # truncated chunk
        data = payload[dstart:dend]
        pos = dend + 4  # skip CRC (lenient)
        if ctype == b"IHDR":
            if length != 13:
                return None
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if (
                depth != 8
                or color_type not in _CHANNELS
                or comp != 0
                or filt != 0
                or interlace != 0  # Adam7 → degrade
                or width == 0
                or height == 0
                or width * height > 1 << 24  # CI bound: refuse huge dims
            ):
                return None
        elif ctype == b"PLTE":
            if length % 3:
                return None
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            seen_end = True
            break
    if width is None or not idat or not seen_end:
        return None
    if color_type == 3 and plte is None:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bpp = _CHANNELS[color_type]
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        return None
    flat = unfilter(raw, bpp, stride)
    if flat is None:
        return None
    rows = [flat[y * stride : (y + 1) * stride] for y in range(height)]
    if color_type == 3:
        resolved = []
        pmax = len(plte) // 3
        for cur in rows:
            out = bytearray(width * 3)
            for x in range(width):
                idx = cur[x]
                if idx >= pmax:
                    return None  # index beyond palette
                out[3 * x : 3 * x + 3] = plte[3 * idx : 3 * idx + 3]
            resolved.append(out)
        rows = resolved
        color_type = 2
    return width, height, color_type, rows


def unfilter(data: bytes, bpp: int, stride: int) -> Optional[bytearray]:
    """Undo PNG row filters (ISO/IEC 15948 §9): ``data`` is rows of one
    filter-type byte + ``stride`` filtered bytes, ``bpp`` bytes per pixel.
    → the unfiltered rows concatenated; None when the length is not a
    whole number of rows or a row type is > 4."""
    if len(data) % (stride + 1):
        return None
    prior = bytearray(stride)
    out = bytearray()
    for r0 in range(0, len(data), stride + 1):
        ft = data[r0]
        row = bytearray(data[r0 + 1 : r0 + 1 + stride])
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prior[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prior[i]
                c = prior[i - bpp] if i >= bpp else 0
                pv = a + b - c
                pa, pb, pc = abs(pv - a), abs(pv - b), abs(pv - c)
                row[i] = (row[i] + (a if pa <= pb and pa <= pc else b if pb <= pc else c)) & 0xFF
        elif ft != 0:  # 0 = None; anything else is not a PNG filter type
            return None
        out += row
        prior = row
    return out


def channel_means(decoded) -> Tuple[float, ...]:
    """(width, height, color_type, rows) → per-channel mean sample values
    (floats in 0..255; exact integer-sum division)."""
    width, height, color_type, rows = decoded
    ch = _CHANNELS[color_type]
    sums = [0] * ch
    for cur in rows:
        for i, v in enumerate(cur):
            sums[i % ch] += v
    npx = width * height
    return tuple(s / npx for s in sums)


def encode_png(
    width: int,
    height: int,
    rgb: Tuple[int, int, int],
    filter_cycle: bool = True,
) -> bytes:
    """Minimal RGB8 PNG encoder for deterministic test/synthetic payloads:
    a solid-``rgb`` image whose row filters CYCLE through all five types
    when ``filter_cycle`` (row y uses filter y % 5), so a decoder that
    mis-inverts any filter reconstructs the wrong pixels — the decode
    proof the solid color makes SQL-mirrorable."""
    r, g, b = rgb
    stride = width * 3
    prev = bytearray(stride)
    plain = bytes((r, g, b)) * width
    out = bytearray()
    for y in range(height):
        ft = y % 5 if filter_cycle else 0
        cur = bytearray(plain)
        enc = bytearray(stride)
        if ft == 0:
            enc = cur
        elif ft == 1:  # Sub
            for i in range(stride):
                left = cur[i - 3] if i >= 3 else 0
                enc[i] = (cur[i] - left) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                enc[i] = (cur[i] - prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = cur[i - 3] if i >= 3 else 0
                enc[i] = (cur[i] - ((left + prev[i]) >> 1)) & 0xFF
        else:  # Paeth
            for i in range(stride):
                a = cur[i - 3] if i >= 3 else 0
                bb = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = bb
                else:
                    pr = c
                enc[i] = (cur[i] - pr) & 0xFF
        out.append(ft)
        out += enc
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + chunk(b"IEND", b"")
    )
